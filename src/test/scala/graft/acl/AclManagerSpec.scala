package graft.acl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.{AclEntryScope, AclEntryType, FsAction}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{Fs, TestTree}

class AclManagerSpec extends AnyFunSuite with BeforeAndAfterEach {

  implicit val conf: Configuration = {
    val c = new Configuration(false)
    c.set("fs.acl.impl", classOf[InMemAclFileSystem].getName)
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    c
  }

  override def beforeEach(): Unit = InMemAclFileSystem.clear()

  private def newAclRoot(prefix: String): String = {
    val local = TestTree.newRoot(prefix) // file:/tmp/...
    "acl://" + local.stripPrefix("file:")
  }

  test("getAclEntry maps scope/permission/level") {
    val e = AclManager.getAclEntry(FsPermission("user", "rwx", "DEFAULT", "grantee1"))
    assert(e.getType == AclEntryType.USER)
    assert(e.getScope == AclEntryScope.DEFAULT)
    assert(e.getPermission == FsAction.ALL)
    assert(e.getName == "grantee1")
    val o = AclManager.getAclEntry(FsPermission("other", "r-x", "ACCESS"))
    assert(o.getType == AclEntryType.OTHER && o.getPermission == FsAction.READ_EXECUTE)
  }

  test("modifyFolderAcl: ACCESS everywhere, DEFAULT on folders only") {
    val root = newAclRoot("acl_mod")
    TestTree.create(root, 42, width = 2)
    AclManager.modifyFolderAcl(root, FsPermission("user", "rwx", "ACCESS", "g1"))
    val tree = Fs.list(root)
    val file = tree.find(!_.isDirectory).get
    val dir = tree.find(_.isDirectory).get
    val fileAcl = AclManager.getAclEntries(file.path).getEntries.asScala
    val dirAcl = AclManager.getAclEntries(dir.path).getEntries.asScala
    assert(fileAcl.exists(e => e.getScope == AclEntryScope.ACCESS && e.getName == "g1"))
    assert(fileAcl.forall(_.getScope != AclEntryScope.DEFAULT))
    assert(dirAcl.exists(_.getScope == AclEntryScope.DEFAULT))
  }

  test("multi-entry modifyAcls applies all entries in ONE FS call per path") {
    val root = newAclRoot("acl_multi")
    TestTree.create(root, 7, width = 2)
    val paths = Fs.list(root).filter(!_.isDirectory).map(_.path).toIndexedSeq
    val perms = Seq(
      FsPermission("user", "rwx", "ACCESS", "alice"),
      FsPermission("group", "r-x", "ACCESS", "eng"),
      FsPermission("mask", "rwx", "ACCESS"))
    val res = AclManager.modifyAcls(paths, perms)
    assert(res.nonEmpty && res.forall(_.success))
    // the point of the overload: user+group+mask ride one
    // modifyAclEntries invocation per path — atomic per path, one RPC —
    // instead of one call per entry
    val calls = InMemAclFileSystem.modifyCalls.asScala.toList
    assert(calls.map(_._1).sorted == paths.map(p => new Path(p).toUri.getPath).sorted,
      s"expected exactly one FS call per path, got ${calls.map(_._1).sorted}")
    assert(calls.forall(_._2 == perms.size),
      s"each call must carry all ${perms.size} entries, got ${calls.map(_._2)}")
    // and all three entries landed
    val acl = AclManager.getAclEntries(paths.head).getEntries.asScala
    assert(Seq(AclEntryType.USER, AclEntryType.GROUP, AclEntryType.MASK)
      .forall(t => acl.exists(_.getType == t)), s"missing entry types in $acl")
  }

  test("modifyAcls reports a vanished path as a skipped success and makes no call on it") {
    val root = newAclRoot("acl_gone")
    TestTree.create(root, 3, width = 1)
    val paths = Fs.list(root).filter(!_.isDirectory).map(_.path).toIndexedSeq
    val gone = paths.head
    Fs.getFileSystem(conf, gone).delete(new Path(gone), false)
    val res = AclManager.modifyAcls(paths, FsPermission("user", "rwx", "ACCESS", "g1"))
    assert(res.map(_.path).sorted == paths.sorted && res.forall(_.success), res)
    val called = InMemAclFileSystem.modifyCalls.asScala.map(_._1).toSet
    assert(!called(new Path(gone).toUri.getPath), s"modifyAclEntries ran on the deleted $gone")
    assert(called == paths.tail.map(p => new Path(p).toUri.getPath).toSet)
  }

  test("multi-entry modifyFolderAcl batches per level set") {
    val root = newAclRoot("acl_multi_folder")
    TestTree.create(root, 5, width = 2)
    val perms = Seq(
      FsPermission("user", "rwx", "ACCESS", "alice"),
      FsPermission("group", "r-x", "ACCESS", "eng"))
    AclManager.modifyFolderAcl(root, perms)
    val tree = Fs.list(root)
    val nFolders = tree.count(_.isDirectory) + 1 // + root
    val nAll = tree.size + 1
    val calls = InMemAclFileSystem.modifyCalls.asScala.toList
    // one ACCESS call per element + one DEFAULT call per folder, each
    // carrying the full entry set
    assert(calls.size == nAll + nFolders, s"got ${calls.size} calls")
    assert(calls.forall(_._2 == perms.size), calls.map(_._2).toString)
    val dirAcl = AclManager.getAclEntries(tree.find(_.isDirectory).get.path)
      .getEntries.asScala
    assert(dirAcl.exists(e => e.getScope == AclEntryScope.DEFAULT && e.getName == "eng"))
  }

  test("distributed folder ACL records the same state as the driver variant") {
    implicit val spark = graft.SparkTestSession.spark
    import scala.jdk.CollectionConverters._
    val root = newAclRoot("acl_dist")
    TestTree.create(root, 9, width = 2)
    val perm = FsPermission("user", "rwx", "ACCESS", "gd")
    AclManager.modifyFolderAcl(root, perm)
    def snapshot() = InMemAclFileSystem.acls.asScala.toMap
      .map { case (k, v) => k -> v.map(_.toString).sorted }
    val driverState = snapshot()
    InMemAclFileSystem.clear()
    val beforeIds = spark.sparkContext.getPersistentRDDs.keySet
    AclManager.modifyFolderAclDistributed(root, perm, conf)
    // side-effect-only caller must release every retry-loop pin
    // (ADVICE r2: two datasets leaked per call, one row per path).
    // Compare RDD ID SETS, not counts: the ContextCleaner may
    // concurrently unpersist GC'd RDDs from earlier suites, so a
    // count-equality assert flakes under suite churn — only NEW
    // surviving ids are leaks of THIS call.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- beforeIds
    assert(leaked.isEmpty,
      s"modifyFolderAclDistributed leaked persisted datasets: rdd ids $leaked")
    val distState = snapshot()
    assert(distState.nonEmpty)
    assert(distState == driverState,
      s"only-driver=${(driverState.keySet -- distState.keySet).take(3)} " +
        s"only-dist=${(distState.keySet -- driverState.keySet).take(3)}")
  }

  test("distributed ACL retry re-derives the failed subset and heals transient errors") {
    implicit val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val c = new Configuration(false)
    c.set("fs.flakyacl.impl", classOf[FlakyAclFileSystem].getName)
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    val local = TestTree.newRoot("acl_flaky")
    TestTree.create(local, 3, width = 1)(c)
    val paths = Fs.list(local)(c).map(e => "flakyacl://" + e.path.stripPrefix("file:"))
    FlakyAclFileSystem.clear(); InMemAclFileSystem.clear()
    val res = AclManager.modifyAclsDistributed(
      spark.createDataset(paths.toIndexedSeq), FsPermission("user", "rwx", "ACCESS", "gf"), c)
      .collect()
    assert(res.length == paths.length && res.forall(_.success))
    // every path failed its first attempt — so the left_semi retry path ran
    assert(FlakyAclFileSystem.failedOnce.size == paths.length)
    paths.foreach { p =>
      assert(InMemAclFileSystem.acls.containsKey(new Path(p).toUri.getPath), p)
    }
  }

  test("clearFolderAcl removes all entries") {
    val root = newAclRoot("acl_clear")
    TestTree.create(root, 7, width = 1)
    AclManager.modifyFolderAcl(root, FsPermission("user", "rwx", "ACCESS", "g2"))
    AclManager.clearFolderAcl(root)
    Fs.list(root).foreach { e =>
      assert(AclManager.getAclEntries(e.path).getEntries.isEmpty, e.path)
    }
  }

  test("planIdealAcls: exact match wins, else parent inheritance") {
    val mk = (n: String) => Seq(AclManager.getAclEntry(FsPermission("user", "rwx", "ACCESS", n)))
    val srcAcls = Map("" -> mk("root"), "a" -> mk("a"), "a/b" -> mk("ab"))
    val plan = AclManager.planIdealAcls(srcAcls, Seq("a", "a/b", "a/b/c", "x", "x/y")).toMap
    assert(plan("a") == mk("a"))
    assert(plan("a/b") == mk("ab"))
    assert(plan("a/b/c") == mk("ab")) // inherited from a/b
    assert(plan("x") == mk("root"))   // no source match → root
    assert(plan("x/y") == mk("root"))
  }

  test("synchronizeAcls copies folder ACLs and converts DEFAULT→ACCESS on files") {
    val src = newAclRoot("acl_sync_src")
    val trg = newAclRoot("acl_sync_trg")
    TestTree.create(src, 42, width = 2)
    TestTree.create(trg, 42, width = 2) // same shape
    // extra target-only subtree → should inherit from its parent chain
    val trgFs = Fs.getFileSystem(conf, trg)
    trgFs.mkdirs(new Path(s"$trg/top0/extra"))
    val f = trgFs.create(new Path(s"$trg/top0/extra/file.txt"), true); f.write(1); f.close()

    AclManager.modifyFolderAcl(src, FsPermission("user", "rwx", "ACCESS", "owner1"))
    AclManager.modifyFolderAcl(src, FsPermission("group", "r-x", "DEFAULT", "team1"))

    AclManager.synchronizeAcls(trg, src)

    // corresponding folder got the source folder's entries
    val dirAcl = AclManager.getAclEntries(s"$trg/top0").getEntries.asScala
    assert(dirAcl.exists(e => e.getName == "owner1" && e.getScope == AclEntryScope.ACCESS))
    assert(dirAcl.exists(e => e.getName == "team1" && e.getScope == AclEntryScope.DEFAULT))
    // target-only folder inherited its parent's ACL
    val extraAcl = AclManager.getAclEntries(s"$trg/top0/extra").getEntries.asScala
    assert(extraAcl.exists(e => e.getName == "owner1"))
    // file got the DEFAULT entries converted to ACCESS
    val fileAcl = AclManager.getAclEntries(s"$trg/top0/extra/file.txt").getEntries.asScala
    assert(fileAcl.nonEmpty)
    assert(fileAcl.forall(_.getScope == AclEntryScope.ACCESS))
    assert(fileAcl.exists(_.getName == "team1"))
  }
}
