package graft.fs

import java.nio.charset.StandardCharsets
import java.util.concurrent.{FutureTask, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.SparkTestSession.withJobCount
import graft.acl.{AclManager, FsPermission}

class MoveCopyDeleteSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set(s"fs.${FlakyFileSystem.Scheme}.impl",
      classOf[FlakyFileSystem].getName)
    s
  }
  implicit lazy val conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def relSet(root: String) =
    Fs.list(root).map(e => (e.path.stripPrefix(root), e.isDirectory, e.byteSize)).toSet

  private def write(p: String, content: String): Unit = {
    val out = TestTree.fsFor(p).create(new Path(p), true)
    out.write(content.getBytes(StandardCharsets.UTF_8)); out.close()
  }

  test("distributed copyFolder replicates the tree's files") {
    val src = TestTree.newRoot("cp_src"); TestTree.create(src, 42)
    val trg = TestTree.newRoot("cp_trg")
    val res = DistributedExecution.copyFolder(src, trg)
    assert(res.nonEmpty && res.forall(_.success))
    val srcFiles = Fs.list(src).filter(!_.isDirectory)
      .map(e => (e.path.stripPrefix(src), e.byteSize)).toSet
    val trgFiles = Fs.list(trg).filter(!_.isDirectory)
      .map(e => (e.path.stripPrefix(trg), e.byteSize)).toSet
    assert(trgFiles == srcFiles)
  }

  test("copyFiles is idempotent (overwrite=true)") {
    val src = TestTree.newRoot("cp2_src"); TestTree.create(src, 1)
    val trg = TestTree.newRoot("cp2_trg")
    DistributedExecution.copyFolder(src, trg)
    val res2 = DistributedExecution.copyFolder(src, trg) // rerun
    assert(res2.forall(_.success))
  }

  test("movePaths renames files and repairs false negatives") {
    val root = TestTree.newRoot("mv_root"); TestTree.create(root, 3)
    val fs = TestTree.fsFor(root)
    val files = Fs.list(root).filter(!_.isDirectory).take(3)
    val pairs = files.map(e => Paths(e.path, e.path + ".moved")).toIndexedSeq
    val res = LocalExecution.movePaths(pairs)
    assert(res.forall(_.success))
    pairs.foreach { p =>
      assert(!fs.exists(new Path(p.sourcePath)))
      assert(fs.exists(new Path(p.targetPath)))
    }
  }

  /** What `body` throws, run on its own thread; fails the test when
    * `body` returns or is still running after `seconds`.
    */
  private def thrownWithin(seconds: Int)(body: => Any): Throwable = {
    val task = new FutureTask[Option[Throwable]](() =>
      try { body; None } catch { case t: Throwable => Some(t) })
    val thread = new Thread(task)
    thread.setDaemon(true)
    thread.start()
    task.get(seconds.toLong, TimeUnit.SECONDS).getOrElse(fail("the call returned without an error"))
  }

  test("driver form: a fatal error ends the call with its cause; an IOException is retried 5 times") {
    // (operator, how to make its one storage call per path throw)
    val ops: Seq[(String, Seq[String] => Any, (() => Throwable) => Unit)] = Seq(
      ("movePaths", ps => LocalExecution.movePaths(ps.map(p => Paths(p, p + ".moved"))),
        e => FlakyFileSystem.failRenamesOnto(_ => true, e)),
      ("deletePaths", ps => LocalExecution.deletePaths(ps), FlakyFileSystem.failDeletesWith),
      ("modifyAcls", ps => AclManager.modifyAcls(ps, FsPermission("user", "rwx", "ACCESS", "u1")),
        FlakyFileSystem.failAclsWith))
    val errors: Seq[(String, () => Throwable)] = Seq(
      "InterruptedException" -> (() => new InterruptedException("injected")),
      "LinkageError" -> (() => new LinkageError("injected")),
      "IOException" -> (() => new java.io.IOException("injected")))
    val failedRows = for ((opName, op, inject) <- ops; (errName, error) <- errors) yield {
      val root = TestTree.newRoot(s"policy_$opName")
      val paths = Seq("a", "b").map { n => write(s"$root/$n.txt", n); FlakyFileSystem.flaky(s"$root/$n.txt") }
      val made = new AtomicInteger()
      FlakyFileSystem.reset(0)
      inject(() => { made.incrementAndGet(); error() })
      val thrown = try thrownWithin(60)(op(paths)) finally FlakyFileSystem.reset(0)
      val causes = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null).toSeq
      val ok =
        if (errName == "IOException")
          thrown.isInstanceOf[IllegalStateException] && paths.forall(thrown.getMessage.contains) &&
            made.get == Retry.MaxAttempts * paths.size
        else causes.exists(c => c.getClass == error().getClass && c.getMessage == "injected")
      if (ok) None else Some(s"$opName/$errName: $thrown after ${made.get} calls")
    }
    assert(failedRows.flatten.isEmpty, failedRows.flatten.mkString("\n"))
  }

  test("moveFolderContent moves level-1 children and deletes source") {
    val src = TestTree.newRoot("mvf_src"); TestTree.create(src, 5)
    val trg = TestTree.newRoot("mvf_trg") + "/dest"
    val fs = TestTree.fsFor(src)
    val before = relSet(src)
    LocalExecution.moveFolderContent(src, trg)
    assert(!fs.exists(new Path(src)))
    assert(relSet(trg) == before)
  }

  test("moveFolderContent survives file:/// + trailing-slash URI spellings (ADVICE r1 high)") {
    val src0 = TestTree.newRoot("mvs_src"); TestTree.create(src0, 7)
    val trg0 = TestTree.newRoot("mvs_trg") + "/dest"
    // equivalent but differently-spelled URIs: a raw string replace on
    // listStatus output (file:/x) would miss these and self-rename
    val src = "file://" + src0.stripPrefix("file:") + "/"
    val trg = "file://" + trg0.stripPrefix("file:")
    val before = relSet(src0)
    val fs = TestTree.fsFor(src0)
    val res = LocalExecution.moveFolderContent(src, trg)
    assert(res.nonEmpty && res.forall(_.success))
    assert(!fs.exists(new Path(src0)))
    assert(relSet(trg0) == before)
  }

  test("moveFolderContent resume: leftover target twin cleared, no nesting") {
    val src = TestTree.newRoot("mvr_src"); TestTree.create(src, 5)
    val trg = TestTree.newRoot("mvr_trg") + "/dest"
    val fs = TestTree.fsFor(src)
    // simulate a crashed run: transaction open, target partially populated
    // with a stale twin of a still-unmoved child
    fs.mkdirs(new Path(trg))
    new SafetyFuse(fs, trg).startTransaction()
    val child = fs.listStatus(new Path(src)).head.getPath.getName
    fs.mkdirs(new Path(s"$trg/$child/stale"))
    val before = relSet(src)
    val res = LocalExecution.moveFolderContent(src, trg)
    assert(res.forall(_.success))
    // the child must land flat, not nested inside its stale twin
    assert(!fs.exists(new Path(s"$trg/$child/$child")))
    assert(!fs.exists(new Path(s"$trg/$child/stale")))
    assert(relSet(trg) == before)
  }

  test("moveFolderContent: a target clear whose first delete fails heals; children land un-nested") {
    val src = TestTree.newRoot("mvc_src"); TestTree.create(src, 5)
    val trg = TestTree.newRoot("mvc_trg")
    // the target holds a twin of every source child plus a stale file: a
    // twin left in place would swallow its child as a nested folder
    DistributedExecution.copyFolder(src, trg)
    write(s"$trg/stale.txt", "stale")
    val before = relSet(src)
    FlakyFileSystem.reset(0)
    FlakyFileSystem.failNextDeletes(1)
    val res =
      try LocalExecution.moveFolderContent(FlakyFileSystem.flaky(src), FlakyFileSystem.flaky(trg))
      finally FlakyFileSystem.reset(0)
    assert(res.nonEmpty && res.forall(_.success))
    assert(relSet(trg) == before)
  }

  test("moveFolderContent refuses unsafe move (empty source, non-empty target)") {
    val src = TestTree.newRoot("mvf2_src") // empty
    val trg = TestTree.newRoot("mvf2_trg"); TestTree.create(trg, 6)
    intercept[IllegalStateException] {
      LocalExecution.moveFolderContent(src, trg)
    }
  }

  test("deletePaths + deleteFolder(contentOnly)") {
    val root = TestTree.newRoot("del_root"); TestTree.create(root, 9)
    val fs = TestTree.fsFor(root)
    val res = LocalExecution.deleteFolder(root, deleteContentOnly = true)
    assert(res.forall(_.success))
    assert(fs.exists(new Path(root)))
    assert(fs.listStatus(new Path(root)).isEmpty)
    // deleting again (already absent children) is still success
    assert(LocalExecution.deletePaths(Seq(s"$root/ghost")).forall(_.success))
  }

  test("copyFolder survives caller URI spellings; self-copy is refused, not truncating") {
    val src0 = TestTree.newRoot("reb_src"); TestTree.create(src0, 31)
    val trg = TestTree.newRoot("reb_trg")
    // file:///abs + trailing slash: a raw String.replace would produce
    // target == source and the overwrite-copy would truncate every file
    val src = "file://" + src0.stripPrefix("file:") + "/"
    val res = DistributedExecution.copyFolder(src, trg)
    assert(res.nonEmpty && res.forall(_.success))
    val (m, e) = Delta.getDelta(src0, trg)
    assert(m.isEmpty && e.isEmpty, "rebased copy is not a faithful replica")
    // direct self-copy attempts fail per-file instead of destroying data
    val victim = Fs.list(src0).filter(!_.isDirectory).head
    intercept[IllegalStateException] {
      DistributedExecution.copyFiles(Seq(Paths(victim.path, victim.path)))
    }
    assert(Fs.list(src0).filter(_.path == victim.path).head.byteSize == victim.byteSize,
      "self-copy truncated the file")
  }

  test("moveFolderContent resumes after a crash that had moved every child") {
    val root = TestTree.newRoot("mvall")
    val fs = TestTree.fsFor(root)
    def touch(p: String): Unit = TestTree.touch(fs, p)
    // crashed AFTER all children moved, BEFORE source delete + fuse close:
    // source exists but is empty, target holds the content + open marker
    fs.mkdirs(new Path(s"$root/src"))
    touch(s"$root/trg/a.txt")
    new SafetyFuse(fs, s"$root/trg").startTransaction()
    val res = LocalExecution.moveFolderContent(s"$root/src", s"$root/trg")
    assert(res.isEmpty) // nothing left to move — but the run must COMPLETE
    assert(!fs.exists(new Path(s"$root/src")), "source folder not cleaned up on resume")
    assert(fs.exists(new Path(s"$root/trg/a.txt")))
    assert(!new SafetyFuse(fs, s"$root/trg").isInProgress(), "fuse left open")
  }

  test("moveFolderContent resume: source vanished after full move (crash before fuse close)") {
    val root = TestTree.newRoot("mvv")
    val fs = TestTree.fsFor(root)
    TestTree.touch(fs, s"$root/trg/a.txt")
    // crashed AFTER the source folder delete, BEFORE endTransaction:
    // marker open (recording the move's source), source gone entirely
    new SafetyFuse(fs, s"$root/trg").startTransaction(s"$root/src")
    val res = LocalExecution.moveFolderContent(s"$root/src", s"$root/trg")
    assert(res.isEmpty)
    assert(fs.exists(new Path(s"$root/trg/a.txt")), "resume damaged the moved content")
    assert(!new SafetyFuse(fs, s"$root/trg").isInProgress(), "fuse left open")
    // a fresh move into the now-closed target takes the normal path again
    TestTree.touch(fs, s"$root/src2/b.txt")
    val res2 = LocalExecution.moveFolderContent(s"$root/src2", s"$root/trg")
    assert(res2.forall(_.success))
  }

  test("moveFolderContent refuses to complete a DIFFERENT move's open transaction") {
    val root = TestTree.newRoot("mvx")
    val fs = TestTree.fsFor(root)
    // an interrupted move A->trg left its marker and some moved children;
    // a retry mistakenly issued with absent source B must NOT close A's
    // marker — that would unlock a fresh A->trg run's target-clear over
    // children A already moved (and can no longer re-supply)
    TestTree.touch(fs, s"$root/trg/moved_by_a.txt")
    new SafetyFuse(fs, s"$root/trg").startTransaction(s"$root/a")
    intercept[IllegalStateException] {
      LocalExecution.moveFolderContent(s"$root/b", s"$root/trg")
    }
    assert(new SafetyFuse(fs, s"$root/trg").isInProgress(),
      "stranger's marker was closed")
    // the genuine owner's resume still completes
    val res = LocalExecution.moveFolderContent(s"$root/a", s"$root/trg")
    assert(res.isEmpty)
    assert(!new SafetyFuse(fs, s"$root/trg").isInProgress())
    assert(fs.exists(new Path(s"$root/trg/moved_by_a.txt")))
  }

  test("an open transaction's marker is hidden from Spark: the table under it stays readable") {
    import org.apache.spark.sql.functions.col
    val root = TestTree.newRoot("fuse_read")
    val fs = TestTree.fsFor(root)
    val rows = spark.range(0, 40, 1, 4).withColumn("part", col("id") % 2)
    rows.write.partitionBy("part").parquet(s"$root/partitioned")
    rows.drop("part").write.parquet(s"$root/flat")
    // a move's marker in the table root (payload: its source), and markers
    // whose run id holds an `=` in a partitioned table's root
    new SafetyFuse(fs, s"$root/partitioned").startTransaction(s"$root/src")
    new SafetyFuse(fs, s"$root/partitioned", "part=0_compact").startTransaction()
    new SafetyFuse(fs, s"$root/flat").startTransaction(s"$root/src")
    assert(spark.read.parquet(s"$root/partitioned").count() == 40)
    assert(spark.read.parquet(s"$root/partitioned").where("part = 1").count() == 20)
    assert(spark.read.parquet(s"$root/flat").count() == 40)
    spark.sql(s"CREATE TABLE graft_fuse_flat USING parquet LOCATION '$root/flat'")
    try assert(spark.table("graft_fuse_flat").count() == 40)
    finally spark.sql("DROP TABLE graft_fuse_flat")
  }

  test("moveFolderContent resumes a marker under the visible name earlier builds wrote") {
    val root = TestTree.newRoot("mvlegacy")
    val fs = TestTree.fsFor(root)
    // crashed under an earlier build after moving a.txt: the marker is
    // `graft_open_transaction`, and b.txt is still in the source
    TestTree.touch(fs, s"$root/trg/a.txt")
    TestTree.touch(fs, s"$root/src/b.txt")
    val out = fs.create(new Path(s"$root/trg/graft_open_transaction"), false)
    out.write(new Path(s"$root/src").toString.getBytes(StandardCharsets.UTF_8)); out.close()
    val fuse = new SafetyFuse(fs, s"$root/trg")
    assert(fuse.isInProgress() && fuse.markerContent().contains(new Path(s"$root/src").toString))
    val res = LocalExecution.moveFolderContent(s"$root/src", s"$root/trg")
    assert(res.map(_.success) == Seq(true))
    // resumed, not restarted: the fresh path would have cleared a.txt
    assert(fs.exists(new Path(s"$root/trg/a.txt")) && fs.exists(new Path(s"$root/trg/b.txt")))
    assert(!fs.exists(new Path(s"$root/src")) && !fuse.isInProgress())
  }

  test("moveFolderContent: a child that cannot move throws, keeping the marker and the source; a rerun completes") {
    val src = TestTree.newRoot("mvstuck_src"); TestTree.create(src, 7)
    val trg = TestTree.newRoot("mvstuck_trg")
    val fs = TestTree.fsFor(src)
    val before = relSet(src)
    val stuck = fs.listStatus(new Path(src)).map(_.getPath.getName).min
    FlakyFileSystem.reset(0)
    FlakyFileSystem.failRenamesOnto(_.endsWith(s"/$stuck"))
    try intercept[IllegalStateException] {
      LocalExecution.moveFolderContent(FlakyFileSystem.flaky(src), FlakyFileSystem.flaky(trg))
    } finally FlakyFileSystem.reset(0)
    assert(new SafetyFuse(fs, trg).isInProgress(), "the marker was closed over a partial move")
    assert(fs.exists(new Path(s"$src/$stuck")), "the source folder went with a child still in it")
    val res = LocalExecution.moveFolderContent(src, trg)
    assert(res.nonEmpty && res.forall(_.success))
    assert(relSet(trg) == before && !fs.exists(new Path(src)) && !new SafetyFuse(fs, trg).isInProgress())
  }

  test("contentHash sentinel is side-distinct for unreadable files") {
    val root = TestTree.newRoot("chs")
    // two vanished counterpart files must NEVER hash equal (a shared
    // constant sentinel would report the pair as in-sync); the sentinel
    // is the FNV-1a of each side's own URI
    val a = s"$root/src/gone.bin"
    val b = s"$root/trg/gone.bin"
    assert(Delta.contentHash(conf, a) != Delta.contentHash(conf, b))
    assert(Delta.contentHash(conf, a) == Delta.fnv1a(a))
  }

  test("distributed getDeltaDataset equals the driver-listing diff") {
    val src = TestTree.newRoot("dd_src"); TestTree.create(src, 21)
    val trg = TestTree.newRoot("dd_trg")
    DistributedExecution.copyFolder(s"$src/top0", s"$trg/top0")
    val (missing, extra) = Delta.getDelta(src, trg)
    val expected = (missing.map(e => (e.path, e.message)) ++
      extra.map(e => (e.path, e.message))).toSet
    val diff = Delta.getDeltaDataset(src, trg)
    val dist = diff.collect().map(e => (e.path, e.message)).toSet
    diff.unpersist()
    assert(dist == expected)

    // both checkContent values, on a tree with a space and an escaped
    // `%3A` in names, a same-size drift, a resized file and a
    // target-only subtree
    val src2 = TestTree.newRoot("dd2_src")
    val trg2 = TestTree.newRoot("dd2_trg")
    for (root <- Seq(src2, trg2)) {
      write(s"$root/with space/a b.txt", "same bytes")
      write(s"$root/esc%3Adir/x%3Ay.txt", "same bytes too")
    }
    write(s"$src2/drift.txt", "aaaa"); write(s"$trg2/drift.txt", "bbbb")
    write(s"$src2/resized.txt", "short"); write(s"$trg2/resized.txt", "much longer")
    write(s"$trg2/only/o1.txt", "x"); write(s"$trg2/only/deep/o2.txt", "y")
    val sizeDiff = Set(
      ("resized.txt", DeltaEntry.MissingInTarget, false), ("resized.txt", DeltaEntry.OnlyInTarget, false),
      ("only", DeltaEntry.OnlyInTarget, true), ("only/deep", DeltaEntry.OnlyInTarget, true),
      ("only/o1.txt", DeltaEntry.OnlyInTarget, false), ("only/deep/o2.txt", DeltaEntry.OnlyInTarget, false))
    val drift = Set(("drift.txt", DeltaEntry.MissingInTarget, false), ("drift.txt", DeltaEntry.OnlyInTarget, false))
    for (checkContent <- Seq(false, true)) {
      val (m, e) = Delta.getDelta(src2, trg2, checkContent)
      val driver = (m ++ e).map(d => (d.path, d.message, d.isDirectory)).toSet
      assert(driver == (if (checkContent) sizeDiff ++ drift else sizeDiff), s"checkContent = $checkContent")
      val diff2 = Delta.getDeltaDataset(src2, trg2, checkContent)
      val dist2 = try diff2.collect().map(d => (d.path, d.message, d.isDirectory)).toSet
                  finally diff2.unpersist()
      assert(dist2 == driver, s"checkContent = $checkContent")
    }
  }

  test("driver diff runs no Spark job, or one to hash; a clean synchronize runs one") {
    val src = TestTree.newRoot("dj_src"); TestTree.create(src, 23)
    val trg = TestTree.newRoot("dj_trg")
    DistributedExecution.copyFolder(src, trg)
    val ((m0, e0), plain) = withJobCount(Delta.getDelta(src, trg))
    assert(m0.isEmpty && e0.isEmpty)
    assert(plain == 0, s"size-only getDelta ran $plain jobs")
    val ((m1, e1), hashed) = withJobCount(Delta.getDelta(src, trg, checkContent = true))
    assert(m1.isEmpty && e1.isEmpty)
    assert(hashed == 1, s"content-hashing getDelta ran $hashed jobs")
    // k files gone from the target: synchronize's one job is the copy
    val fs = TestTree.fsFor(trg)
    val gone = Fs.list(trg).filter(!_.isDirectory).take(3)
    gone.foreach(g => fs.delete(new Path(g.path), false))
    val (_, sync) = withJobCount(Delta.synchronize(src, trg))
    assert(sync == 1, s"synchronize ran $sync jobs")
    assert(gone.forall(g => fs.exists(new Path(g.path))))
    val (m2, e2) = Delta.getDelta(src, trg)
    assert(m2.isEmpty && e2.isEmpty)
  }

  test("synchronize deletes a target-only folder with one delete, not one per file") {
    val src = TestTree.newRoot("sdel_src"); TestTree.create(src, 25)
    val trg = TestTree.newRoot("sdel_trg")
    DistributedExecution.copyFolder(src, trg)
    (0 until 3).foreach(i => write(s"$trg/stale/f$i.bin", "stale"))
    (3 until 5).foreach(i => write(s"$trg/stale/deeper/f$i.bin", "stale"))
    FlakyFileSystem.reset(0)
    Delta.synchronize(FlakyFileSystem.flaky(src), FlakyFileSystem.flaky(trg))
    assert(FlakyFileSystem.deleteCalls == 1, s"${FlakyFileSystem.deleteCalls} deletes")
    assert(!TestTree.fsFor(trg).exists(new Path(s"$trg/stale")))
    val (m, e) = Delta.getDelta(src, trg)
    assert(m.isEmpty && e.isEmpty)
  }

  test("relCol matches rel across URI spellings; distributed diff plan is UDF-free") {
    import spark.implicits._
    // relCol must agree with the driver-side rel() on every spelling a
    // caller or a Hadoop listing can produce
    val cases = Seq(
      ("file:/tmp/root", "file:/tmp/root/a/b.txt"),
      ("file:///tmp/root", "file:/tmp/root/a/b.txt"),
      ("file:/tmp/root/", "file:/tmp/root/deep/x/y/z"),
      ("/tmp/root", "/tmp/root/plain/path"),
      ("hdfs://nn:8020/w/t", "hdfs://nn:8020/w/t/part-0"))
    cases.foreach { case (root, p) =>
      val got = Seq(p).toDF("path")
        .select(Root(root).relCol($"path")).head.getString(0)
      assert(got == Root(root).rel(p), s"relCol($root)($p) = $got")
    }
    // the not-under-root require survives as a raise_error branch
    val err = intercept[Exception] {
      Seq("file:/elsewhere/f").toDF("path")
        .select(Root("file:/tmp/root").relCol($"path")).head
    }
    assert(err.getMessage.contains("is not under root"), err.getMessage)
    // the distributed diff — the form that exists for huge listings —
    // must keep its projections visible to Catalyst/codegen
    val src = TestTree.newRoot("rc_src"); TestTree.create(src, 5)
    val trg = TestTree.newRoot("rc_trg")
    val diff = Delta.getDeltaDataset(src, trg)
    try {
      val plan = diff.queryExecution.executedPlan.toString
      assert(!plan.contains("ScalaUDF"), s"relPath regressed to a UDF:\n$plan")
    } finally diff.unpersist()
  }

  test("Delta checkContent catches same-size content drift") {
    val src = TestTree.newRoot("dlc_src"); TestTree.create(src, 11)
    val trg = TestTree.newRoot("dlc_trg")
    DistributedExecution.copyFolder(src, trg)
    // corrupt one target file, SAME byte length
    val fs = TestTree.fsFor(trg)
    val victim = Fs.list(trg).filter(!_.isDirectory).head
    val size = victim.byteSize.toInt
    val out = fs.create(new Path(victim.path), true)
    out.write(Array.fill[Byte](size)('Z')); out.close()

    val (m0, e0) = Delta.getDelta(src, trg) // size-only: blind to the edit
    assert(m0.isEmpty && e0.isEmpty)
    val (m1, e1) = Delta.getDelta(src, trg, checkContent = true)
    assert(m1.length == 1 && e1.length == 1)

    Delta.synchronize(src, trg, checkContent = true)
    val (m2, e2) = Delta.getDelta(src, trg, checkContent = true)
    assert(m2.isEmpty && e2.isEmpty)
  }

  test("distributed diff + synchronize catch and heal same-size content drift") {
    val src = TestTree.newRoot("ddc_src"); TestTree.create(src, 17)
    val trg = TestTree.newRoot("ddc_trg")
    DistributedExecution.copyFolder(src, trg)
    // corrupt one target file, SAME byte length — invisible to the
    // size-only diff, caught by the distributed content hash
    val fs = TestTree.fsFor(trg)
    val victim = Fs.list(trg).filter(!_.isDirectory).head
    val out = fs.create(new Path(victim.path), true)
    out.write(Array.fill[Byte](victim.byteSize.toInt)('Z')); out.close()

    val blind = Delta.getDeltaDataset(src, trg)
    try assert(blind.isEmpty) finally blind.unpersist()
    val sharp = Delta.getDeltaDataset(src, trg, checkContent = true)
    try assert(sharp.count() == 2) finally sharp.unpersist() // missing + extra for the drifted file
    Delta.synchronizeDistributed(src, trg, checkContent = true)
    val (m, e) = Delta.getDelta(src, trg, checkContent = true)
    assert(m.isEmpty && e.isEmpty, "distributed synchronize left drift behind")
  }

  test("Delta relativizes across URI spellings; synchronize can't wipe the target root (ADVICE r1 medium)") {
    val src0 = TestTree.newRoot("dls_src"); TestTree.create(src0, 13)
    val trg0 = TestTree.newRoot("dls_trg")
    DistributedExecution.copyFolder(src0, trg0)
    // file:///abs + trailing slash spellings: raw substring offsets would
    // produce garbage relPaths, a bogus diff, and a delete of "$trg/"
    val src = "file://" + src0.stripPrefix("file:")
    val trg = "file://" + trg0.stripPrefix("file:") + "/"
    val (m, e) = Delta.getDelta(src, trg)
    assert(m.isEmpty && e.isEmpty, s"spurious diff: ${m.take(3).mkString(",")} / ${e.take(3).mkString(",")}")
    val diff = Delta.getDeltaDataset(src, trg)
    try assert(diff.isEmpty) finally diff.unpersist()
    Delta.synchronize(src, trg)
    assert(Fs.list(trg0).nonEmpty, "synchronize deleted the target tree")
  }

  test("synchronizeDistributed reconciles without driver collection") {
    val src = TestTree.newRoot("sd_src"); TestTree.create(src, 33)
    val trg = TestTree.newRoot("sd_trg")
    DistributedExecution.copyFolder(s"$src/top1", s"$trg/top1")
    val fs = TestTree.fsFor(trg)
    val out = fs.create(new Path(s"$trg/stale/junk.bin"), true); out.write(7); out.close()

    Delta.synchronizeDistributed(src, trg)
    val (m, e) = Delta.getDelta(src, trg)
    assert(m.isEmpty, s"still missing: ${m.take(5).mkString(",")}")
    assert(e.isEmpty, s"still extra: ${e.take(5).mkString(",")}")
    assert(!fs.exists(new Path(s"$trg/stale")))
  }

  test("Delta.getDelta finds missing and extra; synchronize reconciles") {
    val src = TestTree.newRoot("dl_src"); TestTree.create(src, 42)
    val trg = TestTree.newRoot("dl_trg")
    // partial copy: only top0 subtree
    DistributedExecution.copyFolder(s"$src/top0", s"$trg/top0")
    // extra junk in target
    val fs = TestTree.fsFor(trg)
    val out = fs.create(new Path(s"$trg/junk.txt"), true); out.write(1); out.close()

    val (missing, extra) = Delta.getDelta(src, trg)
    assert(missing.nonEmpty)
    assert(extra.exists(_.path == "junk.txt"))

    Delta.synchronize(src, trg)
    val (m2, e2) = Delta.getDelta(src, trg)
    assert(m2.isEmpty, s"still missing: ${m2.take(5).mkString(",")}")
    assert(e2.isEmpty, s"still extra: ${e2.take(5).mkString(",")}")
    assert(!fs.exists(new Path(s"$trg/junk.txt")))
  }
}
