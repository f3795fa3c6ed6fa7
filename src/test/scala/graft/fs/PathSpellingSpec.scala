package graft.fs

import java.nio.file.{Files, Path => JPath}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.acl.{AclManager, FsPermission, InMemAclFileSystem}
import graft.compact.Compactor
import graft.meta.Meta
import graft.promotor.Promotor

/** Every public tree operator on each spelling of one folder — `/abs`,
  * `file:/abs`, `file:///abs` and `/abs/`; for ACLs `acl:/abs`,
  * `acl:///abs` and `acl:/abs/` — over a tree whose names hold a space,
  * an escaped `%3A` and an `=`. Each spelling runs on a fresh copy of the
  * fixture in the same folder, and must give the outcome of the canonical
  * spelling, `file:/abs` as a listing spells it: the same result and the
  * same tree left behind.
  */
class PathSpellingSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  implicit lazy val conf: Configuration = spark.sparkContext.hadoopConfiguration

  private type Spelling = String => String
  private val FileSpellings: Seq[Spelling] =
    Seq(abs => abs, abs => s"file:$abs", abs => s"file://$abs", abs => s"$abs/")
  private val AclSpellings: Seq[Spelling] =
    Seq(abs => s"acl:$abs", abs => s"acl://$abs", abs => s"acl:$abs/")

  private def write(root: JPath, rel: String, body: String): Unit = {
    Files.createDirectories(root.resolve(rel).getParent)
    Files.write(root.resolve(rel), body.getBytes("UTF-8"))
  }

  /** `t`, a source tree, and `u`, a target that shares some of it, drifts
    * on `top.txt` and holds folders of its own.
    */
  private def plainTree(root: JPath): Unit = {
    write(root, "t/top.txt", "top")
    write(root, "t/a b/x%3Ay.txt", "one")
    write(root, "t/part=1/f 1.txt", "two")
    write(root, "t/part=2/deep/g%3A.txt", "three")
    write(root, "u/top.txt", "stale top, longer")
    write(root, "u/part=1/f 1.txt", "two")
    write(root, "u/part=9/old.txt", "old")
    write(root, "u/only u/z.txt", "z")
  }

  /** A parquet table `tbl` of three leaves, named by partition values
    * with a space, a `:` (which Spark escapes as `%3A`) and a digit, and
    * an unpartitioned folder `flat`; each of 8 small files per folder.
    */
  private lazy val parquetTemplate: JPath = {
    val dir = Files.createTempDirectory("spelling_parquet")
    val rows = spark.range(0, 240, 1, 8).select(col("id"), (col("id") * 7).cast("string").as("payload"))
    rows.withColumn("part", element_at(array(lit("a b"), lit("x:y"), lit("1")), (col("id") % 3 + 1).cast("int")))
      .repartition(8).write.partitionBy("part").parquet(s"file:$dir/tbl")
    rows.write.parquet(s"file:$dir/flat")
    dir
  }

  private def parquetTree(root: JPath): Unit =
    Files.walk(parquetTemplate).iterator().asScala.filterNot(_.getFileName.toString.endsWith(".crc")).foreach { f =>
      val t = root.resolve(parquetTemplate.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }

  /** Relative path → CRC32 of every file under `root`, "dir" for each
    * folder; the parquet files of a folder are one entry (their count and
    * an order-insensitive row hash), as compaction names its output files
    * at random. Checksum sidecars are left out: their names follow the
    * data files'.
    */
  private def snapshot(root: JPath): Map[String, String] = {
    val all = Files.walk(root).iterator().asScala
      .filter(f => f != root && !f.getFileName.toString.endsWith(".crc")).toSeq
    val (parquet, rest) = all.partition(_.getFileName.toString.endsWith(".parquet"))
    val rel = (f: JPath) => root.relativize(f).toString
    rest.map { f =>
      rel(f) -> (if (Files.isDirectory(f)) "dir" else {
        val crc = new CRC32(); crc.update(Files.readAllBytes(f)); crc.getValue.toString
      })
    }.toMap ++ parquet.groupBy(_.getParent).map { case (dir, files) =>
      val df = spark.read.parquet(files.map(f => "file:" + f): _*)
      val r = df.agg(count(lit(1)), sum(xxhash64(col("id"), col("payload")).cast("decimal(38,0)"))).head()
      s"${rel(dir)}/*.parquet" -> s"${files.size} files, ${r.get(0)} rows, ${r.get(1)}"
    }
  }

  /** Runs `op` once per spelling, each time on a fresh `fixture` in the
    * same folder, and asserts that every spelling's outcome — what `op`
    * returns and the tree it leaves — is the canonical spelling's.
    * `op(at, other)` spells a path relative to that folder with the
    * spelling under test (`at`) or with the next one (`other`).
    */
  private def sameOutcome[R](name: String, fixture: JPath => Unit, spellings: Seq[Spelling] = FileSpellings,
      canonical: Int = 1)(op: (Spelling, Spelling) => R): Unit = {
    val base = Files.createTempDirectory(s"spelling_$name")
    val outcomes = spellings.indices.map { i =>
      Files.walk(base).iterator().asScala.toSeq.reverse.filter(_ != base).foreach(Files.delete)
      InMemAclFileSystem.clear()
      fixture(base)
      val (at, other) = (spellings(i), spellings((i + 1) % spellings.size))
      val spelled = at(base.toString)
      val result =
        try op(rel => at(s"$base/$rel"), rel => other(s"$base/$rel"))
        catch { case NonFatal(e) => fail(s"$name, spelled $spelled: $e", e) }
      (spelled, result, snapshot(base), InMemAclFileSystem.acls.asScala.toMap)
    }
    val (_, result, tree, acls) = outcomes(canonical)
    outcomes.foreach { case (spelled, r, t, a) =>
      assert(r == result, s"$name, spelled $spelled: result differs")
      assert(t == tree, s"$name, spelled $spelled: ${(t.toSet diff tree.toSet).toMap} instead of " +
        s"${(tree.toSet diff t.toSet).toMap}")
      assert(a == acls, s"$name, spelled $spelled: ACLs $a instead of $acls")
    }
  }

  private def results(rs: Iterable[FsOperationResult]): Set[(String, Boolean)] = rs.map(r => (r.path, r.success)).toSet

  test("list and getSize") {
    sameOutcome("list", plainTree) { (at, _) =>
      val sizes = Fs.getSize(at("t"))
      (Fs.list(at("t")).map(e => (e.path, e.isDirectory, e.byteSize)).toSet, sizes.totalBytes,
        Seq("t", "t/a b", "t/part=1", "t/part=2/deep").map(p => sizes.getSizeOfPath(at(p))))
    }
  }

  test("copyFolder, getDelta and synchronize") {
    sameOutcome("copy", plainTree)((at, _) => results(DistributedExecution.copyFolder(at("t"), at("copy"))))
    sameOutcome("delta", plainTree) { (at, _) =>
      val (missing, extra) = Delta.getDelta(at("t"), at("u"))
      (missing.toSet, extra.toSet)
    }
    sameOutcome("sync", plainTree)((at, _) => Delta.synchronize(at("t"), at("u")))
  }

  test("moveFolderContent, with source and target spelled alike and differently") {
    sameOutcome("move", plainTree)((at, _) => results(LocalExecution.moveFolderContent(at("t"), at("u"))))
    sameOutcome("move_across", plainTree)((at, other) => results(LocalExecution.moveFolderContent(at("t"), other("u"))))
  }

  test("deleteFolder") {
    sameOutcome("delete", plainTree) { (at, _) =>
      (results(LocalExecution.deleteFolder(at("t/a b"))),
        results(LocalExecution.deleteFolder(at("u/part=1"), deleteContentOnly = true)))
    }
  }

  test("modifyFolderAcl and synchronizeAcls") {
    val aclConf = new Configuration(conf)
    aclConf.set("fs.acl.impl", classOf[InMemAclFileSystem].getName)
    sameOutcome("acl", plainTree, AclSpellings, canonical = 0) { (at, _) =>
      results(AclManager.modifyFolderAcl(at("t"), FsPermission("user", "rwx", "DEFAULT", "g1"))(aclConf))
    }
    sameOutcome("acl_sync", plainTree, AclSpellings, canonical = 0) { (at, other) =>
      AclManager.modifyFolderAcl(other("t"), FsPermission("group", "r-x", "DEFAULT", "team"))(aclConf)
      AclManager.synchronizeAcls(at("u"), at("t"))(aclConf)
    }
  }

  test("doItAll and doAutoCoalesce") {
    sameOutcome("compact", parquetTree)((at, _) => Compactor.doItAll(at("tbl"), requestedSizeMb = 1))
    sameOutcome("coalesce", parquetTree)((at, _) => Compactor.doAutoCoalesce(at("flat"), requestedSizeMb = 1))
  }

  test("bare-folder promotion: copy, overwrite and move of selected subfolders") {
    val parts = Seq("part=")
    sameOutcome("promote_copy", plainTree) { (at, _) =>
      results(Promotor.copySelectedSubFoldersContent(at("t"), at("p"), parts))
    }
    sameOutcome("promote_overwrite", plainTree) { (at, _) =>
      results(Promotor.copyOverwriteSelectedSubfoldersContent(at("t"), at("u"), parts))
    }
    sameOutcome("promote_move", plainTree) { (at, _) =>
      results(Promotor.moveSelectedSubFolders(at("t"), at("u"), parts))
    }
  }

  test("table promotion: the catalog's percent-encoded location and file URIs name listed folders") {
    // a catalog spells a table at `…/spelling tables…/src` as
    // `file:/…/spelling%20tables…/src`, and `inputFiles` a file of
    // partition `x:y` as `file:///…/part=x%253Ay/…`
    val db = "graft_spelling"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val root = Files.createTempDirectory("spelling tables")
    val rows = spark.range(0, 60, 1, 3).select(col("id"), (col("id") * 7).cast("string").as("payload"),
      element_at(array(lit("a b"), lit("x:y")), (col("id") % 2 + 1).cast("int")).as("part"))
    rows.write.partitionBy("part").option("path", s"file:$root/src").saveAsTable(s"$db.src")
    rows.where("id < 0").write.partitionBy("part").option("path", s"file:$root/trg").saveAsTable(s"$db.trg")
    def content(table: String) = spark.table(s"$db.$table")
      .agg(count(lit(1)), sum(xxhash64(col("id"), col("payload"), col("part")).cast("decimal(38,0)"))).head()
    assert(Promotor.copyFilesBetweenTables(db, "src", db, "trg").forall(_.success))
    assert(content("trg") == content("src") && content("src").getLong(0) == 60)
    assert(Promotor.copyOverwritePartitions(db, "src", db, "trg", Seq("part=x")).nonEmpty)
    assert(content("trg") == content("src"))
    assert(Meta.getTableLocation(db, "src") == s"file:$root/src")
  }
}
