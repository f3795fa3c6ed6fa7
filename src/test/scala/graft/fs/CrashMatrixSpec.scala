package graft.fs

import java.nio.file.{Files, Path => JPath}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.compact.Compactor
import graft.ext.{IndexLifecycle, Similarity}
import graft.promotor.Promotor

/** Crash-point enumeration (ALICE, "All File Systems Are Not Created
  * Equal", OSDI 2014) over the callers of [[FolderSwap]],
  * [[LocalExecution.moveFolderContent]] and [[Delta.synchronize]]: each operator
  * runs once crash-free, counting its mutating file-system calls; then,
  * for every k up to that count, it runs on a fresh copy of the same
  * fixture with a crash at call k ([[FlakyFileSystem.abortAtMutatingCall]]:
  * call k and every later one throw, so the crash also kills the
  * operator's cleanup), the file system heals, and the operator runs
  * again. The tree it leaves must equal the crash-free one, with no
  * aside, marker, `_rebuild` or temp folder left over.
  */
class CrashMatrixSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set(s"fs.${FlakyFileSystem.Scheme}.impl",
      classOf[FlakyFileSystem].getName)
    s
  }

  private val Leftovers = Seq("_graft_aside", "_open_transaction", "_rebuild", "_graft_tmp", "_swap_bak")

  /** Relative path → CRC32 of every file under `root`, hidden ones
    * included, and "dir" for every folder. With `byRows`, the parquet
    * files of a folder are one entry instead — their count and an
    * order-insensitive row hash — as compaction names its output files at
    * random.
    */
  private def tree(root: JPath, byRows: Boolean): Map[String, String] = {
    val all = Files.walk(root).iterator().asScala.filter(_ != root).toSeq
    val (parquet, rest) = all.partition(f => byRows && f.getFileName.toString.endsWith(".parquet"))
    val rel = (f: JPath) => root.relativize(f).toString
    rest.map { f =>
      rel(f) -> (if (Files.isDirectory(f)) "dir" else {
        val crc = new CRC32(); crc.update(Files.readAllBytes(f)); crc.getValue.toString
      })
    }.toMap ++ parquet.groupBy(_.getParent).map { case (dir, files) =>
      val df = spark.read.parquet(files.map(f => "file:" + f): _*)
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()
      s"${rel(dir)}/*.parquet" -> s"${files.size} files, ${r.get(0)} rows, ${r.get(1)}"
    }
  }

  /** Writes `body` to `rel` under `fixture`, parents included. */
  private def file(fixture: JPath, rel: String, body: String): Unit = {
    Files.createDirectories(fixture.resolve(rel).getParent)
    Files.write(fixture.resolve(rel), body.getBytes("UTF-8"))
  }

  /** The absolute path of a `flaky:` root, without scheme: how a user types it. */
  private def plain(root: String): String = new Path(root).toUri.getPath

  private def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator().asScala.filterNot(_.getFileName.toString.endsWith(".crc")).foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }

  /** Runs the matrix for one operator: `op(root)` on a copy of `fixture`
    * under the `flaky:` scheme, `rerun(root)` after each crash. Returns
    * the crash-free mutating-call count.
    */
  private def matrix(name: String, fixture: JPath, byRows: Boolean = false)(op: String => Unit)(
      rerun: String => Unit): Int = {
    def fresh(): (JPath, String) = {
      val root = Files.createTempDirectory(s"crash_$name")
      copyTree(fixture, root)
      (root, FlakyFileSystem.flaky("file:" + root))
    }
    val (clean, cleanUri) = fresh()
    FlakyFileSystem.reset(0)
    op(cleanUri)
    val calls = FlakyFileSystem.mutatingCalls
    val expected = tree(clean, byRows)
    assert(calls > 0 && !expected.keys.exists(k => Leftovers.exists(k.contains)), s"$name: $expected")
    (1 to calls).foreach { k =>
      val (root, uri) = fresh()
      FlakyFileSystem.abortAtMutatingCall(k)
      val crashed = try { op(uri); false } catch { case NonFatal(_) => true } finally FlakyFileSystem.reset(0)
      assert(crashed, s"$name: a crash at mutating call $k of $calls went unreported")
      rerun(uri)
      val got = tree(root, byRows)
      assert(got == expected, s"$name: crash at mutating call $k of $calls, then a rerun: " +
        s"${(got.toSet diff expected.toSet).toMap} instead of ${(expected.toSet diff got.toSet).toMap}")
    }
    calls
  }

  test("Compactor.doItAll: a rerun after a crash at any call compacts the table as a crash-free run does") {
    val fixture = Files.createTempDirectory("crash_compact_fixture")
    spark.range(0, 60, 1, 3).select(col("id"), (col("id") * 7).cast("string").as("payload"),
      (col("id") % 2).as("part")).write.partitionBy("part").parquet(s"file:$fixture/t")
    val run = (root: String) => { Compactor.doItAll(s"$root/t", requestedSizeMb = 1); () }
    val calls = matrix("compact", fixture, byRows = true)(run)(run)
    info(s"$calls mutating calls")
  }

  test("Promotor.moveFolders: a rerun after a crash at any call moves both partitions") {
    val fixture = Files.createTempDirectory("crash_move_fixture")
    def file(rel: String, body: String): Unit = {
      Files.createDirectories(fixture.resolve(rel).getParent)
      Files.write(fixture.resolve(rel), body.getBytes("UTF-8"))
    }
    file("src/part=1/a.txt", "new 1a"); file("src/part=1/b.txt", "new 1b")
    file("src/part=2/a.txt", "new 2a")
    file("trg/part=1/old.txt", "old 1") // part=2 is new to the target
    val run = (root: String) => {
      Promotor.moveFolders(Seq(1, 2).map(p => Paths(s"$root/src/part=$p", s"$root/trg/part=$p"))); ()
    }
    val calls = matrix("move", fixture)(run)(run)
    info(s"$calls mutating calls")
  }

  test("IndexLifecycle.replace: recoverSwap, then a rerun after a crash at any call, swaps the build in") {
    val fixture = Files.createTempDirectory("crash_index_fixture")
    val build = Files.createTempDirectory("crash_index_build")
    spark.range(0, 20, 1, 2).toDF("id").write.mode("overwrite").parquet(s"file:$fixture/idx")
    spark.range(100, 130, 1, 2).toDF("id").write.mode("overwrite").parquet(s"file:$build/v2")
    val files = Files.list(build.resolve("v2")).iterator().asScala
      .filterNot(_.getFileName.toString.endsWith(".crc")).toSeq
    val params = Similarity.LshParams(8, 4, 2, 7L)
    // the build writes its rebuild folder afresh, as an overwriting parquet write does
    val run = (root: String) => IndexLifecycle.replace(spark, s"$root/idx", Similarity.LshSidecar, params) {
      rebuild =>
        val fs = Fs.getFileSystem(spark.sparkContext.hadoopConfiguration, rebuild)
        fs.delete(new Path(rebuild), true)
        files.foreach { f =>
          val out = fs.create(new Path(rebuild, f.getFileName.toString), false)
          try out.write(Files.readAllBytes(f)) finally out.close()
        }
    }
    val calls = matrix("index", fixture)(run) { root =>
      IndexLifecycle.recoverSwap(spark, s"$root/idx")
      run(root)
    }
    info(s"$calls mutating calls")
  }

  // The reruns below spell the folders differently from the crashed run
  // (`flaky:/abs` there): a resume must recognize its own folders, and
  // its marker, in any spelling.

  test("LocalExecution.moveFolderContent: a rerun spelled /abs/ after a crash at any call moves the content") {
    val fixture = Files.createTempDirectory("crash_content_fixture")
    file(fixture, "src/a.txt", "new a"); file(fixture, "src/d/b.txt", "new b")
    // a twin of a source child, and a child only the target holds
    file(fixture, "trg/a.txt", "old a"); file(fixture, "trg/old.txt", "old")
    val calls = matrix("content", fixture) { root =>
      LocalExecution.moveFolderContent(s"$root/src", s"$root/trg")(spark.sparkContext.hadoopConfiguration); ()
    } { root =>
      // the plain local file system: the move is a rename on one file system
      LocalExecution.moveFolderContent(s"${plain(root)}/src/", s"${plain(root)}/trg/")(
        spark.sparkContext.hadoopConfiguration); ()
    }
    info(s"$calls mutating calls")
  }

  test("Delta.synchronize: a rerun spelled /abs/ and flaky:///abs/ after a crash at any call replicates the source") {
    val fixture = Files.createTempDirectory("crash_sync_fixture")
    file(fixture, "src/a.txt", "new a, resized"); file(fixture, "src/d/b.txt", "b")
    file(fixture, "src/e/f/c.txt", "c") // folders the target lacks
    file(fixture, "trg/a.txt", "old a"); file(fixture, "trg/d/b.txt", "b")
    file(fixture, "trg/old/x.txt", "x") // a folder only the target holds
    val calls = matrix("sync", fixture) { root =>
      Delta.synchronize(s"$root/src", s"$root/trg"); ()
    } { root =>
      // the source is only read, so the plain local file system serves it;
      // the target keeps the raw flaky one, which writes no checksum files
      Delta.synchronize(s"${plain(root)}/src/", s"${FlakyFileSystem.Scheme}://${plain(root)}/trg/"); ()
    }
    info(s"$calls mutating calls")
  }
}
