package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class FsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  implicit lazy val conf: Configuration = {
    val _ = spark // session first so hadoop conf exists
    spark.sparkContext.hadoopConfiguration
  }

  test("list returns every file and folder; getSize matches") {
    val root = TestTree.newRoot("fsspec_list")
    TestTree.create(root, seed = 42)
    val all = Fs.list(root)
    assert(all.nonEmpty)
    val files = all.filter(!_.isDirectory)
    val dirs = all.filter(_.isDirectory)
    assert(files.nonEmpty && dirs.nonEmpty)
    // every folder has exactly one .txt file in this fixture
    assert(files.length == dirs.length + 0 || files.length > 0)
    val sizes = Fs.getSize(root)
    assert(sizes.totalBytes == files.map(_.byteSize).sum)
    assert(sizes.getSizeOfPath(dirs.head.path) <= sizes.totalBytes)
    // simplified mode (reference getSize(path, skipFileDetails)): the
    // collapsed listing must report identical totals, globally and per
    // subtree — only individual file rows disappear
    val simple = Fs.getSize(root, simplified = true)
    assert(simple.totalBytes == sizes.totalBytes)
    dirs.foreach { d =>
      assert(simple.getSizeOfPath(d.path) == sizes.getSizeOfPath(d.path),
        s"simplified subtree size diverged at ${d.path}")
    }
    assert(simple.sizes.filterNot(_.isDirectory)
      .forall(_.path.endsWith("/summed_up_files")))
  }

  test("distributed listing equals driver listing") {
    val root = TestTree.newRoot("fsspec_dist")
    TestTree.create(root, seed = 7)
    val driver = Fs.list(root).map(e => (e.path, e.isDirectory, e.byteSize)).toSet
    val listing = Fs.listDistributed(spark, root)
    val dist = listing.collect().map(e => (e.path, e.isDirectory, e.byteSize)).toSet
    listing.unpersist()
    assert(dist == driver)
  }

  test("list honors a configured pool width past the old 64-thread clamp") {
    val c = new Configuration(conf)
    c.set("fs.cnt.impl", classOf[CountingFileSystem].getName)
    c.setBoolean("fs.cnt.impl.disable.cache", true)
    CountingFileSystem.reset()
    assert(Fs.driverPoolSize >= CountingFileSystem.Width)
    val all = Fs.list("cnt:/")(c)
    assert(all.count(_.isDirectory) == CountingFileSystem.Width)
    // every directory's listStatus holds for HoldMs, so with the pool
    // really as wide as its setting they overlap almost completely; the old
    // hidden .min(64) clamp would cap the high-water mark at 64
    val peak = CountingFileSystem.maxActive.get()
    assert(peak > 64, s"listing concurrency peaked at $peak - pool width not honored")
  }

  test("dropFileDetail collapses files during the scan, preserving sizes") {
    val root = TestTree.newRoot("fsspec_dfd")
    TestTree.create(root, seed = 42)
    val detailed = Fs.list(root)
    val collapsed = Fs.list(root, dropFileDetail = true)
    // same folder skeleton, no per-file rows — one rollup per folder
    assert(collapsed.filter(_.isDirectory).map(_.path).sorted.toSeq ==
      detailed.filter(_.isDirectory).map(_.path).sorted.toSeq)
    val rolled = collapsed.filterNot(_.isDirectory)
    assert(rolled.nonEmpty && rolled.forall(_.path.endsWith("/summed_up_files")))
    // one rollup per listed folder (root included — reference emits the
    // rollup whenever the folder's listing is nonEmpty, 0 bytes if dirs-only)
    assert(rolled.length == detailed.count(_.isDirectory) + 1)
    // byte totals invariant, globally and per subtree (TestGetSize pattern)
    val sizesD = FsSizes(detailed)
    val sizesC = FsSizes(collapsed)
    assert(sizesC.totalBytes == sizesD.totalBytes)
    detailed.filter(_.isDirectory).foreach { d =>
      assert(sizesC.getSizeOfPath(d.path) == sizesD.getSizeOfPath(d.path),
        s"subtree size diverged at ${d.path}")
    }
  }

  test("listDistributed runs one job per tree level (plus the final pin)") {
    val root = TestTree.newRoot("fsspec_jobs")
    TestTree.create(root, seed = 7)
    val driver = Fs.list(root)
    val rootDepth = new Path(root).toString.count(_ == '/')
    val maxDepth = driver.map(e => new Path(e.path).toString.count(_ == '/') - rootDepth).max
    // count ACTIONS (SQL executions), not scheduler jobs: AQE splits one
    // action into several jobs, but each driver-side round-trip the BFS
    // pays is exactly one execution
    val execs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val listing =
      try {
        val l = Fs.listDistributed(spark, root)
        org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
        l
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(listing.collect().map(e => (e.path, e.isDirectory, e.byteSize)).toSet ==
      driver.map(e => (e.path, e.isDirectory, e.byteSize)).toSet)
    listing.unpersist()
    // the BFS lists dirs at depths 0..maxDepth-1 (ONE materializing agg
    // each — the dir count rides it, no separate count action), plus the
    // final result-pinning count
    assert(execs.get() == maxDepth + 1,
      s"expected ${maxDepth + 1} actions (levels $maxDepth + pin), saw ${execs.get()}")
  }

  test("sumUpFiles collapses files per folder preserving total size") {
    val root = TestTree.newRoot("fsspec_sum")
    TestTree.create(root, seed = 42)
    val all = Fs.list(root)
    val rolled = Fs.sumUpFiles(all)
    assert(rolled.filterNot(_.isDirectory).map(_.byteSize).sum ==
      all.filterNot(_.isDirectory).map(_.byteSize).sum)
    assert(rolled.count(_.isDirectory) == all.count(_.isDirectory))
  }

  test("formatSize human-readable") {
    assert(Fs.formatSize(512) == "512.00 B")
    assert(Fs.formatSize(2048) == "2.00 KB")
    assert(Fs.formatSize(3L * 1024 * 1024 * 1024) == "3.00 GB")
  }

  test("checkIfFsIsTheSame") {
    assert(Fs.checkIfFsIsTheSame("file:/a/b", "file:/c/d"))
    assert(!Fs.checkIfFsIsTheSame("file:/a", "hdfs://h:8020/a"))
  }

  test("SafetyFuse lifecycle") {
    val root = TestTree.newRoot("fsspec_fuse")
    val fs = TestTree.fsFor(root)
    val fuse = new SafetyFuse(fs, s"$root/txdir")
    assert(!fuse.isInProgress())
    assert(fuse.markerContent().isEmpty)
    fuse.startTransaction("file:/some/move/source")
    assert(fuse.isInProgress())
    assert(fuse.markerContent().contains("file:/some/move/source"))
    // double-open must fail, not silently overwrite the recorded owner
    intercept[Exception] { fuse.startTransaction("file:/other") }
    assert(fuse.markerContent().contains("file:/some/move/source"))
    fuse.endTransaction()
    assert(!fuse.isInProgress())
    assert(fuse.markerContent().isEmpty)
  }

  test("Retry retries only the failed subset and honors repair") {
    var calls = Vector.empty[Seq[String]]
    var failOnce = Set("b", "c")
    val out = Retry.retryFailed[String](
      Seq("a", "b", "c"),
      work => {
        calls :+= work
        work.map { w =>
          val ok = !failOnce(w)
          FsOperationResult(w, ok)
        }
      },
      identity,
      repair = failed => { val r = failed.filter(_ == "c"); failOnce -= "b"; r })
    assert(out.count(_.success) == 3)
    assert(calls.head == Seq("a", "b", "c"))
    assert(calls(1) == Seq("b")) // c was repaired, only b retried
  }

  test("Retry throws after exhausting attempts") {
    intercept[IllegalStateException] {
      Retry.retryFailed[String](Seq("x"),
        w => w.map(FsOperationResult(_, success = false)), identity)
    }
  }

  test("Retry keeps retrying a zero-progress batch until attempts are exhausted") {
    // a batch-wide transient outage fails EVERY item in an attempt; the
    // loop must not give up early or a recovering store never gets its
    // later attempts (the transient-failures property depends on this)
    var attempts = 0
    intercept[IllegalStateException] {
      Retry.retryFailed[String](Seq("x", "y"),
        w => { attempts += 1; w.map(FsOperationResult(_, success = false)) }, identity)
    }
    assert(attempts == Retry.MaxAttempts, s"expected ${Retry.MaxAttempts} attempts, ran $attempts")
  }

  test("getSizeOfPath matches on path boundaries, not raw prefixes") {
    val sizes = FsSizes(Array(
      FsElement("/data/2024", isDirectory = true, 0),
      FsElement("/data/2024/f1", isDirectory = false, 10),
      FsElement("/data/2024-backup/f2", isDirectory = false, 90)))
    assert(sizes.getSizeOfPath("/data/2024") == 10)
    assert(sizes.getSizeOfPath("/data/2024/") == 10)
    // a listing spells its paths `file:/…`; every spelling of a listed
    // folder sizes it, still on path boundaries
    val listed = FsSizes(Array(
      FsElement("file:/data/2024", isDirectory = true, 0),
      FsElement("file:/data/2024/f1", isDirectory = false, 10),
      FsElement("file:/data/2024-backup/f2", isDirectory = false, 90)))
    for (spelling <- Seq("/data/2024", "file:/data/2024", "file:///data/2024", "/data/2024/"))
      assert(listed.getSizeOfPath(spelling) == 10, spelling)
  }
}
