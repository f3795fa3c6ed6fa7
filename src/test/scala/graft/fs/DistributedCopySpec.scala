package graft.fs

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The distributed copy under injected storage faults ([[FlakyFileSystem]])
  * and its Spark footprint on a clean run.
  */
class DistributedCopySpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration.set(s"fs.${FlakyFileSystem.Scheme}.impl",
      classOf[FlakyFileSystem].getName)
    s
  }
  implicit lazy val conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def localPath(uri: String) = java.nio.file.Paths.get(new Path(uri).toUri.getPath)
  private def bytes(uri: String): Array[Byte] = Files.readAllBytes(localPath(uri))

  /** `n` files of distinct contents in three folders under a new `file:`
    * root, written around the flaky FS; returns the root.
    */
  private def sourceTree(prefix: String, n: Int): String = {
    val root = TestTree.newRoot(prefix)
    (0 until n).foreach { i =>
      val f = localPath(s"$root/d${i % 3}/f$i.bin")
      Files.createDirectories(f.getParent)
      Files.write(f, Array.tabulate[Byte](100 + 37 * i)(j => (i * 31 + j).toByte))
    }
    root
  }

  /** A flaky source tree of `n` files and its copy list into a new target. */
  private def flakyWork(prefix: String, n: Int): Seq[Paths] = {
    val src = FlakyFileSystem.flaky(sourceTree(prefix + "_src", n))
    val trg = FlakyFileSystem.flaky(TestTree.newRoot(prefix + "_trg"))
    Fs.list(src).filter(!_.isDirectory).toSeq
      .map(e => Paths(e.path, Root(src).rebase(e.path, Root(trg))))
  }

  private def copyFiles(work: Seq[Paths]): Seq[FsOperationResult] =
    DistributedExecution.copyFiles(work).toSeq

  private def copyDataset(work: Seq[Paths]): Seq[FsOperationResult] = {
    import spark.implicits._
    val res = DistributedExecution.copyDataset(spark.createDataset(work))
    try res.collect().toSeq finally res.unpersist()
  }

  private val entryPoints = Seq("copyFiles" -> copyFiles _, "copyDataset" -> copyDataset _)

  test("copy retries files whose create fails up to 4 times, copying each once") {
    for ((name, copy) <- entryPoints; k <- 0 to Retry.MaxAttempts - 1) {
      val work = flakyWork(s"flaky_ok_$k", 8)
      FlakyFileSystem.reset(k)
      val res = copy(work)
      assert(res.map(_.path).sorted == work.map(_.sourcePath).sorted && res.forall(_.success),
        s"$name, $k failures per file: $res")
      work.foreach { p =>
        assert(bytes(p.targetPath).sameElements(bytes(p.sourcePath)), s"$name: ${p.targetPath} differs")
        assert(FlakyFileSystem.createCalls(p.targetPath) == k + 1,
          s"$name: ${p.targetPath} created ${FlakyFileSystem.createCalls(p.targetPath)} times, expected ${k + 1}")
      }
    }
  }

  test("copy gives up after 5 attempts, naming a failing path") {
    for ((name, copy) <- entryPoints) {
      val work = flakyWork(s"flaky_fail_$name", 4)
      FlakyFileSystem.reset(Retry.MaxAttempts)
      val e = intercept[IllegalStateException](copy(work))
      assert(work.exists(p => e.getMessage.contains(p.sourcePath)), s"$name: ${e.getMessage}")
      // an attempt in which every file fails is retried, not abandoned
      work.foreach(p => assert(FlakyFileSystem.createCalls(p.targetPath) == Retry.MaxAttempts, name))
    }
  }

  test("a self-copy is refused before any create, leaving the file intact") {
    for ((name, copy) <- entryPoints) {
      val victim = flakyWork(s"flaky_self_$name", 1).head.sourcePath
      val before = bytes(victim)
      FlakyFileSystem.reset(0)
      intercept[IllegalStateException](copy(Seq(Paths(victim, victim))))
      assert(bytes(victim).sameElements(before), s"$name truncated $victim")
      assert(FlakyFileSystem.createCalls(victim) == 0, name)
    }
  }

  test("a clean copyFolder runs at most 2 jobs and one task per slot") {
    val src = sourceTree("cpjobs_src", 12)
    val trg = TestTree.newRoot("cpjobs_trg")
    val jobs, tasks = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        val r = DistributedExecution.copyFolder(src, trg)
        org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(res.length == 12 && res.forall(_.success))
    assert(jobs.get() <= 2, s"clean copy ran ${jobs.get()} jobs")
    val slots = spark.sparkContext.defaultParallelism
    assert(tasks.get() <= slots, s"clean copy ran ${tasks.get()} tasks on $slots slots")
  }

  test("synchronizeDistributed fails with a delete's InterruptedException as the cause") {
    // NonFatal rejects InterruptedException, and Spark does not treat it
    // as fatal to the executor: the task fails with it instead of the
    // delete being counted as one more failed item
    val src = FlakyFileSystem.flaky(sourceTree("sync_int_src", 3))
    val trg = FlakyFileSystem.flaky(sourceTree("sync_int_trg", 4)) // f3 is target-only
    FlakyFileSystem.reset(0)
    FlakyFileSystem.failDeletesWith(() => new InterruptedException("injected delete interrupt"))
    val e =
      try intercept[Exception](Delta.synchronizeDistributed(src, trg))
      finally FlakyFileSystem.reset(0)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[InterruptedException] &&
      c.getMessage == "injected delete interrupt"), e)
    assert(!causes.exists(c => Option(c.getMessage).exists(_.contains("deletes failed"))), e)
    assert(Files.exists(localPath(s"$trg/d0/f3.bin")), "the target-only file was deleted")
  }
}
