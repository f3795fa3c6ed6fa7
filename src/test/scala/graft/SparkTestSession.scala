package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object SparkTestSession {
  // One shared session across all suites (sbt forks one test JVM).
  lazy val spark: SparkSession = {
    val wh = Files.createTempDirectory("graft_warehouse").toFile.getAbsolutePath
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it started. */
  def withJobCount[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s result and the number of classes Spark's code generator
    * compiled while it ran. A class found in the codegen cache is not
    * compiled again, so on a warm cache this is 0. The counter is
    * JVM-wide: `body` must be the only code running Spark.
    */
  def withCompileCount[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
