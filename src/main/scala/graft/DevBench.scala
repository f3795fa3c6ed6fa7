package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge

/** Dev-loop timing harness: times a subset of registered queries by name
  * (args) against SPARK_GRAFT_SF_DIR, printing per-pass seconds — the
  * single-query feedback loop Bench's 10-minute full suite is too slow
  * for. `--explain` additionally prints each query's formatted physical
  * plan (the shape the full Bench never shows).
  */
object DevBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val explain = args.contains("--explain")
    val countJobs = args.contains("--jobs")
    val names0 = args.filterNot(_.startsWith("--"))
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (names0.sameElements(Array("all")))
      SparkEntry.queries.keys.toSeq.sorted else names0.toSeq
    if (countJobs) {
      // jobs-per-query audit (r16 verdict task 6): run each query once
      // warm, once measured, and report how many jobs the single noop
      // action issued — every job beyond 1 is an eager materialization
      // (checkpoint/collect/broadcast-build) worth knowing about. A
      // listener counts job starts; draining the listener bus before
      // the reset and before the read makes the count exact. Next to
      // it: the classes Spark's code generator compiled during the
      // measured run, 0 when the codegen cache held the query's
      // working set from the first run (see GraftSession).
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      })
      names.foreach { name =>
        try {
          val fn = SparkEntry.queries(name)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          graft.ops.Blocks.sweep(spark)
          GraftSqlBridge.drainListeners(spark.sparkContext)
          jobs.set(0)
          val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
          GraftSqlBridge.drainListeners(spark.sparkContext)
          println(f"$name%-28s jobs: ${jobs.get}%4d  compiled: $compiled")
          graft.ops.Blocks.sweep(spark)
        } catch { case e: Throwable =>
          println(s"$name FAILED: ${e.getMessage}")
        }
      }
      spark.stop(); return
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) {
        println(s"==== $name plan ====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      val times = (0 to passes).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        if (i > 0) println(f"$name pass $i: $t%.3f s") // pass 0 = warmup
        // same seam hygiene as Bench's main loop — without it the
        // returned-checkpoint residue of iterative queries accumulates
        // across passes and the later passes measure block-manager
        // pressure, not the plan (observed: back-to-back g10 then g12
        // passes tripling 7 → 16 → 48 s; with the sweep both are flat)
        graft.ops.Blocks.sweep(spark)
        t
      }
      println(f"$name median: ${Bench.median(times.drop(1))}%.3f s")
    }
    spark.stop()
  }
}
