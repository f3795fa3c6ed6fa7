package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path => JPath, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkInternals
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  *   --workload small_files|query_mix  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --results DIR  --expected FILE
  *   [--data DIR]           (holds sf0.1 and sf0.01; default: the parent of
  *                           the fixture folder graft's SparkEntry.entry reads)
  *   [--write-expected 1]   (query_mix: record the expected results first)
  *
  * A run sets up three times, each time with a new session and a new copy
  * of the input from the seed, and keeps the last; set-up time is the
  * median. It then runs unmeasured warm-up units and a fixed number of
  * timed units: `--seconds` divided by `UnitSeconds`, at least two. A fixed
  * count keeps two commits doing the same work even when one of them is
  * faster. It prints one artifact line (environment header, per-step
  * medians) and, last, the result line.
  */
object Main {

  val SetupRepeats = 3
  val WarmupUnits = 1
  /** About how long one timed unit takes on a 4-core machine. */
  val UnitSeconds = 7.5

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload; one of ${Workloads.names.mkString(", ")}")
    val cfg = RunConfig(workload, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Paths.get(a("work")).toAbsolutePath, Paths.get(a("results")).toAbsolutePath,
      a.get("data"), Paths.get(a("expected")).toAbsolutePath, a.get("write-expected").contains("1"))
    val exit = try run(cfg) finally Trees.deleteTree(cfg.work.resolve("data"))
    System.out.flush()
    sys.exit(exit)
  }

  def run(cfg: RunConfig): Int = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    def session(): SparkSession = {
      var builder = GraftSession.builder(s"local[$cores]", cores)
        .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
        .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      if (cfg.trace) builder = builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      val s = builder.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def seconds(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    val ops = new Ops
    var spark: SparkSession = null
    try {
      var tracer: Tracer = null
      var w: Workload = null
      val sessionS, genS = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (k <- 0 until SetupRepeats) {
        val last = k == SetupRepeats - 1
        sessionS += seconds { spark = session() }
        tracer = new Tracer(cfg.trace, spark)
        w = Workloads(cfg, tracer, ops)(spark)
        genS += seconds(w.generate(k, last))
        if (!last) spark.stop()
      }
      if (cfg.trace) {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
        require(fs.isInstanceOf[CountingFileSystem], s"file: resolves to ${fs.getClass}, not the counting FileSystem")
      }
      val setupS = Stats.median(sessionS.indices.map(k => sessionS(k) + genS(k))) + seconds(w.prepare())
      (1 to WarmupUnits).foreach { k => tracer.unit = -k; w.unit(-k) }
      // Retained heap: used heap after a full collection at the end of
      // each timed unit, outside the unit's spans. The raw peak of used
      // heap only tracks how far G1 lets eden grow, which is the heap size.
      val memory = ManagementFactory.getMemoryMXBean
      val retainedMb = scala.collection.mutable.ArrayBuffer.empty[Double]
      settle()
      val units = math.max(2, math.round(cfg.seconds / UnitSeconds).toInt)
      // The traced run adds as many units with the probes detached, in the
      // order probed, plain, plain, probed, ...; their time against the
      // probed units' is the tracing overhead, with a steady drift cancelled.
      for (u <- 0 until (if (cfg.trace) 2 * units else units)) {
        tracer.probing = cfg.trace && (u % 4 == 0 || u % 4 == 3)
        tracer.unit = u; w.unit(u)
        settle()
        retainedMb += memory.getHeapMemoryUsage.getUsed / 1048576.0
      }
      val report = new Report(cfg, cores, tracer, w)
      val e2e = ListMap("setup_s" -> setupS, "cycle_s" -> report.unitSeconds, "peak_heap_mb" -> retainedMb.max)
      val metrics = if (cfg.trace) report.perLayer else e2e
      val artifact = ListMap(
        "env" -> report.env(spark, sessionS.toSeq, genS.toSeq),
        "end_to_end" -> e2e,
        "steps" -> report.stepMedians,
        "unit_s" -> report.allUnitSeconds,
        "unit_quartiles_s" -> report.unitQuartiles,
        "units" -> units)
      if (cfg.trace) report.writeSpans()
      println(json(ListMap("artifact" -> artifact)))
      println(result(ops, metrics))
      if (ops.failed == 0) 0 else 1
    } catch {
      case e: Throwable =>
        ops.fail(s"run aborted: $e")
        e.printStackTrace()
        println(result(ops, ListMap.empty))
        1
    } finally if (spark != null) spark.stop()
  }

  /** Collect until three readings in a row of the number of cached and
    * broadcast blocks Spark's block manager holds agree. `Blocks.sweep`
    * unpersists without blocking, and Spark's ContextCleaner drops a
    * broadcast on its own thread only after a collection found it
    * unreachable, so one collection can leave either in the heap.
    */
  private def settle(): Unit = {
    var counts = List.empty[Int]
    while (counts.size < 10 && !(counts.size >= 3 && counts.take(3).distinct.size == 1)) {
      System.gc()
      Thread.sleep(200)
      counts = SparkInternals.storedBlocks() :: counts
    }
    System.gc()
  }

  def result(ops: Ops, metrics: ListMap[String, Double]): String = {
    metrics.foreach { case (k, v) => require(!v.isNaN && !v.isInfinite, s"$k is not a number: $v") }
    json(ListMap(
      "correct" -> (ops.failed == 0 && metrics.nonEmpty),
      "attempted" -> math.max(ops.attempted, 1L),
      "failed" -> ops.failed,
      "metrics" -> metrics.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> Metrics.unit(k)) }))
  }
}

final case class RunConfig(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: JPath, results: JPath, dataOption: Option[String], expected: JPath, writeExpected: Boolean) {
  /** The folder of fixture scales; by default the one graft's own flagship
    * query reads from (`<data>/sf0.001/...`).
    */
  def data(implicit spark: SparkSession): String = dataOption.getOrElse {
    val f = new org.apache.hadoop.fs.Path(graft.SparkEntry.entry(spark).inputFiles.head)
    f.getParent.getParent.toUri.getPath
  }
}
