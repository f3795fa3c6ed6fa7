package perfbench

import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Metric names and units, in the order they are printed. */
object Metrics {
  val endToEnd: ListMap[String, String] =
    ListMap("setup_s" -> "s", "cycle_s" -> "s", "peak_heap_mb" -> "MiB")

  val perLayer: ListMap[String, String] = ListMap(
    // graft.fs copy
    "fs.copy.jobs" -> "count", "fs.copy.tasks" -> "count", "fs.copy.task_deser_s" -> "s",
    "fs.copy.task_run_s" -> "s", "fs.copy.driver_s" -> "s", "fs.copy.attempts" -> "ratio",
    // graft.fs diff and sync
    "fs.diff_s" -> "s", "fs.diff.jobs" -> "count", "fs.sync.deleted" -> "count",
    "fs.sync.copied" -> "count", "fs.sync.jobs" -> "count",
    // graft.fs metadata
    "fs.list_s" -> "s", "fs.move_s" -> "s", "fs.move.renames" -> "count", "fs.delete_s" -> "s",
    // storage: the counting FileSystem on file:
    "storage.list_calls" -> "count", "storage.stat_calls" -> "count", "storage.open_calls" -> "count",
    "storage.create_calls" -> "count", "storage.rename_calls" -> "count", "storage.delete_calls" -> "count",
    "storage.bytes_read" -> "B", "storage.bytes_written" -> "B", "storage.write_amp" -> "ratio",
    // graft.compact
    "compact.jobs" -> "count", "compact.folders" -> "count", "compact.files_in" -> "count",
    "compact.files_out" -> "count", "compact.bytes_rewritten" -> "B",
    // graft.promotor and graft.meta
    "promote_s" -> "s", "promote.files" -> "count", "meta.refresh_s" -> "s", "meta.validate_s" -> "s",
    // baseline: Spark's own read -> write, not graft
    "baseline.rewrite_s" -> "s", "copy_vs_rewrite" -> "ratio",
    // steps, as the traced run sees them
    "copy_s" -> "s", "sync_s" -> "s", "compact_s" -> "s", "pass_s" -> "s",
    "iterative_s" -> "s", "scan_s" -> "s") ++
    // graft.queries
    ListMap(QueryMix.All.flatMap(q => Seq(s"q.${q}_s" -> "s", s"q.$q.jobs" -> "count")): _*) ++ ListMap(
    "query.build_s" -> "s", "query.action_s" -> "s",
    // Spark scheduler and executors
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.task_deser_s" -> "s", "spark.shuffle_write_mb" -> "MiB", "spark.fetch_wait_s" -> "s",
    "spark.spill_mb" -> "MiB", "spark.slot_util" -> "ratio", "spark.driver_residue_s" -> "s",
    // planner
    "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.planning_s" -> "s",
    // self time per layer, and the tracing itself
    "self.fs_s" -> "s", "self.compact_s" -> "s", "self.promotor_s" -> "s", "self.meta_s" -> "s",
    "self.baseline_s" -> "s", "self.queries_s" -> "s",
    "trace.overhead_s" -> "s", "trace.spans" -> "count")

  def unit(name: String): String = endToEnd.getOrElse(name, perLayer(name))
}

/** Turns the spans of a run into its figures. Counts come from the first
  * timed unit, which is the same work on every run with the same seed, so
  * they repeat exactly; times are medians over the timed units. In the
  * traced run the timed units are the probed ones; its units without
  * probes only serve the tracing overhead.
  */
final class Report(cfg: RunConfig, cores: Int, tracer: Tracer, w: Workload) {
  private val MiB = 1048576.0
  private val all = tracer.spans
  private val timed = all.filter(s => s.unit >= 0 && s.probed == cfg.trace)
  val units: Seq[Int] = timed.map(_.unit).distinct.sorted
  private val first = units.head
  private val byUnit: Map[Int, Seq[Span]] = timed.groupBy(_.unit)
  private def top(u: Int): Seq[Span] = byUnit(u).filter(_.parent == -1)
  private val StepLayers = Set("fs", "compact", "promotor", "meta")

  /** The spans one unit's time is summed over: graft's steps of a cycle,
    * or the queries of a pass.
    */
  private def isWork(s: Span): Boolean =
    s.parent == -1 && (if (w.isQuery) s.layer == "queries" else StepLayers(s.layer))
  private def work(u: Int): Seq[Span] = byUnit(u).filter(isWork)
  private def named(u: Int, layer: String, name: String): Seq[Span] =
    top(u).filter(s => s.layer == layer && s.name == name)
  private def sec(sp: Seq[Span]): Double = sp.map(_.seconds).sum
  private def c(sp: Seq[Span], key: String): Double = sp.map(_.counts.getOrElse(key, 0.0)).sum
  private def med(f: Int => Double): Double = Stats.median(units.map(f))
  private def secs(layer: String, name: String): Double = med(u => sec(named(u, layer, name)))
  private def fact(u: Int, name: String): Double = w.facts.getOrElse((u, name), 0.0)
  private def groupSeconds(names: Seq[String]): Double =
    med(u => names.map(n => sec(named(u, "queries", n))).sum)

  val unitSeconds: Double = med(u => sec(work(u)))

  /** Quartiles of the timed units' times: the spread within one run. */
  def unitQuartiles: Seq[Double] = {
    val (q1, q2, q3) = Stats.quartiles(units.map(u => sec(work(u))))
    Seq(q1, q2, q3)
  }

  /** Every unit's time, warm-up units (negative indices) first. */
  def allUnitSeconds: ListMap[String, Double] = {
    val units = all.filter(isWork).groupBy(_.unit)
    ListMap(units.keys.toSeq.sorted.map(u => u.toString -> sec(units(u))): _*)
  }

  /** Median unit time of the traced run's units without probes. */
  private def plainUnitSeconds: Double = {
    val plain = all.filter(s => s.unit >= 0 && !s.probed && isWork(s)).groupBy(_.unit)
    Stats.median(plain.values.map(sec).toSeq)
  }

  def stepMedians: ListMap[String, Double] =
    if (w.isQuery)
      ListMap("pass_s" -> unitSeconds, "iterative_s" -> groupSeconds(QueryMix.Iterative),
        "scan_s" -> groupSeconds(QueryMix.Scan)) ++
        ListMap(QueryMix.All.map(q => s"q.${q}_s" -> secs("queries", q)): _*)
    else {
      val steps = top(first).map(s => s.layer -> s.name).distinct
      ListMap(steps.map { case (l, n) => s"$l.${n}_s" -> secs(l, n) }: _*)
    }

  def perLayer: ListMap[String, Double] = {
    val m = mutable.LinkedHashMap(Metrics.perLayer.keys.map(_ -> 0.0).toSeq: _*)
    if (!w.isQuery) {
      def copy(u: Int) = named(u, "fs", "copy")
      m("fs.copy.jobs") = c(copy(first), "jobs")
      m("fs.copy.tasks") = c(copy(first), "tasks")
      m("fs.copy.task_deser_s") = med(u => c(copy(u), "task_deser_s"))
      m("fs.copy.task_run_s") = med(u => c(copy(u), "task_run_s"))
      m("fs.copy.driver_s") = med(u => sec(copy(u)) - c(copy(u), "task_run_s") / cores)
      m("fs.copy.attempts") = c(copy(first), "storage.create_calls") / fact(first, "copy_files")
      m("fs.diff_s") = secs("fs", "diff")
      m("fs.diff.jobs") = c(named(first, "fs", "diff"), "jobs")
      val sync = named(first, "fs", "sync")
      m("fs.sync.deleted") = c(sync, "storage.delete_calls")
      m("fs.sync.copied") = c(sync, "storage.create_calls")
      m("fs.sync.jobs") = c(sync, "jobs")
      m("fs.list_s") = secs("fs", "list")
      m("fs.move_s") = secs("fs", "move")
      m("fs.move.renames") = c(named(first, "fs", "move"), "storage.rename_calls")
      m("fs.delete_s") = secs("fs", "delete")
      val compact = named(first, "compact", "compact")
      m("compact.jobs") = c(compact, "jobs")
      m("compact.folders") = fact(first, "compact_folders")
      m("compact.files_in") = fact(first, "compact_files_in")
      m("compact.files_out") = fact(first, "compact_files_out")
      m("compact.bytes_rewritten") = c(compact, "storage.bytes_written")
      m("promote_s") = secs("promotor", "promote")
      m("promote.files") = fact(first, "promote_files")
      m("meta.refresh_s") = secs("meta", "refresh")
      m("meta.validate_s") = secs("meta", "validate")
      m("baseline.rewrite_s") = secs("baseline", "rewrite")
      m("copy_vs_rewrite") = secs("fs", "copy") / m("baseline.rewrite_s")
      m("copy_s") = secs("fs", "copy")
      m("sync_s") = secs("fs", "sync")
      m("compact_s") = secs("compact", "compact")
      m("storage.write_amp") = c(work(first), "storage.bytes_written") / fact(first, "tree_bytes")
    } else {
      QueryMix.All.foreach { q =>
        m(s"q.${q}_s") = secs("queries", q)
        m(s"q.$q.jobs") = c(named(first, "queries", q), "jobs")
      }
      def inner(u: Int, name: String) = byUnit(u).filter(s => s.parent != -1 && s.name == name)
      m("query.build_s") = med(u => sec(inner(u, "build")))
      m("query.action_s") = med(u => sec(inner(u, "action")))
      m("pass_s") = unitSeconds
      m("iterative_s") = groupSeconds(QueryMix.Iterative)
      m("scan_s") = groupSeconds(QueryMix.Scan)
    }
    val unit0 = work(first)
    Seq("list_calls", "stat_calls", "open_calls", "create_calls", "rename_calls", "delete_calls",
      "bytes_read", "bytes_written").foreach(k => m(s"storage.$k") = c(unit0, s"storage.$k"))
    Seq("jobs", "stages", "tasks").foreach(k => m(s"spark.$k") = c(unit0, k))
    Seq("task_run_s", "task_cpu_s", "task_gc_s", "task_deser_s", "fetch_wait_s")
      .foreach(k => m(s"spark.$k") = med(u => c(work(u), k)))
    m("spark.shuffle_write_mb") = med(u => c(work(u), "shuffle_write_b")) / MiB
    m("spark.spill_mb") = med(u => c(work(u), "spill_b")) / MiB
    m("spark.slot_util") = med(u => c(work(u), "task_run_s") / (sec(work(u)) * cores))
    m("spark.driver_residue_s") = med(u => sec(work(u)) - c(work(u), "task_run_s") / cores)
    m("plan.analysis_s") = med(u => c(work(u), "plan_analysis_s"))
    m("plan.optimizer_s") = med(u => c(work(u), "plan_optimizer_s"))
    m("plan.planning_s") = med(u => c(work(u), "plan_planning_s"))
    Seq("fs", "compact", "promotor", "meta", "baseline", "queries").foreach { l =>
      m(s"self.${l}_s") = med(u => byUnit(u).filter(_.layer == l).map(tracer.selfSeconds).sum)
    }
    m("trace.overhead_s") = unitSeconds - plainUnitSeconds
    m("trace.spans") = byUnit(first).size.toDouble
    ListMap(m.toSeq: _*)
  }

  def env(spark: SparkSession, sessionS: Seq[Double], genS: Seq[Double]): ListMap[String, Any] = ListMap(
    "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace, "seconds" -> cfg.seconds,
    "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> spark.sparkContext.master,
    "cores" -> cores, "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / MiB,
    "java" -> System.getProperty("java.version"), "scala" -> scala.util.Properties.versionNumberString,
    "spark" -> spark.version, "warmup_units" -> Main.WarmupUnits, "timed_units" -> units.size,
    "input_files" -> w.inputFiles, "input_bytes" -> w.inputBytes,
    "session_s" -> sessionS, "generate_s" -> genS) ++
    (if (cfg.trace) ListMap("plain_unit_s" -> plainUnitSeconds) else ListMap.empty)

  /** All spans of the run, one JSON object a line. */
  def writeSpans(): Unit = {
    val run = s"${cfg.workload}-${cfg.seed}-${ProcessHandle.current.pid}"
    val lines = all.map(s => Main.json(ListMap("run" -> run, "id" -> s.id, "parent" -> s.parent, "unit" -> s.unit,
      "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "probed" -> s.probed, "self_s" -> tracer.selfSeconds(s), "counts" -> s.counts)))
    Files.createDirectories(cfg.results)
    Files.write(cfg.results.resolve(s"spans-${cfg.workload}-seed${cfg.seed}.jsonl"), lines.asJava)
  }
}
