package graft

import org.apache.spark.sql.SparkSession

/** Session defaults shared by Verify, Bench, tests and user sessions.
  *
  * Build-time confs (must be set before the session exists):
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — the `events` fixture
  *     stores `ts` as parquet TIMESTAMP(NANOS), which Spark's vectorized
  *     reader rejects outright; with this conf it surfaces as LongType
  *     (epoch nanos) and [[Cols.nanosToTs]] converts it.
  *   - shuffle partitions sized to the local core count, not the 200
  *     default (on a real cluster: ~2-3× total executor cores, or rely
  *     on AQE coalescing which is enabled by default in Spark 4).
  *   - `spark.sql.codegen.cache.maxEntries=1000` — Spark keeps the
  *     classes whole-stage codegen compiles in one JVM-wide LRU cache of
  *     100 entries by default. One pass of graft's iterative and
  *     multi-join queries needs more: the four-query bench mix (g12,
  *     d31, q04, t24 at sf0.01, `local[4]`) compiles 233 distinct
  *     classes, so at 100 each was evicted before its next use and every
  *     warm pass compiled ~216–247 classes again, 4.0–4.6 s of summed
  *     compile time (`CodegenMetrics`, CodeGenerator's log). At 1000 a
  *     warm pass compiles none, or the few classes a query-internal
  *     `.persist()` builds (t24: 0–4), and the mix's `cycle_s` fell by
  *     a quarter, for +2.5 MiB of retained heap (the cache keeps each
  *     class's source text). The conf is static and the cache is sized
  *     once, when `CodeGenerator` first loads in the JVM: a user who
  *     builds a session without this builder, or runs on a cluster
  *     (each executor JVM has its own cache), must set it at launch
  *     (`--conf spark.sql.codegen.cache.maxEntries=1000` or
  *     `spark-defaults.conf`).
  *   - `spark.ui.retainedJobs`, `spark.ui.retainedStages` and
  *     `spark.sql.ui.retainedExecutions` at 100, not 1000 — the status
  *     store keeps them even with the UI off, and a long session (the
  *     bench, a notebook) running ~100 jobs a pass grows its heap with
  *     every pass until it holds 1000; the cap took 1.2–2.0 MiB off the
  *     bench mix's retained heap.
  */
object GraftSession {

  /** Confs that must be present at session-build time. */
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.speculation", "false") // fs copy tasks are side-effecting

  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
