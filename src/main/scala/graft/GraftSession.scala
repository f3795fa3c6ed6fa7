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
  */
object GraftSession {

  /** Confs that must be present at session-build time. */
  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.speculation", "false") // fs copy tasks are side-effecting

  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
