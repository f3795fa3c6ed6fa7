package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** A workload: its input and its unit of timed work (a maintenance cycle
  * or a query pass). One instance lives on one Spark session.
  */
trait Workload {
  /** Generate the input into set-up slot `k`; only the `last` copy is
    * kept.
    */
  def generate(k: Int, last: Boolean): Unit
  /** One-off set-up after the input exists. */
  def prepare(): Unit
  def unit(u: Int): Unit
  def isQuery: Boolean
  def inputFiles: Long
  def inputBytes: Long
  /** Per-unit facts for the traced report, keyed by (unit, name). */
  def facts: collection.Map[(Int, String), Double]
}

object Workloads {
  val names: Seq[String] = Seq("small_files", "query_mix")

  def apply(cfg: RunConfig, tracer: Tracer, ops: Ops)(implicit spark: SparkSession): Workload =
    cfg.workload match {
      case "small_files" => new SmallFiles(cfg, tracer, ops)
      case "query_mix" => new QueryWorkload(cfg, tracer, ops)
    }
}

/** 80 files of ~30 KB in 20 partition folders, cut from sf0.1 lineitem. */
final class SmallFiles(cfg: RunConfig, tracer: Tracer, ops: Ops)(implicit spark: SparkSession)
    extends Workload {
  private val root = cfg.work.resolve("data").resolve("input")
  private var cycle: FsCycle = _

  def generate(k: Int, last: Boolean): Unit = {
    val r = if (last) root else cfg.work.resolve("data").resolve(s"discard-$k")
    Trees.smallFiles(spark, s"${cfg.data}/sf0.1/lineitem.parquet", r, cfg.seed)
    if (!last) Trees.deleteTree(r)
  }
  def prepare(): Unit = {
    cycle = new FsCycle(root, cfg.seed, tracer, ops)
    cycle.prepare()
  }
  def unit(u: Int): Unit = cycle.run(u)
  val isQuery = false
  private lazy val input = TreeCheck.files(root.resolve("tree"))
  def inputFiles: Long = input.size.toLong
  def inputBytes: Long = input.values.sum
  def facts: collection.Map[(Int, String), Double] = cycle.facts
}

final class QueryWorkload(cfg: RunConfig, tracer: Tracer, ops: Ops)(implicit spark: SparkSession)
    extends Workload {
  private val sfDir = s"${cfg.data}/sf0.01"
  private val mix = new QueryMix(sfDir, cfg.seed, tracer, ops)
  private var expected: Map[String, (Long, Long, Long)] = Map.empty

  def generate(k: Int, last: Boolean): Unit = mix.load()
  def prepare(): Unit = {
    if (cfg.writeExpected) QueryMix.writeExpected(cfg.expected, mix.hashes())
    require(Files.exists(cfg.expected), s"no expected results at ${cfg.expected}")
    expected = QueryMix.readExpected(cfg.expected)
  }
  /** Warm-up passes also check every result. */
  def unit(u: Int): Unit = mix.pass(u, if (u < 0) Some(expected) else None)
  val isQuery = true
  def inputFiles: Long = QueryMix.Tables.size.toLong
  def inputBytes: Long =
    QueryMix.Tables.map(t => Files.size(java.nio.file.Paths.get(s"$sfDir/$t.parquet"))).sum
  def facts: collection.Map[(Int, String), Double] = Map.empty
}
