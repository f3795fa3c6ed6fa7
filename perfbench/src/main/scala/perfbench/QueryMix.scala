package perfbench

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed list of registry queries, each run to the `noop` sink with
  * `Blocks.sweep` after it, as graft's own bench runs them.
  */
final class QueryMix(sfDir: String, seed: Long, tracer: Tracer, ops: Ops)(
    implicit spark: SparkSession) {
  import QueryMix._

  private val registry = SparkEntry.queries

  /** Open every input table (schema from the parquet footer): the
    * input half of set-up. The tables themselves are fixed.
    */
  def load(): Unit = Tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)

  /** One pass in a seeded order. With `expected` (a warm-up pass), each
    * result is also checked against its row count and hash after it has
    * gone to `noop`, outside the query's span, so warm-up runs the same
    * action the timed passes run.
    */
  def pass(index: Int, expected: Option[Map[String, (Long, Long, Long)]]): Unit = {
    val order = new scala.util.Random(seed * 31L + index).shuffle(All)
    order.foreach { name =>
      val df = tracer.span("queries", name) {
        val df = tracer.span("queries", "build")(ops.call(s"$name build")(registry(name)(spark, sfDir)))
        tracer.span("queries", "action")(ops.call(s"$name action") {
          df.write.format("noop").mode("overwrite").save()
        })
        df
      }
      expected.foreach { e =>
        val got = ops.call(s"$name check")(TreeCheck.rowHash(df))
        ops.expect(s"$name result", e.get(name).contains(got), s"got $got, expected ${e.get(name)}")
      }
      graft.ops.Blocks.sweep(spark)
    }
  }

  /** Row count and hash of every query, for the expected-results file. */
  def hashes(): Map[String, (Long, Long, Long)] =
    All.map { name =>
      val h = TreeCheck.rowHash(registry(name)(spark, sfDir))
      graft.ops.Blocks.sweep(spark)
      name -> h
    }.toMap
}

object QueryMix {
  /** Queries that run many small jobs: driver and scheduler latency. */
  val Iterative: Seq[String] = Seq("g12_hits_converged", "d31_leakage_split")
  /** Queries that scan, join and shuffle: the data plane. */
  val Scan: Seq[String] = Seq("q04_star_join", "t24_perplexity_buckets")
  val All: Seq[String] = Iterative ++ Scan
  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
    "region", "documents", "embeddings", "events")

  /** `name count lowSum highSum` per line. */
  def readExpected(p: JPath): Map[String, (Long, Long, Long)] =
    scala.io.Source.fromFile(p.toFile).getLines().filter(_.trim.nonEmpty).map { l =>
      val Array(n, c, lo, hi) = l.trim.split("\\s+")
      n -> (c.toLong, lo.toLong, hi.toLong)
    }.toMap

  def writeExpected(p: JPath, h: Map[String, (Long, Long, Long)]): Unit =
    Files.writeString(p, All.map { n => val (c, lo, hi) = h(n); s"$n $c $lo $hi" }.mkString("", "\n", "\n"))
}
