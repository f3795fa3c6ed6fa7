package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The [[JaroWinklerSim]] semantics pin: values are the DuckDB
  * `jaro_winkler_similarity` outputs verbatim (the d30 gate
  * hash-compares rounded scores cross-engine, so the Expression is
  * contractually DuckDB-exact, including the edges DuckDB resolves
  * away from some textbook forms).
  */
class JaroWinklerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  // (a, b, DuckDB jaro_winkler_similarity(a, b))
  private val pinned = Seq(
    ("martha", "marhta", 0.9611111111111111),       // one transposition + boost
    ("dixon", "dicksonx", 0.8133333333333332),      // classic Winkler example
    ("jellyfish", "smellyfish", 0.8962962962962964),// no common prefix: boost l=0
    ("dwayne", "duane", 0.8400000000000001),        // boost over threshold
    ("ab", "ba", 0.0),                              // window 0: nothing matches
    ("abc", "xyz", 0.0),                            // m = 0
    ("abc", "abc", 1.0),                            // identical nonempty
    ("", "", 0.0),                                  // DuckDB: empty → 0, even both
    ("", "abc", 0.0),
    ("abc", "", 0.0))

  test("compute matches DuckDB's jaro_winkler_similarity on pinned cases (bit-exact)") {
    pinned.foreach { case (a, b, want) =>
      val got = JaroWinklerSim.compute(a, b)
      assert(got == want, s"jw($a, $b) = $got, DuckDB says $want")
    }
  }

  test("codegen path == interpreted compute; nulls propagate; SQL-callable") {
    import spark.implicits._
    val df = pinned.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val viaPlan = df.select(GraftFunctions.graftJaroWinkler(col("a"), col("b")))
      .collect().map(_.getDouble(0)).toSeq
    assert(viaPlan == pinned.map(_._3), "whole-stage codegen drifted from compute()")
    GraftFunctions.ensureRegistered(spark) // SQL text needs the names
    val sqlRow = spark.sql("SELECT graft_jaro_winkler('martha', 'marhta')")
      .head.getDouble(0)
    assert(sqlRow == 0.9611111111111111)
    val withNull = Seq((Some("abc"), None: Option[String])).toDF("a", "b")
      .select(GraftFunctions.graftJaroWinkler(col("a"), col("b"))).head
    assert(withNull.isNullAt(0), "null input must yield null, not a score")
  }

  test("ranking property: JW separates ties that edit distance cannot") {
    // both candidates are levenshtein 1 from the probe; JW prefers the
    // prefix-preserving one — the reason d30 exists
    val probe = "small ring-Brand#2-37"
    val samePrefix = "small ring-Brand#2-38" // last char substituted
    val earlyEdit = "xmall ring-Brand#2-37"  // first char substituted
    val sp = JaroWinklerSim.compute(probe, samePrefix)
    val ee = JaroWinklerSim.compute(probe, earlyEdit)
    assert(sp > ee,
      s"prefix-preserving candidate must outrank the early edit ($sp vs $ee)")
  }
}
