package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[BlocklistCounts]] semantics pin: greedy non-overlapping counts,
  * contractually identical to SQL `(length(t) − length(replace(t, p,
  * ''))) / length(p)` per pattern — the property the t32 DuckDB gate
  * relies on. The naive reference below IS that contract (repeated
  * indexOf stepping over each match).
  */
class BlocklistSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def naive(text: String, p: String): Long = {
    var i = 0; var c = 0L
    while ({ i = text.indexOf(p, i); i >= 0 }) { c += 1; i += p.length }
    c
  }

  private def ac(text: String, pats: Seq[String]): Seq[Long] =
    new AhoCorasick(pats.toArray).countGreedy(text).toSeq

  test("greedy non-overlap edges: self-overlap, nesting, adjacency") {
    // self-overlapping pattern: 4 occurrences of "aa" in "aaaaa" but
    // greedy non-overlap counts 2 (replace() semantics)
    assert(ac("aaaaa", Seq("aa")) == Seq(2L))
    assert(ac("aaaa", Seq("aa")) == Seq(2L))
    assert(ac("aaa", Seq("aa")) == Seq(1L))
    // "table table table": matches at 0 and 6 overlap — greedy keeps 1
    assert(ac("table table table", Seq("table table")) == Seq(1L))
    // nested patterns count independently
    assert(ac("fast table", Seq("fast", "fast table", "table")) ==
      Seq(1L, 1L, 1L))
    // adjacency is NOT overlap
    assert(ac("abab", Seq("ab")) == Seq(2L))
    // no match, empty text
    assert(ac("xyz", Seq("ab")) == Seq(0L))
    assert(ac("", Seq("ab")) == Seq(0L))
  }

  test("randomized: AC counts == per-pattern indexOf stepping, small alphabet") {
    val rnd = new scala.util.Random(42)
    val pats = Seq("ab", "aba", "ba", "aab", "b", "abab")
    for (_ <- 0 until 300) {
      val text = (0 until rnd.nextInt(40)).map(_ =>
        if (rnd.nextBoolean()) 'a' else 'b').mkString
      val got = ac(text, pats)
      val want = pats.map(naive(text, _))
      assert(got == want, s"text='$text': ac=$got naive=$want")
    }
  }

  test("duplicate patterns are rejected loudly") {
    intercept[IllegalArgumentException] {
      new AhoCorasick(Array("ab", "ab"))
    }
  }

  test("codegen path == direct machine; nulls propagate; SQL-callable; plan is UDF-free") {
    import spark.implicits._
    val pats = Seq("fast", "fast table", "table table")
    val df = Seq(
      "fast table table fast",
      "table table table",
      "nothing here").toDF("text")
    val viaPlan = df
      .select(GraftFunctions.graftBlocklist(col("text"), pats))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val direct = Seq("fast table table fast", "table table table", "nothing here")
      .map(t => ac(t, pats))
    assert(viaPlan == direct, "whole-stage codegen drifted from countGreedy")
    GraftFunctions.ensureRegistered(spark) // SQL text needs the names
    val sqlRow = spark.sql(
      "SELECT graft_blocklist('aaaa', array('aa'))").head.getSeq[Long](0)
    assert(sqlRow == Seq(2L))
    val withNull = Seq(Option.empty[String]).toDF("text")
      .select(GraftFunctions.graftBlocklist(col("text"), pats)).head
    assert(withNull.isNullAt(0), "null text must yield null, not zeros")
    val plan = df.select(GraftFunctions.graftBlocklist(col("text"), pats))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("udf"),
      s"blocklist must be a native expression:\n$plan")
  }

  test("blocklistHits operator: hit-cardinality rows, pattern text attached") {
    import spark.implicits._
    val docs = Seq(
      (1L, "fast table and a fast one"),
      (2L, "table table table"),
      (3L, "clean")).toDF("doc_id", "text")
    val hits = graft.ext.TextOps.blocklistHits(
      docs, Seq("fast", "table table"))
      .orderBy("doc_id", "pattern_id")
      .as[(Long, Int, String, Long)].collect().toSeq
    assert(hits == Seq(
      (1L, 0, "fast", 2L),
      (2L, 1, "table table", 1L)))
  }
}
