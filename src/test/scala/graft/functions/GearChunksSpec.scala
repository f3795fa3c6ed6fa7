package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

class GearChunksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private def chunkSpans(s: String, maskBits: Int = 6): Seq[(Int, Int)] = {
    val arr = GearChunks(org.apache.spark.sql.catalyst.expressions.Literal(s), maskBits)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 2); (r.getInt(0), r.getInt(1))
    }
  }

  test("chunks partition the text exactly: contiguous spans, lens sum to length, empty text empty") {
    val docs = Tables.documents(spark, sf)
    val bad = docs.select(col("doc_id"), length(col("text")).as("n"),
        GraftFunctions.graftGearChunks(col("text"), 6).as("cs"))
      .select(col("doc_id"), col("n"),
        expr("aggregate(cs, 0, (a, c) -> a + c.len)").as("sum_len"),
        expr("cs[0].start").as("first_start"),
        // spans are contiguous: every chunk's start == previous end
        expr("forall(zip_with(slice(cs, 2, size(cs) - 1), slice(cs, 1, size(cs) - 1), " +
          "(nxt, prv) -> nxt.start = prv.start + prv.len), x -> x)").as("contig"))
      .filter(col("sum_len") =!= col("n") || col("first_start") =!= 0 || !col("contig"))
    assert(bad.count() == 0, s"non-partitioning chunking: ${bad.head(3).mkString(";")}")
    assert(chunkSpans("").isEmpty, "empty text must chunk to nothing")
    // single codepoint: one chunk covering it
    assert(chunkSpans("a") == Seq((0, 1)))
  }

  test("shift-robustness: a 40-char head edit preserves tail chunks; fixed-size blocks lose everything") {
    val doc = ("the quick brown fox jumps over the lazy dog and keeps going " * 6).trim
    val edited = ("X" * 40) + doc
    def contentChunks(s: String): Set[String] =
      chunkSpans(s).map { case (st, ln) => s.substring(st, st + ln) }.toSet
    val shared = contentChunks(doc).intersect(contentChunks(edited))
    assert(shared.nonEmpty,
      "gear cut points failed to re-align after a head insertion")
    // the baseline CDC replaces: fixed 64-char blocks share NOTHING
    // after a 40-char shift (no block boundary re-aligns)
    def blocks(s: String): Set[String] = s.grouped(64).toSet
    assert(blocks(doc).intersect(blocks(edited)).isEmpty,
      "fixed blocks unexpectedly survived the shift — test fixture broken")
    // the hash window is exactly 31 codepoints: identical suffixes give
    // identical hash sequences once 31 chars deep, so every shared
    // chunk lies wholly inside the common suffix
    shared.foreach(c => assert(doc.contains(c) && edited.contains(c)))
  }

  test("deterministic; codegen path == direct eval; SQL-callable") {
    val docs = Tables.documents(spark, sf).limit(50).cache()
    val viaDf = docs.select(col("doc_id"),
        GraftFunctions.graftGearChunks(col("text"), 6).as("cs"))
      .select(col("doc_id"), expr("size(cs)").as("n"),
        expr("aggregate(cs, 0, (a, c) -> a + c.len)").as("sl"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val direct = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val spans = chunkSpans(r.getString(1))
      r.getLong(0) -> (spans.size, spans.map(_._2).sum)
    }.toMap
    assert(viaDf == direct, "codegen path diverged from direct eval")
    GraftFunctions.ensureRegistered(spark) // SQL text needs the names
    val viaSql = docs.sparkSession.sql(
      "SELECT size(graft_gear_chunks('abc def ghi jkl', 3)) AS n").head.getInt(0)
    assert(viaSql == chunkSpans("abc def ghi jkl", 3).size)
    docs.unpersist()
  }
}
