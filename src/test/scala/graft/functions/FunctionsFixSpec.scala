package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ext.Similarity

/** Regression specs for the round-1 ADVICE findings in graft.functions. */
class FunctionsFixSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("nanosToTs is exact integer floor division (ADVICE r1: double rounding at ~1.7e18)") {
    import spark.implicits._
    // epoch-nano longs exceed double's 2^53 exact range; sweep a window
    // where double division is off by 1µs for some residues
    val base = 1700000000000000000L
    val nanos = (0 until 4096).map(i => base + i) ++ (0 until 64).map(i => base + i * 1000L)
    val got = nanos.toDF("n")
      .select($"n", unix_micros(Cols.nanosToTs($"n")).as("us"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, us) =>
      assert(us == n / 1000L, s"nanos $n -> $us, expected ${n / 1000L}")
    }
  }

  test("nanosToTs floors negative (pre-1970) nanos instead of truncating (ADVICE r2)") {
    import spark.implicits._
    val nanos = Seq(-1L, -999L, -1000L, -1001L, -1999L, -2000L,
      -1700000000000000001L, -1700000000000000999L, 0L, 1L, 999L)
    val got = nanos.toDF("n")
      .select($"n", unix_micros(Cols.nanosToTs($"n")).as("us"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, us) =>
      val floor = Math.floorDiv(n, 1000L)
      assert(us == floor, s"nanos $n -> $us, expected floor $floor")
    }
  }

  test("registered graft functions are callable from SQL text") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_fingerprint('a b c d', 3) AS fp, graft_simhash('a b c') AS sh, " +
      "size(graft_shingles('a b c d', 3)) AS n, graft_dot(array(1.0F,2.0F), array(3.0F,4.0F)) AS d")
      .head
    assert(r.getString(0).length == 32)
    assert(r.getInt(2) == 2)
    assert(math.abs(r.getDouble(3) - 11.0) < 1e-12)
  }

  test("ensureRegistered keys on the session registry, not an identity hash (ADVICE r1)") {
    val s1 = spark
    val s2 = spark.newSession() // fresh sessionState => fresh FunctionRegistry
    GraftFunctions.ensureRegistered(s1)
    GraftFunctions.ensureRegistered(s1) // idempotent on the same session
    GraftFunctions.ensureRegistered(s2)
    for (s <- Seq(s1, s2)) {
      import s.implicits._
      // the helpers below need no registration, so check the names directly
      assert(s.catalog.functionExists("graft_dot"))
      val d = Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
        .select(GraftFunctions.graftDot($"a", $"b").as("d"))
        .head.getDouble(0)
      assert(math.abs(d - 11.0) < 1e-12)
    }
  }

  /** A few rows covering every helper's input type, one with null text. */
  private def parityRows(s: SparkSession): DataFrame = {
    import s.implicits._
    val warc = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u1\r\n" +
      "Content-Length: 5\r\n\r\nhello\r\n\r\n"
    Seq(
      (1L, Option("the quick brown fox jumps over the lazy dog"), Option("the quick brown fax"),
        Seq(1f, 2f), Seq(3f, 4f), Seq(1L, 2L, 3L), 0.25, 1.5, warc),
      (2L, Option("Cafe\u0301 na\u00efve \u2014 the table table"), Option("cafe"),
        Seq(0.5f, -1f), Seq(2f, 8f), Seq(7L), 0.75, 0.0, "not a container"),
      (3L, None, None, Seq.empty[Float], Seq.empty[Float], Seq.empty[Long], 0.0, 3.0, ""))
      .toDF("id", "t", "u", "a", "b", "s", "x", "y", "w")
  }

  /** Each registered SQL name, called from SQL text, beside its Column helper. */
  private val parityCases: Seq[(String, Column)] = {
    import GraftFunctions._
    Seq(
      "graft_dot(a, b)" -> graftDot(col("a"), col("b")),
      "graft_shingles(t, 3)" -> graftShingles(col("t"), 3),
      "graft_text_metrics(t)" -> graftTextMetrics(col("t")),
      "graft_simhash(t)" -> graftSimhash(col("t")),
      "graft_simhash_md5(t)" -> graftSimhashMd5(col("t")),
      "graft_minhashes(s, 4)" -> graftMinhashes(col("s"), 4),
      "graft_fingerprint(t, 3)" -> graftFingerprint(col("t"), 3),
      "graft_morton(array(array(0.0D, 0.5D), array(1.0D, 2.0D)), x, y)" ->
        graftMorton(Array(Array(0.0, 0.5), Array(1.0, 2.0)), Seq(col("x"), col("y"))),
      "graft_nfc(t)" -> graftNfc(col("t")),
      "graft_byte_remap(t)" -> graftByteRemap(col("t")),
      "graft_warc_records(w)" -> graftWarcRecords(col("w")),
      "graft_jaro_winkler(t, u)" -> graftJaroWinkler(col("t"), col("u")),
      "graft_blocklist(t, array('the', 'table table'))" ->
        graftBlocklist(col("t"), Seq("the", "table table")),
      "graft_gear_chunks(t, 3)" -> graftGearChunks(col("t"), 3))
  }

  test("Column helpers need no registration: a fresh session evaluates all of them") {
    val fresh = spark.newSession() // fresh sessionState => fresh FunctionRegistry
    val out = parityRows(fresh).orderBy("id")
      .select(parityCases.map(_._2) :+
        Similarity.hyperplaneSignature(col("a"), dim = 2, bits = 8).as("sig"): _*)
      .collect()
    assert(out.length == 3)
    assert(math.abs(out.head.getDouble(0) - 11.0) < 1e-12)
    assert(!fresh.catalog.functionExists("graft_dot"),
      "evaluating the helpers must not register the SQL names")
  }

  test("every registered SQL name evaluates to its Column helper") {
    GraftFunctions.ensureRegistered(spark)
    val rows = parityRows(spark)
    rows.createOrReplaceTempView("graft_parity")
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(parityCases.map(_._1.takeWhile(_ != '(')).toSet == registered,
      "every registered graft_* name needs a parity case")
    parityCases.foreach { case (sqlText, helper) =>
      val viaSql = spark.sql(s"SELECT $sqlText FROM graft_parity ORDER BY id").collect().toSeq
      val viaColumn = rows.orderBy("id").select(helper).collect().toSeq
      assert(viaSql == viaColumn, s"$sqlText drifted from its Column helper")
    }
  }
}
