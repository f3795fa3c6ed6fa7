package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[WarcRecords]] — the Content-Length-framed container walk. The t53
  * oracle gate proves the full parse cross-engine on the fixture's
  * injected containers; these specs pin the framing CONTRACT itself:
  * length-driven (never delimiter-driven) splitting, byte (never
  * codepoint) arithmetic, and prefix-keeping rejection on every
  * malformed shape.
  */
class WarcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A well-framed record (trailer included). */
  private def rec(recType: String, uri: Option[String], payload: String): String = {
    val uriLine = uri.map(u => s"WARC-Target-URI: $u\r\n").getOrElse("")
    val len = payload.getBytes("UTF-8").length
    s"WARC/1.0\r\nWARC-Type: $recType\r\n${uriLine}Content-Length: $len\r\n\r\n$payload\r\n\r\n"
  }

  private def parse(container: String): Seq[(String, String, Long, String)] = {
    Seq(container).toDF("w")
      .select(explode(GraftFunctions.graftWarcRecords(col("w"))).as("r"))
      .select($"r.rec_type", $"r.uri", $"r.content_length", $"r.payload")
      .as[(String, String, Long, String)].collect().toSeq
  }

  /** The interpreted eval path (codegen runs via [[parse]]). */
  private def parseInterpreted(container: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    WarcRecords(Literal(UTF8String.fromString(container)))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements()
  }

  test("multi-record container: order, types, uri-less warcinfo as ''") {
    val c = rec("warcinfo", None, "software: graft") +
      rec("response", Some("https://a.com/1"), "<html>one</html>") +
      rec("metadata", Some("https://a.com/1"), "fetchTimeMs: 7")
    val rs = parse(c)
    assert(rs.map(_._1) == Seq("warcinfo", "response", "metadata"))
    assert(rs.head._2 == "" && rs(1)._2 == "https://a.com/1")
    assert(rs.map(_._4) ==
      Seq("software: graft", "<html>one</html>", "fetchTimeMs: 7"))
    assert(parseInterpreted(c) == 3)
  }

  test("the delimiter trap: payload containing CRLFCRLF + magic stays intact") {
    val trap = "before\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\nafter"
    val c = rec("response", Some("u1"), trap) + rec("response", Some("u2"), "tail")
    val rs = parse(c)
    // a split-on-delimiter parser yields 3+ mangled records; the byte
    // walk yields exactly the 2 framed ones with payloads intact
    assert(rs.size == 2)
    assert(rs.head._4 == trap)
    assert(rs(1)._4 == "tail")
  }

  test("Content-Length counts UTF-8 BYTES, not codepoints") {
    val p = "café" // é = 2 bytes → length 5, not 4
    val c = rec("response", Some("u"), p)
    assert(c.contains("Content-Length: 5"))
    val rs = parse(c)
    assert(rs.size == 1 && rs.head._3 == 5L && rs.head._4 == p)
  }

  test("prefix-keeping rejection: truncated payload drops the tail only") {
    val whole = rec("response", Some("u1"), "complete")
    val cut = rec("response", Some("u2"), "this payload is long").dropRight(12)
    val rs = parse(whole + cut)
    assert(rs.size == 1 && rs.head._4 == "complete")
  }

  test("garbage prefix → empty; headers case-insensitive and trimmed") {
    assert(parse("HTTP/1.1 200 OK\r\n\r\nnope").isEmpty)
    assert(parse("").isEmpty)
    val c = "WARC/1.0\r\nwarc-type:  response \r\ncontent-length: 2\r\n\r\nok\r\n\r\n"
    val rs = parse(c)
    assert(rs == Seq(("response", "", 2L, "ok")))
  }

  test("missing/negative/non-numeric Content-Length halts (prefix kept)") {
    val ok = rec("response", Some("u"), "x")
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\npayload\r\n\r\n"
    assert(parse(ok + noLen).size == 1)
    val badLen = "WARC/1.0\r\nContent-Length: -3\r\n\r\nzz\r\n\r\n"
    assert(parse(ok + badLen).size == 1)
    val nanLen = "WARC/1.0\r\nContent-Length: many\r\n\r\nzz\r\n\r\n"
    assert(parse(ok + nanLen).size == 1)
  }

  test("a lying Content-Length mis-frames the trailer → record dropped") {
    // declared 2 but payload is 4 chars: walk lands mid-payload, sees
    // no CRLFCRLF → the record and everything after it is rejected
    val lie = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 2\r\n\r\nfour\r\n\r\n" +
      rec("response", Some("u"), "after")
    assert(parse(lie).isEmpty)
  }

  test("end-of-input is a valid trailer; header line without ':' halts") {
    val atEof = rec("response", Some("u"), "tail").dropRight(4)
    assert(parse(atEof).map(_._4) == Seq("tail"))
    val noColon = "WARC/1.0\r\nWARC-Type response\r\nContent-Length: 1\r\n\r\nx\r\n\r\n"
    assert(parse(rec("r", None, "a") + noColon).size == 1)
  }

  test("TextOps.warcRecords: explode shape, rec_pos, container col dropped") {
    val c1 = rec("warcinfo", None, "i") + rec("response", Some("u1"), "p1")
    val df = Seq((1L, c1), (2L, rec("response", Some("u2"), "p2")))
      .toDF("doc_id", "warc")
    val out = graft.ext.TextOps.warcRecords(df)
    assert(out.columns.toSeq ==
      Seq("doc_id", "rec_pos", "rec_type", "uri", "content_length", "payload"))
    val rows = out.orderBy("doc_id", "rec_pos")
      .as[(Long, Long, String, String, Long, String)].collect().toSeq
    assert(rows.map(r => (r._1, r._2, r._3)) ==
      Seq((1L, 0L, "warcinfo"), (1L, 1L, "response"), (2L, 0L, "response")))
  }
}
