package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[ByteRemap]] — the GPT-2 byte-to-printable table with whitespace
  * passthrough. The t29b oracle gate proves the remap cross-engine on
  * the fixture's injected bytes; these specs pin the TABLE itself
  * (every branch) and the byte-fallback totality claim.
  */
class ByteRemapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def remap(s: String): String = {
    Seq(s).toDF("t")
      .select(GraftFunctions.graftByteRemap(col("t"))).collect()(0).getString(0)
  }

  test("LUT: GPT-2 table — printable identity, 256+rank fallback, whitespace passthrough") {
    // identity ranges: byte == codepoint
    assert(ByteRemap.Lut('!'.toInt) == '!')
    assert(ByteRemap.Lut('~'.toInt) == '~')
    assert(ByteRemap.Lut(0xA1) == '¡' && ByteRemap.Lut(0xAC) == '¬')
    assert(ByteRemap.Lut(0xAE) == '®' && ByteRemap.Lut(0xFF) == 'ÿ')
    // fallback ranks (ascending byte order): 0 → U+0100; 127 → rank 33
    // (after the 33 bytes 0..32) → U+0121; 173 → rank 67 → U+0143
    assert(ByteRemap.Lut(0) == '\u0100')
    assert(ByteRemap.Lut(127) == '\u0121')
    assert(ByteRemap.Lut(173) == '\u0143')
    // the five tokenizer separators pass through as SPACE (deviation)
    Seq('\t', '\n', '\f', '\r', ' ').foreach(c =>
      assert(ByteRemap.Lut(c.toInt) == ' ', s"byte ${c.toInt}"))
    // vertical tab is NOT a tokenizer separator → keeps its GPT-2 slot
    // (rank 11 → U+010B)
    assert(ByteRemap.Lut(11) == '\u010B')
    // bijection on non-separator bytes: no two distinct bytes collide
    val nonSep = (0 until 256).filterNot(Seq(9, 10, 12, 13, 32).contains)
    assert(nonSep.map(ByteRemap.Lut).distinct.size == nonSep.size)
    // totality: every output is printable-or-space, never a sentinel
    (0 until 256).foreach { b =>
      val c = ByteRemap.Lut(b)
      assert(c != '\u001C' && c != '\u001D')
      assert(c == ' ' || (c >= 33 && c <= 0xFF) || (c >= 0x100 && c <= 0x143))
    }
  }

  test("remap operates on UTF-8 BYTES: multi-byte chars expand per byte") {
    assert(remap("abc") == "abc") // ASCII printable: identity
    assert(remap("a b") == "a b") // space passthrough
    // é = C3 A9: both bytes in the identity range → "Ã©"
    assert(remap("tabl\u00E9") == "tabl\u00C3\u00A9")
    // soft hyphen = C2 AD: AD is byte 173 → fallback U+0143
    assert(remap("x\u00ADy") == "x\u00C2\u0143y")
    // NUL byte can't break anything downstream (fallback U+0100)
    assert(remap("\u0000") == "\u0100")
    assert(remap("") == "")
  }
}
