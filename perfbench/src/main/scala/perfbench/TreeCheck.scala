package perfbench

import java.nio.file.{Files, Path => JPath}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. They run outside every timed window and read the trees
  * with java.nio, so they never pass through the counting FileSystem.
  */
object TreeCheck {

  /** Hadoop's local checksum sidecar (`.name.crc`): not part of the data. */
  def isSidecar(p: JPath): Boolean = {
    val n = p.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc")
  }

  /** Relative path → size of every data file under `root`. */
  def files(root: JPath): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else Using.resource(Files.walk(root)) { s =>
      s.iterator.asScala.filter(p => Files.isRegularFile(p) && !isSidecar(p))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
    }

  def crc32(p: JPath): Long = {
    val crc = new CRC32
    val buf = new Array[Byte](1 << 16)
    Using.resource(Files.newInputStream(p)) { in =>
      var n = in.read(buf)
      while (n > 0) { crc.update(buf, 0, n); n = in.read(buf) }
    }
    crc.getValue
  }

  /** Every difference between two trees: a file missing on one side, or
    * present on both with a different size or CRC32. Empty when the trees
    * hold the same files with the same bytes.
    */
  def compare(expected: JPath, actual: JPath): Seq[String] = {
    val e = files(expected)
    val a = files(actual)
    val missing = (e.keySet -- a.keySet).toSeq.sorted.map(p => s"missing $p")
    val extra = (a.keySet -- e.keySet).toSeq.sorted.map(p => s"unexpected $p")
    val differ = (e.keySet & a.keySet).toSeq.sorted.flatMap { p =>
      if (e(p) != a(p)) Some(s"size $p ${e(p)} != ${a(p)}")
      else if (crc32(expected.resolve(p)) != crc32(actual.resolve(p))) Some(s"crc $p")
      else None
    }
    missing ++ extra ++ differ
  }

  /** Row count and an order-insensitive hash of all rows: the sums of the
    * low and high 32 bits of each row's xxhash64, which cannot overflow.
    */
  def rowHash(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
