package perfbench

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

class CountingFileSystemSpec extends AnyFunSuite {

  test("each call on a fixed tiny tree gives an exact count") {
    val root = Files.createTempDirectory("countingfs")
    Files.createDirectories(root.resolve("d"))
    Files.write(root.resolve("d/a"), Array.fill[Byte](100)(7))
    Files.write(root.resolve("d/b"), Array.fill[Byte](50)(8))
    val fs = new CountingFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    def p(rel: String) = new Path(root.resolve(rel).toUri)

    /** The counters that moved while `body` ran. */
    def moved(body: => Unit): Map[String, Double] = {
      val before = CountingFileSystem.snapshot()
      body
      CountingFileSystem.snapshot().map { case (k, v) => k -> (v - before(k)) }.filter(_._2 != 0)
    }

    assert(moved(assert(fs.listStatus(p("d")).length == 2)) == Map("list_calls" -> 1))
    assert(moved(assert(fs.getFileStatus(p("d/a")).getLen == 100)) == Map("stat_calls" -> 1))
    val read = moved {
      val in = fs.open(p("d/b"))
      val buf = new Array[Byte](64)
      var total = 0
      var n = in.read(buf)
      while (n > 0) { total += n; n = in.read(buf) }
      in.close()
      assert(total == 50)
    }
    // LocalFileSystem's checksum reader stats the file through the outer
    // FileSystem when it opens it, so an open counts one stat as well
    assert(read == Map("open_calls" -> 1, "stat_calls" -> 1, "bytes_read" -> 50), read)
    val written = moved {
      val out = fs.create(p("d/c"))
      out.write(Array.fill[Byte](100)(9))
      out.close()
    }
    // 100 data bytes plus the 12-byte checksum sidecar of one 512-byte chunk
    assert(written == Map("create_calls" -> 1, "bytes_written" -> 112), written)
    val renamed = moved(assert(fs.rename(p("d/c"), p("d/e"))))
    assert(renamed == Map("rename_calls" -> 1), renamed)
    val deleted = moved(assert(fs.delete(p("d/a"), false)))
    assert(deleted == Map("delete_calls" -> 1), deleted)
  }
}
