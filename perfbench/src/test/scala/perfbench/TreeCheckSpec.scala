package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class TreeCheckSpec extends AnyFunSuite {

  /** Two identical trees: a/x (300 bytes), a/y (20 bytes), b/z (5 bytes). */
  private def twoTrees(): (Path, Path) = {
    val base = Files.createTempDirectory("treecheck")
    val trees = Seq("left", "right").map(base.resolve)
    for (t <- trees) {
      Files.createDirectories(t.resolve("a"))
      Files.createDirectories(t.resolve("b"))
      Files.write(t.resolve("a/x"), Array.tabulate[Byte](300)(i => (i % 7).toByte))
      Files.write(t.resolve("a/y"), Array.fill[Byte](20)(1))
      Files.write(t.resolve("b/z"), "hello".getBytes)
      // checksum sidecars are not data and never compared
      Files.write(t.resolve("a/.x.crc"), Array.fill[Byte](4)(t.hashCode.toByte))
    }
    (trees(0), trees(1))
  }

  test("identical trees compare clean") {
    val (l, r) = twoTrees()
    assert(TreeCheck.compare(l, r).isEmpty)
    assert(TreeCheck.files(l) == Map("a/x" -> 300L, "a/y" -> 20L, "b/z" -> 5L))
  }

  test("a truncated file is caught") {
    val (l, r) = twoTrees()
    Files.write(r.resolve("a/x"), Array.tabulate[Byte](100)(i => (i % 7).toByte))
    assert(TreeCheck.compare(l, r) == Seq("size a/x 300 != 100"))
  }

  test("a missing file is caught, and so is an extra one") {
    val (l, r) = twoTrees()
    Files.delete(r.resolve("b/z"))
    Files.write(r.resolve("b/w"), "extra".getBytes)
    assert(TreeCheck.compare(l, r) == Seq("missing b/z", "unexpected b/w"))
  }

  test("a same-size change is caught by the CRC") {
    val (l, r) = twoTrees()
    Files.write(r.resolve("a/y"), Array.fill[Byte](20)(2))
    assert(TreeCheck.compare(l, r) == Seq("crc a/y"))
  }
}
