package graft.fs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[FolderSwap]]: the replace itself, and [[FolderSwap.recover]] from
  * every state an interrupted replace can leave a pair in, plus the states
  * earlier builds' protocols left. Each folder holds one file naming its
  * version, so a test reads which version holds the live name.
  */
class FolderSwapSpec extends AnyFunSuite {
  implicit val conf: Configuration = {
    val c = new Configuration()
    c.set(s"fs.${FlakyFileSystem.Scheme}.impl", classOf[FlakyFileSystem].getName)
    c
  }

  private def folder(fs: FileSystem, p: Path, version: String): Unit = {
    val out = fs.create(new Path(p, "v"), false)
    try out.write(version.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** The version `p` holds; None when it does not exist. */
  private def version(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(new Path(p, "v"))
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    }

  private def marker(fs: FileSystem, root: String, pairs: Seq[(Path, Path)]): SafetyFuse = {
    val fuse = new SafetyFuse(fs, root)
    fuse.startTransaction(pairs.map { case (s, l) => s"${s.toUri.getPath}\t${l.toUri.getPath}\n" }.mkString)
    fuse
  }

  test("replace puts each staged folder under its live name and leaves no aside or marker") {
    val root = TestTree.newRoot("swap_replace")
    val fs = TestTree.fsFor(root)
    val (live1, live2) = (new Path(s"$root/t/a"), new Path(s"$root/t/b=1"))
    val (staged1, staged2) = (new Path(s"$root/.tmp/a"), new Path(s"$root/.tmp/b"))
    folder(fs, live1, "old a")
    folder(fs, staged1, "new a")
    folder(fs, staged2, "new b") // b=1 has no live folder yet
    val fuse = new SafetyFuse(fs, s"$root/t")
    FolderSwap.replace(fs, fuse, Seq(Paths(staged1.toString, live1.toString), Paths(staged2.toString, live2.toString)))
    assert(version(fs, live1).contains("new a") && version(fs, live2).contains("new b"))
    assert(!fs.exists(staged1) && !fs.exists(staged2) && !fuse.isInProgress())
    assert(fs.listStatus(new Path(s"$root/t")).map(_.getPath.getName).toSet == Set("a", "b=1"))
  }

  test("a failed promotion moves the original back, or names its aside, and leaves the marker open") {
    val root = TestTree.newRoot("swap_fail")
    val fs = TestTree.fsFor(root)
    val flaky = FlakyFileSystem.flaky(root)
    val ffs = TestTree.fsFor(flaky)
    val (live, staged) = (new Path(s"$root/t/p"), new Path(s"$root/.tmp/p"))
    folder(fs, live, "old")
    folder(fs, staged, "new")
    val fuse = new SafetyFuse(ffs, s"$flaky/t")
    // the first rename onto the live name (the promotion) fails; the second (the move back) works
    var onto = 0
    FlakyFileSystem.reset(0)
    FlakyFileSystem.failRenamesOnto(p => p.endsWith("/t/p") && { onto += 1; onto == 1 })
    val pair = Seq(Paths(s"$flaky/.tmp/p", s"$flaky/t/p"))
    val e = try intercept[IllegalStateException](FolderSwap.replace(ffs, fuse, pair)) finally FlakyFileSystem.reset(0)
    assert(e.getMessage.contains("back in place"), e.getMessage)
    assert(version(fs, live).contains("old") && version(fs, staged).contains("new") && fuse.isInProgress())
    // the original cannot move back either: the message names where it is
    assert(FolderSwap.recover(ffs, fuse) && version(fs, live).contains("old") && !fuse.isInProgress())
    FlakyFileSystem.failRenamesOnto(_.endsWith("/t/p"))
    val e2 = try intercept[IllegalStateException](FolderSwap.replace(ffs, fuse, pair)) finally FlakyFileSystem.reset(0)
    assert(e2.getMessage.contains(s"in ${FolderSwap.asideOf(new Path(s"$flaky/t/p"))}"), e2.getMessage)
    assert(!fs.exists(live) && version(fs, FolderSwap.asideOf(live)).contains("old"))
    // recover finishes the promotion the renames left undone
    assert(FolderSwap.recover(ffs, fuse))
    assert(version(fs, live).contains("new") && !fs.exists(FolderSwap.asideOf(live)) && !fuse.isInProgress())
  }

  test("recover resolves every state replace can leave a pair in") {
    val root = TestTree.newRoot("swap_recover")
    val fs = TestTree.fsFor(root)
    def live(n: String) = new Path(s"$root/t/$n")
    def staged(n: String) = new Path(s"$root/.tmp/$n")
    def aside(n: String) = FolderSwap.asideOf(live(n))
    // per pair: which of (live, aside, staged) exist, and the version that must end up live
    val states = Seq(
      ("opened", Seq(live _ -> "old", staged _ -> "new"), Some("old")), // marker open, nothing renamed
      ("fresh", Seq(staged _ -> "new"), Some("new")), // no live folder, nothing renamed
      ("set_aside", Seq(aside _ -> "old", staged _ -> "new"), Some("new")), // crash between the renames
      ("promoted", Seq(live _ -> "new", aside _ -> "old"), Some("new")), // before the aside's delete
      ("done", Seq(live _ -> "new"), Some("new")), // before the marker's close
      ("staged_lost", Seq(aside _ -> "old"), Some("old")), // promotion failed, its copy cleaned up
      ("moved_back", Seq(live _ -> "old", staged _ -> "new"), Some("old"))) // a failed promotion moved back
    states.foreach { case (n, present, _) => present.foreach { case (at, v) => folder(fs, at(n), v) } }
    val fuse = marker(fs, s"$root/t", states.map { case (n, _, _) => staged(n) -> live(n) })
    assert(FolderSwap.recover(fs, fuse))
    states.foreach { case (n, _, expected) =>
      assert(version(fs, live(n)) == expected, n)
      assert(!fs.exists(aside(n)), s"$n keeps its aside")
    }
    assert(!fuse.isInProgress())
    assert(!FolderSwap.recover(fs, fuse), "no marker, nothing to recover")
    // a pair with none of the three cannot be resolved: it throws, and the marker stays
    val lost = marker(fs, s"$root/t", Seq(staged("lost") -> live("lost")))
    val e = intercept[IllegalStateException](FolderSwap.recover(fs, lost))
    assert(e.getMessage.contains("lost") && lost.isInProgress())
    lost.endTransaction()
  }

  test("recover reads only whole records, and refuses another operation's marker") {
    val root = TestTree.newRoot("swap_records")
    val fs = TestTree.fsFor(root)
    val (live, staged) = (new Path(s"$root/t/p"), new Path(s"$root/.tmp/p"))
    folder(fs, staged, "new")
    // a marker cut off inside its second record: the cut record is ignored
    val fuse = new SafetyFuse(fs, s"$root/t")
    fuse.startTransaction(s"${staged.toUri.getPath}\t${live.toUri.getPath}\n/x/.tmp/q\t/x/t/")
    assert(FolderSwap.recover(fs, fuse))
    assert(version(fs, live).contains("new") && !fuse.isInProgress())
    // moveFolderContent records its source: no folder swap resolves that
    fuse.startTransaction(s"$root/src")
    intercept[IllegalStateException](FolderSwap.recover(fs, fuse))
    assert(fuse.isInProgress())
  }

  test("recover resolves the states earlier builds left") {
    val root = TestTree.newRoot("swap_legacy")
    val fs = TestTree.fsFor(root)
    // 1. an index swap: the marker, under its old visible name, holds the
    //    bare rebuild path, and the old build sits in <live>_swap_bak
    val live = new Path(s"$root/idx")
    val (rebuild, bak) = (new Path(s"$root/idx_rebuild"), new Path(s"$root/idx_swap_bak"))
    def legacyMarker(content: String): Unit = {
      val out = fs.create(new Path(s"$root/idx_swap_open_transaction"), false)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    val fuse = new SafetyFuse(fs, root, "idx_swap")
    folder(fs, bak, "old")
    folder(fs, rebuild, "new")
    legacyMarker(rebuild.toString) // crash between the two renames: roll forward
    assert(fuse.isInProgress() && FolderSwap.recover(fs, fuse, Some(live)))
    assert(version(fs, live).contains("new") && !fs.exists(bak) && !fs.exists(rebuild) && !fuse.isInProgress())
    fs.delete(live, true)
    folder(fs, bak, "old")
    legacyMarker(rebuild.toString) // the rebuild is gone: roll back
    assert(FolderSwap.recover(fs, fuse, Some(live)))
    assert(version(fs, live).contains("old") && !fs.exists(bak) && !fuse.isInProgress())
    folder(fs, bak, "stale")
    legacyMarker(rebuild.toString) // both renames done: the bak goes
    assert(FolderSwap.recover(fs, fuse, Some(live)))
    assert(version(fs, live).contains("old") && !fs.exists(bak) && !fuse.isInProgress())
    // 2. a compaction swap kept no marker: its aside is settled by the
    //    same per-live rule (Compactor runs it for every aside it lists)
    val leaf = new Path(s"$root/t/part=p1")
    folder(fs, FolderSwap.asideOf(leaf), "old")
    FolderSwap.settle(fs, None, leaf, FolderSwap.asideOf(leaf))
    assert(version(fs, leaf).contains("old") && !fs.exists(FolderSwap.asideOf(leaf)))
    folder(fs, FolderSwap.asideOf(leaf), "stale")
    FolderSwap.settle(fs, None, leaf, FolderSwap.asideOf(leaf))
    assert(version(fs, leaf).contains("old") && !fs.exists(FolderSwap.asideOf(leaf)))
    // 3. a partition move's marker had no payload: it is closed, nothing moves
    val trg = new SafetyFuse(fs, s"$root/t")
    fs.create(new Path(s"$root/t/graft_open_transaction"), false).close()
    assert(trg.isInProgress() && FolderSwap.recover(fs, trg))
    assert(!trg.isInProgress() && version(fs, leaf).contains("old"))
  }
}
