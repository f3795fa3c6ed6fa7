package graft.fs

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe folder replace: compaction's leaf swaps, the index
  * swap of [[graft.ext.IndexLifecycle]] and [[graft.promotor.Promotor]]'s
  * partition moves each put a staged folder where a live one was
  * (reference: the swaps of Coalesce.scala and Promotor.scala, guarded
  * by SafetyFuse.scala).
  *
  * [[replace]] opens one [[SafetyFuse]] marker that records every
  * (staged, live) pair; then, pair by pair, it deletes a stale aside,
  * renames the live folder (if any) to its aside [[asideOf]] and the
  * staged folder to the live name; then it deletes the asides and closes
  * the marker. Nothing of a live folder is deleted before its staged
  * copy holds the live name. The aside's `.`-prefixed name is skipped by
  * Spark's file index and graft's listings, so a reader never sees a
  * folder twice.
  *
  * [[recover]] resolves whatever an interrupted [[replace]] left, by the
  * per-live rule of [[settle]]: a missing live folder takes its staged
  * copy (roll forward) or, with that gone, its aside back (roll back),
  * and an aside beside a live folder is deleted.
  */
private[graft] object FolderSwap {

  val AsideSuffix = "_graft_aside"
  private val AsideName = ("""\.(.+)""" + AsideSuffix).r

  /** Where [[replace]] keeps `live` while its staged copy takes its place. */
  def asideOf(live: Path): Path = new Path(live.getParent, s".${live.getName}$AsideSuffix")

  /** The live folder `aside` belongs to, if it is named as an aside. */
  def liveOf(aside: Path): Option[Path] = aside.getName match {
    case AsideName(name) => Some(new Path(aside.getParent, name))
    case _ => None
  }

  /** Replace each pair's live folder (`targetPath`) with its staged one
    * (`sourcePath`) under one marker of `fuse`; all on `fs`. A failed
    * step throws, naming the folder, with the marker left open; a failed
    * promotion first moves the live folder's original back, or names the
    * aside it stays in.
    */
  def replace(fs: FileSystem, fuse: SafetyFuse, pairs: Seq[Paths]): Unit = {
    if (pairs.isEmpty) return
    // paths are recorded by their key: they resolve on `fs`, however the caller spelled them
    fuse.startTransaction(pairs.map(p => s"${Root.key(p.sourcePath)}\t${Root.key(p.targetPath)}\n").mkString)
    val asides = pairs.map { p =>
      val (staged, live) = (new Path(p.sourcePath), new Path(p.targetPath))
      val aside = asideOf(live)
      fs.delete(aside, true)
      val original = fs.exists(live)
      if (original) rename(fs, live, aside)
      try rename(fs, staged, live)
      catch { case NonFatal(e) if original =>
        val back = Try(fs.rename(aside, live)).getOrElse(false)
        throw new IllegalStateException(
          s"${e.getMessage}; its original is ${if (back) "back in place" else s"in $aside"}", e)
      }
      aside
    }
    asides.foreach(fs.delete(_, true))
    fuse.endTransaction()
  }

  /** Resolve, pair by pair ([[settle]]), what an interrupted [[replace]]
    * under `fuse` left, and close its marker; false when no marker is
    * open. A marker an earlier build's partition move left has no
    * payload: it is closed as it is. With `legacyLive`, a payload of one
    * bare path is an earlier build's index swap of that path over
    * `legacyLive`, which kept the old folder in `<legacyLive>_swap_bak`;
    * any other payload belongs to another operation, and is refused.
    */
  def recover(fs: FileSystem, fuse: SafetyFuse, legacyLive: Option[Path] = None): Boolean = {
    val payload = fuse.markerContent().getOrElse(return false)
    if (payload.isEmpty || payload.contains('\t')) {
      // whole lines only: a marker cut off while being written precedes every rename
      payload.split("\n", -1).init.foreach(_.split('\t') match {
        case Array(staged, live) => settle(fs, Some(new Path(staged)), new Path(live), asideOf(new Path(live)))
        case line => throw new IllegalStateException(s"unreadable folder swap record: ${line.mkString("\t")}")
      })
    } else {
      val live = legacyLive.getOrElse(throw new IllegalStateException(
        s"the open transaction records '$payload', not a folder swap"))
      settle(fs, Some(new Path(payload)), live, new Path(s"${live}_swap_bak"))
    }
    fuse.endTransaction()
    true
  }

  /** The per-live rule: when `live` is missing, `staged` (if given and
    * present) or else `aside` is renamed to it; then `aside` is deleted.
    * Throws when `live` is missing and neither is there to take its place.
    */
  def settle(fs: FileSystem, staged: Option[Path], live: Path, aside: Path): Unit = {
    if (!fs.exists(live)) {
      val from = (staged.toSeq :+ aside).find(fs.exists).getOrElse(throw new IllegalStateException(
        s"recover: neither $live, ${staged.fold("")(s => s"$s, ")}nor $aside exists"))
      rename(fs, from, live)
    }
    fs.delete(aside, true)
  }

  /** Renames `from` to `to`, or throws. A rename reported failed that
    * took effect (`from` gone, `to` there) counts as done, as in
    * [[LocalExecution.movePaths]]: moving an aside back over it would
    * nest the aside inside.
    */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit = {
    val cause = try { if (fs.rename(from, to)) return; null } catch { case NonFatal(e) => e }
    if (fs.exists(from) || !fs.exists(to)) throw new IllegalStateException(s"cannot rename $from to $to", cause)
  }
}
