package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Driver-side multithreaded metadata operations: rename and delete are
  * single HTTP/metadata calls per path on cloud stores, so a Spark job
  * would be overhead — each runs on the driver pool of
  * [[Retry.onDriver]], which sizes, times out and retries it
  * (reference: fs/LocalExecution.scala:26-157).
  */
object LocalExecution {

  /** Multithreaded rename with retry ≤5 and false-negative repair: a
    * "failed" rename whose source is gone and target exists already took
    * effect (reference fs/LocalExecution.scala:70-97,151-157).
    */
  def movePaths(paths: Seq[Paths])(implicit conf: Configuration): Seq[FsOperationResult] = {
    if (paths.isEmpty) return Seq.empty
    val fs = Fs.getFileSystem(conf, paths.head.sourcePath)
    def tookEffect(p: Paths) = !fs.exists(new Path(p.sourcePath)) && fs.exists(new Path(p.targetPath))
    Retry.onDriver[Paths](paths, _.sourcePath, repair = _.filter(tookEffect))(
      p => fs.rename(new Path(p.sourcePath), new Path(p.targetPath)))
  }

  /** Safe folder-content move, each side any spelling of a folder on one
    * file system, both on the same one (reference
    * fs/LocalExecution.scala:26-61): same-FS check → `doesMoveLookSafe`
    * guard → clear the target → SafetyFuse transaction → move level-1
    * children → optionally delete the now-empty source folder.
    */
  def moveFolderContent(sourceUri: String, targetUri: String,
      keepSourceFolder: Boolean = false)(implicit conf: Configuration): Seq[FsOperationResult] = {
    // targets are built from child NAMES under the target root, never by
    // string replace, so no spelling can turn a move into a self-rename
    val (source, target) = (Root(sourceUri), Root(targetUri))
    require(source.sameFileSystem(target),
      s"move requires same FileSystem; use DistributedExecution.copyFolder for $source -> $target")
    require(source.key != target.key, s"source and target are the same folder: $source")
    val fs = source.fs
    val fuse = new SafetyFuse(fs, target.path.toString)
    val resuming = fuse.isInProgress()
    // The unsafe-move guard applies to FRESH runs only: an open
    // transaction means a prior run already passed it and was
    // interrupted mid-move — its source may legitimately be empty now
    // (every child renamed before the crash), and the guard would
    // otherwise wedge the resume path forever.
    if (!resuming) {
      if (!Fs.doesMoveLookSafe(fs, source.path.toString, target.path.toString))
        throw new IllegalStateException(s"move looks unsafe (empty source over non-empty target): $source -> $target")
      // clear target contents (keep the folder so its ACLs survive)
      // BEFORE the transaction opens: a crash mid-clear then leaves no
      // marker, and the rerun, a fresh run again, clears the rest — the
      // resume path only clears twins of the source's children, so it
      // would keep whatever target-only child the crash spared
      if (fs.exists(target.path))
        deletePaths(fs.listStatus(target.path).map(_.getPath)
          .filterNot(_.getName.endsWith("_open_transaction")).map(_.toString).toIndexedSeq)
      // record which move owns this transaction — the vanished-source
      // resume below must be able to tell ITS crash from a stranger's
      fuse.startTransaction(source.path.toString)
    }
    if (resuming && !fs.exists(source.path)) {
      // Crash window between source-folder delete and endTransaction: the
      // move itself finished (source is gone), only the marker close was
      // lost. Complete it — rescanning a vanished source would throw
      // FileNotFoundException on every retry and wedge the fuse forever.
      // But ONLY when the marker provably belongs to THIS move, in any
      // spelling of its source: source absence alone proves nothing for a
      // retry issued with a wrong or stale source path, and closing
      // another move's marker would let a later fresh run clear a target
      // still holding that move's data.
      val recorded = fuse.markerContent().getOrElse("")
      if (recorded.isEmpty || !source.spelledBy(recorded))
        throw new IllegalStateException(
          s"open transaction on $target records source '$recorded', not $source — " +
            "refusing to infer move completion from source absence")
      fuse.endTransaction()
      return Seq.empty
    }
    val pairs = fs.listStatus(source.path).map(_.getPath)
      .map(c => Paths(c.toString, target.child(c.getName).toString)).toIndexedSeq
    if (resuming) {
      // Interrupted transaction: a child still present in source may have
      // a leftover target twin (cleared-then-crashed run); Hadoop
      // rename(src, existingDir) would nest src INSIDE it, so clear twins
      // first. (Children whose rename completed are gone from the source
      // listing and keep their target.) Fresh runs just cleared the
      // target — no per-child exists probes needed.
      val leftovers = pairs.filter(p => fs.exists(new Path(p.targetPath)))
      if (leftovers.nonEmpty) deletePaths(leftovers.map(_.targetPath))
    }
    // movePaths returns only once every child moved, and throws when one
    // did not: the source folder then stays, and so does the marker, so
    // a retry takes the RESUME path above instead of clearing the target
    val res = movePaths(pairs)
    if (!keepSourceFolder) fs.delete(source.path, true)
    fuse.endTransaction()
    res
  }

  /** Multithreaded recursive delete with retry ≤5 (reference
    * fs/LocalExecution.scala:106-128). Deleting an already-absent path
    * counts as success (idempotent rerun).
    */
  def deletePaths(paths: Seq[String])(implicit conf: Configuration): Seq[FsOperationResult] = {
    if (paths.isEmpty) return Seq.empty
    val fs = Fs.getFileSystem(conf, paths.head)
    Retry.onDriver[String](paths, identity) { p => fs.delete(new Path(p), true); !fs.exists(new Path(p)) }
  }

  /** Delete any spelling of a folder on one file system, or only its
    * level-1 contents (reference fs/LocalExecution.scala:136-149).
    */
  def deleteFolder(uri: String, deleteContentOnly: Boolean = false)(
      implicit conf: Configuration): Seq[FsOperationResult] = {
    val root = Root(uri)
    if (deleteContentOnly) deletePaths(root.fs.listStatus(root.path).map(_.getPath.toString).toIndexedSeq)
    else deletePaths(Seq(root.path.toString))
  }
}
