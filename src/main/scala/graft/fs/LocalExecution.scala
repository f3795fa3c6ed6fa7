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

  /** Safe folder-content move (reference fs/LocalExecution.scala:26-61):
    * same-FS check → `doesMoveLookSafe` guard → SafetyFuse transaction →
    * clean/create target → move level-1 children → optionally delete the
    * now-empty source folder.
    */
  def moveFolderContent(sourceUri0: String, targetUri0: String,
      keepSourceFolder: Boolean = false)(implicit conf: Configuration): Seq[FsOperationResult] = {
    // Normalize caller spellings (file:///x, trailing slash, unqualified)
    // through Path so every derived string agrees with listStatus output;
    // targets are built from child NAMES, never string replace, so an
    // unmatched prefix can't silently turn a move into a self-rename.
    val sourcePath = new Path(sourceUri0)
    val targetPath = new Path(targetUri0)
    val sourceUri = sourcePath.toString
    val targetUri = targetPath.toString
    require(sourceUri != targetUri, s"source and target are the same folder: $sourceUri")
    require(Fs.checkIfFsIsTheSame(sourceUri, targetUri),
      s"move requires same FileSystem; use DistributedExecution.copyFolder for $sourceUri -> $targetUri")
    val fs = Fs.getFileSystem(conf, sourceUri)
    val fuse = new SafetyFuse(fs, targetUri)
    val resuming = fuse.isInProgress()
    // The unsafe-move guard applies to FRESH runs only: an open
    // transaction means a prior run already passed it and was
    // interrupted mid-move — its source may legitimately be empty now
    // (every child renamed before the crash), and the guard would
    // otherwise wedge the resume path forever.
    if (!resuming && !Fs.doesMoveLookSafe(fs, sourceUri, targetUri))
      throw new IllegalStateException(s"move looks unsafe (empty source over non-empty target): $sourceUri -> $targetUri")
    if (!resuming) {
      // record which move owns this transaction — the vanished-source
      // resume below must be able to tell ITS crash from a stranger's
      fuse.startTransaction(sourceUri)
      if (fs.exists(targetPath)) {
        // clear target contents (keep the folder so its ACLs survive)
        deletePaths(fs.listStatus(targetPath).map(_.getPath)
          .filterNot(_.getName.endsWith("_open_transaction")).map(_.toString).toIndexedSeq)
      } else fs.mkdirs(targetPath)
    }
    if (resuming && !fs.exists(sourcePath)) {
      // Crash window between source-folder delete and endTransaction: the
      // move itself finished (source is gone), only the marker close was
      // lost. Complete it — rescanning a vanished source would throw
      // FileNotFoundException on every retry and wedge the fuse forever.
      // But ONLY when the marker provably belongs to THIS move: source
      // absence alone proves nothing for a retry issued with a wrong or
      // stale source path, and closing another move's marker would let a
      // later fresh run clear a target still holding that move's data.
      val recorded = fuse.markerContent().getOrElse("")
      if (recorded != sourceUri)
        throw new IllegalStateException(
          s"open transaction on $targetUri records source '$recorded', not $sourceUri — " +
            "refusing to infer move completion from source absence")
      fuse.endTransaction()
      return Seq.empty
    }
    val children = fs.listStatus(sourcePath).map(_.getPath)
    val pairs = children.map { c =>
      val t = new Path(targetPath, c.getName)
      require(t.toString != c.toString, s"refusing self-move of $c")
      Paths(c.toString, t.toString)
    }.toIndexedSeq
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
    if (!keepSourceFolder) fs.delete(sourcePath, true)
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

  /** Delete a folder, or only its level-1 contents (reference
    * fs/LocalExecution.scala:136-149).
    */
  def deleteFolder(uri: String, deleteContentOnly: Boolean = false)(
      implicit conf: Configuration): Seq[FsOperationResult] = {
    val fs = Fs.getFileSystem(conf, uri)
    if (deleteContentOnly) {
      val children = fs.listStatus(new Path(uri)).map(_.getPath.toString).toIndexedSeq
      deletePaths(children)
    } else deletePaths(Seq(uri))
  }
}
