package graft.fs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Marker-file transaction guard making destructive move/delete sequences
  * rerun-safe (reference: SafetyFuse.scala:5-25). `startTransaction`
  * relies on the FS failing creation of an existing file; a rerun that
  * finds the marker skips its target-delete step. Note the exclusivity
  * is only as strong as the FileSystem's create(overwrite=false):
  * HDFS/ABFS make it an atomic create-exclusive, but RawLocalFileSystem
  * and some object stores implement it as check-then-create, so two
  * exactly-concurrent `startTransaction` callers can BOTH succeed there.
  * The fuse guards against reruns (its purpose), not against racing
  * writers on such stores.
  *
  * The marker is `<folder>/_<runId>_open_transaction` (any `=` in
  * `runId` becomes `-`): a `_`-prefixed name without `=`, which Spark's
  * file index skips, so a table that holds an open marker stays
  * readable. A marker under the visible name earlier builds wrote,
  * `<folder>/<runId>_open_transaction`, counts as open too, so their
  * interrupted runs still resume.
  *
  * The marker can carry a `content` payload identifying the operation
  * that opened it (e.g. the move's source URI, or [[FolderSwap]]'s
  * pairs), so a resume path can verify the open transaction is ITS OWN
  * before inferring anything from partial state — closing a stranger's
  * marker would unlock destructive fresh-path steps over data the
  * stranger still owns.
  */
class SafetyFuse(fs: FileSystem, folder: String, runId: String = "graft") {
  private val marker = new Path(folder, s"_${runId.replace('=', '-')}_open_transaction")
  private val legacy = new Path(folder, s"${runId}_open_transaction")

  def isInProgress(): Boolean = fs.exists(marker) || fs.exists(legacy)

  def startTransaction(content: String = ""): Unit = {
    if (!fs.exists(new Path(folder))) fs.mkdirs(new Path(folder))
    // fails if the marker already exists (atomic on HDFS; best-effort
    // check-then-create on local/object-store FSes — see class doc)
    val out = fs.create(marker, false)
    try if (content.nonEmpty) out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Payload recorded at `startTransaction`; None when no marker exists,
    * Some("") for a payload-less marker.
    */
  def markerContent(): Option[String] = Seq(marker, legacy).find(fs.exists).map { m =>
    val in = fs.open(m)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Closes the transaction; deleting `marker` is its last call, so a
    * crash before it leaves the transaction open.
    */
  def endTransaction(): Unit = {
    if (fs.exists(legacy)) fs.delete(legacy, false)
    fs.delete(marker, false)
  }
}
