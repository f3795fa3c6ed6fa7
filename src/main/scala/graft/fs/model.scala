package graft.fs

/** Core row types of the file-tree dataflow.
  *
  * Modeled on the reference's data model (reference:
  * src/main/scala/com/pg/bigdata/octopufs/fs/FsElement.scala:9,
  * fs/Paths.scala:8, fs/FsOperationResult.scala:8, DeltaEntry.scala:3-10)
  * but used as Spark `Dataset[T]` element types so every operator can run
  * distributed — at 100 TB a listing is a Dataset, not a driver Array.
  */
final case class FsElement(path: String, isDirectory: Boolean, byteSize: Long)

/** One unit of copy/move work: absolute source → absolute target URI. */
final case class Paths(sourcePath: String, targetPath: String)

/** Per-path outcome of an effectful FS operation; drives the retry loop. */
final case class FsOperationResult(path: String, success: Boolean)

object DeltaEntry {
  val MissingInTarget = "copy"   // present in source, absent in target
  val OnlyInTarget    = "delete" // present in target only
}

/** One line of a tree diff (relative path + verdict). */
final case class DeltaEntry(path: String, message: String, isDirectory: Boolean = false)

/** A cached listing supporting repeated size queries without re-listing
  * (reference: fs/package.scala:79-87).
  */
final case class FsSizes(sizes: Array[FsElement]) {
  /** Total bytes under `path`, in any spelling of it — matched on a PATH
    * boundary, not a raw string prefix, so a sibling like
    * `/data/2024-backup` doesn't count toward `/data/2024`.
    */
  def getSizeOfPath(path: String): Long = {
    val root = Root.key(path)
    keyed.iterator.collect { case (k, e) if !e.isDirectory && Root.relative(root, k).isDefined => e.byteSize }.sum
  }
  private lazy val keyed = sizes.map(e => Root.key(e.path) -> e)
  def totalBytes: Long = sizes.iterator.filterNot(_.isDirectory).map(_.byteSize).sum
  def count: Int = sizes.length
}
