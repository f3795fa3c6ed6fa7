package graft.fs

import scala.concurrent.duration._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Tree scanning + size reporting over any Hadoop FileSystem.
  *
  * Semantics follow the reference (reference: fs/package.scala:23-119).
  * [[Fs.list]] is driver-only: a breadth-first scan on the driver pool
  * that returns the whole tree as an array. The 100 TB-scale path is a
  * separate call (SURVEY §7.4): [[Fs.listDistributed]] scans level by
  * level in Spark (`Dataset[String].flatMap(listStatus)`, one Spark job
  * per tree level) and returns a Dataset, so a tree too large for driver
  * memory never comes back to it.
  */
object Fs {

  /** Threads of the driver pool every per-path metadata call runs on
    * ([[Retry.onDriver]], [[list]]); the reference used a 1000-thread
    * pool sized for ADLS HTTP latency (fs/package.scala via
    * helpers/implicits.scala:13-14). The one width setting: the right
    * width depends on the store's latency, so raise it for a remote
    * store and lower it for a local one.
    */
  @volatile var driverPoolSize: Int = 256
  /** How long the driver pool waits on one metadata call. */
  val OpTimeout: FiniteDuration = 10.minutes

  /** The FileSystem of a folder, in any spelling of it (reference
    * fs/package.scala:23-25).
    */
  def getFileSystem(conf: Configuration, uri: String): FileSystem = Root(uri)(conf).fs

  private def toElement(s: FileStatus): FsElement =
    FsElement(s.getPath.toString, s.isDirectory, if (s.isDirectory) 0L else s.getLen)

  /** Non-recursive listing of one directory. */
  def listLevel(fs: FileSystem, dir: Path): Array[FsElement] =
    fs.listStatus(dir).map(toElement)

  /** Recursive breadth-first tree listing; each level's directories are
    * listed concurrently on the driver pool of [[Retry.onPool]]
    * (reference fs/package.scala:35-50), whose width is
    * [[driverPoolSize]] — the reference sized this pool at 1000 because
    * against a high-latency object store (ADLS HTTP) the listing rate is
    * latency-bound, not CPU-bound. A failed `listStatus` fails the call.
    * `uri` is any spelling of a folder on one file system (`/abs`,
    * `file:/abs`, `file:///abs`, `/abs/`); the elements are spelled as
    * `listStatus` spells them.
    *
    * `dropFileDetail = true` collapses each folder's files into one
    * `<folder>/summed_up_files` element DURING the scan (reference
    * fs/package.scala:40-42): a folder with a million files contributes
    * its subdirs plus one rolled-up element to driver memory instead of
    * a million rows, so wide-folder size reports stay driver-safe. Byte
    * totals are unchanged; only per-file detail is lost.
    */
  def list(uri: String, dropFileDetail: Boolean = false)(implicit conf: Configuration): Array[FsElement] =
    tree(Root(uri), dropFileDetail)

  /** [[list]] of a folder already resolved to its [[Root]]. */
  private[graft] def tree(root: Root, dropFileDetail: Boolean = false): Array[FsElement] = {
    val fs = root.fs
    val out = Array.newBuilder[FsElement]
    var dirs: Seq[Path] = Seq(root.path)
    while (dirs.nonEmpty) {
      val level = Retry.onPool(dirs) { d =>
        val elems = fs.listStatus(d).map(toElement)
        if (dropFileDetail && elems.nonEmpty) {
          val (subdirs, files) = elems.partition(_.isDirectory)
          subdirs :+ FsElement(Root.childOf(d, "summed_up_files").toString,
            isDirectory = false, files.map(_.byteSize).sum)
        } else elems
      }.flatten
      out ++= level
      dirs = level.filter(_.isDirectory).map(e => new Path(e.path))
    }
    out.result()
  }

  /** Distributed level-synchronous tree scan of any spelling of a folder
    * on one file system: the 100 TB path. Each BFS level is one Spark
    * job; directory names (not file bytes) are what shuffles, so a
    * billion-file tree lists with bounded driver memory.
    *
    * The returned Dataset comes back PERSISTED and materialized (the
    * per-level caches the loop needs are released before returning, so
    * re-deriving the result lazily would re-list the whole tree);
    * callers must `unpersist()` it when done with the listing.
    */
  def listDistributed(spark: SparkSession, uri: String): Dataset[FsElement] =
    listDistributed(spark, Root(uri)(spark.sparkContext.hadoopConfiguration))

  /** [[listDistributed]] with an explicit Hadoop conf (e.g. a custom
    * FileSystem registration not present on the SparkContext conf).
    */
  def listDistributed(spark: SparkSession, uri: String,
      hadoopConf: Configuration): Dataset[FsElement] =
    listDistributed(spark, Root(uri)(hadoopConf))

  /** [[listDistributed]] of a folder already resolved to its [[Root]],
    * listed with the Hadoop conf it was resolved with.
    */
  private[graft] def listDistributed(spark: SparkSession, root: Root): Dataset[FsElement] = {
    import spark.implicits._
    val conf = new SerializableHadoopConf(root.conf)
    var result = spark.emptyDataset[FsElement]
    var dirs = spark.createDataset(Seq(root.path.toString))
    // ONE job per BFS level: the aggregate that materializes the level's
    // persist also returns how many of its rows are directories, which
    // is exactly the next iteration's fan-out (no dirs.count() job —
    // at fixture scale two jobs/level is cosmetic, on a deep 100 TB
    // tree it doubles the scheduler round-trips).
    var dirCount = 1L
    val levels = scala.collection.mutable.ListBuffer.empty[Dataset[FsElement]]
    while (dirCount > 0) {
      val level = dirs.repartition(
        math.max(1, math.min(dirCount, spark.sparkContext.defaultParallelism).toInt))
        .mapPartitions { it =>
          val c = conf.value
          it.flatMap { d =>
            val p = new Path(d)
            val fs = p.getFileSystem(c)
            fs.listStatus(p).map(toElement)
          }
        }.persist()
      levels += level
      // materializes the persist AND yields the next level's dir count
      dirCount = level.toDF().agg(
        org.apache.spark.sql.functions.count_if(org.apache.spark.sql.functions.col("isDirectory")))
        .head().getLong(0)
      result = result.union(level)
      dirs = level.filter(_.isDirectory).map(_.path)
    }
    // pin the union, then drop the per-level pins it was built from —
    // left persisted they outlive the call (one row per tree entry each,
    // unreachable by the caller)
    result = result.persist()
    result.count()
    levels.foreach(_.unpersist())
    result
  }

  /** Per-folder rollup: collapse a folder's files into one synthetic
    * element (partial aggregation during scan — reference
    * fs/package.scala:59-62).
    */
  def sumUpFiles(elements: Array[FsElement]): Array[FsElement] = {
    val (dirs, files) = elements.partition(_.isDirectory)
    val rolled = files.groupBy(e => new Path(e.path).getParent.toString).map {
      case (parent, fs) => FsElement(s"$parent/summed_up_files", isDirectory = false, fs.map(_.byteSize).sum)
    }
    dirs ++ rolled
  }

  /** Tree scan + queryable size report (reference fs/package.scala:112-119);
    * `uri` is any spelling of a folder on one file system.
    */
  def getSize(uri: String)(implicit conf: Configuration): FsSizes =
    FsSizes(list(uri))

  /** [[getSize]] from a collapsed listing (reference
    * `getSize(path, skipFileDetails)`, fs/package.scala:112-119):
    * `simplified = true` sizes the tree from per-folder `summed_up_files`
    * rollups — one synthetic element per folder instead of one per file,
    * so the report of a many-million-file tree fits driver memory.
    * Totals are identical to the detailed listing's (pinned in FsSpec);
    * only individual file rows are unavailable.
    */
  def getSize(uri: String, simplified: Boolean)(implicit conf: Configuration): FsSizes =
    FsSizes(list(uri, dropFileDetail = simplified))

  /** Human-readable byte size (reference fs/package.scala:70-73). */
  def formatSize(bytes: Double): String = {
    val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
    @annotation.tailrec
    def loop(v: Double, i: Int): String =
      if (v < 1024 || i == units.size - 1) f"$v%.2f ${units(i)}" else loop(v / 1024, i + 1)
    loop(bytes, 0)
  }

  /** Child directories of any spelling of a folder on one file system,
    * non-recursive (reference metastore/package.scala:48-52).
    */
  def getSubfolderPaths(uri: String)(implicit conf: Configuration): Array[String] =
    getSubfolderPaths(Root(uri))

  private[graft] def getSubfolderPaths(root: Root): Array[String] =
    root.fs.listStatus(root.path).filter(_.isDirectory).map(_.getPath.toString)

  /** All files (recursively) under each of `folders`, directories dropped
    * (reference metastore/package.scala:58-61).
    */
  def getFilesOnlyOfFolders(folders: Seq[String])(implicit conf: Configuration): Array[FsElement] =
    folders.toArray.flatMap(f => list(f).filter(!_.isDirectory))

  /** Single-file copy, overwrite=true deleteSource=false — idempotent so
    * task retries are safe (reference fs/package.scala:165-171).
    */
  def copySingleFile(conf: Configuration, source: String, target: String): Boolean = {
    val src = new Path(source)
    val dst = new Path(target)
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf)
  }

  /** Rename only works within one FileSystem (reference fs/package.scala:126-129);
    * a folder spelled without a scheme is on the default one.
    */
  def checkIfFsIsTheSame(source: String, target: String): Boolean = {
    implicit val conf: Configuration = new Configuration()
    Root(source).sameFileSystem(Root(target))
  }

  /** Refuse moving an empty source over a non-empty target — rerun
    * protection (reference fs/package.scala:139-152).
    */
  def doesMoveLookSafe(fs: FileSystem, source: String, target: String): Boolean = {
    val srcPath = new Path(source)
    if (!fs.exists(srcPath)) return false
    val srcHasContent = fs.listStatus(srcPath).nonEmpty
    val trgPath = new Path(target)
    val trgHasContent = fs.exists(trgPath) && fs.listStatus(trgPath).nonEmpty
    srcHasContent || !trgHasContent
  }
}

/** Java-serializable Hadoop Configuration for shipping to tasks
  * (the reference broadcasts the same thing —
  * fs/DistributedExecution.scala:47-49).
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
