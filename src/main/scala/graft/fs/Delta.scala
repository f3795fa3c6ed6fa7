package graft.fs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tree diff + rsync-lite synchronization.
  *
  * The reference computes the diff with `Array.diff` on the driver
  * (reference: Delta.scala:40-50) — O(n²) and driver-bound. Here both
  * trees become Datasets normalized to relative paths and the diff is a
  * pair of left-anti joins on (relPath, isDirectory, byteSize): O(n log n),
  * shuffled, scales to billions of entries (SURVEY §7.4.3).
  */
object Delta {

  /** Relative path of `p` under `root`, compared on scheme-independent
    * URI paths (as AclManager.rel does) so caller spellings — file:///x
    * vs file:/x, trailing slash, unqualified — can't break the prefix
    * arithmetic the way a raw string offset would.
    */
  private[graft] def rel(root: String)(p: String): String = {
    val rootPath = new org.apache.hadoop.fs.Path(root).toUri.getPath.stripSuffix("/")
    val pp = new org.apache.hadoop.fs.Path(p).toUri.getPath
    require(pp.startsWith(rootPath + "/"), s"listed path $p is not under root $root")
    pp.substring(rootPath.length + 1)
  }

  /** Column twin of [[rel]], spelled entirely in codegen'd built-ins: a
    * Scala UDF here would fence whole-stage codegen and hide the
    * projection from Catalyst on exactly the path that exists for huge
    * listings (the distributed diff). The scheme[+authority] strip
    * mirrors `Path.toUri.getPath` for the Hadoop-normalized URIs a
    * listing yields; the not-under-root invariant keeps the driver
    * require's semantics via a raise_error branch that never executes
    * on rooted listings.
    */
  private[graft] def relCol(root: String)(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val rootPath = new org.apache.hadoop.fs.Path(root).toUri.getPath.stripSuffix("/")
    val uriPath = regexp_replace(path, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")
    when(substring(uriPath, 1, rootPath.length + 1) === lit(rootPath + "/"),
      substring(uriPath, rootPath.length + 2, Int.MaxValue))
      .otherwise(raise_error(concat(
        lit("listed path "), path, lit(s" is not under root $root"))))
  }

  /** Both directions of the tree diff.
    *
    * @param checkContent when true, files are additionally compared by a
    *        distributed content hash (FNV-1a 64 over the byte stream) —
    *        the reference equates files by relative path + size only
    *        (reference Delta.scala:45-46), which misses same-size edits.
    *        Hashing reads every byte, so it is opt-in.
    */
  def getDelta(sourceUri0: String, targetUri0: String, checkContent: Boolean = false)(
      implicit spark: SparkSession): (Array[DeltaEntry], Array[DeltaEntry]) = {
    import spark.implicits._
    implicit val conf = spark.sparkContext.hadoopConfiguration
    val sourceUri = sourceUri0.stripSuffix("/")
    val targetUri = targetUri0.stripSuffix("/")

    def side(rootUri: String) =
      withContentHash(spark.createDataset(Fs.list(rootUri).toIndexedSeq), checkContent)
        .withColumn("relPath", relCol(rootUri)($"path"))

    val src = side(sourceUri)
    val trg = side(targetUri)
    val keys = Seq("relPath", "isDirectory", "byteSize", "contentHash")
    // carry isDirectory into the entries: synchronize needs it and the
    // listing already knows it — re-statting every missing path would be
    // one RPC per entry on the source FS
    val missing = src.join(trg, keys, "left_anti")
      .select($"relPath", $"isDirectory").as[(String, Boolean)].collect()
      .map { case (p, d) => DeltaEntry(p, DeltaEntry.MissingInTarget, d) }
    val extra = trg.join(src, keys, "left_anti")
      .select($"relPath", $"isDirectory").as[(String, Boolean)].collect()
      .map { case (p, d) => DeltaEntry(p, DeltaEntry.OnlyInTarget, d) }
    (missing, extra)
  }

  /** The diff's hashing stage, for driver and distributed listings:
    * files gain a content hash computed in the tasks that would read them
    * anyway at copy time (dirs hash 0; with checkContent off the column
    * is a constant so the diff keys keep one shape).
    */
  private def withContentHash(list: org.apache.spark.sql.Dataset[FsElement],
      checkContent: Boolean)(implicit spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    if (!checkContent) list.toDF().withColumn("contentHash", lit(0L))
    else {
      val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      list.mapPartitions { it =>
        val c = sconf.value
        it.map(e => (e.path, e.isDirectory, e.byteSize,
          if (e.isDirectory) 0L else contentHash(c, e.path)))
      }.toDF("path", "isDirectory", "byteSize", "contentHash")
    }
  }

  /** Fully-distributed diff (SURVEY §7.4.1-3): listings come from the
    * level-synchronous Dataset scan and NOTHING is collected — the
    * returned Dataset[DeltaEntry] can itself be millions of rows and
    * feed the copy/delete stages distributively. Equivalent to
    * [[getDelta]] (asserted in MoveCopyDeleteSpec); use this form when
    * a tree is too large for a driver listing.
    */
  def getDeltaDataset(sourceUri0: String, targetUri0: String, checkContent: Boolean = false)(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[DeltaEntry] = {
    import spark.implicits._
    val sourceUri = sourceUri0.stripSuffix("/")
    val targetUri = targetUri0.stripSuffix("/")
    val (src, trg, release) = hashedSides(sourceUri, targetUri, checkContent)
    val keys = Seq("relPath", "isDirectory", "byteSize", "contentHash")
    val missing = src.join(trg, keys, "left_anti")
      .select($"relPath", $"isDirectory").as[(String, Boolean)]
      .map { case (p, d) => DeltaEntry(p, DeltaEntry.MissingInTarget, d) }
    val extra = trg.join(src, keys, "left_anti")
      .select($"relPath", $"isDirectory").as[(String, Boolean)]
      .map { case (p, d) => DeltaEntry(p, DeltaEntry.OnlyInTarget, d) }
    // materialize the diff so the pinned sides (each referenced by two
    // anti-joins) can be released before returning; the caller owns the
    // returned persisted diff and should unpersist it when done
    val diff = missing.union(extra).persist()
    diff.count()
    release()
    diff
  }

  /** Both tree sides as (listing + relPath + content hash) DataFrames,
    * plus the thunk that releases whatever they pinned.
    *
    * checkContent=false: the hash column is a constant, so the joins run
    * straight off the already-pinned listings — nothing extra cached, no
    * extra pass. checkContent=true: hashing is lazy and expensive, so the
    * hashed sides are pinned and materialized BEFORE any caller side
    * effect (a delete phase between two actions would otherwise re-read
    * files that no longer exist). The pin is a cache, not a checkpoint —
    * should a partition be lost and recomputed mid-sync, [[contentHash]]'s
    * vanished-file sentinel keeps the rebuilt rows safe (the entry reads
    * as drift and is re-copied) instead of aborting the job.
    */
  private def hashedSides(sourceUri: String, targetUri: String, checkContent: Boolean)(
      implicit spark: SparkSession): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, () => Unit) = {
    import spark.implicits._
    val srcList = Fs.listDistributed(spark, sourceUri)
    val trgList = Fs.listDistributed(spark, targetUri)
    val src = withContentHash(srcList, checkContent)
      .withColumn("relPath", relCol(sourceUri)($"path"))
    val trg = withContentHash(trgList, checkContent)
      .withColumn("relPath", relCol(targetUri)($"path"))
    if (!checkContent) {
      (src, trg, () => { srcList.unpersist(); trgList.unpersist(); () })
    } else {
      val srcPinned = src.persist()
      val trgPinned = trg.persist()
      srcPinned.count()
      trgPinned.count()
      srcList.unpersist()
      trgList.unpersist()
      (srcPinned, trgPinned, () => { srcPinned.unpersist(); trgPinned.unpersist(); () })
    }
  }

  /** [[synchronize]] with NOTHING collected on the driver: diff, delete,
    * mkdir and copy all run as Spark jobs over the distributed listings
    * (SURVEY §7.4) — the form to use when a tree has more entries than
    * driver memory holds. Deletes are recursive and idempotent, so no
    * deepest-first ordering is needed: a child whose ancestor another
    * task already removed counts as deleted.
    */
  def synchronizeDistributed(sourceUri0: String, targetUri0: String, taskCount: Int = -1,
      checkContent: Boolean = false)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val sourceUri = new org.apache.hadoop.fs.Path(sourceUri0).toString
    val targetUri = new org.apache.hadoop.fs.Path(targetUri0).toString
    val (src, trg, release) = hashedSides(sourceUri, targetUri, checkContent)
    val keys = Seq("relPath", "isDirectory", "byteSize", "contentHash")
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)

    // target-only entries: recursive idempotent delete (empty relPath
    // would be the target root — rel() already refuses those)
    val extra = trg.join(src, keys, "left_anti")
      .filter(length($"relPath") > 0).select($"relPath").as[String]
    val delFailed = extra.mapPartitions { it =>
      val c = conf.value
      it.map { relPath =>
        val p = new org.apache.hadoop.fs.Path(s"$targetUri/$relPath")
        val ok = try { val fs = p.getFileSystem(c); fs.delete(p, true); !fs.exists(p) }
                 catch { case _: Throwable => false }
        FsOperationResult(relPath, ok)
      }
    }.filter(!_.success).count()
    require(delFailed == 0, s"synchronizeDistributed: $delFailed deletes failed under $targetUri")

    val missing = src.join(trg, keys, "left_anti")
      .filter(length($"relPath") > 0)
      .select($"relPath", $"isDirectory").persist()
    // source-only directories: recreate (copy below only moves files)
    val mkdirFailed = missing.filter($"isDirectory").select($"relPath").as[String]
      .mapPartitions { it =>
        val c = conf.value
        it.map { relPath =>
          val p = new org.apache.hadoop.fs.Path(s"$targetUri/$relPath")
          val ok = try p.getFileSystem(c).mkdirs(p) catch { case _: Throwable => false }
          FsOperationResult(relPath, ok)
        }
      }.filter(!_.success).count()
    require(mkdirFailed == 0, s"synchronizeDistributed: $mkdirFailed mkdirs failed under $targetUri")
    // source-only files: distributed copy with retry
    val files = missing.filter(!$"isDirectory").select($"relPath").as[String]
      .map(relPath => Paths(s"$sourceUri/$relPath", s"$targetUri/$relPath"))
    DistributedExecution.copyDataset(files, taskCount).unpersist()
    missing.unpersist()
    release()
    ()
  }

  /** FNV-1a 64 of a file's bytes (streamed, 64 KiB buffer). A file that
    * vanished or turned unreadable between listing and hashing hashes as
    * FNV-1a of its own URI instead of throwing: under recomputation (lost
    * cache partition mid-sync) the entry then reads as drift and is
    * re-reconciled, rather than aborting the whole job on a file the
    * sync itself already removed. The sentinel is side-distinct — source
    * and target spell different URIs — so two unreadable counterparts can
    * never compare equal and mask real drift (a shared constant sentinel
    * would report an unreadable pair as in-sync).
    */
  private[graft] def contentHash(conf: org.apache.hadoop.conf.Configuration, uri: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(uri)
      val in = p.getFileSystem(conf).open(p)
      try {
        var h = 0xcbf29ce484222325L
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n > 0) {
          var i = 0
          while (i < n) { h = (h ^ (buf(i) & 0xffL)) * 0x100000001b3L; i += 1 }
          n = in.read(buf)
        }
        h
      } finally in.close()
    } catch { case _: java.io.IOException => fnv1a(uri) }

  /** FNV-1a 64 of a string's UTF-8 bytes — the unreadable-file sentinel. */
  private[graft] def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    for (b <- s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      h = (h ^ (b & 0xffL)) * 0x100000001b3L
    h
  }

  /** Make target identical to source: delete target-only paths, then
    * distributed-copy the missing files (reference Delta.scala:25-32).
    */
  def synchronize(sourceUri0: String, targetUri0: String, taskCount: Int = -1,
      checkContent: Boolean = false)(implicit spark: SparkSession): Unit = {
    implicit val conf = spark.sparkContext.hadoopConfiguration
    val sourceUri = new org.apache.hadoop.fs.Path(sourceUri0).toString
    val targetUri = new org.apache.hadoop.fs.Path(targetUri0).toString
    val (missing, extra) = getDelta(sourceUri, targetUri, checkContent)
    // delete deepest-first so children go before parents; an empty relPath
    // would resolve to the target ROOT — refuse rather than wipe it
    extra.foreach(e => require(e.path.nonEmpty,
      s"refusing delete of target root (empty relPath in diff of $targetUri)"))
    val toDelete = extra.map(e => s"$targetUri/${e.path}").sortBy(-_.length).toIndexedSeq
    LocalExecution.deletePaths(toDelete)
    val fs = Fs.getFileSystem(conf, targetUri)
    // recreate missing directories (copy handles files only); the diff
    // entries carry isDirectory from the listing, so no per-path re-stat
    missing.filter(_.isDirectory)
      .foreach(e => fs.mkdirs(new org.apache.hadoop.fs.Path(s"$targetUri/${e.path}")))
    val pairs = missing.filterNot(_.isDirectory)
      .map(e => Paths(s"$sourceUri/${e.path}", s"$targetUri/${e.path}")).toIndexedSeq
    DistributedExecution.copyFiles(pairs, taskCount)
    ()
  }
}
