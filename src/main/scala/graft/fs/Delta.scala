package graft.fs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tree diff + rsync-lite synchronization.
  *
  * Two forms. The driver form ([[getDelta]], [[synchronize]]) takes the
  * two `Fs.list` arrays the driver already holds and diffs them as a
  * keyed hash anti-join on (relPath, isDirectory, byteSize, contentHash):
  * O(n) on the driver, no Spark job unless content hashing is asked for.
  * The reference did the same diff with an O(n²) `Array.diff`
  * (reference: Delta.scala:40-50). The distributed form
  * ([[getDeltaDataset]], [[synchronizeDistributed]]) diffs the
  * `Fs.listDistributed` Datasets with a pair of left-anti joins on the
  * same keys, so trees too large for the driver never come back to it
  * (SURVEY §7.4.3).
  */
object Delta {

  /** Both directions of the tree diff, on the driver: each side's
    * listing keyed by (relPath, isDirectory, byteSize, contentHash);
    * `missing` holds the source entries whose key the target lacks,
    * `extra` the reverse. Each side is any spelling of a folder on one
    * file system.
    *
    * @param checkContent when true, files are additionally compared by a
    *        content hash (FNV-1a 64 over the byte stream) — the reference
    *        equates files by relative path + size only (reference
    *        Delta.scala:45-46), which misses same-size edits. Hashing
    *        reads bytes, so it is opt-in; only files present on both sides
    *        with one relPath and size are hashed, in one Spark job, since
    *        every other entry differs already.
    */
  def getDelta(sourceUri: String, targetUri: String, checkContent: Boolean = false)(
      implicit spark: SparkSession): (Array[DeltaEntry], Array[DeltaEntry]) = {
    implicit val conf = spark.sparkContext.hadoopConfiguration
    diff(Root(sourceUri), Root(targetUri), checkContent)
  }

  private def diff(source: Root, target: Root, checkContent: Boolean)(
      implicit spark: SparkSession): (Array[DeltaEntry], Array[DeltaEntry]) = {
    def side(root: Root) = Fs.tree(root).map(e => root.rel(e.path) -> e)
    val (src, trg) = (side(source), side(target))
    val hashes = if (checkContent) sharedFileHashes(src, trg) else Map.empty[String, Long]
    type Key = (String, Boolean, Long, Long)
    def keys(side: Array[(String, FsElement)]): Array[Key] = side.map { case (r, e) =>
      (r, e.isDirectory, e.byteSize, hashes.getOrElse(e.path, 0L))
    }
    // carry isDirectory into the entries: synchronize needs it and the
    // listing already knows it — re-statting every missing path would be
    // one RPC per entry on the source FS
    def onlyIn(side: Array[Key], other: Array[Key], message: String) = {
      val otherKeys = other.toSet
      side.filterNot(otherKeys).map { case (r, isDir, _, _) => DeltaEntry(r, message, isDir) }
    }
    val (srcKeys, trgKeys) = (keys(src), keys(trg))
    (onlyIn(srcKeys, trgKeys, DeltaEntry.MissingInTarget), onlyIn(trgKeys, srcKeys, DeltaEntry.OnlyInTarget))
  }

  /** Content hashes, by absolute URI, of the files both listings hold
    * under one relPath with one size, from one Spark job over the
    * pending reads (none when no such pair exists).
    */
  private def sharedFileHashes(src: Array[(String, FsElement)], trg: Array[(String, FsElement)])(
      implicit spark: SparkSession): Map[String, Long] = {
    val trgFiles = trg.collect { case (r, e) if !e.isDirectory => (r, e.byteSize) -> e.path }.toMap
    val uris = src.toSeq.flatMap { case (r, e) =>
      if (e.isDirectory) Nil else trgFiles.get((r, e.byteSize)).toSeq.flatMap(t => Seq(e.path, t))
    }
    if (uris.isEmpty) Map.empty
    else {
      val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.parallelize(uris, math.min(uris.size, spark.sparkContext.defaultParallelism))
        .mapPartitions { it =>
          val c = sconf.value
          it.map(u => u -> contentHash(c, u))
        }.collect().toMap
    }
  }

  /** The distributed diff's hashing stage: files gain a content hash
    * computed in the tasks that would read them anyway at copy time (dirs
    * hash 0; with checkContent off the column is a constant so the diff
    * keys keep one shape).
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
    * a tree is too large for a driver listing. Each side is any spelling
    * of a folder on one file system.
    */
  def getDeltaDataset(sourceUri: String, targetUri: String, checkContent: Boolean = false)(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[DeltaEntry] = {
    import spark.implicits._
    implicit val conf = spark.sparkContext.hadoopConfiguration
    val (src, trg, release) = hashedSides(Root(sourceUri), Root(targetUri), checkContent)
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
  private def hashedSides(source: Root, target: Root, checkContent: Boolean)(
      implicit spark: SparkSession): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, () => Unit) = {
    import spark.implicits._
    val srcList = Fs.listDistributed(spark, source)
    val trgList = Fs.listDistributed(spark, target)
    val src = withContentHash(srcList, checkContent).withColumn("relPath", source.relCol($"path"))
    val trg = withContentHash(trgList, checkContent).withColumn("relPath", target.relCol($"path"))
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
    * task already removed counts as deleted. Each side is any spelling of
    * a folder on one file system.
    */
  def synchronizeDistributed(sourceUri: String, targetUri: String, taskCount: Int = -1,
      checkContent: Boolean = false)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val conf = spark.sparkContext.hadoopConfiguration
    val (source, target) = (Root(sourceUri), Root(targetUri))
    val (src, trg, release) = hashedSides(source, target, checkContent)
    val keys = Seq("relPath", "isDirectory", "byteSize", "contentHash")
    // both stages fail the sync on any failed item; each runs one job
    def failures(relPaths: org.apache.spark.sql.DataFrame)(
        op: org.apache.hadoop.conf.Configuration => org.apache.hadoop.fs.Path => Boolean): Long =
      relPaths.select(target.childCol($"relPath")).as[String]
        .mapPartitions(Retry.inTasks[String](conf, identity)(c => uri => op(c)(new org.apache.hadoop.fs.Path(uri))))
        .filter(!_.success).count()

    // target-only entries: recursive idempotent delete (an empty relPath
    // would be the target root)
    val extra = trg.join(src, keys, "left_anti").filter(length($"relPath") > 0)
    val delFailed = failures(extra) { c => p =>
      val fs = p.getFileSystem(c)
      fs.delete(p, true)
      !fs.exists(p)
    }
    require(delFailed == 0, s"synchronizeDistributed: $delFailed deletes failed under $targetUri")

    val missing = src.join(trg, keys, "left_anti")
      .filter(length($"relPath") > 0)
      .select($"relPath", $"isDirectory").persist()
    // source-only directories: recreate (copy below only moves files)
    val mkdirFailed = failures(missing.filter($"isDirectory"))(c => p => p.getFileSystem(c).mkdirs(p))
    require(mkdirFailed == 0, s"synchronizeDistributed: $mkdirFailed mkdirs failed under $targetUri")
    // source-only files: distributed copy with retry
    val files = missing.filter(!$"isDirectory")
      .select(source.childCol($"relPath").as("sourcePath"), target.childCol($"relPath").as("targetPath")).as[Paths]
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

  /** Proper ancestors of a relative path, nearest first: `a/b/c` gives
    * `a/b`, then `a`.
    */
  private def ancestors(relPath: String): Iterator[String] =
    Iterator.iterate(relPath.lastIndexOf('/'))(i => relPath.lastIndexOf('/', i - 1))
      .takeWhile(_ > 0).map(relPath.substring(0, _))

  /** Make target identical to source: delete the top-most target-only
    * paths, recreate missing folders, then distributed-copy the missing
    * files (reference Delta.scala:25-32). The diff is [[getDelta]]'s, so
    * without `checkContent` the copy is the only Spark job. Each side is
    * any spelling of a folder on one file system.
    */
  def synchronize(sourceUri: String, targetUri: String, taskCount: Int = -1,
      checkContent: Boolean = false)(implicit spark: SparkSession): Unit = {
    implicit val conf = spark.sparkContext.hadoopConfiguration
    val (source, target) = (Root(sourceUri), Root(targetUri))
    val (missing, extra) = diff(source, target, checkContent)
    // an empty relPath would resolve to the target ROOT — refuse rather
    // than wipe it
    extra.foreach(e => require(e.path.nonEmpty,
      s"refusing delete of target root (empty relPath in diff of $targetUri)"))
    // delete only the top-most target-only paths: a target-only folder's
    // recursive delete already takes everything under it
    val extraDirs = extra.iterator.filter(_.isDirectory).map(_.path).toSet
    val toDelete = extra.filterNot(e => ancestors(e.path).exists(extraDirs))
      .map(e => target.child(e.path).toString).toIndexedSeq
    LocalExecution.deletePaths(toDelete)
    // recreate missing directories (copy handles files only); the diff
    // entries carry isDirectory from the listing, so no per-path re-stat
    Retry.onDriver[org.apache.hadoop.fs.Path](missing.filter(_.isDirectory).map(e => target.child(e.path)).toIndexedSeq,
      _.toString)(target.fs.mkdirs)
    val pairs = missing.filterNot(_.isDirectory)
      .map(e => Paths(source.child(e.path).toString, target.child(e.path).toString)).toIndexedSeq
    DistributedExecution.copyFiles(pairs, taskCount)
    ()
  }
}
