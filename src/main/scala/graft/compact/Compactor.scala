package graft.compact

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.fs.{FolderSwap, Fs, Paths, Root, SafetyFuse}

/** Small-file compaction (reference: Coalesce.scala).
  *
  * Plan: per leaf folder, median file size + total size → target file
  * count, or skip when the folder is already compact; the sizes come from
  * the listing that found the leaves. Execute: every leaf that needs a
  * rewrite goes through ONE Spark write job per distinct leaf schema (so
  * one job on an ordinary table), not one job per leaf — at small-file
  * scale the per-job driver latency, not the bytes, is the cost. The
  * schema comes from a parquet footer read on the driver (the file
  * Spark's own inference would pick), so no inference job runs either.
  * The price is one shuffle of the rewritten bytes (rows are routed to
  * their leaf's output files by hash, reducer count sized by AQE) where
  * the reference's per-leaf `coalesce(n)` shuffled nothing.
  *
  * Swap: once every rewrite has been written, all rewritten leaves go
  * live in one run of [[FolderSwap.replace]], the crash-safe folder
  * replace the index swaps and partition moves use too. Its marker,
  * `_<table>_compact_open_transaction` beside the table, records every
  * (rewrite, leaf) pair; each live leaf goes to its aside
  * `.<leaf>_graft_aside`, its rewrite takes the leaf's name, and the
  * asides are deleted. The temp root, the asides and the marker have
  * names Spark's file index skips, so a concurrent reader never sees a
  * leaf twice and a crash leaves no extra partition behind;
  * [[getLowestFoldersPaths]] skips them too. [[doItAll]] and
  * [[doAutoCoalesce]] start with [[FolderSwap.recover]], so a swap that
  * failed or crashed half way is finished or rolled back before the next
  * run plans; an aside an earlier build left without a marker is settled
  * by the same per-leaf rule.
  *
  * Two reference bugs fixed deliberately (SURVEY §7.6):
  *   - `numOfFiles == -1` (skip sentinel) was passed into `coalesce()`
  *     unguarded (reference Coalesce.scala:38-40) — here -1 short-circuits;
  *   - the delete-before-rename swap window (reference Coalesce.scala:79-81)
  *     is narrowed by renaming the old folder aside first, so a crash
  *     leaves a recoverable folder.
  */
object Compactor {

  private val LeafCol = "__graft_leaf"
  private val BucketCol = "__graft_bucket"
  private val ZCol = "__graft_z"

  /** Target file count, or -1 when compaction should be skipped: fewer
    * than 2 files, or median file size already ≥ requested (reference
    * Coalesce.scala:19-31).
    */
  def figureOutNumberOfPartitions(fileSizes: Seq[Long], requestedSizeMb: Int): Int = {
    if (fileSizes.size < 2) return -1
    val sorted = fileSizes.sorted
    val median = sorted(sorted.size / 2)
    val requested = requestedSizeMb.toLong * 1024 * 1024
    if (median >= requested) return -1
    val total = fileSizes.sum
    math.max(1, math.min(math.ceil(total.toDouble / requested).toInt, fileSizes.size))
  }

  /** Compact one parquet folder in place, `path` any spelling of a folder
    * on one file system. Returns the new file count, or -1 if skipped.
    * The folder must hold no (visible) sub-folders: a partitioned table
    * is compacted leaf by leaf with [[doItAll]].
    *
    * @param zorderCols when non-empty, the rewrite lays the data out
    *        along the Morton curve of these columns — exactly
    *        [[graft.ops.ZOrder.layoutBy]] — instead of a plain hash
    *        spread: compaction is the natural (often only) moment a
    *        pipeline rewrites a table, so clustering rides the same I/O
    *        for free. It adds a quantile probe job and a range sample
    *        to the rewrite — reserve it for tables whose read pattern
    *        filters on those columns.
    */
  def doAutoCoalesce(path: String, requestedSizeMb: Int = 100,
      zorderCols: Seq[String] = Nil)(
      implicit spark: SparkSession): Int = {
    val dir = Root(path)(spark.sessionState.newHadoopConf())
    recover(dir)
    val (dirs, files) = dir.fs.listStatus(dir.path).filterNot(s => isHidden(s.getPath.getName)).partition(_.isDirectory)
    require(dirs.isEmpty,
      s"$path has sub-folders (${dirs.head.getPath.getName}, ...): compact a partitioned table with doItAll")
    val leaf = Leaf(dir.path.toString, files.map(_.getLen).toIndexedSeq, files.map(_.getPath.toString).minOption)
    compact(dir, Seq(leaf), requestedSizeMb, zorderCols).apply(leaf.path)
  }

  /** Leaf (partition) directories under `path`, any spelling of a folder
    * on one file system — dirs with no subdirs, spelled as a listing
    * spells them (reference Coalesce.scala:48-62). Folders Spark's file index skips
    * (names starting with `.`, or with `_` and holding no `=`) are
    * skipped here too, with everything under them.
    *
    * @param distributedListing scan the tree with Spark jobs instead of
    *        driver threads ([[Fs.listDistributed]]) and compute the
    *        leaf set with a distributed anti-join — for tables whose
    *        file count exceeds driver memory; per folder only its files'
    *        sizes and first file name are collected, not every path.
    */
  def getLowestFoldersPaths(path: String, distributedListing: Boolean = false)(
      implicit spark: SparkSession): Seq[String] =
    leaves(Root(path)(spark.sessionState.newHadoopConf()), distributedListing, restore = false).map(_.path)

  /** Compact every leaf partition folder of `tablePath`, any spelling of a
    * folder on one file system (reference Coalesce.scala:85-97 ran one
    * job per leaf on a 10-thread pool).
    * The leaves that need a rewrite share one Spark write job per
    * distinct schema — a leaf is never rewritten under another leaf's
    * schema, and its rows never leave it; each ends with at most its
    * returned file count. A leaf whose files hold no rows is left as it
    * is and reported skipped. With `zorderCols`, every leaf is its own
    * group: the Morton ranks and the range bounds are sampled per leaf,
    * as a bound sampled over several leaves could cut a leaf into more
    * files than its plan.
    *
    * @return per leaf path as a listing spells it, the new file count or
    *         -1 if skipped
    */
  def doItAll(tablePath: String, requestedSizeMb: Int = 100,
      distributedListing: Boolean = false, zorderCols: Seq[String] = Nil)(
      implicit spark: SparkSession): Map[String, Int] = {
    val table = Root(tablePath)(spark.sessionState.newHadoopConf())
    recover(table)
    compact(table, leaves(table, distributedListing, restore = true), requestedSizeMb, zorderCols)
  }

  /** A leaf folder as listed: its data files' sizes and the path-sorted
    * first data file, whose footer Spark's schema inference would read.
    */
  private final case class Leaf(path: String, sizes: Seq[Long], first: Option[String])

  /** Names Spark's file index does not read (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def isHidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** Whether no folder or file name on `p`'s path below depth `rootDepth` is hidden. */
  private def isVisible(p: String, rootDepth: Int): Boolean = {
    var q = new Path(p)
    while (q.depth > rootDepth && !isHidden(q.getName)) q = q.getParent
    q.depth <= rootDepth
  }

  private def parentOf(p: String): String = new Path(p).getParent.toString

  /** The marker of `table`'s swaps, in its parent beside the temp root. */
  private def swapFuse(table: Root): SafetyFuse = {
    require(table.path.getParent != null, s"cannot compact a file system root: $table")
    new SafetyFuse(table.fs, table.path.getParent.toString, s"${table.path.getName}_compact")
  }

  /** Where a compaction of `table` writes its rewrites. */
  private def tmpOf(table: Path): Path = new Path(table.getParent, s".${table.getName}_graft_tmp")

  /** Resolves what an interrupted compaction of `table` left: its open
    * swap, the aside an earlier build, which kept no marker, left in
    * place of a missing table root, and then its temp root.
    */
  private def recover(table: Root): Unit = {
    val fs = table.fs
    FolderSwap.recover(fs, swapFuse(table))
    val aside = FolderSwap.asideOf(table.path)
    if (!fs.exists(table.path) && fs.exists(aside)) FolderSwap.settle(fs, None, table.path, aside)
    fs.delete(tmpOf(table.path), true)
  }

  /** Settles each aside among `dirs` under a visible parent with its
    * leaf by the per-live rule ([[FolderSwap.settle]]); true if there
    * was any.
    */
  private def settleAsides(fs: FileSystem, dirs: Seq[String], rootDepth: Int): Boolean = {
    val leaves = dirs.map(new Path(_)).filter(a => isVisible(a.getParent.toString, rootDepth))
      .flatMap(FolderSwap.liveOf)
    leaves.foreach(l => FolderSwap.settle(fs, None, l, FolderSwap.asideOf(l)))
    leaves.nonEmpty
  }

  /** The leaves under `path`. With `restore`, first settles every aside
    * folder an earlier build left without a marker (moved back when its
    * leaf is missing, deleted otherwise): the asides are found in the
    * same listing, and only a restore lists the tree again.
    */
  private def leaves(root: Root, distributedListing: Boolean, restore: Boolean)(
      implicit spark: SparkSession): Seq[Leaf] = {
    val fs = root.fs
    val rootDepth = root.path.depth
    // leaf dirs, and per parent folder: its data files' sizes + first path
    val (leafDirs, byParent): (Seq[String], Map[String, (Seq[Long], String)]) =
      if (distributedListing) {
        import spark.implicits._
        val tree = Fs.listDistributed(spark, root) // arrives persisted
        val visible = tree.filter(e => isVisible(e.path, rootDepth))
        val dirs = visible.filter(_.isDirectory).map(_.path).persist()
        if (restore && settleAsides(fs, tree.filter(e => e.isDirectory &&
            e.path.endsWith(FolderSwap.AsideSuffix)).map(_.path).collect().toSeq, rootDepth)) {
          dirs.unpersist()
          tree.unpersist()
          return leaves(root, distributedListing, restore)
        }
        val parents = dirs.map(parentOf).distinct()
        val out = dirs.toDF("p").join(parents.toDF("p"), Seq("p"), "left_anti")
          .as[String].collect().toIndexedSeq
        val files = visible.filter(!_.isDirectory).map(e => (parentOf(e.path), e.byteSize, e.path))
          .toDF("p", "size", "path").groupBy("p").agg(collect_list("size"), min("path"))
          .as[(String, Seq[Long], String)].collect()
        dirs.unpersist()
        tree.unpersist()
        (out, files.map { case (p, sizes, first) => p -> (sizes, first) }.toMap)
      } else {
        val listing = Fs.tree(root)
        val (dirs, files) = listing.filter(e => isVisible(e.path, rootDepth)).partition(_.isDirectory)
        if (restore && settleAsides(fs, listing.collect { case e if e.isDirectory => e.path }.toSeq,
            rootDepth)) return leaves(root, distributedListing, restore)
        val parentsOfDirs = dirs.map(d => parentOf(d.path)).toSet
        (dirs.map(_.path).filterNot(parentsOfDirs.contains).toIndexedSeq,
          files.groupBy(f => parentOf(f.path))
            .map { case (p, fs) => p -> (fs.map(_.byteSize).toSeq, fs.map(_.path).min) })
      }
    // a table without sub-folders is its own one leaf, spelled as a listing spells it
    (if (leafDirs.isEmpty) Seq(root.path.toString) else leafDirs).map { p =>
      byParent.get(p).fold(Leaf(p, Nil, None)) { case (sizes, first) => Leaf(p, sizes, Some(first)) }
    }
  }

  /** The schema Spark infers for each file (its footer's), read on the driver. */
  private def footerSchemas(files: Seq[String])(
      implicit spark: SparkSession, conf: Configuration): Map[String, StructType] = {
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    def schemaOf(f: String): StructType = {
      val input = HadoopInputFile.fromPath(new Path(f), conf)
      val footer = ParquetFooterReader.readFooter(input, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(f), footer), converter)
    }
    files.map(f => f -> schemaOf(f)).toMap
  }

  /** A leaf to rewrite into `n` files; `index` names its staged folder
    * `LeafCol=index` under the temp root.
    */
  private final case class Rewrite(path: String, dir: Root, first: String, n: Int, index: Int)

  /** Rewrite the `leaves` of `tablePath` that need it and swap them in;
    * the shared body of [[doAutoCoalesce]] (one leaf) and [[doItAll]],
    * which run [[recover]] first, so the temp root starts out absent.
    */
  private def compact(table: Root, leaves: Seq[Leaf], requestedSizeMb: Int,
      zorderCols: Seq[String])(implicit spark: SparkSession): Map[String, Int] = {
    implicit val conf: Configuration = table.conf
    val fs = table.fs
    val planned = leaves.map(l => l.path -> figureOutNumberOfPartitions(l.sizes, requestedSizeMb))
    val todo = leaves.zip(planned).collect { case (l, (_, n)) if n > 0 => (l, n) }.zipWithIndex
      .map { case ((l, n), g) => Rewrite(l.path, Root(l.path), l.first.get, n, g) }
    if (todo.isEmpty) return planned.toMap
    val tmp = tmpOf(table.path)
    def staged(r: Rewrite) = new Path(tmp, s"$LeafCol=${r.index}")
    val schemas = footerSchemas(todo.map(_.first))
    val groups = todo.groupBy(r => (schemas(r.first), if (zorderCols.isEmpty) "" else r.path))
    try {
      groups.foreach { case ((schema, _), group) =>
        rewrite(group, schema, zorderCols).write.mode("append").partitionBy(LeafCol).parquet(tmp.toString)
      }
      // a leaf whose files hold no rows stages nothing: it stays as it is
      val written = fs.listStatus(tmp).map(_.getPath.getName).toSet
      val done = todo.filter(r => written(staged(r).getName))
      FolderSwap.replace(fs, swapFuse(table), done.map(r => Paths(staged(r).toString, r.path)))
      val swapped = done.map(_.path).toSet
      planned.map { case (l, n) => l -> (if (swapped(l)) n else -1) }.toMap
    } finally fs.delete(tmp, true)
  }

  /** One DataFrame over a group of same-schema leaves, each row tagged
    * with its leaf's index in [[LeafCol]] and partitioned so leaf g's rows
    * land in at most n_g tasks. The plain spread hashes each row's file
    * path and row position into one of n_g buckets (deterministic, so a
    * retried map task routes every row as before) and shuffles on (leaf,
    * bucket); the z-order spread range-partitions on (leaf, Morton code).
    */
  private def rewrite(group: Seq[Rewrite], schema: StructType,
      zorderCols: Seq[String])(implicit spark: SparkSession): DataFrame = {
    val data = spark.read.schema(schema).parquet(group.map(_.path): _*)
    val file = col("_metadata.file_path")
    // `_metadata.file_path` is the file's percent-encoded URI string, in
    // the scheme spelling of Spark's listing, so leaves match on its
    // encoded path part alone; every leaf sits under one table on one
    // file system
    val folderOf = regexp_extract(file, Root.SchemeAuthority + "(.*)/[^/]*$", 1)
    val index = typedLit(group.map(r => r.dir.rawKey -> r.index).toMap)
    val leaf = coalesce(element_at(index, folderOf),
      raise_error(concat(lit("compaction: file outside every planned leaf: "), file)))
    val tagged = data.withColumn(LeafCol, leaf)
    if (zorderCols.isEmpty) {
      val target = typedLit(group.map(r => r.index -> r.n).toMap)
      tagged
        .withColumn(BucketCol, pmod(hash(file, col("_metadata.row_index")), element_at(target, col(LeafCol))))
        .repartition(col(LeafCol), col(BucketCol))
        .drop(BucketCol)
    } else {
      graft.ops.ZOrder.withZValue(tagged, zorderCols, zCol = ZCol)
        .repartitionByRange(group.map(_.n).sum, col(LeafCol), col(ZCol))
        .sortWithinPartitions(LeafCol, ZCol)
        .drop(ZCol)
    }
  }

}
