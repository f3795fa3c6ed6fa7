package graft.promotor

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.fs._
import graft.meta.{Meta, TableMetadataValidator}

/** Table/partition promotion: move or copy data files between Hive tables
  * (or bare folders) at the filesystem level, then reconcile the catalog
  * (reference: Promotor.scala — H6-H15, M11 in SURVEY §2.9).
  *
  * Copy is a distributed Spark job (bytes stream executor↔storage);
  * move/delete are driver-side metadata calls. Target default ACLs are
  * preserved by never deleting target folders themselves, only contents.
  */
object Promotor {

  /** Source-table files → target paths by location prefix rewrite
    * (reference Assistant.scala:12-24). Throws, naming the file, when a
    * file lies outside the source table's folder (a partition added
    * with its own LOCATION): it has no place under the target's.
    */
  def getTablesPathsList(srcDb: String, srcTable: String, trgDb: String, trgTable: String)(
      implicit spark: SparkSession): Seq[Paths] = {
    val (src, trg) = locations(srcDb, srcTable, trgDb, trgTable)
    Meta.getListOfTableFiles(srcDb, srcTable).toIndexedSeq
      .map(f => Paths(f, src.rebase(f, trg)))
  }

  /** The folders of a source and a target table. */
  private def locations(srcDb: String, srcTable: String, trgDb: String, trgTable: String)(
      implicit spark: SparkSession): (Root, Root) = {
    implicit val conf = spark.sessionState.newHadoopConf()
    (Root(Meta.getTableLocation(srcDb, srcTable)), Root(Meta.getTableLocation(trgDb, trgTable)))
  }

  // ------------------------------------------------------------------
  // Current-database convenience overloads — the reference's primary
  // documented call shape (reference Promotor.scala:24-28,41-45,58-63,
  // 76-80,327-331,377-380): bare table names resolved against
  // spark.catalog.currentDatabase, both sides in the same database.
  // Scala allows default arguments on only ONE overload per name, so
  // the bare forms carry explicit arities and delegate to the
  // db-qualified implementations below.
  // ------------------------------------------------------------------

  /** H6 in the current database (reference Promotor.scala:24-28). */
  def copyFilesBetweenTables(srcTable: String, trgTable: String)(
      implicit spark: SparkSession): Array[FsOperationResult] =
    copyFilesBetweenTables(srcTable, trgTable, -1)

  /** H6 in the current database with an explicit task count. */
  def copyFilesBetweenTables(srcTable: String, trgTable: String, taskCount: Int)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val db = spark.catalog.currentDatabase
    copyFilesBetweenTables(db, srcTable, db, trgTable, taskCount)
  }

  /** H8 in the current database (reference Promotor.scala:41-45). */
  def copyTablePartitions(srcTable: String, trgTable: String, matchStrings: Seq[String])(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val db = spark.catalog.currentDatabase
    copyTablePartitions(db, srcTable, db, trgTable, matchStrings)
  }

  /** H9 in the current database (reference Promotor.scala:58-63). */
  def copyOverwritePartitions(srcTable: String, trgTable: String, matchStrings: Seq[String])(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val db = spark.catalog.currentDatabase
    copyOverwritePartitions(db, srcTable, db, trgTable, matchStrings)
  }

  /** H7 in the current database (reference Promotor.scala:76-80). */
  def copyOverwriteTable(srcTable: String, trgTable: String)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val db = spark.catalog.currentDatabase
    copyOverwriteTable(db, srcTable, db, trgTable)
  }

  /** H13 in the current database (reference Promotor.scala:327-331). */
  def moveTablePartitions(srcTable: String, trgTable: String, matchStrings: Seq[String])(
      implicit spark: SparkSession): Seq[FsOperationResult] = {
    val db = spark.catalog.currentDatabase
    moveTablePartitions(db, srcTable, db, trgTable, matchStrings)
  }

  /** H14 in the current database (reference Promotor.scala:377-380). */
  def moveFilesBetweenTables(srcTable: String, trgTable: String)(
      implicit spark: SparkSession): Seq[FsOperationResult] = {
    val db = spark.catalog.currentDatabase
    moveFilesBetweenTables(db, srcTable, db, trgTable)
  }

  /** H6: table→table file copy, no target cleanup. */
  def copyFilesBetweenTables(srcDb: String, srcTable: String, trgDb: String,
      trgTable: String, taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    TableMetadataValidator.validate(srcDb, srcTable, trgDb, trgTable)
    copyAndRefresh(getTablesPathsList(srcDb, srcTable, trgDb, trgTable), trgDb, trgTable, taskCount)
  }

  /** H7: delete target content, copy all source files, refresh. The copy
    * list is built first, so a source file that cannot be mapped onto
    * the target fails the call before anything is deleted.
    */
  def copyOverwriteTable(srcDb: String, srcTable: String, trgDb: String,
      trgTable: String, taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    TableMetadataValidator.validate(srcDb, srcTable, trgDb, trgTable)
    val work = getTablesPathsList(srcDb, srcTable, trgDb, trgTable)
    implicit val conf = spark.sessionState.newHadoopConf()
    LocalExecution.deleteFolder(Meta.getTableLocation(trgDb, trgTable), deleteContentOnly = true)
    copyAndRefresh(work, trgDb, trgTable, taskCount)
  }

  private def copyAndRefresh(work: Seq[Paths], trgDb: String, trgTable: String, taskCount: Int)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val res = DistributedExecution.copyFiles(work, taskCount)
    Meta.refreshMetadata(trgDb, trgTable)
    res
  }

  /** H8: copy partitions whose folder name contains any match string. */
  def copyTablePartitions(srcDb: String, srcTable: String, trgDb: String, trgTable: String,
      matchStrings: Seq[String], taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    TableMetadataValidator.validate(srcDb, srcTable, trgDb, trgTable)
    val res = copyPartitionFiles(srcDb, srcTable, trgDb, trgTable, matchStrings, taskCount)
    Meta.refreshMetadata(trgDb, trgTable)
    res
  }

  /** H9: delete matching target partitions, then copy matching source
    * partitions, then refresh the target's catalog once (recovering
    * partitions only adds them, so a refresh between delete and copy
    * would change nothing the last one does not redo). The tables are
    * validated before anything is deleted, and the refresh also runs
    * when the delete or copy throws, so the target's cached file index
    * never outlives its deleted folders.
    */
  def copyOverwritePartitions(srcDb: String, srcTable: String, trgDb: String, trgTable: String,
      matchStrings: Seq[String], taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    TableMetadataValidator.validate(srcDb, srcTable, trgDb, trgTable)
    try {
      deletePartitionFolders(trgDb, trgTable, matchStrings)
      copyPartitionFiles(srcDb, srcTable, trgDb, trgTable, matchStrings, taskCount)
    } finally Meta.refreshMetadata(trgDb, trgTable)
  }

  /** The file copy of H8/H9, without validation or catalog refresh. */
  private def copyPartitionFiles(srcDb: String, srcTable: String, trgDb: String, trgTable: String,
      matchStrings: Seq[String], taskCount: Int)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val partitions = Meta.filterPartitions(srcDb, srcTable, matchStrings)
    require(partitions.nonEmpty, s"no partitions of $srcDb.$srcTable match $matchStrings")
    val (src, trg) = locations(srcDb, srcTable, trgDb, trgTable)
    copyFilesOf(partitions.toIndexedSeq, src, trg, taskCount)
  }

  /** Distributed copy of every file under `folders`, each under `src`,
    * to its place under `trg`.
    */
  private def copyFilesOf(folders: Seq[String], src: Root, trg: Root, taskCount: Int)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    val files = Fs.getFilesOnlyOfFolders(folders)(src.conf)
    DistributedExecution.copyFiles(files.map(e => Paths(e.path, src.rebase(e.path, trg))).toIndexedSeq, taskCount)
  }

  /** H10: H8 generalized to bare folders (no metastore), each side any
    * spelling of a folder on one file system; target subfolders
    * auto-created (reference Promotor.scala:163-182).
    */
  def copySelectedSubFoldersContent(srcFolder: String, trgFolder: String,
      matchStrings: Seq[String], taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    implicit val conf = spark.sessionState.newHadoopConf()
    copySubFolders(Root(srcFolder), Root(trgFolder), matchStrings, taskCount)
  }

  private def copySubFolders(src: Root, trg: Root, matchStrings: Seq[String], taskCount: Int)(
      implicit spark: SparkSession): Array[FsOperationResult] =
    copyFilesOf(Meta.filterPaths(Fs.getSubfolderPaths(src), matchStrings).toIndexedSeq, src, trg, taskCount)

  /** H11: delete matching target subfolders then H10; each side any
    * spelling of a folder on one file system.
    */
  def copyOverwriteSelectedSubfoldersContent(srcFolder: String, trgFolder: String,
      matchStrings: Seq[String], taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    implicit val conf = spark.sessionState.newHadoopConf()
    val trg = Root(trgFolder)
    LocalExecution.deletePaths(Meta.filterPaths(Fs.getSubfolderPaths(trg), matchStrings).toIndexedSeq)
    copySubFolders(Root(srcFolder), trg, matchStrings, taskCount)
  }

  /** H12: delete matching partition folders + refresh. */
  def deleteTablePartitions(db: String, table: String, matchStrings: Seq[String])(
      implicit spark: SparkSession): Seq[FsOperationResult] = {
    val res = deletePartitionFolders(db, table, matchStrings)
    Meta.refreshMetadata(db, table)
    res
  }

  /** The folder delete of H9/H12, without catalog refresh. */
  private def deletePartitionFolders(db: String, table: String, matchStrings: Seq[String])(
      implicit spark: SparkSession): Seq[FsOperationResult] = {
    implicit val conf = spark.sessionState.newHadoopConf()
    LocalExecution.deletePaths(Meta.filterPartitions(db, table, matchStrings).toIndexedSeq)
  }

  /** H13: metadata-only partition move between tables — rename partition
    * dirs, no data bytes move (reference Promotor.scala:327-367).
    */
  def moveTablePartitions(srcDb: String, srcTable: String, trgDb: String, trgTable: String,
      matchStrings: Seq[String])(implicit spark: SparkSession): Seq[FsOperationResult] = {
    TableMetadataValidator.validate(srcDb, srcTable, trgDb, trgTable)
    val partitions = Meta.filterPartitions(srcDb, srcTable, matchStrings)
    require(partitions.nonEmpty, s"no partitions of $srcDb.$srcTable match $matchStrings")
    val (src, trg) = locations(srcDb, srcTable, trgDb, trgTable)
    val res = moveFolders(partitions.map(p => Paths(p, src.rebase(p, trg))).toIndexedSeq)
    Meta.refreshMetadata(srcDb, srcTable)
    Meta.refreshMetadata(trgDb, trgTable)
    res
  }

  /** H14: whole-table move via folder-content move (target cleaned,
    * source folder kept so the table stays valid), refresh both.
    */
  def moveFilesBetweenTables(srcDb: String, srcTable: String, trgDb: String, trgTable: String)(
      implicit spark: SparkSession): Seq[FsOperationResult] = {
    TableMetadataValidator.validate(srcDb, srcTable, trgDb, trgTable)
    implicit val conf = spark.sessionState.newHadoopConf()
    val res = LocalExecution.moveFolderContent(
      Meta.getTableLocation(srcDb, srcTable), Meta.getTableLocation(trgDb, trgTable),
      keepSourceFolder = true)
    Meta.refreshMetadata(srcDb, srcTable)
    Meta.refreshMetadata(trgDb, trgTable)
    res
  }

  /** H15: folder-level partition move for bare paths, each side any
    * spelling of a folder on one file system, both on the same one.
    */
  def moveSelectedSubFolders(srcFolder: String, trgFolder: String, matchStrings: Seq[String])(
      implicit spark: SparkSession): Seq[FsOperationResult] = {
    implicit val conf = spark.sessionState.newHadoopConf()
    val (src, trg) = (Root(srcFolder), Root(trgFolder))
    moveFolders(Meta.filterPaths(Fs.getSubfolderPaths(src), matchStrings).map(p => Paths(p, src.rebase(p, trg))).toIndexedSeq)
  }

  /** M11 core folder move: per-folder safety guard and same-FS check,
    * then one crash-safe replace of every target by its source
    * ([[FolderSwap.replace]]) under a marker in the first target's parent
    * — guard order preserved from the reference (safety check BEFORE
    * anything moves, Promotor.scala:204-245). An existing target goes
    * aside and is deleted only once its source holds its name, so a
    * failed rename puts the old partition back. A run that throws leaves
    * the marker open; the next call first resolves it
    * ([[FolderSwap.recover]]) and then counts a pair whose source is gone
    * and whose target exists as done.
    */
  private[graft] def moveFolders(pairs: Seq[Paths])(
      implicit spark: SparkSession): Seq[FsOperationResult] = {
    if (pairs.isEmpty) return Seq.empty
    implicit val conf = spark.sessionState.newHadoopConf()
    val roots = pairs.map(p => (Root(p.sourcePath), Root(p.targetPath)))
    roots.foreach { case (src, trg) =>
      require(src.sameFileSystem(trg), s"move requires one FileSystem: $src -> $trg")
      // a self-move would set the source aside as the "existing target"
      // — refuse outright
      require(src.key != trg.key, s"refusing self-move: $src")
    }
    val fs = roots.head._1.fs
    val fuse = new SafetyFuse(fs, roots.head._2.path.getParent.toString)
    val (done, toMove) =
      if (!FolderSwap.recover(fs, fuse)) (Seq.empty[Paths], pairs)
      else pairs.partition(p => !fs.exists(new Path(p.sourcePath)) && fs.exists(new Path(p.targetPath)))
    toMove.foreach { p =>
      if (!Fs.doesMoveLookSafe(fs, p.sourcePath, p.targetPath))
        throw new IllegalStateException(s"unsafe move: $p")
    }
    FolderSwap.replace(fs, fuse, toMove)
    (done ++ toMove).map(p => FsOperationResult(p.sourcePath, success = true))
  }
}
