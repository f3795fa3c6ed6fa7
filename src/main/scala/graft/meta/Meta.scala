package graft.meta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable

import graft.fs.{Fs, Root}

/** Catalog/metastore operators (reference: metastore/package.scala).
  * All built on Spark's public `sessionState.catalog` / `spark.catalog`
  * API — identical at any scale (these are metadata-only calls).
  */
object Meta {

  def tableMeta(db: String, table: String)(implicit spark: SparkSession): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table, Some(db)))

  /** Table folder, spelled as a listing spells it (reference
    * metastore/package.scala:17-19,70-74).
    */
  def getTableLocation(db: String, table: String)(implicit spark: SparkSession): String =
    Root.listed(tableMeta(db, table).location)

  def getTableLocation(table: String)(implicit spark: SparkSession): String =
    getTableLocation(spark.catalog.currentDatabase, table)

  /** Substring-match filter over path arrays — `contains` any of N match
    * strings (reference metastore/package.scala:54-56).
    */
  def filterPaths(paths: Array[String], matchStrings: Seq[String]): Array[String] =
    paths.filter(p => matchStrings.exists(p.contains))

  /** Level-1 partition folder URIs of a partitioned table; throws if the
    * table is unpartitioned (reference metastore/package.scala:41-46).
    */
  def getTableL1PartitionsPaths(db: String, table: String)(
      implicit spark: SparkSession): Array[String] = {
    val meta = tableMeta(db, table)
    require(meta.partitionColumnNames.nonEmpty, s"table $db.$table is not partitioned")
    implicit val conf = spark.sessionState.newHadoopConf()
    Fs.getSubfolderPaths(Root.listed(meta.location))
  }

  /** Partition folders whose name contains any match string (reference
    * metastore/package.scala:29-31).
    */
  def filterPartitions(db: String, table: String, matchStrings: Seq[String])(
      implicit spark: SparkSession): Array[String] =
    filterPaths(getTableL1PartitionsPaths(db, table), matchStrings)

  /** Refresh table metadata + recover partitions when partitioned
    * (reference metastore/package.scala:95-103).
    */
  def refreshMetadata(db: String, table: String)(implicit spark: SparkSession): Unit = {
    val qualified = s"$db.$table"
    spark.catalog.refreshTable(qualified)
    if (tableMeta(db, table).partitionColumnNames.nonEmpty)
      spark.catalog.recoverPartitions(qualified)
  }

  /** Data files of a table, spelled as a listing spells them (reference
    * metastore/package.scala:111-113).
    */
  def getListOfTableFiles(db: String, table: String)(
      implicit spark: SparkSession): Array[String] =
    spark.table(s"$db.$table").inputFiles.map(f => Root.listed(new java.net.URI(f)))
}
