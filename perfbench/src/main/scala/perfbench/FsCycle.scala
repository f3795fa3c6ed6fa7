package perfbench

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.compact.Compactor
import graft.fs.{DistributedExecution, Delta, Fs, LocalExecution}
import graft.meta.{Meta, TableMetadataValidator}
import graft.promotor.Promotor

/** One maintenance cycle over a generated tree, calling graft only
  * through its public functions with their public defaults. Each call is
  * a span; each output is checked after the call, outside its span.
  *
  * Layout under `root`: `tree` is the upstream source the cycle mutates,
  * `pool` the spare files, `copy` the replica, `moved` where the replica
  * is moved for compaction, `live` the promotion target table's folder,
  * `baseline` the Spark rewrite.
  */
final class FsCycle(root: JPath, seed: Long, tracer: Tracer, ops: Ops)(
    implicit spark: SparkSession) {
  private implicit val conf: org.apache.hadoop.conf.Configuration = spark.sparkContext.hadoopConfiguration
  private val db = "perfbench"
  private def dir(name: String): JPath = root.resolve(name)
  private def uri(name: String): String = "file:" + dir(name).toString

  /** Per-unit facts the traced run reports beside the spans. */
  val facts: mutable.Map[(Int, String), Double] = mutable.Map.empty

  /** The promotion tables: `stage` over the replica, `live` over its own
    * folder, filled once from the tree.
    */
  def prepare(): Unit = {
    Trees.copyTree(dir("tree"), dir("live"))
    val ddl = spark.read.parquet(uri("tree")).schema.toDDL
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    for ((t, folder) <- Seq("stage" -> "copy", "live" -> "live"))
      spark.sql(s"CREATE TABLE $db.$t ($ddl) USING parquet PARTITIONED BY (part) LOCATION '${uri(folder)}'")
    spark.catalog.recoverPartitions(s"$db.live")
  }

  private def step[T](layer: String, name: String)(body: => T): T =
    tracer.span(layer, name)(ops.call(s"$layer.$name")(body))

  private def fact(name: String, v: Double): Unit = facts((tracer.unit, name)) = v

  def run(cycle: Int): Unit = {
    val treeFiles = TreeCheck.files(dir("tree"))
    fact("tree_bytes", treeFiles.values.sum.toDouble)

    val listed = step("fs", "list")(Fs.list(uri("tree")))
    ops.expect("list sees every file", listed.count(!_.isDirectory) == treeFiles.size,
      s"${listed.count(!_.isDirectory)} listed, ${treeFiles.size} present")

    val copied = step("fs", "copy")(DistributedExecution.copyFolder(uri("tree"), uri("copy")))
    ops.results("copy", copied)
    fact("copy_files", copied.length.toDouble)
    ops.check("copy tree", TreeCheck.compare(dir("tree"), dir("copy")))

    val (missing, extra) = step("fs", "diff")(Delta.getDelta(uri("tree"), uri("copy")))
    ops.expect("diff of equal trees is empty", missing.isEmpty && extra.isEmpty,
      s"${missing.length} missing, ${extra.length} extra")

    Trees.mutate(root, seed, cycle, FsCycle.MutateFraction)
    step("fs", "sync")(Delta.synchronize(uri("tree"), uri("copy")))
    ops.check("synchronized tree", TreeCheck.compare(dir("tree"), dir("copy")))

    promote(cycle)

    val before = TreeCheck.files(dir("copy"))
    val movedRes = step("fs", "move")(LocalExecution.moveFolderContent(uri("copy"), uri("moved")))
    ops.results("move", movedRes)
    ops.expect("move source is gone", !Files.exists(dir("copy")))
    ops.expect("move targets present with their sizes", TreeCheck.files(dir("moved")) == before)

    val rowsBefore = TreeCheck.rowHash(spark.read.parquet(uri("moved")))
    fact("compact_files_in", before.keys.count(_.endsWith(".parquet")).toDouble)
    val compacted = step("compact", "compact")(Compactor.doItAll(uri("moved")))
    fact("compact_folders", compacted.values.count(_ >= 0).toDouble)
    fact("compact_files_out", TreeCheck.files(dir("moved")).keys.count(_.endsWith(".parquet")).toDouble)
    ops.expect("compaction keeps rows", TreeCheck.rowHash(spark.read.parquet(uri("moved"))) == rowsBefore)

    val deleted = step("fs", "delete")(LocalExecution.deleteFolder(uri("moved")))
    ops.results("delete", deleted)
    ops.expect("deleted folder is gone", !Files.exists(dir("moved")))

    // baseline: the same tree copied by a plain Spark rewrite
    tracer.span("baseline", "rewrite") {
      spark.read.parquet(uri("tree")).write.mode("overwrite").partitionBy("part").parquet(uri("baseline"))
    }
    Trees.deleteTree(dir("baseline"))
  }

  /** Promote two seeded partitions from `stage` to `live`, then refresh
    * and validate the catalog.
    */
  private def promote(cycle: Int): Unit = {
    val rnd = new scala.util.Random(seed * 7919L + cycle)
    val parts = rnd.shuffle((0 until Trees.Folders).map(Trees.partName)).take(2).sorted
    def hashes(folder: String) =
      parts.map(p => TreeCheck.rowHash(spark.read.parquet(s"${uri(folder)}/part=$p")))
    val expected = hashes("copy")
    val res = step("promotor", "promote")(
      Promotor.copyOverwritePartitions(db, "stage", db, "live", parts.map(p => s"part=$p")))
    ops.results("promote", res)
    fact("promote_files", res.length.toDouble)
    step("meta", "refresh")(Meta.refreshMetadata(db, "live"))
    step("meta", "validate")(TableMetadataValidator.validate(db, "stage", db, "live"))
    ops.expect("promoted partitions hold the staged rows", hashes("live") == expected)
    val inCatalog = spark.table(s"$db.live").where(org.apache.spark.sql.functions.col("part").isin(parts: _*)).count()
    ops.expect("catalog sees the promoted rows", inCatalog == expected.map(_._1).sum,
      s"catalog $inCatalog vs files ${expected.map(_._1).sum}")
  }
}

object FsCycle {
  /** Share of the source's files each cycle's mutation touches. */
  val MutateFraction = 0.10
}
