package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class BlocksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a lazy checkpoint read by limit(1) alone is fully cached, so its parent can be freed") {
    // the guarantee Blocks.converge frees rounds on: at the end of a job
    // that touches a lazily checkpointed RDD, Spark caches every
    // partition the job skipped
    val parent = spark.range(0, 1000, 1, 8).toDF().localCheckpoint()
    val child = parent.select((col("id") * 2).as("v")).localCheckpoint(false)
    val rdd = child.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get
    assert(rdd.getNumPartitions == 8)
    assert(child.limit(1).collect().length == 1)
    val cached = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id).map(_.numCachedPartitions)
    assert(cached.contains(8), s"cached partitions after limit(1): $cached")
    Blocks.free(parent)
    assert(child.agg(sum("v")).head().getLong(0) == 999000L)
    Blocks.free(child)
  }

  test("materializedBytes is unknown for a checkpoint filtered by a subquery over a parquet table") {
    val dir = Files.createTempDirectory("blocks_subquery").toFile.getAbsolutePath + "/t"
    spark.range(10).write.parquet(dir)
    val cp = spark.range(0, 100, 1, 4).toDF().localCheckpoint()
    assert(Blocks.materializedBytes(cp).isDefined, "fixture: the bare checkpoint has a size")
    cp.createOrReplaceTempView("blocks_cp")
    spark.read.parquet(dir).createOrReplaceTempView("blocks_pq")
    val filtered = spark.sql("SELECT id FROM blocks_cp WHERE id <= (SELECT max(id) FROM blocks_pq)")
    assert(Blocks.materializedBytes(filtered).isEmpty,
      "a parquet scan inside a scalar subquery must make the size unknown")
    Blocks.free(cp)
  }
}
