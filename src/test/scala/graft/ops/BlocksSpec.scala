package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
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

  private def checkpointRdd(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get

  test("materializedBytes reads the block manager master and is unknown while a partition is not stored") {
    val cp = spark.range(0, 1000, 1, 4).toDF().localCheckpoint()
    val rdd = checkpointRdd(cp)
    val stored = GraftSqlBridge.storedBlocks(rdd)
    assert(stored.size == 4 && stored.values.forall(_ > 0), stored)
    // read right after the job that stored the blocks: the master knows
    // all four, whatever the listener bus has delivered so far
    assert(Blocks.materializedBytes(cp).contains(stored.values.sum))
    org.apache.spark.GraftTestBridge.dropBlock(rdd, 0)
    // once the status store has seen the drop too, it still lists the
    // RDD with three partitions; only a full set of blocks has a size
    org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
    assert(Blocks.materializedBytes(cp).isEmpty, "a checkpoint missing a partition has no size")
    Blocks.free(cp)
  }

  private def declared(df: DataFrame): Partitioning =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.outputPartitioning }.get

  test("release refuses to free a checkpoint whose successor is not yet in the block manager") {
    val prev = spark.range(0, 100, 1, 4).toDF().localCheckpoint()
    val next = GraftSqlBridge.localCheckpoint(prev.select((col("id") + 1).as("id")), eager = false)
    val rdd = checkpointRdd(next)
    val e = intercept[IllegalStateException](Blocks.release(prev, next))
    assert(e.getMessage.contains(s"RDD ${rdd.id}") && e.getMessage.contains("0 of 4"),
      e.getMessage)
    // nothing was freed: the successor still computes from `prev`
    assert(GraftSqlBridge.storedBlocks(checkpointRdd(prev)).size == 4)
    assert(next.filter(col("id") > 0).queryExecution.toRdd.count() == 100L)
    Blocks.release(prev, next)
    assert(next.agg(sum("id")).head().getLong(0) == 5050L)
    Blocks.free(next)
  }

  test("the keyed checkpoint declares only a hash partitioning the final plan proved") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = spark.range(0, 1000, 1, 3).toDF("k")
    val keyed = GraftSqlBridge.localCheckpoint(base.repartition(n, col("k")), eager = true)
    assert(declared(keyed).toString.matches(s"hashpartitioning\\(k#\\d+L, $n\\)"),
      declared(keyed))
    // range-partitioned by a sort: not a hash partitioning
    val sorted = GraftSqlBridge.localCheckpoint(base.orderBy("k"), eager = true)
    assert(declared(sorted) == UnknownPartitioning(0), declared(sorted))
    // an aggregation AQE coalesced below n partitions: its final plan
    // reports a coalesced hash partitioning, which is not declared
    val agg = base.groupBy((col("k") % 10).as("g")).count()
    val coalesced = GraftSqlBridge.localCheckpoint(agg, eager = false)
    assert(checkpointRdd(coalesced).getNumPartitions < n, "fixture: AQE did not coalesce")
    assert(declared(coalesced) == UnknownPartitioning(0), declared(coalesced))
    // plain Dataset.localCheckpoint under AQE declares nothing either
    val plain = base.repartition(n, col("k")).localCheckpoint()
    assert(declared(plain) == UnknownPartitioning(0), declared(plain))
    Seq(keyed, sorted, coalesced, plain).foreach(Blocks.free)
  }
}
