package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous domain-rank maintenance — the third leg of the streaming
  * crawl stack ([[StreamingLinks]] folds the EDGES, [[StreamingFrontier]]
  * folds the SIGHTINGS, this folds the AUTHORITY): per micro-batch the
  * page stream's harvest merges into the persisted link-graph state,
  * and the rank artifact ([[graft.ops.RankIndex]]) warm-updates over
  * the CURRENT domain graph — `itersPerBatch` rounds from the served
  * vector, never a from-uniform reconvergence. A frontier scheduler
  * reading [[graft.ops.RankIndex.ranksAt]] therefore sees authority
  * that tracks the crawl as it happens, at per-batch cost of two
  * domain-cardinality shuffles per round.
  *
  * Determinism contract (spec-pinned): after batches B₁…Bₙ the served
  * vector EQUALS the batch replay — build(rollup(B₁), iters) then
  * update(rollup(B₁∪B₂), iters) … — because each warm round is exactly
  * the fixed integer recurrence round over that batch's edge set
  * ([[graft.ops.Graph.pageRankWeightedFrom]] contract). Both artifacts
  * promote through the fuse-guarded swap, so a crash mid-batch never
  * serves a half-written graph or vector.
  */
object StreamingRank {

  /** The (src = link source, dst = target domain, w = link count)
    * weighted domain edges of the current link-graph state.
    */
  def domainEdges(linkState: DataFrame): DataFrame =
    StreamingLinks.linkGraph(linkState)
      .select(col("source").as("src"), col("domain").as("dst"),
        col("n_links").as("w"))

  /** Fold the page stream into link-graph state at `edgeStatePath` and
    * warm-update the rank artifact at `rankPath` each micro-batch
    * (bootstrap build on the first). Serve any time with
    * [[graft.ops.RankIndex.ranksAt]]. Callers own stop().
    */
  def startAt(pagesStream: DataFrame, edgeStatePath: String,
      rankPath: String, checkpoint: String, itersPerBatch: Int = 1,
      htmlCol: String = "html",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = pagesStream.sparkSession
    pagesStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fs = graft.fs.Fs.getFileSystem(
          spark.sparkContext.hadoopConfiguration, edgeStatePath)
        val batchState = StreamingLinks.linkState(
          StreamingLinks.harvest(batch, htmlCol))
        val merged =
          if (fs.exists(new org.apache.hadoop.fs.Path(edgeStatePath)))
            StreamingLinks.mergeState(
              spark.read.parquet(edgeStatePath), batchState)
          else batchState
        graft.ext.IndexLifecycle.replace(spark, edgeStatePath)(
          merged.write.mode("overwrite").parquet)
        val edges = domainEdges(spark.read.parquet(edgeStatePath))
        val nodes = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id"))).distinct()
        if (graft.ops.RankIndex.readRankParams(spark, rankPath).isEmpty)
          graft.ops.RankIndex.writeRankIndex(nodes, edges, rankPath,
            iters = itersPerBatch)
        else
          graft.ops.RankIndex.updateRankIndex(spark, rankPath, nodes,
            edges, iters = itersPerBatch)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
