package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.Similarity

/** Continuous distribution-drift monitor — the streaming twin of
  * [[graft.ext.IndexLifecycle.driftSinceBuild]]: a RUNNING
  * per-dimension moment aggregation over the ingest vector stream
  * (a native streaming aggregation — state is exactly dim rows in the
  * state store, restart-safe through the checkpoint, no watermark
  * because the running total never expires), joined per trigger
  * against the `_graft_moments` sidecar the live index recorded at
  * build time. Every micro-batch OVERWRITES `outPath` with the current
  * per-dimension drift report, so an operator (or a scheduled rebuild
  * job) reads one dim-row parquet to answer "has ingest drifted from
  * what the planes/codebooks were trained on?" — and triggers the
  * [[graft.ext.IndexLifecycle]] rebuild+swap when it has.
  *
  * Scale shape: the corpus-sized work per trigger is the batch's
  * posexplode + map-side-combined partial aggregation; everything
  * downstream (state merge, sidecar join, report write) lives at dim
  * cardinality. The sidecar is re-read each trigger, so an index
  * rebuild+swap landing mid-stream re-baselines the NEXT report with
  * no restart (the [[StreamingSimilarity.startAt]] convention).
  */
object StreamingDrift {

  def start(vectorsStream: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, vecCol: String = "embedding",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = vectorsStream.sparkSession
    val moments = vectorsStream
      .select(posexplode(Similarity.asDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(count(lit(1)).as("cnt"), sum(floor(col("x") * 1e6).cast("long")).as("msum"))
    moments.writeStream
      // complete mode: each trigger emits the FULL running moments —
      // dim rows, so "complete" is a dim-row frame, never corpus-sized
      .outputMode("complete")
      .foreachBatch { (running: DataFrame, _: Long) =>
        graft.ext.IndexLifecycle.retryingDuringSwap() {
          val before = Similarity.readMomentsSidecar(spark, indexPath).getOrElse(
            throw graft.ext.IndexLifecycle.missingMoments(indexPath))
          Similarity.embeddingDrift(before, running)
            .write.mode("overwrite").parquet(outPath)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
