package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous crawl-FRONTIER maintenance — the streaming twin of the
  * t55 scheduler composition: robots-decided harvest rows arrive as
  * pages are fetched, fold into a first-sighting state table, and the
  * scheduler serves the budgeted frontier off the CURRENT state at any
  * time (the frontier is inherently a streaming object — t55's batch
  * build is its replay).
  *
  * Input grain is the DECIDED row (doc_id, pos, url_canon, domain,
  * allowed) — politeness already applied upstream per micro-batch by
  * [[graft.ext.UrlOps.robotsDecisions]] against a static rules frame
  * (a stream-static join; rules change by swapping the frame). State
  * is one row per allowed canonical URL holding its FIRST sighting —
  * the minimum (doc_id, pos) — which is a true streaming MIN: merges
  * are associative/commutative, so cross-batch re-sightings (including
  * an EARLIER sighting arriving late) fold exactly and the state
  * equals the batch build over everything ingested (spec-pinned).
  *
  * Scale shape: state is URL-cardinality but each fold touches only
  * O(state) parquet IO with no driver materialization, the serve-side
  * rank join runs at domain cardinality, and both frontier cuts are
  * the single-exchange [[graft.plans.TopKPerKeyNode]] group-limits —
  * the same plan shape t55 pins. The swap is fuse-guarded
  * ([[graft.ext.IndexLifecycle.swapIn]]): a crash mid-fold never
  * leaves a half-written frontier.
  */
object StreamingFrontier {

  /** (url_canon, domain, doc_id, pos) — first sighting per allowed
    * URL within one batch; the mergeable state grain.
    */
  def sightingState(decided: DataFrame): DataFrame =
    decided.filter(col("allowed"))
      .groupBy(col("url_canon"))
      .agg(min(struct(col("doc_id"), col("pos"), col("domain"))).as("s"))
      .select(col("url_canon"), col("s.domain").as("domain"),
        col("s.doc_id").as("doc_id"), col("s.pos").as("pos"))

  /** Associative merge: the earliest sighting wins across batches. */
  def mergeState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("url_canon"))
      .agg(min(struct(col("doc_id"), col("pos"), col("domain"))).as("s"))
      .select(col("url_canon"), col("s.domain").as("domain"),
        col("s.doc_id").as("doc_id"), col("s.pos").as("pos"))

  /** The budgeted frontier off the current state: authority join at
    * domain cardinality (absent domains rank 0 — the t55 convention),
    * then the per-domain top-`k` cut by earliest sighting.
    */
  def frontier(state: DataFrame, ranks: DataFrame, k: Int = 3): DataFrame = {
    val joined = state
      .join(ranks.select(col("domain"), col("rank")), Seq("domain"), "left")
      .select(col("domain"), col("url_canon"),
        coalesce(col("rank"), lit(0L)).as("domain_rank"),
        col("doc_id"), col("pos"))
    graft.ops.TopK.perKey(joined, keys = Seq("domain"),
      order = Seq(("doc_id", false), ("pos", false), ("url_canon", false)),
      k = k)
  }

  /** Fold the decided-row stream into the state at `statePath`; serve
    * any time with `frontier(spark.read.parquet(statePath), ranks)`.
    * Callers own stop().
    */
  def startAt(decidedStream: DataFrame, statePath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = decidedStream.sparkSession
    decidedStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fs = graft.fs.Fs.getFileSystem(
          spark.sparkContext.hadoopConfiguration, statePath)
        val batchState = sightingState(batch)
        val merged =
          if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
            mergeState(spark.read.parquet(statePath), batchState)
          else batchState
        graft.ext.IndexLifecycle.replace(spark, statePath)(merged.write.mode("overwrite").parquet)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
