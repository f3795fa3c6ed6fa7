package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.{TextOps, UrlOps}

/** Continuous link-graph maintenance: a STREAM of crawled pages folded
  * into the t51 crawl-prioritization table — the frontier summary a
  * crawler ranks by is inherently a streaming object (pages arrive as
  * they are fetched; the scheduler reads the CURRENT rollup). Per
  * micro-batch: the narrow t48 harvest runs over the batch only, the
  * result merges into a persisted state table at (source, target
  * domain, page) granularity, and the rebuild swaps in fuse-guarded
  * ([[graft.ext.IndexLifecycle.swapIn]] — a crash mid-fold never
  * leaves a half-written table, the chunk-store discipline).
  *
  * State granularity is the key design point: `n_pages` is a DISTINCT
  * page count, which per-group counters cannot merge — so the state
  * keys (source, domain, doc_id) with an additive link count, making
  * the fold exact: counts are sums, distinct pages are state rows, and
  * the served rollup ([[linkGraph]]) EQUALS the batch-built t51 table
  * of everything ingested (spec-pinned, including re-linked pages
  * across batches). State is one row per (source, domain, page) triple
  * — link-graph-sized, far below raw-link cardinality; the per-batch
  * rewrite is O(state) parquet IO with no driver-side materialization
  * (a production variant would partition the state by domain and
  * rewrite only touched partitions — same artifact contract).
  */
object StreamingLinks {

  /** The narrow harvest: pages → one (doc_id, source, domain) row per
    * non-empty anchor href (the t48/t51 chain).
    */
  def harvest(pages: DataFrame, htmlCol: String = "html"): DataFrame = {
    val links = pages
      .select(col("doc_id"), col("source"),
        explode(TextOps.htmlLinks(col(htmlCol))).as("href"))
      .filter(col("href") =!= "")
    val canon = UrlOps.canonicalizeUrl(col("href"))
    links.select(col("doc_id"), col("source"),
      UrlOps.registrableDomain(canon).as("domain"))
  }

  /** (source, domain, doc_id, n) — the mergeable state grain. */
  def linkState(links: DataFrame): DataFrame =
    links.groupBy(col("source"), col("domain"), col("doc_id"))
      .agg(count(lit(1)).as("n"))

  /** Additive merge: counts sum, page rows stay distinct by key. */
  def mergeState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("source"), col("domain"), col("doc_id"))
      .agg(sum(col("n")).as("n"))

  /** Serve the t51 rollup off the state: links are summed counts,
    * distinct pages are the state rows themselves.
    */
  def linkGraph(state: DataFrame): DataFrame =
    state.groupBy(col("source"), col("domain"))
      .agg(sum(col("n")).as("n_links"), count(lit(1)).as("n_pages"))

  /** Fold the page stream into the state at `statePath`; serve any
    * time with `linkGraph(spark.read.parquet(statePath))`. Callers
    * own stop().
    */
  def startAt(pagesStream: DataFrame, statePath: String, checkpoint: String,
      htmlCol: String = "html",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = pagesStream.sparkSession
    pagesStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fs = graft.fs.Fs.getFileSystem(
          spark.sparkContext.hadoopConfiguration, statePath)
        val batchState = linkState(harvest(batch, htmlCol))
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
