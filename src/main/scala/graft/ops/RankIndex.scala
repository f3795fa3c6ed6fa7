package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.IndexLifecycle

/** Persisted domain-rank artifact with WARM-START incremental
  * maintenance — the index-lifecycle pattern (build → serve → update →
  * forget under the fuse-guarded swap, the d22/t36/t62b convention)
  * applied to [[Graph.pageRankWeighted]]: a crawl pipeline computes
  * domain centrality once per snapshot, serves it to the frontier
  * scheduler from the artifact (no per-query graph iteration), and on
  * the next crawl batch folds the new edges in by warm-starting from
  * the persisted vector ([[Graph.pageRankWeightedFrom]]) instead of
  * re-converging from uniform.
  *
  * The artifact is (id, rank) parquet at domain cardinality plus an
  * underscore-prefixed params sidecar (skipped by parquet readers,
  * like `_SUCCESS`) recording the TOTAL iteration count the vector has
  * absorbed — build iters + every update's warm rounds — so a gate or
  * an auditor can replay the exact trajectory that produced what is
  * being served. Edges are NOT persisted here: degrees/weight sums are
  * a property of the CURRENT edge set and recompute in one aggregation
  * per update (persisting them would serve stale normalizers after any
  * recrawl).
  *
  * Scale shape: serve is a parquet scan of millions of domain rows —
  * broadcastable into any frontier join; update is `iters` rounds of
  * two domain-cardinality shuffles each, independent of how many
  * PAGES the batch contained (the rollup to domain edges happened
  * upstream). All integer micros; the whole lifecycle hash-gates
  * (g13).
  */
object RankIndex {

  /** Iteration provenance of a persisted rank vector: `itersTotal` is
    * the build's rounds plus every warm update's rounds — the unrolled
    * trajectory length an exact replay must run.
    */
  case class RankParams(itersTotal: Int)

  private[graft] val RankSidecar = new IndexLifecycle.Sidecar[RankParams]("rank")

  /** The params sidecar of a persisted rank artifact; None for a path
    * without one (not an artifact this lifecycle wrote).
    */
  def readRankParams(spark: SparkSession, path: String): Option[RankParams] =
    RankSidecar.read(spark, path)

  /** Build the artifact: `iters` rounds of [[Graph.pageRankWeighted]]
    * from the uniform prior, persisted with its provenance sidecar.
    * `nodes` is (id), `edges` (src, dst, weightCol).
    */
  def writeRankIndex(nodes: DataFrame, edges: DataFrame, path: String,
      iters: Int = 3, weightCol: String = "w"): Unit = {
    Graph.pageRankWeighted(nodes, edges, iters, weightCol)
      .write.mode("overwrite").parquet(path)
    RankSidecar.write(nodes.sparkSession, path, RankParams(iters))
  }

  /** The persisted rank vector (id, rank) — the serve path a frontier
    * scheduler joins (broadcast-sized at domain cardinality).
    */
  def ranksAt(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Warm-start incremental maintenance: re-rank the CURRENT graph
    * (`nodes`/`edges` — the post-batch edge set, new domains included)
    * for `iters` rounds starting from the persisted vector, and
    * promote the result through the fuse-guarded
    * [[IndexLifecycle.swapIn]]. Domains first seen in this batch start
    * at the uniform prior ([[Graph.pageRankWeightedFrom]] contract);
    * domains that vanished from the edge set keep only teleport mass
    * and decay toward the floor — no tombstoning needed. The sidecar's
    * `itersTotal` grows by `iters`, keeping the full trajectory
    * replayable.
    */
  def updateRankIndex(spark: SparkSession, path: String, nodes: DataFrame,
      edges: DataFrame, iters: Int = 2, weightCol: String = "w"): Unit = {
    val p = RankSidecar.require(spark, path, "not a rank artifact this can update")
    IndexLifecycle.replace(spark, path, RankSidecar, RankParams(p.itersTotal + iters)) {
      Graph.pageRankWeightedFrom(nodes, edges, ranksAt(spark, path), iters, weightCol)
        .write.mode("overwrite").parquet(_)
    }
  }

  /** Deletion propagation: drop the forgotten ids' rows and swap the
    * purged vector in (the forgetDocs policy applied to rank state —
    * a delisted domain's score is derived from its link history and
    * must go with it). A later [[updateRankIndex]] re-initializes any
    * still-linked id at the uniform prior.
    */
  def forgetRankIndex(spark: SparkSession, path: String,
      forgetIds: DataFrame, idCol: String = "id"): Unit = {
    val p = RankSidecar.require(spark, path, "not a rank artifact this can update")
    IndexLifecycle.replace(spark, path, RankSidecar, p) {
      ranksAt(spark, path)
        .join(forgetIds.select(col(idCol).as("id")), Seq("id"), "left_anti")
        .write.mode("overwrite").parquet(_)
    }
  }
}
