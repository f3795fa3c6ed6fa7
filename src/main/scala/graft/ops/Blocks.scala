package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager hygiene for iterative operators and long-lived
  * sessions.
  *
  * `Dataset.localCheckpoint` persists the materialized RDD, but
  * `Dataset.unpersist` only consults the CacheManager — which never
  * sees checkpoint RDDs — so a checkpointed round's blocks stay in the
  * block manager until the APPLICATION ends unless the RDD itself is
  * unpersisted. Inside an iterative loop that is a per-round leak; for
  * the loop's RETURNED frame it is a one-table leak the library cannot
  * free itself (the caller reads the frame lazily, and a freed
  * localCheckpoint cannot recompute — its lineage is truncated by
  * design). Contract: every graft iterative operator frees its
  * intermediate rounds eagerly and returns a frame holding O(1) live
  * checkpointed tables — one materialized result, or for the
  * lazy-returning rank loops the checkpointed edge and node-id inputs
  * the plan reads (never one per round); a long-lived session (the bench harness, a
  * notebook) calls [[sweep]] between units of work to reclaim those
  * finals. A short-lived job (Verify, a spark-submit batch) can ignore
  * all of this — the JVM exit reclaims everything.
  *
  * Why it matters at 100 TB: on a real cluster the leaked blocks sit
  * in EXECUTOR storage memory, shrinking the execution pool under the
  * unified memory manager — a session running hundreds of iterative
  * queries degrades slowly (more spilling, more GC) with nothing in
  * any single query's plan to blame. The r14 bench showed exactly this
  * signature in miniature: late passes of the multi-job iterative
  * queries (s02, t25, d37) ran 2–4× their early-pass times while
  * single-job queries sat tight.
  *
  * Keyed checkpoints: the converged loops ([[converge]]) and the graph
  * operators' input pins checkpoint through
  * [[org.apache.spark.sql.GraftSqlBridge.localCheckpoint]], which
  * declares the hash partitioning the executed plan proved (under AQE
  * plain `localCheckpoint` declares none). Edges pinned by
  * `repartition(n, src)` and a state frame keyed on its id then join
  * with no exchange, round after round; only each half-step's re-key
  * to the receiving node shuffles. A checkpoint is freed only through
  * [[release]] once its successor is fully in the block manager.
  */
object Blocks {

  /** Free a [[org.apache.spark.sql.Dataset.localCheckpoint]]'s blocks.
    * Walks the analyzed plan for `LogicalRDD` leaves (what a
    * checkpointed Dataset's plan collapses to) and unpersists their
    * RDDs directly — the only handle the CacheManager-based
    * `Dataset.unpersist` misses. No-op on frames that are not
    * checkpointed. NEVER call on a frame that still has unexecuted
    * consumers: a freed localCheckpoint cannot be recomputed.
    */
  def free(df: DataFrame): Unit =
    // subquery plans too: a scan inside a scalar subquery is a leaf
    // whose bytes no checkpoint block accounts for
    df.queryExecution.analyzed.foreachWithSubqueries {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The round driver of every converged iterative operator: runs
    * `round` from `init` until a round has no row matching `changed`
    * or `maxRounds` rounds ran. `round` gets the previous frame (`init`,
    * then the last round's output) and returns the next one, carrying
    * the previous state as the columns `changed` compares. Returns the
    * last frame, the rounds run, and whether the last round changed
    * nothing.
    *
    * Each round is a lazy keyed checkpoint
    * ([[org.apache.spark.sql.GraftSqlBridge.localCheckpoint]]): plan
    * depth stays one round however deep the trajectory runs, and a
    * round whose plan ends hash-partitioned on an output column (a
    * state frame keyed on its node id) is declared so, so the next
    * round joins it to edges pinned on the same key without an
    * exchange. The round's one action is the count of its rows matching
    * `changed`, the answer to "stable?". The count scans the round's
    * RDD: one job, no exchange (`Dataset.count` would add a
    * partial-count shuffle, a second job under AQE). The previous round
    * is then freed ([[release]]), but only if this driver checkpointed
    * it: `init` may read the caller's own checkpoints (edges, node ids),
    * which stay the caller's to free.
    */
  private[graft] def converge(init: DataFrame, maxRounds: Int)(
      round: DataFrame => DataFrame, changed: Column): (DataFrame, Int, Boolean) = {
    var cur = init
    var rounds = 0
    var stable = false
    while (rounds < maxRounds && !stable) {
      val next = GraftSqlBridge.localCheckpoint(round(cur), eager = false)
      stable = next.filter(changed).queryExecution.toRdd.count() == 0L
      if (rounds > 0) release(cur, next)
      cur = next
      rounds += 1
    }
    (cur, rounds, stable)
  }

  /** [[free]] `prev` once its successor checkpoint no longer needs it:
    * every partition of every checkpoint RDD `successor` reads must be
    * in the block manager, or this throws an `IllegalStateException`
    * naming the RDD and frees nothing. A freed local checkpoint cannot
    * be recomputed, so a successor partition still to be computed from
    * `prev` would fail later, far from the cause. After any job that
    * read a lazy local checkpoint, Spark
    * (`LocalRDDCheckpointData.doCheckpoint`) has stored every partition
    * of it, including those the job skipped (BlocksSpec pins this). The
    * block manager master is asked
    * ([[GraftSqlBridge.storedBlocks]]), not `getRDDStorageInfo`:
    * that one lags the job that stored the blocks.
    */
  private[graft] def release(prev: DataFrame, successor: DataFrame): Unit = {
    successor.queryExecution.analyzed.foreach {
      case lr: LogicalRDD =>
        val (stored, n) = (GraftSqlBridge.storedBlocks(lr.rdd).size, lr.rdd.getNumPartitions)
        if (stored < n) throw new IllegalStateException(
          s"cannot free a checkpoint yet: its successor ${lr.rdd} (RDD ${lr.rdd.id}) has " +
            s"$stored of $n partitions in the block manager")
      case _ => ()
    }
    free(prev)
  }

  /** The REAL materialized size of an (eagerly) localCheckpointed
    * frame, read from the block manager with NO job: sums mem+disk
    * bytes of every `LogicalRDD` leaf in the plan. None when any leaf
    * is not a checkpoint or has a partition not (yet) stored — the
    * caller must then treat the size as unknown, not zero. The honest
    * input to a broadcast decision (guide §3: broadcast only what
    * FITS): planner estimates over checkpointed chains are garbage,
    * and a counting job would cost what this lookup gets for free. The
    * block manager master is asked ([[GraftSqlBridge.storedBlocks]]),
    * as in [[release]]: `getRDDStorageInfo` lags the job that stored
    * the blocks, and right after one it can size only some partitions.
    */
  def materializedBytes(df: DataFrame): Option[Long] = {
    val rdds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    var allCheckpoints = true
    // subquery plans too: a scan inside a scalar subquery is a leaf
    // whose bytes no checkpoint block accounts for
    df.queryExecution.analyzed.foreachWithSubqueries {
      case lr: LogicalRDD => rdds += lr.rdd
      case leaf if leaf.children.isEmpty &&
          leaf.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LeafNode] =>
        leaf match {
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
          case _: org.apache.spark.sql.catalyst.plans.logical.OneRowRelation => ()
          case _ => allCheckpoints = false
        }
      case _ => ()
    }
    if (!allCheckpoints || rdds.isEmpty) None
    else {
      val sizes = rdds.distinctBy(_.id).map { rdd =>
        val stored = GraftSqlBridge.storedBlocks(rdd)
        if (stored.size == rdd.getNumPartitions) Some(stored.values.sum) else None
      }
      if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
    }
  }

  /** Unpersist EVERY persistent RDD in the context — cached frames and
    * checkpoint blocks alike — and return how many were dropped. For
    * session-lifecycle seams where no live frame is still being
    * consumed: between bench queries, between notebook cells, between
    * pipeline stages that communicate through written artifacts. Not
    * for use inside an operator (it would drop OTHER operators' live
    * caches).
    */
  def sweep(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs
    rdds.values.foreach(_.unpersist(blocking = false))
    // ALSO clear the CacheManager: a query-internal `.persist()` (the
    // t24/t31 lazy-cache pattern) registers an InMemoryRelation entry
    // on the DRIVER that unpersisting the RDDs above does not remove —
    // across a long session those entries accumulate one per distinct
    // cached plan (r16 advice). The session seam is exactly where no
    // live frame may depend on a cache, so dropping the entries is
    // safe, and it keeps the no-cross-query-caching contract honest:
    // the next query re-materializes from parquet rather than silently
    // rebinding to a warm entry.
    spark.catalog.clearCache()
    rdds.size
  }
}
