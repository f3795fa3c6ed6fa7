package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Iterative graph analytics in the Pregel-on-DataFrames shape, with
  * GraphX's routing-table layout: the edges are pinned once
  * hash-partitioned on their join key (`src`, and `dst` too for HITS)
  * and every round's state is keyed on its node id, so the join of
  * ranks to edges runs with no exchange and each half-step's one
  * shuffle re-keys the contributions to the receiving node (no
  * driver-side adjacency, nothing scales with the graph on one
  * machine). Complements [[graft.ext.Dedup.clusters]] (connected
  * components by iterative min-label propagation).
  */
object Graph {

  /** Deterministic INTEGER PageRank (damping 0.85, unnormalized
    * teleport): ranks are micro-units starting at 10⁶ per node and
    * every update is positive-integer multiply/divide —
    *
    *   rank'(v) = 150000 + (85 · Σ_{u→v} (rank(u) div deg(u))) div 100
    *
    * so the whole iteration chain replays exactly in SQL (Spark `div`
    * == DuckDB `//` on positive longs; no float ever exists — the s05
    * exact-integer-state principle applied to graph iteration).
    * Dangling nodes (no out-edges) keep receiving teleport mass but
    * contribute none — the standard simplification; callers that need
    * mass conservation add a dangling-sum redistribution term.
    *
    * `nodes` is (id: long); `edges` is (src, dst) — pass both
    * directions for an undirected graph. Per iteration the plan is a
    * join on src + an aggregation on dst + a left join back to nodes.
    * The degree-joined edge frame is loop-INVARIANT but referenced by
    * every iteration. Within one action Spark's exchange reuse usually
    * dedupes the repeated subplan, but that is a physical-planner
    * OPTIMIZATION, not a contract — it disappears when the caller
    * materializes ranks across separate actions (convergence checks,
    * checkpointed chains) and an expensive edge derivation (the d02
    * similarity join in g01) would then be re-paid per action.
    * `materialize` (default) eagerly `localCheckpoint`s the frame once
    * so edge cost is paid exactly once REGARDLESS of how the caller
    * drives the loop, and the edge lineage is cut for long chains;
    * pass false when the input is a plain scan that's cheaper to
    * re-read than to pin. Rank plans nest linearly in `iters` — for
    * long chains (> ~10) interpose `localCheckpoint()` on the rank
    * frame too (the [[graft.ext.Dedup.clusters]] lineage rule).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 3,
      materialize: Boolean = true): DataFrame =
    rankFixed(nodes.select(col("id")), edges, iters, None, materialize)(uniformPrior)

  /** `df` hash-partitioned on `key` into `spark.sql.shuffle.partitions`
    * (an explicit count, which AQE never coalesces) and, when
    * `materialize`, pinned once by an eager keyed checkpoint
    * ([[GraftSqlBridge.localCheckpoint]]); otherwise the keying stays
    * in-plan. The loops key their state on the node id the same way, so
    * a round joins state to edges pinned on the join key without an
    * exchange — GraphX's routing table, on DataFrames.
    */
  private[graft] def pin(df: DataFrame, key: String, materialize: Boolean): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed = df.repartition(n, col(key))
    if (materialize) GraftSqlBridge.localCheckpoint(keyed, eager = true) else keyed
  }

  /** The join hint on every keyed side of a round's joins. Checkpointed
    * state reports tiny statistics, so the planner (or AQE at runtime)
    * would broadcast it — one more job per join — where a sort-merge
    * join of two sides already partitioned on the key needs no exchange
    * at all.
    */
  private val Merge = "shuffle_merge"

  private val uniformPrior: DataFrame => DataFrame =
    _.select(col("id"), lit(1000000L).as("rank"))

  /** A PageRank loop's inputs, each pinned once when `materialize`: the
    * edges carrying their source's out-degree `d` (or, with `weightCol`,
    * weight sum `ws`), the node frame `ids` (id plus whatever the
    * round's `floor` reads), and the SQL share of a source's rank one
    * edge carries. `ids` is pinned because every round's zero-restore
    * join would otherwise embed the caller's whole `nodes` subtree (for
    * the crawl queries: a documents scan + link harvest + distinct) once
    * per round — r16 measured g10's single action at 16 parquet scans /
    * 44 exchanges from exactly this duplication.
    */
  private def rankInputs(ids: DataFrame, edges: DataFrame, weightCol: Option[String],
      materialize: Boolean): (DataFrame, DataFrame, String) = {
    val (norm, share) = weightCol.fold((count(lit(1)).as("d"), "rank div d"))(
      w => (sum(col(w)).as("ws"), s"rank * $w div ws"))
    (pin(edges.join(edges.groupBy("src").agg(norm), "src"), "src", materialize),
      pin(ids, "id", materialize), share)
  }

  /** `state` (id, …) keyed on id flows along the edges `e` keyed on
    * `from`: each edge carries `value` (over the edge's and the state's
    * columns) to its `to` end, summed there as (id, c). The join is
    * co-partitioned; the re-key to `to` is the one exchange.
    */
  private[graft] def spread(e: DataFrame, state: DataFrame, from: String, to: String,
      value: Column): DataFrame =
    e.join(state.withColumnRenamed("id", from).hint(Merge), from)
      .select(col(to).as("id"), value.as("c"))
      .groupBy("id").agg(sum("c").as("c"))

  /** One round of the integer recurrence: `r` (id, rank, …) spreads
    * `share` along the edges `e`, and every node of `ids` gets `floor`
    * (the teleport mass) plus 85 % of what reached it.
    */
  private[graft] def rankRound(e: DataFrame, ids: DataFrame, r: DataFrame, share: String,
      floor: Column): DataFrame = {
    val contrib = spread(e, r.select(col("id"), col("rank")), "src", "dst", expr(share))
    ids.join(contrib.hint(Merge), Seq("id"), "left")
      .select(col("id"),
        (floor + expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("rank"))
  }

  /** The lazy fixed-round spellings: `iters` rounds from `init(ids)`,
    * one plan, no job of their own beyond the input pins.
    */
  private def rankFixed(ids: DataFrame, edges: DataFrame, iters: Int,
      weightCol: Option[String], materialize: Boolean, floor: Column = lit(150000L))(
      init: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val (e, pinned, share) = rankInputs(ids, edges, weightCol, materialize)
    (1 to iters).foldLeft(init(pinned))((r, _) => rankRound(e, pinned, r, share, floor))
  }

  /** [[pageRank]] with CONVERGENCE DETECTION (the r12 verdict task 7
    * contract, [[labelPropagationConverged]]'s sibling): the same exact
    * integer recurrence, but iterations stop once NO node's rank moved
    * by more than `tolMicros` since the previous round — capped at
    * `maxIters`, with the executed round count returned. roundsRun <
    * maxIters means the trajectory is inside its tolerance band, and
    * at tolMicros = 0 it is an EXACT integer fixpoint: the result
    * equals the fixed-iter operator at every iters >= roundsRun − 1,
    * so downstream gates can replay the pinned count. roundsRun ==
    * maxIters is the caller-visible "deep graph or quantization
    * 2-cycle" signal — raise the cap or allow a few micros of
    * tolerance (integer quantization can oscillate ±1 micro forever
    * where float PageRank would drift below any epsilon).
    *
    * Detection costs one node-sized join per round against the
    * previous (localCheckpointed) ranks; rank frames are checkpointed
    * every round so plan depth stays constant however deep the
    * trajectory runs.
    */
  def pageRankConverged(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 64, tolMicros: Long = 0L,
      materialize: Boolean = true): (DataFrame, Int) = {
    require(maxIters >= 1, "maxIters must be >= 1")
    require(tolMicros >= 0L, "tolMicros must be >= 0")
    // edges and ids are pinned only when `materialize`; an opt-out
    // caller runs no eager job at all and re-evaluates them per round
    val (e, ids, share) = rankInputs(nodes.select(col("id")), edges, None, materialize)
    // the previous round's rank rides each round as `_prev`, so the
    // tolerance count is the round's one action ([[Blocks.converge]])
    val (r, rounds, _) = Blocks.converge(uniformPrior(ids), maxIters)(
      r => rankRound(e, ids, r, share, lit(150000L))
        .join(r.select(col("id"), col("rank").as("_prev")).hint(Merge), "id"),
      abs(col("rank") - col("_prev")) > tolMicros)
    // the result is a checkpoint: the pinned inputs are dead weight
    if (materialize) { Blocks.free(ids); Blocks.free(e) }
    (r.select(col("id"), col("rank")), rounds)
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * restricted to a SEED set: rank flows outward from the seeds
    * through the graph, so the score ranks every node by graph
    * proximity to the seeds rather than by global centrality. On a
    * near-dup/similarity graph this is retrieval-by-relationship:
    * "given these known-good (or known-bad) documents, which others
    * are pulled toward them?" — the seed-expansion step of curation
    * (expanding a labeled set along the similarity structure) that
    * plain top-k cosine cannot do transitively.
    *
    * Same exact integer recurrence as [[pageRank]] with the floor made
    * conditional:
    *
    *   rank'(v) = (v ∈ seeds ? 150000 : 0)
    *            + (85 · Σ_{u→v} (rank(u) div deg(u))) div 100
    *
    * starting from 10⁶ on seeds and 0 elsewhere, so non-seed nodes
    * hold EXACTLY the mass that reached them through edges (a node
    * unreachable from every seed stays at 0 — a checkable contract).
    * All positive-integer arithmetic; the whole trajectory replays in
    * SQL. `seeds` is (id: long); it is joined once into the node frame
    * (broadcast-sized in any practical use — a labeled set).
    */
  def pageRankPersonalized(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, materialize: Boolean = true): DataFrame = {
    val seeded = nodes.select(col("id"))
      .join(seeds.select(col("id")).distinct().withColumn("_s", lit(1)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("_s"), lit(0)).as("is_seed"))
    rankFixed(seeded, edges, iters, None, materialize,
      floor = col("is_seed").cast("long") * 150000L)(
      _.select(col("id"), (col("is_seed").cast("long") * 1000000L).as("rank")))
  }

  /** Weight-proportional PageRank — [[pageRank]] with each node's rank
    * split across out-edges BY EDGE WEIGHT instead of uniformly: on a
    * similarity graph, a 0.9-Jaccard near-duplicate should pull far
    * more of a doc's centrality than a 0.5 borderline pair, which is
    * exactly the difference between "hub of one redundant cluster" and
    * "quoted once by many unrelated docs". Same exact integer
    * recurrence as the unweighted form with `rank·w div W_src`
    * replacing `rank div d` (weights are integer micros, W_src their
    * per-source sum — products stay ≤ ~10¹³, overflow-free in BIGINT),
    * so every iteration replays in SQL and the whole trajectory
    * hash-gates. Per iteration: one weighted-edge join + one dst
    * aggregation; the weight-sum table is computed once and rides the
    * (optionally checkpointed) edge frame.
    */
  def pageRankWeighted(nodes: DataFrame, edges: DataFrame, iters: Int = 3,
      weightCol: String = "w", materialize: Boolean = true): DataFrame =
    rankFixed(nodes.select(col("id")), edges, iters, Some(weightCol), materialize)(uniformPrior)

  /** [[pageRankWeighted]] with a WARM-START rank vector — the
    * incremental-recrawl primitive behind [[RankIndex]]: instead of
    * initializing every node at the uniform 10⁶ prior, `init`
    * (id, rank) seeds nodes with a previously computed (persisted)
    * rank vector and the recurrence runs `iters` rounds over the
    * CURRENT edge set. Nodes absent from `init` — domains first seen
    * in this crawl batch — start at the uniform prior via the left
    * join's coalesce, so a warm start over an unchanged graph with
    * iters = 0 extra rounds would be the identity and each warm round
    * is EXACTLY the fixed recurrence round (same integer arithmetic,
    * same SQL replay — the whole base + warm trajectory hash-gates as
    * one unrolled CTE chain).
    *
    * Why it matters at 100 TB: a weekly recrawl that re-ranks from
    * uniform pays the full convergence depth over the whole domain
    * graph every week; warm-starting from last week's fixpoint needs
    * only the rounds the DELTA actually perturbs (typically 1–2), and
    * every round is still two domain-cardinality shuffles. Same
    * edge-materialization contract as [[pageRankWeighted]].
    */
  def pageRankWeightedFrom(nodes: DataFrame, edges: DataFrame,
      init: DataFrame, iters: Int = 3, weightCol: String = "w",
      materialize: Boolean = true): DataFrame =
    rankFixed(nodes.select(col("id")), edges, iters, Some(weightCol), materialize)(
      _.join(init.select(col("id"), col("rank").as("_init")), Seq("id"), "left")
        .select(col("id"), coalesce(col("_init"), lit(1000000L)).as("rank")))

  /** HITS hubs-and-authorities over a weighted DIRECTED graph — the
    * other classic crawl-frontier centrality next to
    * [[pageRankWeighted]]: a good HUB is a page community that links
    * to good authorities, a good AUTHORITY is one that good hubs link
    * to. On a crawl's domain graph the authority score ranks FETCH
    * targets while the hub score ranks SEED/re-crawl sources — the two
    * sides of frontier scheduling.
    *
    * Integer-exact (the g01/g10 discipline — both engines replay the
    * identical trajectory, no float drift): scores live in micros,
    * each half-iteration is a weighted sum over in- (resp. out-) edges
    * followed by L1 normalization `s·10⁶ div Σs` with truncating
    * integer division (classic HITS normalizes by L2; L1 keeps every
    * step a rational of longs, and the RANKING — the thing a frontier
    * consumes — is scale-invariant). Each half-step's sums are
    * checkpointed once, and the normalizer Σs is one fold job over that
    * checkpoint: one `Long` per partition, folded on the driver, which
    * then applies it as a literal. Overflow headroom: after
    * normalization Σscore ≤ 10⁶, so a weighted sum is ≤ 10⁶·Σw — fine
    * in a long for any real edge multiset.
    *
    * Nodes without in-edges hold authority 0, without out-edges hub 0
    * (exact zeros under the gate, the g06 unreachable contract). Scale
    * shape: the edges are pinned twice, by `src` and by `dst`, and the
    * scores are keyed by node id, so each half-step joins scores to
    * edges with no exchange and shuffles once, re-keying the weighted
    * contributions (node cardinality — domain-level for a crawl, never
    * page-level) to the receiving node. A round runs five jobs: per
    * half-step that re-key and the L1 fold, then the stability count.
    *
    * A fixed-round run is [[hitsConverged]] capped at `iters`: it stops
    * early only at an exact integer fixpoint, which every further round
    * repeats, so the scores are exactly those of `iters` rounds. Each
    * round is checkpointed, so plan depth stays one round; `materialize`
    * governs only the edge and node-id pins (without it they stay
    * in-plan repartitions and run no eager job).
    */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 2,
      weightCol: String = "w", materialize: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    hitsConverged(nodes, edges, iters, weightCol = weightCol, materialize = materialize)._1
  }

  /** Convergence-run HITS — [[hits]] at the DETECTED fixpoint instead
    * of a guessed iteration count (the g08/g09 pattern applied to
    * hubs-and-authorities): run full iterations until BOTH score
    * vectors repeat their predecessor's exactly (the integer
    * recurrence is deterministic, so one repeated round is a true
    * fixpoint — every later round replays it) or `maxIters` fires.
    * `tolMicros` relaxes equality to a per-node absolute band.
    *
    * Returns (scores, roundsRun, stable): `stable == true` means the
    * LAST executed round was a no-op, so the scores are the
    * recurrence's fixpoint; `stable == false` means the cap fired
    * first — a truncating-integer HITS can limit-cycle rather than
    * settle, and the flag (NOT the round count — a run converging
    * exactly at the cap still reports stable) is what callers must
    * branch on before trusting the scores as converged. Rounds run
    * through [[Blocks.converge]], so plan depth and block-manager
    * residency stay constant however far the trajectory runs.
    */
  def hitsConverged(nodes: DataFrame, edges: DataFrame, maxIters: Int = 64,
      tolMicros: Long = 0L, weightCol: String = "w",
      materialize: Boolean = true): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, "maxIters must be >= 1")
    require(tolMicros >= 0L, "tolMicros must be >= 0")
    // the edges pinned once by src and once by dst, the node ids by id
    // (in-plan when not `materialize`: an opt-out caller runs no eager
    // job), so every half-step's edge join is co-partitioned
    val bySrc = pin(edges.select(col("src"), col("dst"), col(weightCol).as("w")), "src",
      materialize)
    val byDst = pin(bySrc, "dst", materialize)
    val ids = pin(nodes.select(col("id")), "id", materialize)
    val weighted = col("s") * col("w")

    // one half-step: `state` (one row per node, keyed on id) gains the
    // summed contributions `raw` as `c` (0 where none arrive), checkpointed
    // keyed once, so the normalizer and the next half-step read it
    // without re-planning it. One fold job over the checkpoint sums `c`
    // (a Long per partition, folded on the driver) and materializes it;
    // the L1 normalization `c·10⁶ div max(Σc, 1)` then reads the total as
    // a run-time parameter, not a literal spelled into the generated
    // code, so every round from the third on reuses the classes the
    // second compiled ([[graft.functions.LongParam]])
    def halfStep(state: DataFrame, raw: DataFrame): (DataFrame, Column) = {
      val cp = GraftSqlBridge.localCheckpoint(state.join(raw.hint(Merge), Seq("id"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L))), eager = false)
      val total = cp.select(col("c")).queryExecution.toRdd.map(_.getLong(0))
        .fold(0L)((x, y) => Math.addExact(x, y))
      (cp, call_function("div", col("c") * 1000000L, GraftFunctions.graftParam(total max 1L)))
    }

    // both vectors ride ONE (id, a_s, h_s) frame per round; the auth
    // half-step lands on the previous round's frame, so its scores ride
    // along as `_pa`/`_ph` for the stability count ([[Blocks.converge]]).
    // Each half-step checkpoint is freed once its successor is
    // materialized: the auth one after the hub fold, the hub one after
    // the round's count
    var hub: Option[DataFrame] = None
    val (cur, rounds, stable) = Blocks.converge(
      ids.select(col("id"), lit(0L).as("a_s"), lit(1000000L).as("h_s")), maxIters)(
      { cur =>
        hub.foreach(Blocks.release(_, cur))
        val (a, auth) = halfStep(
          cur.select(col("id"), col("a_s").as("_pa"), col("h_s").as("_ph")),
          spread(bySrc, cur.select(col("id"), col("h_s").as("s")), "src", "dst", weighted))
        val (h, hubs) = halfStep(
          a.select(col("id"), col("_pa"), col("_ph"), auth.as("a_s")),
          spread(byDst, a.select(col("id"), auth.as("s")), "dst", "src", weighted))
        Blocks.release(a, h)
        hub = Some(h)
        h.select(col("id"), col("a_s"), hubs.as("h_s"), col("_pa"), col("_ph"))
      },
      abs(col("a_s") - col("_pa")) > tolMicros || abs(col("h_s") - col("_ph")) > tolMicros)
    hub.foreach(Blocks.release(_, cur))
    // the result is a checkpoint: the pinned inputs are dead weight
    if (materialize) Seq(ids, bySrc, byDst).foreach(Blocks.free)
    (cur.select(col("id"), col("h_s").as("hub_micro"), col("a_s").as("auth_micro")),
      rounds, stable)
  }

  /** Per-node triangle participation counts over an UNDIRECTED simple
    * graph, by degree-ordered edge orientation — the standard
    * distributed formulation (each triangle is enumerated exactly once
    * from its lowest-rank vertex, so the wedge join's fan-out is
    * bounded by ORIENTED out-degrees: a celebrity node of degree d
    * contributes O(d²) wedges under naive orientation but only
    * O((d_out)²) here, and degree-ordering caps d_out at O(√m) —
    * the skew lever that makes triangle counting survive power-law
    * graphs at scale).
    *
    * `edges` is (src, dst), one row per undirected edge in either
    * orientation (duplicates/self-loops dropped defensively). Plan:
    * canonicalize + distinct, ONE degree agg, orient by (degree, id),
    * then one self-join on the wedge pivot + one semi-ish join back to
    * the oriented edge set, and an explode+agg to per-node counts.
    * Nodes in no triangle get 0 via the left join to the node set.
    */
  def triangleCounts(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // canonical undirected edge (a < b), each exactly once
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient each edge from lower (deg, id) to higher — a total order,
    // so the oriented graph is acyclic and every triangle has exactly
    // one source vertex with two out-edges
    val withDeg = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges u -> (v, w) with v < w in the orientation order are closed
    // by an oriented edge (v, w); re-derive the order via degree join
    // is avoided by joining both wedge legs directly on the edge list
    // each unordered out-neighbor pair once (x < y by id): out-edges
    // are distinct, so no dedup exchange is needed anywhere below
    val e1 = oriented.select(col("u"), col("v").as("x"))
    val e2 = oriented.select(col("u"), col("v").as("y"))
    val wedges = e1.join(e2, "u").filter(col("x") < col("y"))
      .select(col("u"), col("x").as("p"), col("y").as("q"))
    // a wedge closes iff p–q is an oriented edge; the orientation
    // between p and q follows (deg, id) order, not id order, so probe
    // both directions (disjoint by acyclicity — no dedup needed)
    val closing = oriented.select(col("u").as("p"), col("v").as("q"))
      .union(oriented.select(col("v").as("p"), col("u").as("q")))
    val triangles = wedges.join(closing, Seq("p", "q"))
      .select(col("u").as("n1"), col("p").as("n2"), col("q").as("n3"))
    val perNode = triangles
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    nodes.select(col("id")).join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Synchronous label propagation — community detection over an
    * UNDIRECTED graph in `iters` fixed rounds of deterministic integer
    * state (the s05/g01 exact-trajectory principle): every node starts
    * labeled with its own id; each round it adopts the label that the
    * MOST neighbors currently carry, ties broken toward the SMALLEST
    * label, nodes with no neighbors keep their label. Unlike
    * [[graft.ext.Dedup.clusters]] (connected components = "reachable at
    * all"), majority vote splits a weakly-bridged graph at its thin
    * cuts — two dense near-dup clusters joined by one borderline pair
    * stay two communities, which is the grouping a curation policy
    * wants when CC over-merges.
    *
    * Determinism: the per-node argmax is `min(struct(-count, label))` —
    * one aggregation, no window machinery — which is exactly
    * "count DESC, label ASC pick-first" (negating the always-positive
    * count keeps the trick valid for ANY label domain), so the whole
    * trajectory replays in SQL and hash-gates. A fixed-round run is
    * [[labelPropagationConverged]] capped at `iters`: it stops early
    * only after a round that changed no label, which every further
    * round repeats, so the labels are exactly those of `iters` rounds.
    * Synchronous LPA can oscillate on bipartite structures, but a pinned
    * iteration count makes the output well-defined regardless.
    *
    * `nodes` is (id: long); `edges` is (src, dst) — pass both
    * directions for an undirected graph. Per round: one join on src +
    * two aggregations keyed on the receiving node + one left join back
    * (absent votes keep the old label). The edge frame is loop-invariant
    * and `materialize` pins it once, the [[pageRank]] contract; that pin
    * is all it governs. Labels are checkpointed every round, so plan
    * depth stays constant in `iters` (the [[graft.ext.Dedup.clusters]]
    * lineage rule).
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, iters: Int = 3,
      materialize: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    labelPropagationConverged(nodes, edges, iters, None, materialize)._1
  }

  /** Weighted label propagation — [[labelPropagation]] with each
    * neighbor's vote counted at its EDGE WEIGHT instead of 1: on a
    * similarity graph a 0.9-Jaccard neighbor pulls harder than a 0.5
    * borderline one, so a node bridged between a strong clique and a
    * weak one lands with the strong side even when the weak side has
    * more members — the uniform/weighted pattern [[pageRank]]/
    * [[pageRankWeighted]] established, applied to communities. Same
    * deterministic argmax (`min(struct(-Σw, label))` — weight-sum DESC,
    * label ASC), integer weights end to end, same per-round plan with
    * `sum(w)` replacing `count`. Equal weights degenerate to the
    * uniform operator exactly (spec-pinned). Like the uniform spelling,
    * it is [[labelPropagationConverged]] capped at `iters`.
    */
  def labelPropagationWeighted(nodes: DataFrame, edges: DataFrame,
      iters: Int = 3, weightCol: String = "w",
      materialize: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    labelPropagationConverged(nodes, edges, iters, Some(weightCol), materialize)._1
  }

  /** [[labelPropagation]] / [[labelPropagationWeighted]] with
    * CONVERGENCE DETECTION: the same deterministic vote rule (majority,
    * ties to the smallest label, `sum(w)` votes when `weightCol` is
    * set), but rounds stop as soon as NO label changed — capped at
    * `maxIters`. Returns (labels, roundsRun, stable): stable means the
    * LAST executed round was a no-op (the stable point), so the result
    * equals the fixed-iter operator at EVERY iters >= roundsRun — the
    * pinned iteration count the fixed-round spelling can't give you.
    * stable == false means the cap fired first: either a genuinely
    * deep component (raise the cap) or a synchronous-LPA oscillation
    * (bipartite structures 2-cycle forever under any synchronous rule
    * — add self-loop edges to give every node an inertia vote, which
    * makes tie-breaking monotone toward the component minimum and
    * guarantees convergence in diameter rounds). Gate cap-hit on
    * `stable`, NOT on `roundsRun < maxIters`: a run that converges
    * exactly AT the cap returns roundsRun == maxIters with
    * stable == true, and the round count alone can't tell the two
    * apart (r14 advice).
    *
    * Why it exists (r12 verdict task 7): a fixed iters=3 on a 100 TB
    * pair graph with one long path component silently under-propagates
    * — labels stop 3 hops out and the community split looks plausible.
    * Detection costs one node-sized anti-join per round against the
    * previous (localCheckpointed) labels — noise next to the round's
    * own edge join, and it BOUNDS total rounds by the actual label
    * diameter instead of a guess.
    */
  def labelPropagationConverged(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 32, weightCol: Option[String] = None,
      materialize: Boolean = true): (DataFrame, Int, Boolean) = {
    require(maxIters >= 1, "maxIters must be >= 1")
    val e = pin(edges.select(col("src"), col("dst"),
      weightCol.fold(lit(1L))(col).as("_w")), "src", materialize)
    val ids = pin(nodes.select(col("id")), "id", materialize)
    // the previous label rides each round as `_prev`, so the stability
    // count is the round's one action ([[Blocks.converge]])
    val (l, rounds, stable) = Blocks.converge(
      ids.select(col("id"), col("id").as("label")), maxIters)(
      { l =>
        val pick = e.join(l.select(col("id").as("src"), col("label")).hint(Merge), "src")
          .groupBy(col("dst").as("id"), col("label"))
          .agg(sum(col("_w")).as("c"))
          .groupBy("id")
          .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
          .select(col("id"), col("m.label").as("picked"))
        l.join(pick.hint(Merge), Seq("id"), "left")
          .select(col("id"), coalesce(col("picked"), col("label")).as("label"),
            col("label").as("_prev"))
      },
      col("label") =!= col("_prev"))
    if (materialize) { Blocks.free(ids); Blocks.free(e) } // the result is a checkpoint
    (l.select(col("id"), col("label").as("community")), rounds, stable)
  }

  /** Link-prediction scores over an UNDIRECTED simple graph: for every
    * unordered node pair sharing at least one neighbor (the 2-hop
    * candidate set — never all-pairs), the common-neighbor count plus
    * neighborhood Jaccard in exact integer micro-units:
    *
    *   jacc_micro = (10⁶ · |N(a)∩N(b)|) div (|N(a)| + |N(b)| − |N(a)∩N(b)|)
    *
    * The classic "these two docs share near-dup neighbors — are THEY
    * redundant?" signal that catches pairs every pairwise hash gate
    * misses (no direct edge required).
    *
    * `edges` is (src, dst) in either orientation. Plan: canonicalize +
    * distinct, ONE degree agg, one self-join on the shared-neighbor
    * pivot (the wedge join — fan-out is Σ deg², the inherent candidate
    * count), one agg on the pair, two broadcast-friendly degree joins.
    * Skew note: a hub of degree d contributes O(d²) wedge rows; in a
    * thresholded near-dup graph d is bounded by cluster sizes, but on
    * raw power-law graphs cap hubs upstream (or sample neighbors) —
    * the same survival condition g02's orientation trick buys for
    * triangles, unavailable here because BOTH endpoints' full
    * neighborhoods define the score.
    */
  def commonNeighbors(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val full = und.select(col("a").as("id"), col("b").as("x"))
      .union(und.select(col("b").as("id"), col("a").as("x")))
    val deg = full.groupBy("id").agg(count(lit(1)).as("deg"))
    val cn = full.select(col("id").as("id_a"), col("x"))
      .join(full.select(col("id").as("id_b"), col("x")), "x")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("cn"))
    cn.join(deg.select(col("id").as("id_a"), col("deg").as("deg_a")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("deg").as("deg_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("cn"), col("deg_a"), col("deg_b"),
        expr("(1000000 * cn) div (deg_a + deg_b - cn)").as("jacc_micro"))
  }
}
