package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `body`'s result and the name (its last stage's call site) of every
    * Spark job it started.
    */
  private def jobNames[T](body: => T): (T, Seq[String]) = {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        names.add(e.stageInfos.maxBy(_.stageId).name)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      (out, names.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pageRank: hand-computed path graph, hub dominance, isolated node floor") {
    // path 1—2—3 plus isolated node 4
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val und = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst"), col("src")))
    val r1 = Graph.pageRank(nodes, edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deg: 1→1, 2→2, 3→1. Iteration 1 from uniform 10⁶:
    //   node 2 receives 10⁶ + 10⁶          → 150000 + 85·2·10⁶/100 = 1850000
    //   nodes 1,3 receive 10⁶ div 2 = 5·10⁵ → 150000 + 425000      =  575000
    //   node 4 receives nothing             → teleport floor          150000
    assert(r1 == Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L, 4L -> 150000L))
    // more iterations keep the hub on top and the floor exact
    val r3 = Graph.pageRank(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(2L) > r3(1L) && r3(1L) == r3(3L) && r3(4L) == 150000L)
    // determinism
    val again = Graph.pageRank(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == r3)
  }

  test("pageRankWeighted: hand-computed star; weights split rank where uniform cannot; uniform weights == pageRank") {
    // star from A(1): strong edge to B(2) at 0.9, weak to C(3) at 0.1
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val und = Seq((1L, 2L, 900000L), (1L, 3L, 100000L)).toDF("src", "dst", "w")
    val edges = und.union(und.select(col("dst"), col("src"), col("w")))
    val r1 = Graph.pageRankWeighted(nodes, edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // A receives B's and C's whole rank (their only edge): 2·10⁶
    //   → 150000 + 85·2·10⁶/100 = 1850000
    // B receives 10⁶·9·10⁵ div 10⁶ = 900000 → 150000 + 765000 = 915000
    // C receives 10⁶·10⁵ div 10⁶   = 100000 → 150000 +  85000 = 235000
    assert(r1 == Map(1L -> 1850000L, 2L -> 915000L, 3L -> 235000L), r1)
    // the uniform operator cannot tell B from C on this graph
    val u1 = Graph.pageRank(nodes, edges.select("src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(u1(2L) == u1(3L) && r1(2L) > r1(3L))
    // equal weights degenerate to the uniform recurrence exactly
    val eq = und.select(col("src"), col("dst"), lit(7L).as("w"))
    val eqEdges = eq.union(eq.select(col("dst"), col("src"), col("w")))
    val w3 = Graph.pageRankWeighted(nodes, eqEdges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p3 = Graph.pageRank(nodes, eqEdges.select("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w3 == p3, s"uniform-weight degenerate mismatch: $w3 vs $p3")
  }

  test("pageRankPersonalized: hand-computed seeded path; unreachable nodes hold exactly 0; all-seeds == pageRank") {
    // path 1—2—3—4 with component {5,6}; seed = {1}
    val nodes = (1L to 6L).toDF("id")
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst"), col("src")))
    val seeds = Seq(1L).toDF("id")
    val r1 = Graph.pageRankPersonalized(nodes, edges, seeds, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // start: 1→10⁶, rest 0. deg: 1→1, 2→2, 3→2, 4→1, 5→1, 6→1.
    //   node 1: seed floor 150000 + 85%·(0 div 2) = 150000
    //   node 2: 85%·(10⁶ div 1) = 850000; nodes 3,4: 0
    //   component {5,6}: unreachable from the seed — exactly 0
    assert(r1 == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L, 4L -> 0L,
      5L -> 0L, 6L -> 0L), r1)
    // iteration 3 reaches node 4; {5,6} still exactly 0
    val r3 = Graph.pageRankPersonalized(nodes, edges, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(4L) > 0L && r3(5L) == 0L && r3(6L) == 0L, r3)
    // seeding EVERY node degenerates to the global recurrence exactly
    val all = Graph.pageRankPersonalized(nodes, edges, nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val glob = Graph.pageRank(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == glob, s"all-seeds degenerate mismatch: $all vs $glob")
  }

  test("labelPropagation: bridged triangles split where CC merges; isolated keeps label; deterministic") {
    // triangles {1,2,3} and {4,5,6} joined by the single bridge 3–4,
    // plus isolated 7 — connected components puts 1..6 in ONE cluster;
    // majority vote must keep the two dense triangles apart
    val nodes = (1L to 7L).toDF("id")
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst"), col("src")))
    val got = Graph.labelPropagation(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-walked trajectory (count DESC, label ASC argmax each round):
    // r1: 1→2 2→1 3→1 4→3 5→4 6→4 ; r2: 1→1 2→1 3→1 4→4 5→3 6→3 ;
    // r3: 1→1 2→1 3→1 4→3 5→3 6→3
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L, 7L -> 7L), got)
    // CC on the same graph over-merges — the property g05 exists for
    val cc = graft.ext.Dedup.clusters(
      und.select(col("src").as("id_a"), col("dst").as("id_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).map(cc).toSet.size == 1, s"CC should merge the bridge: $cc")
    assert(got.values.toSet.size == 3, s"LPA should keep 3 groups: $got")
    // determinism across reruns
    val again = Graph.labelPropagation(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("labelPropagation: synchronous two-node oscillation is pinned by the iteration count") {
    // a single edge oscillates under synchronous update: odd iters swap,
    // even iters restore — the fixed-iters contract makes both exact
    val nodes = Seq(1L, 2L).toDF("id")
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val odd = Graph.labelPropagation(nodes, e, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(odd == Map(1L -> 2L, 2L -> 1L), odd)
    val even = Graph.labelPropagation(nodes, e, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(even == Map(1L -> 1L, 2L -> 2L), even)
  }

  test("converged loops: fused single-job rounds keep schemas clean and honor materialize=false") {
    // r17: the stability check rides the round's lazy checkpoint as a
    // _prev/_pa/_ph column whose count IS the materializing action —
    // the carried columns must never leak into the returned frames,
    // and the materialize opt-out (no eager ids checkpoint) must give
    // the identical trajectory
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst"), col("src")))
    val (pr, _) = Graph.pageRankConverged(nodes, edges, maxIters = 200)
    assert(pr.columns.toSeq == Seq("id", "rank"), pr.columns.toSeq)
    val (prLazy, _) = Graph.pageRankConverged(nodes, edges, maxIters = 200,
      materialize = false)
    assert(pr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      prLazy.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val hNodes = Seq("a", "b", "c", "d").toDF("id")
    val hEdges = Seq(("a", "c", 2L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val (hs, _, hStable) = Graph.hitsConverged(hNodes, hEdges, maxIters = 64)
    assert(hStable)
    assert(hs.columns.toSeq == Seq("id", "hub_micro", "auth_micro"),
      hs.columns.toSeq)
    val (hsLazy, _, _) = Graph.hitsConverged(hNodes, hEdges, maxIters = 64,
      materialize = false)
    assert(hs.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      hsLazy.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
    val (lp, _, _) = Graph.labelPropagationConverged(nodes, edges, maxIters = 20)
    assert(lp.columns.toSeq == Seq("id", "community"), lp.columns.toSeq)
  }

  test("pageRankConverged: exact integer fixpoint == fixed-iter oracle; cap visible") {
    // the pageRank path fixture: 1–2–3–4 undirected; the exact integer
    // trajectory must reach a true fixpoint (tolMicros = 0) — once it
    // does, the result equals the fixed-iter operator at any deeper
    // iters, which is the replayable pinned count
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst"), col("src")))
    val (conv, rounds) = Graph.pageRankConverged(nodes, edges, maxIters = 200)
    assert(rounds < 200, s"expected an exact fixpoint below the cap, got $rounds")
    val convMap = conv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixedAt = Graph.pageRank(nodes, edges, iters = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixedDeeper = Graph.pageRank(nodes, edges, iters = rounds + 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(convMap == fixedAt && convMap == fixedDeeper,
      s"converged $convMap != fixed $fixedAt / deeper $fixedDeeper (rounds=$rounds)")
    // cap: too few rounds returns maxIters — the raise-the-cap signal
    val (_, capped) = Graph.pageRankConverged(nodes, edges, maxIters = 2)
    assert(capped == 2, s"cap must fire, got $capped")
  }

  test("labelPropagationConverged: stable point == fixed-iter oracle; deep path shows why iters=3 under-propagates") {
    // 1) existing bridged-triangles fixture: the trajectory stabilizes
    //    after round 3 (round 4 is a no-op), so convergence detection
    //    must stop there and equal the fixed-iter result at 3 AND 4
    val nodes = (1L to 7L).toDF("id")
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst"), col("src")))
    val (conv, rounds, stable) = Graph.labelPropagationConverged(nodes, edges, maxIters = 20)
    assert(stable, "bridged-triangles fixture must converge under the cap")
    val convMap = conv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rounds == 4, s"expected stability detected at round 4, got $rounds")
    val fixed3 = Graph.labelPropagation(nodes, edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixed4 = Graph.labelPropagation(nodes, edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(convMap == fixed3 && convMap == fixed4,
      s"converged $convMap != fixed-iter stable point $fixed3 / $fixed4")
    // weighted spelling, equal weights: same stable point, same count
    val wEdges = edges.withColumn("w", lit(1L))
    val (convW, roundsW, _) =
      Graph.labelPropagationConverged(nodes, wEdges, maxIters = 20, weightCol = Some("w"))
    assert(roundsW == rounds &&
      convW.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == convMap)

    // 2) deep path (the 100 TB hazard): 40 nodes in a line, one
    //    self-loop each (the inertia vote that makes synchronous LPA
    //    monotone toward the component minimum — without it a path
    //    2-cycles forever). iters=3 stops labels 3 hops out; converged
    //    runs to the true stable point (everyone at the component min)
    //    and pins HOW MANY rounds that took.
    val n = 40L
    val pNodes = (1L to n).toDF("id")
    val pUnd = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val pEdges = pUnd.union(pUnd.select(col("dst"), col("src")))
      .union((1L to n).map(i => (i, i)).toDF("src", "dst"))
    val (deep, deepRounds, deepStable) =
      Graph.labelPropagationConverged(pNodes, pEdges, maxIters = 45)
    assert(deepStable, "deep path with self-loops must converge under the cap")
    val deepMap = deep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deepMap.values.forall(_ == 1L),
      s"stable point must be the component min everywhere: $deepMap")
    assert(deepRounds == 40, // 39 propagating rounds + the no-op detection round
      s"expected 40 rounds on a 40-node path, got $deepRounds")
    val shallow = Graph.labelPropagation(pNodes, pEdges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shallow(40L) == 37L && shallow != deepMap,
      s"fixed iters=3 must visibly under-propagate on the deep path: $shallow")
    // cap behavior: maxIters smaller than the diameter returns the
    // capped round count WITH stable=false — the round count alone is
    // ambiguous (a run can converge exactly AT the cap), so the flag
    // is the caller-visible raise-the-cap signal (r14 advice)
    val (_, capped, cappedStable) = Graph.labelPropagationConverged(pNodes, pEdges, maxIters = 5)
    assert(capped == 5 && !cappedStable, s"cap must fire unconverged at maxIters, got $capped stable=$cappedStable")
    // converge exactly AT the cap: the 40-node path stabilizes in 40
    // rounds, so maxIters=40 hits the cap AND the stable point — the
    // case `rounds < cap` misclassifies and `stable` gets right
    val (_, atCap, atCapStable) = Graph.labelPropagationConverged(pNodes, pEdges, maxIters = 40)
    assert(atCap == 40 && atCapStable, s"converged-at-cap must report stable, got $atCap stable=$atCapStable")
  }

  test("labelPropagationWeighted: strong edge outvotes two weak ones; equal weights == uniform") {
    // node 4's neighbors: weak 1 and 2 (w=1 each) and strong 6 (w=10).
    // Round 1 uniform: all vote-counts tie at 1 → min label 1 (the weak
    // side). Weighted: {1:1, 2:1, 6:10} → 6 (the strong side). The two
    // operators provably disagree on the same graph.
    val nodes = (1L to 6L).toDF("id")
    val und = Seq((1L, 4L, 1L), (2L, 4L, 1L), (4L, 6L, 10L))
      .toDF("src", "dst", "w")
    val edges = und.union(und.select(col("dst"), col("src"), col("w")))
    val w1 = Graph.labelPropagationWeighted(nodes, edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val u1 = Graph.labelPropagation(nodes, edges.select("src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1(4L) == 6L && u1(4L) == 1L,
      s"weight should flip node 4: weighted $w1 vs uniform $u1")
    // isolated nodes keep their labels under both
    assert(w1(3L) == 3L && w1(5L) == 5L && u1(3L) == 3L && u1(5L) == 5L)
    // equal weights degenerate to the uniform operator exactly
    val eq = und.select(col("src"), col("dst"), lit(7L).as("w"))
    val eqEdges = eq.union(eq.select(col("dst"), col("src"), col("w")))
    val we = Graph.labelPropagationWeighted(nodes, eqEdges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ue = Graph.labelPropagation(nodes, eqEdges.select("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(we == ue, s"equal-weight degenerate mismatch: $we vs $ue")
  }

  test("labelPropagation refines connected components on seeded random graphs") {
    // labels travel only along edges, so two nodes sharing a community
    // MUST share a component — for any graph, any iteration count.
    // Three seeded Erdős–Rényi-ish instances (different densities)
    // check the invariant beyond the hand cases.
    for ((seed, pmod) <- Seq((1L, 12), (2L, 25), (3L, 7))) {
      val n = 30L
      val nodes = (1L to n).toDF("id")
      val und = (for {
        a <- 1L to n; b <- (a + 1) to n
        // deterministic pseudo-random edge: hash of (seed, a, b)
        if ((a * 2654435761L + b * 40503L + seed * 9973L) % pmod) == 0
      } yield (a, b)).toDF("src", "dst")
      val edges = und.union(und.select(col("dst"), col("src")))
      for (iters <- Seq(1, 3)) {
        val comm = Graph.labelPropagation(nodes, edges, iters = iters)
        val cc = graft.ext.Dedup.clusters(
          und.select(col("src").as("id_a"), col("dst").as("id_b")))
        val joined = comm.join(cc, Seq("id"), "left")
          .select(col("community"),
            coalesce(col("cluster_id"), col("id")).as("comp"))
        val maxCompsPerCommunity = joined.groupBy("community")
          .agg(countDistinct("comp").as("k")).agg(max("k")).head().getLong(0)
        assert(maxCompsPerCommunity <= 1L,
          s"seed=$seed iters=$iters: a community spans components")
      }
    }
  }

  test("hits: hand-computed weighted DAG; exact zero contracts; empty graph") {
    // a →(2) c, b →(1) c, c →(1) d: a and b are pure hubs, c is the
    // main authority AND a small hub, d a pure (weak) authority
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    val edges = Seq(("a", "c", 2L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val r = Graph.hits(nodes, edges, iters = 2)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    // iter 1: auth raw c=3e6, d=1e6 (tot 4e6) → c 750000, d 250000;
    //         hub  raw a=1.5e6, b=.75e6, c=.25e6 (tot 2.5e6)
    //           → a 600000, b 300000, c 100000
    // iter 2: auth raw c = 2·600000+300000 = 1.5e6, d = 100000
    //         (tot 1.6e6) → c 937500, d 62500
    //         hub  raw a = 1875000, b = 937500, c = 62500
    //         (tot 2875000) → a 652173, b 326086, c 21739 (truncated)
    assert(r == Map(
      "a" -> ((652173L, 0L)), "b" -> ((326086L, 0L)),
      "c" -> ((21739L, 937500L)), "d" -> ((0L, 62500L))), r)
    // zero contracts are EXACT: no in-edges → auth 0, no out → hub 0
    assert(r("a")._2 == 0L && r("b")._2 == 0L && r("d")._1 == 0L)
    // determinism
    val again = Graph.hits(nodes, edges, iters = 2)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(again == r)
    // empty edge set: the guarded normalizer yields all-zero scores,
    // never a division failure
    val empty = Graph.hits(nodes, edges.limit(0), iters = 2)
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    assert(empty.forall(_ == ((0L, 0L))))
  }

  test("hitsConverged: detected fixpoint == hits at that round; cap-hit is loud via the stable flag; empty graph settles") {
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    val edges = Seq(("a", "c", 2L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val (scores, rounds, stable) = Graph.hitsConverged(nodes, edges, maxIters = 64)
    assert(stable, "the hand DAG must reach an exact integer fixpoint")
    assert(rounds >= 2 && rounds < 64)
    val conv = toMap(scores)
    // the converged scores ARE hits at the detected round, and every
    // later round is a no-op (one repeated round of a deterministic
    // map is a true fixpoint)
    assert(conv == toMap(Graph.hits(nodes, edges, iters = rounds)))
    assert(conv == toMap(Graph.hits(nodes, edges, iters = rounds + 3)))
    // cap-hit: one round cannot repeat the (10^6, 0) init on this
    // graph — the FLAG (not the round count) is what callers must
    // branch on before trusting the scores as converged
    val (s1, r1, st1) = Graph.hitsConverged(nodes, edges, maxIters = 1)
    assert(!st1 && r1 == 1)
    assert(toMap(s1) == toMap(Graph.hits(nodes, edges, iters = 1)))
    // empty edge set: zeros repeat from round 2 — converged, all zero
    val (s0, r0, st0) = Graph.hitsConverged(nodes, edges.limit(0), maxIters = 8)
    assert(st0 && r0 == 2)
    assert(s0.collect().forall(x => x.getLong(1) == 0L && x.getLong(2) == 0L))
  }

  test("hitsConverged: rounds after the second compile no new code") {
    // the hand DAG with every weight ×13: the same scores and rounds,
    // but L1 totals no other test produces, so a total spelled into the
    // generated code would compile fresh classes in every round
    val nodes = Seq("a", "b", "c", "d").toDF("id")
    val edges = Seq(("a", "c", 26L), ("b", "c", 13L), ("c", "d", 13L))
      .toDF("src", "dst", "w")
    val ((_, two, _), _) = SparkTestSession.withCompileCount(
      Graph.hitsConverged(nodes, edges, maxIters = 2))
    assert(two == 2)
    val ((_, rounds, stable), compiled) = SparkTestSession.withCompileCount(
      Graph.hitsConverged(nodes, edges, maxIters = 64))
    assert(stable && rounds == 11)
    assert(compiled == 0, s"rounds 3 to $rounds compiled $compiled classes")
  }

  test("converged loops: the input pins, then one stability count per round, and no initial-frame job") {
    // every other job is a shuffle-map stage AQE runs while it plans a
    // round or a HITS half-step's L1 fold; the exact totals pin those too
    def eager(jobs: Seq[String]) = jobs.count(_.startsWith("localCheckpoint at"))
    def counts(jobs: Seq[String]) = jobs.count(_.startsWith("count at Blocks.scala"))
    def folds(jobs: Seq[String]) = jobs.count(_.startsWith("fold at Graph.scala"))
    val nodes = (1L to 7L).toDF("id")
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val edges = und.union(und.select(col("dst"), col("src")))
    val ((_, rounds, stable), lpa) =
      jobNames(Graph.labelPropagationConverged(nodes, edges, maxIters = 20))
    assert(stable && rounds == 4)
    assert(eager(lpa) == 2, s"only the edge and id pins run eagerly: $lpa")
    assert(counts(lpa) == rounds, lpa)
    assert(lpa.size == 15, lpa)

    val ((_, prRounds), pr) = jobNames(Graph.pageRankConverged(nodes, edges, maxIters = 64))
    assert(prRounds == 10)
    assert(eager(pr) == 2, s"only the edge and id pins run eagerly: $pr")
    assert(counts(pr) == prRounds, pr)
    assert(pr.size == 26, pr)

    val hNodes = Seq("a", "b", "c", "d").toDF("id")
    val hEdges = Seq(("a", "c", 2L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val ((_, hRounds, hStable), hits) = jobNames(Graph.hitsConverged(hNodes, hEdges, maxIters = 64))
    assert(hStable && hRounds == 11)
    assert(eager(hits) == 3, s"only the two edge pins and the id pin run eagerly: $hits")
    assert(counts(hits) == hRounds, hits)
    assert(folds(hits) == 2 * hRounds, s"one L1 fold per half-step: $hits")
    assert(hits.size == 61, hits)
    // the fixed-round spelling: pins, two rounds, and the caller's collect
    val (_, fixed) = jobNames(Graph.hits(hNodes, hEdges, iters = 2).collect())
    assert(fixed.size == 17, fixed)
  }

  test("g12_hits_converged on the sf0.001 fixture runs a pinned number of jobs") {
    val (rows, jobs) = SparkTestSession.withJobCount(
      graft.SparkEntry.queries("g12_hits_converged")(spark, SparkTestSession.sf).collect())
    assert(rows.nonEmpty)
    // pins (the harvest, both edge keyings, the node ids), 7 rounds of
    // two re-key exchanges + two L1 folds + one stability count, then
    // the caller's ordered collect
    assert(jobs == 47, s"g12 ran $jobs jobs")
  }

  test("commonNeighbors: hand graphs — path, square, K3 micros") {
    // path 1—2—3: only (1,3) share a neighbor; deg 1 each → jacc 10⁶
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.commonNeighbors(path).collect()
    assert(p.length == 1)
    assert(p(0).getLong(0) == 1L && p(0).getLong(1) == 3L &&
      p(0).getLong(2) == 1L && p(0).getLong(5) == 1000000L, p(0))
    // square 1-2-3-4-1: diagonals share BOTH corners (cn=2, deg 2+2-2
    // → jacc 10⁶); adjacent pairs share nothing on C4
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val s = Graph.commonNeighbors(sq)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(5))).toMap
    assert(s == Map((1L, 3L) -> ((2L, 1000000L)), (2L, 4L) -> ((2L, 1000000L))), s)
    // K3: each pair shares exactly the third vertex; 10⁶·1/(2+2−1)
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val k = Graph.commonNeighbors(k3).collect()
    assert(k.length == 3 && k.forall(r => r.getLong(2) == 1L &&
      r.getLong(5) == 333333L), k.mkString(","))
  }

  test("triangleCounts: hand graph, orientation invariance, duplicate tolerance") {
    // K4 on 1..4 (every node in C(3,2)=3 triangles) plus a pendant 5
    // and an isolated 6
    val nodes = (1L to 6L).toDF("id")
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 :+ ((4L, 5L))).toDF("src", "dst")
    val got = Graph.triangleCounts(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L, 6L -> 0L))
    // reversed + duplicated edge rows must not change counts
    val messy = edges.select(col("dst").as("src"), col("src").as("dst"))
      .union(edges).union(edges)
    val got2 = Graph.triangleCounts(nodes, messy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
    // triangle-free star: all zero
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val got3 = Graph.triangleCounts(nodes, star)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3.values.forall(_ == 0L))
  }

  test("pageRankWeightedFrom: warm continuation == longer cold run; absent nodes start at the uniform prior") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val und = Seq((1L, 2L, 900000L), (1L, 3L, 100000L)).toDF("src", "dst", "w")
    val edges = und.union(und.select(col("dst"), col("src"), col("w")))
    // the recurrence is Markov in the rank vector: 2 cold rounds then
    // 3 warm rounds over the same edges must equal 5 cold rounds
    val mid = Graph.pageRankWeighted(nodes, edges, iters = 2)
    val warm = Graph.pageRankWeightedFrom(nodes, edges, mid, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold = Graph.pageRankWeighted(nodes, edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warm == cold, s"warm $warm != cold $cold")
    // a node the init never saw (4) seeds at 10⁶ exactly: grow the
    // graph by edge 1→4 and warm one round — node 4's contribution
    // into 1 is computed FROM the prior, and 4 itself lands on
    // 150000 + 85% of what flowed in from 1
    val nodes2 = Seq(1L, 2L, 3L, 4L).toDF("id")
    val grown = edges.union(Seq((1L, 4L, 500000L), (4L, 1L, 500000L))
      .toDF("src", "dst", "w"))
    val init1 = Seq((1L, 2000000L), (2L, 915000L), (3L, 235000L))
      .toDF("id", "rank")
    val w1 = Graph.pageRankWeightedFrom(nodes2, grown, init1, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 1's weight sum is now 9·10⁵+10⁵+5·10⁵ = 1.5·10⁶; node 4
    // receives 2·10⁶·5·10⁵ div 1.5·10⁶ = 666666
    //   → 150000 + 85·666666 div 100 = 716666
    assert(w1(4L) == 716666L, w1.toString)
    // node 1 receives 2 and 3 wholly (each has only the edge into 1)
    // plus the unseen node's PRIOR through its only edge:
    //   915000 + 235000 + 10⁶ = 2150000
    //   → 150000 + 85·2150000 div 100 = 1977500
    assert(w1(1L) == 1977500L, w1.toString)
  }
}
