package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: these queries must not regress to bad physical
  * plans. Asserting on the executed plan keeps "is the filter pushed
  * down / is the dim broadcast / is codegen on" from silently breaking —
  * at 100 TB those are the difference between minutes and hours.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q01: filter and projection push down to the parquet scan") {
    val plan = planOf("q01_scan_filter")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_shipdate:timestamp"),
      s"columns not pruned:\n$plan")
  }

  test("q49: Q1 cutoff pushes to the scan; one scan, partial-then-final aggregate") {
    val plan = planOf("q49_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"cutoff not pushed:\n$plan")
    assert(!plan.contains("Join"), s"Q1 must be join-free:\n$plan")
    // map-side combine: a partial_sum aggregate below the exchange
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"no partial aggregation:\n$plan")
  }

  test("q03/q04: dimension joins are broadcast, not shuffled") {
    assert(planOf("q03_join_agg").contains("BroadcastHashJoin"))
    val p4 = planOf("q04_star_join")
    assert(p4.contains("BroadcastHashJoin"))
    assert(!p4.contains("SortMergeJoin"), s"star join fell back to SMJ:\n$p4")
  }

  test("q02: two-phase hash aggregation with partial agg before the shuffle") {
    val plan = planOf("q02_agg_group")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_sum") || plan.contains("partial"), plan)
  }

  test("q07: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = planOf("q07_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q05: anti join stays a real anti join") {
    assert(planOf("q05_anti_join").contains("LeftAnti"), planOf("q05_anti_join"))
  }

  test("whole-stage codegen is active on the scan-agg path") {
    val df = SparkEntry.queries("q02_agg_group")(spark, sf)
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), codegen.take(2000))
  }

  test("q15: correlated EXISTS plans as a semi join (no per-row subquery)") {
    val plan = planOf("q15_exists")
    assert(plan.contains("LeftSemi"), plan)
  }

  test("e02: as-of join has one exchange and no join operator at all") {
    val plan = planOf("e02_asof_join")
    assert(!plan.contains("Join"), s"as-of regressed to a join:\n$plan")
    // one shuffle for the key window + one for the final orderBy range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("s19: silhouette is a narrow codegen pass — no join, one shuffle for the cluster rollup") {
    val plan = planOf("s19_silhouette")
    // the codebook folds in as literals; a Join here means the corpus
    // is paying a shuffle for k rows of driver-side state
    assert(!plan.contains("Join"), s"silhouette joined the codebook:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("d33: content-defined chunking is one narrow codegen pass — no shuffle before the output sort") {
    val plan = planOf("d33_cdc_chunks")
    // chunk boundaries + hashes are per-row work; a hash exchange here
    // means the corpus shuffled for a row-local computation
    assert(!plan.contains("Exchange hashpartitioning"),
      s"CDC chunking shuffled:\n$plan")
  }

  test("s01: rank stage uses the custom TopKPerKey operator") {
    val plan = planOf("s01_sim_topk")
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("t55: both frontier cuts run on TopKPerKey; composition adds no Window, no mid-plan sort") {
    val plan = planOf("t55_crawl_frontier")
    // URL dedup (k=1) + per-domain budget (k=3): two streaming
    // group-limits — never the window-function fallback
    assert("TopKPerKey".r.findAllIn(plan).length >= 2, plan)
    // the robots PARSER legitimately windows at rule cardinality; the
    // frontier stages on top must add ZERO new window operators
    val base = planOf("t52_robots")
    def windows(p: String) = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows(plan) == windows(base),
      s"frontier added windows: ${windows(plan)} vs base ${windows(base)}\n$plan")
    // composing on the UNORDERED decision table: no rangepartitioning
    // exchange anywhere below the final presentation sort
    assert("rangepartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("t55b: frontier authority comes from the rank ARTIFACT — both cuts on TopKPerKey, no graph iteration in the serve plan") {
    val plan = planOf("t55b_frontier_indexed")
    assert("TopKPerKey".r.findAllIn(plan).length >= 2, plan)
    // the rank join's build side is a parquet scan of the artifact,
    // not the pageRankWeighted join chain t55 re-runs per query
    assert(plan.contains("graft_t55b_rank_index"),
      s"rank side is not the artifact scan:\n$plan")
    // same zero-added-windows contract as t55
    val base = planOf("t52_robots")
    def windows(p: String) = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows(plan) == windows(base),
      s"frontier added windows: ${windows(plan)} vs base ${windows(base)}\n$plan")
  }

  test("g13: the SERVE plan is an artifact scan + sort — no recompute, no documents scan") {
    val plan = planOf("g13_rank_update")
    assert(plan.contains("graft_g13_rank_index"), plan)
    // serving never touches the corpus or re-runs an iteration: the
    // only exchange is the presentation sort's range partitioning
    assert(!plan.contains("documents.parquet"),
      s"serve plan re-reads the corpus:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, plan)
  }

  test("t65b: keyword serving reads only the tf-idf artifact — no corpus re-tokenize") {
    val plan = planOf("t65b_keywords_indexed")
    assert(plan.contains("graft_t65b_tfidf_index"), plan)
    assert(!plan.contains("documents.parquet"),
      s"serve plan re-reads the corpus:\n$plan")
    assert("TopKPerKey".r.findAllIn(plan).length >= 1, plan)
  }

  test("q18: tiny period table joins as a broadcast nested loop (no shuffle range join)") {
    val plan = planOf("q18_range_join")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"range join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q20: batch session_window is one hash exchange on the session keys") {
    val plan = planOf("q20_session_windows")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("q22: cube computes all grouping sets in one expand + one exchange") {
    val plan = planOf("q22_cube")
    assert(plan.contains("Expand"), s"cube not expand-based:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("q23: navigation windows share one window operator pass") {
    val plan = planOf("q23_window_nav")
    // lag/lead/first_value over the same spec must fuse into ONE Window
    // node — separate passes would re-sort the partition per function
    assert("Window".r.findAllIn(plan).length == 1, plan)
  }

  test("d07: native md5 simhash plan has no exchange before the final sort") {
    val plan = planOf("d07_simhash_md5")
    assert("Exchange".r.findAllIn(plan).length <= 1, // only the orderBy's range exchange
      s"md5 simhash still shuffles token rows:\n$plan")
  }

  test("d08: incremental embedding dedup broadcasts the batch (no cartesian exchange)") {
    val plan = planOf("d08_embedding_dups_new")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"batch side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q19: salted sum is two aggregations with no extra exchange between partial and salt stage") {
    val plan = planOf("q19_salted_agg")
    // (keys, salt) agg → exchange → final keys agg → exchange for sort:
    // exactly two hash-partitioned exchanges, not three
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 4, plan) // 2 aggs × partial+final
  }

  test("t04: native fingerprint plan has no exchange before the final sort") {
    val plan = planOf("t04_fingerprint")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fingerprint regressed to a shuffle plan:\n$plan")
    assert(plan.contains("minshinglemd5") || plan.contains("MinShingleMd5"), plan)
  }

  test("t15: language ID is a narrow scan→project→sort — no shuffle, no UDF") {
    val plan = planOf("t15_langid")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"langid regressed to a shuffle plan:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("s11: linear probe is a broadcast-weights narrow pass — no shuffle, no join, codegen dot") {
    val plan = planOf("s11_linear_probe")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"linear probe regressed to a shuffle plan:\n$plan")
    assert(!plan.contains("Join"), s"weights must be literals, not a joined table:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("t29: BPE encode stage is a narrow literal-replace chain — no shuffle, no join, no UDF") {
    // the TRAINED merges fold into the plan as literals; only the
    // final orderBy may exchange. (Training ran before this plan was
    // built — bpeTrainEncode collects k rows — so the encode plan
    // itself must be join-free.)
    val df = graft.ext.TextOps.bpeTrainEncode(
      graft.Tables.documents(spark, sf), k = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"BPE encode regressed to a shuffle plan:\n$plan")
    assert(!plan.contains("Join"), s"merges must be literals:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("m09/m10: modality quality gates never shuffle payload bytes") {
    for (q <- Seq("m09_audio_quality", "m10_image_quality")) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q shuffles the media rows:\n$plan")
    }
  }

  test("m03: frame sampling never shuffles payloads — the only exchange is the final sort") {
    val plan = planOf("m03_frame_sample")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"frame sampling shuffles the frame rows:\n$plan")
  }

  test("s06: PQ encode is a narrow literal-codebook pass — no join, only the final sort exchanges") {
    val plan = planOf("s06_pq_codes")
    assert(!plan.contains("Join"), s"PQ encode regressed to a join plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"PQ encode shuffles the corpus:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("s07: SQ encode joins only the broadcast stats — no data-sized shuffle before the sort") {
    val plan = planOf("s07_sq_codes")
    assert(plan.contains("BroadcastHashJoin"), s"stats not broadcast:\n$plan")
    // the stats aggregate's own exchange is dim-rows; the corpus rows
    // must reach the join without a hash exchange of their own
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("m05: tEXt extraction never shuffles payloads — only the final sort exchanges") {
    val plan = planOf("m05_png_meta")
    assert(!plan.contains("Exchange hashpartitioning"), s"metadata scan shuffles:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("e06: interval join is ONE equi-join on user with the range as join filter") {
    val plan = planOf("e06_interval_join")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).length == 1, s"expected exactly one join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join regressed to a product plan:\n$plan")
  }

  test("e03: forward as-of is the same no-join single-exchange shape as e02") {
    val plan = planOf("e03_asof_forward")
    assert(!plan.contains("Join"), s"as-of regressed to a join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
  }

  test("d09 prefix stage (broadcast df): exploded shingles never shuffle on the join key") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val sets = docs.select(col("doc_id").as("id"),
        graft.functions.GraftFunctions.graftShingles(col("text"), 3).as("set"))
      .withColumn("setSize", size(col("set")).cast("long"))
    val plan = graft.ext.Dedup.prefixStage(sets, 0.5, broadcastDf = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"df lookup not broadcast:\n$plan")
    // the df-aggregation's own exchange + the per-doc rarity window's —
    // but NOT a third shuffling the exploded shingle rows on the join key
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
    // with the df table PERSISTED and read back (the cross-batch reuse
    // path) even the aggregation exchange is gone: the whole prefix
    // stage is the window's single hash exchange
    val dir = java.nio.file.Files.createTempDirectory("graft_df_plan").toFile.getAbsolutePath
    graft.ext.Dedup.shingleDfTable(docs, 3).write.parquet(s"$dir/df")
    val reusedPlan = graft.ext.Dedup.prefixStage(sets, 0.5, broadcastDf = true,
        dfTable = Some(spark.read.parquet(s"$dir/df")))
      .queryExecution.executedPlan.toString
    assert(reusedPlan.contains("BroadcastHashJoin"), reusedPlan)
    assert("Exchange hashpartitioning".r.findAllIn(reusedPlan).length == 1, reusedPlan)
  }

  test("ANN recall gates and new pipeline queries never go cartesian; OOV probe is broadcast") {
    Seq("s02_lsh_recall", "s03_ivf_recall", "d10_simhash_pairs_md5", "e05_funnel")
      .foreach { q =>
        val plan = planOf(q)
        assert(!plan.contains("CartesianProduct"), s"$q went cartesian:\n$plan")
      }
    // the top-K vocabulary membership probe must broadcast — the token
    // stream shuffles only for the vocab agg and the per-doc grouping
    val oov = planOf("t08_oov_rate")
    assert(oov.contains("BroadcastHashJoin"), s"vocab probe not broadcast:\n$oov")
    assert(!oov.contains("SortMergeJoin"), s"token stream shuffled for the probe:\n$oov")
    // the composed funnel stays two single-exchange as-of stages, with
    // NO join operator anywhere (the union+window formulation) — a
    // regression to a range join would explode at scale
    val funnel = planOf("e05_funnel")
    assert(!funnel.contains("Join"), s"funnel regressed to a join:\n$funnel")
    assert("Exchange hashpartitioning".r.findAllIn(funnel).length == 2, funnel)
  }

  test("t20/t21: rule battery is a pure narrow map; URL rollup shuffles once on domain") {
    // Gopher rules: scan → project → sort, nothing else — the filter
    // must stay free at 100 TB
    val gopher = planOf("t20_gopher_rules")
    assert(!gopher.contains("Exchange hashpartitioning"),
      s"gopher rules shuffled:\n$gopher")
    assert(!gopher.contains("ScalaUDF"), s"gopher rules fell off codegen:\n$gopher")
    // URL domains: exactly ONE hash exchange (the per-domain window);
    // canonicalization itself must stay narrow and UDF-free
    val url = planOf("t21_url_domains")
    assert("Exchange hashpartitioning".r.findAllIn(url).length == 1, url)
    assert(!url.contains("ScalaUDF"), s"url ops fell off codegen:\n$url")
  }

  test("q26: unpivot is ONE Expand over the aggregate — no per-measure rescan") {
    val plan = planOf("q26_unpivot")
    assert("Expand".r.findAllIn(plan).length == 1, plan)
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"unpivot rescanned the fact table:\n$plan")
  }

  test("d15/g02: dHash pairing and triangle counting never go cartesian") {
    Seq("d15_image_dhash_pairs", "d16_audio_fp_pairs", "g02_triangles").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q went cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q nested-loop joined:\n$plan")
    }
    // t22's only nested-loop join is the ONE-ROW vocab-size broadcast
    // (the correct way to attach a scalar); the count joins stay hashed
    val lm = planOf("t22_bigram_lm")
    assert(!lm.contains("CartesianProduct"), s"t22 went cartesian:\n$lm")
    assert("BroadcastNestedLoopJoin".r.findAllIn(lm).length == 1, lm)
  }

  test("d12: corpus side reads the persisted contamination artifact, not a re-derivation") {
    val plan = planOf("d12_contamination")
    // the probe join's right side must be a plain parquet scan of the
    // per-JVM index (path contains the temp-dir marker), with NO
    // shingle explode or distinct aggregation above it — re-deriving
    // the corpus-distinct shingles per call is the 100 TB smell this
    // artifact removes
    assert(plan.contains("graft_contam_idx"),
      s"corpus side does not scan the persisted artifact:\n$plan")
    // exactly one explode generator (the EVAL side); corpus explode gone
    val explodes = "(?i)generate explode".r.findAllIn(plan).size
    assert(explodes == 1, s"expected 1 explode (eval side only), got $explodes:\n$plan")
  }

  test("t13: distributed prefix sum shuffles the data exactly once per job") {
    // the raw operator, without the gate query's presentation orderBy
    // (a global sort IS a legitimate extra range exchange). Job 1 (the
    // boundary/totals collect, a separate tiny-output action) range-
    // exchanges the pruned (key, value) projection once; the FINAL
    // plan below must exchange the full-width data exactly once — a
    // hash exchange on the literal-derived bucket — and join the
    // driver-built offsets back as a broadcast.
    val plan = graft.ops.PrefixSum.tokenBudgetShards(
      Tables.documents(spark, sf).select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")), budget = 512L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange [a-z]+".r.findAllIn(plan).toList
    assert(exchanges == List("Exchange hashpartitioning"),
      s"prefix sum must shuffle the data ONCE (hash on bucket); got $exchanges:\n$plan")
    // in particular: no single-partition collapse (the naive
    // Window.orderBy shape) and no range re-sampling of the data in
    // the output plan (recompute could draw different boundaries than
    // the ones the offsets were computed for)
    assert(!plan.contains("SinglePartition") && !plan.contains("rangepartitioning"),
      s"extra exchange crept into the scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets must join back as a broadcast, not a shuffle:\n$plan")
  }

  test("d05: per-side norms are computed below the pair join") {
    val df = SparkEntry.queries("d05_embedding_dups")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    // norm (graft_dot(v,v)) must appear in a Project under the join, not above it
    val joinIdx = plan.indexOf("Join")
    val normIdx = plan.lastIndexOf("SQRT(dotproduct")
    assert(joinIdx >= 0 && normIdx > joinIdx,
      s"norms not pushed below the join:\n$plan")
  }

  test("q27: bucketed join inputs are co-partitioned — join shuffles NEITHER side") {
    val plan = planOf("q27_bucket_join")
    assert(plan.contains("SortMergeJoin"),
      s"bucketed join must stay a sort-merge join (broadcast would hide co-location):\n$plan")
    // the ONLY hash exchange is the post-join groupBy(mktsegment);
    // the two join inputs read the catalog bucket spec directly. An
    // un-bucketed SMJ would show three.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected exactly 1 hash exchange (the agg), got $hashEx:\n$plan")
    // bucketed scans declare their output partitioning: SelectedBucketsCount
    assert(plan.contains("SelectedBucketsCount"),
      s"join inputs are not bucket scans:\n$plan")
  }

  test("t26: chunking is a narrow explode — no shuffle before the presentation sort") {
    val plan = planOf("t26_chunk_windows")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking shuffles chunk rows:\n$plan")
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("m08: shot detection shuffles 8-byte hashes, never frame payloads") {
    val df = SparkEntry.queries("m08_shot_boundaries")(spark, sf)
    // the lag window's required distribution IS the shuffle; its
    // child's output is exactly what crosses the wire (physical
    // exchanges are hidden from collect() by the AQE leaf wrapper)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, df.queryExecution.optimizedPlan.toString.take(4000))
    windows.foreach { w =>
      val cols = w.child.output.map(_.name).toSet
      assert(!cols.contains("payload") && !cols.contains("meta"),
        s"payload bytes cross the wire: ${w.child.output}")
    }
  }

  test("q28: column profile is ONE table scan — count-distincts share a single Expand") {
    val plan = planOf("q28_column_profile")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"profile must read the table once, got $scans scans:\n$plan")
    assert(plan.contains("Expand"),
      s"multi count-distinct should plan as one Expand:\n$plan")
  }

  test("q28a: KMV profile — NO Expand; one all-column scan + per-column PRUNED scans + TakeOrdered heaps") {
    // r13: q28a is the KMV profile (oracle-gated). Its scale contract:
    // the q28 Expand (rows × N+1) is gone; instead ONE plain-agg scan
    // feeds rows/nulls/min/max and each column's distinct estimate is
    // its own COLUMN-PRUNED scan → distinct-of-hash → TakeOrdered(k)
    // per-partition heaps — on a columnar store the N single-column
    // scans read ~the bytes of q28's one wide scan, without the Expand.
    val plan = planOf("q28a_profile_approx")
    assert(!plan.contains("Expand"),
      s"KMV profile must not multiply the scan through an Expand:\n$plan")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(plan).size
    val nCols = 6 // orders columns; the require() in q28 guards drift
    assert(scans == nCols + 1,
      s"expected 1 stats scan + $nCols pruned KMV scans, got $scans:\n$plan")
    // every KMV scan is pruned to ONE column
    // schemas can be TRUNCATED by the plan printer (no closing '>'),
    // so stop the capture at end-of-line, not at '>'
    val readSchemas = "ReadSchema: struct<([^>\n]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val pruned = readSchemas.count(s => !s.contains(","))
    assert(pruned >= nCols,
      s"KMV scans must each read exactly one column, schemas: $readSchemas")
    assert(plan.contains("TakeOrderedAndProject"),
      s"k-min must be TakeOrdered per-partition heaps, not a global sort:\n$plan")
    // a standalone Sort node (one NOT printed as part of a
    // TakeOrderedAndProject line) would mean a global sort snuck into
    // the sketch path — assert that directly rather than the r13
    // disjunction the previous assert made vacuously true. The ONE
    // allowed Sort is the result-presentation orderBy over the
    // column-count-sized stat rows (6 rows, keyed on the label column)
    val standaloneSorts = plan.linesIterator
      .filter(_.contains("Sort ["))
      .filterNot(_.contains("TakeOrderedAndProject"))
      .toSeq
    assert(standaloneSorts.size <= 1 &&
        standaloneSorts.forall(_.contains("Sort [column#")),
      s"only the label-keyed presentation sort may appear — the KMV " +
        s"sketch path itself must stay heap-based, got: $standaloneSorts\n$plan")
  }

  test("s14: cluster mixture — codegen assignment (no join to a codebook), quota join broadcasts") {
    val plan = planOf("s14_cluster_mixture")
    assert(!plan.contains("CartesianProduct"), s"mixture went cartesian:\n$plan")
    // the literal-codebook argmax is an expression, not a join: the only
    // joins in the plan are the broadcast of the cluster-cardinality
    // quota table back onto the assigned corpus
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    assert(smj == 0, s"assignment/quota stage must not sort-merge corpus rows:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cluster-cardinality quotas should broadcast:\n$plan")
  }

  test("s15: drift report joins at DIM cardinality — aggregates below the join, no vector shuffle") {
    val qe = SparkEntry.queries("s15_embedding_drift")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"drift went cartesian:\n$plan")
    // both moment aggregations (partial+final) sit BELOW the pos join,
    // so the join's inputs are dim-row frames, never corpus rows
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, s"expected a dim-cardinality join:\n$plan")
    val belowJoin = plan.substring(joinIdx)
    assert("HashAggregate".r.findAllIn(belowJoin).size >= 4,
      s"moment aggregates must be below the pos join (dim-row join inputs):\n$plan")
    // the embedding column never rides an exchange: only pos/cnt/msum do
    "Exchange[^\\n]*".r.findAllIn(plan).foreach { ex =>
      assert(!ex.contains("embedding") && !ex.contains(" x#"),
        s"vector payload crossed an exchange: $ex")
    }
  }

  test("q29: nation aggregate joins broadcast; no per-row correlated subquery survives") {
    val plan = planOf("q29_correlated")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation-cardinality aggregate should broadcast:\n$plan")
    assert(!plan.toLowerCase.contains("subquery"),
      s"decorrelation left a per-row subquery:\n$plan")
  }

  test("q30: predicates reach all three scans, customer broadcasts, top-10 is TakeOrdered") {
    val plan = planOf("q30_shipping_priority")
    assert(plan.contains("GreaterThan(l_shipdate"),
      s"lineitem date cutoff not pushed to the fact scan:\n$plan")
    assert(plan.contains("LessThan(o_orderdate"),
      s"orders date cutoff not pushed:\n$plan")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed to the customer scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered customer should broadcast:\n$plan")
    assert(plan.contains("TakeOrdered"),
      s"top-10 must not global-sort:\n$plan")
  }

  test("q31: aggregate-then-join — partial agg below the joins, top-100 is TakeOrdered") {
    val plan = planOf("q31_large_volume")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(plan).size
    assert(scans == 3, s"Q18 shape reads each table once, got $scans scans:\n$plan")
    assert(plan.contains("partial"),
      s"lineitem quantity rollup lost its map-side combine:\n$plan")
    assert(plan.contains("TakeOrdered"),
      s"top-100 must not global-sort:\n$plan")
  }

  test("q32: the double-EXISTS shape stays a single lineitem scan + window") {
    val plan = planOf("q32_sole_failing")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"sole-failing-supplier must not self-join lineitem, got $scans scans:\n$plan")
    assert(plan.contains("Window"),
      s"per-order supplier tallies should be a window at (order,supplier) grain:\n$plan")
  }

  test("e11: the whole funnel rides ONE user exchange — layered windows, no per-stage self-join") {
    val plan = planOf("e11_funnel")
    assert(!plan.contains("Join"),
      s"funnel must not chain per-stage self-joins:\n$plan")
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"funnel reads events once, got $scans scans:\n$plan")
    // both running-min windows share the (user_id, ts, event_id) sort:
    // exactly one user-keyed exchange below the final aggregate's
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"layered windows should reuse one user exchange (+1 for the agg), got $exchanges:\n$plan")
  }

  test("q33: orders pre-aggregates to customer grain — no customer×orders row explosion") {
    val plan = planOf("q33_cust_distribution")
    // the left join's orders input must already be an aggregate: a
    // HashAggregate below the join means per-customer counts, not raw
    // order rows, cross the join
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && plan.substring(joinIdx).contains("HashAggregate"),
      s"per-customer counts must aggregate BELOW the left join:\n$plan")
    assert(plan.contains("partial"),
      s"order counting lost its map-side combine:\n$plan")
  }

  test("q34: global scalar is a 1-row broadcast; NOT EXISTS stays a real anti join") {
    val plan = planOf("q34_acctbal_outliers")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the global positive-balance aggregate should broadcast, not shuffle:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"the no-urgent-orders predicate must compile to an anti join:\n$plan")
    assert(!plan.toLowerCase.contains("cartesianproduct"),
      s"scalar compare went cartesian:\n$plan")
  }

  test("q35: argmax-of-aggregate — one fact scan feeds both the aggregate and its max") {
    val plan = planOf("q35_top_supplier")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate")
      || plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"quarter window not pushed to the lineitem scan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row max should broadcast back onto the supplier aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"max compare went cartesian:\n$plan")
  }

  test("q36: brand filter broadcasts into the detail side; avg compare is join-not-subquery") {
    val plan = planOf("q36_small_qty_revenue")
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered part keys should broadcast into lineitem:\n$plan")
    assert(!plan.toLowerCase.contains("subquery"),
      s"decorrelation left a per-row subquery:\n$plan")
    assert(plan.contains("EqualTo(p_brand,Brand#1)"),
      s"brand filter not pushed to the part scan:\n$plan")
  }

  test("q37: nation pair filters before the fact join; dims broadcast; one fact-fact shuffle pair") {
    val plan = planOf("q37_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"supplier/customer/nation chains should all broadcast:\n$plan")
    // the only sort-merge/shuffled join allowed is lineitem⋈orders
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size <= 1,
      s"more than the one fact-fact join shuffled:\n$plan")
  }

  test("q38: every dim chain broadcasts; conditional split lives inside ONE aggregation") {
    val plan = planOf("q38_market_share")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"region/customer, supplier/nation and part chains should broadcast:\n$plan")
    // lineitem is scanned once: the when() split must not duplicate it
    val factScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(plan).size
    assert(factScans == 1, s"Q8 shape reads lineitem once, got $factScans:\n$plan")
    assert(plan.contains("CASE WHEN"),
      s"conditional volume must be a when() in the aggregate:\n$plan")
  }

  test("q39: flagged-supplier exclusion is a broadcast anti join below the distinct") {
    val plan = planOf("q39_supplier_dist")
    assert(plan.contains("LeftAnti"),
      s"NOT IN must compile to an anti join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the tiny flagged set should broadcast:\n$plan")
    val factScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(plan).size
    assert(factScans == 1, s"one lineitem scan expected, got $factScans:\n$plan")
  }

  test("q40: the part-only factor of the disjunction reaches the part scan; part broadcasts") {
    val plan = planOf("q40_disjunctive_revenue")
    assert(plan.contains("PushedFilters: [Or(") || plan.contains("Or(And(EqualTo(p_brand"),
      s"brand/size disjunction not pushed to the part scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the filtered part side should broadcast:\n$plan")
  }

  test("q41: EXISTS decorrelates to a semi join; quarter window pushed to the orders scan") {
    val plan = planOf("q41_order_priority")
    assert(plan.contains("LeftSemi"),
      s"correlated EXISTS must compile to a semi join:\n$plan")
    assert(!plan.toLowerCase.contains("subqueryexec"),
      s"decorrelation left a per-row subquery:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter window not pushed to the orders scan:\n$plan")
  }

  test("q42: region chains broadcast; lineitem joins orders as the only shuffled join") {
    val plan = planOf("q42_local_supplier_volume")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"supplier/customer nation chains should broadcast:\n$plan")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size <= 1,
      s"more than the one fact-fact join shuffled:\n$plan")
    val factScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(plan).size
    assert(factScans == 1, s"one lineitem scan expected, got $factScans:\n$plan")
  }

  test("q43: top-20 is a TakeOrdered over the customer-grain aggregate; returnflag pushed") {
    val plan = planOf("q43_returned_items")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must not be a global sort:\n$plan")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag not pushed to the lineitem scan:\n$plan")
    // name/nation dims join AFTER the aggregate: the aggregate must sit
    // below the broadcast joins, i.e. no c_name column inside any HashAggregate
    assert(!"HashAggregate[^\\n]*c_name".r.findAllIn(plan).hasNext,
      s"customer dim joined before the aggregate (fact-side row widening):\n$plan")
  }

  test("q44: dual priority tallies are CASE arms in ONE aggregation over one join") {
    val plan = planOf("q44_late_shipments")
    assert(plan.contains("CASE WHEN"),
      s"priority split must be when() arms inside the aggregate:\n$plan")
    val factScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(plan).size
    assert(factScans == 1, s"one lineitem scan expected, got $factScans:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"year window not pushed to the lineitem scan:\n$plan")
  }

  test("q45: part side broadcasts with a 2-column ReadSchema; one lineitem scan") {
    val plan = planOf("q45_promo_share")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 2-column part side should broadcast:\n$plan")
    assert(plan.contains("ReadSchema: struct<p_partkey:bigint,p_type:string>"),
      s"part scan not pruned to the 2 needed columns:\n$plan")
    val factScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(plan).size
    assert(factScans == 1, s"one lineitem scan expected, got $factScans:\n$plan")
  }

  test("q46: p_type filter pushed to the part scan; all three dims broadcast") {
    val plan = planOf("q46_product_profit")
    assert(plan.contains("EqualTo(p_type,ECONOMY)"),
      s"part-type filter not pushed to the part scan:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"part/supplier/nation should all broadcast:\n$plan")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).size == 0,
      s"Q9 shape with broadcast dims should not shuffle any join:\n$plan")
  }

  test("q47: all three predicates reach the lineitem scan; no join anywhere") {
    // formatted mode: the one-line plan string truncates this scan's
    // PushedFilters list (4 read columns + 8 pushed predicates)
    val df = SparkEntry.queries("q47_simple_revenue")(spark, sf)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"year window not pushed:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.04)"),
      s"discount band not pushed:\n$plan")
    assert(plan.contains("LessThan(l_quantity,24.0)"),
      s"quantity cap not pushed:\n$plan")
    assert(!plan.contains("Join"), s"Q6 shape must not join:\n$plan")
  }

  test("q48: per-part total is a window over the AGGREGATE grain — one fact scan") {
    val plan = planOf("q48_excess_share_suppliers")
    val factScans = "Scan parquet [^\\n]*lineitem".r.findAllIn(plan).size
    assert(factScans == 1,
      s"Q20 decorrelation must not rescan or self-join the fact, got $factScans:\n$plan")
    assert(plan.contains("Window"),
      s"per-part total should be a window at (part,supplier) grain:\n$plan")
    assert(plan.contains("EqualTo(p_type,PROMO)"),
      s"part-type filter not pushed to the part scan:\n$plan")
  }

  test("t32: blocklist is ONE narrow text pass — only the presentation sort exchanges") {
    val plan = planOf("t32_blocklist")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"blocklist matching must not shuffle before the sort:\n$plan")
    assert(plan.contains("Generate"),
      s"hits should explode at hit cardinality, not widen the row:\n$plan")
    assert(!plan.toLowerCase.contains("udf") && !plan.contains("BatchEvalPython"),
      s"blocklist must be the native expression:\n$plan")
  }

  test("t45: extended redaction is one narrow pass — stages shared, no join, only the presentation sort") {
    val plan = planOf("t45_redact_extended")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"redaction must not shuffle before the sort:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Expand"),
      s"redaction is a pure projection chain:\n$plan")
    assert(!plan.toLowerCase.contains("udf") && !plan.contains("BatchEvalPython"),
      s"checksum validation must be native higher-order expressions:\n$plan")
    // stage reuse: each stage's regexp_replace appears ONCE in the
    // optimized plan (the naive per-count spelling re-inlines the
    // whole prefix chain per output column — <EMAIL> would show up
    // 7+ times)
    val emailStages = "<EMAIL>".r.findAllIn(plan).size
    assert(emailStages <= 3,
      s"email stage should be computed once and reused, found $emailStages occurrences:\n$plan")
  }

  test("t46/t48: page processing is one narrow pass — no join, only the presentation sort") {
    // both halves of crawl-page work (text extraction, link harvesting)
    // must stay pure per-row projection chains: at 100 TB the page
    // corpus is the biggest table in the pipeline and any exchange
    // before the (test-only) presentation sort would dominate the job
    val pText = planOf("t46_html_extract")
    assert("Exchange".r.findAllIn(pText).size <= 1,
      s"extraction must not shuffle before the sort:\n$pText")
    assert(!pText.contains("Join") && !pText.contains("Expand"),
      s"extraction is a pure projection chain:\n$pText")
    assert(!pText.toLowerCase.contains("udf") && !pText.contains("BatchEvalPython"),
      s"extraction must be native regexp/replace expressions:\n$pText")
    val pLinks = planOf("t48_html_links")
    assert("Exchange".r.findAllIn(pLinks).size <= 1,
      s"link harvesting must not shuffle before the sort:\n$pLinks")
    assert(!pLinks.contains("Join"),
      s"link harvesting joins nothing — canonicalization is per-row:\n$pLinks")
    assert(pLinks.contains("Generate"),
      s"links should explode at link cardinality (posexplode), not widen rows:\n$pLinks")
  }

  test("t53/t54: container walk is one narrow codegen pass; anchor rollup shuffles once on (domain, term)") {
    // WARC ingestion: the Content-Length walk + posexplode must reach
    // the presentation sort without any hash exchange — at 100 TB the
    // container corpus is the biggest input there is
    val pWarc = planOf("t53_warc_records")
    assert(!pWarc.contains("Exchange hashpartitioning"),
      s"record walk shuffled:\n$pWarc")
    assert(!pWarc.contains("Join") && pWarc.contains("Generate"),
      s"records come from one explode, never a join:\n$pWarc")
    assert(pWarc.contains("graft_warc_records"),
      s"the walk must be the native expression:\n$pWarc")
    // anchor-text rollup: extract/split/tokenize are per-row; the only
    // exchanges are the exact-distinct's two-phase pair — a map-side
    // combined (domain, term, doc_id) dedup shuffle, then the
    // (domain, term) rollup at vocabulary cardinality — never a third
    val pAnchor = planOf("t54_anchor_terms")
    assert("Exchange hashpartitioning".r.findAllIn(pAnchor).size == 2,
      s"anchor rollup is the two-phase distinct, nothing more:\n$pAnchor")
    assert(!pAnchor.contains("Join"), s"no join in the rollup:\n$pAnchor")
  }

  test("t58: one signal projection, no doc-keyed join — dup window + domain rollup are the only exchanges") {
    val plan = planOf("t58_domain_reputation")
    assert(!plan.contains("Join"),
      s"signals must ride ONE projection, never join per doc:\n$plan")
    // text-hash window + two-phase rollup partials land in ≤ 2 hash
    // exchanges; the presentation sort adds the single range exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
  }

  test("t47: per-line langid scores each line ONCE — doc-keyed windows, no join back, no corpus-wide window") {
    val plan = planOf("t47_langid_lines")
    // r16: the majority rollup rides doc-keyed windows over ONE scored
    // projection (the former two-agg + join-back shape evaluated the
    // scorer on both sides of the join — twice per line); the only
    // hash exchanges are the two window partitionings, both on
    // doc-scaled keys, never on line content
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"per-line langid grew an unexpected exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"assignment must not join back to the lines:\n$plan")
    // every window is doc-partitioned — the corpus-wide hazard is an
    // EMPTY partition spec, which plans as Exchange SinglePartition
    // (a single-task sort at 100 TB)
    assert(!plan.contains("Exchange SinglePartition"),
      s"windows must be doc-partitioned, never corpus-wide:\n$plan")
    assert(plan.contains("Generate"),
      s"line split should be a posexplode Generate:\n$plan")
  }

  test("s09/s10: prefix slice happens BEFORE the pair join — full vectors never enter it") {
    // the join operand projections must carry the slice; if the slice
    // migrated above the join, the corpus would ship full-width vectors
    val p9 = planOf("s09_trunc_topk")
    assert("slice\\(".r.findAllIn(p9).size >= 2,
      s"truncation must apply on both join inputs:\n${p9.take(4000)}")
    val p10 = planOf("s10_trunc_rerank")
    assert(p10.contains("BroadcastHashJoin"),
      s"rerank candidate join should be a broadcast hash join:\n${p10.take(4000)}")
  }

  test("graph rounds: no exchange under the state ⋈ edges join of a HITS half-step or a PageRank round") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.ops.Graph
    import spark.implicits._
    // the final (post-AQE) plan: exchanges that ran are query stages
    def ran(df: org.apache.spark.sql.DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    }
    def exchanges(p: SparkPlan) = "Exchange".r.findAllIn(p.treeString).length
    // every node, query stages' plans included
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    def joins(p: SparkPlan, tpe: String) =
      nodes(p).collect { case j: SortMergeJoinExec if j.joinType.toString == tpe => j }
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 5L))
      .toDF("src", "dst", "w")
    val bySrc = Graph.pin(edges, "src", materialize = true)
    val ids = Graph.pin((1L to 4L).toDF("id"), "id", materialize = true)
    // a round's state: a lazy keyed checkpoint, as Blocks.converge takes it
    val state = org.apache.spark.sql.GraftSqlBridge.localCheckpoint(
      ids.select(col("id"), lit(1000000L).as("s"), lit(1000000L).as("rank")), eager = false)

    // HITS half-step: the edge join is co-partitioned; the re-key to
    // `dst` is the one exchange
    val half = ran(Graph.spread(bySrc, state.select(col("id"), col("s")), "src", "dst",
      col("s") * col("w")))
    val hitsJoin = joins(half, "Inner")
    assert(hitsJoin.size == 1, half.treeString)
    assert(exchanges(hitsJoin.head) == 0, s"exchange under the edge join:\n${half.treeString}")
    assert(exchanges(half) == 1, half.treeString)

    // PageRank round: the same edge join, then the zero-restore join of
    // the node ids to the re-keyed contributions
    val degrees = Graph.pin(edges.join(edges.groupBy("src").agg(count(lit(1)).as("d")), "src"),
      "src", materialize = true)
    val round = ran(Graph.rankRound(degrees, ids, state, "rank div d", lit(150000L)))
    val prJoin = joins(round, "Inner")
    assert(prJoin.size == 1, round.treeString)
    assert(exchanges(prJoin.head) == 0, s"exchange under the edge join:\n${round.treeString}")
    assert(exchanges(round) == 1, round.treeString)
    Seq(state, ids, bySrc, degrees).foreach(graft.ops.Blocks.free)
  }
}
