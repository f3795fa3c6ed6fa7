package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}

/** End-to-end tour of the training-data pipeline operators through the
  * public API on the real fixtures: analyze → filter → dedup (exact +
  * near) → similarity — the shape of an actual corpus-cleaning job.
  * Run: `sbt "runMain graft.examples.PipelineTour"`.
  */
object PipelineTour {
  def main(args: Array[String]): Unit = {
    implicit val spark = GraftSession.local(8)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    var failed = 0
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case e: Throwable => println(s"  ! $name: $e"); false }
      println(f"${if (ok) "OK  " else "FAIL"} $name"); if (!ok) failed += 1
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

    val analyzed = TextOps.analyze(docs).cache()
    check("text analysis covers every doc") { analyzed.count() == docs.count() }

    val quality = analyzed.filter(col("quality") > 0.2)
    check("quality filter keeps a nonempty subset") {
      val n = quality.count(); n > 0 && n <= docs.count()
    }

    val deduped = Dedup.dropExactDuplicates(docs)
    check("exact dedup keeps distinct texts") {
      deduped.count() == docs.select("text").distinct().count()
    }

    val nearPairs = Dedup.minhashDedupPairs(docs, n = 3, k = 32, bands = 16, minJaccard = 0.5)
    check("minhash near-dup pairs found and verified >= threshold") {
      // aggregate checks, not a full collect: at sf0.1+ the pair set is
      // an operator OUTPUT, not a driver-sized summary
      nearPairs.count() > 0 &&
        nearPairs.filter(col("jaccard") < 0.5).count() == 0
    }

    check("ANN top-5 agrees with brute force on top-1 for most queries") {
      val q = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ivf = Similarity.ivfTopK(q, emb, 5, nCentroids = 16, nProbe = 8)
        .collect().groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      val hits = exact.count { case (qid, n1) => ivf.getOrElse(qid, Set.empty).contains(n1) }
      hits >= exact.size / 2
    }

    check("serving combiners: RRF fusion agrees on arms' overlap; MMR diversifies it") {
      // the retrieval tail of a RAG pipeline: two ranked arms fuse by
      // reciprocal rank (s12), then the fused pool is MMR-diversified
      // (s13) — both list-sized stages downstream of the gated top-k
      val q = emb.filter(col("vec_id") < 5)
      val q0 = emb.filter(col("vec_id") === 0)
      val lex = Similarity.bruteForceTopK(q0, emb, 10)
        .select(col("neighbor_id"), col("rank"))
      val sem = Similarity.truncatedTopK(q0, emb, 10, dPrime = 16)
        .select(col("neighbor_id"), col("rank"))
      val fused = Similarity.rrfFuse(Seq(lex, sem), k = 5, idCol = "neighbor_id")
      val mmr = Similarity.mmrTopK(q, emb, k = 5, poolSize = 20)
      // every query got its k diversified picks, rank 1..k each
      val perQuery = mmr.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max("mmr_rank").as("mx"))
      fused.count() == 5 &&
        perQuery.filter(col("n") =!= 5 || col("mx") =!= 5).count() == 0
    }

    check("codebook silhouette: every trained cluster rolls up inside the micro range") {
      // the clustering-quality gate (s19): train, then ask "is this
      // codebook usable" — counts must cover the corpus, margins must
      // stay inside [0, 1e6] micros
      val state = Similarity.trainCodebook(emb, k = 8, iters = 2)
      val sil = Similarity.codebookSilhouette(emb, state).cache()
      val ok = sil.agg(sum("n_members")).head.getLong(0) == emb.count() &&
        sil.filter(col("min_sil_micro") < 0 || col("max_sil_micro") > 1000000L)
          .count() == 0
      sil.unpersist(blocking = false); ok
    }

    check("blocklist gate: one-pass AC counts drop exactly the docs with banned phrases") {
      // the C4-style banned-term filter (t32): count hits in ONE text
      // pass, drop any doc with a hit, keep the rest
      val pats = Seq("fast table", "table table", "slow filter")
      val hits = TextOps.blocklistHits(docs, pats).cache()
      val banned = hits.select(col("doc_id")).distinct()
      val kept = docs.join(banned, Seq("doc_id"), "left_anti")
      val n = docs.count()
      val nb = banned.count()
      val ok = nb > 0 && kept.count() == n - nb &&
        hits.filter(col("cnt") <= 0).count() == 0
      hits.unpersist(blocking = false); ok
    }

    check("JL projected cascade agrees with brute force on top-1 for most queries") {
      // the data-independent scale path (s17/s18): candidates in the
      // 16-dim projected space, full-width rerank
      val q = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val casc = Similarity.projectedRerankTopK(q, emb, k = 5,
          outDim = 16, seed = 7L, candidates = 64)
        .collect().groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      val hits = exact.count { case (qid, n1) => casc.getOrElse(qid, Set.empty).contains(n1) }
      hits >= exact.size / 2
    }

    check("fuzzy match + Jaro-Winkler rerank: every corrupted record gets one ranked match") {
      // the d27→d30 record-linkage tail: edit-distance candidates,
      // JW-prefix-boost tie-breaking, one winner per dirty record
      val ranked = graft.queries.Pipeline.d30JwRank(spark, dir).cache()
      val perId = ranked.groupBy("id_a").agg(count(lit(1)).as("n"))
      val ok = ranked.count() > 0 &&
        perId.filter(col("n") =!= 1).count() == 0 &&
        ranked.filter(col("jw") < 0 || col("jw") > 1).count() == 0
      ranked.unpersist(blocking = false); ok
    }

    check("multimodal features flow into dedup") {
      val media = Multimodal.syntheticMedia(docs.limit(100))
      Multimodal.extractFeatures(media).count() == 100
    }

    check("linear probe scores every vector; decision == sign of the rounded score") {
      val w = Seq.tabulate(64)(j => ((j * 37) % 21 - 10) / 10.0)
      val probe = Similarity.linearProbe(emb, weights = w, bias = 0.05).cache()
      probe.count() == emb.count() &&
        probe.filter((col("score") > 0.0) =!= (col("predicted") === 1L)).count() == 0
    }

    check("modality quality gates: healthy audio all keeps, image gate splits the corpus") {
      val aq = Multimodal.audioQualityRules(
        Multimodal.syntheticWavClasses(docs.limit(200)))
      val iq = Multimodal.imageQualityRules(
        Multimodal.syntheticPngClasses(docs.limit(200))).cache()
      aq.count() == 200 && aq.filter(col("keep") === 0L).count() == 0 &&
        iq.count() == 200 && iq.filter(col("keep") === 1L).count() > 0 &&
        iq.filter(col("keep") === 0L).count() > 0
    }

    check("fingerprint is a pure function of the text and non-degenerate") {
      val fps = docs.select(lower(col("text")).as("lt"),
        graft.functions.GraftFunctions.graftFingerprint(lower(col("text")), 3).as("fp"))
      // every text maps to exactly one fingerprint (so exact dups always
      // cluster), and the fingerprints don't collapse to a few values
      // (the fixture's 500 texts produce ~388 — near-dups sharing their
      // rarest shingle DO collide, which is the winnowing point)
      fps.groupBy("lt").agg(countDistinct("fp").as("nfp"))
        .agg(max("nfp")).head().getLong(0) == 1L &&
        fps.select("fp").distinct().count() > 100
    }

    check("LSH embedding dedup finds the planted twins and nothing else at 0.95") {
      val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x))
          .as("embedding"))
      val corpus = emb.select("vec_id", "embedding").unionByName(twins)
      val pairs = Similarity.cosineDupPairsLsh(corpus, minSim = 0.95, dim = 64)
      // planted-twin structure checked as a filter, not a collected set
      pairs.count() > 0 &&
        pairs.filter(col("id_b") =!= col("id_a") + 100000L).count() == 0
    }

    check("stratified sample is exact and reproducible") {
      val s1 = graft.ops.Sampling.perKeyExact(docs, Seq("lang"), Seq("doc_id"), k = 5)
      val s2 = graft.ops.Sampling.perKeyExact(docs, Seq("lang"), Seq("doc_id"), k = 5)
      // set equality via symmetric exceptAll — no driver materialization
      s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty &&
        s1.groupBy("lang").count().filter(col("count") > 5).count() == 0
    }

    check("incremental ingest dedup: batch-vs-corpus only, both text and embedding") {
      val newDocs = docs.filter(col("doc_id") % 7 === 0)
      val docCorpus = docs.filter(col("doc_id") % 7 =!= 0)
      val textPairs = Dedup.minhashDedupNewPairs(newDocs, docCorpus,
        n = 3, k = 32, bands = 16, minJaccard = 0.5)
      val newVecs = emb.filter(col("vec_id") % 7 === 0)
      val vecPairs = Similarity.cosineDupPairsNew(newVecs,
        emb.filter(col("vec_id") % 7 =!= 0), minSim = 0.35)
      // every pair touches the batch on the left — never corpus-vs-corpus
      // (anti-join against the batch ids finds any violator); both paths
      // must actually find pairs (the anti-join alone passes vacuously)
      textPairs.count() > 0 &&
        textPairs.join(newDocs.select(col("doc_id").as("id_a")), Seq("id_a"),
          "left_anti").count() == 0 &&
        vecPairs.count() > 0 &&
        vecPairs.join(newVecs.select(col("vec_id").as("id_a")), Seq("id_a"),
          "left_anti").count() == 0
    }

    check("persisted minhash index: build once, probe every batch") {
      // production ingest shape: the corpus signature index is built and
      // written ONCE (the expensive part — it scales with the corpus),
      // then every incoming batch probes the reloaded index instead of
      // re-signaturing the corpus
      val idxDir = java.nio.file.Files.createTempDirectory("tour_mh_idx")
        .toFile.getAbsolutePath
      val newDocs = docs.filter(col("doc_id") % 7 === 0)
      val docCorpus = docs.filter(col("doc_id") % 7 =!= 0)
      Dedup.writeMinhashIndex(docCorpus, s"$idxDir/idx", n = 3, k = 32, bands = 16)
      val idx = Dedup.readMinhashIndex(spark, s"$idxDir/idx")
      val indexed = Dedup.minhashDedupNewPairs(newDocs, docCorpus,
          n = 3, k = 32, bands = 16, minJaccard = 0.5, corpusIndex = Some(idx))
        .select("id_a", "id_b")
      val direct = Dedup.minhashDedupNewPairs(newDocs, docCorpus,
          n = 3, k = 32, bands = 16, minJaccard = 0.5)
        .select("id_a", "id_b")
      indexed.count() > 0 &&
        indexed.exceptAll(direct).isEmpty && direct.exceptAll(indexed).isEmpty
    }

    check("near-dup pairs -> clusters -> keep one representative per group") {
      val pairs = Dedup.minhashDedupPairs(docs, n = 3, k = 32, bands = 16, minJaccard = 0.5)
      val clusters = Dedup.clusters(pairs)
      val kept = Dedup.dropNearDuplicates(docs, pairs).count()
      // every cluster keeps exactly its min-id member; singletons untouched
      clusters.count() > 0 &&
        kept == docs.count() - clusters.filter(col("id") =!= col("cluster_id")).count()
    }

    check("reproducible corpus curation: split + quality + OOV filters compose") {
      val splits = graft.ops.Sampling.hashSplit(docs, Seq("doc_id"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      val oov = TextOps.oovRate(docs, topK = 10)
      val curated = splits.filter(col("split") === "train")
        .join(oov.filter(col("oov_rate") < 0.9), Seq("doc_id"))
        .select("doc_id")
      // deterministic end-to-end: the same curation re-derives exactly
      val again = graft.ops.Sampling.hashSplit(docs, Seq("doc_id"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .filter(col("split") === "train")
        .join(TextOps.oovRate(docs, topK = 10).filter(col("oov_rate") < 0.9), Seq("doc_id"))
        .select("doc_id")
      curated.count() > 0 &&
        curated.exceptAll(again).isEmpty && again.exceptAll(curated).isEmpty
    }

    check("weighted sample is deterministic and favors heavy docs") {
      val weighted = docs.withColumn("w", length(col("text")).cast("double"))
      val s1 = graft.ops.Sampling.weightedPriority(weighted, "w", Seq("doc_id"), m = 50)
        .select("doc_id")
      val s2 = graft.ops.Sampling.weightedPriority(weighted, "w", Seq("doc_id"), m = 50)
        .select("doc_id")
      s1.count() == 50 && s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty
    }

    check("BPE-ish token count is >= whitespace token count on every real doc") {
      // restrict to docs with a non-whitespace char: tokenCount counts
      // split()'s empty fragments on tab/newline-only text, so the
      // invariant only holds where there are real tokens
      docs.filter(col("text").rlike("\\S"))
        .select(TextOps.tokenCount(col("text")).as("ws"),
          TextOps.bpeTokenCount(col("text")).as("bpe"))
        .filter(col("bpe") < col("ws")).count() == 0
    }

    check("bucketed layout joins quality stats back with no shuffle on either side") {
      // the repeated corpus⋈stats rollup of a curation loop: bucket BOTH
      // sides on doc_id ONCE (the write-time shuffle amortized over
      // every later join), then the sort-merge join reads co-located
      // buckets — the executed join plan contains no Exchange at all
      graft.ops.Bucketing.writeBucketed(
        docs.select("doc_id", "lang"), "tour_docs_b", "doc_id", buckets = 8)
      graft.ops.Bucketing.writeBucketed(
        analyzed.select(col("doc_id").as("stat_id"), col("quality")),
        "tour_stats_b", "stat_id", buckets = 8)
      val joined = graft.ops.Bucketing.bucketedJoin(spark,
        "tour_docs_b", "doc_id", "tour_stats_b", "stat_id")
      val noExchange = !joined.queryExecution.executedPlan.toString.contains("Exchange")
      noExchange && joined.count() == docs.count()
    }

    check("cohort retention matrix: offset-0 anchors every cohort's maximum") {
      // the engagement rollup over the events table (the e07 registry
      // query), consumed as a pipeline stage: every user lands in the
      // cohort of their first activity week, so each cohort's
      // week_offset=0 row exists and no later offset can exceed it
      val matrix = graft.queries.Pipeline.e07CohortRetention(spark, dir).cache()
      val perCohort = matrix.groupBy("cohort_week").agg(
        sum(when(col("week_offset") === 0, 1).otherwise(0)).as("has_zero"),
        max(col("n_users")).as("mx"),
        max(when(col("week_offset") === 0, col("n_users"))).as("at_zero"))
      matrix.count() > 0 &&
        perCohort.filter(col("has_zero") =!= 1 || col("mx") =!= col("at_zero"))
          .count() == 0
    }

    check("z-order layout sharpens per-file pruning on a second column") {
      val table = spark.range(0, 20000)
        .select((col("id") % 200).as("a"), (col("id") / 200).cast("long").as("b"))
      val zed = graft.ops.ZOrder.layoutBy(table, Seq("a", "b"), numPartitions = 8)
      val linear = table.repartitionByRange(8, col("a")).sortWithinPartitions("a")
      graft.ops.ZOrder.partitionSpanFraction(zed, "b") <
        graft.ops.ZOrder.partitionSpanFraction(linear, "b")
    }

    spark.stop()
    if (failed > 0) { println(s"$failed FAILED"); sys.exit(1) }
    println("PipelineTour: all checks passed")
  }
}

