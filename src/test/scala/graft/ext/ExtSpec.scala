package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, Tables}

class ExtSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.sf
  lazy val docs = Tables.documents(spark, sf).cache()
  lazy val emb = Tables.embeddings(spark, sf).cache()

  test("exactDedup keeps one representative per distinct text") {
    val d = Dedup.exactDedup(docs)
    assert(d.agg(sum("dup_cnt")).head.getLong(0) == docs.count())
    assert(d.count() == docs.select("text").distinct().count())
    val kept = Dedup.dropExactDuplicates(docs)
    assert(kept.count() == d.count())
  }

  test("minhash LSH pairs == exact ngram-Jaccard pairs on fixture (full recall)") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedupPairs(docs, 3, 32, 16, 0.5).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missing=${(exact -- lsh).take(5)} spurious=${(lsh -- exact).take(5)}")
  }

  test("incremental minhash dedup == full dedup restricted to pairs touching the new batch") {
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val incremental = Dedup.minhashDedupNewPairs(newDocs, corpus,
        n = 3, k = 32, bands = 16, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val newIds = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    // full dedup over the union, restricted to pairs with >= 1 new id,
    // re-oriented to the incremental output's (new, other) convention
    val full = Dedup.minhashDedupPairs(docs, n = 3, k = 32, bands = 16, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => newIds(a) || newIds(b) }
      .map { case (a, b) =>
        if (newIds(a) && newIds(b)) (math.min(a, b), math.max(a, b))
        else if (newIds(a)) (a, b) else (b, a)
      }.toSet
    assert(full.nonEmpty, "fixture produced no pairs touching the new batch")
    assert(incremental == full,
      s"only-incr=${(incremental -- full).take(3)} only-full=${(full -- incremental).take(3)}")
  }

  test("incremental dedup: doc_id present in both batch and corpus yields no self-pair") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val batch = Seq(
      (1L, shared),
      (7L, shared), // batch near-dup of the re-ingested doc: the stale
                    // corpus copy of id 1 must not re-emit (1,7) as (7,1)
      (5L, "completely different words with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, shared), // same id re-ingested — must not pair with itself
      (2L, shared), // true near-dup of batch docs 1 and 7
      (3L, "unrelated corpus text that matches nothing in the incoming batch")
    ).toDF("doc_id", "text")
    val rows = Dedup.minhashDedupNewPairs(batch, corpus, n = 3, k = 32, bands = 16,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(!rows.exists(p => p._1 == p._2), s"self-pair in: $rows")
    assert(rows.size == rows.distinct.size, s"duplicated pair rows: $rows")
    val unordered = rows.map(p => if (p._1 < p._2) (p._1, p._2) else (p._2, p._1))
    assert(unordered.size == unordered.distinct.size,
      s"same unordered pair emitted in both orientations: $rows")
    assert(rows.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (7L, 2L), (1L, 7L)),
      s"got: $rows")
  }

  test("incremental embedding dedup == full dedup restricted to batch-touching pairs") {
    val newV = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val incremental = Similarity.cosineDupPairsNew(newV, corpus, minSim = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val newIds = newV.select("vec_id").collect().map(_.getLong(0)).toSet
    // full-dedup pairs touching >= 1 new id, re-oriented to (new, other)
    val full = Similarity.cosineDupPairs(emb, minSim = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => newIds(p._1) || newIds(p._2))
      .map { case (x, y) => if (newIds(x)) (x, y) else (y, x) }.toSet
    assert(incremental.nonEmpty)
    assert(incremental == full,
      s"only-incr=${(incremental -- full).take(3)} only-full=${(full -- incremental).take(3)}")
    // a batch id re-ingested over its corpus copy must not self-pair
    val reingested = Similarity.cosineDupPairsNew(newV, emb, minSim = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!reingested.exists(p => p._1 == p._2), "self-pair from shared id")
    assert(reingested.toSet == incremental, "superseded corpus copies changed the pair set")
  }

  test("PPJoin prefix-filter strategy == naive inverted-index strategy") {
    val naive = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ppjoin = Dedup.ngramJaccardPairs(docs, 3, 0.5, prefixFilter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(ppjoin == naive,
      s"missing=${(naive -- ppjoin).take(5)} spurious=${(ppjoin -- naive).take(5)}")
  }

  test("PPJoin prefix stage: an injected boilerplate shingle never enters the candidate join") {
    import spark.implicits._
    // 40 docs all opening with the same boilerplate 3 words (→ one shared
    // shingle with df = 40, the zipfian hot key) followed by 7 unique
    // words each (7 unique shingles, df = 1). The naive inverted-index
    // join would put 40 rows — every doc — on the boilerplate key; the
    // PPJoin prefix keeps only each doc's 2 rarest shingles, so the hot
    // key must not survive into the join input at all.
    val boiler = "boiler plate text"
    val skewed = (1 to 40).map(i =>
        (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"))
      .toDF("doc_id", "text")
    val sets = skewed.select(col("doc_id").as("id"),
        graft.functions.GraftFunctions.graftShingles(col("text"), 3).as("set"))
      .withColumn("setSize", size(col("set")).cast("long"))
    // shingles travel as xxhash64(seed 42) longs — hash the hot key the same way
    val boilerHash = spark.range(1).select(xxhash64(lit(boiler))).head.getLong(0)
    // every doc really does carry the hot shingle into the exploded stage
    val explodedHot = sets.select(explode(col("set")).as("shingle"))
      .filter(col("shingle") === boilerHash).count()
    assert(explodedHot == 40L, s"fixture broken: boilerplate df = $explodedHot")
    val prefix = Dedup.prefixStage(sets, 0.8)
    // t=0.8 on 8-shingle docs → prefixLen 2: only df=1 shingles qualify
    assert(prefix.filter(col("shingle") === boilerHash).count() == 0L,
      "high-df boilerplate shingle leaked into the PPJoin candidate join input")
    val maxFanIn = prefix.groupBy("shingle").count().agg(max("count")).head.getLong(0)
    assert(maxFanIn == 1L, s"prefix-stage max per-key fan-in $maxFanIn (want 1 on this fixture)")
    // and the full strategies still agree end-to-end on the skewed fixture
    def run(prefixFilter: Boolean) =
      Dedup.ngramJaccardPairs(skewed, 3, 0.8, prefixFilter = prefixFilter)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(true) == run(false))
  }

  test("PPJoin strategy keeps exact-boundary pairs despite fp round-up") {
    import spark.implicits._
    // |A|=7 shingles fully contained in |B|=100 → J = 7/100 = 0.07 exactly;
    // naively evaluated 0.07*100 rounds UP in binary, so a non-conservative
    // prefix/length filter drops the pair the naive strategy keeps
    val wordsA = (1 to 9).map(i => s"w$i")
    val wordsB = (1 to 102).map(i => s"w$i")
    val docs2 = Seq((1L, wordsA.mkString(" ")), (2L, wordsB.mkString(" ")))
      .toDF("doc_id", "text")
    def pairs(prefix: Boolean) =
      Dedup.ngramJaccardPairs(docs2, 3, 0.07, prefixFilter = prefix)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = pairs(false)
    assert(naive == Set((1L, 2L, 0.07)), s"naive: $naive")
    assert(pairs(true) == naive)
  }

  test("simhash banding diagnostic flags duplicate-class bucket skew") {
    import spark.implicits._
    // 200 identical docs (one fingerprint → one hot bucket in EVERY
    // chunk) + 60 distinct docs: the exact situation where simhashPairs'
    // candidate join quietly turns quadratic
    val hot = (1 to 200).map(i => (i.toLong, "the same boilerplate document text every time"))
    val cold = (1001 to 1060).map(i =>
      (i.toLong, s"unique document number $i with words w${i}x w${i}y w${i}z"))
    val skewed = (hot ++ cold).toDF("doc_id", "text")
    val diag = Dedup.simhashBandingDiagnostic(skewed).collect()
    assert(diag.length == 4, "one diagnostic row per 16-bit chunk")
    val maxBucket = diag.map(_.getAs[Long]("max_bucket")).max
    val candPairs = diag.map(_.getAs[Long]("candidate_pairs")).sum
    assert(maxBucket >= 200L, s"hot duplicate class not visible: max_bucket $maxBucket")
    // 200-doc class alone contributes 4 chunks x C(200,2) candidate rows
    assert(candPairs >= 4L * 200 * 199 / 2, s"candidate_pairs underestimates: $candPairs")
    // a spread-out corpus keeps buckets tiny — the diagnostic separates
    // the two regimes crisply
    val flatDiag = Dedup.simhashBandingDiagnostic(cold.toDF("doc_id", "text")).collect()
    assert(flatDiag.map(_.getAs[Long]("max_bucket")).max <= 20L,
      "flat fixture shows no dominant bucket")
  }

  // non-space whitespace at the edges is the divergence trap between the
  // native expressions' Java-side tokenization and the declarative
  // split(trim(...)) twin: Spark trim strips SPACES only and Spark split
  // keeps trailing empty tokens (Java trim/split do neither)
  lazy val whitespaceEdgeDocs = {
    import spark.implicits._
    Seq((9101L, "foo bar baz\n"), (9102L, "\tfoo bar baz"), (9103L, "foo bar baz \n "),
      (9104L, "a b c d"), (9105L, " foo  bar\tbaz\r\n")).toDF("doc_id", "text")
  }

  test("whitespace fuzz: native tokenization matches the declarative twin on 300 random texts") {
    import spark.implicits._
    // seeded random strings over a whitespace-heavy alphabet — the class
    // of input where Java trim/split semantics silently diverge from
    // Spark's (r3 code review finding)
    val rnd = new scala.util.Random(20260812L)
    val alphabet = "ab c\t\n\r  d"
    val fuzz = (0 until 300).map { i =>
      (10000L + i, (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    val native = fuzz.select(col("doc_id"),
        graft.functions.GraftFunctions.graftShingles(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val declarative = fuzz.select(col("doc_id"),
        array_distinct(transform(TextOps.shingles(col("text"), 3), s => xxhash64(s))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    declarative.foreach { case (id, hs) =>
      assert(native(id) == hs, s"doc $id: ${fuzz.filter(col("doc_id") === id).head.getString(1)}")
    }
  }

  test("native minhash signatures equal the explode+groupBy formulation") {
    val input = docs.select("doc_id", "text").unionByName(whitespaceEdgeDocs)
    val native = Dedup.minhashSignatures(input, 3, 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_))).toMap
    val declarative = Dedup.minhashSignaturesDeclarative(input, 3, 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_))).toMap
    assert(native.nonEmpty)
    assert(native == declarative)
  }

  test("simhash near-dup pairs include the exact duplicates") {
    // identical texts → identical simhash → hamming 0
    val exactDups = Dedup.exactDedup(docs).filter(col("dup_cnt") > 1)
    if (exactDups.count() > 0) {
      val pairs = Dedup.simhashPairs(docs, maxDist = 3)
      assert(pairs.filter(col("hamming") === 0).count() > 0)
    }
    val fps = Dedup.simhash64(docs)
    assert(fps.count() == docs.count())
  }

  test("native simhash equals the declarative formulation") {
    val input = docs.select("doc_id", "text").unionByName(whitespaceEdgeDocs)
    val native = Dedup.simhash64(input).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val declarative = Dedup.simhash64Declarative(input).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == declarative)
  }

  test("lshTopK achieves reasonable recall vs brute force") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, emb, 5, dim = 64, bitsPerTable = 6, tables = 8)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.25, f"LSH recall $recall%.2f too low") // random near-orthogonal vectors: floor
  }

  test("ivfTopK achieves reasonable recall vs brute force") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(q, emb, 5, nCentroids = 16, nProbe = 6)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.25, f"IVF recall $recall%.2f too low")
  }

  test("trained IVF codebook serves at least the sampled codebook's recall") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ci: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) = {
      val approx = Similarity.ivfTopK(q, emb, 5, nProbe = 6, corpusIndex = Some(ci))
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val sampled = recallOf(Similarity.ivfIndex(emb, nCentroids = 16))
    val trained = recallOf(Similarity.ivfIndexTrained(emb, nCentroids = 16, iters = 3))
    // everything here is deterministic, so this is a fixed comparison,
    // not a flaky statistical bound; small slack for probe-order ties
    assert(trained >= sampled - 0.05,
      f"trained codebook recall $trained%.2f fell below sampled $sampled%.2f")
  }

  test("LSH cosine dup pairs == exact pairs on a near-dup corpus") {
    // the raw fixture has no high-similarity pairs (max cosine ~0.5), so
    // build one: each vector gets a perturbed twin (first component
    // nudged) at cosine ~0.999; at threshold 0.95 the exact dup set is
    // exactly those twin pairs, and hyperplane-LSH recall at that angle
    // is ~1 - 1e-8 with the defaults
    val perturbed = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    val all = emb.select(col("vec_id"), col("embedding")).unionByName(perturbed)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineDupPairs(all, minSim = 0.95))
    val lsh = pairs(Similarity.cosineDupPairsLsh(all, minSim = 0.95, dim = 64))
    assert(exact.nonEmpty && exact.size >= 400, s"unexpected exact dup count ${exact.size}")
    assert(lsh.subsetOf(exact), "LSH produced a false pair (precision must be 1.0)")
    assert(lsh == exact, s"LSH missed ${(exact -- lsh).take(5)} of ${exact.size}")
  }

  test("filteredTopK: label pre-filter excludes a closer cross-label neighbor") {
    import spark.implicits._
    // q's NEAREST vector overall (v99, cosine ~1) carries a different
    // label: pre-filter semantics must surface the same-label v2/v3
    // instead; a post-filtered global top-k would return nothing
    def vec(head: Float) = Array.tabulate(8)(i => if (i == 0) head else 0.1f)
    val emb = Seq(
      (1L, vec(1.0f), 0),   // the query
      (99L, vec(1.01f), 1), // closest, WRONG label
      (2L, vec(0.8f), 0), (3L, vec(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.filteredTopK(emb.filter(col("vec_id") === 1L), emb, k = 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), s"expected same-label neighbors, got $got")
  }

  test("linearProbe: hand-computed scores, sign decision on the ROUNDED value") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 2.0f, 0.0f)),   // 0.5·1 + (−0.25)·2 + 0 + b = 0.1 → 1
      (2L, Array(0.0f, 0.4f, 0.0f)),   // −0.25·0.4 + b = 0.0 → NOT > 0 → 0
      (3L, Array(-2.0f, 0.0f, 4.0f)))  // −1.0 + 4·1.5 + b = 5.1 → 1
      .toDF("vec_id", "embedding")
    val got = Similarity.linearProbe(emb,
        weights = Seq(0.5, -0.25, 1.5), bias = 0.1)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got(0) == ((1L, 0.1, 1L)))
    assert(got(1) == ((2L, 0.0, 0L)), "score exactly 0 must predict 0 (not >0)")
    assert(got(2) == ((3L, 5.1, 1L)))
  }

  test("rrfFuse: hand-computed fusion; agreement outranks either single arm") {
    import spark.implicits._
    val lex = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    val sem = Seq((2L, 1), (3L, 2)).toDF("doc_id", "rank")
    // 1e6 div 61 = 16393, div 62 = 16129
    val got = Similarity.rrfFuse(Seq(lex, sem), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got(0) == ((2L, 32522L, 2L)), s"both-arms doc must fuse first: ${got.toSeq}")
    assert(got(1) == ((1L, 16393L, 1L)))
    assert(got(2) == ((3L, 16129L, 1L)))
    // exact tie (same rank, single arm each) breaks by id
    val a = Seq((7L, 1)).toDF("doc_id", "rank")
    val b = Seq((5L, 1)).toDF("doc_id", "rank")
    val tied = Similarity.rrfFuse(Seq(a, b), k = 2).collect().map(_.getLong(0))
    assert(tied.sameElements(Array(5L, 7L)))
  }

  test("mmrRerank: lambda extremes, saturation, id ties, sparse pairs, bounded plan") {
    import spark.implicits._
    // pool: one query, candidates 10/11/12 (A/B/C); A and B near-identical
    val pool = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.5))
      .toDF("query_id", "neighbor_id", "sim")
    val pairs = Seq(
      (1L, 10L, 11L, 950000L), (1L, 11L, 10L, 950000L),
      (1L, 10L, 12L, 100000L), (1L, 12L, 10L, 100000L),
      (1L, 11L, 12L, 100000L), (1L, 12L, 11L, 100000L))
      .toDF("query_id", "a", "b", "pair_micro")
    def order(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy("query_id", "mmr_rank").collect().map(_.getLong(1)).toSeq
    // λ=0.7: diversity flips B and C (C's low redundancy beats B's rel edge:
    // 700·800000−300·950000 = 275M for B vs 700·500000−300·100000 = 320M for C)
    assert(order(Similarity.mmrRerank(pool, pairs, k = 3)) == Seq(10L, 12L, 11L))
    // λ=1000 ⇒ pure relevance order, redundancy ignored entirely
    assert(order(Similarity.mmrRerank(pool, pairs, k = 3, lambdaMilli = 1000L))
      == Seq(10L, 11L, 12L))
    // λ=0 ⇒ first pick ties at 0 relevance-weight and breaks by LOWEST id;
    // later picks are pure max-dispersion (C before B: −0.1 vs −0.95)
    assert(order(Similarity.mmrRerank(pool, pairs, k = 3, lambdaMilli = 0L))
      == Seq(10L, 12L, 11L))
    // k ≥ pool saturates at pool size (no phantom rows, no error)
    assert(Similarity.mmrRerank(pool, pairs, k = 10).count() == 3L)
    // exact tie (equal rel, equal redundancy) breaks by id: 20 before 21
    val tiedPool = Seq((2L, 21L, 0.6), (2L, 20L, 0.6), (2L, 30L, 0.9))
      .toDF("query_id", "neighbor_id", "sim")
    val tiedPairs = Seq(
      (2L, 20L, 30L, 200000L), (2L, 30L, 20L, 200000L),
      (2L, 21L, 30L, 200000L), (2L, 30L, 21L, 200000L),
      (2L, 20L, 21L, 500000L), (2L, 21L, 20L, 500000L))
      .toDF("query_id", "a", "b", "pair_micro")
    assert(order(Similarity.mmrRerank(tiedPool, tiedPairs, k = 3))
      == Seq(30L, 20L, 21L))
    // sparse pairSims: a candidate with NO pair entry scores with zero
    // redundancy (LEFT join + coalesce), never silently drops out — here
    // C has no pair rows at all yet must still be considered and, with
    // zero redundancy, beat the high-redundancy B
    val sparsePairs = Seq((1L, 10L, 11L, 950000L), (1L, 11L, 10L, 950000L))
      .toDF("query_id", "a", "b", "pair_micro")
    assert(order(Similarity.mmrRerank(pool, sparsePairs, k = 3))
      == Seq(10L, 12L, 11L))
    // bounded plan: each iteration localCheckpoints, so the FINAL plan's
    // node count must not grow with k (no 2^i embedded candidate subtrees)
    def planNodes(k: Int): Int =
      Similarity.mmrRerank(pool, pairs, k).queryExecution.optimizedPlan.collect { case n => n }.size
    val n2 = planNodes(2); val n5 = planNodes(5)
    assert(n5 <= n2, s"plan grew with k: $n2 nodes at k=2 vs $n5 at k=5")
  }

  test("tripletMine: first-below-margin negative; near-dup candidates skipped; no-candidate anchors drop") {
    import spark.implicits._
    // hand pool: anchor 1 — pos .9; rank2 .88 is INSIDE the margin
    // (near-dup, must be skipped), rank3 .84 is the hard negative.
    // anchor 2 — pos .7; every candidate within margin ⇒ no triplet.
    val pool = Seq(
      (1L, 10L, 0.90, 1L), (1L, 11L, 0.88, 2L), (1L, 12L, 0.84, 3L), (1L, 13L, 0.20, 4L),
      (2L, 20L, 0.70, 1L), (2L, 21L, 0.68, 2L))
      .toDF("query_id", "neighbor_id", "sim", "rank")
    val got = Similarity.tripletMine(null, null, poolSize = 4,
        marginMicro = 50000L, pool = Some(pool))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(5)))
    assert(got.length == 1, s"anchor 2 has no margin-satisfying candidate: ${got.toSeq}")
    assert(got(0) == ((1L, 10L, 12L, 3L)),
      s"expected (anchor 1, pos 10, neg 12 at rank 3): ${got(0)}")
    // margin 0 admits the rank-2 candidate (equality is allowed: <=)
    val loose = Similarity.tripletMine(null, null, poolSize = 4,
        marginMicro = 0L, pool = Some(pool))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(loose(1L) == 11L && loose(2L) == 21L)
  }

  test("embeddingDrift: no-shift reports zero everywhere; a planted shift surfaces on its dim only") {
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val m = Similarity.embeddingMoments(base)
    // identical populations: every dmean is exactly 0 (same integers in,
    // same rounded division out)
    val zero = Similarity.embeddingDrift(m, Similarity.embeddingMoments(base))
    assert(zero.count() == 64)
    assert(zero.filter(col("dmean") =!= 0.0).count() == 0)
    assert(Similarity.maxAbsDrift(zero) == 0.0)
    // plant a +0.25 shift on dim 3 only
    val shifted = base.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 3, x + lit(0.25f)).otherwise(x)).as("embedding"))
    val drift = Similarity.embeddingDrift(m, Similarity.embeddingMoments(shifted)).cache()
    val at3 = drift.filter(col("pos") === 3).head()
    assert(math.abs(at3.getAs[Double]("dmean") - 0.25) < 1e-3,
      s"planted shift not recovered: ${at3.getAs[Double]("dmean")}")
    // every other dim moves at most by the floor-quantization noise
    assert(drift.filter(col("pos") =!= 3 && abs(col("dmean")) > 1e-4).count() == 0)
    assert(math.abs(Similarity.maxAbsDrift(drift) - 0.25) < 1e-3)
  }

  test("assignToCodebook: total, deterministic, centroids from the state, dup-vectors agree") {
    import spark.implicits._
    val state = Similarity.trainCodebook(emb, k = 8, iters = 2)
    val validCids = state.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val assigned = Similarity.assignToCodebook(emb, state).cache()
    assert(assigned.count() == emb.count(), "every vector must be assigned")
    val cids = assigned.select("centroid_id").distinct().collect().map(_.getLong(0)).toSet
    assert(cids.subsetOf(validCids), s"unknown centroid ids: ${cids -- validCids}")
    // identical vectors provably agree (rounded sims + smallest-cid ties)
    val base5 = emb.limit(5).select(col("vec_id"), col("embedding"))
    val twins = base5.select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    val both = Similarity.assignToCodebook(base5.unionByName(twins), state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0 until 5).foreach { i =>
      val orig = both.keys.filter(_ < 500000L).toSeq.sorted.apply(i)
      assert(both(orig) == both(orig + 500000L), s"twin of $orig diverged")
    }
  }

  test("codebookSilhouette: separated scores 1e6, boundary scores 0, counts match assignment; k=1 loud") {
    import spark.implicits._
    // hand-built 2-dim codebook state: centroid 0 = (1,0), centroid 1 = (0,1)
    val state = Seq(
      (0L, 0L, 1000000L, 1L), (0L, 1L, 0L, 1L),
      (1L, 0L, 0L, 1L), (1L, 1L, 1000000L, 1L)
    ).toDF("centroid_id", "pos", "csum", "cnt")
    val vs = Seq(
      (1L, Array(1.0, 0.0)), // coincides with centroid 0 → sil 1e6
      (2L, Array(0.9, 0.1)), // near centroid 0 → 0 < sil < 1e6
      (3L, Array(1.0, 1.0)), // decision boundary (equal rounded sims) → sil 0
      (4L, Array(0.0, 1.0))  // coincides with centroid 1 → sil 1e6
    ).toDF("vec_id", "embedding")
    val sil = Similarity.codebookSilhouette(vs, state).collect()
      .map(r => r.getLong(0) -> r).toMap
    // boundary ties to the smallest centroid id → cluster 0 holds 1,2,3
    assert(sil(0L).getLong(1) == 3L && sil(1L).getLong(1) == 1L,
      s"membership: ${sil.view.mapValues(_.toString).toMap}")
    assert(sil(0L).getLong(3) == 0L, s"boundary vector must score 0: ${sil(0L)}")
    assert(sil(0L).getLong(4) == 1000000L, s"coinciding vector must score 1e6: ${sil(0L)}")
    assert(sil(1L).getLong(3) == 1000000L && sil(1L).getLong(4) == 1000000L,
      s"lone coinciding member: ${sil(1L)}")
    // against the trained codebook: totals match the assignment op,
    // every rollup stays inside the [0, 1e6] micro range
    val trained = Similarity.trainCodebook(emb, k = 8, iters = 2)
    val full = Similarity.codebookSilhouette(emb, trained).cache()
    val byAssign = Similarity.assignToCodebook(emb, trained)
      .groupBy("centroid_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    full.collect().foreach { r =>
      assert(r.getLong(1) == byAssign(r.getLong(0)),
        s"cluster ${r.getLong(0)}: silhouette n ${r.getLong(1)} != assignment ${byAssign(r.getLong(0))}")
      assert(r.getLong(3) >= 0L && r.getLong(4) <= 1000000L, s"micro range: $r")
    }
    full.unpersist()
    // silhouette is undefined for one cluster — loud, not garbage
    val e = intercept[IllegalArgumentException] {
      Similarity.codebookSilhouette(vs,
        state.filter(col("centroid_id") === 0L))
    }
    assert(e.getMessage.contains("2 centroids"), e.getMessage)
  }

  test("bounded-probe contracts: oversized collected/broadcast sides fail loudly") {
    // each guard trips at a tiny override so the test stays fixture-sized;
    // the corresponding happy path is covered by the s03/s06/s10 gates
    val pqState = Similarity.pqTrain(emb.limit(40), m = 4, k = 4, iters = 1)
    val pqCodes = Similarity.pqEncode(emb.limit(40), pqState)
    val eProbes = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb.limit(5), pqCodes, pqState, k = 3, maxProbes = 2L).count()
    }
    assert(eProbes.getMessage.contains("maxProbes"), eProbes.getMessage)
    val eK = intercept[IllegalArgumentException] {
      Similarity.trainCodebook(emb.limit(40), k = 99, maxCentroids = 8)
    }
    assert(eK.getMessage.contains("maxCentroids"), eK.getMessage)
    val ePq = intercept[IllegalArgumentException] {
      Similarity.pqTrain(emb.limit(40), m = 4, k = 99, maxCentroids = 8)
    }
    assert(ePq.getMessage.contains("maxCentroids"), ePq.getMessage)
    val eRerank = intercept[IllegalArgumentException] {
      Similarity.truncatedRerankTopK(emb.limit(10), emb, k = 2, dPrime = 16,
        candidates = 4, maxBroadcastRows = 8L).count()
    }
    assert(eRerank.getMessage.contains("maxBroadcastRows"), eRerank.getMessage)
    // and the bound is a limit-count, not a full count: a within-bound
    // call over the same frames still serves
    assert(Similarity.pqTopK(emb.limit(5), pqCodes, pqState, k = 3,
      maxProbes = 64L).count() > 0)
  }

  test("langId classifies real multilingual samples; valid codes on fixture") {
    import spark.implicits._
    // note: the fixture's lang label is random (text is the same synthetic
    // English-ish vocab for every label), so accuracy is asserted on real
    // sentences instead
    val samples = Seq(
      ("en", "the quick brown fox jumps over the lazy dog and runs for cover"),
      ("de", "der schnelle braune fuchs ist nicht langsam und springt mit freude"),
      ("fr", "le renard brun saute dans la forêt et les oiseaux chantent"),
      ("es", "el zorro marrón salta sobre el perro y los gatos para jugar"),
      ("zh", "敏捷的棕色狐狸跳过了懒狗我们都看到了")).toDF("lang", "text")
    val wrong = samples.withColumn("pred", TextOps.langId(col("text")))
      .filter(col("pred") =!= col("lang")).collect()
    assert(wrong.isEmpty, wrong.mkString(","))
    val preds = docs.withColumn("pred", TextOps.langId(col("text")))
      .select("pred").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(TextOps.LangMarkers.keySet))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val fp1 = TextOps.analyze(docs).select("doc_id", "fingerprint").collect().toSet
    val fp2 = TextOps.analyze(docs).select("doc_id", "fingerprint").collect().toSet
    assert(fp1 == fp2)
    import spark.implicits._
    val two = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val fps = TextOps.analyze(two).select("fingerprint").collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("native min-md5 shingle fingerprint equals the explode+min-agg formulation") {
    import spark.implicits._
    // edge shapes alongside the fixture: short doc (<n tokens), empty,
    // whitespace-only, duplicated shingles, non-space edge whitespace
    val extra = Seq((9001L, "one two"), (9002L, ""), (9003L, "   "),
      (9004L, "a b c a b c a b c")).toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").unionByName(extra)
      .unionByName(whitespaceEdgeDocs)
    val native = all.select(col("doc_id"),
        graft.functions.GraftFunctions.graftFingerprint(lower(col("text")), 3).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val declarative = all
      .select(col("doc_id"), explode(TextOps.shingles(lower(col("text")), 3)).as("sh"))
      .groupBy(col("doc_id")).agg(min(md5(col("sh"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native.size == declarative.size)
    declarative.foreach { case (id, fp) => assert(native(id) == fp, s"doc $id") }
  }

  test("fused analyze() equals the column-primitive formulation") {
    import org.apache.spark.sql.functions.{length => slen}
    // analyze() reads only doc_id + text
    val input = docs.select("doc_id", "text").unionByName(whitespaceEdgeDocs)
    val expected = input.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.subwordCount(col("text")).as("n_subwords"),
      slen(col("text")).as("n_chars"),
      TextOps.punctCount(col("text")).as("n_punct"),
      round(TextOps.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      TextOps.langId(col("text")).as("lang_pred"),
      TextOps.fingerprint(col("text")).as("fingerprint"),
      TextOps.qualityScore(col("text")).as("quality"))
    val actual = TextOps.analyze(input)
      .select(expected.columns.map(col).toIndexedSeq: _*)
    val e = expected.collect().map(_.toSeq).toSet
    val a = actual.collect().map(_.toSeq).toSet
    assert(a == e, s"diff: ${(e -- a).take(2)} vs ${(a -- e).take(2)}")
  }

  test("bm25TopK: integer scoring ranks the rare term above common ones") {
    // a doc containing the rare query term must out-rank a doc with the
    // same count of a common term: idf('dup') >> idf('spark') by corpus df
    val top = TextOps.bm25TopK(docs, Seq("dup", "spark", "vector", "merge"), k = 50)
      .collect()
    assert(top.length == 50)
    // scores strictly ordered (desc, ties by doc_id asc)
    val scores = top.map(r => (r.getLong(1), r.getLong(0)))
    assert(scores.sameElements(scores.sortBy { case (s, id) => (-s, id) }))
    // every doc containing 'dup' beats every dup-free doc in the ranking:
    // the rare term's capped idf dwarfs the common terms' combined weight
    val dupDocs = docs.filter(col("text").rlike("(^|\\s)dup(\\s|$)"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val topIds = top.map(_.getLong(0))
    val lastDup = topIds.lastIndexWhere(dupDocs.contains)
    val firstNonDup = topIds.indexWhere(!dupDocs.contains(_))
    assert(dupDocs.forall(topIds.take(lastDup + 1).contains),
      "a dup-containing doc fell out of the top ranks")
    assert(firstNonDup > lastDup || firstNonDup == -1,
      s"dup-free doc ranked above a dup doc: firstNonDup=$firstNonDup lastDup=$lastDup")
    // determinism: same input, same ranking
    val again = TextOps.bm25TopK(docs, Seq("dup", "spark", "vector", "merge"), k = 50)
      .collect().map(_.getLong(0))
    assert(topIds.sameElements(again))
  }

  test("tfidfCosineTopK: exact integer dot/norms, Cauchy bound, absent query terms drop") {
    import spark.implicits._
    val docs2 = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y"), (4L, "w"))
      .toDF("doc_id", "text")
    val top = TextOps.tfidfCosineTopK(docs2, Seq("x", "y", "missing"), k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // N=4; df x:2 y:2 z:1 w:1 → idf = (1000·5)//(df+1): x,y 1666; z,w 2500.
    // 'missing' has no posting → drops from the query vector; q2 = 2·1666².
    val q2 = 2L * 1666 * 1666
    def micro(dot: Long, d2: Long): Long =
      math.floor(dot.toDouble / (math.sqrt(q2.toDouble) * math.sqrt(d2.toDouble)) * 1e6).toLong
    val d1 = (1666L * 3332 + 1666L * 1666, 3332L * 3332 + 1666L * 1666)
    val d2v = (1666L * 1666, 1666L * 1666 + 2500L * 2500)
    val d3 = (1666L * 4998, 4998L * 4998)
    assert(top == Map(
      1L -> ((d1._1, d1._2, micro(d1._1, d1._2))),
      2L -> ((d2v._1, d2v._2, micro(d2v._1, d2v._2))),
      3L -> ((d3._1, d3._2, micro(d3._1, d3._2)))), top)
    assert(!top.contains(4L), "no shared term → no row")
    // Cauchy-Schwarz on exact integers: cosine never exceeds 1
    assert(top.values.forall(_._3 <= 1000000L))
    // the two-term doc out-ranks the single-term docs (direction, not length)
    assert(top(1L)._3 > top(3L)._3 && top(3L)._3 > top(2L)._3)
  }

  test("docKeywords: exact integer ranking, tf saturation, TopKPerKey cut") {
    import spark.implicits._
    val docs2 = Seq((1L, "x x y"), (2L, "x z"), (3L, "y y y"), (4L, "w"))
      .toDF("doc_id", "text")
    val kw = TextOps.docKeywords(docs2, k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // idf: x,y (1000·5)//3 = 1666; z,w (1000·5)//2 = 2500
    assert(kw == Set(
      (1L, "x", 2L * 1666, 1L), (1L, "y", 1666L, 2L),   // tf breaks the idf tie
      (2L, "z", 2500L, 1L), (2L, "x", 1666L, 2L),       // rarer term outranks
      (3L, "y", 3L * 1666, 1L),                          // fewer terms than k: emit what exists
      (4L, "w", 2500L, 1L)), kw)
    // saturation: a 200-fold repeat caps at tfCap
    val sat = TextOps.docKeywords(
      Seq((9L, Seq.fill(200)("x").mkString(" "))).toDF("doc_id", "text"),
      k = 1, tfCap = 100L).collect()(0)
    assert(sat.getLong(2) == 100L * 1000L, sat.getLong(2)) // tfCap · ((1000·2) div 2)
  }

  test("ivfPq: codes == pqEncode + coarse assign; full-probe serve == pqTopK; narrow probe reads only its lists") {
    val state = Similarity.pqTrain(emb, m = 4, k = 8, iters = 2)
    val composite = Similarity.ivfPqCodes(emb, nLists = 16, m = 4, k = 8, iters = 2).cache()
    // fine codes are exactly pqEncode's; one list per vector
    val fine = composite.select("vec_id", "sub", "code")
    val direct = Similarity.pqEncode(emb, state)
    assert(fine.exceptAll(direct).isEmpty && direct.exceptAll(fine).isEmpty)
    val listsPerVec = composite.groupBy("vec_id")
      .agg(countDistinct(col("list_id")).as("n")).filter(col("n") =!= 1).count()
    assert(listsPerVec == 0L, "a vector must live in exactly one inverted list")
    // full probe width: the composite serve IS pqTopK, row for row
    val q = emb.filter(col("vec_id") < 10)
    val coarse = Similarity.ivfPqCoarse(emb, nLists = 16)
    val viaIvf = Similarity.ivfPqTopK(q, composite, state, coarse, k = 5, nProbe = 16)
    val viaPq = Similarity.pqTopK(q, direct, state, k = 5)
    assert(viaIvf.exceptAll(viaPq).isEmpty && viaPq.exceptAll(viaIvf).isEmpty)
    // narrow probe: every returned neighbor sits in one of its query's
    // probed lists (the serve never touched an unprobed list)
    val narrow = Similarity.ivfPqTopK(q, composite, state, coarse, k = 5, nProbe = 2)
    val cb = coarse.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val probed: Map[Long, Set[Long]] = q
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>")).collect().map { r =>
        val qv = r.getSeq[Double](1).toArray
        val qn = math.sqrt(qv.map(x => x * x).sum)
        val lists = cb.map { case (cid, cv, cn) =>
          val sim = math.floor(
            qv.zip(cv).map { case (a, b) => a * b }.sum / (qn * cn) * 1e6 + 0.5) / 1e6
          (cid, sim)
        }.sortBy { case (cid, s) => (-s, cid) }.take(2).map(_._1).toSet
        r.getLong(0) -> lists
      }.toMap
    val vecList = composite.select(col("vec_id").as("neighbor_id"), col("list_id"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val narrowRows = narrow.select("query_id", "neighbor_id").collect()
    assert(narrowRows.nonEmpty)
    narrowRows.foreach { r =>
      assert(probed(r.getLong(0)).contains(vecList(r.getLong(1))),
        s"neighbor ${r.getLong(1)} came from an unprobed list for query ${r.getLong(0)}")
    }
    composite.unpersist()
  }

  test("pq: identical vectors get identical codes; encode deterministic; ADC finds dup partners") {
    val state = Similarity.pqTrain(emb, m = 4, k = 8, iters = 2)
    val codes = Similarity.pqEncode(emb, state).cache()
    // code word per vector (m rows → one sorted array)
    val word = codes.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("w"))
    // exact-duplicate embeddings (same rounded cosine to every centroid,
    // same tie-break) must land on the SAME code word in every subspace
    val dupPartner = Similarity.cosineDupPairs(emb, minSim = 1.0)
      .filter(col("sim") === 1.0)
    if (dupPartner.count() > 0) {
      val mismatched = dupPartner
        .join(word.select(col("vec_id").as("id_a"), col("w").as("wa")), "id_a")
        .join(word.select(col("vec_id").as("id_b"), col("w").as("wb")), "id_b")
        .filter(col("wa") =!= col("wb")).count()
      assert(mismatched == 0, s"$mismatched exact-dup pairs with differing PQ codes")
    }
    // determinism: retrain + re-encode reproduces every code
    val again = Similarity.pqEncode(emb, Similarity.pqTrain(emb, m = 4, k = 8, iters = 2))
    assert(codes.except(again).count() == 0 && again.except(codes).count() == 0)
    // ADC serving: for probes that HAVE an exact duplicate, the partner
    // shares the probe's full code word, so its ADC score ties the
    // maximum — it must appear in a same-score top slice
    val probeIds = dupPartner.select(col("id_a")).limit(5).collect().map(_.getLong(0))
    if (probeIds.nonEmpty) {
      val probes = emb.filter(col("vec_id").isin(probeIds: _*))
      val top = Similarity.pqTopK(probes, codes, state, k = 60)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = dupPartner.filter(col("id_a").isin(probeIds: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val missed = expected.filterNot(top.contains)
      assert(missed.length == 0, s"ADC top-60 missed exact-dup partners: ${missed.take(5).toSeq}")
    }
    codes.unpersist()
  }

  test("dropContained: no containment pair survives with both endpoints kept") {
    val pairs = Dedup.ngramContainmentPairs(docs, 3, 0.6).cache()
    assert(pairs.count() > 0, "fixture produced no containment pairs — assertion vacuous")
    val kept = Dedup.dropContained(docs, pairs, 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => kept.contains(a) && kept.contains(b) }
    assert(survivors.isEmpty, s"both-kept containment pairs: ${survivors.take(5).toSeq}")
    // every doc is either kept or the drop target of some pair
    val dropped = docs.select("doc_id").collect().map(_.getLong(0)).toSet -- kept
    val pairIds = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(dropped.subsetOf(pairIds), "dropped a doc no pair ever implicated")
    pairs.unpersist()
  }

  test("containment: prefix-filter strategy == naive strategy, rows and ratios") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val naive = rows(Dedup.ngramContainmentPairs(docs, 3, 0.6))
    val prefix = rows(Dedup.ngramContainmentPairs(docs, 3, 0.6, prefixFilter = true))
    assert(prefix == naive,
      s"missing=${(naive -- prefix).take(3)} spurious=${(prefix -- naive).take(3)}")
    assert(naive.nonEmpty, "fixture produced no containment pairs — assertion vacuous")
  }

  test("meanPool: hand centroid with a negative-sum dim is the FLOOR mean; singleton group == own micros") {
    import spark.implicits._
    // group 0: (1.0,-0.5),(0.0,-0.5),(0.5,0.2) → pos0 mean 5·10⁵;
    // pos1 sum −8·10⁵ over 3 → FLOOR −266667, where truncating div
    // would give −266666 (the offset trick's whole point)
    val vecs = Seq(
      (0L, Array(1.0f, -0.5f)), (1L, Array(0.0f, -0.5f)),
      (2L, Array(0.5f, 0.2f)), (10L, Array(-0.3f, 0.7f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.meanPool(vecs, expr("vec_id div 5"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got((0L, 0L)) == ((3L, 500000L)), got)
    assert(got((0L, 1L)) == ((3L, -266667L)),
      s"negative-sum dim must floor, not truncate: ${got((0L, 1L))}")
    // singleton group: centroid == the vector's own floor micros
    // (float widening is part of the contract: -0.3f ≈ -0.3000000119
    // floors to -300001, 0.7f ≈ 0.6999999881 floors to 699999)
    assert(got((2L, 0L)) == ((1L, math.floor(-0.3f.toDouble * 1e6).toLong)) &&
      got((2L, 1L)) == ((1L, math.floor(0.7f.toDouble * 1e6).toLong)), got)
  }

  test("sq: int8 codes in range; midpoint reconstruction within one quantization step") {
    val stats = Similarity.sqStats(emb).cache()
    val codes = Similarity.sqEncode(emb, Some(stats))
    val rng = codes.agg(min("code"), max("code")).head
    assert(rng.getLong(0) >= 0L && rng.getLong(1) <= 255L)
    // midpoint dequantization lands within (mx-mn)/256/1e6 of the original
    val orig = emb.select(col("vec_id").cast("long").as("vec_id"),
      posexplode(Similarity.asDouble(col("embedding"))).as(Seq("p", "xorig")))
      .select(col("vec_id"), col("p").cast("long").as("pos"), col("xorig"))
    val err = Similarity.sqDecode(codes, stats)
      .join(orig, Seq("vec_id", "pos"))
      .join(stats, "pos")
      .select((abs(col("x") - col("xorig")) -
        ((col("mx") - col("mn")) / lit(255.0) / lit(2.0) + lit(1.0)) / lit(1e6)).as("excess"))
      .agg(max("excess")).head.getDouble(0)
    // half a cell + 1 micro-unit for the floor() in xi itself
    assert(err <= 0.0, s"reconstruction outside half a quantization cell: excess $err")
    stats.unpersist()
  }

  test("langIdScored == fused TextMetrics lang fields (pred AND winning hits)") {
    val both = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.graftTextMetrics(col("text")).as("m"),
      TextOps.langIdScored(col("text")).as("s"))
    assert(both.filter(col("m.lang_pred") =!= col("s.lang") ||
      col("m.lang_hits") =!= col("s.hits")).count() == 0,
      "fused language fields diverged from the declarative twin")
  }

  test("token counts: empty and whitespace-only are 0") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "one two")).toDF("doc_id", "text")
    val counts = df.select(TextOps.tokenCount(col("text"))).collect().map(_.getInt(0))
    assert(counts.toSeq == Seq(0, 0, 2))
  }

  test("native md5 simhash equals the declarative explode+agg formulation") {
    import spark.implicits._
    val native = graft.queries.Pipeline.d07SimhashMd5(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val declarative = graft.queries.Pipeline.d07SimhashMd5Declarative(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(native.nonEmpty && native == declarative)
    // token-less docs: the declarative groupBy has no rows for them, so
    // the native path must drop them too (not emit a zero fingerprint).
    // Doc 4 is tab/newline-only: Spark trim strips spaces ONLY, so a
    // trim-based filter would wrongly keep it — emission is defined by
    // "has a non-\s character", the \s+-tokenizer's notion of empty
    val dir = java.nio.file.Files.createTempDirectory("d07empty").toString
    Seq((1L, "real text here", "en"), (2L, "   ", "en"), (3L, "", "en"),
        (4L, "\t\n ", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    assert(graft.queries.Pipeline.d07SimhashMd5(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(graft.queries.Pipeline.d07SimhashMd5Declarative(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("BPE-ish token count: alternation edges match the hand count") {
    import spark.implicits._
    val df = Seq(
      (1L, ""),           // no matches
      (2L, "one two"),    // "one", " two"
      (3L, "ab12, cd"),   // "ab", "12", ",", " cd"
      (4L, "a  b"),       // "a", "  " (residual spaces), "b"
      (5L, "x\ny!?")      // "x", "\n" (non-alnum run), "y", "!?"
    ).toDF("doc_id", "text")
    val got = df.orderBy("doc_id")
      .select(TextOps.bpeTokenCount(col("text"))).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(0, 2, 4, 3, 4), got.toSeq)
  }

  test("cosine of identical vectors is 1") {
    import spark.implicits._
    val v = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)),
      (3L, Array(-3.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairs(v, 0.99)
    val rows = pairs.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L && rows.head.getLong(1) == 2L)
  }

  test("simhash 8x8-bit banding == 4x16-bit banding at maxDist <= 3") {
    // both chunkings are pigeonhole-complete at d <= 3 (3 flipped bits
    // touch at most 3 of 4 sixteen-bit chunks AND at most 3 of 8
    // eight-bit chunks), and both verify candidates with the same exact
    // hamming filter — so the pair sets must be identical, the wider
    // banding just pays 256x bucket fan-in for its d <= 7 reach
    def pairs(chunks: Int) =
      Dedup.simhashPairsChunked(docs, maxDist = 3, chunks = chunks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val narrow = pairs(4)
    val wide = pairs(8)
    assert(narrow.nonEmpty, "fixture produced no simhash pairs at maxDist 3")
    assert(wide == narrow,
      s"only-8x8=${(wide -- narrow).take(5)} only-4x16=${(narrow -- wide).take(5)}")
    // the public entry dispatches by maxDist: > 3 must route to 8x8
    // (and a distance-7 sweep is a superset of the distance-3 pairs)
    val d7 = Dedup.simhashPairs(docs, maxDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(narrow.map(p => (p._1, p._2)).subsetOf(d7))
  }

  test("minhash index: parquet reload == recompute, and indexed incremental dedup == direct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_index").toFile.getAbsolutePath
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    Dedup.writeMinhashIndex(corpus, s"$dir/idx", n = 3, k = 32, bands = 16)
    val reloaded = Dedup.readMinhashIndex(spark, s"$dir/idx")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("band"), r.getAs[Long]("bandHash"))).toSet
    assert(rows(reloaded) == rows(Dedup.minhashIndex(corpus, n = 3, k = 32, bands = 16)),
      "persisted index rows drifted from a fresh recompute")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = pairSet(Dedup.minhashDedupNewPairs(newDocs, corpus,
      n = 3, k = 32, bands = 16, minJaccard = 0.5))
    val indexed = pairSet(Dedup.minhashDedupNewPairs(newDocs, corpus,
      n = 3, k = 32, bands = 16, minJaccard = 0.5, corpusIndex = Some(reloaded)))
    assert(direct.nonEmpty)
    assert(indexed == direct,
      s"only-indexed=${(indexed -- direct).take(3)} only-direct=${(direct -- indexed).take(3)}")
    // the supersede rule must hold against the INDEX too: a re-ingested
    // id's stale bands may not self-pair or re-orient batch pairs
    val fullIndex = Dedup.minhashIndex(docs, n = 3, k = 32, bands = 16)
    val reingested = pairSet(Dedup.minhashDedupNewPairs(newDocs, docs,
      n = 3, k = 32, bands = 16, minJaccard = 0.5, corpusIndex = Some(fullIndex)))
    assert(!reingested.exists(p => p._1 == p._2), "self-pair from stale index rows")
    assert(reingested == direct, "superseded index rows changed the pair set")
    // params sidecar: round-trips, and the sidecar-driven probe equals
    // the explicit-parameter call (a call-site (n,k,bands) literal
    // disagreeing with the artifact silently candidates NOTHING — the
    // LSH-seed footgun's text twin; exhibit below)
    assert(Dedup.readMinhashIndexParams(spark, s"$dir/idx")
      .contains(Dedup.MinhashParams(3, 32, 16)), "minhash params sidecar did not round-trip")
    assert(pairSet(Dedup.minhashDedupNewPairsAt(spark, newDocs, corpus,
      s"$dir/idx", minJaccard = 0.5)) == direct)
    val mismatched = Dedup.minhashDedupNewPairs(newDocs, corpus,
      n = 4, k = 32, bands = 16, minJaccard = 0.5, corpusIndex = Some(reloaded))
    assert(!mismatched.collect().exists(p => p.getLong(1) % 10 != 0),
      "mismatched (n,k,bands) should find no corpus candidates — if this fires, the footgun exhibit is stale")
  }

  test("clusters: transitive chains merge, components match driver union-find, keep-one works") {
    import spark.implicits._
    // chain a~b, b~c with NO a~c pair, plus an isolated pair and a
    // singleton that appears in no pair at all
    val pairFixture = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairFixture).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L), got)
    // a 150-long chain (drifting versioned doc) needs pointer jumping:
    // plain neighbor-min propagation would take 150 > maxIter rounds
    val chain = (0L until 150L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainGot = Dedup.clusters(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chainGot.size == 151 && chainGot.values.forall(_ == 0L),
      s"chain did not collapse to one component: ${chainGot.filter(_._2 != 0L).take(5)}")
    // real fixture: components of the minhash pair graph == driver union-find
    val pairs = Dedup.minhashDedupPairs(docs, 3, 32, 16, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => id -> find(id)).toMap
    val dist = Dedup.clusters(Dedup.minhashDedupPairs(docs, 3, 32, 16, 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == expected,
      s"diff=${(dist.toSet diff expected.toSet).take(5)} / ${(expected.toSet diff dist.toSet).take(5)}")
    // keep-one composition: drops exactly the non-representative members
    val kept = Dedup.dropNearDuplicates(docs, Dedup.minhashDedupPairs(docs, 3, 32, 16, 0.5))
    val nonReps = expected.count { case (id, c) => id != c }
    assert(kept.count() == docs.count() - nonReps)
  }

  test("updateClusters == full rebuild: batch merges two old components, adds fresh nodes, singleton-safe") {
    import spark.implicits._
    // old graph: components {1,2,3} and {10,11}; batch pairs BRIDGE the
    // two (3~10), add a fresh node to an old one (11~20), and create a
    // brand-new component (30~31)
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val newPairs = Seq((3L, 10L), (11L, 20L), (30L, 31L)).toDF("id_a", "id_b")
    val labels = Dedup.clusters(oldPairs)
    val got = Dedup.updateClusters(labels, newPairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = Dedup.clusters(oldPairs.unionByName(newPairs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == full, s"update != rebuild: got=$got full=$full")
    assert(got(10L) == 1L && got(20L) == 1L && got(31L) == 30L, got)
    // empty batch: labeling survives unchanged through the label-edge round trip
    val noop = Dedup.updateClusters(labels, Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(noop == labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap, noop)
  }

  test("LSH index: reload == recompute; indexed incremental dedup and top-k == direct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toFile.getAbsolutePath
    // planted twins (cosine ~0.999) — the regime where hyperplane-LSH
    // recall is ~1, so the indexed path must equal the brute twin exactly
    val perturbed = emb.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    Similarity.writeLshIndex(emb, s"$dir/idx", dim = 64)
    val idx = Similarity.readLshIndex(spark, s"$dir/idx")
    def bucketRows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "table", "bucket", "norm").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(bucketRows(idx) == bucketRows(Similarity.lshIndex(emb, dim = 64)),
      "persisted LSH bucket rows drifted from a fresh recompute")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaIndex = pairs(Similarity.cosineDupPairsNewLsh(perturbed, idx,
      minSim = 0.95, dim = 64))
    val brute = pairs(Similarity.cosineDupPairsNew(perturbed, emb, minSim = 0.95))
    assert(brute.size >= 400, s"fixture: expected planted twin pairs, got ${brute.size}")
    assert(viaIndex == brute,
      s"only-idx=${(viaIndex -- brute).take(3)} only-brute=${(brute -- viaIndex).take(3)}")
    // ANN serving against the same artifact mechanism: identical output
    // to hashing the corpus inline (seedBase 1000L = the query planes)
    Similarity.writeLshIndex(emb, s"$dir/topk", dim = 64,
      bitsPerTable = 6, tables = 8, seedBase = 1000L)
    val q = emb.filter(col("vec_id") < 20)
    def topk(ci: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.lshTopK(q, emb, k = 5, dim = 64, bitsPerTable = 6, tables = 8,
          corpusIndex = ci)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(topk(Some(Similarity.readLshIndex(spark, s"$dir/topk"))) == topk(None),
      "indexed lshTopK diverged from the inline-hashed corpus")
  }

  test("bloom contamination upper-bounds exact contamination, tightly at low fpp") {
    val evalDocs = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    def byDoc(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_shingles", "n_contaminated").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = byDoc(Dedup.ngramContamination(evalDocs, corpus, 3))
    val approx = byDoc(Dedup.ngramContaminationApprox(evalDocs, corpus, 3, fpp = 0.01))
    assert(exact.nonEmpty && approx.keySet == exact.keySet)
    approx.foreach { case (id, (total, hits)) =>
      val (exTotal, exHits) = exact(id)
      assert(total == exTotal, s"doc $id shingle totals diverged")
      // one-sided error: bloom can only ADD false hits, never lose one
      assert(hits >= exHits && hits <= total, s"doc $id: approx $hits vs exact $exHits")
    }
    val extraRate = (approx.values.map(_._2).sum - exact.values.map(_._2).sum).toDouble /
      math.max(1L, exact.values.map(_._1).sum)
    assert(extraRate <= 0.05, s"false-positive inflation $extraRate exceeds 5%")
  }

  test("bloom-exact contamination == exact at any fpp (prefilter is lossless)") {
    val evalDocs = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_shingles", "n_contaminated", "contamination").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = rows(Dedup.ngramContamination(evalDocs, corpus, 3))
    assert(exact.nonEmpty)
    assert(rows(Dedup.ngramContaminationBloomExact(evalDocs, corpus, 3, fpp = 0.01)) == exact,
      "bloom-prefiltered exact contamination diverged from the exact scan")
    // even a deliberately terrible filter (fpp = 0.5, floods the verify
    // join with false positives) must not change the answer — the
    // verify semi-join, not the Bloom, decides membership
    assert(rows(Dedup.ngramContaminationBloomExact(evalDocs, corpus, 3, fpp = 0.5)) == exact,
      "a high-fpp Bloom leaked false positives past the verify join")
    // persisted-index probe: artifact feeds Bloom build AND verify side
    val dir = java.nio.file.Files.createTempDirectory("graft_contam_bx").toFile.getAbsolutePath
    Dedup.writeContaminationIndex(corpus, s"$dir/idx", n = 3)
    val idx = Dedup.readContaminationIndex(spark, s"$dir/idx")
    assert(rows(Dedup.ngramContaminationBloomExact(evalDocs, corpus, 3,
      corpusShingles = Some(idx))) == exact,
      "bloom-exact probe from the persisted index drifted")
  }

  test("semantic dedup: subset of brute pairs; planted twins share a cluster and are found") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = pairs(Similarity.semanticDupPairs(emb, minSim = 0.35, nCentroids = 16))
    val brute = pairs(Similarity.cosineDupPairs(emb, minSim = 0.35))
    assert(sem.nonEmpty && sem.subsetOf(brute),
      s"semantic pairs must be within-cluster brute pairs; spurious=${(sem -- brute).take(3)}")
    // the large-codebook scale path (broadcast join + min_by argmax over
    // the same rounded key) assigns identically
    assert(pairs(Similarity.semanticDupPairs(emb, minSim = 0.35, nCentroids = 16,
      joinAssign = true)) == sem, "join-based assignment diverged from the literal codebook")
    // IDENTICAL vectors provably share a centroid (same rounded sims,
    // same tie-break), so exact-duplicate recall is 1.0 — SemDeDup's
    // core promise; near-boundary NEAR-dups are its documented
    // trade-off, not asserted here
    val dups = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val dupPairs = pairs(Similarity.semanticDupPairs(dups, minSim = 0.9999, nCentroids = 16))
    val expected = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 100000L)).toSet
    assert(expected.subsetOf(dupPairs),
      s"exact duplicates split across clusters: missing=${(expected -- dupPairs).take(5)}")
  }

  test("trainCodebook: deterministic Lloyd's — exact integer state, total count, convergence direction") {
    val s1 = Similarity.trainCodebook(emb, k = 8, iters = 3).collect()
    val s2 = Similarity.trainCodebook(emb, k = 8, iters = 3).collect()
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq,
      "training is not run-deterministic")
    // every corpus vector is assigned somewhere: per-centroid counts sum
    // to the corpus size (read counts at pos 0 only)
    val n = emb.count()
    val counts = s1.filter(_.getLong(1) == 0L).map(r => r.getLong(0) -> r.getLong(3))
    assert(counts.map(_._2).sum == n, s"counts ${counts.toSeq} do not cover corpus $n")
    assert(counts.length <= 8 && counts.nonEmpty)
    // codebookVectors inverts the state: k vectors of the corpus dim
    val cb = Similarity.codebookVectors(
      Similarity.trainCodebook(emb, k = 8, iters = 3))
    val vecs = cb.collect()
    assert(vecs.length == counts.length &&
      vecs.forall(_.getSeq[Double](1).length == 64))
    // more iterations never worsen spherical k-means' objective
    // (mean assigned cosine, the quantity Lloyd's ascends)
    def objective(iters: Int): Double = {
      val state = Similarity.trainCodebook(emb, k = 8, iters = iters)
      val cbv = Similarity.codebookVectors(state)
        .select(col("centroid_id"), col("centroid"))
      val v = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("vec"))
      import graft.functions.GraftFunctions.graftDot
      v.crossJoin(broadcast(cbv))
        .withColumn("sim", graftDot(col("vec"), col("centroid")) /
          (sqrt(graftDot(col("vec"), col("vec"))) * sqrt(graftDot(col("centroid"), col("centroid")))))
        .groupBy("vec_id").agg(max(col("sim")).as("best"))
        .agg(avg("best")).collect()(0).getDouble(0)
    }
    val o1 = objective(1); val o3 = objective(3)
    assert(o3 >= o1 - 1e-9, s"objective regressed: iters=1 $o1 -> iters=3 $o3")
  }

  test("contamination index: persisted artifact probe == inline recompute, exact and bloom") {
    val dir = java.nio.file.Files.createTempDirectory("graft_contam").toFile.getAbsolutePath
    val evalDocs = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    Dedup.writeContaminationIndex(corpus, s"$dir/idx", n = 3)
    val idx = Dedup.readContaminationIndex(spark, s"$dir/idx")
    // the artifact IS the corpus-distinct shingle set
    assert(idx.count() == Dedup.contaminationIndex(corpus, 3).count())
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_shingles", "n_contaminated", "contamination").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = rows(Dedup.ngramContamination(evalDocs, corpus, 3))
    assert(inline.nonEmpty)
    assert(rows(Dedup.ngramContamination(evalDocs, corpus, 3,
      corpusShingles = Some(idx))) == inline,
      "persisted-index probe drifted from inline recompute")
    // bloom path built FROM the artifact keeps its one-sided guarantee
    val bloomIdx = Dedup.ngramContaminationApprox(evalDocs, corpus, 3, fpp = 0.01,
      corpusShingles = Some(idx))
      .select("doc_id", "n_contaminated").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val exactByDoc = inline.map(t => t._1 -> t._3).toMap
    assert(bloomIdx.keySet == exactByDoc.keySet)
    exactByDoc.foreach { case (id, ex) =>
      assert(bloomIdx(id) >= ex, s"bloom-from-index under-flagged doc $id")
    }
  }

  test("IVF index: reload == recompute; indexed ivfTopK == inline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toFile.getAbsolutePath
    Similarity.writeIvfIndex(emb, s"$dir/ivf", nCentroids = 16)
    val idx = Similarity.readIvfIndex(spark, s"$dir/ivf")
    val (cbFresh, listsFresh) = Similarity.ivfIndex(emb, nCentroids = 16)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(idx._1) == ids(cbFresh), "persisted codebook drifted from recompute")
    def assignments(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "centroid_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assignments(idx._2) == assignments(listsFresh),
      "persisted inverted lists drifted from recompute")
    val q = emb.filter(col("vec_id") < 20)
    def topk(ci: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]) =
      Similarity.ivfTopK(q, emb, k = 5, nCentroids = 16, nProbe = 6, corpusIndex = ci)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(topk(Some(idx)) == topk(None),
      "indexed ivfTopK diverged from the inline-assigned corpus")
  }

  test("PPJoin with broadcast df and a persisted df table == naive strategy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_df_table").toFile.getAbsolutePath
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5))
    val bcast = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5,
      prefixFilter = true, broadcastDf = true))
    assert(naive.nonEmpty)
    assert(bcast == naive,
      s"missing=${(naive -- bcast).take(5)} spurious=${(bcast -- naive).take(5)}")
    // cross-batch df reuse: persist the corpus-level (shingle, df) table
    // once, read it back, and feed it to the prefix stage
    Dedup.shingleDfTable(docs, 3).write.mode("overwrite").parquet(s"$dir/df")
    val reused = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5,
      prefixFilter = true, broadcastDf = true,
      dfTable = Some(spark.read.parquet(s"$dir/df"))))
    assert(reused == naive)
  }

  test("PPJoin with a SUBSET df table loses no pairs (stale-vocabulary conservatism)") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5))
    assert(naive.nonEmpty)
    // a df table missing ~half the vocabulary — the shape a persisted
    // corpus artifact takes against an ingest batch with NEW shingles.
    // The prefix stage left-joins and sorts unknown shingles last, so
    // this must only reorder rarity, never drop candidate rows.
    val half = Dedup.shingleDfTable(docs, 3)
      .filter(xxhash64(col("shingle")) % 2 === 0)
    for (bcast <- Seq(true, false)) {
      val got = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5,
        prefixFilter = true, broadcastDf = bcast, dfTable = Some(half)))
      assert(got == naive,
        s"bcast=$bcast missing=${(naive -- got).take(5)} spurious=${(got -- naive).take(5)}")
    }
    // degenerate case: an EMPTY df table (all shingles unknown) still
    // yields the exact pair set — pure tie-broken-by-shingle ordering
    val none = pairSet(Dedup.ngramJaccardPairs(docs, 3, 0.5,
      prefixFilter = true, broadcastDf = true,
      dfTable = Some(Dedup.shingleDfTable(docs, 3).limit(0))))
    assert(none == naive)
  }

  test("LSH index sidecar: params round-trip; one seedBase drives probe and index; lshTopKAt") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_seed").toFile.getAbsolutePath
    // a NON-default seed everywhere: before lshTopK took a seedBase, its
    // query side was hard-wired to 1000L and an index built with any
    // other seed silently joined nothing — this pins the fix
    val seed = 555L
    Similarity.writeLshIndex(emb, s"$dir/idx", dim = 64,
      bitsPerTable = 6, tables = 8, seedBase = seed)
    assert(Similarity.readLshIndexParams(spark, s"$dir/idx")
      .contains(Similarity.LshParams(64, 6, 8, seed)), "params sidecar did not round-trip")
    val q = emb.filter(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val inline = rows(Similarity.lshTopK(q, emb, k = 5, dim = 64,
      bitsPerTable = 6, tables = 8, seedBase = seed))
    assert(inline.nonEmpty)
    val indexed = rows(Similarity.lshTopK(q, emb, k = 5, dim = 64,
      bitsPerTable = 6, tables = 8,
      corpusIndex = Some(Similarity.readLshIndex(spark, s"$dir/idx")), seedBase = seed))
    assert(indexed == inline, "indexed probe with matching seed diverged from inline")
    // the footgun-free serving call: parameters come from the sidecar,
    // so no call-site literal can disagree with the index
    val auto = rows(Similarity.lshTopKAt(spark, q, k = 5, s"$dir/idx"))
    assert(auto == inline, "lshTopKAt (sidecar-driven) diverged from inline")
    // and the failure the fix removes: a MISMATCHED probe seed buckets
    // the sides with UNRELATED planes — at this bucket density the join
    // still matches (bucket values collide by chance), silently returning
    // RANDOM candidates; only parameter agreement (the sidecar) prevents it
    val mismatched = rows(Similarity.lshTopK(q, emb, k = 5, dim = 64,
      bitsPerTable = 6, tables = 8,
      corpusIndex = Some(Similarity.readLshIndex(spark, s"$dir/idx")), seedBase = 9999L))
    assert(mismatched != inline,
      "mismatched seeds happened to reproduce the true top-k; fixture can't pin the footgun")
  }

  test("line dedup: planted boilerplate removed everywhere, unique lines survive, df artifact reusable") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter"
    val fixture = Seq(
      (1L, s"alpha beta gamma\n$boiler\ndelta epsilon"),
      (2L, s"$boiler\nzeta eta"),
      (3L, s"theta iota\n$boiler"),
      (4L, "kappa lambda mu\nnu xi")).toDF("doc_id", "text")
    val lines = TextOps.linesBySeparator(fixture, "\n")
    val got = TextOps.dropBoilerplateLines(lines, minDf = 3, sep = "\n")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("alpha beta gamma\ndelta epsilon", 3L, 1L)))
    assert(got(2L) == (("zeta eta", 2L, 1L)))
    assert(got(3L) == (("theta iota", 2L, 1L)))
    assert(got(4L) == (("kappa lambda mu\nnu xi", 2L, 0L)), "unique lines must survive untouched")
    // every input doc keeps a row, even if fully boilerplate
    val allBoiler = Seq((1L, boiler), (2L, boiler), (3L, boiler)).toDF("doc_id", "text")
    val cleaned = TextOps.dropBoilerplateLines(
      TextOps.linesBySeparator(allBoiler, "\n"), minDf = 3, sep = "\n").collect()
    assert(cleaned.length == 3 && cleaned.forall(_.getString(1) == ""),
      "pure-boilerplate docs must survive as empty, not vanish")
    // persisted df artifact: reuse == recompute; a SUBSET table keeps
    // unknown lines (conservative: unknown = not boilerplate)
    val winLines = TextOps.linesByTokenWindow(docs, tokensPerLine = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val direct = rows(TextOps.dropBoilerplateLines(winLines, minDf = 3, sep = " "))
    assert(direct.exists(_._4 > 0), "fixture produced no boilerplate windows")
    val dfDir = java.nio.file.Files.createTempDirectory("graft_line_df").toFile.getAbsolutePath
    TextOps.lineDfTable(winLines).write.parquet(s"$dfDir/df")
    assert(rows(TextOps.dropBoilerplateLines(winLines, minDf = 3, sep = " ",
      dfTable = Some(spark.read.parquet(s"$dfDir/df")))) == direct)
    val subset = rows(TextOps.dropBoilerplateLines(winLines, minDf = 3, sep = " ",
      dfTable = Some(spark.read.parquet(s"$dfDir/df").filter(col("line_df") >= 2))))
    // subset drops only lines the table still marks boilerplate; docs
    // whose removed lines were all in the subset are unchanged
    assert(subset.map(_._1) == direct.map(_._1))
    assert(subset.forall { case (id, _, nl, nr) =>
      val d = direct.find(_._1 == id).get; nl == d._3 && nr <= d._4 })
  }

  test("repeated-span removal: cross-doc spans cut at any offset, within-doc repeats kept") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "alpha beta the quick brown fox jumps gamma delta"), // span at pos 2
      (2L, "the quick brown fox jumps over stuff"),             // same span at pos 0
      (3L, "foo bar foo bar foo bar foo bar foo bar"),          // WITHIN-doc only
      (4L, "tiny doc"),                                         // < n tokens
      (5L, "")).toDF("doc_id", "text")
    val got = TextOps.removeRepeatedSpans(fixture, n = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("alpha beta gamma delta", 9L, 5L)),
      s"mid-doc span not cut exactly: ${got(1L)}")
    assert(got(2L) == (("over stuff", 7L, 5L)), s"doc-start span not cut: ${got(2L)}")
    assert(got(3L) == (("foo bar foo bar foo bar foo bar foo bar", 10L, 0L)),
      "within-doc repetition must NOT be cut by the cross-doc operator")
    assert(got(4L) == (("tiny doc", 2L, 0L)), "short docs have no grams, pass through")
    assert(got(5L) == (("", 0L, 0L)), "empty doc survives as empty")
    // real fixture: near-dup docs share 5-gram spans, so removal is
    // non-trivial and every row survives
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val corpus = rows(TextOps.removeRepeatedSpans(docs, n = 5, minDocs = 2))
    assert(corpus.size == docs.count())
    assert(corpus.exists(_._4 > 0), "no cross-doc spans found on fixture")
    // persisted repeated-gram artifact: probe == recompute
    val dir = java.nio.file.Files.createTempDirectory("graft_span_grams").toFile.getAbsolutePath
    TextOps.repeatedGramTable(docs, n = 5, minDocs = 2).write.parquet(s"$dir/grams")
    assert(rows(TextOps.removeRepeatedSpans(docs, n = 5, minDocs = 2,
      repeatedGrams = Some(spark.read.parquet(s"$dir/grams")))) == corpus,
      "persisted repeated-gram probe drifted from inline recompute")
  }

  test("clusters converge in O(log diameter) rounds on a 2k path graph; checkpoint blocks bounded") {
    import spark.implicits._
    // adversarial long chain: 2001 nodes, diameter 2000 — plain
    // neighbor-min propagation needs 2000 rounds; pointer jumping
    // doubles reach per round, so ceil(log2(2000)) = 11 (+ slack for
    // the detect-no-change round and the first hop)
    val n = 2000L
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = spark.range(n).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, rounds) = Dedup.clustersWithRounds(chain.toDF())
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n + 1 && got.forall(_._2 == 0L),
      s"path did not collapse to one component rooted at 0")
    val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 3
    assert(rounds <= bound, s"pointer jumping regressed: $rounds rounds > log2-bound $bound")
    // each round unpersists the previous checkpoint, so live checkpoint
    // blocks stay O(1) — without it ~`rounds` RDDs would linger here
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"leaked checkpoint RDDs: $before -> $after over $rounds rounds")
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental exact pairs == full pair set restricted to batch-touching pairs") {
    val newDocs = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val full = pairRows(Dedup.ngramJaccardPairs(docs, 3, 0.5))
    val newIds = newDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = full.filter { case (a, b, _) => newIds(a) || newIds(b) }
    assert(expected.nonEmpty, "fixture produced no pairs touching the batch")
    assert(pairRows(Dedup.ngramJaccardNewPairs(newDocs, corpus, 3, 0.5)) == expected)
    // the un-broadcast twin (corpus-keyed exchange path) is identical
    assert(pairRows(Dedup.ngramJaccardNewPairs(newDocs, corpus, 3, 0.5,
      broadcastBatch = false)) == expected)
  }

  test("updatePairGraph folds a batch in == rebuild from scratch; supersede included") {
    import spark.implicits._
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_pg_upd").toFile.getAbsolutePath
    val p = s"$dir/pairs"
    Dedup.writePairGraph(base, p, n = 3, minJaccard = 0.5)
    Dedup.updatePairGraph(batch, base, p)
    assert(pairRows(Dedup.readPairGraph(spark, p)) ==
      pairRows(Dedup.ngramJaccardPairs(docs, 3, 0.5)),
      "update(base, batch) != rebuild(base + batch)")
    // sidecar params survive the swap
    assert(Dedup.readPairGraphParams(spark, p).contains(Dedup.PairGraphParams("jaccard", 3, 0.5)))
    // supersede: a re-ingested id with CHANGED text — its stale pairs
    // must drop and its new pairs appear
    val someId = batch.select("doc_id").orderBy("doc_id").limit(1).head.getLong(0)
    val changed = Seq((someId, "entirely new replacement words sharing nothing with anything"))
      .toDF("doc_id", "text")
    val currentCorpus = docs // someId's old row still rides along: supersede drops it
    Dedup.updatePairGraph(changed, currentCorpus, p)
    val afterDocs = docs.filter(col("doc_id") =!= someId)
      .select("doc_id", "text").unionByName(changed)
    assert(pairRows(Dedup.readPairGraph(spark, p)) ==
      pairRows(Dedup.ngramJaccardPairs(afterDocs, 3, 0.5)),
      "supersede: stale pairs of a re-ingested id survived the update")
  }

  test("forgetDocs purges every pair touching a taken-down id; live copy untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pg_forget").toFile.getAbsolutePath
    val live = s"$dir/live"; val scratch = s"$dir/scratch"
    Dedup.writePairGraph(docs, live, n = 3, minJaccard = 0.5)
    val beforeAll = pairRows(Dedup.readPairGraph(spark, live))
    Dedup.copyPairGraph(spark, live, scratch)
    val forgetIds = docs.filter(col("doc_id") % 11 === 7).select("doc_id")
    Dedup.forgetDocs(spark, scratch, forgetIds)
    val gone = forgetIds.collect().map(_.getLong(0)).toSet
    val got = pairRows(Dedup.readPairGraph(spark, scratch))
    assert(got == beforeAll.filterNot { case (a, b, _) => gone(a) || gone(b) })
    // == rebuild over the surviving corpus (pairs among survivors unchanged)
    assert(got == pairRows(Dedup.ngramJaccardPairs(
      docs.filter(col("doc_id") % 11 =!= 7), 3, 0.5)))
    // sidecar carried over; the live artifact kept everything
    assert(Dedup.readPairGraphParams(spark, scratch)
      .contains(Dedup.PairGraphParams("jaccard", 3, 0.5)))
    assert(pairRows(Dedup.readPairGraph(spark, live)) == beforeAll)
    // pure-policy twin agrees with the artifact path
    assert(pairRows(Dedup.forgetPairs(Dedup.readPairGraph(spark, live),
      forgetIds.toDF("doc_id"))) == got)
  }

  test("truncated rerank: saturation == exact; pool really comes from the prefix space") {
    def ranks(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "sim", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val q = emb.filter(col("vec_id") < 20)
    // saturation limit: a corpus-sized candidate pool makes the rerank
    // unconditionally exact, whatever the embedding distribution
    val exact = ranks(Similarity.bruteForceTopK(q, emb, k = 5))
    assert(ranks(Similarity.truncatedRerankTopK(q, emb, k = 5, dPrime = 16,
      candidates = emb.count().toInt)) == exact,
      "saturated rerank drifted from brute force")
    // at serving parameters every result must come from the truncated
    // top-64 pool, reranked by FULL-width sim (composition semantics;
    // cross-engine the s10 oracle replays both stages)
    val pool = Similarity.truncatedTopK(q, emb, k = 64, dPrime = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = Similarity.truncatedRerankTopK(q, emb, k = 5, dPrime = 16, candidates = 64)
    assert(served.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).forall(pool),
      "rerank surfaced a neighbor outside its candidate pool")
    // full-width sims, descending per query (the rerank really re-scored)
    val perQuery = served.select("query_id", "sim", "rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1).values
    assert(perQuery.forall(rows =>
      rows.sortBy(_._3).map(_._2).sliding(2).forall(p => p.head >= p.last)))
    // a candidate pool below k is a caller bug, loudly
    intercept[IllegalArgumentException] {
      Similarity.truncatedRerankTopK(q, emb, k = 5, dPrime = 16, candidates = 4)
    }
  }

  test("noveltyScores: first occurrence gets full credit, an exact later copy gets zero") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"),      // all 4 shingles first seen here
      (2L, "a b c d e f"),      // exact copy — zero novelty
      (3L, "x y z a b c"),      // 4 shingles: "x y z","y z a","z a b" new, "a b c" seen
      (4L, "p q")               // short doc: one 2-word shingle, novel
    ).toDF("doc_id", "text")
    val got = Dedup.noveltyScores(d, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 4L, 1.0)))
    assert(got(2L) == ((4L, 0L, 0.0)))
    assert(got(3L) == ((4L, 3L, 0.75)))
    assert(got(4L) == ((1L, 1L, 1.0)))
    // totality: every doc scored, novel counts partition the distinct
    // shingle universe (each distinct shingle credited exactly once)
    val docs500 = docs
    val scores = Dedup.noveltyScores(docs500, n = 3)
    assert(scores.count() == docs500.count())
    val universe = docs500.select(explode(
      graft.functions.GraftFunctions.graftShingles(col("text"), 3)).as("s"))
      .distinct().count()
    assert(scores.agg(sum("n_novel")).head.getLong(0) == universe,
      "every distinct shingle must be credited to exactly one (first) doc")
  }
}
