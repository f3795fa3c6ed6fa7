package graft.queries

import graft.Tables
import graft.ext.{Dedup, Fuzzy, Similarity, TextOps, UrlOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Num.round6

/** LLM-pipeline operator surface: dedup family, similarity search, text
  * analysis, JSON/event-window queries. Every SQL-expressible operator
  * has a DuckDB oracle; engine-specific ones (xxhash64-based MinHash /
  * SimHash / fingerprints, heuristic language-ID, LSH ANN) are
  * registered rows-only and verified by ScalaTest invariants instead
  * (recall vs the exact operator, determinism, accuracy).
  */
object Pipeline {

  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(spark, dir))
      .select(col("keep_id"), col("dup_cnt"))
      .orderBy(col("keep_id"))

  def d02NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), n = 3, minJaccard = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** PPJoin prefix-filter strategy of [[Dedup.ngramJaccardPairs]] — the
    * zipfian-text scale path — under the SAME oracle as d02: both
    * strategies must produce bit-identical pair sets. The fixture's
    * vocabulary is modest, so the registered query takes the
    * broadcast-df fast path (the df table broadcasts instead of
    * shuffling the exploded shingles through a sort-merge join; see
    * [[Dedup.prefixStage]]) — the shuffle-df path stays pinned equal in
    * ExtSpec.
    */
  def d09NgramJaccardPpjoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), n = 3, minJaccard = 0.5,
        prefixFilter = true, broadcastDf = true)
      .orderBy(col("id_a"), col("id_b"))

  def d03MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedupPairs(Tables.documents(spark, dir), n = 3, k = 32, bands = 16,
        minJaccard = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** The SCALE-SAFE minhash banding under the same exact-Jaccard
    * oracle as d03: bands=8 → 4 rows/band. The d03 gate tuning
    * (2 rows/band) maximizes recall at j ≥ 0.5 but collides low-J
    * boilerplate at ~s² per band — the pair_probe arm measures it
    * super-linear (per-row ratio > 1) on a ×10 zipfian corpus, i.e.
    * the parameterization you could NOT run at 100×. Four-row bands
    * collide the same tail at ~s⁴ and measure sub-linear (~0.4); on
    * the fixtures LSH recall at j ≥ 0.5 is still 1 (wide-band
    * candidates ⊇ every true pair — verified: d21 hashes equal to the
    * exact-pair oracle), so the SAME oracle applies and banding width
    * is demonstrated as the 100 TB lever, not a recall trade the gate
    * can't see.
    */
  def d21MinhashWide(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedupPairs(Tables.documents(spark, dir), n = 3, k = 32, bands = 8,
        minJaccard = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** The persisted pair-graph ARTIFACT itself under the oracle gate:
    * [[Dedup.writePairGraph]] on first use in this process, read back
    * and returned — DuckDB recomputes the pair set from the base
    * table, so artifact == recompute is pinned cross-engine (the
    * parquet round-trip of the rounded doubles included). d11 / d19 /
    * d20 / g01 / g02 consume this same artifact instead of re-deriving
    * the shingle → inverted-index → verify chain per query — at corpus
    * scale the pair graph is computed once per snapshot and every
    * downstream policy reads it.
    */
  def d22PairGraph(spark: SparkSession, dir: String): DataFrame =
    jaccardPairGraph(spark, dir)
      .orderBy(col("id_a"), col("id_b"))

  /** Incremental pair-graph maintenance under the oracle gate
    * ([[Dedup.updatePairGraph]]): docs with doc_id % 10 == 0 play the
    * ingest batch, the rest the base snapshot. Once per process: build
    * the BASE artifact, then fold the batch in — only batch-touching
    * pairs are computed ([[Dedup.ngramJaccardNewPairs]], broadcast
    * batch shingles, nothing corpus-sized shuffles) and the result
    * lands via the fuse-guarded atomic swap. The returned artifact must
    * hash-equal DuckDB's from-scratch pair set over the FULL corpus —
    * `update(base, batch) == rebuild(base ⊎ batch)` pinned
    * cross-engine, parquet round-trip and swap lifecycle included. At
    * 100 TB this is how the pair graph actually evolves: a daily crawl
    * is folded in at batch × fan-in cost, never corpus² again.
    */
  def d23PairGraphUpdate(spark: SparkSession, dir: String): DataFrame = {
    val path = pairGraphDir.computeIfAbsent((dir, "jaccard_incr"), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_pair_graph")
        .toFile.getAbsolutePath + "/pairs"
      val docs = Tables.documents(spark, dir)
      Dedup.writePairGraph(docs.filter(col("doc_id") % 10 =!= 0), p, n = 3, minJaccard = 0.5)
      Dedup.updatePairGraph(docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), p)
      p
    })
    Dedup.readPairGraph(spark, path).orderBy(col("id_a"), col("id_b"))
  }

  /** Deletion propagation under the oracle gate ([[Dedup.forgetDocs]]):
    * docs with doc_id % 11 == 7 are taken down, and the pair-graph
    * artifact must forget every pair that mentions them — a corpus
    * artifact otherwise retains signal about deleted content. Once per
    * process: seed a scratch copy of the shared artifact
    * ([[Dedup.copyPairGraph]] — the live graph d11/d19/d20/g01/g02
    * read stays untouched), purge via the fuse-guarded swap, read
    * back. DuckDB recomputes the pair set over the surviving corpus,
    * so `forget(artifact, ids) == rebuild(corpus minus ids)` is pinned
    * cross-engine.
    */
  def d24PairGraphForget(spark: SparkSession, dir: String): DataFrame = {
    jaccardPairGraph(spark, dir) // materialize the shared artifact FIRST
    // (outside the computeIfAbsent below — same-map recursive updates
    // are illegal on ConcurrentHashMap)
    val shared = pairGraphDir.get((dir, "jaccard"))
    val path = pairGraphDir.computeIfAbsent((dir, "jaccard_forget"), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_pair_graph")
        .toFile.getAbsolutePath + "/pairs"
      Dedup.copyPairGraph(spark, shared, p)
      Dedup.forgetDocs(spark, p,
        Tables.documents(spark, dir).filter(col("doc_id") % 11 === 7))
      p
    })
    Dedup.readPairGraph(spark, path).orderBy(col("id_a"), col("id_b"))
  }

  /** Corpus snapshot diff ([[Dedup.corpusDiff]]): the operator that
    * drives the whole artifact lifecycle — `added ∪ changed` is the
    * ingest batch d23 folds in, `removed` the takedown set d24
    * propagates. Snapshot B is derived deterministically from the
    * fixture (both engines regenerate it): doc_id % 7 == 3 rows
    * dropped, % 5 == 0 texts amended, % 13 == 0 re-added under new
    * ids. Output is the non-trivial diff rows.
    */
  def d25CorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val after = docs.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" amended")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.corpusDiff(docs, after)
      .filter(col("status") =!= "unchanged")
      .orderBy(col("doc_id"))
  }

  /** Corpus-overlap estimation from KMV sketches ([[Approx.kmvSketch]] /
    * [[Approx.kmvOverlap]]): distinct / union / intersection / Jaccard
    * estimates between snapshot A (the documents fixture) and the
    * deterministically-derived snapshot B (d25's rules) — the
    * sketch-sized answer to the question d25 answers with a full outer
    * join. The 60-bit md5-derived hash makes every estimate a pure
    * integer function of the input, so the ESTIMATES THEMSELVES
    * hash-gate against DuckDB replaying the same k-minimum-values
    * construction (unlike HLL, whose register layout is
    * engine-internal — q28a is rows-only for exactly that reason).
    */
  def d26KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 128
    val docs = Tables.documents(spark, dir)
    val after = docs.filter(col("doc_id") % 7 =!= 3)
      .select(
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" amended")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0).select(col("text")))
    graft.ops.Approx.kmvOverlap(
      graft.ops.Approx.kmvSketch(docs, col("text"), k),
      graft.ops.Approx.kmvSketch(after, col("text"), k), k)
  }

  /** The part catalog as entity-resolution fixture material:
    * `p_name-p_brand-p_size` (≈19–23 chars, diverse enough that edit
    * distance is non-degenerate — supplier/customer names differ only
    * in sequential digits, putting EVERY pair within distance 2), plus
    * a deterministically-corrupted "scraped" side: every third part's
    * string with one character deleted at an md5-derived position
    * (both engines regenerate the corruption bit-identically).
    */
  private def fuzzyCatalog(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cat = Tables.part(spark, dir).select(col("p_partkey").as("id"),
      concat(col("p_name"), lit("-"), col("p_brand"), lit("-"),
        col("p_size").cast("string")).as("s"))
    val pos = (conv(substring(md5(col("s")), 1, 4), 16, 10).cast("long")
      % length(col("s"))).cast("int")
    // the dirty side is a FIXED-size ingest batch (absolute id cutoff,
    // not a fraction of the catalog): an ingest batch doesn't grow with
    // the corpus, and the fuzzy family's cost model is batch×candidates
    // — a proportional batch made the whole family quadratic in SF
    // (measured 18-72 s/query at sf0.1 before the cap)
    val dirty = cat.filter(col("id") % 3 === 0 && col("id") < 2000)
      .select(col("id"),
        concat(col("s").substr(lit(1), pos),
          col("s").substr(pos + lit(2), length(col("s")))).as("s"))
    (dirty, cat)
  }

  /** Edit-distance pair join ([[Fuzzy.fuzzyJoin]]): ALL
    * (dirty, catalog) pairs within levenshtein 2, found via the
    * Ed-Join rare-gram prefix filter — the oracle's unfiltered
    * cross-join replay gates COMPLETENESS of the pruning (a lost
    * candidate is a missing row, not a slow query).
    */
  def d27FuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    val (dirty, cat) = fuzzyCatalog(spark, dir)
    Fuzzy.fuzzyJoin(dirty, cat, maxDist = 2)
      .withColumn("dist", col("dist").cast("long"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The d27 pair set as a per-process persisted artifact — the
    * pair-graph convention (d22/g01/d11) applied to the fuzzy family:
    * the Ed-Join is the single most expensive stage of the
    * record-linkage chain, computed once per catalog snapshot and
    * consumed by every downstream policy (d28 best-match, d30
    * re-rank). d27 keeps the from-scratch registration so the pruning
    * strategy stays measured; the policies read the artifact.
    */
  private def fuzzyPairSet(spark: SparkSession, dir: String): DataFrame = {
    val path = pairGraphDir.computeIfAbsent((dir, "fuzzy_pairs"), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_fuzzy_pairs")
        .toFile.getAbsolutePath + "/pairs"
      val (dirty, cat) = fuzzyCatalog(spark, dir)
      Fuzzy.fuzzyJoin(dirty, cat, maxDist = 2)
        .repartition(col("id_a"))
        .write.mode("overwrite").parquet(p)
      p
    })
    spark.read.parquet(path)
  }

  /** Entity resolution ([[Fuzzy.entityMatchFrom]] over the persisted
    * d27 pair artifact): each corrupted record's best catalog match
    * (min distance, ties by catalog id) plus its candidate count —
    * the canonical-id assignment step of catalog reconciliation. The
    * policy runs at candidate cardinality off the artifact; the
    * oracle replays the whole chain from scratch, so the artifact
    * round trip is inside the hash gate.
    */
  def d28EntityMatch(spark: SparkSession, dir: String): DataFrame =
    Fuzzy.entityMatchFrom(fuzzyPairSet(spark, dir))
      .withColumn("dist", col("dist").cast("long"))
      .orderBy(col("id_a"))

  /** The d27 pair set served from the PERSISTED catalog index
    * ([[Fuzzy.writeCatalogIndex]] / [[Fuzzy.fuzzyJoinIndexed]]): built
    * once per process, probed thereafter — batch prefixes rank under
    * the index's stored df order and the catalog is never re-grammed.
    * Gated by the SAME unfiltered cross-join oracle as d27, so
    * `serve(index) == from-scratch` hash-matches cross-engine.
    */
  def d29FuzzyIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (dirty, cat) = fuzzyCatalog(spark, dir)
    val path = pairGraphDir.computeIfAbsent((dir, "fuzzy_catalog"), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_fuzzy_idx")
        .toFile.getAbsolutePath + "/catalog"
      Fuzzy.writeCatalogIndex(cat, p, maxDist = 2)
      p
    })
    Fuzzy.fuzzyJoinIndexed(spark, dirty, path)
      .withColumn("dist", col("dist").cast("long"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Jaro-Winkler re-ranking of the d27 candidate pool
    * ([[graft.functions.JaroWinklerSim]] — a native codegen Expression;
    * Spark has no built-in): edit distance is a coarse tie-maker
    * (every single-char corruption is dist 1 from many catalog
    * entries), JW's transposition tolerance + common-prefix boost
    * breaks those ties the way record-linkage systems actually rank.
    * Scores round(6) BEFORE the ranking in BOTH engines (the s11
    * round-before-decide convention), so the winner is a pure function
    * of the rounded score and the hash gate covers the Expression's
    * DuckDB-exact semantics over every candidate pair.
    */
  def d30JwRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (dirty, cat) = fuzzyCatalog(spark, dir)
    // candidates come from the persisted d27 pair artifact (the
    // pair-graph consumer convention); only candidate-sized rows join
    // back to the strings for the JW pass
    val pairs = fuzzyPairSet(spark, dir)
      .join(dirty.select(col("id").as("id_a"), col("s").as("_sa")), "id_a")
      .join(cat.select(col("id").as("id_b"), col("s").as("_sb")), "id_b")
      .withColumn("jw", round6(graft.functions.GraftFunctions.graftJaroWinkler(col("_sa"), col("_sb"))))
    pairs
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("id_a")).orderBy(col("jw").desc, col("id_b"))))
      .filter(col("_rn") === 1)
      .select(col("id_a"), col("id_b").as("match_id"), col("jw"))
      .orderBy(col("id_a"))
  }

  def d04SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash PAIRING machinery under the oracle gate
    * ([[Dedup.simhashPairsMd5]]): banding join + Hamming verify over the
    * 32-bit md5 fingerprint d07 already gates — DuckDB recomputes the
    * fingerprints and replays the pair set with `bit_count(xor(...))`.
    * d04 (the 64-bit xxhash64 scale default) is ALSO fully oracled now
    * via the generated XXH64 CTE ([[Xxh64Sql]]); this md5 twin stays as
    * the simpler independent cross-check of the pairing machinery.
    */
  def d10SimhashPairsMd5(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsMd5(Tables.documents(spark, dir), maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Near-dup clusters from the exact pair graph
    * ([[Dedup.clusters]]): distributed min-label propagation, gated
    * against DuckDB computing the same components by recursive
    * transitive closure — transitivity (a~b, b~c ⇒ one cluster even
    * without an a~c pair) is exactly what the pairwise gates can't see.
    */
  def d11DedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusters(jaccardPairGraph(spark, dir))
      .orderBy(col("id"))

  /** The END-TO-END near-dup removal a pipeline actually ships
    * ([[Dedup.dropNearDuplicates]]): pairs → connected components →
    * drop every non-representative member, singletons untouched. The
    * oracle replays the full composition (recursive-CTE components +
    * min-id keep policy + anti-join) — gating the surviving CORPUS,
    * not just the pair/cluster intermediates d02/d11 already pin.
    */
  def d19ClusterDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.dropNearDuplicates(docs, jaccardPairGraph(spark, dir))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Quality-aware cluster manifest ([[Dedup.clusterRepresentatives]]):
    * one representative per near-dup cluster — most tokens wins, ties
    * to the smallest id — plus the cluster size. All-integer output, so
    * the keep-the-best-copy POLICY itself sits under the hash gate.
    */
  def d20ClusterReps(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.clusterRepresentatives(docs, jaccardPairGraph(spark, dir))
      .orderBy(col("cluster_id"))
  }

  def d05EmbeddingDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairs(Tables.embeddings(spark, dir), minSim = 0.35)
      .orderBy(col("id_a"), col("id_b"))

  /** Incremental embedding dedup ([[Similarity.cosineDupPairsNew]]):
    * vec_id % 10 == 0 plays the incoming batch, the rest the corpus —
    * the oracle re-derives exactly the batch-touching pair set.
    */
  def d08EmbeddingDupsNew(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.cosineDupPairsNew(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0), minSim = 0.35)
      .orderBy(col("id_a"), col("id_b"))
  }

  def s01SimTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Metadata-filtered vector search ([[Similarity.filteredTopK]]):
    * top-5 among same-LABEL candidates only — the label equi-join
    * prunes before any similarity math (pre-filter semantics, never an
    * under-filled post-filter). Oracle replays the label-constrained
    * exact top-k.
    */
  def s08FilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.filteredTopK(emb.filter(col("vec_id") < 20), emb, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Truncated-dimension (Matryoshka) serving
    * ([[Similarity.truncatedTopK]]): exact top-5 in the 16-dim prefix
    * space — the oracle slices the same prefix in SQL, so the d′-dim
    * scoring (the cheap first stage of coarse-to-fine serving, d′/d of
    * the flops and bytes) sits fully under the hash gate.
    */
  def s09TruncTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.truncatedTopK(emb.filter(col("vec_id") < 20), emb, k = 5, dPrime = 16)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Truncated-then-rerank two-stage serving
    * ([[Similarity.truncatedRerankTopK]]): 64 candidates ranked in the
    * 16-dim prefix, exact full-width rerank to top-5. The oracle
    * replays the two-stage algorithm itself (sliced-space top-64, then
    * full-width rerank of just those candidates), so BOTH stages —
    * candidate selection tie order included — sit under the hash gate
    * with no recall assumption about the embedding distribution.
    * (Recall vs the exact top-k is a property of the embeddings being
    * prefix-trained, which the synthetic fixtures are not; the
    * saturation limit `candidates == |corpus|` == exact is pinned in
    * ExtSpec.)
    */
  def s10TruncRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.truncatedRerankTopK(emb.filter(col("vec_id") < 20), emb,
        k = 5, dPrime = 16, candidates = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact top-5 (query_id, neighbor_id) set shared by the two ANN
    * recall gates — [[Similarity.bruteForceTopK]], the surface s01
    * already proves hash-identical to the DuckDB exact top-k.
    */
  private def exactTop5Pairs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 20)
    (q, Similarity.bruteForceTopK(q, emb, k = 5).select(col("query_id"), col("neighbor_id")))
  }

  /** Recall@5 of hyperplane-LSH ANN vs the exact top-k, per query — the
    * oracle-gated twin of the realistic-parameter [[s02LshTopK]] path
    * (which stays spec-gated in ExtSpec). Seeded hyperplanes make the
    * approximate set deterministic, and at these RECALL-SATURATING
    * parameters (2 bits → 4 buckets/table, 32 tables: a true neighbor
    * pair must land in different half-spaces of both planes in all 32
    * tables to be missed) recall is exactly 1.0 on the fixture — so the
    * DuckDB oracle can replay the whole query as exact-top-k joined
    * against itself (the d03 pattern: approx == exact at gate
    * parameters ⇒ the exact oracle applies). Any plumbing regression in
    * bucketing, probing, or ranking that drops a single true pair
    * breaks the 1.0 and fails the row.
    */
  def s02LshRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (q, exact) = exactTop5Pairs(spark, dir)
    val approx = Similarity.lshTopK(q, emb, k = 5, dim = 64,
        bitsPerTable = 2, tables = 32)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg((count(lit(1)) / 5.0).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Recall@5 of IVF ANN vs the exact top-k, per query. nProbe =
    * nCentroids probes EVERY inverted list, so the candidate set is the
    * full corpus and recall is structurally 1.0 — the gate pins the
    * end-to-end IVF machinery (argmax list assignment with its
    * tie-breaking, probe explode, candidate join emitting each pair
    * exactly once, TopKPerKey ranking) as equivalent to brute force,
    * the invariant full-probe IVF must satisfy. Partial-probe recall
    * (the actual scale trade-off) stays spec-gated in ExtSpec.
    */
  def s03IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (q, exact) = exactTop5Pairs(spark, dir)
    val approx = Similarity.ivfTopK(q, emb, k = 5, nCentroids = 16, nProbe = 16)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg((count(lit(1)) / 5.0).as("recall"))
      .orderBy(col("query_id"))
  }

  /** SemDeDup under the gate ([[Similarity.semanticDupPairs]]): the
    * oracle recomputes the md5-ordered codebook, the rounded argmax
    * cluster assignment (ties to the smallest centroid id — the same
    * (−sim, id) order both sides), the within-cluster pairing, and the
    * exact-cosine threshold — so the CLUSTERING itself sits under the
    * hash gate, not just the pairwise math d05 already pins.
    */
  def s04SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDupPairs(Tables.embeddings(spark, dir),
        minSim = 0.35, nCentroids = 16)
      .orderBy(col("id_a"), col("id_b"))

  /** Spherical k-means codebook training
    * ([[Similarity.trainCodebook]]): md5-seeded, rounded-cosine
    * assignment, exact integer micro-sum centroid state — so three
    * full Lloyd's iterations, argmax included, replay in SQL and the
    * gate compares INTEGERS only.
    */
  def s05KmeansCodebook(spark: SparkSession, dir: String): DataFrame =
    Similarity.trainCodebook(Tables.embeddings(spark, dir), k = 8, iters = 3)
      .orderBy(col("centroid_id"), col("pos"))

  /** Product-quantization codes ([[Similarity.pqTrain]] +
    * [[Similarity.pqEncode]]): two fused Lloyd's iterations per
    * subspace (m = 4 × 16 dims, k = 8) then per-subspace
    * rounded-argmax encoding. The gate output is integers only
    * (vec_id, sub, code); the oracle replays seeds, both training
    * iterations, and the final encode in every subspace as a
    * generated CTE chain — the s05 proof shape lifted to the PQ
    * decomposition.
    */
  def s06PqCodes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqEncode(emb, Similarity.pqTrain(emb, m = 4, k = 8, iters = 2))
      .orderBy(col("vec_id"), col("sub"))
  }

  /** IVF-PQ composite index build ([[Similarity.ivfPqCodes]]): the
    * FAISS IndexIVFPQ layout — every vector carries its coarse
    * inverted-list assignment AND its per-subspace PQ codes in one
    * integer table. The oracle composes the s06 PQ replay with the s04
    * coarse-assignment replay, so the composite build (both quantizers
    * plus their interaction on the same corpus) sits under one hash
    * gate; serving ([[Similarity.ivfPqTopK]] — probe nProbe lists,
    * ADC-score only their codes) is pinned against [[Similarity.pqTopK]]
    * in ExtSpec at full probe width.
    */
  def s21IvfPqCodes(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqCodes(Tables.embeddings(spark, dir),
        nLists = 16, m = 4, k = 8, iters = 2)
      .orderBy(col("vec_id"), col("sub"))

  /** Asymmetric containment pairs ([[Dedup.ngramContainmentPairs]]) —
    * the quote/inclusion detector Jaccard misses: a doc mostly
    * contained in another survives on EITHER direction's ratio. Same
    * exact-pair machinery as d02, different normalizer; the oracle
    * reuses the shared shingle CTEs with per-side divisions.
    */
  def d13Containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(Tables.documents(spark, dir), n = 3,
        minContainment = 0.6)
      .orderBy(col("id_a"), col("id_b"))

  /** Containment-drop curation policy ([[Dedup.dropContained]]) over
    * the d13 pair set: contained docs go, supersets stay, near-equal
    * pairs keep the smallest id; the oracle recomputes drops from the
    * shared shingle CTEs with the same per-pair CASE. The pairs come
    * from the persisted containment pair graph (built once per process
    * with the asymmetric PPJoin prefix strategy — see
    * [[containmentPairGraph]]), so the registered query measures the
    * POLICY cost, not a per-consumer recompute of the pair set.
    */
  def d14DropContained(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.dropContained(docs, containmentPairGraph(spark, dir), 0.6)
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** Integer PageRank ([[graft.ops.Graph.pageRank]], 3 iterations) over
    * the symmetric n-gram-Jaccard similarity graph — "which documents
    * sit at the center of a near-duplicate neighborhood" (the curation
    * signal for picking cluster representatives). Micro-unit integer
    * ranks make every iteration exact cross-engine; the oracle chains
    * the same d02 jpairs CTEs into three unrolled rank updates.
    */
  def g01PageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir).select("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    graft.ops.Graph.pageRank(docs.select(col("doc_id").as("id")), edges, iters = 3)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end crawl-graph PageRank: HTML pages → harvested links
    * (t48's [[TextOps.htmlLinks]] + canonicalize/registrable-domain
    * chain) → DOMAIN-level weighted edge list (page domain → target
    * domain, weight = link count) →
    * [[graft.ops.Graph.pageRankWeighted]]. This is the composition a
    * crawl pipeline actually runs to rank its frontier: the same
    * injected page fixture as t51 plus a deterministic page-domain
    * formula, so the oracle replays harvesting, canonicalization, the
    * rollup to edges, AND all three integer rank iterations. Scale
    * shape: the harvest is one narrow projection per page; everything
    * after the (page domain, target domain) rollup operates at DOMAIN
    * cardinality — millions of nodes for a 100 TB crawl, not billions
    * of pages — which is what makes web-graph centrality tractable.
    */
  def g10DomainPagerank(spark: SparkSession, dir: String): DataFrame =
    domainRanks(Tables.documents(spark, dir)).orderBy(col("domain"))

  /** The g10 rank table without the presentation sort, factored for
    * the t55 frontier composition's authority join.
    */
  def domainRanks(docs: DataFrame): DataFrame = {
    // harvest ONCE: edges and nodes both consume `pairs`, and
    // pageRankWeighted materializes each eagerly — without the
    // checkpoint the documents scan + href harvest re-evaluates in
    // every one of those jobs (r16: g10's plan carried 16 scans)
    val pairs = syntheticPageLinkDomains(docs).localCheckpoint()
    val edges = pairs
      .groupBy(col("page_domain").as("src"), col("domain").as("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
    val nodes = pairs.select(col("page_domain").as("id"))
      .unionByName(pairs.select(col("domain").as("id"))).distinct()
    val ranks = graft.ops.Graph.pageRankWeighted(nodes, edges, iters = 3)
      .select(col("id").as("domain"), col("rank"))
    // the operator checkpointed its edge/id inputs eagerly — the
    // harvest blocks are dead weight from here
    graft.ops.Blocks.free(pairs)
    ranks
  }

  /** The g10 fixture chain, factored for reuse by the bench probe:
    * inject the t51 page skeleton + a deterministic page-domain
    * formula, harvest hrefs, canonicalize, and emit one
    * (page_domain, domain) row per harvested link.
    */
  def syntheticPageLinkDomains(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val url1 = concat(lit("https://"),
      when(pmod(d, lit(4)) === 0, lit("www.")).otherwise(lit("")),
      lit("site"), pmod(d, lit(23)).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (pmod(d, lit(3)) + 1).cast("int")),
      when(pmod(d, lit(5)) === 0, lit(":443")).otherwise(lit("")),
      lit("/a/"), d,
      when(pmod(d, lit(2)) === 0, lit("?utm_source=feed&q=1"))
        .otherwise(lit("?q=1")))
    val url2 = concat(lit("HTTP://site"), pmod(d, lit(7)).cast("string"),
      lit(".com:80/b/"), d, lit("#frag"))
    // same messy-attribute anchors as [[syntheticHarvestedLinks]] —
    // the two harvest fixtures stay identical so the t55 composition's
    // rank join sees the domains its own links produce
    val url3 = concat(lit("https://site"), pmod(d, lit(11)).cast("string"),
      lit(".org/c/"), d)
    val url4 = concat(lit("HTTPS://WWW.Site"), pmod(d, lit(13)).cast("string"),
      lit(".NET/d/"), d, lit("?utm_x=1&z="), pmod(d, lit(3)).cast("string"))
    val html = concat(
      lit("<html><body><p>intro</p><a class=\"x\" href=\""), url1,
      lit("\">one</a><p>mid</p><a HREF = \""), url2,
      lit("\">two</a><a href='"), url3,
      lit("'>three</a><a href="), url4,
      lit(" class=z>four</a><a href=\"\">anchor</a></body></html>"))
    val pageDomain = concat(lit("site"), pmod(d, lit(13)).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (pmod(d, lit(3)) + 1).cast("int")))
    val links = docs
      .select(d, pageDomain.as("page_domain"),
        explode(TextOps.htmlLinks(html)).as("href"))
      .filter(col("href") =!= "")
    val canon = graft.ext.UrlOps.canonicalizeUrl(col("href"))
    links.select(col("page_domain"),
      graft.ext.UrlOps.registrableDomain(canon).as("domain"))
  }

  /** Weighted PageRank ([[graft.ops.Graph.pageRankWeighted]]) over the
    * persisted pair graph with Jaccard-micro edge weights: a strong
    * near-duplicate pulls proportionally more of its partner's
    * centrality than a borderline pair — the similarity-graph
    * centrality a curation policy actually wants (g01 is the uniform
    * twin). Weights are `round(jaccard·10⁶)` off the artifact's
    * rounded-6 similarity, so both engines derive identical integers;
    * the whole iteration trajectory is integer arithmetic and the
    * oracle replays it (weighted contributions, 85/100 damping) from
    * the same from-scratch pair set.
    */
  def g03PageRankWeighted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir)
      .select(col("id_a"), col("id_b"),
        expr("CAST(round(jaccard * 1000000) AS BIGINT)").as("w"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("w"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("w")))
    graft.ops.Graph.pageRankWeighted(docs.select(col("doc_id").as("id")),
        edges, iters = 3)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** Convergence-run PageRank ([[graft.ops.Graph.pageRankConverged]],
    * tolMicros = 0) over the persisted pair graph — g01's twin at the
    * DETECTED integer fixpoint instead of a guessed iters, with the
    * executed round count emitted on every row so the STOPPING DECISION
    * itself hash-gates (the r12 verdict's iteration-contract ask made
    * an oracle-gated query, not just a spec). The oracle unrolls the
    * recurrence to the same cap — rounds past the fixpoint of a
    * deterministic map are no-ops, so running to the cap and then
    * selecting the FIRST stable round (and its index) replays early
    * stopping exactly, including the cap-hit case where no round ≤ cap
    * is stable (both engines then emit the cap's ranks and count). On
    * the near-clique pair graph the fixpoint lands in ~2 rounds —
    * symmetric neighborhoods make integer floors settle immediately —
    * which is itself the measured argument that fixed iters=3 (g01)
    * over-pays on this graph shape.
    */
  def g08PageRankConverged(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir).select("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val (ranks, rounds) = graft.ops.Graph.pageRankConverged(
      docs.select(col("doc_id").as("id")), edges, maxIters = 8)
    ranks.select(col("id").as("doc_id"), col("rank"))
      .withColumn("rounds", lit(rounds.toLong))
      .orderBy(col("doc_id"))
  }

  /** Convergence-run label propagation
    * ([[graft.ops.Graph.labelPropagationConverged]]) over the persisted
    * pair graph — g05's twin at the DETECTED stable labeling instead of
    * a guessed iters, with the executed round count emitted on every
    * row so the STOPPING DECISION itself hash-gates (the g08 pattern
    * applied to communities — r13 verdict task 3). The oracle unrolls
    * the voting recurrence to the same cap, stacks every round, and
    * selects the FIRST round whose labels equal its predecessor's (and
    * that round's index); post-fixpoint rounds of the deterministic
    * majority-vote map are no-ops, so early stopping replays exactly,
    * including the cap-hit case (no stable round ≤ cap → both engines
    * emit the cap's labels with rounds = cap). On a deep path
    * component this is the difference between a real community split
    * and labels silently stopping three hops out.
    */
  def g09CommunitiesConverged(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir).select("id_a", "id_b")
    // self-loops give every node an inertia vote: synchronous LPA
    // 2-cycles forever on bipartite-ish structure (without them this
    // fixture rides the cap every round — the gate then only ever
    // exercises the cap path), and the self-vote makes tie-breaking
    // monotone toward the component minimum, so the run genuinely
    // STOPS and the early-stopping decision is what hash-gates
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .union(docs.select(col("doc_id").as("src"), col("doc_id").as("dst")))
    val (labels, rounds, _) = graft.ops.Graph.labelPropagationConverged(
      docs.select(col("doc_id").as("id")), edges, maxIters = 8)
    labels.select(col("id").as("doc_id"), col("community"))
      .withColumn("rounds", lit(rounds.toLong))
      .orderBy(col("doc_id"))
  }

  /** Link prediction ([[graft.ops.Graph.commonNeighbors]]) over the
    * persisted pair graph: for every doc pair sharing at least one
    * near-dup neighbor (the 2-hop candidate set — never all-pairs),
    * the common-neighbor count and neighborhood Jaccard in exact
    * integer micros — the "these two share near-dup company, are THEY
    * redundant?" signal that surfaces pairs the pairwise hash misses
    * (no direct edge required, so it complements d02/d03 rather than
    * re-finding them). The oracle re-derives neighborhoods, degrees,
    * and the wedge join from the shared jpairs CTEs.
    */
  def g04LinkPredict(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairGraph(spark, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.ops.Graph.commonNeighbors(pairs)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Community detection ([[graft.ops.Graph.labelPropagation]], 3
    * synchronous rounds of deterministic majority vote) over the
    * persisted pair graph — the grouping that splits weakly-bridged
    * near-dup clusters where connected components (d11) over-merges:
    * one borderline pair linking two dense clusters cannot outvote
    * either cluster's internal majority. Integer label state end to
    * end; the oracle replays all three voting rounds (count DESC,
    * label ASC argmax via QUALIFY) from the same from-scratch pair set.
    */
  def g05Communities(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir).select("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    graft.ops.Graph.labelPropagation(docs.select(col("doc_id").as("id")),
        edges, iters = 3)
      .select(col("id").as("doc_id"), col("community"))
      .orderBy(col("doc_id"))
  }

  /** Weighted community detection
    * ([[graft.ops.Graph.labelPropagationWeighted]]) over the persisted
    * pair graph with Jaccard-micro vote weights — the g01/g03 pattern
    * (uniform twin + weighted upgrade) applied to g05: a doc bridged
    * between a STRONG clique and a larger-but-weak one lands with the
    * strong side, which is the grouping a near-dup policy wants when
    * member count and similarity strength disagree. Integer weight
    * sums end to end; the oracle replays all three weighted voting
    * rounds from the same from-scratch pair CTEs.
    */
  def g07CommunitiesWeighted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir)
      .select(col("id_a"), col("id_b"),
        expr("CAST(round(jaccard * 1000000) AS BIGINT)").as("w"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("w"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("w")))
    graft.ops.Graph.labelPropagationWeighted(
        docs.select(col("doc_id").as("id")), edges, iters = 3)
      .select(col("id").as("doc_id"), col("community"))
      .orderBy(col("doc_id"))
  }

  /** Duplication profile ([[Dedup.clusters]] rolled up to a cluster-size
    * histogram): per size k, how many near-dup clusters and how many
    * docs they hold — the one-line answer to "how redundant is this
    * corpus, and is the mass in pairs or in giant clusters?" that
    * decides whether keep-one dedup (d14) or per-cluster sampling is
    * the right policy. Singletons (docs in NO pair) enter as the k=1
    * bucket so the doc column sums to the corpus. Exact integers; the
    * oracle recomposes sizes + histogram + singleton bucket off the
    * recursive-CTE components.
    */
  def d38DupProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = clusterLabels(spark, dir)
    val hist = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("k").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("k")).as("n_docs"))
    val nSingles = docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n")).select(col("n"))
    val singles = nSingles.filter(col("n") > 0)
      .select(lit(1L).as("cluster_size"), col("n").as("n_clusters"),
        col("n").as("n_docs"))
    hist.unionByName(singles)
      .groupBy(col("cluster_size"))
      .agg(sum(col("n_clusters")).as("n_clusters"), sum(col("n_docs")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }

  /** Personalized PageRank ([[graft.ops.Graph.pageRankPersonalized]])
    * over the persisted pair graph, seeded on the eval slice
    * (doc_id % 17 == 0 — the same slice d12 decontaminates against):
    * rank flows from the seeds through near-dup structure, scoring
    * every doc by graph proximity to the labeled set — seed expansion
    * along similarity, the transitive step top-k cosine cannot take.
    * Non-seed docs unreachable from every seed hold EXACTLY 0 (the
    * conditional-floor contract); the oracle replays the seeded
    * trajectory from the same from-scratch pair CTEs.
    */
  def g06PagerankSeeded(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir).select("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val seeds = docs.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("id"))
    graft.ops.Graph.pageRankPersonalized(docs.select(col("doc_id").as("id")),
        edges, seeds, iters = 3)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** RFM profile per user — recency (hours since the user's last event,
    * measured against the corpus-wide max so the answer is
    * reproducible), frequency (event count), monetary (decimal-exact
    * value sum): the classic behavioral-segmentation triple, all from
    * ONE map-side-combined aggregation plus a broadcast single-row
    * cross join for the global clock. Recency in integer hours off the
    * epoch-nanos timeline (the e-family ts convention), money through
    * DECIMAL — every column hash-gates.
    */
  def e13Rfm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(col("ts")).as("_lt"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("monetary"))
    val clock = ev.agg(max(col("ts")).as("_mx"))
    perUser.crossJoin(broadcast(clock))
      .select(col("user_id"),
        expr("(_mx - _lt) div 3600000000000").as("recency_hours"),
        col("frequency"), col("monetary"))
      .orderBy(col("user_id"))
  }

  /** Pre-join skew report ([[graft.ops.Skew.joinSkewReport]]) on the
    * sessionization self-join every e-family query implies: per
    * user_id, both sides' event counts, the exact inner-join output
    * contribution n_left·n_right, and the salt factor that holds the
    * key under 1000 output rows per task — the broadcast/AQE/salt
    * decision table, computed WITHOUT joining a single fact row (both
    * sides collapse to key-cardinality count tables first). Pure
    * BIGINT arithmetic, so the advisor itself sits under the hash gate.
    */
  def e12JoinSkew(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    graft.ops.Skew.joinSkewReport(ev, ev, "user_id",
      targetRowsPerTask = 1000L, topN = 10)
  }

  /** Per-node triangle counts ([[graft.ops.Graph.triangleCounts]]) over
    * the d02 similarity graph — the clustering-coefficient numerator:
    * how tightly a doc's near-dup neighborhood is knit (a triangle-rich
    * neighborhood is one redundant cluster; a triangle-free star is one
    * doc quoted by many unrelated ones — different curation policies).
    * The Spark side enumerates via degree-ordered orientation (wedge
    * fan-out capped at O(√m) out-degree — the power-law survival
    * trick); the oracle independently enumerates a < b < c id-ordered
    * triangles off the shared jpairs CTEs. Two different enumeration
    * orders, same counts — exactly what the gate should pin.
    */
  def g02Triangles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = jaccardPairGraph(spark, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.ops.Graph.triangleCounts(docs.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("n_tri"))
      .orderBy(col("doc_id"))
  }

  /** Element-wise mean pooling ([[Similarity.meanPool]]): groups of
    * five consecutive vec_ids pool to their centroid in exact integer
    * micros — the chunk→document/centroid building block gated in its
    * own right (s05/s14/s19 use it inside training; this pins the
    * arithmetic itself, including the floor-mean offset trick that
    * keeps signed sums engine-identical). One posexplode + one
    * map-side-combined aggregation, dim·|groups| rows out.
    */
  def s20MeanPool(spark: SparkSession, dir: String): DataFrame =
    Similarity.meanPool(Tables.embeddings(spark, dir), expr("vec_id div 5"))
      .orderBy(col("group_id"), col("pos"))

  /** Pair-similarity histogram off the persisted pair graph: pairs per
    * 0.05-wide Jaccard bucket (integer micros div 50000 — the rounded-6
    * similarity makes the bucket exact) — the threshold-tuning report:
    * where the mass sits decides whether minJaccard moves, read at
    * artifact cost.
    */
  def d39PairHistogram(spark: SparkSession, dir: String): DataFrame =
    jaccardPairGraph(spark, dir)
      .select(expr("CAST(round(jaccard * 1000000) AS BIGINT) div 50000").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))

  /** Scalar int8 quantization ([[Similarity.sqEncode]]): per-dim
    * min/max in exact integer micro-units, linear map to 0..255 —
    * integers end to end, so corpus stats AND codes sit under the
    * hash gate. The 4×-compression sibling of s06's PQ.
    */
  def s07SqCodes(spark: SparkSession, dir: String): DataFrame =
    Similarity.sqEncode(Tables.embeddings(spark, dir))
      .orderBy(col("vec_id"), col("pos"))

  /** Bounded-memory heavy hitters ([[graft.ops.Approx.spaceSavingTopK]])
    * at recall-saturating capacity: 1024 slots ≫ the fixture vocabulary,
    * so no eviction fires, every counter is exact with error 0, and the
    * sketch's merged top-15 equals the exact SQL top-15 — the d03/s02
    * approx==exact gate pattern applied to frequency sketching.
    * Tight-capacity error bounds are OpsSpec-gated.
    */
  def t17HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
    graft.ops.Approx.spaceSavingTopK(toks, "token", k = 15, capacity = 1024)
  }

  /** Full BM25 with length normalization
    * ([[TextOps.bm25TopKNormalized]], k1 = 2, b = 3/4): t16's scoring
    * plus the dl/avgdl denominator, rationalized to pure positive-long
    * arithmetic with avgdl in centi-tokens — the complete textbook
    * formula with no float anywhere in the gate.
    */
  def t19Bm25Dl(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25TopKNormalized(Tables.documents(spark, dir),
      Seq("dup", "spark", "vector", "merge"), k = 20)

  /** Perceptual image hashing ([[graft.ext.Multimodal.imageDhash]]):
    * class-seeded REAL PNGs (doc_id % 50 picks the raster, a per-doc
    * noise level perturbs one pixel) are decoded with the real codec,
    * scaled to the 8×8 luma grid, and difference-hashed — the oracle
    * regenerates every raster from id arithmetic and replays
    * scale → integer luma → neighbor-compare → bit-pack, so a hash
    * match proves the whole decode+hash chain bit-for-bit.
    */
  def m06ImageDhash(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPngClasses(Tables.documents(spark, dir))
    graft.ext.Multimodal.imageDhash(media).orderBy(col("media_id"))
  }

  /** Image near-dup pairs ([[graft.ext.Multimodal.dhashPairs]]) over
    * the m06 hashes: banded Hamming join (pigeonhole candidates, exact
    * `bit_count(xor)` verify — the SimHash pairing machinery on the
    * image modality). The class-seeded fixture makes the true pair set
    * rich (same class ⇒ dist ≤ 1 near-dups across noise levels); the
    * oracle recomputes hashes AND pairs independently.
    */
  def d15ImageDhashPairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPngClasses(Tables.documents(spark, dir))
    graft.ext.Multimodal.dhashPairs(graft.ext.Multimodal.imageDhash(media), maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Incremental image dedup
    * ([[graft.ext.Multimodal.hammingPairsNew]]): `doc_id % 10 == 0`
    * plays the incoming batch, the rest the corpus — pairs touch the
    * batch on at least one side, never corpus×corpus (the d08 ingest
    * shape on the dHash modality). Oracle re-derives exactly the
    * batch-touching pair set from the replayed hashes.
    */
  def d18ImageDhashNew(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPngClasses(Tables.documents(spark, dir))
    val hashes = graft.ext.Multimodal.imageDhash(media)
    graft.ext.Multimodal.hammingPairsNew(
        hashes.filter(col("media_id") % 10 === 0),
        hashes.filter(col("media_id") % 10 =!= 0),
        bits = 56, maxDist = 3, idCol = "media_id", hashCol = "dhash")
      .orderBy(col("id_new"), col("id_other"))
  }

  /** URL-keyed dedup ([[UrlOps.urlDedup]]): id-derived raw URLs where
    * the PAGE identity depends only on `doc_id % 37` but the raw string
    * varies per doc (scheme case, WWW case, default port, utm params,
    * trailing slash, fragment) — canonicalization must collapse each
    * page's variants to ONE row with the right keep_id and dup count.
    * Crawl dedup step one, before any content hashing.
    */
  def d17UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val pid = id % 37
    val www = when(pid % 4 === 0,
      when(id % 2 === 0, lit("www.")).otherwise(lit("WWW."))).otherwise(lit(""))
    val url = concat(
      when(id % 3 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      www,
      lit("site"), (pid % 11).cast("string"),
      element_at(array(lit(".com"), lit(".org")), (pid % 2 + 1).cast("int")),
      when(id % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), pid.cast("string"),
      when(id % 2 === 1, lit("/")).otherwise(lit("")),
      when(id % 2 === 0, concat(lit("?utm_c=9&sid="), pid.cast("string")))
        .otherwise(concat(lit("?sid="), pid.cast("string"))),
      when(id % 7 === 0, lit("#f")).otherwise(lit("")))
    UrlOps.urlDedup(
        Tables.documents(spark, dir).select(col("doc_id"), url.as("url")), "url")
      .orderBy(col("keep_id"))
  }

  /** Mixture construction ([[graft.ops.Sampling.domainMixture]]):
    * 110 docs apportioned across the 20 sources by largest-remainder
    * quotas on weight `1 + (srcnum % 4)` — total 110 is chosen so the
    * remainder ranking actually fires (floor quotas sum to 100, the
    * ten largest remainders get +1). Exact integer apportionment +
    * deterministic within-domain selection ⇒ the full sample sits
    * under the hash gate.
    */
  def t23DomainMixture(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.domainMixture(
        Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "source",
        expr("1 + CAST(substring(source, 4) AS INT) % 4"),
        total = 110L)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Temperature-balanced mixture at α = 0.5
    * ([[graft.ops.Sampling.temperatureMixture]]): quotas ∝ √n_d — the
    * multilingual-LM rebalancing that flattens the head and lifts the
    * tail, vs t23's configured weights. α is 0.5 precisely because
    * IEEE specifies sqrt as correctly rounded: the micro-weight
    * `round(√n·10⁶)` is bit-identical in DuckDB, so the derived
    * weights, the largest-remainder apportionment AND the
    * within-domain selection all sit under the hash gate.
    */
  def t33TemperatureMixture(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureMixture(
        Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "source", total = 110L)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Domain-scoped boilerplate removal
    * ([[TextOps.dropDomainBoilerplate]]) — site chrome dies on the
    * (domain, line) key where t12's corpus-wide rule can't see it: the
    * fixture wraps every doc's text in its domain's navigation header
    * and copyright footer (shared by the ~7 docs of that exact domain,
    * and TEXTUALLY identical across same-k domains of different TLDs —
    * which must NOT merge, pinning the per-domain keying), so the
    * chrome drops, the prose survives, and the oracle replays
    * injection, line split, per-domain df, the < 3 keep rule, and
    * ordered reassembly byte-identically.
    */
  def t64DomainBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val k = pmod(d, lit(23)).cast("string")
    val domain = concat(lit("site"), k,
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (pmod(d, lit(3)) + 1).cast("int")))
    val page = concat(
      lit("Home | About site"), k, lit("\n"),
      col("text"),
      lit("\nCopyright site"), k, lit(" all rights reserved"))
    val docs = Tables.documents(spark, dir)
      .select(d, domain.as("domain"), page.as("text"))
    val lines = docs.select(d, col("domain"),
        posexplode(split(col("text"), "\n")))
      .withColumnRenamed("col", "line")
    TextOps.dropDomainBoilerplate(lines, minDf = 3)
      .orderBy(col("doc_id"))
  }

  /** Per-document keyword extraction ([[TextOps.docKeywords]]): the
    * top-3 tf-idf terms per doc under t62's exact integer weight —
    * the doc-tagging table next to t44's per-source terms. The cut is
    * the custom TopKPerKey prune; the oracle replays the weight build
    * and the (w desc, token) QUALIFY cut.
    */
  def t65DocKeywords(spark: SparkSession, dir: String): DataFrame =
    TextOps.docKeywords(Tables.documents(spark, dir), k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** Token-budget epoch allocation
    * ([[graft.ops.Sampling.epochAllocation]]) — the mix PLAN for a
    * 2×-budget training run with even per-source shares: one corpus
    * scan builds the per-source token inventory (t20's word-count
    * convention), then the allocator's truncating div/mod arithmetic
    * emits full epochs + remainder micro-probability per source, all
    * under the hash gate.
    */
  def t63EpochAlloc(spark: SparkSession, dir: String): DataFrame = {
    val inv = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(TextOps.tokenCount(col("text")).cast("long"))
        .as("tokens_avail"))
    graft.ops.Sampling.epochAllocation(inv, budgetX = 2L)
      .orderBy(col("source"))
  }

  /** Leakage-safe split ([[graft.ops.Sampling.leakageSafeSplit]]):
    * t09's deterministic hash split keyed on the near-dup COMPONENT
    * (d11's connected components over the persisted pair graph), so a
    * near-duplicate of a training doc can never land in val/test —
    * the benchmark-contamination hole a per-doc split leaves open.
    * The oracle replays components by recursive transitive closure,
    * then the md5 threshold arithmetic on the group key — gating
    * grouping and assignment end to end.
    */
  def d31LeakageSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.leakageSafeSplit(
        Tables.documents(spark, dir).select(col("doc_id")),
        jaccardPairGraph(spark, dir), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Audio fingerprinting ([[graft.ext.Multimodal.audioFingerprint]]):
    * class-seeded REAL WAV payloads decoded with the real codec, first
    * 512 samples → 32 window energies → 31-bit delta-sign profile —
    * the oracle regenerates the PCM from id arithmetic and replays
    * energy → compare → bit-pack, proving the decode+sketch chain.
    */
  def m07AudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticWavClasses(Tables.documents(spark, dir))
    graft.ext.Multimodal.audioFingerprint(media).orderBy(col("media_id"))
  }

  /** Audio near-dup pairs: banded Hamming join over the m07
    * fingerprints ([[graft.ext.Multimodal.hammingPairs]], 31 bits,
    * maxDist 2) — the image-dHash pairing machinery on the audio
    * modality; the oracle recomputes fingerprints and verifies pairs
    * by the naive all-pairs spelling.
    */
  def d16AudioFpPairs(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticWavClasses(Tables.documents(spark, dir))
    graft.ext.Multimodal.hammingPairs(
        graft.ext.Multimodal.audioFingerprint(media),
        bits = 31, maxDist = 2, idCol = "media_id", hashCol = "afp")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-clip audio quality gate ([[graft.ext.Multimodal
    * .audioQualityRules]]): decode the full WAV once, emit peak /
    * clipping / loudness / silence metrics and the keep decision —
    * gopherRules for the audio modality. The oracle regenerates the
    * full per-class chirp PCM (not just the fingerprint's 512-sample
    * prefix) and replays every metric in integer arithmetic.
    */
  def m09AudioQuality(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticWavClasses(Tables.documents(spark, dir))
    graft.ext.Multimodal.audioQualityRules(media).orderBy(col("media_id"))
  }

  /** Per-image quality gate ([[graft.ext.Multimodal
    * .imageQualityRules]]): decode the PNG once, integer luma per
    * pixel, exposure/contrast/extreme-pixel metrics and the keep
    * decision — gopherRules for the image modality (the m09 audio
    * twin). The oracle replays the FULL raster (every sw×sh pixel,
    * not the dHash's 8×8 sample) from the class-seeded generator.
    */
  def m10ImageQuality(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPngClasses(Tables.documents(spark, dir))
    graft.ext.Multimodal.imageQualityRules(media).orderBy(col("media_id"))
  }

  /** JPEG decode path under the gate
    * ([[graft.ext.Multimodal.syntheticJpeg]] →
    * [[graft.ext.Multimodal.imageDhash]] / imageQualityRules /
    * decodedStats — r13 verdict task 4): REAL JDK-encoded baseline
    * JPEGs flow through the SAME production operators the PNG family
    * uses (the decode-dispatch, not a bespoke path). A lossy codec
    * can't gate on pixels, so the fixture is solid-gray rasters —
    * DC-only blocks decode to a UNIFORM raster whatever quantization
    * did to the level — and the gate pins the invariants that survive:
    * exact decoded dims (and n_pixels), dhash = 0, contrast = 0, zero
    * extreme-pixel fractions, keep = 0 (flat images drop on
    * contrast). A byte-feature path, a garbage decode, or wrong dims
    * all hash-mismatch.
    */
  def m12JpegDecode(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticJpeg(Tables.documents(spark, dir))
    val stats = graft.ext.Multimodal.decodedStats(media).toDF()
      .select(col("media_id"), col("width"), col("height"))
    val dh = graft.ext.Multimodal.imageDhash(media)
    val qr = graft.ext.Multimodal.imageQualityRules(media)
      .select(col("media_id"), col("n_pixels"), col("contrast"),
        col("dark_micro"), col("bright_micro"), col("keep"))
    stats.join(dh, "media_id").join(qr, "media_id")
      .orderBy(col("media_id"))
  }

  /** JPEG-input resize under the gate — m12's composition partner:
    * the thumbnailing path a crawl pipeline actually runs (decode the
    * lossy payload, nearest-neighbor scale, re-emit lossless PNG of
    * exactly the scaled pixels), driven end to end through
    * [[graft.ext.Multimodal.resize]] → decodedStats / imageDhash /
    * imageQualityRules on the EMITTED artifact. The solid-raster
    * invariants survive the whole chain (uniform in ⇒ uniform scaled
    * ⇒ uniform decoded): exact target dims, n_pixels, dhash = 0,
    * contrast = 0, zero extreme fractions — a resize that pass-through
    * copied bytes, dropped the decode dispatch, or scaled garbage
    * hash-mismatches.
    */
  def m13JpegResize(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticJpeg(Tables.documents(spark, dir))
    val resized = graft.ext.Multimodal.resize(media, targetWidth = 10, targetHeight = 7)
    val stats = graft.ext.Multimodal.decodedStats(resized).toDF()
      .select(col("media_id"), col("width"), col("height"))
    val dh = graft.ext.Multimodal.imageDhash(resized)
    val qr = graft.ext.Multimodal.imageQualityRules(resized)
      .select(col("media_id"), col("n_pixels"), col("contrast"),
        col("dark_micro"), col("bright_micro"))
    stats.join(dh, "media_id").join(qr, "media_id")
      .orderBy(col("media_id"))
  }

  /** Header-only container metadata over a MIXED PNG/JPEG corpus
    * ([[graft.ext.Multimodal.containerMeta]]): even ids carry real
    * PNGs, odd ids real JPEGs, and the scan identifies each container
    * by magic bytes and reads dims/depth/channels from IHDR / the
    * SOF marker walk — no decode anywhere on the path. Both fixtures
    * share the 8+id%9 × 8+id%5 dim formulas, so the oracle replays
    * every column from id arithmetic; a wrong segment-length walk,
    * sniff, or field offset hash-mismatches.
    */
  def m14ContainerMeta(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val docs = Tables.documents(spark, dir)
    val png = graft.ext.Multimodal.syntheticPng(docs.filter(col("doc_id") % 2 === 0))
    val jpg = graft.ext.Multimodal.syntheticJpeg(docs.filter(col("doc_id") % 2 =!= 0))
    graft.ext.Multimodal.containerMeta(png.unionByName(jpg))
      .orderBy(col("media_id"))
  }

  /** Audio peak normalization under the gate
    * ([[graft.ext.Multimodal.normalizeAudio]] — the loudness-leveling
    * TRANSFORM next to m13's image resize): the class-seeded WAV
    * corpus is rescaled to a 28000 peak with TRUNCATING division (the
    * convention JVM `/` and DuckDB `//` share on negatives — floor
    * would round negative samples the other way and split the hash), then
    * measured before and after ([[graft.ext.Multimodal.audioStats]]).
    * The oracle regenerates every PCM sample from id arithmetic,
    * applies the same `(s · 28000) // peak` rescale, and re-derives
    * n/peak/energy — so the whole decode → gain → re-encode → decode
    * chain sits under the hash, including the `peak_out ≤ 28000`
    * contract and gain-1 exactness.
    */
  def m15AudioNormalize(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticWavClasses(
      Tables.documents(spark, dir))
    val before = graft.ext.Multimodal.audioStats(media)
      .select(col("media_id"), col("n_samples"), col("peak").as("peak_in"))
    val after = graft.ext.Multimodal.audioStats(
        graft.ext.Multimodal.normalizeAudio(media, targetPeak = 28000))
      .select(col("media_id"), col("peak").as("peak_out"),
        col("energy").as("energy_out"))
    before.join(after, "media_id").orderBy(col("media_id"))
  }

  /** Silence trimming under the gate
    * ([[graft.ext.Multimodal.trimSilence]] +
    * [[graft.ext.Multimodal.silenceBounds]]): the speech-pipeline EDGE
    * edit next to m15's gain. The padded fixture wraps each class
    * chirp in id-derived noise-floor samples; the query joins the
    * bounds table (n_in, lead, trail) with the measured stats of the
    * ACTUALLY re-encoded payload (n_out, peak_out), so the oracle's
    * positional replay pins both the decision (first/last sample above
    * threshold — including chirp edges that happen to sit below it,
    * which trim further than the injected padding) and the
    * decode → slice → re-encode → decode chain's consistency with it.
    */
  def m16AudioTrim(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticWavPadded(
      Tables.documents(spark, dir))
    val bounds = graft.ext.Multimodal.silenceBounds(media, threshold = 100L)
      .select(col("media_id"), col("n_samples").as("n_in"),
        col("lead"), col("trail"))
    val after = graft.ext.Multimodal.audioStats(
        graft.ext.Multimodal.trimSilence(media, threshold = 100L))
      .select(col("media_id"), col("n_samples").as("n_out"),
        col("peak").as("peak_out"))
    bounds.join(after, "media_id").orderBy(col("media_id"))
  }

  /** Corpus-trained bigram LM scoring ([[TextOps.bigramLmScore]]) —
    * the CCNet-style LM quality filter with the log-prob sum
    * rationalized to integer micro-units: add-one-smoothed average
    * transition likelihood per doc, exact across engines (truncating
    * div on non-negative longs). The oracle retrains the same counts
    * (bigram, unigram, vocab) from scratch and replays the arithmetic.
    */
  def t22BigramLm(spark: SparkSession, dir: String): DataFrame =
    TextOps.bigramLmScore(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** CCNet-style per-language typicality terciles
    * ([[TextOps.lmTypicalityBuckets]]): rank each doc within its
    * language by t22's integer LM score, cut into head/middle/tail.
    * The Spark side computes the NTILE bucket WITHOUT a per-language
    * global window (histogram prefix-sum + tie row_number — the
    * spelling that survives a language owning half the corpus); the
    * DuckDB oracle uses literal `ntile(3)`, so the gate proves the
    * distributed rank assembly IS ntile.
    */
  def t24PerplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmTypicalityBuckets(Tables.documents(spark, dir), nBuckets = 3)
      .orderBy(col("doc_id"))

  /** BPE tokenizer merge TRAINING ([[TextOps.bpeMerges]]): 8 full
    * byte-pair-encoding iterations — pair count, argmax with the
    * (count desc, lhs, rhs) tie-break, greedy merge application — on
    * the frequency-weighted vocab table. The oracle replays every
    * iteration as a generated CTE chain (the s05/g01 precedent), so
    * the LEARNED MERGES themselves sit under the hash gate, not just
    * summary statistics.
    */
  def t25BpeMerges(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeMerges(Tables.documents(spark, dir), k = 8)
      .orderBy(col("step"))

  /** Sliding token-window chunking ([[TextOps.chunkTokens]]) — the
    * context-length prep of every RAG/training pipeline: ≤32-token
    * chunks every 24 tokens (8-token overlap). The oracle replays the
    * stride arithmetic and 1-based list slicing in DuckDB; chunk text
    * is the space-joined window (whitespace tokens are lossless), so
    * offsets, lengths AND content all hash-match.
    */
  def t26ChunkWindows(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunkTokens(Tables.documents(spark, dir), window = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** First-seen novelty attribution ([[Dedup.noveltyScores]]): per doc,
    * the fraction of its distinct 3-grams no smaller-id document has —
    * the inverse of the d12 contamination signal, as a curation score
    * (drop low-novelty stragglers cheaply) and a contribution report.
    * Pure counting over the shared shingle definition, so the score
    * itself hash-matches.
    */
  def t27Novelty(spark: SparkSession, dir: String): DataFrame =
    Dedup.noveltyScores(Tables.documents(spark, dir), n = 3)
      .orderBy(col("doc_id"))

  /** GPT-style concat-and-chunk sequence packing
    * ([[graft.ops.PrefixSum.seqPack]]): docs laid end to end in id
    * order into one global token stream cut into fixed 64-token
    * training sequences; each doc reports its global token offset and
    * the sequence range it spans. The offset comes from the
    * distributed two-phase prefix sum (t13's machinery — NO
    * single-partition window), and the whole manifest is integer
    * arithmetic, so it hash-matches the oracle's ordinary running
    * total. `offset` is aliased `tok_offset` (OFFSET is a SQL
    * keyword).
    */
  def t28SeqPack(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PrefixSum.seqPack(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        seqLen = 64L)
      .select(col("doc_id"), col("n_tokens"),
        col("offset").as("tok_offset"), col("first_seq"), col("last_seq"))
      .orderBy(col("doc_id"))

  /** BPE tokenizer ENCODE ([[TextOps.bpeTrainEncode]]): train the same
    * 8 merges t25 gates, then apply them to the corpus as a chain of
    * literal replaces folded into the plan (broadcast-weights
    * inference shape — one narrow codegen projection, no shuffle).
    * The oracle re-learns the merges AND replays the encode chain per
    * document, so the per-doc subword counts — the tokenizer's actual
    * output statistic — sit under the hash gate.
    */
  def t29BpeEncode(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeTrainEncode(Tables.documents(spark, dir), k = 8)
      .orderBy(col("doc_id"))

  /** BPE encode served from the PERSISTED tokenizer artifact
    * ([[TextOps.writeTokenizer]] → [[TextOps.bpeEncodeIndexed]]) — the
    * NINTH index-lifecycle family: production trains a tokenizer once
    * per corpus snapshot, every encode job reads the k-row artifact
    * and never re-runs the k corpus-pass training iterations.
    * Registered as build + serve for oracle self-containment (the
    * t36/d29 convention); the oracle is t29's UNCHANGED from-scratch
    * SQL, so the hash gate pins serve(artifact) == from-scratch —
    * every learned merge, its replay order, and the case-folding
    * contract survive the round trip. Per-process temp target (the
    * t36 pattern) so concurrent runs can't race on a shared path.
    */
  def t49BpeIndexed(spark: SparkSession, dir: String): DataFrame = {
    val path = t49TokenizerDir
    TextOps.writeTokenizer(Tables.documents(spark, dir), path, k = 8)
    TextOps.bpeEncodeIndexed(spark, path, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
  }

  /** BYTE-LEVEL BPE encode ([[graft.functions.ByteRemap]] →
    * [[TextOps.bpeTrainEncode]], r14 verdict task 5): production
    * tokenizers are byte-level with byte-fallback — no input byte can
    * fail to encode. The corpus is case-folded FIRST (folding after
    * the remap would corrupt the byte alphabet), then seeded with
    * non-ASCII bytes the word-level t29 could never see — an é
    * (two-byte UTF-8, both bytes in the remap's identity range) on
    * every third doc and a soft hyphen (C2 AD, where AD exercises the
    * 256+rank fallback branch → U+0143) on another third — then every
    * UTF-8 byte is remapped to the printable alphabet and the SAME
    * train+encode machinery runs with lowercase=false. The oracle
    * replays the remap as literal per-byte replacements and re-runs
    * the full t29 CTE chain over the remapped source, so the remap
    * table, the fallback branch, and the merges learned over remapped
    * symbols all sit under the hash gate. Same plan shape as t29: one
    * corpus pass per merge round, encode as a broadcast-literal
    * replace chain — no new shuffle.
    */
  def t29bByteBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val lowered = lower(col("text"))
    val injected = when(pmod(d, lit(3)) === 0,
        replace(lowered, lit("table"), lit("tabl\u00E9")))
      .when(pmod(d, lit(3)) === 1,
        replace(lowered, lit("merge"), lit("mer\u00ADge")))
      .otherwise(lowered)
    val remapped = graft.functions.GraftFunctions.graftByteRemap(injected)
    TextOps.bpeTrainEncode(
        Tables.documents(spark, dir).select(d, remapped.as("text")),
        k = 8, lowercase = false)
      .orderBy(col("doc_id"))
  }

  /** Frequency-threshold vocabulary coverage curve
    * ([[TextOps.vocabCoverage]]): for each min-count cutoff, the kept
    * vocab size and the fraction of token occurrences it covers — the
    * vocab-sizing analytic, spelled as pure aggregation (threshold
    * curve, not rank-k: no vocab-sized window anywhere).
    */
  def t30VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    TextOps.vocabCoverage(Tables.documents(spark, dir),
        cutoffs = Seq(1L, 2L, 3L, 5L, 8L))
      .orderBy(col("cutoff"))

  /** DSIR-style importance weights ([[TextOps.dsirWeights]]): per doc,
    * target-LM minus corpus-LM typicality over the shared bigram
    * stream, target = the English slice of the corpus (a deterministic
    * in-domain seed). The data-selection signal: positive importance =
    * looks more like the target than like the average crawl. The
    * oracle retrains BOTH count sets (the parameterized LM chain twice,
    * prefixed) and replays the integer difference — smoothing at
    * count 0 for transitions the target never saw included.
    */
  def t31DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextOps.dsirWeights(docs, docs.filter(col("lang") === "en"))
      .orderBy(col("doc_id"))
  }

  /** Blocklist patterns for t32 — chosen to exercise the count
    * contract's edges on the fixture vocabulary: a self-overlapping
    * phrase ("table table": greedy counting visibly differs from
    * all-occurrences), a pattern nested inside another ("fast" inside
    * "fast table": independent counting), and plain phrases.
    */
  private val t32Patterns = Seq(
    "fast", "fast table", "table table", "a a", "value part", "slow filter")

  /** Banned-term counts via the one-pass Aho-Corasick expression
    * ([[TextOps.blocklistHits]] / [[graft.functions.BlocklistCounts]]):
    * (doc, pattern, count) for every greedy non-overlapping hit. The
    * oracle replays each count as `(length(t) − length(replace(t, p,
    * ''))) // length(p)` over a VALUES pattern list — the exact SQL
    * contract the automaton implements — so the hash gate pins the
    * matcher against an independent engine on every document,
    * including the self-overlap and nested-pattern edges.
    */
  def t32Blocklist(spark: SparkSession, dir: String): DataFrame =
    TextOps.blocklistHits(Tables.documents(spark, dir), t32Patterns)
      .orderBy(col("doc_id"), col("pattern_id"))

  /** Hybrid retrieval with reciprocal-rank fusion
    * ([[Similarity.rrfFuse]]): the BM25 lexical arm (t16's terms,
    * top-50 with an explicit (score desc, id) rank) fused with the
    * semantic arm (exact cosine top-50 for query vector 0 — the s01
    * machinery) at kRrf = 60. All integer: ranks are deterministic in
    * both engines, contributions are truncating div, fused ties break
    * by id — the full fused list hash-matches the oracle's replay of
    * BOTH arms plus the fusion.
    */
  def s12HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextOps.bm25TopK(Tables.documents(spark, dir),
        Seq("dup", "spark", "vector", "merge"), k = 50)
      // rank over the 50-row list — bounded window by construction
      .withColumn("rank", row_number().over(
        Window.partitionBy().orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val sem = Similarity.bruteForceTopK(
        Tables.embeddings(spark, dir).filter(col("vec_id") === 0L),
        Tables.embeddings(spark, dir), k = 50)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Similarity.rrfFuse(Seq(lex, sem), k = 20)
      .orderBy(col("rrf_micro").desc, col("doc_id"))
  }

  /** Deterministic linear-probe weights shared by the s11 query and its
    * oracle: w_j = ((37·j mod 21) − 10) / 10 over the 64 fixture dims —
    * spans [−1, 1] with exact one-decimal literals both engines parse
    * to the same double.
    */
  private[queries] val ProbeWeights: Seq[Double] =
    (0 until 64).map(j => ((j * 37) % 21 - 10) / 10.0)

  /** Linear-probe classifier inference ([[Similarity.linearProbe]]):
    * the model-based quality/domain scorer (a logistic head distilled
    * to weights) applied to every embedding as a broadcast-weights
    * codegen projection. Score rounded to 6 before the sign test (the
    * s01 float convention) so the keep/drop decision is gate-stable.
    */
  def s11LinearProbe(spark: SparkSession, dir: String): DataFrame =
    Similarity.linearProbe(Tables.embeddings(spark, dir),
        weights = ProbeWeights, bias = 0.05)
      .orderBy(col("vec_id"))

  /** MMR-diversified retrieval ([[Similarity.mmrRerank]]): each of 8
    * query vectors gets a 20-candidate exact-cosine pool, then the
    * greedy λ=0.7 maximal-marginal-relevance selection picks 5 —
    * relevance traded against redundancy with the already-picked set.
    * Everything after the (gated, corpus-scale) candidate stage is
    * integer: micro-sims, thousandths-λ, nano-scores, id ties — so all
    * five greedy picks per query, tie decisions included, hash-match
    * the oracle's UNROLLED replay (one CTE per iteration: running
    * selected set, per-candidate max-redundancy aggregate, arg-max).
    */
  def s13MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.mmrTopK(emb.filter(col("vec_id") < 8), emb,
      k = 5, poolSize = 20, lambdaMilli = 700L)
  }

  /** The s13 oracle: DuckDB has no iteration-with-aggregation, so the
    * k greedy MMR picks unroll to one CTE pair per step (selᵢ = the
    * arg-max against selallᵢ₋₁; selallᵢ = the union) — the same
    * shared-chain pattern as the t25/t29 BPE oracles. Parameterized so
    * the SQL is derived from the SAME constants as the Spark query.
    */
  /** The (64 → 16, seed 7) ±1 sign row for output dim `k` as a DuckDB
    * DOUBLE[] literal — generated from the SAME
    * [[Similarity.projectionSign]] the Spark plan folds in, so the
    * oracle and the engine share the matrix by construction.
    */
  private def projSignSql(k: Int): String =
    Similarity.projectionSigns(64, 16, 7L)(k)
      .mkString("[", ", ", "]::DOUBLE[]")

  private def mmrOracle(nQueries: Int, pool: Int, k: Int, lam: Long): String = {
    val sim = "floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000"
    val head =
      s"""WITH pool AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(round(sim*1000000, 0) AS BIGINT) AS rel_micro FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $sim AS sim,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY $sim DESC, b.vec_id) AS rank
         |    FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
         |    WHERE a.vec_id < $nQueries) t
         |  WHERE rank <= $pool
         |), pairs AS (
         |  SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
         |    CAST(round(floor((list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000*1000000, 0) AS BIGINT) AS pair_micro
         |  FROM pool x JOIN pool y ON x.query_id = y.query_id AND x.neighbor_id != y.neighbor_id
         |  JOIN embeddings ea ON ea.vec_id = x.neighbor_id
         |  JOIN embeddings eb ON eb.vec_id = y.neighbor_id
         |), sel1 AS (
         |  SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS mmr_rank,
         |    rel_micro, $lam*rel_micro AS mmr_nano FROM (
         |    SELECT pool.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel_micro DESC, neighbor_id) AS rn FROM pool) s
         |  WHERE rn = 1
         |), selall1 AS (SELECT * FROM sel1)""".stripMargin
    val iters = (2 to k).map { i =>
      val p = i - 1
      s"""
         |, sel$i AS (
         |  SELECT query_id, neighbor_id, CAST($i AS BIGINT) AS mmr_rank,
         |    rel_micro, mmr_nano FROM (
         |    SELECT p.query_id, p.neighbor_id, p.rel_micro,
         |      $lam*p.rel_micro - ${1000 - lam}*coalesce(m.max_pair, 0) AS mmr_nano,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY $lam*p.rel_micro - ${1000 - lam}*coalesce(m.max_pair, 0) DESC, p.neighbor_id) AS rn
         |    FROM pool p
         |    LEFT JOIN (SELECT pr.query_id AS mq, pr.a, max(pr.pair_micro) AS max_pair
         |          FROM pairs pr JOIN selall$p s ON pr.query_id = s.query_id AND pr.b = s.neighbor_id
         |          GROUP BY pr.query_id, pr.a) m
         |      ON m.mq = p.query_id AND m.a = p.neighbor_id
         |    WHERE NOT EXISTS (SELECT 1 FROM selall$p s2
         |                      WHERE s2.query_id = p.query_id AND s2.neighbor_id = p.neighbor_id)
         |  ) t WHERE rn = 1
         |), selall$i AS (SELECT * FROM selall$p UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString
    head + iters +
      s"\nSELECT query_id, neighbor_id, mmr_rank, rel_micro, mmr_nano FROM selall$k ORDER BY query_id, mmr_rank"
  }

  /** Cluster-balanced mixture construction
    * ([[Similarity.trainCodebook]] + [[Similarity.assignToCodebook]] +
    * [[graft.ops.Sampling.domainMixture]]): the embedding-space twin
    * of t23 — train a deterministic k-means codebook, assign every
    * vector to its cluster by the gate-stable rounded-argmax key, then
    * apportion a 70-vector sample across the clusters by
    * largest-remainder quotas on weight `1 + cid % 3` (remainder
    * ranking fires by construction). This is the data-mixing pattern a
    * curation pipeline runs to rebalance a corpus by SEMANTIC bucket
    * rather than by source label: the corpus-scale work is one
    * codegen assignment pass + one exchange on cluster for the
    * per-cluster row_number; everything quota-side lives at cluster
    * cardinality. Integer end to end after the rounded sims, so the
    * whole chain — training, every assignment tie, apportionment,
    * within-cluster selection — hash-matches the oracle's replay.
    */
  def s14ClusterMixture(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val state = Similarity.trainCodebook(emb, k = 8, iters = 2)
    val assigned = Similarity.assignToCodebook(emb, state)
    graft.ops.Sampling.domainMixture(assigned, "centroid_id",
        lit(1L) + col("centroid_id") % 3, total = 70L, idCol = "vec_id")
      .select(col("vec_id"), col("centroid_id"))
      .orderBy(col("vec_id"))
  }

  /** Clustering-quality gate over the trained codebook
    * ([[graft.ext.Similarity.codebookSilhouette]]): per-cluster
    * simplified-silhouette rollups (member count, sum/min/max of the
    * per-vector (b−a)/b margin in micros) — the "is this codebook
    * usable, which clusters bleed into their neighbors, is it time to
    * retrain" number downstream of s14's mixture and the index
    * lifecycle's drift monitor. One narrow codegen pass (k fused dots
    * per row, zero joins), output at cluster cardinality; the s04/s05
    * integer-micro key end to end, so the oracle replays training,
    * top-2 centroid ranking, and the silhouette arithmetic exactly.
    */
  def s19Silhouette(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val state = Similarity.trainCodebook(emb, k = 8, iters = 2)
    Similarity.codebookSilhouette(emb, state)
      .orderBy(col("centroid_id"))
  }

  /** Hard-negative triplet mining ([[Similarity.tripletMine]]): for
    * each of 12 anchors, (positive = exact top-1, hard negative =
    * highest-ranked pool candidate ≥ 0.05 cosine below the positive)
    * out of a 20-candidate pool — the contrastive-training data op.
    * Integer micro-sims; the oracle replays the ranked pool and both
    * selection rules.
    */
  /** Johnson-Lindenstrauss sparse random projection
    * ([[Similarity.randomProjection]]): every vector's 16 signed sums
    * under the seed-7 ±1 matrix, rounded 6 — the gate replays each
    * value via `list_dot_product` on the SAME sign literals (the s11
    * weights-as-config convention), pinning the projection arithmetic
    * per (vector, output dim).
    */
  def s17RandomProjection(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(Tables.embeddings(spark, dir),
        outDim = 16, seed = 7L)
      .orderBy(col("vec_id"), col("proj_dim"))

  /** Coarse-to-fine serving through the projection
    * ([[Similarity.projectedRerankTopK]]): stage-1 candidates ranked in
    * the 16-dim projected space, stage-2 full-width rerank — the s10
    * cascade economics without Matryoshka-trained embeddings. Both
    * stages round(6) before ranking with id ties, so the oracle
    * replays candidate selection AND rerank exactly.
    */
  def s18ProjRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.projectedRerankTopK(emb.filter(col("vec_id") < 20), emb,
        k = 5, outDim = 16, seed = 7L, candidates = 64)
      .orderBy(col("query_id"), col("rank"))
  }

  def s16TripletMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.tripletMine(emb.filter(col("vec_id") < 12), emb,
        poolSize = 20, marginMicro = 50000L)
      .orderBy(col("query_id"))
  }

  /** Embedding distribution drift ([[Similarity.embeddingMoments]] +
    * [[Similarity.embeddingDrift]]): per-dimension mean drift of the
    * label-0 subpopulation against the whole corpus — the monitor an
    * ingest pipeline runs against the moments captured at index-build
    * time to decide when the LSH planes / IVF codebook / PQ codebooks
    * need retraining (they answer "as of train time"; the lifecycle's
    * documented rebuild trigger, now measured rather than assumed).
    * Corpus-scale work is two map-side-combined dim-cardinality
    * aggregations; everything downstream lives at dim rows. Exact
    * integer micro-sums → one rounded IEEE division per mean, so the
    * full report hash-matches the oracle.
    */
  def s15EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.embeddingDrift(
        Similarity.embeddingMoments(emb),
        Similarity.embeddingMoments(emb.filter(col("label") === 0)))
      .orderBy(col("pos"))
  }

  /** URL canonicalization + domain stats ([[UrlOps]]): per-doc
    * deterministic synthetic crawl URLs (uppercase `WWW.` aliases,
    * default :443 ports, trailing slashes, `utm_*` tracking params,
    * fragments — each id-derived, so both engines regenerate them) are
    * canonicalized and rolled up per registrable domain. The gate pins
    * every canonical string and the per-domain doc counts; all regexes
    * are RE2-safe by construction so DuckDB replays them verbatim.
    */
  def t21UrlDomains(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      lit("https://"),
      when(id % 4 === 0, lit("www.")).when(id % 4 === 1, lit("WWW."))
        .otherwise(lit("")),
      lit("site"), (id % 23).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (id % 3 + 1).cast("int")),
      when(id % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), id.cast("string"),
      when(id % 2 === 1, lit("/")).otherwise(lit("")),
      when(id % 2 === 0, concat(lit("?utm_source=feed&id="), id.cast("string")))
        .otherwise(concat(lit("?id="), id.cast("string"))),
      when(id % 7 === 0, lit("#sec")).otherwise(lit("")))
    UrlOps.withDomainStats(
        Tables.documents(spark, dir).select(col("doc_id"), url.as("url")),
        "url")
      .orderBy(col("doc_id"))
  }

  /** Gopher-rule quality battery ([[TextOps.gopherRules]]): the
    * standard five-rule web-curation pre-filter, all metrics in
    * integer micro-units so the FULL table (metrics + keep decision)
    * hash-matches DuckDB replaying the same truncating-div arithmetic.
    * The fixture straddles every threshold that can vary here (word
    * count 10–99 vs the 30 floor; 0–2+ distinct stopwords), so both
    * keep outcomes are exercised.
    */
  def t20GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** Explainable filtering ([[TextOps.filterReasons]]): t20's verdict
    * with the FIRST failing rule named per doc — the audit log that
    * makes a coverage drop attributable by `groupBy(reason)` instead
    * of a re-run. Rule ORDER is part of the contract; the oracle
    * replays the identical CASE chain over the same metric CTEs, so
    * every reason string hash-gates.
    */
  def t42FilterReasons(spark: SparkSession, dir: String): DataFrame =
    TextOps.filterReasons(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** Per-source curation funnel — the WHOLE filter chain's survival
    * report under one hash gate: per source, docs in, docs clearing
    * gopher, docs additionally surviving exact dedup (first-id keeper
    * per text), docs additionally surviving near-dup clustering (the
    * persisted pair graph's cluster representative). Progressive
    * conjunction — each stage counts only what the previous admitted —
    * so the row IS the funnel a pipeline dashboard shows per ingest.
    * The oracle recomposes all three stages (gopher metric CTEs, the
    * keeper window, the recursive-CTE components) from scratch, so the
    * gate pins the COMPOSITION, not just each operator alone.
    */
  def t43CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val g = TextOps.gopherRules(docs).select(col("doc_id"), col("keep").as("g_keep"))
    val keeper = docs.groupBy(col("text")).agg(min(col("doc_id")).as("_keeper"))
    val exact = docs.select(col("doc_id"), col("text"))
      .join(keeper, Seq("text"))
      .select(col("doc_id"), (col("doc_id") === col("_keeper")).cast("long").as("e_keep"))
    val labels = clusterLabels(spark, dir)
    val near = docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .cast("long").as("n_keep"))
    docs.select(col("doc_id"), col("source"))
      .join(g, "doc_id").join(exact, "doc_id").join(near, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("g_keep")).as("n_gopher"),
        sum(col("g_keep") * col("e_keep")).as("n_exact"),
        sum(col("g_keep") * col("e_keep") * col("n_keep")).as("n_unique"))
      .orderBy(col("source"))
  }

  /** Per-source distinctive vocabulary ([[TextOps.distinctiveTerms]]):
    * top-10 tokens per source by share of corpus-wide mass, hapaxes
    * suppressed — the "what makes this source different" report read
    * before mixture reweighting, cut by the custom TopKPerKey operator
    * (t40's plan shape applied to vocabulary). The oracle replays
    * counts + integer share + the QUALIFY cut under the same total
    * order.
    */
  def t44SourceTerms(spark: SparkSession, dir: String): DataFrame =
    TextOps.distinctiveTerms(Tables.documents(spark, dir), k = 10, minCount = 5)
      .orderBy(col("source"), col("share_micro").desc, col("tf_source").desc,
        col("token"))

  /** Unicode NFC normalization ([[graft.functions.NfcNormalize]], true
    * codegen): even-id docs get a REAL decomposed combining sequence
    * appended (`e` + U+0301), which canonical composition must fuse to
    * a single codepoint (é) — so len shrinks by one and `changed`
    * flips exactly on the treated half. Pins JDK `java.text.Normalizer`
    * == DuckDB utf8proc `nfc_normalize` on actual multilingual content,
    * not just ASCII identity. Narrow scan→project→sort.
    */
  def t18Nfc(spark: SparkSession, dir: String): DataFrame = {
    val nfc = graft.functions.GraftFunctions.graftNfc _
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" cafe\u0301")))
          .otherwise(col("text")).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("len_raw"),
        length(nfc(col("raw"))).cast("long").as("len_nfc"),
        when(nfc(col("raw")) =!= col("raw"), lit(1L)).otherwise(lit(0L)).as("changed"))
      .orderBy(col("doc_id"))
  }

  def t01TextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        TextOps.punctCount(col("text")).cast("long").as("n_punct"))
      .orderBy(col("doc_id"))

  /** The SQL-expressible half of [[TextOps.analyze]] under the oracle
    * gate: token/char/punct counts, stopword ratio, and the composite
    * quality score, all read from the ONE-PASS native
    * [[graft.functions.TextMetrics]] expression — so the gate verifies
    * the fused hot path itself, not a column-primitive twin. The
    * engine-specific outputs (heuristic lang-ID, xxhash64 rolling
    * fingerprint, lookaround-regex subword count — none replayable by an
    * RE2/SQL oracle) stay spec-gated in ExtSpec via the full
    * [[TextOps.analyze]] surface. Ratio columns are floor-scaled, not
    * round(6)-ed, for the same cross-engine tie-breaking reason as t05.
    */
  def t02TextAnalyze(spark: SparkSession, dir: String): DataFrame = {
    val ratio = when(col("m.n_tokens") === 0, lit(0.0))
      .otherwise(col("m.stop_hits").cast("double") / col("m.n_tokens"))
    val lenScore = least(col("m.n_chars").cast("double") / 500.0, lit(1.0))
    val punctScore = least(
      col("m.n_punct").cast("double") * 10.0 / greatest(col("m.n_tokens"), lit(1)), lit(1.0))
    val stopScore = least(ratio * 5.0, lit(1.0))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftTextMetrics(col("text")).as("m"))
      .select(col("doc_id"),
        col("m.n_tokens").cast("long").as("n_tokens"),
        col("m.n_chars").cast("long").as("n_chars"),
        col("m.n_punct").cast("long").as("n_punct"),
        (floor(ratio * 1e6) / 1e6).as("stopword_ratio"),
        (floor((lenScore * 0.5 + punctScore * 0.2 + stopScore * 0.3) * 1e6) / 1e6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish token count ([[TextOps.bpeTokenCount]]): GPT-style
    * pre-tokenizer match count, RE2-safe so DuckDB replays it exactly.
    */
  def t07BpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
        col("doc_id"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
      .orderBy(col("doc_id"))

  /** Corpus vocabulary with term + document frequencies — the table a
    * training pipeline derives stopword lists, df-ordered PPJoin
    * prefixes, and tokenizer vocabularies from. One explode + one
    * grouped agg; the shuffle key is the token, map-side partial
    * aggregation shrinks it before the exchange.
    */
  def t03Vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("token"))

  /** Rare-token quality signal ([[TextOps.oovRate]]) against the
    * corpus's top-10 tokens — pure counting, so the whole signal (not a
    * float-fuzzy proxy) hash-matches the oracle.
    */
  def t08OovRate(spark: SparkSession, dir: String): DataFrame =
    TextOps.oovRate(Tables.documents(spark, dir), topK = 10)
      .orderBy(col("doc_id"))

  /** view → click → purchase funnel per user: two composed backward
    * as-of joins ([[graft.ops.AsOf.joinBackward]] — each a single
    * shuffle on user_id, no range-join blowup), counting purchases
    * whose most recent prior click itself had a prior view. The final
    * projection keeps only view_id, which is tie-insensitive: two
    * clicks at the same (user, ts) necessarily share the same most
    * recent prior view, so the compose is deterministic cross-engine
    * even where as-of tie-breaking could differ. Oracle: two nested
    * DuckDB ASOF LEFT JOINs.
    */
  def e05Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def typed(t: String) = ev.filter(col("event_type") === t)
    val views = typed("view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
    val clicks = typed("click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val purchases = typed("purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clickWithView = graft.ops.AsOf.joinBackward(clicks, views,
      Seq("user_id"), "ts", "ts", Seq("view_id"))
    val purchaseWithClick = graft.ops.AsOf.joinBackward(purchases,
      clickWithView.select(col("user_id"), col("ts"), col("click_id"), col("view_id")),
      Seq("user_id"), "ts", "ts", Seq("click_id", "view_id"))
    purchaseWithClick.filter(col("view_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_funnels"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention — the classic product-analytics rollup: each
    * user joins the cohort of their FIRST activity week; the report
    * counts distinct users per (cohort_week, week_offset) — the
    * retention-curve matrix. Integer day/week arithmetic on epoch-ns
    * (`ts` is non-negative, so truncating div == flooring //).
    *
    * Plan at scale: per-user first-day is ONE map-side-combined
    * aggregation (user cardinality, not event cardinality); the
    * events⋈first-day join is co-keyed on user_id (one shuffle each
    * side, AQE may broadcast the smaller); the final matrix agg is
    * partial-combined into a frame of #cohorts × #offsets rows.
    */
  def e07CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts div $dayNs").as("day"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(firstDay, Seq("user_id"))
      .groupBy(expr("cohort_day div 7").as("cohort_week"),
        expr("(day - cohort_day) div 7").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Event-type transition matrix (the Markov/Sankey view of user
    * behavior): per user, order events by (ts, event_id) and count each
    * adjacent (prev → next) type pair. One window pass keyed on
    * user_id (the q23 lag machinery), then a tiny
    * type²-cardinality aggregate — the corpus-sized exchange is the
    * user partitioning, everything after is map-side combined. The
    * (ts, event_id) tie-break makes the sequence — and so the matrix —
    * deterministic cross-engine.
    */
  def e08Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Trailing-window spike detection — the ops/observability view of
    * the event stream: per (event_type, hour), flag hours whose count
    * exceeds 2× the trailing-24-hour hourly average, spelled as the
    * integer cross-multiplication `cnt·24 > 2·Σ(trailing 24h)` so the
    * decision is exact in both engines. The RANGE frame (24 PRECEDING
    * TO 1 PRECEDING on the integer hour) makes calendar GAPS count as
    * zero traffic — a row-frame would silently stretch the baseline
    * past quiet hours. Warm-up hours (< 24h of history per type) are
    * excluded via a per-type min-hour. Scale: the corpus-sized work is
    * ONE (type, hour) aggregation (map-side combined); every window
    * runs on the counts table — types × hours cardinality, time-
    * bounded, never event-sized.
    */
  def e10SpikeDetection(spark: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600000000000L
    val counts = Tables.events(spark, dir)
      .select(col("event_type"), expr(s"ts div $hourNs").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"))
    // the report core is SHARED with the continuous detector
    // (graft.streaming.StreamingSpike) — stream == batch parity holds
    // by construction on the arithmetic, and the spec pins it on the
    // ingested state
    graft.streaming.StreamingSpike.spikeReport(counts)
  }

  /** Top session paths — the behavioral-pattern report on top of
    * sessionization: 30-min gaps-and-islands sessions (the q13
    * machinery with an explicit (ts, event_id) tie-break, since PATH
    * CONTENT — unlike q13's counts — depends on event order), each
    * session's ordered event-type sequence joined into a path string,
    * top-20 paths by session count. collect_list is order-nondetermin-
    * istic under shuffle, so the path assembles via array_sort over
    * (ts, event_id, type) structs — deterministic on any partitioning;
    * DuckDB replays with ORDER BY inside string_agg.
    */
  /** Ordered funnel analysis — the product-analytics staple: per user,
    * the earliest view, the earliest click STRICTLY AFTER that view,
    * and the earliest purchase strictly after that click, plus the
    * funnel stage reached (0–3). Sequential dependence is spelled as
    * LAYERED RUNNING MINIMA over one (user, ts, event_id) sort: vrun =
    * running min of view times, a click qualifies when ts > vrun at
    * its own position (an earlier view exists), crun = running min of
    * qualified clicks, a purchase qualifies against crun — so the
    * whole funnel is two window passes + one aggregate over a SINGLE
    * exchange (plan-pinned), never a per-stage self-join chain. Times
    * are epoch-nanos integers; ties on equal ts break by event_id
    * identically in both engines (ROWS frame, unique order key).
    */
  def e11Funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("view_t", when(col("event_type") === "view", col("ts")))
      .withColumn("vrun", min(col("view_t")).over(w))
      .withColumn("click_t",
        when(col("event_type") === "click" && col("ts") > col("vrun"), col("ts")))
      .withColumn("crun", min(col("click_t")).over(w))
      .withColumn("purchase_t",
        when(col("event_type") === "purchase" && col("ts") > col("crun"), col("ts")))
      .groupBy(col("user_id"))
      .agg(min(col("view_t")).as("first_view"),
        min(col("click_t")).as("first_click"),
        min(col("purchase_t")).as("first_purchase"))
      .withColumn("stage",
        when(col("first_purchase").isNotNull, 3L)
          .when(col("first_click").isNotNull, 2L)
          .when(col("first_view").isNotNull, 1L).otherwise(0L))
      .orderBy(col("user_id"))
  }

  def e09SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapNs = 1800000000000L
    val sess = Tables.events(spark, dir)
      .withColumn("new_session",
        when(lag(col("ts"), 1).over(byUser).isNull
          || col("ts") - lag(col("ts"), 1).over(byUser) > gapNs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).cast("long").as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Deterministic 80/10/10 split assignment
    * ([[graft.ops.Sampling.hashSplit]]): the label is a pure function of
    * the id hash with INTEGER thresholds, so the full assignment table
    * hash-matches the oracle — reproducible splits are an audit
    * requirement for any training corpus.
    */
  def t09HashSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hashSplit(Tables.documents(spark, dir), Seq("doc_id"),
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Deterministic k-per-key sample under the gate
    * ([[graft.ops.Sampling.perKeyExactMd5]] — the md5 twin of the
    * xxhash64 [[graft.ops.Sampling.perKeyExact]], bringing the
    * stratified-draw family under a full oracle): five documents per
    * source, ranked by the seeded 60-bit md5 priority of the id with
    * id tie-break — the "k examples per domain" eval-set draw,
    * reproducible across engines by construction. The truncation runs
    * on the custom TopKPerKey operator (one exchange, streamed k-row
    * heaps, ≤ |sources|·k rows out); the oracle replays priority +
    * rank in SQL, so the exact sampled id set hash-gates.
    */
  def t40PerKeySample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.perKeyExactMd5(
        Tables.documents(spark, dir).select(col("source"), col("doc_id")),
        "source", "doc_id", k = 5)
      .orderBy(col("source"), col("doc_id"))

  /** Top-20 collocations by PMI ([[TextOps.collocationsPmi]], min
    * count 5): the multiword-unit miner, ranked WITHOUT logs — PMI's
    * log is monotone, so the integer rational `c_xy·N·10⁶ div
    * (c_x·c_y)` (exact through DECIMAL(38) == DuckDB HUGEINT floor)
    * orders identically, every score hash-gates, and the top-k cutoff
    * is deterministic with (score desc, bigram) ties. Count tables
    * are map-side-combined; the cutoff is a TakeOrdered.
    */
  def t41Collocations(spark: SparkSession, dir: String): DataFrame =
    TextOps.collocationsPmi(Tables.documents(spark, dir), k = 20, minCount = 5)
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))

  /** PII scrubbing under the gate ([[TextOps.redactPii]]): the fixture
    * text carries no PII, so the query INJECTS a deterministic contact
    * line (email + phone + IP derived from doc_id) and then redacts —
    * the oracle replays injection and redaction byte-identically, so
    * any divergence in pattern semantics or replacement order
    * hash-mismatches. Output is the full redacted text plus the
    * per-stage redaction count.
    */
  def t10Redact(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact: user"), col("doc_id"), lit("@example.com or +1 (555) 123-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" at 10.0."), pmod(col("doc_id"), lit(256)), lit(".7")).as("text"))
    withPii.select(col("doc_id"),
        TextOps.redactPii(col("text")).as("redacted"),
        TextOps.piiCount(col("text")).cast("long").as("n_pii"))
      .orderBy(col("doc_id"))
  }

  /** Extended PII scrubbing under the gate
    * ([[TextOps.redactPiiExtended]], r13 verdict task 5): t10's classes
    * plus Luhn-VALIDATED credit cards, mod-97-VALIDATED IBANs, and
    * SSN-shaped ids. The fixture text carries no PII, so the query
    * injects all six classes deterministically from doc_id — the card
    * gets a REAL Luhn check digit when doc_id is even and a corrupted
    * one otherwise (likewise mod-97 for the IBAN on doc_id % 3), so
    * the gate pins the checksum logic itself: a broken Luhn/mod-97
    * would mis-classify half the corpus and hash-mismatch. Stage
    * ordering is pinned the same way t10 pinned IP-before-phone: an
    * invalid card/IBAN left in place must fall through to the phone
    * stage's digit-run scrubber byte-identically in both engines.
    * Output is the fully redacted text plus all six per-stage counts.
    */
  def t45RedactExtended(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    // 15 card payload digits (left positions 1..15): (doc_id + 7p) % 10
    val cardDigits = transform(sequence(lit(1L), lit(15L)),
      p => pmod(d + p * 7, lit(10)))
    // Luhn weights with the check digit at right position 1: left
    // position p sits at right position 17-p, doubled when even ⟺ p odd
    // (0-based transform index i: p = i+1, so doubled at i even)
    val luhnSum = aggregate(
      transform(cardDigits, (dig, i) => {
        val dbl = when(dig * 2 > 9, dig * 2 - 9).otherwise(dig * 2)
        when(i % 2 === 0, dbl).otherwise(dig)
      }), lit(0L), (a, x) => a + x)
    val cv = pmod(lit(10L) - pmod(luhnSum, lit(10L)), lit(10L))
    val check = when(pmod(d, lit(2)) === 0, cv).otherwise(pmod(cv + 5, lit(10L)))
    val d16 = concat(
      array_join(transform(cardDigits, _.cast("string")), ""),
      check.cast("string"))
    val card = concat_ws("-", substring(d16, 1, 4), substring(d16, 5, 4),
      substring(d16, 9, 4), substring(d16, 13, 4))
    // 18 BBAN digits; check digits from the standard rearrangement
    // (BBAN ++ "1314" (DE) ++ "00"), folded (acc·10+d) mod 97
    val bbanDigits = transform(sequence(lit(1L), lit(18L)),
      i => pmod(d * 3 + i, lit(10)))
    val bban = array_join(transform(bbanDigits, _.cast("string")), "")
    val m97 = aggregate(
      concat(bbanDigits, array(lit(1L), lit(3L), lit(1L), lit(4L), lit(0L), lit(0L))),
      lit(0L), (a, x) => (a * 10 + x) % 97)
    val c97 = lit(98L) - m97
    val cInv = when(c97 >= 98, lit(97L)).otherwise(c97 + 1)
    val iban = concat(lit("DE"),
      lpad(when(pmod(d, lit(3)) === 0, c97).otherwise(cInv).cast("string"), 2, "0"),
      bban)
    val ssn = concat_ws("-",
      lpad(pmod(d * 13, lit(1000)).cast("string"), 3, "0"),
      lpad(pmod(d, lit(100)).cast("string"), 2, "0"),
      lpad(pmod(d * 7, lit(10000)).cast("string"), 4, "0"))
    val withPii = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact: user"), col("doc_id"), lit("@example.com or +1 (555) 123-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" at 10.0."), pmod(col("doc_id"), lit(256)), lit(".7"),
        lit(" ssn: "), ssn, lit(" card: "), card, lit(" iban: "), iban).as("text"))
    TextOps.piiExtendedReport(withPii).orderBy(col("doc_id"))
  }

  /** HTML-to-text extraction under the gate ([[TextOps.htmlToText]],
    * r14 verdict task 3): the fixture text is wrapped in a
    * deterministic full-page skeleton — doctype, head with `<style>`
    * and `<script>` BLOCKS whose contents contain `<`/`>`/fake tags
    * (tag-stripping alone would leak them — removing blocks wholesale
    * is what the gate pins), attribute-carrying tags, an HTML comment,
    * and an entity battery: named core refs, decimal refs both
    * in-range (`&#65+id%26;`, `&#169;`) and out-of-range (`&#999;`
    * must survive INTACT), the double-escape `&amp;lt;` (must decode
    * to the literal text `&lt;`, pinning amp-LAST ordering), and the
    * malformed `&#;` / trailing `&#` (kept as-is). The DuckDB oracle
    * replays injection + the whole four-stage chain byte-identically,
    * so extraction IS the thing hash-gated, not a summary of it.
    */
  def t46HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val nl = "\n"
    val html = concat(
      lit("<!DOCTYPE html>" + nl + "<html lang=\"en\">" + nl + "<head>" + nl + "<title>Doc "), d,
      lit("</title>" + nl +
        "<style type=\"text/css\">body { color: #fff; } /* a > b */</style>" + nl +
        "<script>if (1 < 2 && 2 > 1) { var s = \"<p>not content</p>\"; }</script>" + nl +
        "</head>" + nl + "<body>" + nl + "<h1 class=\"t\">Doc &quot;"), d, lit("&quot; &#"),
      (lit(65) + pmod(d, lit(26))).cast("string"), lit(";</h1>" + nl + "<!-- hidden "), d,
      lit(" -->" + nl + "<p>"), col("text"),
      lit("</p>" + nl + "<p>Tom&nbsp;&amp; Jerry &lt;tag&gt; &#169; id "), d,
      lit(" &#999; &amp;lt; &#; x&#</p>" + nl + "</body>" + nl + "</html>"))
    Tables.documents(spark, dir)
      .select(d, TextOps.htmlToText(html).as("extracted"))
      .withColumn("n_chars", length(col("extracted")).cast("long"))
      .orderBy(d)
  }

  /** Per-JVM locations of already-built contamination indexes, keyed by
    * (data dir, n). Fresh temp dirs per process — never reused across
    * runs, so a regenerated fixture can't serve a stale artifact; within
    * a process (e.g. Bench's warmup + 3 measured passes) the corpus side
    * is built ONCE and probed thereafter, the production access pattern.
    */
  private val contamIdx = new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()

  /** Per-JVM locations of the persisted pair-graph artifacts
    * ([[Dedup.writePairGraph]] / [[Dedup.writeContainmentPairGraph]]),
    * keyed by (data dir, kind) — same lifecycle rules as [[contamIdx]]:
    * fresh temp dirs per process (a regenerated fixture can never serve
    * a stale artifact), built once per process and READ thereafter.
    * This is the shape a production pipeline runs: the pair graph —
    * the single most expensive intermediate of the whole curation
    * chain — is computed once per corpus snapshot and every consumer
    * (clustering, drop policies, representative selection, PageRank,
    * triangles) reads the artifact instead of re-deriving the
    * shingle → inverted-index → verify chain per query.
    */
  private val pairGraphDir = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** The persisted d02 exact-Jaccard pair graph (n=3, j ≥ 0.5) for a
    * data dir — built on first use in this JVM, read back thereafter.
    */
  private def jaccardPairGraph(spark: SparkSession, dir: String): DataFrame = {
    val path = pairGraphDir.computeIfAbsent((dir, "jaccard"), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_pair_graph")
        .toFile.getAbsolutePath + "/pairs"
      Dedup.writePairGraph(Tables.documents(spark, dir), p, n = 3, minJaccard = 0.5)
      p
    })
    Dedup.readPairGraph(spark, path)
  }

  /** The clustering of the persisted pair graph as a per-process
    * artifact — the pair-graph pattern one level up: the labeling is
    * computed ONCE per corpus snapshot (it is exactly what
    * [[Dedup.updateClusters]] maintains incrementally at ingest time)
    * and every downstream REPORT reads it instead of re-propagating
    * components per registration. d11 keeps its from-scratch
    * registration so the propagation op itself stays measured, and
    * d19/d20 keep clustering inside their compositions (the gated
    * policies); pure consumers (d38, t43) read this.
    */
  private val clusterLabelsDir = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val path = clusterLabelsDir.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_cluster_labels")
        .toFile.getAbsolutePath + "/labels"
      Dedup.clusters(jaccardPairGraph(spark, dir))
        .select(col("id"), col("cluster_id"))
        .write.mode("overwrite").parquet(p)
      p
    })
    spark.read.parquet(path)
  }

  /** The persisted d13 containment pair graph (n=3, t ≥ 0.6). Built
    * with the asymmetric PPJoin prefix strategy — the zipfian-corpus
    * scale path stays exercised (once per process, where it belongs)
    * while its consumers pay artifact-read cost.
    */
  private def containmentPairGraph(spark: SparkSession, dir: String): DataFrame = {
    val path = pairGraphDir.computeIfAbsent((dir, "containment"), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_pair_graph")
        .toFile.getAbsolutePath + "/pairs"
      Dedup.writeContainmentPairGraph(Tables.documents(spark, dir), p, n = 3,
        minContainment = 0.6, prefixFilter = true, broadcastDf = true)
      p
    })
    Dedup.readPairGraph(spark, path)
  }

  /** Decontamination gate ([[Dedup.ngramContamination]]): docs with
    * doc_id % 17 == 0 play the eval set, the rest the training corpus.
    * The corpus side reads a persisted [[Dedup.contaminationIndex]]
    * (built on first call per dir in this JVM) instead of re-deriving
    * the corpus-distinct shingles per invocation — same green oracle,
    * artifact-probing plan.
    */
  def d12Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val path = contamIdx.computeIfAbsent((dir, 3), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_contam_idx")
        .toFile.getAbsolutePath + "/idx"
      Dedup.writeContaminationIndex(corpus, p, n = 3)
      p
    })
    Dedup.ngramContamination(
        docs.filter(col("doc_id") % 17 === 0), corpus, n = 3,
        corpusShingles = Some(Dedup.readContaminationIndex(spark, path)))
      .orderBy(col("doc_id"))
  }

  /** The Bloom-prefiltered EXACT decontamination scan
    * ([[Dedup.ngramContaminationBloomExact]]) — d12's 100 TB scale path
    * under the same oracle: the verify join runs only on shingles the
    * broadcast corpus Bloom admits, and because the survivors are still
    * exactly verified the result is bit-identical to d12 at any fpp.
    * Same fixture split, same persisted [[Dedup.contaminationIndex]]
    * artifact (feeding both the Bloom build and the verify side), same
    * DuckDB SQL — so the gate proves the prefilter is lossless, not
    * just that the approx twin is close.
    */
  def d40ContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val path = contamIdx.computeIfAbsent((dir, 3), { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft_contam_idx")
        .toFile.getAbsolutePath + "/idx"
      Dedup.writeContaminationIndex(corpus, p, n = 3)
      p
    })
    Dedup.ngramContaminationBloomExact(
        docs.filter(col("doc_id") % 17 === 0), corpus, n = 3, fpp = 0.01,
        corpusShingles = Some(Dedup.readContaminationIndex(spark, path)))
      .orderBy(col("doc_id"))
  }

  /** Within-doc repetition filter ([[TextOps.repetitionRatio]]) — fully
    * narrow (native shingle set size vs token arithmetic), gate checks
    * the whole signal.
    */
  def t11Repetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionRatio(Tables.documents(spark, dir), n = 3)
      .orderBy(col("doc_id"))

  /** C4/CCNet-style line-level boilerplate removal
    * ([[TextOps.dropBoilerplateLines]]) under the gate: the fixture is
    * a flat token stream, so segmentation is 8-token windows
    * ([[TextOps.linesByTokenWindow]] — the same windowing a real corpus
    * uses when its line structure is untrustworthy); every line
    * occurring in ≥ 3 distinct documents is dropped and the survivors
    * are reassembled in document order. The oracle replays
    * segmentation, df, filter, and ordered reassembly — so a wrong
    * window boundary, a df-vs-tf mix-up, or an unstable reassembly
    * order all hash-mismatch on the full cleaned TEXT, not a proxy.
    */
  def t12LineDedup(spark: SparkSession, dir: String): DataFrame =
    TextOps.dropBoilerplateLines(
        TextOps.linesByTokenWindow(Tables.documents(spark, dir), tokensPerLine = 8),
        minDf = 3, sep = " ")
      .orderBy(col("doc_id"))

  /** Cross-document repeated-span removal
    * ([[TextOps.removeRepeatedSpans]], the Lee-et-al substring-dedup
    * removal step) under the gate: every token covered by a 5-gram
    * occurring in ≥ 2 distinct docs is cut; the oracle replays gram
    * positions, cross-doc df, interval coverage, and ordered
    * reassembly on the full cleaned TEXT — so an off-by-one in the
    * span arithmetic or a within-doc/cross-doc df mix-up
    * hash-mismatches.
    */
  def t14SpanDedup(spark: SparkSession, dir: String): DataFrame =
    TextOps.removeRepeatedSpans(Tables.documents(spark, dir), n = 5, minDocs = 2)
      .orderBy(col("doc_id"))

  /** Token-budget training shards ([[graft.ops.PrefixSum
    * .tokenBudgetShards]]): pack the corpus into ≈512-token shards by a
    * distributed two-phase prefix sum — NO single-partition window
    * anywhere (pinned in PlanSpec; the naive Window.orderBy spelling
    * collapses 100 TB onto one task). All-integer assignment, so the
    * full (doc, tokens, shard) table hash-matches the oracle's
    * ordinary SQL running total.
    */
  def t13TokenShards(spark: SparkSession, dir: String): DataFrame =
    graft.ops.PrefixSum.tokenBudgetShards(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), budget = 512L)
      .select(col("doc_id"), col("n_tokens"), col("shard"))
      .orderBy(col("doc_id"))

  def j01JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("k") > 50)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  /** Hourly tumbling windows over the events stream table (batch shape;
    * the streaming variant lives in graft.streaming). ts is epoch-nanos
    * (see GraftSession) so the bucket is integer division.
    */
  def e01EventWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("window_hour", expr("ts div 3600000000000"))
      .groupBy(col("window_hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .orderBy(col("window_hour"), col("event_type"))

  /** For each click, the most recent prior view by the same user —
    * backward as-of join ([[graft.ops.AsOf.joinBackward]]; single
    * shuffle on user_id, no range-join blowup). Oracle: DuckDB ASOF
    * LEFT JOIN.
    */
  def e02AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        col("event_id").as("view_event_id"), col("value").as("view_value"))
    graft.ops.AsOf.joinBackward(clicks, views, Seq("user_id"), "ts", "ts",
        Seq("view_event_id", "view_value"))
      .select(col("event_id"), col("user_id"),
        // µs grid: DuckDB reads TIMESTAMP(NANOS) at µs precision
        expr("ts div 1000").as("click_us"),
        col("view_event_id"), col("view_value"))
      .orderBy(col("event_id"))
  }

  /** Fingerprint-based dedup clusters: documents sharing their minimal
    * shingle digest form a near-dup group with a kept representative —
    * the cheap first-stage dedup a pipeline runs before the pairwise
    * operators (one narrow fingerprint pass + one grouped agg; nothing
    * quadratic anywhere).
    */
  def d06FingerprintDedup(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftFingerprint(lower(col("text")), 3).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .orderBy(col("keep_id"))
  }

  /** Composite quality score per document (length / punctuation /
    * stopword heuristics, [[graft.ext.TextOps.qualityScore]]) — fully
    * SQL-expressible, so the heuristic itself sits under the oracle
    * gate rather than only under specs.
    */
  def t05Quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        // floor-scale instead of round(_, 6): round() tie-breaking at an
        // exact .5 digit differs between engines; floor is deterministic
        (floor(TextOps.qualityScoreRaw(col("text")) * 1e6) / 1e6).as("quality"))
      .orderBy(col("doc_id"))

  /** Marker-table language ID — the stopword/character heuristic a
    * curation pipeline runs before any language-specific filtering.
    * Served by the fused one-pass native expression
    * ([[graft.functions.TextMetrics]]'s lang_pred/lang_hits fields;
    * the declarative [[TextOps.langIdScored]] twin is ~5 interpreted
    * HOF passes + 6 regex passes over the same text — equality of the
    * two is pinned in ExtSpec). Narrow, no shuffle, no UDF; the whole
    * heuristic — scores, argmax, tie-break, 'en' fallback — replays
    * in SQL and sits under the hash gate.
    */
  def t15LangId(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftTextMetrics(col("text")).as("m"))
      .select(col("doc_id"), col("m.lang_pred").as("lang_pred"),
        col("m.lang_hits").as("hits"))
      .orderBy(col("doc_id"))
  }

  /** Link harvesting + canonicalization ([[TextOps.htmlLinks]] →
    * [[graft.ext.UrlOps]]): the crawl-frontier half of page
    * processing. Each doc gets a deterministic page with three anchors
    * — mixed attribute case/whitespace (`HREF = "..."`), a
    * scheme-uppercase `:80` fragment-bearing URL, utm params, and an
    * EMPTY href (extracted but filtered, pinning the boundary) — then
    * the extracted links run the t21 canonicalize/domain composition.
    * The oracle replays extraction with the same RE2 pattern and
    * canonicalization with t21's SQL fragments, so the whole
    * page→frontier chain sits under the hash gate.
    */
  def t48HtmlLinks(spark: SparkSession, dir: String): DataFrame =
    syntheticHarvestedLinks(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("pos"))

  /** The t48 harvest chain without the presentation sort, factored so
    * consumers (t52's decision table, t55's frontier) compose on the
    * narrow unordered chain — a mid-plan `orderBy` would force a
    * useless range-partition sort right before their own shuffles.
    */
  def syntheticHarvestedLinks(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val url1 = concat(lit("https://"),
      when(pmod(d, lit(4)) === 0, lit("www.")).otherwise(lit("")),
      lit("site"), pmod(d, lit(23)).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (pmod(d, lit(3)) + 1).cast("int")),
      when(pmod(d, lit(5)) === 0, lit(":443")).otherwise(lit("")),
      lit("/a/"), d,
      when(pmod(d, lit(2)) === 0, lit("?utm_source=feed&q=1"))
        .otherwise(lit("?q=1")))
    val url2 = concat(lit("HTTP://site"), pmod(d, lit(7)).cast("string"),
      lit(".com:80/b/"), d, lit("#frag"))
    // the messy-attribute spellings (r15 verdict task 6): a
    // single-quoted href and an unquoted one (terminated by the space
    // before the next attribute), the latter with an uppercase
    // scheme/host + a stripped utm_ param so the canonicalizer runs on
    // both new branches too
    val url3 = concat(lit("https://site"), pmod(d, lit(11)).cast("string"),
      lit(".org/c/"), d)
    val url4 = concat(lit("HTTPS://WWW.Site"), pmod(d, lit(13)).cast("string"),
      lit(".NET/d/"), d, lit("?utm_x=1&z="), pmod(d, lit(3)).cast("string"))
    val html = concat(
      lit("<html><body><p>intro</p><a class=\"x\" href=\""), url1,
      lit("\">one</a><p>mid</p><a HREF = \""), url2,
      lit("\">two</a><a href='"), url3,
      lit("'>three</a><a href="), url4,
      lit(" class=z>four</a><a href=\"\">anchor</a></body></html>"))
    val links = docs
      .select(d, posexplode(TextOps.htmlLinks(html)))
      .withColumnRenamed("col", "href")
      .filter(col("href") =!= "")
    val canon = graft.ext.UrlOps.canonicalizeUrl(col("href"))
    links.select(d, col("pos").cast("long").as("pos"), col("href"),
      canon.as("url_canon"),
      graft.ext.UrlOps.registrableDomain(canon).as("domain"))
  }

  /** robots.txt politeness decisions ([[graft.ext.UrlOps.parseRobots]]
    * + [[graft.ext.UrlOps.robotsDecisions]]) over the t48 harvest: the
    * crawl-frontier filter that runs right after link harvesting. The
    * fixture synthesizes a deterministic robots.txt per harvested
    * domain (formula over the site number k and TLD index t) that
    * exercises the whole parser: comments, mixed-case directives,
    * multi-group files, a `graftbot`-specific group that OVERRIDES `*`
    * on k%4 domains, an RFC no-op empty Disallow, and an equal-length
    * Allow/Disallow tie (k%7 ∧ (k+t)%2 domains) pinning the
    * allow-wins rule. The gate covers the full per-link decision
    * table — group selection, longest-prefix match, tie-break, and
    * the no-match default all hash-gate.
    */
  def t52Robots(spark: SparkSession, dir: String): DataFrame =
    robotsDecisionTable(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("pos"))

  /** The t52 decision table without the presentation sort, factored
    * for the t55 frontier composition (same reasoning as
    * [[syntheticHarvestedLinks]]).
    */
  def robotsDecisionTable(docs: DataFrame): DataFrame =
    // harvest ONCE (r16 narrow-checkpoint pattern, r17): the links
    // table feeds the robots synthesis (domain distinct), the rule
    // match AND the decision join-back — three whole-harvest
    // evaluations (documents scan + href explode + canonicalization)
    // inside one action without the checkpoint. Links are narrow
    // strings/longs, never arrays. The returned frame reads the
    // checkpoint lazily; the session seam (Blocks.sweep) reclaims it.
    robotsDecisionsFromLinks(syntheticHarvestedLinks(docs).localCheckpoint())

  /** The t52 decision chain over an already-materialized links frame,
    * factored so t56 can share ONE harvest checkpoint between the
    * decision table and the Crawl-delay table.
    */
  private def robotsDecisionsFromLinks(links: DataFrame): DataFrame = {
    val rules = graft.ext.UrlOps.parseRobots(syntheticRobots(links), "graftbot")
    graft.ext.UrlOps.robotsDecisions(links, rules, Seq("doc_id", "pos"))
      .select(col("doc_id"), col("pos"), col("url_canon"), col("domain"),
        col("path"),
        // no-match rows carry '' — the gate checker hashes no NULLs
        coalesce(col("matched_prefix"), lit("")).as("matched_prefix"),
        col("allowed"))
  }

  /** The per-domain robots.txt fixture, factored so the t52 decisions
    * and the t56 delay schedule parse the SAME files. Rule lines are
    * the original t52 battery; the Crawl-delay lines exercise the t56
    * parser without touching t52 (its parser filters them out before
    * segmentation): a HEADERLESS delay on k%11 domains (binds nobody),
    * a malformed `fast` on k%9 (ignored — numeric guard), a `*`-group
    * value on k%2, and a graftbot-group `7` on k%4 (the exact-UA
    * override applies to delays too).
    */
  def syntheticRobots(links: DataFrame): DataFrame = {
    val k = regexp_extract(col("domain"), "site([0-9]+)", 1).cast("int")
    val t = when(col("domain").endsWith(".com"), 0)
      .when(col("domain").endsWith(".org"), 1).otherwise(2)
    links.select(col("domain")).distinct()
      .withColumn("robots_txt", concat(
        lit("# graft politeness fixture\n"),
        when(k % 11 === 0, lit("Crawl-delay: 9\n")).otherwise(lit("")),
        lit("User-Agent: *\n"),
        when((k + t) % 2 === 0, lit("DisAllow: /a/\n")).otherwise(lit("")),
        when(k % 3 === 0, lit("Allow: /a/1\n")).otherwise(lit("")),
        when(k % 7 === 0, lit("Allow: /a/\n")).otherwise(lit("")),
        when(k % 5 === 0, lit("Disallow:\n")).otherwise(lit("")),
        when(k % 9 === 0, lit("Crawl-delay: fast\n")).otherwise(lit("")),
        when(k % 2 === 0, concat(lit("Crawl-delay: "),
          (k % 5 + 1).cast("string"), lit("\n"))).otherwise(lit("")),
        when(k % 4 === 0, concat(
          lit("\nUser-agent: graftbot\nDisallow: /b/\nAllow: /b/"),
          k.cast("string"), lit("\nCrawl-delay: 7\n"))).otherwise(lit(""))))
  }

  /** RFC 9309 WILDCARD politeness decisions
    * ([[graft.ext.UrlOps.robotsDecisions]] over a `*`/`$` rule
    * battery — closing t52's documented wildcard boundary): the same
    * t48 harvest decided against a per-domain fixture that exercises
    * every wildcard branch — a mid-pattern `*` disallow, an ANCHORED
    * allow that outranks it by literal length (9 vs 4: the RFC
    * longest-match rule generalized to wildcards), an equal-literal
    * Allow/Disallow tie on the same anchored pattern (allow wins), a
    * literal rule beaten by a MORE-literal wildcard (`/c/` vs the
    * anchored 4-literal-char `/c/&#42;7$`), a `?`-bearing pattern
    * that must be regex-ESCAPED
    * before matching, and a graftbot-specific wildcard group that
    * overrides the `*` groups entirely. The oracle re-derives the
    * pattern→RE2 conversion (escape, `*`→`.*`, trailing-`$` anchor)
    * and the literal-length precedence in SQL, so the full wildcard
    * decision table — conversion, matching, specificity, tie-break,
    * no-match default — sits under the hash gate.
    */
  def t52bRobotsWildcards(spark: SparkSession, dir: String): DataFrame = {
    // harvest once — the robotsDecisionTable r17 pattern
    val links = syntheticHarvestedLinks(Tables.documents(spark, dir))
      .localCheckpoint()
    val rules = graft.ext.UrlOps.parseRobots(
      syntheticRobotsWildcard(links), "graftbot")
    graft.ext.UrlOps.robotsDecisions(links, rules, Seq("doc_id", "pos"))
      .select(col("doc_id"), col("pos"), col("url_canon"), col("domain"),
        col("path"),
        coalesce(col("matched_prefix"), lit("")).as("matched_prefix"),
        col("allowed"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** The t52b wildcard robots fixture (formula over the site number
    * k): see [[t52bRobotsWildcards]] for what each rule pins.
    */
  def syntheticRobotsWildcard(links: DataFrame): DataFrame = {
    val k = regexp_extract(col("domain"), "site([0-9]+)", 1).cast("int")
    links.select(col("domain")).distinct()
      .withColumn("robots_txt", concat(
        lit("# graft wildcard fixture\nUser-Agent: *\n"),
        when(k % 2 === 0, lit("Disallow: /a/*1\n")).otherwise(lit("")),
        when(k % 3 === 0, lit("Allow: /a/*1?q=1$\n")).otherwise(lit("")),
        when(k % 4 === 0, lit("Disallow: /b/*3$\n")).otherwise(lit("")),
        when(k % 8 === 0, lit("Allow: /b/*3$\n")).otherwise(lit("")),
        when(k % 5 === 0, lit("Disallow: /c/\nAllow: /c/*7$\n"))
          .otherwise(lit("")),
        when(k % 7 === 0, lit("Disallow: /d/*?z=2$\n")).otherwise(lit("")),
        when(k % 5 === 0, lit("Disallow:\n")).otherwise(lit("")),
        when(k % 6 === 0, lit("\nUser-agent: graftbot\nDisallow: /*3$\n"))
          .otherwise(lit(""))))
  }

  /** Link-graph rollup: t48's harvested per-link table aggregated to
    * the (page source, target domain) crawl-prioritization table — the
    * frontier summary a crawler ranks by (how many links, from how
    * many distinct pages, does each source community send to each
    * domain). Pure GROUP BY over the gate-proven narrow chain: the
    * only shuffle is the rollup itself, keyed at domain cardinality.
    */
  def t51LinkGraph(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val url1 = concat(lit("https://"),
      when(pmod(d, lit(4)) === 0, lit("www.")).otherwise(lit("")),
      lit("site"), pmod(d, lit(23)).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (pmod(d, lit(3)) + 1).cast("int")),
      when(pmod(d, lit(5)) === 0, lit(":443")).otherwise(lit("")),
      lit("/a/"), d,
      when(pmod(d, lit(2)) === 0, lit("?utm_source=feed&q=1"))
        .otherwise(lit("?q=1")))
    val url2 = concat(lit("HTTP://site"), pmod(d, lit(7)).cast("string"),
      lit(".com:80/b/"), d, lit("#frag"))
    val html = concat(
      lit("<html><body><p>intro</p><a class=\"x\" href=\""), url1,
      lit("\">one</a><p>mid</p><a HREF = \""), url2,
      lit("\">two</a><a href=\"\">anchor</a></body></html>"))
    val links = Tables.documents(spark, dir)
      .select(d, col("source"), explode(TextOps.htmlLinks(html)).as("href"))
      .filter(col("href") =!= "")
    val canon = graft.ext.UrlOps.canonicalizeUrl(col("href"))
    links
      .select(col("source"),
        graft.ext.UrlOps.registrableDomain(canon).as("domain"), d)
      .groupBy(col("source"), col("domain"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("doc_id")).as("n_pages"))
      .orderBy(col("source"), col("domain"))
  }

  /** WARC-style container ingestion under the gate
    * ([[TextOps.warcRecords]] / [[graft.functions.WarcRecords]]): the
    * step BEFORE every page-processing operator — a crawl file is a
    * concatenation of Content-Length-framed records, and t46/t48/t47
    * all start from the `response` payloads this walk yields. Each doc
    * becomes a deterministic three-record container (warcinfo without
    * a target URI, a response whose HTML payload embeds the
    * DELIMITER TRAP `\r\n\r\nWARC/1.0\r\n` inside a comment plus a
    * multi-byte `é` — so only a parser that frames by the
    * Content-Length BYTE count, never by delimiter search or codepoint
    * arithmetic, reproduces the records — and a metadata record). The
    * oracle replays the injection formulas directly (the t45 pattern):
    * every rec_type/uri/payload and the byte-exact content_length
    * (`octet_length` ↔ `strlen`) sit under the hash gate, so a
    * mis-framed walk truncates payloads or drops records and fails.
    */
  def t53WarcRecords(spark: SparkSession, dir: String): DataFrame =
    TextOps.warcRecords(syntheticWarcPages(Tables.documents(spark, dir)))
      .orderBy(col("doc_id"), col("rec_pos"))

  /** The t53 fixture chain, factored for reuse by the bench probe and
    * the tour: each doc becomes a (doc_id, warc) three-record
    * container with the delimiter trap and a multi-byte payload char.
    */
  def syntheticWarcPages(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val crlf = "\r\n"
    val uri = concat(lit("https://site"), pmod(d, lit(23)).cast("string"),
      lit(".com/a/"), d)
    val p0 = concat(lit("software: graft-crawler/"), pmod(d, lit(5)).cast("string"))
    val p1 = concat(lit("<html><body><p>"), col("text"),
      lit("</p><!-- " + crlf + crlf + "WARC/1.0" + crlf + "Content-Length: 0" +
        crlf + crlf + " --><p>café id "),
      d, lit("</p></body></html>"))
    val p2 = concat(lit("fetchTimeMs: "), pmod(d * 7, lit(997)).cast("string"))
    def rec(t: String, u: org.apache.spark.sql.Column,
        p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
      lit("WARC/1.0" + crlf + "WARC-Type: " + t + crlf),
      when(length(u) > 0, concat(lit("WARC-Target-URI: "), u, lit(crlf)))
        .otherwise(lit("")),
      lit("Content-Length: "), octet_length(p).cast("string"), lit(crlf + crlf),
      p, lit(crlf + crlf))
    docs.select(d,
      concat(rec("warcinfo", lit(""), p0), rec("response", uri, p1),
        rec("metadata", uri, p2)).as("warc"))
  }

  /** Anchor-TEXT harvesting rollup ([[TextOps.htmlAnchorElements]] +
    * href/text splits): what linking pages SAY about a target domain —
    * the classic crawl-frontier relevance signal next to t51's link
    * counts. The t48 page skeleton gets term-bearing anchor bodies
    * (cycling cased vocabulary so lowercasing is pinned, a numeric
    * tail so terms spread) and the empty-href anchor keeps its body
    * (`skip me` must NOT reach the rollup — the filter boundary is
    * under the gate). Extraction, canonicalize/registrable-domain, the
    * whitespace tokenization, and the (domain, term) rollup all replay
    * in the oracle with the same RE2 patterns.
    */
  def t54AnchorTerms(spark: SparkSession, dir: String): DataFrame =
    syntheticAnchorTermPairs(Tables.documents(spark, dir))
      .groupBy(col("domain"), col("term"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("doc_id")).as("n_pages"))
      .orderBy(col("domain"), col("term"))

  /** The t54 fixture chain up to the rollup, factored for probe
    * reuse: inject term-bearing anchors into the t48 page skeleton,
    * extract whole elements, split href/text, filter the empty href,
    * canonicalize to the registrable domain, and tokenize the
    * lowercased anchor body — one (doc_id, domain, term) row per
    * anchor term.
    */
  def syntheticAnchorTermPairs(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val url1 = concat(lit("https://"),
      when(pmod(d, lit(4)) === 0, lit("www.")).otherwise(lit("")),
      lit("site"), pmod(d, lit(23)).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (pmod(d, lit(3)) + 1).cast("int")),
      when(pmod(d, lit(5)) === 0, lit(":443")).otherwise(lit("")),
      lit("/a/"), d,
      when(pmod(d, lit(2)) === 0, lit("?utm_source=feed&q=1"))
        .otherwise(lit("?q=1")))
    val url2 = concat(lit("HTTP://site"), pmod(d, lit(7)).cast("string"),
      lit(".com:80/b/"), d, lit("#frag"))
    val a1 = concat(
      element_at(array(lit("Breaking"), lit("daily"), lit("Local")),
        (pmod(d, lit(3)) + 1).cast("int")),
      lit(" news "), pmod(d, lit(11)).cast("string"))
    val a2 = concat(lit("visit Site"), pmod(d, lit(7)).cast("string"),
      lit(" archive"))
    // messy-attribute anchors (r15 verdict task 6): term-bearing
    // bodies behind a single-quoted and an unquoted href, so the t54
    // rollup exercises all three value spellings
    val url3 = concat(lit("https://site"), pmod(d, lit(11)).cast("string"),
      lit(".org/c/"), d)
    val url4 = concat(lit("HTTPS://WWW.Site"), pmod(d, lit(13)).cast("string"),
      lit(".NET/d/"), d, lit("?utm_x=1&z="), pmod(d, lit(3)).cast("string"))
    val a3 = concat(lit("old Archive "), pmod(d, lit(5)).cast("string"))
    val html = concat(
      lit("<html><body><p>intro</p><a class=\"x\" href=\""), url1,
      lit("\">"), a1, lit("</a><p>mid</p><a HREF = \""), url2,
      lit("\">"), a2, lit("</a><a href='"), url3,
      lit("'>"), a3, lit("</a><a href="), url4,
      lit(" rel=nofollow>read More now</a>" +
        "<a href=\"\">skip me</a></body></html>"))
    val els = docs
      .select(d, explode(TextOps.htmlAnchorElements(html)).as("el"))
    val pairs = els.select(d, TextOps.anchorHref(col("el")).as("href"),
        TextOps.anchorText(col("el")).as("anchor"))
      .filter(col("href") =!= "")
    val canon = graft.ext.UrlOps.canonicalizeUrl(col("href"))
    pairs.select(d, graft.ext.UrlOps.registrableDomain(canon).as("domain"),
      explode(TextOps.tokens(lower(col("anchor")))).as("term"))
  }

  /** HITS hubs-and-authorities ([[graft.ops.Graph.hits]]) over the g10
    * crawl domain graph — the OTHER frontier centrality: authority
    * ranks fetch targets, hub ranks seed/re-crawl sources. Same
    * harvest → (page domain, target domain) weighted rollup as g10,
    * then two full integer HITS iterations (weighted sums + truncating
    * L1 micros normalization); the oracle replays harvesting, the
    * rollup, and every half-step of both iterations, so the in-plan
    * normalizer and the exact-zero no-in-edge/no-out-edge contracts
    * all sit under the hash gate.
    */
  def g11Hits(spark: SparkSession, dir: String): DataFrame = {
    // harvest once — the domainRanks r16 pattern (hits materializes
    // edges and ids eagerly; the returned frame reads only its final
    // round's checkpoint)
    val pairs = syntheticPageLinkDomains(Tables.documents(spark, dir))
      .localCheckpoint()
    val edges = pairs
      .groupBy(col("page_domain").as("src"), col("domain").as("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
    val nodes = pairs.select(col("page_domain").as("id"))
      .unionByName(pairs.select(col("domain").as("id"))).distinct()
    val out = graft.ops.Graph.hits(nodes, edges, iters = 2)
      .select(col("id").as("domain"), col("hub_micro"), col("auth_micro"))
      .orderBy(col("domain"))
    graft.ops.Blocks.free(pairs)
    out
  }

  /** Convergence-run HITS ([[graft.ops.Graph.hitsConverged]]) over the
    * g11 domain graph — the g08/g09 pattern applied to
    * hubs-and-authorities (r15 verdict task 4): run to the DETECTED
    * fixpoint (both integer score vectors repeating their
    * predecessor's exactly) under a cap of 8 — the fixture genuinely
    * STOPS at round 7, so the gate covers a real early-stopping
    * decision, not just the cap — and emit the executed
    * round count AND the stable flag on every row so the STOPPING
    * DECISION itself hash-gates — including the cap-hit case, where a
    * truncating-integer HITS that limit-cycles must report
    * stable = false rather than masquerade as converged (the loud path
    * GraphSpec pins). The oracle unrolls both half-steps to the cap,
    * stacks every round's (hub, auth) into a history, and selects the
    * FIRST round equal to its predecessor on BOTH vectors — or the cap
    * with stable = false.
    */
  def g12HitsConverged(spark: SparkSession, dir: String): DataFrame = {
    // harvest once — the domainRanks r16 pattern (the convergence loop
    // runs ~7 rounds here; unmaterialized, the harvest re-evaluated in
    // every round's checkpoint job)
    val pairs = syntheticPageLinkDomains(Tables.documents(spark, dir))
      .localCheckpoint()
    val edges = pairs
      .groupBy(col("page_domain").as("src"), col("domain").as("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
    val nodes = pairs.select(col("page_domain").as("id"))
      .unionByName(pairs.select(col("domain").as("id"))).distinct()
    val (scores, rounds, stable) =
      graft.ops.Graph.hitsConverged(nodes, edges, maxIters = 8)
    graft.ops.Blocks.free(pairs)
    scores.select(col("id").as("domain"), col("hub_micro"), col("auth_micro"))
      .withColumn("rounds", lit(rounds.toLong))
      .withColumn("stable", lit(stable))
      .orderBy(col("domain"))
  }

  private lazy val g13RankIndexDir: String =
    java.nio.file.Files.createTempDirectory("graft_g13_rank_index").toString

  /** Warm-start INCREMENTAL domain PageRank
    * ([[graft.ops.RankIndex]] — the TWELFTH index-lifecycle family,
    * the d22/t36/t62b build → serve → update pattern applied to graph
    * centrality): the first crawl snapshot (pages with
    * `doc_id % 10 ≠ 0` — 90 % of the fixture) builds the persisted
    * rank artifact with 3 uniform-init rounds; the second batch's
    * pages (the remaining 10 %) contribute their links, and
    * [[graft.ops.RankIndex.updateRankIndex]] folds the grown edge set
    * in with 2 rounds warm-started from the ARTIFACT instead of
    * re-converging from uniform — domains first seen in the delta
    * start at the uniform prior through the left-join coalesce. The
    * serve path reads the swapped-in vector. The oracle replays the
    * ENTIRE lifecycle as one unrolled trajectory — base harvest →
    * rollup → 3 rounds, then full harvest → rollup → 2 warm rounds
    * seeded by the base result — so the hash gate pins build, warm
    * seeding (including the new-domain prior), every integer round,
    * AND the artifact round trip. Why warm-start is the 100 TB path:
    * a weekly recrawl re-ranking from uniform pays full convergence
    * depth over millions of domains every week; warm-starting pays
    * only the rounds the delta perturbs, each two domain-cardinality
    * shuffles.
    */
  def g13RankUpdate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def graph(pairs: DataFrame): (DataFrame, DataFrame) = {
      val edges = pairs
        .groupBy(col("page_domain").as("src"), col("domain").as("dst"))
        .agg(count(lit(1)).cast("long").as("w"))
      val nodes = pairs.select(col("page_domain").as("id"))
        .unionByName(pairs.select(col("domain").as("id"))).distinct()
      (nodes, edges)
    }
    val path = g13RankIndexDir
    // each snapshot's harvest checkpointed once and freed after its
    // write consumes it (the domainRanks r16 pattern)
    val bPairs = syntheticPageLinkDomains(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)).localCheckpoint()
    val (bNodes, bEdges) = graph(bPairs)
    graft.ops.RankIndex.writeRankIndex(bNodes, bEdges, path, iters = 3)
    graft.ops.Blocks.free(bPairs)
    val fPairs = syntheticPageLinkDomains(docs).localCheckpoint()
    val (fNodes, fEdges) = graph(fPairs)
    graft.ops.RankIndex.updateRankIndex(spark, path, fNodes, fEdges, iters = 2)
    graft.ops.Blocks.free(fPairs)
    graft.ops.RankIndex.ranksAt(spark, path)
      .select(col("id").as("domain"), col("rank"))
      .orderBy(col("domain"))
  }

  /** The crawl-frontier SCHEDULER — the composition every stage of the
    * crawl family exists for, under ONE hash gate (the t43
    * composition-gate principle): harvest (t48) → politeness filter
    * (t52, allowed rows only) → first-sighting URL dedup (one frontier
    * row per canonical URL, earliest (doc, pos) wins — the custom
    * [[graft.plans.TopKPerKeyNode]] at k = 1) → domain-authority join
    * (g10's weighted PageRank at domain cardinality) → per-domain
    * fetch BUDGET (top-3 URLs per domain, again TopKPerKey — a
    * politeness crawler never takes unbounded URLs from one host). The
    * oracle recomposes all five stages from scratch, so the gate pins
    * the COMPOSITION: a dropped filter, a wrong dedup keeper, or a
    * rank drift all hash-fail. Scale shape: both TopKPerKey cuts are
    * single-exchange streaming group-limits (no window machinery), the
    * rank join is a domain-cardinality broadcast, and nothing after
    * the harvest runs at page cardinality except the two cuts' own
    * shuffles.
    */
  def t55CrawlFrontier(spark: SparkSession, dir: String): DataFrame =
    frontierTable(Tables.documents(spark, dir))
      .orderBy(col("domain"), col("url_canon"))

  /** The t55 frontier without the presentation sort, factored for the
    * t56 schedule and the bench probe.
    */
  def frontierTable(docs: DataFrame): DataFrame =
    frontierWith(docs, domainRanks(docs))

  /** The frontier composition against a CALLER-SUPPLIED rank table
    * (domain, rank) — factored so t55b can serve authority from the
    * persisted [[graft.ops.RankIndex]] artifact instead of
    * re-iterating the graph per query.
    */
  def frontierWith(docs: DataFrame, ranks: DataFrame): DataFrame =
    frontierFromLinks(
      syntheticHarvestedLinks(docs).localCheckpoint(), ranks)

  /** Broadcast-hint a domain-cardinality table only when its REAL size
    * fits (r16 verdict task 7; guide §3 "broadcast only what fits").
    * The table is localCheckpointed eagerly — ONE cheap job at domain
    * cardinality, which the downstream broadcast build would have paid
    * anyway to evaluate the chain — and its exact materialized bytes
    * come from the block manager with no extra job
    * ([[graft.ops.Blocks.materializedBytes]]). Under the cap the hint
    * is pinned (a checkpoint carries no planner estimate, and r16
    * measured the unhinted fallback degrade t55's rank join to a
    * sort-merge over the URL table); over it — a pathological corpus
    * with 10⁸+ domains — the join degrades to the planner's choice
    * instead of an 8 GB-cap failure or a driver OOM. Cap overridable
    * via `spark.graft.domainBroadcastCap` (bytes) for clusters whose
    * driver/executor headroom differs from the 256 MB local default.
    */
  private def broadcastIfFits(df: DataFrame): DataFrame = {
    val cap = df.sparkSession.conf
      .get("spark.graft.domainBroadcastCap", (256L << 20).toString).toLong
    // Two zero-job size sources, either one under the cap pins the
    // hint:
    //  - the planner's own estimate — reliable for artifact-backed
    //    tables (the t55b/g13 rank parquet), useless over checkpoints;
    //  - the REAL block-manager bytes of the chain's checkpoint LEAVES
    //    ([[graft.ops.Blocks.materializedBytes]]) — the rank/delay
    //    rollups only ever CONTRACT their materialized inputs (ids/
    //    edges/links), so leaf bytes upper-bound the table. At bench
    //    scale that is KBs–MBs (hint pinned, plans unchanged from
    //    r16); on a pathological 10⁸-domain corpus both sources blow
    //    the cap and the join degrades to the planner's choice instead
    //    of an 8 GB-cap failure or a driver OOM.
    // Deliberately NO eager materialization here: an earlier variant
    // localCheckpointed `df` to measure its exact size and MEASURED
    // SLOWER (t55 3.2 → 4.5 s, t56 3.5 → 4.2 s) — the hoisted
    // checkpoint serializes a chain the broadcast-exchange thread
    // otherwise evaluates CONCURRENTLY with the probe side's stages.
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= cap ||
        graft.ops.Blocks.materializedBytes(df).exists(_ <= cap)) broadcast(df)
    else df
  }

  /** [[frontierWith]] over an already-materialized links frame — the
    * t56 seam: the fetch schedule derives its Crawl-delay table from
    * the SAME harvest checkpoint the frontier's politeness filter
    * reads, instead of re-harvesting.
    */
  private def frontierFromLinks(links: DataFrame, ranks: DataFrame): DataFrame = {
    val allowed = robotsDecisionsFromLinks(links)
      .filter(col("allowed"))
      .select(col("doc_id"), col("pos"), col("url_canon"), col("domain"))
    val firstSeen = graft.ops.TopK.perKey(allowed,
      keys = Seq("url_canon"),
      order = Seq(("doc_id", false), ("pos", false)), k = 1)
    // the rank table is domain-cardinality BY DESIGN (the whole point
    // of the rollup) — pin the broadcast when its measured size fits:
    // served from a checkpoint or artifact it carries no size
    // estimate, and the planner would otherwise degrade this join to
    // a sort-merge over the URL table
    val joined = firstSeen.join(broadcastIfFits(ranks), Seq("domain"), "left")
      .select(col("domain"), col("url_canon"),
        coalesce(col("rank"), lit(0L)).as("domain_rank"),
        col("doc_id"), col("pos"))
    graft.ops.TopK.perKey(joined, keys = Seq("domain"),
      order = Seq(("doc_id", false), ("pos", false), ("url_canon", false)),
      k = 3)
  }

  private lazy val t55bRankDir: String =
    java.nio.file.Files.createTempDirectory("graft_t55b_rank_index").toString

  /** The t55 frontier with authority served from the persisted
    * [[graft.ops.RankIndex]] artifact — the production loop the two
    * pieces exist for (rank per snapshot, serve per frontier query):
    * registered as build + serve for oracle self-containment (the
    * t36/t62b convention) under t55's UNCHANGED oracle, so the hash
    * gate pins `frontier(artifact ranks) == frontier(from-scratch
    * ranks)` — the whole rank vector survives the artifact round trip
    * or the budget cut reorders and hash-fails. At 100 TB this is the
    * difference between a frontier query paying three PageRank
    * iterations over the domain graph and paying one broadcast-sized
    * parquet read.
    */
  def t55bFrontierIndexed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // harvest once — the domainRanks r16 pattern
    val pairs = syntheticPageLinkDomains(docs).localCheckpoint()
    val edges = pairs
      .groupBy(col("page_domain").as("src"), col("domain").as("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
    val nodes = pairs.select(col("page_domain").as("id"))
      .unionByName(pairs.select(col("domain").as("id"))).distinct()
    val path = t55bRankDir
    graft.ops.RankIndex.writeRankIndex(nodes, edges, path, iters = 3)
    graft.ops.Blocks.free(pairs)
    val ranks = graft.ops.RankIndex.ranksAt(spark, path)
      .select(col("id").as("domain"), col("rank"))
    frontierWith(docs, ranks).orderBy(col("domain"), col("url_canon"))
  }

  private lazy val t65bTfidfDir: String =
    java.nio.file.Files.createTempDirectory("graft_t65b_tfidf_index").toString

  /** t65 served from the persisted tf-idf index
    * ([[TextOps.docKeywordsAt]] — closes the r15 verdict note that
    * t65 recomputes corpus statistics per call, the t62b treatment
    * applied to the batch half): keyword extraction off the artifact's
    * saturated integer grain, no corpus re-tokenize. Registered as
    * build + serve under t65's UNCHANGED oracle, so the gate pins
    * `serve(index) == from-scratch` for every saturated tf, df, idf,
    * and the per-doc TopKPerKey cut.
    */
  def t65bKeywordsIndexed(spark: SparkSession, dir: String): DataFrame = {
    val path = t65bTfidfDir
    TextOps.writeTfidfIndex(Tables.documents(spark, dir), path)
    TextOps.docKeywordsAt(spark, path, k = 3)
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Politeness fetch SCHEDULE ([[graft.ext.UrlOps.parseCrawlDelay]])
    * — the timing half the t55 frontier still lacked, closing t52's
    * documented Crawl-delay boundary: each domain's budgeted URLs get
    * consecutive fetch slots spaced by that domain's Crawl-delay (the
    * exact-UA-overrides-`*` selection applies to delays too; minimum
    * of repeated numeric values; malformed values ignored; headerless
    * lines bind nobody; absent → 1 s default — every branch lives in
    * the shared robots fixture). `fetch_at_ms = slot · delay_s · 1000`
    * is pure integer arithmetic, so the whole schedule — parser,
    * selection, defaulting, slot assignment — replays in the oracle.
    * Scale shape: one window partitioned per DOMAIN over the ≤ 3-row
    * budget groups, and the delay table joins as a domain-cardinality
    * broadcast.
    */
  /** Exact-phrase retrieval ([[TextOps.phraseOccurrences]]) — the
    * verbatim-match decontamination primitive next to t16's
    * bag-of-words BM25: positions of `spark vector merge` over the
    * corpus with a deterministic injection (every ninth doc gets the
    * phrase appended, every 27th twice — so multi-hit counting is
    * under the gate alongside any NATURAL occurrences the token soup
    * produces). The oracle replays injection + the full sliding-window
    * token-sequence semantics (1-based list walk, rebased to the
    * 0-based positions), so hit counts AND first positions hash-gate.
    */
  def t59PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val injected = Tables.documents(spark, dir).select(d,
      concat(col("text"),
        when(pmod(d, lit(9)) === 0, lit(" spark vector merge"))
          .otherwise(lit("")),
        when(pmod(d, lit(27)) === 0, lit(" spark vector merge"))
          .otherwise(lit(""))).as("text"))
    TextOps.phraseOccurrences(injected, Seq("spark", "vector", "merge"))
      .orderBy(col("doc_id"))
  }

  /** Sitemap-driven frontier DISCOVERY
    * ([[graft.ext.UrlOps.sitemapDirectives]] → [[graft.ext.UrlOps.sitemapEntries]]
    * → loc/lastmod extraction → the t21 canonicalization): the crawl
    * seed source next to t48's link harvesting — a site's own
    * declaration of its pages, reached through robots.txt. The robots
    * fixture exercises the directive parse (a COMMENTED-out Sitemap
    * line that must be ignored, a mixed-case `SiteMap:` spelling with
    * extra value whitespace, an empty-valued directive that drops, and
    * domains with no directive at all); the XML fixture exercises the
    * entry parse (attribute-free `<url >` with whitespace inside tags,
    * loc values wrapped in spaces, an UPPERCASE-scheme loc the
    * canonicalizer must lowercase, `utm_` params it must strip while
    * keeping the rest, an OPTIONAL lastmod — absent rows carry `''`,
    * the NULL-free contract — and a whitespace-only loc entry that is
    * extracted, occupies its pos, then filters, the t48 empty-href
    * convention). The oracle replays robots synthesis, line parse, XML
    * synthesis, block/field extraction, and canonicalization with the
    * identical RE2 patterns, so the entire discovery chain sits under
    * the hash gate. Scale shape: everything is narrow per-row
    * map/explode work off a domain-cardinality input — the only
    * exchanges are the directive `distinct` and the presentation sort.
    */
  def t60Sitemap(spark: SparkSession, dir: String): DataFrame =
    sitemapDiscovery(Tables.documents(spark, dir))
      .orderBy(col("domain"), col("sitemap_url"), col("pos"))

  /** The t60 discovery chain without the presentation sort, factored
    * for probe reuse (the [[syntheticHarvestedLinks]] reasoning).
    */
  /** The t60 robots-synthesis + `Sitemap:` directive chain up to the
    * (domain, sitemap_url) table, factored so the t60b INDEX recursion
    * discovers its sitemaps through the identical robots fixture.
    */
  private def sitemapDirectiveTable(docs: DataFrame): DataFrame = {
    val doms = docs.select(concat(lit("site"),
        pmod(col("doc_id"), lit(23)).cast("string"),
        element_at(array(lit(".com"), lit(".org"), lit(".net")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int"))).as("domain"))
      .distinct()
    val k = regexp_extract(col("domain"), "site([0-9]+)", 1).cast("int")
    val t = when(col("domain").endsWith(".com"), 0)
      .when(col("domain").endsWith(".org"), 1).otherwise(2)
    val robots = doms.select(col("domain"), concat(
      lit("# discovery fixture\nUser-agent: *\nDisallow: /tmp/\n"),
      when(k % 5 === 0, lit("# Sitemap: https://ignored.example/s.xml\n"))
        .otherwise(lit("")),
      when((k + t) % 2 === 0, concat(lit("Sitemap: https://"), col("domain"),
        lit("/sitemap.xml\n"))).otherwise(lit("")),
      when(k % 6 === 0, concat(lit("SiteMap:   https://"), col("domain"),
        lit("/sitemap2.xml\n"))).otherwise(lit("")),
      when(k % 9 === 0, lit("Sitemap:\n")).otherwise(lit("")))
      .as("robots_txt"))
    graft.ext.UrlOps.sitemapDirectives(robots)
  }

  def sitemapDiscovery(docs: DataFrame): DataFrame = {
    val sm = sitemapDirectiveTable(docs)
    val k = regexp_extract(col("domain"), "site([0-9]+)", 1).cast("int")
    val s = when(col("sitemap_url").endsWith("sitemap2.xml"), 2).otherwise(1)
    val n = pmod(k + s, lit(3)) + 1
    val entries = transform(sequence(lit(0), n - 1), j =>
      concat(lit("<url >\n  <loc>  "),
        when(j === 0, lit("HTTPS://")).otherwise(lit("https://")),
        col("domain"), lit("/pg/"), s.cast("string"), lit("/"),
        j.cast("string"),
        when(pmod(j, lit(2)) === 1, lit("?utm_campaign=sm&x=1"))
          .otherwise(lit("")),
        lit("  </loc>\n"),
        when(pmod(j + s, lit(2)) === 0,
          concat(lit("  <lastmod> 2026-0"),
            (pmod(j + k, lit(9)) + 1).cast("string"),
            lit("-15 </lastmod>\n"))).otherwise(lit("")),
        lit("</url>")))
    val xml = concat(lit("<urlset>\n"), array_join(entries, "\n"),
      when(k % 7 === 0, lit("\n<url><loc>   </loc></url>"))
        .otherwise(lit("")),
      lit("\n</urlset>"))
    val parsed = sm.select(col("domain"), col("sitemap_url"),
        posexplode(graft.ext.UrlOps.sitemapEntries(xml)))
      .withColumnRenamed("col", "entry")
      .select(col("domain"), col("sitemap_url"),
        col("pos").cast("long").as("pos"),
        graft.ext.UrlOps.sitemapLoc(col("entry")).as("loc"),
        graft.ext.UrlOps.sitemapLastmod(col("entry")).as("lastmod"))
      .filter(col("loc") =!= "")
    parsed.select(col("domain"), col("sitemap_url"), col("pos"), col("loc"),
        graft.ext.UrlOps.canonicalizeUrl(col("loc")).as("url_canon"),
        col("lastmod"))
  }

  /** Sitemap-INDEX recursion ([[graft.ext.UrlOps.sitemapIndexEntries]]
    * → child `<loc>` extraction → child-payload synthesis →
    * [[graft.ext.UrlOps.sitemapEntries]] on each child — one level,
    * closing t60's documented `<sitemapindex>` boundary): what every
    * large site actually serves at its robots-declared sitemap URL is
    * an index whose `<sitemap><loc>` children name the real page
    * sitemaps. Discovery goes through the SAME robots fixture as t60
    * ([[sitemapDirectiveTable]]); the index fixture exercises
    * whitespace inside `<sitemap >` tags, space-padded child locs, a
    * whitespace-only child loc that is extracted, occupies its pos,
    * then filters (the t48 empty-href convention), and per-child
    * entry counts/lastmods that depend on the CHILD id — so a parse
    * that mixes up which child produced which page hash-fails. The
    * child "fetch" is a deterministic synthesis from the child URL
    * (both engines replay it — the t60 machinery applied twice).
    * Indexes nested deeper than one level remain a documented
    * boundary. Scale shape: narrow per-row map/explode work at
    * domain×child cardinality; the only exchanges are the directive
    * distinct and the presentation sort.
    */
  def t60bSitemapIndex(spark: SparkSession, dir: String): DataFrame =
    sitemapIndexDiscovery(Tables.documents(spark, dir))
      .orderBy(col("domain"), col("sitemap_url"), col("child_pos"), col("pos"))

  /** The t60b discovery chain without the presentation sort. */
  def sitemapIndexDiscovery(docs: DataFrame): DataFrame = {
    val sm = sitemapDirectiveTable(docs)
    val k = regexp_extract(col("domain"), "site([0-9]+)", 1).cast("int")
    val s = when(col("sitemap_url").endsWith("sitemap2.xml"), 2).otherwise(1)
    val nc = pmod(k + s, lit(2)) + 1
    val children = transform(sequence(lit(0), nc - 1), c =>
      concat(lit("<sitemap >\n  <loc> https://"), col("domain"), lit("/sm/"),
        s.cast("string"), lit("/"), c.cast("string"),
        lit(".xml </loc>\n</sitemap>")))
    val indexXml = concat(lit("<sitemapindex>\n"), array_join(children, "\n"),
      when(k % 4 === 0, lit("\n<sitemap><loc>   </loc></sitemap>"))
        .otherwise(lit("")),
      lit("\n</sitemapindex>"))
    val childTable = sm.select(col("domain"), col("sitemap_url"),
        posexplode(graft.ext.UrlOps.sitemapIndexEntries(indexXml)))
      .withColumnRenamed("col", "child_entry")
      .select(col("domain"), col("sitemap_url"),
        col("pos").cast("long").as("child_pos"),
        graft.ext.UrlOps.sitemapLoc(col("child_entry")).as("child_url"))
      .filter(col("child_url") =!= "")
    // the child "fetch": a deterministic leaf payload derived from the
    // child URL's own (s, c) coordinates — the replayable stand-in for
    // the per-child HTTP get a real crawler issues here
    val k2 = regexp_extract(col("domain"), "site([0-9]+)", 1).cast("int")
    val s2 = regexp_extract(col("child_url"), "/sm/([0-9]+)/", 1).cast("int")
    val c2 = regexp_extract(col("child_url"), "/sm/[0-9]+/([0-9]+)\\.xml", 1)
      .cast("int")
    val n = pmod(k2 + s2 + c2, lit(3)) + 1
    val entries = transform(sequence(lit(0), n - 1), j =>
      concat(lit("<url >\n  <loc>  https://"), col("domain"), lit("/pg/"),
        s2.cast("string"), lit("/"), c2.cast("string"), lit("/"),
        j.cast("string"),
        when(pmod(j, lit(2)) === 1, lit("?utm_campaign=sm&x=1"))
          .otherwise(lit("")),
        lit("  </loc>\n"),
        when(pmod(j + c2, lit(2)) === 0,
          concat(lit("  <lastmod> 2026-1"),
            pmod(j + k2, lit(2)).cast("string"),
            lit("-01 </lastmod>\n"))).otherwise(lit("")),
        lit("</url>")))
    val leafXml = concat(lit("<urlset>\n"), array_join(entries, "\n"),
      lit("\n</urlset>"))
    childTable.select(col("domain"), col("sitemap_url"), col("child_pos"),
        col("child_url"),
        posexplode(graft.ext.UrlOps.sitemapEntries(leafXml)))
      .withColumnRenamed("col", "entry")
      .select(col("domain"), col("sitemap_url"), col("child_pos"),
        col("child_url"), col("pos").cast("long").as("pos"),
        graft.ext.UrlOps.sitemapLoc(col("entry")).as("loc"),
        graft.ext.UrlOps.sitemapLastmod(col("entry")).as("lastmod"))
      .filter(col("loc") =!= "")
      .select(col("domain"), col("sitemap_url"), col("child_pos"),
        col("child_url"), col("pos"), col("loc"),
        graft.ext.UrlOps.canonicalizeUrl(col("loc")).as("url_canon"),
        col("lastmod"))
  }

  /** Bounded-depth sitemap-TREE walk
    * ([[graft.ext.UrlOps.expandSitemaps]] — closes t60b's "one
    * recursion level" boundary): every robots-declared root here is a
    * sitemap INDEX whose children are themselves indexes (except one
    * designated depth-1 LEAF child on `(k+s) % 3 = 0` domains — the
    * mixed-depth case), whose grandchildren are the leaf `<urlset>`
    * files — so the generic walker must fetch-join three levels,
    * carry per-root provenance through both hops, and emit leaves at
    * BOTH depth 1 and depth 2. Three hazards live in the fixture and
    * hash-gate the walker's safety contract: a CYCLE child naming the
    * root itself on `k % 5 = 0` domains (the visited anti-join must
    * drop it or the walk double-counts the whole tree), an UNFETCHED
    * child on `k % 7 = 0` domains (no payload row — the inner join is
    * the coverage contract), and t60b's whitespace-only loc child on
    * `k % 4 = 0` (extracted, then filtered). The payload store is a
    * deterministic synthesis from each file's own URL coordinates
    * (the t60b child-fetch convention), and the oracle replays the
    * injection formulas directly (the t45/t53 pattern — the XML
    * grammar itself is gated by t60/t60b), so a walker that loses a
    * level, mixes up provenance, or survives a hazard wrongly
    * hash-fails. Scale shape: every join is at domain×sitemap-file
    * cardinality with one bounded isEmpty per level; page-cardinality
    * work never enters the walk.
    */
  def t60cSitemapTree(spark: SparkSession, dir: String): DataFrame =
    sitemapTreeDiscovery(Tables.documents(spark, dir))
      .orderBy(col("domain"), col("sitemap_url"), col("leaf_url"), col("pos"))

  /** The t60c payload synthesis + walk without the presentation sort,
    * factored for the bench probe (the t60 convention).
    */
  def sitemapTreeDiscovery(docs: DataFrame): DataFrame = {
    // the directive table feeds the seed frame and all four payload
    // branches (roots/mids/leaf1/leaf2) — materialize it once so the
    // payload-synthesis checkpoint inside expandSitemaps evaluates the
    // robots/directive chain a single time instead of 4×
    val sm = sitemapDirectiveTable(docs).localCheckpoint()
    val k = regexp_extract(col("domain"), "site([0-9]+)", 1).cast("int")
    val s = when(col("sitemap_url").endsWith("sitemap2.xml"), 2).otherwise(1)

    def smBlock(url: Column): Column =
      concat(lit("<sitemap >\n  <loc> "), url, lit(" </loc>\n</sitemap>"))
    def childUrl(c: Column): Column =
      when(pmod(k + s, lit(3)) === 0 && c === 0,
        concat(lit("https://"), col("domain"), lit("/sml1/"),
          s.cast("string"), lit(".xml")))
      .otherwise(concat(lit("https://"), col("domain"), lit("/smi/"),
        s.cast("string"), lit("/"), c.cast("string"), lit(".xml")))

    // root payloads: an index of nc = (k % 2) + 1 children plus the
    // three hazard blocks
    val rootXml = concat(lit("<sitemapindex>\n"),
      array_join(transform(sequence(lit(0), pmod(k, lit(2))),
        c => smBlock(childUrl(c))), "\n"),
      when(k % 5 === 0, concat(lit("\n"), smBlock(col("sitemap_url"))))
        .otherwise(lit("")),
      when(k % 7 === 0, concat(lit("\n"), smBlock(concat(lit("https://"),
        col("domain"), lit("/missing/"), s.cast("string"), lit(".xml")))))
        .otherwise(lit("")),
      when(k % 4 === 0, lit("\n<sitemap><loc>   </loc></sitemap>"))
        .otherwise(lit("")),
      lit("\n</sitemapindex>"))
    val roots = sm.select(col("sitemap_url").as("url"), rootXml.as("xml"))

    // mid-level index payloads /smi/<s>/<c>.xml: an index of
    // ng = ((k + c) % 2) + 1 grandchild leaf files
    val cExpl = sm.select(col("domain"), col("sitemap_url"),
        explode(sequence(lit(0), pmod(k, lit(2)))).as("c"))
      .filter(!(pmod(k + s, lit(3)) === 0 && col("c") === 0))
    val midXml = concat(lit("<sitemapindex>\n"),
      array_join(transform(sequence(lit(0), pmod(k + col("c"), lit(2))),
        g => smBlock(concat(lit("https://"), col("domain"), lit("/sml/"),
          s.cast("string"), lit("/"), col("c").cast("string"), lit("/"),
          g.cast("string"), lit(".xml")))), "\n"),
      lit("\n</sitemapindex>"))
    val mids = cExpl.select(concat(lit("https://"), col("domain"),
      lit("/smi/"), s.cast("string"), lit("/"), col("c").cast("string"),
      lit(".xml")).as("url"), midXml.as("xml"))

    def urlBlock(loc: Column, lastmod: Column): Column =
      concat(lit("<url >\n  <loc>  "), loc, lit("  </loc>\n"),
        when(lastmod =!= "", concat(lit("  <lastmod> "), lastmod,
          lit(" </lastmod>\n"))).otherwise(lit("")),
        lit("</url>"))

    // depth-1 leaf payloads /sml1/<s>.xml on the designated domains:
    // n1 = (k % 3) + 1 pages
    val leaf1Xml = concat(lit("<urlset>\n"),
      array_join(transform(sequence(lit(0), pmod(k, lit(3))), j =>
        urlBlock(
          concat(lit("https://"), col("domain"), lit("/pg1/"),
            s.cast("string"), lit("/"), j.cast("string"),
            when(pmod(j, lit(2)) === 1, lit("?utm_campaign=sm&x=1"))
              .otherwise(lit(""))),
          when(pmod(j + k, lit(2)) === 0,
            concat(lit("2026-0"), (pmod(j + k, lit(9)) + 1).cast("string"),
              lit("-15"))).otherwise(lit("")))), "\n"),
      lit("\n</urlset>"))
    val leaf1 = sm.filter(pmod(k + s, lit(3)) === 0)
      .select(concat(lit("https://"), col("domain"), lit("/sml1/"),
        s.cast("string"), lit(".xml")).as("url"), leaf1Xml.as("xml"))

    // depth-2 leaf payloads /sml/<s>/<c>/<g>.xml:
    // n2 = ((k + s + c + g) % 3) + 1 pages
    val gExpl = cExpl.select(col("domain"), col("sitemap_url"), col("c"),
      explode(sequence(lit(0), pmod(k + col("c"), lit(2)))).as("g"))
    val leaf2Xml = concat(lit("<urlset>\n"),
      array_join(transform(
        sequence(lit(0), pmod(k + s + col("c") + col("g"), lit(3))), j =>
        urlBlock(
          concat(lit("https://"), col("domain"), lit("/pg2/"),
            s.cast("string"), lit("/"), col("c").cast("string"), lit("/"),
            col("g").cast("string"), lit("/"), j.cast("string"),
            when(pmod(j, lit(2)) === 1, lit("?utm_campaign=sm&x=1"))
              .otherwise(lit(""))),
          when(pmod(j + col("g"), lit(2)) === 0,
            concat(lit("2026-1"), pmod(j + col("c"), lit(2)).cast("string"),
              lit("-01"))).otherwise(lit("")))), "\n"),
      lit("\n</urlset>"))
    val leaf2 = gExpl.select(concat(lit("https://"), col("domain"),
      lit("/sml/"), s.cast("string"), lit("/"), col("c").cast("string"),
      lit("/"), col("g").cast("string"), lit(".xml")).as("url"),
      leaf2Xml.as("xml"))

    val payloads = roots.unionByName(mids).unionByName(leaf1)
      .unionByName(leaf2)
    val out = graft.ext.UrlOps.expandSitemaps(sm, payloads, maxDepth = 3)
      .select(col("domain"), col("sitemap_url"), col("depth"),
        col("leaf_url"), col("pos"), col("loc"),
        graft.ext.UrlOps.canonicalizeUrl(col("loc")).as("url_canon"),
        col("lastmod"))
    // expandSitemaps checkpointed its seed and payload inputs eagerly
    // and returns its own collapsed checkpoint — sm is dead weight
    graft.ops.Blocks.free(sm)
    out
  }

  /** Freshness-weighted RECRAWL schedule — the crawl loop's third
    * scheduling table next to t55 (what to fetch FIRST) and t56 (WHEN
    * politeness allows): which known pages to REFETCH, composing the
    * two signals a real recrawl planner runs on — sitemap `lastmod`
    * recency (a page that changed recently changes often — the
    * standard adaptive-recrawl heuristic) and domain authority (g10's
    * weighted PageRank). All integer:
    * `age_days = max(datediff(asof, lastmod), 0)` and
    * `priority = domain_rank · 1000 div (age_days + 1)`, then a
    * per-domain top-2 budget through the custom TopKPerKey cut (a
    * recrawl wave is per-host bounded exactly like a first-fetch
    * wave). `asof` is a pinned literal — both engines parse the same
    * ISO dates, so the whole schedule (date arithmetic, rank
    * trajectory, budget cut, tie rule) hash-gates. Scale shape: the
    * dated-entry table is sitemap-entry cardinality, the rank join a
    * domain-cardinality broadcast, the cut one exchange.
    */
  def t66RecrawlSchedule(spark: SparkSession, dir: String): DataFrame =
    recrawlTable(Tables.documents(spark, dir))
      .orderBy(col("domain"), col("priority").desc, col("url_canon"))

  /** The t66 schedule without the presentation sort, factored for the
    * bench probe (the t55/t60 convention).
    */
  def recrawlTable(docs: DataFrame): DataFrame = {
    val aged = sitemapDiscovery(docs)
      .filter(col("lastmod") =!= "")
      .select(col("domain"), col("url_canon"), col("lastmod"),
        greatest(datediff(to_date(lit("2026-10-01")),
          to_date(col("lastmod"))), lit(0)).cast("long").as("age_days"))
    // domain-cardinality broadcast, size-gated — see broadcastIfFits
    val prio = aged.join(broadcastIfFits(domainRanks(docs)), Seq("domain"), "left")
      .select(col("domain"), col("url_canon"), col("lastmod"),
        col("age_days"), coalesce(col("rank"), lit(0L)).as("domain_rank"))
      .withColumn("priority",
        expr("(domain_rank * 1000) div (age_days + 1)"))
    graft.ops.TopK.perKey(prio, keys = Seq("domain"),
      order = Seq(("priority", true), ("url_canon", false)), k = 2)
  }

  /** Proximity retrieval ([[TextOps.proximityOccurrences]]) — "quasar
    * NEAR pulsar" within a 3-token window, the query shape between
    * t16's bag-of-words and t59's exact phrase. The injection puts a
    * span-3 co-occurrence on every fifth doc (a hit at exactly the
    * window edge), a span-5 one on every seventh (filtered — the
    * boundary pins ≤, not <), and BOTH on multiples of 35, where the
    * cross-segment pairs (a second quasar one token left of the first
    * pulsar) prove all-pairs counting rather than per-segment
    * matching. The oracle replays tokenization and the pair/window
    * arithmetic positionally, so counts and min spans hash-gate.
    */
  def t61Proximity(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val injected = Tables.documents(spark, dir).select(d,
      concat(col("text"),
        when(pmod(d, lit(5)) === 0, lit(" quasar alpha beta pulsar"))
          .otherwise(lit("")),
        when(pmod(d, lit(7)) === 0,
          lit(" quasar alpha beta gamma delta pulsar"))
          .otherwise(lit(""))).as("text"))
    TextOps.proximityOccurrences(injected, "quasar", "pulsar", window = 3)
      .orderBy(col("doc_id"))
  }

  /** Domain reputation — the crawl FEEDBACK table: which domains
    * produce keepable text. Per registrable domain of each doc's URL
    * (the t21 formula): doc count, Gopher keep rate and exact-dup rate
    * in truncating integer micros, and total words — exactly the
    * quality-weighted signal a crawler folds back into its frontier
    * ranking (g10 rank says who is LINKED; this says who is WORTH
    * fetching; t55 consumes both at the same domain key). The oracle
    * recomposes all three signals from scratch — the t20 metric CTEs,
    * the d01 first-occurrence dup flag (partitioned BY TEXT; the Spark
    * side windows on sha2 — the scale-correct key, same flags), the
    * t21 domain chain — and the micro-rate rollup, so the gate pins
    * the COMPOSITION (the t43 principle). Scale shape: ONE per-doc
    * projection carries all three signals (no doc-keyed joins — the
    * oracle joins, the engine does not have to), then a text-hash
    * window and a domain-cardinality rollup — two exchanges total.
    */
  def t58DomainReputation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val id = col("doc_id")
    val url = concat(
      lit("https://"),
      when(id % 4 === 0, lit("www.")).when(id % 4 === 1, lit("WWW."))
        .otherwise(lit("")),
      lit("site"), (id % 23).cast("string"),
      element_at(array(lit(".com"), lit(".org"), lit(".net")),
        (id % 3 + 1).cast("int")),
      when(id % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), id.cast("string"),
      when(id % 2 === 1, lit("/")).otherwise(lit("")),
      when(id % 2 === 0, concat(lit("?utm_source=feed&id="), id.cast("string")))
        .otherwise(concat(lit("?id="), id.cast("string"))),
      when(id % 7 === 0, lit("#sec")).otherwise(lit("")))
    val canon = graft.ext.UrlOps.canonicalizeUrl(url)
    // ONE projection carries all three per-doc signals (quality
    // metrics, text hash, domain) — no doc-keyed joins; the only
    // exchanges left are the dup window (text-hash-keyed) and the
    // domain rollup
    val sig = TextOps.gopherRules(
      docs.select(id, col("text"),
        graft.ext.UrlOps.registrableDomain(canon).as("domain"),
        sha2(col("text"), 256).as("h")),
      keepCols = Seq("domain", "h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(id)
    sig.withColumn("dup", (row_number().over(w) > 1).cast("long"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_keep"),
        sum("dup").as("n_dup"), sum("n_words").as("words_total"))
      .select(col("domain"), col("n_docs"),
        expr("n_keep * 1000000L div n_docs").as("keep_micro"),
        expr("n_dup * 1000000L div n_docs").as("dup_micro"),
        col("words_total"))
      .orderBy(col("domain"))
  }

  /** Structured page metadata ([[TextOps.pageTitle]] /
    * `pageMetaDescription` / `pageCanonical`): the three fields a
    * crawl's page table carries next to the extracted text — title,
    * description, canonical URL (the site's own duplicate
    * declaration). The fixture exercises a decoy `keywords` meta
    * BEFORE the description (the name-filter must skip it), an
    * attribute-bearing title tag, an ABSENT description on every
    * fourth doc (no-match must yield `''`, the NULL-free contract),
    * and a decoy SECOND title in the body on every sixth (first match
    * wins — both engines' `regexp_extract` semantics). All three
    * extractors replay verbatim in the oracle.
    */
  def t57PageMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val desc = concat(lit("Summary "), pmod(d, lit(13)), lit(" of doc "), d)
    val canon = concat(lit("https://site"), pmod(d, lit(23)), lit(".com/a/"), d)
    // the three attribute-value spellings (r15 verdict task 6): the
    // description meta flips to single-quoted name+content on
    // d%3 == 1, and the canonical link cycles unquoted / single- /
    // double-quoted on d%5 — messy-HTML branches under the same gate
    val descMeta = when(pmod(d, lit(3)) === 1,
        concat(lit("<meta name='description' content='"), desc, lit("'>")))
      .otherwise(
        concat(lit("<meta name=\"description\" content=\""), desc, lit("\">")))
    val canonLink = when(pmod(d, lit(5)) === 0,
        concat(lit("<link rel=canonical href="), canon, lit(">")))
      .when(pmod(d, lit(5)) === 1,
        concat(lit("<link rel='canonical' href='"), canon, lit("'>")))
      .otherwise(
        concat(lit("<link rel=\"canonical\" href=\""), canon, lit("\">")))
    val html = concat(
      lit("<html><head><meta charset=\"utf-8\">" +
        "<meta name=\"keywords\" content=\"k1,k2\"><title id=\"t\">Doc "), d,
      lit(" overview</title>"),
      when(pmod(d, lit(4)) =!= 0, descMeta).otherwise(lit("")),
      canonLink,
      lit("</head><body><p>"), col("text"),
      when(pmod(d, lit(6)) === 0, lit("<title>decoy second title</title>"))
        .otherwise(lit("")),
      lit("</p></body></html>"))
    Tables.documents(spark, dir).select(d,
        TextOps.pageTitle(html).as("title"),
        TextOps.pageMetaDescription(html).as("description"),
        TextOps.pageCanonical(html).as("canonical"))
      .orderBy(d)
  }

  def t56FetchSchedule(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE harvest checkpoint feeds both the frontier's politeness
    // filter and the Crawl-delay parse (r17: the schedule used to
    // re-harvest for the delay table on top of frontierTable's three
    // harvest evaluations)
    val links = syntheticHarvestedLinks(docs).localCheckpoint()
    val delays = graft.ext.UrlOps.parseCrawlDelay(
      syntheticRobots(links), "graftbot")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
      .orderBy(col("doc_id"), col("pos"), col("url_canon"))
    // the delay table is domain-cardinality — broadcast for the same
    // reason as frontierWith's rank join, size-gated the same way
    frontierFromLinks(links, domainRanks(docs))
      .join(broadcastIfFits(delays), Seq("domain"), "left")
      .withColumn("slot", (row_number().over(w) - 1).cast("long"))
      .select(col("domain"), col("url_canon"),
        coalesce(col("delay_s"), lit(1L)).as("delay_s"), col("slot"),
        (col("slot") * coalesce(col("delay_s"), lit(1L)) * 1000L)
          .as("fetch_at_ms"))
      .orderBy(col("domain"), col("url_canon"))
  }

  /** Per-LINE language ID ([[TextOps.langIdByLine]], r14 verdict task
    * 4): the fixture (single-line English-shaped docs) is extended
    * with marker lines in a doc_id-cycled language plus a third French
    * line on every fifth doc, so the corpus has genuinely
    * mixed-language documents — the CCNet case. The gate covers the
    * FULL per-line assignment table (the t15 CASE chain applied per
    * line), the per-doc majority label with its (count desc, lang
    * desc) tie-break, and the mixed-language flag.
    */
  def t47LangIdLines(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val line1 = when(pmod(d, lit(4)) === 0, lit("der und die ist mit nicht der und"))
      .when(pmod(d, lit(4)) === 1, lit("le la les est et dans le la"))
      .when(pmod(d, lit(4)) === 2, lit("el los es y con para el los"))
      .otherwise(lit("the and of is with for the and"))
    val multiline = concat(col("text"), lit("\n"), line1,
      when(pmod(d, lit(5)) === 0, lit("\nles est et dans la le")).otherwise(lit("")))
    TextOps.langIdByLine(
        Tables.documents(spark, dir).select(d, multiline.as("text")))
      .withColumn("pos", col("pos").cast("long"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** CCNet line FILTERING ([[TextOps.dropMinorityLanguageLines]]) —
    * the consumer t47's assignment table exists for: drop every line
    * disagreeing with the doc majority, reassemble survivors in order.
    * Same injection as t47, so mixed docs genuinely lose lines (and
    * unmixed docs pass through byte-identical — both pinned by the
    * hash gate over cleaned text + drop counts).
    */
  def t47bLineFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val line1 = when(pmod(d, lit(4)) === 0, lit("der und die ist mit nicht der und"))
      .when(pmod(d, lit(4)) === 1, lit("le la les est et dans le la"))
      .when(pmod(d, lit(4)) === 2, lit("el los es y con para el los"))
      .otherwise(lit("the and of is with for the and"))
    val multiline = concat(col("text"), lit("\n"), line1,
      when(pmod(d, lit(5)) === 0, lit("\nles est et dans la le")).otherwise(lit("")))
    TextOps.dropMinorityLanguageLines(
        Tables.documents(spark, dir).select(d, multiline.as("text")))
      .orderBy(col("doc_id"))
  }

  /** Sentence segmentation under the gate ([[TextOps.sentences]]): the
    * fixture's unpunctuated token soup gets deterministic sentence
    * structure injected — 8-token windows each closed by a cycling
    * terminator (". ", "! ", "? ": multi-class coverage), a doubled
    * terminator on every sixth doc (ellipsis-like runs must stay ONE
    * sentence), and an UN-terminated trailing remnant on every fourth
    * (must survive as the final sentence) — then the splitter must
    * recover exactly the injected segmentation. Both engines run the
    * same RE2-compatible pattern, so the oracle replays injection AND
    * extraction byte-identically.
    */
  def t50Sentences(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val toks = TextOps.tokens(trim(col("text")))
    val nW = ceil(size(toks) / lit(8.0)).cast("int")
    val sent = transform(sequence(lit(0), greatest(nW, lit(1)) - 1), i =>
      concat(concat_ws(" ", slice(toks, i * 8 + 1, lit(8))),
        when(pmod(d + i.cast("long"), lit(3)) === 0, lit("."))
          .when(pmod(d + i.cast("long"), lit(3)) === 1, lit("!"))
          .otherwise(lit("?")),
        when(pmod(d, lit(6)) === 0 && i === 0, lit("..")).otherwise(lit(""))))
    val injected = concat(concat_ws(" ", sent),
      when(pmod(d, lit(4)) === 0, lit(" trailing remnant")).otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(d, posexplode(TextOps.sentences(injected)))
      .select(d, col("pos").cast("long").as("pos"), col("col").as("sentence"))
      .withColumn("n_chars", length(col("sentence")).cast("long"))
      .orderBy(d, col("pos"))
  }

  /** BM25 query-relevance retrieval ([[TextOps.bm25TopK]]) — top-20
    * documents for the query `dup spark vector merge` (one corpus-rare
    * term, df≈5%, and three common ones, so the idf weighting — not
    * just raw tf — decides the ranking). Pure-integer rational scoring
    * (see the operator's doc): Spark `div` and DuckDB `//` agree
    * exactly on positive longs, so a log-free BM25 sits fully under
    * the hash gate. Ties broken by doc_id, so the LIMIT cut is total.
    */
  def t16Bm25(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25TopK(Tables.documents(spark, dir),
      Seq("dup", "spark", "vector", "merge"), k = 20)

  /** Sparse tf-idf cosine retrieval ([[TextOps.tfidfCosineTopK]]) —
    * the SAME query as t16 under the vector-space model instead of
    * BM25, so the two rankings are directly comparable fixtures. Dot,
    * q², d² are exact integer sums (order-free); the cosine is the
    * truncated micro value of correctly-rounded IEEE sqrt/divide steps
    * over identical longs, so the gate covers the float finish too.
    */
  def t62TfidfCosine(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfidfCosineTopK(Tables.documents(spark, dir),
      Seq("dup", "spark", "vector", "merge"), k = 20)

  /** t16 served from the persisted inverted index
    * ([[TextOps.writeTextIndex]] → [[TextOps.bm25ServeIndexed]]) — the
    * SIXTH index-lifecycle family under the gate. Registered as
    * build + serve for oracle self-containment (the d29 convention);
    * the oracle is t16's UNCHANGED from-scratch SQL, so the hash gate
    * pins `serve(index) == from-scratch` — every posting, df, and the
    * integer BM25 arithmetic survive the round trip through the
    * artifact. Per-process temp target (the fuzzyPairSet pattern) so
    * two concurrent runs on one host can't race each other's
    * write+swap against reads (r12 ADVICE).
    */
  // one temp dir per JVM, created lazily (not per call): per-process
  // uniqueness keeps the r12 concurrent-run race fix, while reuse +
  // mode("overwrite") stops a bench run (warmup + measured + extra
  // passes) from leaking a full index copy per invocation (r13 ADVICE)
  private lazy val t36IndexDir: String =
    java.nio.file.Files.createTempDirectory("graft_t36_text_index").toString
  private lazy val t49TokenizerDir: String =
    java.nio.file.Files.createTempDirectory("graft_t49_tokenizer").toString
  private lazy val d35IndexDir: String =
    java.nio.file.Files.createTempDirectory("graft_d35_chunk_index").toString
  private lazy val t62bIndexDir: String =
    java.nio.file.Files.createTempDirectory("graft_t62b_tfidf_index").toString

  def t36Bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val path = t36IndexDir
    TextOps.writeTextIndex(Tables.documents(spark, dir), path)
    TextOps.bm25ServeIndexed(spark, path,
      Seq("dup", "spark", "vector", "merge"), k = 20)
  }

  /** t62 served from the persisted tf-idf index
    * ([[TextOps.writeTfidfIndex]] → [[TextOps.tfidfCosineTopKAt]]) —
    * the ELEVENTH index-lifecycle family under the gate (r15 verdict
    * task 2). Registered as build + serve for oracle self-containment
    * (the t36/d29 convention); the oracle is t62's UNCHANGED
    * from-scratch SQL, so the hash gate pins
    * `serve(index) == from-scratch` — every saturated tf, df, idf,
    * baked norm², and the IEEE-exact cosine finish survive the round
    * trip through the artifact. Same per-process temp-dir discipline
    * as t36 (r12/r13 ADVICE).
    */
  def t62bTfidfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val path = t62bIndexDir
    TextOps.writeTfidfIndex(Tables.documents(spark, dir), path)
    TextOps.tfidfCosineTopKAt(spark, path,
      Seq("dup", "spark", "vector", "merge"), k = 20)
  }

  /** Sliding windows (1 h length, 15 min slide) over the events table —
    * the batch twin of streaming.EventsStream.sliding. Each event lands
    * in exactly length/slide = 4 windows, produced by a 4-way explode
    * BEFORE the grouped aggregation (the standard sliding-window
    * expansion; map-side partial agg shrinks the 4× rows before the one
    * exchange). ts is epoch-nanos, so window starts are integer
    * arithmetic both here and in the oracle. The base window start is
    * `ts - pmod(ts, slide)` — a FLOORED multiple of the slide, matching
    * streaming window() semantics — not `ts div slide`, which truncates
    * toward zero and would shift window starts for pre-1970 (negative)
    * nanos. (DuckDB's integer `//` also truncates, so the oracle floors
    * explicitly with the same pmod arithmetic.)
    */
  def e04Sliding(spark: SparkSession, dir: String): DataFrame = {
    val slideNs = 900000000000L
    Tables.events(spark, dir)
      .withColumn("k", explode(sequence(lit(0L), lit(3L))))
      .withColumn("win_start",
        col("ts") - pmod(col("ts"), lit(slideNs)) - col("k") * lit(slideNs))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Batch twin of the stream-stream INTERVAL join (the shape
    * StreamingSpec runs with watermarks): per click, how many views
    * the same user made in the trailing hour. LEFT join keeps
    * zero-view clicks (count(vts) ignores the null row); the range
    * rides the JOIN condition, not a post-filter, so Spark plans one
    * equi-join on user_id with the interval as a join filter — ts is
    * epoch-nanos integer arithmetic in both engines.
    */
  def e06IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // MICROsecond precision end to end: DuckDB truncates the parquet
    // TIMESTAMP(NANOS) to micros, so interval membership must be
    // decided on the same truncated clock in both engines (the e02
    // epoch_us rule, applied to the join condition too)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vuser"), expr("ts div 1000").as("vts"))
    clicks.join(views,
        col("vuser") === col("user_id") &&
          col("vts") >= col("ts") - lit(3600000000L) && col("vts") <= col("ts"),
        "left")
      .groupBy(col("event_id"), col("user_id"), col("ts"))
      .agg(count(col("vts")).as("n_views_1h"))
      .orderBy(col("event_id"))
  }

  /** For each click, the EARLIEST following view by the same user —
    * forward as-of join ([[graft.ops.AsOf.joinForward]]); same
    * single-shuffle union+window plan as e02, time reversed. Oracle:
    * DuckDB ASOF LEFT JOIN with the inequality flipped.
    */
  def e03AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        col("event_id").as("view_event_id"), col("value").as("view_value"))
    graft.ops.AsOf.joinForward(clicks, views, Seq("user_id"), "ts", "ts",
        Seq("view_event_id", "view_value"))
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("click_us"),
        col("view_event_id"), col("view_value"))
      .orderBy(col("event_id"))
  }

  /** Content fingerprint per document: the minimum digest over word
    * 3-gram shingles — the winnowing idea with a window spanning the
    * whole document, so two documents sharing their minimal shingle
    * collide. The native [[graft.functions.MinShingleMd5]] expression
    * computes it in one pass per row, so the plan is scan→project with
    * no exchange before the final sort (the declarative
    * explode→min-agg twin shuffles a digest per shingle and runs ~6×
    * slower; equality pinned in ExtSpec). md5 (not xxhash64) so the
    * SQL oracle recomputes it bit-for-bit.
    */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftFingerprint(lower(col("text")), 3).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal decode plumbing under the gate: documents wrapped as
    * binary media payloads, streamed through the per-partition codec
    * ([[graft.ext.Multimodal.extractFeatures]]), with the
    * SQL-expressible outputs (id, type, payload byte count) checked
    * against the oracle — proving the batch path reads every payload
    * and reports sizes faithfully. The stubbed decode outputs
    * (checksum, embedding) are spec-verified in MultimodalSpec.
    */
  def m01MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticMedia(Tables.documents(spark, dir))
    graft.ext.Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("mediaType").as("media_type"),
        col("n_bytes").cast("long").as("n_bytes"))
      .orderBy(col("media_id"))
  }

  /** REAL image decode under the gate: deterministic synthetic PNGs
    * (pixels a pure mod-arithmetic function of (doc_id, x, y) —
    * [[graft.ext.Multimodal.syntheticRaster]]) are ImageIO-encoded,
    * [[graft.ext.Multimodal.resize]]d to 10×6 by decode →
    * nearest-neighbor → re-encode, then decoded AGAIN for (width,
    * height, pixel checksum). The oracle replays the raster and the
    * x·srcW/dstW floor mapping in SQL, so the row hash pins the whole
    * codec round trip: a wrong PNG writer, a lossy step, a flipped
    * raster order, or an off-by-one in the scale mapping all
    * hash-mismatch. Source dims 8–16 × 8–12 vs target 10×6 exercise
    * BOTH up- and down-scaling.
    */
  def m02MediaResize(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPng(Tables.documents(spark, dir))
    graft.ext.Multimodal.decodedStats(graft.ext.Multimodal.resize(media, 10, 6)).toDF()
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("checksum"))
      .orderBy(col("media_id"))
  }

  /** Frame sampling over a real multi-frame container
    * ([[graft.ext.Multimodal.syntheticPngSequence]] →
    * [[graft.ext.Multimodal.extractFrames]] at stride 2): the payload
    * is a length-prefixed sequence of REAL PNGs, the operator parses
    * the frame table, decodes only the sampled frames, and the gate
    * replays each sampled frame's raster arithmetic + position-weighted
    * checksum in SQL — m02's proof shape lifted to the frame axis.
    */
  def m03FrameSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPngSequence(Tables.documents(spark, dir))
    graft.ext.Multimodal.extractFrames(media, stride = 2).toDF()
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("checksum"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Shot-boundary detection over the m03 frame containers
    * ([[graft.ext.Multimodal.shotBoundaries]]): per-frame dHash from
    * REAL decoded PNGs, lag-window Hamming between consecutive frames,
    * boundary at ≥ 10 differing bits. The oracle replays the per-FRAME
    * raster (the m03 arithmetic), the 8×8 nearest-neighbor dHash grid
    * (the m06 arithmetic), and the consecutive xor/bit_count — the
    * whole detector, pixels to cuts, under the hash gate.
    */
  def m08ShotBoundaries(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPngSequence(Tables.documents(spark, dir))
    graft.ext.Multimodal.shotBoundaries(media, threshold = 10)
      .select(col("media_id"), col("frame_idx"), col("hamming"), col("is_boundary"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Keyframe extraction over the m03 frame containers
    * ([[graft.ext.Multimodal.keyframes]]): shot detection (the m08
    * dHash-cut detector) → first frame of each shot — the
    * representative-frame sampling a vision training pipeline keeps
    * from a video. The oracle replays raster → dHash → lag →
    * threshold → running start-count, so shot segmentation AND
    * representative choice sit under the hash gate.
    */
  def m11Keyframes(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val media = graft.ext.Multimodal.syntheticPngSequence(Tables.documents(spark, dir))
    graft.ext.Multimodal.keyframes(media, threshold = 10)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Count-Min point-frequency estimates
    * ([[graft.ops.Approx.cmsSketch]]/[[graft.ops.Approx.cmsEstimate]]):
    * the counter sketch complementing t17's space-saving top-k —
    * bounded depth×width state, one-sided est ≥ exact guarantee,
    * cell-wise mergeable across shards/micro-batches (OpsSpec pins
    * both properties). The bucket hash is md5 integer arithmetic, so
    * the oracle replays the SKETCH CELLS themselves and the estimates
    * hash-gate exactly — the d26 KMV convention applied to counters.
    * Output: the 20 most frequent tokens with exact and CMS counts.
    */
  def t34CmsCounts(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val keys = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token"))
      .limit(20)
    val sketch = graft.ops.Approx.cmsSketch(toks, "token", depth = 4, width = 512)
    graft.ops.Approx.cmsEstimate(sketch, keys, "token", depth = 4, width = 512)
      .orderBy(col("token"))
  }

  /** Length-distribution quantiles from an equi-width histogram
    * sketch ([[graft.ops.Approx.histSketch]] →
    * [[graft.ops.Approx.histQuantiles]]): the "where do p25/p50/p99
    * document lengths sit" curation question answered from 64 counter
    * cells instead of a corpus sort — the quantile member of the
    * sketch family next to t34's CMS and d26's KMV. Every cell and
    * every bracket is integer arithmetic, so the ESTIMATES hash-gate
    * (percentile_approx, by contrast, could only be error-banded);
    * the one-bin-width bracket guarantee is spec-pinned in OpsSpec
    * against exact percentile_disc.
    */
  def t35HistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sketch = graft.ops.Approx.histSketch(
      docs, col("n_chars"), lo = 0L, hi = 640L, buckets = 64)
    graft.ops.Approx.histQuantiles(
      sketch, Seq(250000L, 500000L, 750000L, 900000L, 990000L),
      lo = 0L, hi = 640L, buckets = 64)
      .orderBy(col("fraction_micro"))
  }

  /** Content-defined chunking under the gate
    * ([[graft.functions.GearChunks]]): every document's chunk table
    * (start, len, content hash) from the gear rolling hash — the
    * boundary finder behind shift-robust chunk-level dedup. The
    * recurrence mod 2^31 has an exact 31-codepoint memory, so the
    * oracle replays every rolling-hash value with a 31-row windowed
    * self-join (no recursion) and the hash gate pins the BOUNDARY
    * DECISIONS themselves, not just downstream aggregates. One
    * codegen pass per row; chunk hashes are the d26 md5-integer
    * convention so they also gate.
    */
  def d33CdcChunks(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.chunkTable(Tables.documents(spark, dir), maskBits = 6)
      .orderBy(col("doc_id"), col("start"))

  /** THE property content-defined chunking exists for, measured under
    * the gate: a head insertion shifts every byte offset (fixed-size
    * blocks would all change), but gear cut points re-align within
    * ~31 codepoints + one chunk, so the unchanged tail chunks hash
    * identically again. Every tenth document gets a synthetic head
    * edit; output = per edited doc, its original's chunk count and
    * how many of those chunks the edited version still shares —
    * integers end to end, both chunkings and the overlap join replay
    * in SQL.
    */
  def d34CdcShifted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def chunksOf(df: DataFrame): DataFrame =
      graft.ext.Dedup.chunkTable(df, maskBits = 6)
        .select(col("doc_id"), col("chunk_hash"))
    val base = chunksOf(docs.filter(col("doc_id") % 10 === 0))
    val edited = chunksOf(docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          concat(lit("EDIT INSERTED HEAD >> "), col("text")).as("text")))
      .distinct()
      .withColumnRenamed("doc_id", "_ed").withColumnRenamed("chunk_hash", "_eh")
    base.join(edited,
        col("_ed") === col("doc_id") && col("_eh") === col("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("chunk_hash")).as("n_chunks"),
        countDistinct(when(col("_eh").isNotNull, col("chunk_hash")))
          .as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Chunk-level provenance served from the persisted chunk store
    * ([[graft.ext.Dedup.writeChunkIndex]] →
    * [[graft.ext.Dedup.chunkProvenanceIndexed]]) — the SEVENTH
    * index-lifecycle family under the gate. An ingest batch of
    * head-edited copies (fresh ids, every byte offset shifted) is
    * probed against the stored corpus chunks: n_seen counts the batch
    * chunks whose content the corpus already has — the shift-robust
    * "have we seen this before, at sub-document granularity" answer
    * fixed-size blocks cannot give. Registered as build + serve for
    * oracle self-containment (the d29/t36 convention); the oracle
    * replays BOTH chunkings from scratch, so the hash gate pins
    * serve(artifact) == from-scratch for every count.
    */
  def d35ChunkProvenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // per-JVM lazy temp dir — see t36IndexDir (race fix without the leak)
    val path = d35IndexDir
    graft.ext.Dedup.writeChunkIndex(docs, path, maskBits = 6)
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("EDIT INSERTED HEAD >> "), col("text")).as("text"))
    graft.ext.Dedup.chunkProvenanceIndexed(spark, path, batch)
      .orderBy(col("doc_id"))
  }

  /** Incremental clustering under the gate
    * ([[graft.ext.Dedup.updateClusters]]): an existing labeling (built
    * over the base three-quarters of the persisted pair graph) folds
    * in the batch-touching pairs WITHOUT re-propagating the corpus —
    * old labels re-enter as (member, label) edges, so components over
    * (label edges ∪ new pairs) equal components over the full pair set
    * in both membership and min-id. The composition partner of d23's
    * pair-graph update: after each artifact fold, the labeling follows
    * at |labels| + |batch pairs| cost. The oracle is d11's FULL-graph
    * recursive CTE — it never sees the split, so the hash gate pins
    * update == rebuild exactly.
    */
  def d37ClusterUpdate(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairGraph(spark, dir)
    val baseLabels = Dedup.clusters(
      pairs.filter(col("id_a") % 4 =!= 3 && col("id_b") % 4 =!= 3))
    Dedup.updateClusters(baseLabels,
      pairs.filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3))
      .orderBy(col("id"))
  }

  /** Chunk-level dedup savings under the gate
    * ([[graft.ext.Dedup.chunkDedupStats]]): per document, the chunks
    * and characters that survive keeping ONE copy of every distinct
    * chunk content corpus-wide (keeper = first occurrence in
    * (doc_id, start) order — a total order, so the rollup is exact
    * integers and every savings number hash-gates). The answer to
    * "how much storage / how many training tokens does chunk-level
    * dedup buy on this corpus", shift-robust where fixed blocks are
    * not. One exchange on chunk_hash.
    */
  def d36ChunkDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.chunkDedupStats(
      graft.ext.Dedup.chunkTable(Tables.documents(spark, dir), maskBits = 6))
      .orderBy(col("doc_id"))

  /** Integer text features + the lexical-diversity label the perceptron
    * queries train against: y = +1 iff distinct tokens ≥ half the
    * tokens (the "repetitious text" boundary as a LINEAR rule over the
    * feature space — 2·f3 − f1 ≥ 0 — so the data is separable and the
    * trainer can actually converge, not just iterate).
    */
  private def labeledTextFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Classify.textFeatures(Tables.documents(spark, dir))
      .withColumn("y", when(col("f3") * 2 >= col("f1"), 1L).otherwise(-1L))
      // center with corpus-typical integer offsets (the operator's doc
      // note: uncentered counts make the batch update overshoot in the
      // bias direction — measured: mistakes plateau at 44 % of the
      // corpus uncentered vs 6 % centered). Constants here; at 100 TB
      // read them off profileApprox once and fold in the same way.
      .select(col("doc_id"), col("f0"),
        (col("f1") - 56L).as("f1"), (col("f2") - 5L).as("f2"),
        (col("f3") - 23L).as("f3"), (col("f4") - 2L).as("f4"), col("y"))

  /** In-engine classifier training under the gate
    * ([[graft.ext.Classify.perceptronTrain]]): six batch-perceptron
    * iterations over integer text features, labels from the
    * lexical-diversity rule. The output is the TRAINING TRAJECTORY —
    * per iteration, the mistake count under the previous weights and
    * the full updated weight vector, all BIGINT — so the oracle
    * (an unrolled cross-join CTE chain, the Lloyd's-replay convention
    * applied to a classifier) pins every single update step, not just
    * the final model. One map-side-combined aggregation per iteration;
    * driver state is the 5-element weight vector.
    */
  def t38PerceptronTrain(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Classify.perceptronTrain(labeledTextFeatures(spark, dir),
      graft.ext.Classify.textFeatureCols, "y", iters = 6)
      .orderBy(col("iter"))

  /** Train + classify (the t29 train-and-apply convention): the t38
    * weights fold into a narrow codegen inference pass as literals —
    * per document, the integer margin w·x and the sign decision. The
    * oracle replays training AND inference, so the gate pins the whole
    * train→deploy path end to end.
    */
  def t39PerceptronClassify(spark: SparkSession, dir: String): DataFrame = {
    val feats = labeledTextFeatures(spark, dir)
    val cols = graft.ext.Classify.textFeatureCols
    val w = graft.ext.Classify.trainWeights(feats, cols, "y", iters = 6)
    graft.ext.Classify.perceptronClassify(feats, cols, w)
      .orderBy(col("doc_id"))
  }

  /** Per-source distinct-vocabulary estimates
    * ([[graft.ops.Approx.kmvSketchBy]] →
    * [[graft.ops.Approx.kmvDistinctBy]], k = 16): d26's KMV sketch
    * grouped by the source label — "how many distinct tokens does
    * each domain contribute" from 16 hash rows per key instead of a
    * per-key distinct count over the corpus vocabulary. The per-key
    * k-smallest truncation is the custom TopKPerKey operator; k = 16
    * is deliberately below the fixture's ~30-token per-source vocab
    * so the ESTIMATOR path (not the exact sub-k path) is what the
    * gate pins — estimates are deterministic integers (the d26
    * convention), so they hash-gate per key.
    */
  def d32KmvBySource(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val sk = graft.ops.Approx.kmvSketchBy(toks, "source", col("token"), k = 16)
    graft.ops.Approx.kmvDistinctBy(sk, k = 16)
      .withColumnRenamed("key", "source")
      .orderBy(col("source"))
  }

  /** Per-source length-distribution quantiles
    * ([[graft.ops.Approx.histSketchBy]] →
    * [[graft.ops.Approx.histQuantilesBy]]): t35's histogram sketch
    * grouped by the source label — the per-domain length profile a
    * mixture designer (t23/t33) reads before setting quotas, from
    * ≤ |sources|·64 counter cells. Same integer cells-and-rank-walk
    * machinery per key, so every group's brackets hash-gate; the
    * post-sketch walk runs at sketch cardinality, never corpus.
    */
  def t37HistBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sketch = graft.ops.Approx.histSketchBy(
      docs, "source", col("n_chars"), lo = 0L, hi = 640L, buckets = 64)
    graft.ops.Approx.histQuantilesBy(sketch, Seq(500000L, 990000L),
      lo = 0L, hi = 640L, buckets = 64)
      .withColumnRenamed("key", "source")
      .orderBy(col("source"), col("fraction_micro"))
  }

  /** Audio frame features over REAL WAV payloads
    * ([[graft.ext.Multimodal.syntheticWav]] →
    * [[graft.ext.Multimodal.extractAudioFrames]]): the payload is a
    * genuine RIFF/WAVE file (javax.sound.sampled) whose decoded
    * samples are pure (id, i) integer arithmetic, so per-frame energy,
    * zero crossings, and peak replay exactly in SQL — the m02/m03
    * codec-under-the-gate proof shape on the audio axis, and the gate
    * compares integers only.
    */
  def m04AudioFrames(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val audio = graft.ext.Multimodal.syntheticWav(Tables.documents(spark, dir))
    graft.ext.Multimodal.extractAudioFrames(audio, frame = 256).toDF()
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("n_samples").cast("long").as("n_samples"), col("energy"),
        col("zero_crossings"), col("peak").cast("long").as("peak"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** ORC round trip UNDER THE ORACLE GATE: the lineitem slice is
    * written through [[graft.sources.Orc]], read back, and aggregated —
    * the DuckDB oracle computes the same aggregate straight from the
    * PARQUET table, so a hash match proves the ORC sink+source preserve
    * values and types exactly (pushdown reaching the ORC scan is
    * OrcSpec-pinned separately; sums ride DecimalType per the q02
    * exactness rule). Deterministic tmp target, overwritten per run.
    */
  def j02OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_j02_orc"
    graft.sources.Orc.writeOrc(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
          col("l_extendedprice")),
      tmp)
    graft.sources.Orc.readOrc(spark, tmp)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** The j02 proof for the TEXT formats, where value fidelity actually
    * breaks (doubles through string serialization, quoting, header
    * skew): CSV with an EXPLICIT read schema (j03) and JSONL (j04),
    * both against the same parquet-side oracle. Spark writes doubles
    * in shortest-round-trip form, so the string→double re-parse is
    * bit-exact — which is precisely what the hash gate checks.
    */
  def j03CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_j03_csv"
    val slice = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("l_extendedprice"))
    graft.sources.Csv.writeCsv(slice, tmp)
    graft.sources.Csv.readCsv(spark, tmp, Some(slice.schema))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  def j04JsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_j04_jsonl"
    val slice = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("l_extendedprice"))
    graft.sources.Jsonl.writeJsonl(slice, tmp)
    graft.sources.Jsonl.readJsonl(spark, tmp, Some(slice.schema))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))
  }

  /** PNG tEXt provenance metadata round-trip
    * ([[graft.ext.Multimodal.syntheticPngTagged]] →
    * [[graft.ext.Multimodal.extractPngText]]): tags are inserted as
    * REAL spec-conformant chunks (length + type + data + CRC32) into
    * real ImageIO PNGs and parsed back chunk-by-chunk with CRC
    * verification; the values are id arithmetic, so the oracle replays
    * them with plain string concat — byte-level format work under the
    * hash gate.
    */
  def m05PngMeta(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val tagged = graft.ext.Multimodal.syntheticPngTagged(Tables.documents(spark, dir))
    graft.ext.Multimodal.extractPngText(tagged)
      .orderBy(col("media_id"), col("key"))
  }

  /** 32-bit SimHash with an md5-derived token hash — the
    * independently-oracled twin of the xxhash64-based d04 family
    * (d04's own oracle now replays XXH64 via the generated CTE chain;
    * md5's first 8 hex digits parse to the same 32-bit integer in both
    * engines with no generated code at all). Computed by the one-pass native
    * expression ([[graft.functions.SimHashMd5]]): no explode, no
    * shuffle — the plan is scan → project → sort, same shape as t04.
    * The has-a-non-whitespace-char filter reproduces which docs the
    * explode-based oracle/declarative twin emits: a token-less doc has
    * no rows to group there, so it must not appear here either. rlike
    * "\\S", NOT length(trim(..)) > 0 — Spark trim strips only spaces,
    * so a tab/newline-only doc would pass a trim filter while its
    * whitespace-split tokens are all empty.
    */
  def d07SimhashMd5(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("text").rlike("\\S"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftSimhashMd5(col("text")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Declarative reference formulation of [[d07SimhashMd5]] (explode →
    * 32 conditional ±1 sums in one grouped aggregation → bit
    * reassembly); kept as the in-repo oracle for the native expression
    * (equality pinned in ExtSpec).
    */
  private[graft] def d07SimhashMd5Declarative(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("h", graft.functions.Cols.md5Uint32(col("tok")))
    val bitSums = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$b")
    }
    val summed = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 32).map { b =>
      when(col(s"s_$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    summed.select(col("doc_id"), fp.as("simhash")).orderBy(col("doc_id"))
  }

  /** Deterministic weight-proportional sample of the corpus
    * ([[graft.ops.Sampling.weightedPriority]]): 50 documents drawn with
    * probability ~ token count. The md5-derived uniform and the
    * pow-free priority arithmetic (only IEEE +,/) make the drawn set
    * AND the priority doubles bit-reproducible in any engine, so the
    * sample itself sits under the oracle gate — reproducible sampling
    * is what makes a 100 TB training-data pipeline auditable.
    */
  def t06WeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedPriority(
        Tables.documents(spark, dir)
          .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("double").as("w")),
        "w", Seq("doc_id"), m = 50)
      .select(col("doc_id"), col("priority"))
      .orderBy(col("doc_id"))

  /** The t09 split thresholds, derived with the SAME scanLeft-on-doubles
    * arithmetic as [[graft.ops.Sampling.hashSplit]] so the SQL literals
    * can never drift from the Scala cutoffs.
    */
  private def hashSplitOracle: String = {
    val bounds = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      .map(c => math.min((c * 4294967296.0).toLong, 4294967296L))
    s"""SELECT doc_id,
       |  CASE WHEN h < ${bounds(0)} THEN 'train'
       |       WHEN h < ${bounds(1)} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |        ('0x' || substr(md5('graft:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
       |      FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain computing the 32-bit md5 SimHash per doc (ends in
    * a `fp(doc_id, simhash)` relation) — the base of both the d07
    * fingerprint oracle and the d10 pairs oracle.
    */
  private def simhashMd5Cte: String = {
    val sums = (0 until 32)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
      .mkString(",\n    ")
    // disjoint bits, so + reassembles what Spark ORs
    val fp = (0 until 32)
      .map(b => s"CASE WHEN s_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS tok FROM documents
       |), h AS (
       |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
       |  FROM toks WHERE tok <> ''
       |), s AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM h GROUP BY doc_id
       |), fp AS (
       |  SELECT doc_id, $fp AS simhash FROM s
       |)""".stripMargin
  }

  private def simhashMd5Oracle: String =
    s"$simhashMd5Cte\nSELECT doc_id, simhash FROM fp ORDER BY doc_id"

  /** Naive exact pair join over the md5 SimHash — what the banded
    * equi-join + Hamming verify must reproduce exactly.
    */
  private def simhashMd5PairsOracle: String =
    s"""$simhashMd5Cte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Single-statement DuckDB replay of Spark's `xxhash64` (XXH64 with
    * seed 42 — the algorithm is public: xxHash, Y. Collet, BSD-2) over
    * each row of a `(doc_id, tok)` source, emitted as a chain of CTE
    * stages ending in `xh(doc_id, h)`. This closes the last `no_oracle`
    * registry row: the 64-bit SimHash fingerprint — and therefore the
    * d04 pair set — is cross-engine replayable, not just its md5 twin
    * (d07/d10).
    *
    * Engine mechanics: DuckDB UBIGINT arithmetic is overflow-CHECKED,
    * not wrapping, so every mod-2^64 multiply runs through HUGEINT with
    * a 32-bit split (`a*b mod 2^64 = (aLo*b + ((aHi*b mod 2^32) <<
    * 32)) mod 2^64` — all partial products fit int128), shifts-left are
    * spelled as that multiply, and bytes come from `hex(encode(tok))`
    * so multi-byte UTF-8 hashes exactly like Spark's UTF8String bytes.
    * Only the `len < 32` tail path is unrolled (fixture tokens are
    * <= 8 bytes; whitespace-split tokens have no 32-byte stripes to
    * process) — a token of >= 32 bytes hashes NULL so a future fixture
    * change fails the hash gate loudly instead of drifting silently.
    */
  private object Xxh64Sql {
    private val M64 = "18446744073709551616"
    private val P1 = "11400714785074694791"
    private val P2 = "14029467366897019727"
    private val P3 = "1609587929392839161"
    private val P4 = "9650029242287828579"
    private val P5 = "2870177450012600261"

    private def mul64(a: String, b: String): String =
      s"(((($a) % 4294967296)::HUGEINT * ($b)::HUGEINT) % $M64" +
        s" + ((((($a) // 4294967296)::HUGEINT * ($b)::HUGEINT) % 4294967296) * 4294967296)) % $M64"
    private def mul64u(a: String, b: String): String = s"(${mul64(a, b)})::UBIGINT"
    private def add64(a: String, b: String): String =
      s"((($a)::HUGEINT + ($b)::HUGEINT) % $M64)::UBIGINT"
    private def rotl(x: String, r: Int): String =
      s"(${mul64u(x, (BigInt(1) << r).toString)} | (($x) >> ${64 - r}))"
    private def readLe(o: String, nBytes: Int): String = {
      val parts = (0 until nBytes).reverse
        .map(j => s"substr(hx, 2*($o+$j)+1, 2)").mkString(" || ")
      s"('0x' || $parts)::UBIGINT"
    }

    /** The stage chain: `src` must expose (doc_id, tok). */
    def cte(src: String): String = {
      val stages = scala.collection.mutable.ArrayBuffer.empty[String]
      stages += s"x0 AS (SELECT doc_id, hex(encode(tok)) AS hx, " +
        s"octet_length(encode(tok)) AS len FROM $src)"
      val seedP5 = "2870177450012600303" // (42 + P5) mod 2^64
      stages += s"x1 AS (SELECT doc_id, hx, len, CASE WHEN len >= 32 THEN NULL " +
        s"ELSE ${add64(seedP5, "len")} END AS acc FROM x0)"
      var prev = "x1"
      // up to three 8-byte rounds at offsets 0, 8, 16
      for (k <- 0 until 3) {
        val o = 8 * k
        val cond = s"len >= ${o + 8}"
        stages += s"x${2 + 3 * k} AS (SELECT doc_id, hx, len, acc, CASE WHEN $cond " +
          s"THEN ${mul64u(readLe(o.toString, 8), P2)} END AS m$k FROM $prev)"
        stages += s"x${3 + 3 * k} AS (SELECT doc_id, hx, len, acc, CASE WHEN $cond " +
          s"THEN xor(acc, ${mul64u(rotl(s"m$k", 31), P1)}) END AS t$k FROM x${2 + 3 * k})"
        stages += s"x${4 + 3 * k} AS (SELECT doc_id, hx, len, CASE WHEN $cond " +
          s"THEN ${add64(mul64u(rotl(s"t$k", 27), P1), P4)} ELSE acc END AS acc FROM x${3 + 3 * k})"
        prev = s"x${4 + 3 * k}"
      }
      // one optional 4-byte round at offset (len//8)*8, iff len%8 >= 4
      stages += s"y0 AS (SELECT doc_id, hx, len, acc, CASE WHEN len % 8 >= 4 " +
        s"THEN xor(acc, ${mul64u(readLe("(len // 8) * 8", 4), P1)}) END AS t4 FROM $prev)"
      stages += s"y1 AS (SELECT doc_id, hx, len, CASE WHEN len % 8 >= 4 " +
        s"THEN ${add64(mul64u(rotl("t4", 23), P2), P3)} ELSE acc END AS acc FROM y0)"
      prev = "y1"
      // up to three tail bytes at offset len - len%4 + j, iff len%4 > j
      for (j <- 0 until 3) {
        val ob = s"len - (len % 4) + $j"
        val cond = s"len % 4 > $j"
        stages += s"z${2 * j} AS (SELECT doc_id, hx, len, acc, CASE WHEN $cond " +
          s"THEN xor(acc, ${mul64u(readLe(ob, 1), P5)}) END AS b$j FROM $prev)"
        stages += s"z${2 * j + 1} AS (SELECT doc_id, hx, len, CASE WHEN $cond " +
          s"THEN ${mul64u(rotl(s"b$j", 11), P1)} ELSE acc END AS acc FROM z${2 * j})"
        prev = s"z${2 * j + 1}"
      }
      stages += s"av1 AS (SELECT doc_id, ${mul64u("xor(acc, acc >> 33)", P2)} AS acc FROM $prev)"
      stages += s"av2 AS (SELECT doc_id, ${mul64u("xor(acc, acc >> 29)", P3)} AS acc FROM av1)"
      stages += "xh AS (SELECT doc_id, xor(acc, acc >> 32) AS h FROM av2)"
      stages.mkString(",\n")
    }
  }

  /** d04's oracle CTE: xxhash64-token SimHash over ALL docs — unlike
    * the md5 twin there is NO empty-token filter and NO doc filter,
    * because [[graft.functions.SimHash64]] hashes every whitespace-split
    * token including the single empty token a whitespace-only doc
    * yields (its fingerprint degenerates to 0). Bit votes and the
    * 64-bit reassembly run in UBIGINT (logical shifts; `2^b` as
    * literals — DuckDB's `<<` overflow-checks at bit 63).
    */
  private def simhashXxhCte: String = {
    val sums = (0 until 64)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
      .mkString(",\n    ")
    val fp = (0 until 64)
      .map(b => s"CASE WHEN s_$b > 0 THEN ${(BigInt(1) << b).toString}::UBIGINT ELSE 0::UBIGINT END")
      .mkString(" + ")
    s"""WITH tsrc AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS tok FROM documents
       |),
       |${Xxh64Sql.cte("tsrc")},
       |s AS (SELECT doc_id, $sums FROM xh GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS simhash FROM s)""".stripMargin
  }

  private def simhashXxhPairsOracle: String =
    s"""$simhashXxhCte
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Generated Lloyd's-iteration CTE chain replaying
    * [[graft.ext.Similarity.trainCodebook]] (s05): md5-ordered seeds,
    * per-iteration centroid components derived as `sum/(count·1e6)`
    * from the previous EXACT integer state, rounded-cosine argmax
    * assignment (ties to the smallest centroid id — the s04 key), and
    * an integer micro-sum re-aggregation. Output is integers only.
    */
  /** CTE chain replaying [[graft.functions.GearChunks]] over the docs
    * produced by `src` (must select `doc_id, text`), prefixed `p_`:
    * per-codepoint 16-bit gears, every rolling-hash value as the
    * 31-row windowed sum mod 2^31 (the recurrence's exact memory —
    * see d33), cuts at h % 64 == 0 plus the end of text, chunks
    * between consecutive cuts with the d26 md5-integer content hash.
    * Yields `p_ck(doc_id, start, len, chunk_hash)`.
    */
  private def cdcChunkCtes(p: String, src: String): String =
    s"""${p}_d AS ($src),
       |${p}_c AS (
       |  SELECT doc_id, i.i AS i,
       |    ('0x' || substr(md5(unicode(substr(text, i.i, 1))::VARCHAR), 1, 4))::BIGINT AS g
       |  FROM ${p}_d, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) i
       |), ${p}_h AS (
       |  SELECT a.doc_id, a.i,
       |    CAST(sum(b.g * CAST(power(2, a.i - b.i) AS BIGINT)) % 2147483648 AS BIGINT) AS h
       |  FROM ${p}_c a JOIN ${p}_c b
       |    ON b.doc_id = a.doc_id AND b.i BETWEEN a.i - 30 AND a.i
       |  GROUP BY 1, 2
       |), ${p}_cut AS (
       |  SELECT doc_id, i FROM ${p}_h WHERE h % 64 = 0
       |  UNION
       |  SELECT doc_id, length(text) AS i FROM ${p}_d WHERE length(text) > 0
       |), ${p}_sp AS (
       |  SELECT doc_id, lag(i, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) AS s,
       |    i AS e
       |  FROM ${p}_cut
       |), ${p}_ck AS (
       |  SELECT sp.doc_id, sp.s AS start, sp.e - sp.s AS len,
       |    ('0x' || substr(md5(substr(d.text, sp.s + 1, sp.e - sp.s)), 1, 15))::BIGINT AS chunk_hash
       |  FROM ${p}_sp sp JOIN ${p}_d d USING (doc_id) WHERE sp.e > sp.s
       |)""".stripMargin

  /** Unrolled batch-perceptron CTE chain replaying
    * [[graft.ext.Classify.perceptronTrain]] over the t38 feature/label
    * frame (the Lloyd's-replay convention applied to a classifier):
    * `f` is the integer feature frame with the diversity label; each
    * iteration i is one cross join of `f` with the 1-row weight CTE
    * w(i−1) — mistake filter y·(w·x) <= 0, coalesced delta sums, and
    * the updated 1-row w(i). All values CAST BIGINT (DuckDB widens
    * integer sums to HUGEINT otherwise). Yields m1..m\$iters and
    * w0..w\$iters.
    */
  private def perceptronCtes(iters: Int): String = {
    val d = 5
    val zero = (0 until d).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")
    val dot = (0 until d).map(j => s"w.w$j * f.f$j").mkString(" + ")
    val iterCtes = (1 to iters).map { i =>
      val sums = (0 until d)
        .map(j => s"CAST(COALESCE(sum(f.y * f.f$j), 0) AS BIGINT) AS d$j")
        .mkString(", ")
      val upd = (0 until d)
        .map(j => s"CAST(w.w$j + m.d$j AS BIGINT) AS w$j").mkString(", ")
      s"""m$i AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, $sums
         |  FROM f, w${i - 1} w WHERE f.y * ($dot) <= 0
         |), w$i AS (SELECT $upd FROM w${i - 1} w, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""fr AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN trim(text) = '' THEN 0
       |      ELSE len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) END AS BIGINT) AS f1,
       |    CAST(length(text) AS BIGINT) AS nc,
       |    CAST(CASE WHEN trim(text) = '' THEN 0
       |      ELSE len(list_distinct(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'))) END AS BIGINT) AS f3,
       |    CAST((length(text) - length(replace(text, 'the', ''))) // 3 AS BIGINT) AS f4
       |  FROM documents
       |), fy AS (
       |  SELECT fr.*, CAST(nc // greatest(f1, 1) AS BIGINT) AS f2,
       |    CASE WHEN 2 * f3 >= f1 THEN 1 ELSE -1 END AS y
       |  FROM fr
       |), f AS (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS f0,
       |    CAST(f1 - 56 AS BIGINT) AS f1, CAST(f2 - 5 AS BIGINT) AS f2,
       |    CAST(f3 - 23 AS BIGINT) AS f3, CAST(f4 - 2 AS BIGINT) AS f4, y
       |  FROM fy
       |), w0 AS (SELECT $zero),
       |$iterCtes""".stripMargin
  }

  private def perceptronTrainOracle(iters: Int): String = {
    val rows = (1 to iters).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS iter, m$i.n AS n_mistakes,
         |    ww.w0 AS w0, ww.w1 AS w1, ww.w2 AS w2, ww.w3 AS w3, ww.w4 AS w4
         |  FROM m$i, w$i ww""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${perceptronCtes(iters)}
       |SELECT * FROM (
       |  $rows
       |) ORDER BY iter""".stripMargin
  }

  private def perceptronClassifyOracle(iters: Int): String = {
    val dot = (0 until 5).map(j => s"ww.w$j * f.f$j").mkString(" + ")
    s"""WITH ${perceptronCtes(iters)}
       |SELECT f.doc_id, CAST($dot AS BIGINT) AS margin,
       |  CAST(CASE WHEN ($dot) > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
       |FROM f, w$iters ww ORDER BY doc_id""".stripMargin
  }

  private def kmeansChainCtes(k: Int, iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT centroid_id, list(sm / (cnt * 1000000.0) ORDER BY pos) AS ce
         |  FROM s${i - 1} GROUP BY centroid_id
         |), a$i AS (
         |  SELECT vec_id, e, centroid_id FROM (
         |    SELECT v.vec_id, v.e, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY floor((list_cosine_similarity(v.e, c.ce)) * 1000000 + 0.5) / 1000000 DESC, c.centroid_id) AS rn
         |    FROM v, c$i c) t
         |  WHERE rn = 1
         |), s$i AS (
         |  -- sum(BIGINT) widens to HUGEINT in DuckDB; the gate (and the
         |  -- Spark twin) carries BIGINT
         |  SELECT centroid_id, p.p - 1 AS pos,
         |    CAST(sum(CAST(floor(e[p.p] * 1000000) AS BIGINT)) AS BIGINT) AS sm,
         |    count(*) AS cnt
         |  FROM a$i, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS p) p
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(", ")
    s"""v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), cb AS (
       |  SELECT vec_id AS centroid_id, e AS ce FROM v
       |  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id
       |  LIMIT $k
       |), s0 AS (
       |  SELECT centroid_id, p.p - 1 AS pos,
       |    CAST(floor(ce[p.p] * 1000000) AS BIGINT) AS sm, CAST(1 AS BIGINT) AS cnt
       |  FROM cb, LATERAL (SELECT unnest(range(1, len(ce) + 1)) AS p) p
       |), $iterCtes""".stripMargin
  }

  private def kmeansCodebookOracle(k: Int, iters: Int): String =
    s"""WITH ${kmeansChainCtes(k, iters)}
       |SELECT centroid_id, pos, sm AS csum, cnt
       |FROM s$iters ORDER BY centroid_id, pos""".stripMargin

  /** Replays [[graft.ext.Similarity.trainCodebook]] +
    * [[Similarity.assignToCodebook]] + largest-remainder apportionment
    * (s14): the full k-means chain, the rounded-argmax assignment of
    * EVERY vector against the final centroids (the s04/s05 key — round
    * 6, ties to the smallest centroid id), then the t23 mixture CTEs
    * over centroid_id with per-cluster weight `1 + cid % 3` and
    * deterministic within-cluster selection by vec_id.
    */
  private def clusterMixtureOracle(k: Int, iters: Int, total: Long): String =
    s"""WITH ${kmeansChainCtes(k, iters)}, cf AS (
       |  SELECT centroid_id, list(sm / (cnt * 1000000.0) ORDER BY pos) AS ce
       |  FROM s$iters GROUP BY centroid_id
       |), asg AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT v.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY floor((list_cosine_similarity(v.e, c.ce)) * 1000000 + 0.5) / 1000000 DESC, c.centroid_id) AS rn
       |    FROM v, cf c) t
       |  WHERE rn = 1
       |), w AS (
       |  SELECT centroid_id, count(*) AS n, min(1 + (centroid_id % 3)) AS w
       |  FROM asg GROUP BY 1
       |), tot AS (SELECT sum(w) AS tw FROM w
       |), q1 AS (
       |  SELECT centroid_id, n, ($total * w) // tw AS base, ($total * w) % tw AS rem
       |  FROM w CROSS JOIN tot
       |), q2 AS (
       |  SELECT centroid_id, n, base,
       |    row_number() OVER (ORDER BY rem DESC, centroid_id) AS rnk,
       |    $total - sum(base) OVER () AS leftover
       |  FROM q1
       |), q AS (
       |  SELECT centroid_id,
       |    least(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END, n) AS quota
       |  FROM q2
       |), sel AS (
       |  SELECT vec_id, centroid_id,
       |    row_number() OVER (PARTITION BY centroid_id ORDER BY vec_id) AS rn
       |  FROM asg
       |)
       |SELECT vec_id, centroid_id FROM sel JOIN q USING (centroid_id)
       |WHERE rn <= quota ORDER BY vec_id""".stripMargin

  /** Replays [[graft.ext.Similarity.pqTrain]]+[[Similarity.pqEncode]]
    * (s06): ONE md5-ordered seed prefix shared by all subspaces, then
    * per subspace the s05 chain — exact integer micro-sum state,
    * rounded-cosine argmax with ties to the smallest centroid id —
    * ending in the encode argmax. Output is integers only.
    */
  private def pqCodesOracle(m: Int, k: Int, iters: Int, subDim: Int): String = {
    val (subCtes, union) = pqChainCtes(m, k, iters, subDim)
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), ord AS (
       |  SELECT vec_id FROM v
       |  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id
       |  LIMIT $k
       |), $subCtes
       |SELECT vec_id, sub, code FROM ($union) u ORDER BY vec_id, sub""".stripMargin
  }

  /** s21 replay: the FULL s06 PQ chain (seeds, both Lloyd's
    * iterations, final encode, every subspace) joined with the s04
    * coarse-codebook assignment — md5-ordered `nLists` seed rows,
    * rounded-cosine argmax, smallest-id tie-break — so the composite
    * IVF-PQ index build (coarse list AND fine codes) sits under one
    * hash gate.
    */
  private def ivfPqOracle(nLists: Int, m: Int, k: Int, iters: Int,
      subDim: Int): String = {
    val (subCtes, union) = pqChainCtes(m, k, iters, subDim)
    s"""WITH v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
       |), ord AS (
       |  SELECT vec_id FROM v
       |  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id
       |  LIMIT $k
       |), $subCtes, coarse_cb AS (
       |  SELECT vec_id AS list_cid, e AS ce FROM v
       |  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id
       |  LIMIT $nLists
       |), coarse AS (
       |  SELECT vec_id, list_cid AS list_id FROM (
       |    SELECT v.vec_id, c.list_cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY floor((list_cosine_similarity(v.e, c.ce)) * 1000000 + 0.5) / 1000000 DESC, c.list_cid) AS rn
       |    FROM v, coarse_cb c) t
       |  WHERE rn = 1
       |)
       |SELECT u.vec_id, c.list_id, u.sub, u.code
       |FROM ($union) u JOIN coarse c USING (vec_id)
       |ORDER BY vec_id, sub""".stripMargin
  }

  /** The s06 PQ train/encode replay as reusable parts: per-subspace
    * CTE chains (seed → `iters` Lloyd's rounds → final encode) and the
    * all-subspace UNION — callers provide the `v`/`ord` base CTEs.
    */
  private def pqChainCtes(m: Int, k: Int, iters: Int,
      subDim: Int): (String, String) = {
    val subCtes = (0 until m).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      val iterCtes = (1 to iters).map { i =>
        s"""c${i}_$s AS (
           |  SELECT centroid_id, list(sm / (cnt * 1000000.0) ORDER BY pos) AS ce
           |  FROM s${i - 1}_$s GROUP BY centroid_id
           |), a${i}_$s AS (
           |  SELECT vec_id, e, centroid_id FROM (
           |    SELECT v.vec_id, v.e, c.centroid_id,
           |      row_number() OVER (PARTITION BY v.vec_id
           |        ORDER BY floor((list_cosine_similarity(v.e, c.ce)) * 1000000 + 0.5) / 1000000 DESC, c.centroid_id) AS rn
           |    FROM v_$s v, c${i}_$s c) t
           |  WHERE rn = 1
           |), s${i}_$s AS (
           |  SELECT centroid_id, p.p - 1 AS pos,
           |    CAST(sum(CAST(floor(e[p.p] * 1000000) AS BIGINT)) AS BIGINT) AS sm,
           |    count(*) AS cnt
           |  FROM a${i}_$s, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS p) p
           |  GROUP BY 1, 2
           |)""".stripMargin
      }.mkString(", ")
      s"""v_$s AS (
         |  SELECT vec_id, e[$lo:$hi] AS e FROM v
         |), cb_$s AS (
         |  SELECT v_$s.vec_id AS centroid_id, v_$s.e AS ce
         |  FROM v_$s JOIN ord USING (vec_id)
         |), s0_$s AS (
         |  SELECT centroid_id, p.p - 1 AS pos,
         |    CAST(floor(ce[p.p] * 1000000) AS BIGINT) AS sm, CAST(1 AS BIGINT) AS cnt
         |  FROM cb_$s, LATERAL (SELECT unnest(range(1, len(ce) + 1)) AS p) p
         |), $iterCtes, cf_$s AS (
         |  SELECT centroid_id, list(sm / (cnt * 1000000.0) ORDER BY pos) AS ce
         |  FROM s${iters}_$s GROUP BY centroid_id
         |), enc_$s AS (
         |  SELECT vec_id, $s AS sub, centroid_id AS code FROM (
         |    SELECT v.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY floor((list_cosine_similarity(v.e, c.ce)) * 1000000 + 0.5) / 1000000 DESC, c.centroid_id) AS rn
         |    FROM v_$s v, cf_$s c) t
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    val union = (0 until m).map(s => s"SELECT * FROM enc_$s").mkString(" UNION ALL ")
    (subCtes, union)
  }

  /** Exact top-5 joined against itself → recall 1.0 per query — the
    * expected output of [[s02LshRecall]]/[[s03IvfRecall]] (whose
    * approximate sets equal the exact set at gate parameters).
    */
  private val annRecallOracle =
    """WITH exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 DESC,
      |                 b.vec_id) AS rank
      |    FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
      |    WHERE a.vec_id < 20) t
      |  WHERE rank <= 5
      |)
      |SELECT a.query_id AS query_id, count(*) / 5.0 AS recall
      |FROM exact a JOIN exact b
      |  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      |GROUP BY a.query_id ORDER BY query_id""".stripMargin

  /** CTE chain ending in a `jpairs(id_a, id_b, jaccard)` relation — the
    * exact n-gram Jaccard pair set d02/d03/d09 gate on, shared with the
    * recursive d11 clustering oracle.
    */
  /** The d27/d28 record-linkage fixture, shared CTE form: the part
    * catalog string plus the md5-position single-character deletion
    * (identical to [[fuzzyCatalog]]'s Spark expressions).
    */
  private val fuzzyCatalogCtes =
    """cat AS (
      |  SELECT p_partkey AS id,
      |    p_name || '-' || p_brand || '-' || p_size AS s
      |  FROM part
      |),
      |dirty AS (
      |  SELECT id AS did,
      |    concat(substr(s, 1, ('0x' || substr(md5(s), 1, 4))::INT % length(s)),
      |           substr(s, ('0x' || substr(md5(s), 1, 4))::INT % length(s) + 2)) AS ds
      |  FROM cat WHERE id % 3 = 0 AND id < 2000
      |)""".stripMargin

  private val ngramJaccardCtes =
    """toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
      |         ELSE array_to_string(w[i.i:i.i+2], ' ') END AS shingle
      |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i) i
      |), sizes AS (
      |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS isz
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), jpairs AS (
      |  SELECT ia AS id_a, ib AS id_b,
      |    floor((isz / CAST(sa.sz + sb.sz - isz AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = ia
      |  JOIN sizes sb ON sb.doc_id = ib
      |  WHERE isz / CAST(sa.sz + sb.sz - isz AS DOUBLE) >= 0.5
      |)""".stripMargin

  private val ngramJaccardOracle =
    s"""WITH $ngramJaccardCtes
       |SELECT id_a, id_b, jaccard FROM jpairs ORDER BY id_a, id_b""".stripMargin

  /** Containment over the same shingle CTEs (jpairs rides along
    * unused): per-side single divisions, round(6), either-direction
    * threshold — d13. */
  /** d14: the drop-policy CASE over the same containment ratios, then
    * the kept-id anti-join. */
  private val dropContainedOracle =
    s"""WITH $ngramJaccardCtes, conts AS (
       |  SELECT ia AS id_a, ib AS id_b,
       |    isz / CAST(sa.sz AS DOUBLE) AS ca,
       |    isz / CAST(sb.sz AS DOUBLE) AS cb
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = ia
       |  JOIN sizes sb ON sb.doc_id = ib
       |), drops AS (
       |  SELECT DISTINCT
       |    CASE WHEN ca >= 0.6 AND cb >= 0.6 THEN greatest(id_a, id_b)
       |         WHEN ca >= 0.6 THEN id_a ELSE id_b END AS drop_id
       |  FROM conts WHERE ca >= 0.6 OR cb >= 0.6
       |)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT drop_id FROM drops)
       |ORDER BY doc_id""".stripMargin

  private val containmentOracle =
    s"""WITH $ngramJaccardCtes
       |SELECT ia AS id_a, ib AS id_b,
       |  floor((isz / CAST(sa.sz AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS cont_a_in_b,
       |  floor((isz / CAST(sb.sz AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS cont_b_in_a
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = ia
       |JOIN sizes sb ON sb.doc_id = ib
       |WHERE greatest(isz / CAST(sa.sz AS DOUBLE), isz / CAST(sb.sz AS DOUBLE)) >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  /** Eval-vs-corpus shingle containment over the same sh CTE. */
  private val contaminationOracle =
    s"""WITH $ngramJaccardCtes, ev AS (
       |  SELECT doc_id, shingle FROM sh WHERE doc_id % 17 = 0
       |), cs AS (
       |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 != 0
       |)
       |SELECT ev.doc_id AS doc_id, count(*) AS n_shingles,
       |  count(cs.shingle) AS n_contaminated,
       |  floor(count(cs.shingle) / CAST(count(*) AS DOUBLE) * 1e6) / 1e6 AS contamination
       |FROM ev LEFT JOIN cs ON ev.shingle = cs.shingle
       |GROUP BY ev.doc_id ORDER BY doc_id""".stripMargin

  private val repetitionOracle =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w FROM documents
      |), inst AS (
      |  SELECT doc_id, greatest(len(w) - 2, 1) AS n_grams FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
      |         ELSE array_to_string(w[i.i:i.i+2], ' ') END AS shingle
      |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i) i
      |), d AS (
      |  SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY doc_id
      |)
      |SELECT doc_id, n_grams, n_distinct,
      |  floor((1 - n_distinct / CAST(n_grams AS DOUBLE)) * 1e6) / 1e6 AS dup_ratio
      |FROM inst JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Replays [[graft.ops.Graph.pageRank]] over the d02 pair graph:
    * three unrolled integer rank updates (`//` == Spark `div` on the
    * all-positive operands), dangling nodes receive teleport only.
    */
  /** Shared dHash replay (m06/d15): regenerate the class-seeded rasters
    * from id arithmetic, nearest-neighbor scale to the 8×8 grid, integer
    * luma, neighbor compares, bit-pack — every step the Spark side runs
    * on REAL decoded PNGs, replayed here with no codec.
    */
  private val dhashCtes =
    """dims AS (
      |  SELECT doc_id, doc_id % 50 AS img,
      |    8 + (doc_id % 50) % 9 AS sw, 8 + (doc_id % 50) % 5 AS sh,
      |    (doc_id // 50) % 3 AS nz
      |  FROM documents
      |), gg AS (
      |  SELECT doc_id, xx.x AS x, yy.y AS y,
      |    ((CASE WHEN xx.x = 0 AND yy.y = 0
      |          THEN ((img * 31) % 256 + 40 * nz) % 256
      |          ELSE (img*31 + ((xx.x*sw)//8)*7 + ((yy.y*sh)//8)*13) % 256 END) * 299
      |     + ((img*17 + ((xx.x*sw)//8)*11 + ((yy.y*sh)//8)*5) % 256) * 587
      |     + ((img*13 + ((xx.x*sw)//8)*3 + ((yy.y*sh)//8)*19) % 256) * 114) // 1000 AS gray
      |  FROM dims,
      |    (SELECT unnest(range(0, 8)) AS x) xx,
      |    (SELECT unnest(range(0, 8)) AS y) yy
      |), bits AS (
      |  SELECT a.doc_id, a.y * 7 + a.x AS j,
      |    CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
      |  FROM gg a JOIN gg b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 7
      |), dh AS (
      |  SELECT doc_id AS media_id,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS dhash
      |  FROM bits GROUP BY doc_id
      |)""".stripMargin

  /** Shared audio-fingerprint replay (m07/d16): regenerate the
    * class-seeded PCM from id arithmetic (noise folded into sample 0's
    * mod), window energies over the first 512 samples, delta-sign bits.
    */
  private val audioFpCtes =
    """dims AS (
      |  SELECT doc_id, doc_id % 50 AS img, (doc_id // 50) % 3 AS nz
      |  FROM documents
      |), samp AS (
      |  SELECT doc_id, i.i AS i,
      |    CASE WHEN i.i = 0 THEN ((img * 31 + 101 * nz) % 65536) - 32768
      |         ELSE ((img * 31 + i.i * (257 + img * 13) + 3 * i.i * i.i)
      |               % 65536) - 32768 END AS s
      |  FROM dims, LATERAL (SELECT unnest(range(0, 512)) AS i) i
      |), en AS (
      |  SELECT doc_id, i // 16 AS w, sum(s * s) AS e
      |  FROM samp GROUP BY 1, 2
      |), abits AS (
      |  SELECT a.doc_id, a.w AS j,
      |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      |  WHERE a.w < 31
      |), afp_t AS (
      |  SELECT doc_id AS media_id,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS afp
      |  FROM abits GROUP BY doc_id
      |)""".stripMargin

  private def pageRankWeightedOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, CAST(sum(r${i - 1}.r * e.w // g.ws) AS BIGINT) AS c
         |  FROM wedges e JOIN r${i - 1} ON r${i - 1}.id = e.src
         |  JOIN wsum g ON g.src = e.src
         |  GROUP BY 1
         |), r$i AS (
         |  SELECT n.id, CAST(150000 + (85 * coalesce(c$i.c, 0)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} n LEFT JOIN c$i USING (id)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $ngramJaccardCtes, wedges AS (
       |  SELECT id_a AS src, id_b AS dst,
       |    CAST(round(jaccard * 1000000) AS BIGINT) AS w FROM jpairs
       |  UNION ALL SELECT id_b, id_a,
       |    CAST(round(jaccard * 1000000) AS BIGINT) FROM jpairs
       |), wsum AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM wedges GROUP BY 1
       |), r0 AS (
       |  SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents
       |), $iterCtes
       |SELECT id AS doc_id, r AS rank FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** g10 replay: t51's harvest CTEs extended with the page-domain
    * formula, rolled up to weighted domain edges, then the
    * [[pageRankWeightedOracle]] iteration CTEs over that edge list.
    */
  private def domainPageRankOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, CAST(sum(r${i - 1}.r * e.w // g.ws) AS BIGINT) AS c
         |  FROM edges e JOIN r${i - 1} ON r${i - 1}.id = e.src
         |  JOIN wsum g ON g.src = e.src
         |  GROUP BY 1
         |), r$i AS (
         |  SELECT n.id, CAST(150000 + (85 * coalesce(c$i.c, 0)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} n LEFT JOIN c$i USING (id)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    'site' || (doc_id % 13)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |      AS page_domain,
       |    '<html><body><p>intro</p><a class="x" href="'
       |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
       |    || 'site' || (doc_id % 23)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
       |    || '/a/' || doc_id::VARCHAR
       |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
       |    || '">one</a><p>mid</p><a HREF = "'
       |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
       |    || '">two</a><a href='''
       |    || 'https://site' || (doc_id % 11)::VARCHAR || '.org/c/' || doc_id::VARCHAR
       |    || '''>three</a><a href='
       |    || 'HTTPS://WWW.Site' || (doc_id % 13)::VARCHAR || '.NET/d/' || doc_id::VARCHAR
       |    || '?utm_x=1&z=' || (doc_id % 3)::VARCHAR
       |    || ' class=z>four</a><a href="">anchor</a></body></html>' AS html
       |  FROM documents
       |), ex AS (
       |  SELECT doc_id, page_domain,
       |    regexp_extract_all(html,
       |      '(?is)<a\\b[^>]*?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s"''>]+)[^>]*>', 1) AS ls
       |  FROM h
       |), f AS (
       |  SELECT doc_id, page_domain, unnest(ls) AS href0 FROM ex
       |), fs AS (
       |  SELECT doc_id, page_domain,
       |    CASE WHEN starts_with(href0, '"') OR starts_with(href0, '''')
       |      THEN substr(href0, 2, length(href0) - 2) ELSE href0 END AS href
       |  FROM f
       |), fe AS (
       |  SELECT * FROM fs WHERE href <> ''
       |), cc AS (
       |  SELECT page_domain,
       |    regexp_replace(regexp_replace(
       |      lower(regexp_extract(href,
       |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
       |      ':443$$', ''), ':80$$', '') AS schemehost
       |  FROM fe
       |), pairs AS (
       |  SELECT page_domain,
       |    regexp_replace(lower(regexp_extract(schemehost,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
       |      '^www\\.', '') AS domain
       |  FROM cc
       |), edges AS (
       |  SELECT page_domain AS src, domain AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM pairs GROUP BY 1, 2
       |), nodes AS (
       |  SELECT page_domain AS id FROM pairs UNION SELECT domain FROM pairs
       |), wsum AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM edges GROUP BY 1
       |), r0 AS (
       |  SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes
       |), $iterCtes
       |SELECT id AS domain, r AS rank FROM r$iters ORDER BY domain""".stripMargin
  }

  /** The g10 harvest → canonicalize → (page_domain, domain) chain with
    * a CTE-name prefix and a doc filter, factored so the g13 warm-start
    * replay can run it twice (base snapshot and full graph) in one
    * statement. Emits `${p}h … ${p}pairs`; body text identical to the
    * inline chain in [[domainPageRankOracle]].
    */
  private def domainPairCtes(p: String, docWhere: String): String =
    s"""${p}h AS (
       |  SELECT doc_id,
       |    'site' || (doc_id % 13)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |      AS page_domain,
       |    '<html><body><p>intro</p><a class="x" href="'
       |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
       |    || 'site' || (doc_id % 23)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
       |    || '/a/' || doc_id::VARCHAR
       |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
       |    || '">one</a><p>mid</p><a HREF = "'
       |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
       |    || '">two</a><a href='''
       |    || 'https://site' || (doc_id % 11)::VARCHAR || '.org/c/' || doc_id::VARCHAR
       |    || '''>three</a><a href='
       |    || 'HTTPS://WWW.Site' || (doc_id % 13)::VARCHAR || '.NET/d/' || doc_id::VARCHAR
       |    || '?utm_x=1&z=' || (doc_id % 3)::VARCHAR
       |    || ' class=z>four</a><a href="">anchor</a></body></html>' AS html
       |  FROM documents$docWhere
       |), ${p}ex AS (
       |  SELECT doc_id, page_domain,
       |    regexp_extract_all(html,
       |      '(?is)<a\\b[^>]*?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s"''>]+)[^>]*>', 1) AS ls
       |  FROM ${p}h
       |), ${p}f AS (
       |  SELECT doc_id, page_domain, unnest(ls) AS href0 FROM ${p}ex
       |), ${p}fs AS (
       |  SELECT doc_id, page_domain,
       |    CASE WHEN starts_with(href0, '"') OR starts_with(href0, '''')
       |      THEN substr(href0, 2, length(href0) - 2) ELSE href0 END AS href
       |  FROM ${p}f
       |), ${p}fe AS (
       |  SELECT * FROM ${p}fs WHERE href <> ''
       |), ${p}cc AS (
       |  SELECT page_domain,
       |    regexp_replace(regexp_replace(
       |      lower(regexp_extract(href,
       |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
       |      ':443$$', ''), ':80$$', '') AS schemehost
       |  FROM ${p}fe
       |), ${p}pairs AS (
       |  SELECT page_domain,
       |    regexp_replace(lower(regexp_extract(schemehost,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
       |      '^www\\.', '') AS domain
       |  FROM ${p}cc
       |)""".stripMargin

  /** One weighted-PageRank round in SQL over `${p}edges`/`${p}wsum`,
    * chained `${p}r0 → ${p}r$iters` — the [[pageRankWeightedOracle]]
    * iteration body with a prefix, shared by the g13 base and warm
    * phases.
    */
  private def rankIterCtes(p: String, iters: Int): String =
    (1 to iters).map { i =>
      s"""${p}c$i AS (
         |  SELECT e.dst AS id, CAST(sum(${p}r${i - 1}.r * e.w // g.ws) AS BIGINT) AS c
         |  FROM ${p}edges e JOIN ${p}r${i - 1} ON ${p}r${i - 1}.id = e.src
         |  JOIN ${p}wsum g ON g.src = e.src
         |  GROUP BY 1
         |), ${p}r$i AS (
         |  SELECT n.id, CAST(150000 + (85 * coalesce(${p}c$i.c, 0)) // 100 AS BIGINT) AS r
         |  FROM ${p}r${i - 1} n LEFT JOIN ${p}c$i USING (id)
         |)""".stripMargin
    }.mkString(", ")

  /** g13 replay: the ENTIRE warm-start lifecycle as one unrolled
    * trajectory — base-snapshot harvest (`doc_id % 10 <> 0`) → domain
    * rollup → `baseIters` uniform-init rounds (the artifact build),
    * then full harvest → rollup → `warmIters` rounds whose r0 is the
    * base result LEFT-JOINED over the full node set with the uniform
    * prior as the new-domain fallback (the
    * [[graft.ops.Graph.pageRankWeightedFrom]] seeding contract). A
    * wrong warm seed, a stale weight sum, or a dropped delta edge all
    * hash-fail.
    */
  /** The t60 robots -> directives -> sitemap-XML -> entries ->
    * canonicalization chain as shared CTEs ending in `canon`
    * (domain, sitemap_url, pos, loc, url_canon, lastmod) — used
    * verbatim by the t60 oracle and composed with the harvest/rank
    * CTEs by the t66 recrawl-schedule oracle.
    */
  private val sitemapEntriesCtes: String =
    """doms AS (
        |  SELECT DISTINCT 'site' || (doc_id % 23)::VARCHAR ||
        |    CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |         ELSE '.net' END AS domain
        |  FROM documents
        |), kt AS (
        |  SELECT domain,
        |    CAST(regexp_extract(domain, 'site([0-9]+)', 1) AS INT) AS k,
        |    CASE WHEN domain LIKE '%.com' THEN 0
        |         WHEN domain LIKE '%.org' THEN 1 ELSE 2 END AS t
        |  FROM doms
        |), rb AS (
        |  SELECT domain, k,
        |    '# discovery fixture' || chr(10) || 'User-agent: *' || chr(10)
        |    || 'Disallow: /tmp/' || chr(10)
        |    || CASE WHEN k % 5 = 0
        |         THEN '# Sitemap: https://ignored.example/s.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN (k + t) % 2 = 0
        |         THEN 'Sitemap: https://' || domain || '/sitemap.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN k % 6 = 0
        |         THEN 'SiteMap:   https://' || domain || '/sitemap2.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN k % 9 = 0 THEN 'Sitemap:' || chr(10) ELSE '' END
        |      AS robots_txt
        |  FROM kt
        |), ln AS (
        |  SELECT domain, k, trim(regexp_replace(l.l, '#.*$', '')) AS line
        |  FROM rb, LATERAL (SELECT unnest(string_split(robots_txt, chr(10))) AS l) l
        |), sm AS (
        |  SELECT DISTINCT domain, k,
        |    trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) AS sitemap_url
        |  FROM ln
        |  WHERE line <> ''
        |    AND lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) = 'sitemap'
        |    AND trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) <> ''
        |), gen AS (
        |  SELECT domain, k, sitemap_url,
        |    CASE WHEN sitemap_url LIKE '%sitemap2.xml' THEN 2 ELSE 1 END AS s
        |  FROM sm
        |), xmls AS (
        |  SELECT domain, sitemap_url,
        |    '<urlset>' || chr(10) ||
        |    array_to_string(list_transform(range(0, ((k + s) % 3) + 1), j ->
        |      '<url >' || chr(10) || '  <loc>  ' ||
        |      CASE WHEN j = 0 THEN 'HTTPS://' ELSE 'https://' END ||
        |      domain || '/pg/' || s::VARCHAR || '/' || j::VARCHAR ||
        |      CASE WHEN j % 2 = 1 THEN '?utm_campaign=sm&x=1' ELSE '' END ||
        |      '  </loc>' || chr(10) ||
        |      CASE WHEN (j + s) % 2 = 0
        |        THEN '  <lastmod> 2026-0' || (((j + k) % 9) + 1)::VARCHAR
        |          || '-15 </lastmod>' || chr(10)
        |        ELSE '' END ||
        |      '</url>'), chr(10)) ||
        |    CASE WHEN k % 7 = 0
        |      THEN chr(10) || '<url><loc>   </loc></url>' ELSE '' END ||
        |    chr(10) || '</urlset>' AS xml
        |  FROM gen
        |), ex AS (
        |  SELECT domain, sitemap_url,
        |    regexp_extract_all(xml, '(?is)<url\s*>.*?</url\s*>', 0) AS es
        |  FROM xmls
        |), en AS (
        |  SELECT domain, sitemap_url, CAST(i.i - 1 AS BIGINT) AS pos,
        |    es[CAST(i.i AS INT)] AS entry
        |  FROM ex, LATERAL (SELECT unnest(range(1, len(es) + 1)) AS i) i
        |), fl AS (
        |  SELECT domain, sitemap_url, pos,
        |    trim(regexp_extract(entry, '(?is)<loc\s*>([^<]*)</loc\s*>', 1)) AS loc,
        |    trim(regexp_extract(entry, '(?is)<lastmod\s*>([^<]*)</lastmod\s*>', 1))
        |      AS lastmod
        |  FROM en
        |), ne AS (
        |  SELECT * FROM fl WHERE loc <> ''
        |), q AS (
        |  SELECT domain, sitemap_url, pos, loc, lastmod,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(
        |        regexp_replace(loc, '#.*$', ''), '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS kept_qs
        |  FROM ne
        
        |), canon AS (
        |  SELECT domain, sitemap_url, pos, loc,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(loc,
        |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      ':443$', ''), ':80$', '')
        |    || regexp_replace(regexp_extract(loc,
        |         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
        |    || CASE WHEN kept_qs = '' THEN '' ELSE '?' || kept_qs END AS url_canon,
        |    lastmod
        |  FROM q
        |)""".stripMargin

  /** t65 replay (shared verbatim by t65b — the artifact round trip is
    * Spark-side only, so serve(index) == from-scratch is what hashes):
    * tokenize, saturate tf, df/idf under the caps, weight, per-doc
    * top-3 with the (w desc, token) tie rule.
    */
  private val docKeywordsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, token FROM toks WHERE token <> ''
      |), tf AS (
      |  SELECT doc_id, token, least(count(*), 100) AS tfs
      |  FROM tk GROUP BY 1, 2
      |), dfq AS (
      |  SELECT token, count(*) AS df FROM tf GROUP BY 1
      |), nd AS (
      |  SELECT count(*) AS n_docs FROM documents
      |), idf AS (
      |  SELECT token,
      |    least(100000, (1000 * (n_docs + 1)) // (df + 1)) AS idf
      |  FROM dfq, nd
      |), w AS (
      |  SELECT tf.doc_id, tf.token, CAST(tf.tfs * idf.idf AS BIGINT) AS w
      |  FROM tf JOIN idf USING (token)
      |)
      |SELECT doc_id, token, w,
      |  CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY w DESC, token) AS BIGINT) AS rank
      |FROM w
      |QUALIFY row_number() OVER (PARTITION BY doc_id
      |  ORDER BY w DESC, token) <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** t66 replay: the t60 entry chain (`canon`) + the g10 harvest/rank
    * chain (prefixed `p`/`z` — no CTE-name collisions with the t60
    * chain) + the integer freshness/priority arithmetic + the QUALIFY
    * budget cut. Composition rule as crawlFrontierCtes: concatenate
    * pre-stripped parts, never re-stripMargin inner text.
    */
  private val recrawlScheduleOracle: String =
    "WITH " + sitemapEntriesCtes + ",\n" +
    domainPairCtes("p", "") + ",\n" +
    """zedges AS (
      |  SELECT page_domain AS src, domain AS dst,
      |    CAST(count(*) AS BIGINT) AS w
      |  FROM ppairs GROUP BY 1, 2
      |), znodes AS (
      |  SELECT page_domain AS id FROM ppairs UNION SELECT domain FROM ppairs
      |), zwsum AS (
      |  SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM zedges GROUP BY 1
      |), zr0 AS (
      |  SELECT id, CAST(1000000 AS BIGINT) AS r FROM znodes
      |), """.stripMargin + rankIterCtes("z", 3) + ",\n" +
    """aged AS (
      |  SELECT domain, url_canon, lastmod,
      |    CAST(greatest(date_diff('day', CAST(lastmod AS DATE),
      |      DATE '2026-10-01'), 0) AS BIGINT) AS age_days
      |  FROM canon WHERE lastmod <> ''
      |), pri AS (
      |  SELECT a.domain, a.url_canon, a.lastmod, a.age_days,
      |    CAST(coalesce(z.r, 0) AS BIGINT) AS domain_rank,
      |    CAST((coalesce(z.r, 0) * 1000) // (a.age_days + 1) AS BIGINT)
      |      AS priority
      |  FROM aged a LEFT JOIN zr3 z ON z.id = a.domain
      |)
      |SELECT domain, url_canon, lastmod, age_days, domain_rank, priority
      |FROM pri
      |QUALIFY row_number() OVER (PARTITION BY domain
      |  ORDER BY priority DESC, url_canon) <= 2
      |ORDER BY domain, priority DESC, url_canon""".stripMargin

  private def warmRankOracle(baseIters: Int, warmIters: Int): String =
    // concatenation, not interpolation-inside-stripMargin: the inner
    // chains contain `||` at line starts, which a second stripMargin
    // would corrupt (the crawlFrontierCtes composition rule)
    "WITH " + domainPairCtes("b", " WHERE doc_id % 10 <> 0") + ",\n" +
    domainPairCtes("", "") + ",\n" +
    s"""bedges AS (
       |  SELECT page_domain AS src, domain AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM bpairs GROUP BY 1, 2
       |), bnodes AS (
       |  SELECT page_domain AS id FROM bpairs UNION SELECT domain FROM bpairs
       |), bwsum AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM bedges GROUP BY 1
       |), br0 AS (
       |  SELECT id, CAST(1000000 AS BIGINT) AS r FROM bnodes
       |), ${rankIterCtes("b", baseIters)},
       |wedges AS (
       |  SELECT page_domain AS src, domain AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM pairs GROUP BY 1, 2
       |), wnodes AS (
       |  SELECT page_domain AS id FROM pairs UNION SELECT domain FROM pairs
       |), wwsum AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM wedges GROUP BY 1
       |), wr0 AS (
       |  SELECT n.id, CAST(coalesce(b.r, 1000000) AS BIGINT) AS r
       |  FROM wnodes n LEFT JOIN br$baseIters b USING (id)
       |), ${rankIterCtes("w", warmIters)}
       |SELECT id AS domain, r AS rank FROM wr$warmIters
       |ORDER BY domain""".stripMargin

  /** g11 replay: the g10 harvest/rollup CTEs, then every HITS
    * half-step — weighted in-edge (resp. out-edge) sums, zero-fill
    * over the node set, and the truncating L1 micros normalization
    * with its in-plan 1-row total.
    */
  /** One HITS half-step in SQL (weighted sum → zero-fill → L1
    * normalizer → truncating micros), shared by the fixed-iters and
    * convergence oracles; `materialized` pins the per-round CTEs in
    * the convergence unroll (each is referenced by the next half AND
    * the history stack — the g08 CTE-inlining rule).
    */
  private def hitsHalfSql(prev: String, cur: String, joinOn: String,
      outKey: String, materialized: Boolean = false): String = {
    val mat = if (materialized) " MATERIALIZED" else ""
    s"""${cur}c AS (
       |  SELECT e.$outKey AS id, CAST(sum($prev.s * e.w) AS BIGINT) AS c
       |  FROM edges e JOIN $prev ON $prev.id = e.$joinOn GROUP BY 1
       |), ${cur}z AS (
       |  SELECT n.id, coalesce(c, CAST(0 AS BIGINT)) AS c
       |  FROM nodes n LEFT JOIN ${cur}c ON ${cur}c.id = n.id
       |), ${cur}t AS (
       |  SELECT greatest(CAST(sum(c) AS BIGINT), CAST(1 AS BIGINT)) AS tot
       |  FROM ${cur}z
       |), $cur AS$mat (
       |  SELECT id, CAST(c * 1000000 // tot AS BIGINT) AS s
       |  FROM ${cur}z, ${cur}t
       |)""".stripMargin
  }

  private def hitsOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      hitsHalfSql(s"h${i - 1}", s"a$i", "src", "dst") + ", " +
        hitsHalfSql(s"a$i", s"h$i", "dst", "src")
    }.mkString(", ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    'site' || (doc_id % 13)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |      AS page_domain,
       |    '<html><body><p>intro</p><a class="x" href="'
       |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
       |    || 'site' || (doc_id % 23)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
       |    || '/a/' || doc_id::VARCHAR
       |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
       |    || '">one</a><p>mid</p><a HREF = "'
       |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
       |    || '">two</a><a href='''
       |    || 'https://site' || (doc_id % 11)::VARCHAR || '.org/c/' || doc_id::VARCHAR
       |    || '''>three</a><a href='
       |    || 'HTTPS://WWW.Site' || (doc_id % 13)::VARCHAR || '.NET/d/' || doc_id::VARCHAR
       |    || '?utm_x=1&z=' || (doc_id % 3)::VARCHAR
       |    || ' class=z>four</a><a href="">anchor</a></body></html>' AS html
       |  FROM documents
       |), ex AS (
       |  SELECT doc_id, page_domain,
       |    regexp_extract_all(html,
       |      '(?is)<a\\b[^>]*?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s"''>]+)[^>]*>', 1) AS ls
       |  FROM h
       |), f AS (
       |  SELECT doc_id, page_domain, unnest(ls) AS href0 FROM ex
       |), fs AS (
       |  SELECT doc_id, page_domain,
       |    CASE WHEN starts_with(href0, '"') OR starts_with(href0, '''')
       |      THEN substr(href0, 2, length(href0) - 2) ELSE href0 END AS href
       |  FROM f
       |), fe AS (
       |  SELECT * FROM fs WHERE href <> ''
       |), cc AS (
       |  SELECT page_domain,
       |    regexp_replace(regexp_replace(
       |      lower(regexp_extract(href,
       |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
       |      ':443$$', ''), ':80$$', '') AS schemehost
       |  FROM fe
       |), pairs AS (
       |  SELECT page_domain,
       |    regexp_replace(lower(regexp_extract(schemehost,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
       |      '^www\\.', '') AS domain
       |  FROM cc
       |), edges AS (
       |  SELECT page_domain AS src, domain AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM pairs GROUP BY 1, 2
       |), nodes AS (
       |  SELECT page_domain AS id FROM pairs UNION SELECT domain FROM pairs
       |), h0 AS (
       |  SELECT id, CAST(1000000 AS BIGINT) AS s FROM nodes
       |), $iterCtes
       |SELECT h$iters.id AS domain, h$iters.s AS hub_micro, a$iters.s AS auth_micro
       |FROM h$iters JOIN a$iters ON a$iters.id = h$iters.id
       |ORDER BY domain""".stripMargin
  }

  /** g12 replay: the g11 graph CTEs, both half-steps unrolled to the
    * cap (MATERIALIZED — each round is referenced by the next half AND
    * the history), every round's (hub, auth) stacked, and the FIRST
    * round equal to its predecessor on BOTH vectors selected — its
    * scores, its index, and the stable flag; no stable round ≤ cap
    * degrades to (cap, false) identically on both engines.
    */
  private def hitsConvergedOracle(cap: Int): String = {
    val iterCtes = (1 to cap).map { i =>
      hitsHalfSql(s"h${i - 1}", s"a$i", "src", "dst", materialized = true) +
        ", " +
        hitsHalfSql(s"a$i", s"h$i", "dst", "src", materialized = true)
    }.mkString(", ")
    val histArms = (1 to cap).map(i =>
      s"SELECT $i AS iter, h$i.id, h$i.s AS hub, a$i.s AS auth " +
        s"FROM h$i JOIN a$i ON a$i.id = h$i.id")
      .mkString("\n  UNION ALL ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    'site' || (doc_id % 13)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |      AS page_domain,
       |    '<html><body><p>intro</p><a class="x" href="'
       |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
       |    || 'site' || (doc_id % 23)::VARCHAR
       |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
       |    || '/a/' || doc_id::VARCHAR
       |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
       |    || '">one</a><p>mid</p><a HREF = "'
       |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
       |    || '">two</a><a href='''
       |    || 'https://site' || (doc_id % 11)::VARCHAR || '.org/c/' || doc_id::VARCHAR
       |    || '''>three</a><a href='
       |    || 'HTTPS://WWW.Site' || (doc_id % 13)::VARCHAR || '.NET/d/' || doc_id::VARCHAR
       |    || '?utm_x=1&z=' || (doc_id % 3)::VARCHAR
       |    || ' class=z>four</a><a href="">anchor</a></body></html>' AS html
       |  FROM documents
       |), ex AS (
       |  SELECT doc_id, page_domain,
       |    regexp_extract_all(html,
       |      '(?is)<a\\b[^>]*?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s"''>]+)[^>]*>', 1) AS ls
       |  FROM h
       |), f AS (
       |  SELECT doc_id, page_domain, unnest(ls) AS href0 FROM ex
       |), fs AS (
       |  SELECT doc_id, page_domain,
       |    CASE WHEN starts_with(href0, '"') OR starts_with(href0, '''')
       |      THEN substr(href0, 2, length(href0) - 2) ELSE href0 END AS href
       |  FROM f
       |), fe AS (
       |  SELECT * FROM fs WHERE href <> ''
       |), cc AS (
       |  SELECT page_domain,
       |    regexp_replace(regexp_replace(
       |      lower(regexp_extract(href,
       |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
       |      ':443$$', ''), ':80$$', '') AS schemehost
       |  FROM fe
       |), pairs AS (
       |  SELECT page_domain,
       |    regexp_replace(lower(regexp_extract(schemehost,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
       |      '^www\\.', '') AS domain
       |  FROM cc
       |), edges AS MATERIALIZED (
       |  SELECT page_domain AS src, domain AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM pairs GROUP BY 1, 2
       |), nodes AS MATERIALIZED (
       |  SELECT page_domain AS id FROM pairs UNION SELECT domain FROM pairs
       |), h0 AS (
       |  SELECT id, CAST(1000000 AS BIGINT) AS s FROM nodes
       |), a0 AS (
       |  SELECT id, CAST(0 AS BIGINT) AS s FROM nodes
       |), $iterCtes, hist AS (
       |  SELECT 0 AS iter, h0.id, h0.s AS hub, a0.s AS auth
       |  FROM h0 JOIN a0 ON a0.id = h0.id
       |  UNION ALL $histArms
       |), diffs AS (
       |  SELECT a.iter,
       |    sum(CASE WHEN a.hub <> b.hub OR a.auth <> b.auth THEN 1 ELSE 0 END) AS nch
       |  FROM hist a JOIN hist b ON a.id = b.id AND b.iter = a.iter - 1
       |  GROUP BY a.iter
       |), kk AS (
       |  SELECT CAST(coalesce(min(iter), $cap) AS BIGINT) AS k,
       |    count(*) > 0 AS stable
       |  FROM diffs WHERE nch = 0
       |)
       |SELECT id AS domain, hub AS hub_micro, auth AS auth_micro,
       |  (SELECT k FROM kk) AS rounds, (SELECT stable FROM kk) AS stable
       |FROM hist WHERE iter = (SELECT k FROM kk)
       |ORDER BY domain""".stripMargin
  }

  /** t52 replay: the t48 harvest CTEs, the per-domain robots.txt
    * injection (same k/t formulas), the full parser (comment strip,
    * directive extraction, group segmentation via lag+running-sum,
    * group selection with the exact-UA-overrides-star rule), and the
    * longest-prefix / allow-wins-ties / no-match-allows decision.
    */
  /** The t52 decision-table CTE chain, everything through `best`
    * (harvest, canonicalization, per-domain robots injection, the full
    * parser, longest-prefix matching) — shared VERBATIM by the t55
    * frontier composition, so the two gates replay the same SQL.
    */
  /** The t48 harvest chain in SQL, `h` through `links` — shared by the
    * t52/t55/t56 decision CTEs and the t52b wildcard battery (plus the
    * `pathed` projection both matchers decide over).
    */
  private val harvestLinkCtes: String =
    """h AS (
      |  SELECT doc_id,
      |    '<html><body><p>intro</p><a class="x" href="'
      |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
      |    || 'site' || (doc_id % 23)::VARCHAR
      |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
      |    || '/a/' || doc_id::VARCHAR
      |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
      |    || '">one</a><p>mid</p><a HREF = "'
      |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
      |    || '">two</a><a href='''
      |    || 'https://site' || (doc_id % 11)::VARCHAR || '.org/c/' || doc_id::VARCHAR
      |    || '''>three</a><a href='
      |    || 'HTTPS://WWW.Site' || (doc_id % 13)::VARCHAR || '.NET/d/' || doc_id::VARCHAR
      |    || '?utm_x=1&z=' || (doc_id % 3)::VARCHAR
      |    || ' class=z>four</a><a href="">anchor</a></body></html>' AS html
      |  FROM documents
      |), ex AS (
      |  SELECT doc_id,
      |    regexp_extract_all(html,
      |      '(?is)<a\b[^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s"''>]+)[^>]*>', 1) AS ls
      |  FROM h
      |), l AS (
      |  SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos, ls[CAST(i.i AS INT)] AS href0
      |  FROM ex, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i
      |), lq AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN starts_with(href0, '"') OR starts_with(href0, '''')
      |      THEN substr(href0, 2, length(href0) - 2) ELSE href0 END AS href
      |  FROM l
      |), f AS (
      |  SELECT * FROM lq WHERE href <> ''
      |), q AS (
      |  SELECT doc_id, pos, href,
      |    array_to_string(list_filter(
      |      string_split(regexp_extract(
      |        regexp_replace(href, '#.*$', ''), '\?([^#]*)', 1), '&'),
      |      x -> NOT starts_with(x, 'utm_')), '&') AS kept_qs
      |  FROM f
      |), c AS (
      |  SELECT doc_id, pos, href,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(href,
      |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
      |      ':443$', ''), ':80$', '')
      |    || regexp_replace(regexp_extract(href,
      |         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
      |    || CASE WHEN kept_qs = '' THEN '' ELSE '?' || kept_qs END
      |      AS url_canon
      |  FROM q
      |), links AS (
      |  SELECT doc_id, pos, url_canon,
      |    regexp_replace(lower(regexp_extract(url_canon,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
      |      '^www\.', '') AS domain
      |  FROM c
      |), pathed AS (
      |  SELECT doc_id, pos, url_canon, domain,
      |    CASE WHEN regexp_extract(url_canon,
      |        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1) = ''
      |      THEN '/' ELSE regexp_extract(url_canon,
      |        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1) END AS path
      |  FROM links
      |)""".stripMargin

  private val robotsDecisionCtes: String =
    harvestLinkCtes + ", " +
    """rb AS (
      |  SELECT domain,
      |    CAST(regexp_extract(domain, 'site([0-9]+)', 1) AS INT) AS k,
      |    CASE WHEN domain LIKE '%.com' THEN 0
      |         WHEN domain LIKE '%.org' THEN 1 ELSE 2 END AS t
      |  FROM (SELECT DISTINCT domain FROM links)
      |), robots AS (
      |  SELECT domain,
      |    '# graft politeness fixture' || chr(10)
      |    || CASE WHEN k % 11 = 0 THEN 'Crawl-delay: 9' || chr(10) ELSE '' END
      |    || 'User-Agent: *' || chr(10)
      |    || CASE WHEN (k + t) % 2 = 0 THEN 'DisAllow: /a/' || chr(10) ELSE '' END
      |    || CASE WHEN k % 3 = 0 THEN 'Allow: /a/1' || chr(10) ELSE '' END
      |    || CASE WHEN k % 7 = 0 THEN 'Allow: /a/' || chr(10) ELSE '' END
      |    || CASE WHEN k % 5 = 0 THEN 'Disallow:' || chr(10) ELSE '' END
      |    || CASE WHEN k % 9 = 0 THEN 'Crawl-delay: fast' || chr(10) ELSE '' END
      |    || CASE WHEN k % 2 = 0 THEN 'Crawl-delay: ' || (k % 5 + 1)::VARCHAR || chr(10) ELSE '' END
      |    || CASE WHEN k % 4 = 0 THEN chr(10) || 'User-agent: graftbot' || chr(10)
      |         || 'Disallow: /b/' || chr(10) || 'Allow: /b/' || k::VARCHAR || chr(10)
      |         || 'Crawl-delay: 7' || chr(10)
      |       ELSE '' END AS robots_txt
      |  FROM rb
      |)""".stripMargin + ", " + robotsParserCtes + ", " +
    """m AS (
      |  SELECT p.doc_id, p.pos, r.rule_allow, r.prefix,
      |    row_number() OVER (PARTITION BY p.doc_id, p.pos
      |      ORDER BY length(r.prefix) DESC, r.rule_allow DESC, r.prefix ASC) AS rn
      |  FROM pathed p JOIN rules r USING (domain)
      |  WHERE starts_with(p.path, r.prefix)
      |), best AS (
      |  SELECT doc_id, pos, rule_allow AS matched_allow, prefix AS matched_prefix
      |  FROM m WHERE rn = 1
      |)""".stripMargin

  /** The robots.txt PARSER chain in SQL (`robots` → `rules`): line
    * split, comment strip, directive extraction, consecutive-UA group
    * segmentation, exact-UA-overrides-star selection — shared verbatim
    * by the t52 literal battery and the t52b wildcard battery (the two
    * differ only in fixture and matcher).
    */
  private lazy val robotsParserCtes: String =
    """rl0 AS (
      |  SELECT domain, string_split(robots_txt, chr(10)) AS ls FROM robots
      |), rlines AS (
      |  SELECT domain, CAST(i.i - 1 AS BIGINT) AS ln,
      |    trim(regexp_replace(ls[CAST(i.i AS INT)], '#.*$', '')) AS line
      |  FROM rl0, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i
      |), rdir AS (
      |  SELECT domain, ln,
      |    lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) AS directive,
      |    trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) AS value
      |  FROM rlines WHERE line <> ''
      |), rkept AS (
      |  SELECT * FROM rdir WHERE directive IN ('user-agent', 'allow', 'disallow')
      |), rstart AS (
      |  SELECT domain, ln, directive, value,
      |    CASE WHEN directive = 'user-agent' AND coalesce(
      |        lag(directive) OVER (PARTITION BY domain ORDER BY ln), 'x')
      |        <> 'user-agent'
      |      THEN 1 ELSE 0 END AS ua_start
      |  FROM rkept
      |), rgrp AS (
      |  SELECT domain, ln, directive, value,
      |    CAST(sum(ua_start) OVER (PARTITION BY domain ORDER BY ln) AS BIGINT) AS grp
      |  FROM rstart
      |), guas AS (
      |  SELECT domain, grp,
      |    max(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS names_ua,
      |    max(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS names_star
      |  FROM rgrp WHERE directive = 'user-agent' GROUP BY 1, 2
      |), gsel AS (
      |  SELECT domain, grp FROM (
      |    SELECT domain, grp, names_ua, names_star,
      |      max(names_ua) OVER (PARTITION BY domain) AS has_ua
      |    FROM guas)
      |  WHERE (has_ua = 1 AND names_ua = 1) OR (has_ua = 0 AND names_star = 1)
      |), rules AS (
      |  SELECT DISTINCT r.domain, r.directive = 'allow' AS rule_allow,
      |    r.value AS prefix
      |  FROM rgrp r JOIN gsel USING (domain, grp)
      |  WHERE r.directive IN ('allow', 'disallow') AND r.value <> ''
      |)""".stripMargin

  private val robotsOracle: String =
    "WITH " + robotsDecisionCtes + "\n" +
    """SELECT p.doc_id, p.pos, p.url_canon, p.domain, p.path,
      |  coalesce(b.matched_prefix, '') AS matched_prefix,
      |  coalesce(b.matched_allow, TRUE) AS allowed
      |FROM pathed p LEFT JOIN best b USING (doc_id, pos)
      |ORDER BY doc_id, pos""".stripMargin

  /** t52b replay: the shared harvest + parser CTEs over the WILDCARD
    * fixture, then the regex matcher — pattern→RE2 conversion
    * (trailing-`$` detect/strip, escape every RE2 metachar except `*`,
    * `*`→`.*`, re-anchor), literal-length specificity (wildcards count
    * zero), allow-wins tie, no-match default. The conversion is
    * re-derived IN SQL so Spark's [[graft.ext.UrlOps.robotsPatternRegex]]
    * has an independent twin, not a shared helper.
    */
  private val robotsWildcardOracle: String =
    "WITH " + harvestLinkCtes + ", " +
    """rb AS (
      |  SELECT domain,
      |    CAST(regexp_extract(domain, 'site([0-9]+)', 1) AS INT) AS k
      |  FROM (SELECT DISTINCT domain FROM links)
      |), robots AS (
      |  SELECT domain,
      |    '# graft wildcard fixture' || chr(10) || 'User-Agent: *' || chr(10)
      |    || CASE WHEN k % 2 = 0 THEN 'Disallow: /a/*1' || chr(10) ELSE '' END
      |    || CASE WHEN k % 3 = 0 THEN 'Allow: /a/*1?q=1$' || chr(10) ELSE '' END
      |    || CASE WHEN k % 4 = 0 THEN 'Disallow: /b/*3$' || chr(10) ELSE '' END
      |    || CASE WHEN k % 8 = 0 THEN 'Allow: /b/*3$' || chr(10) ELSE '' END
      |    || CASE WHEN k % 5 = 0
      |         THEN 'Disallow: /c/' || chr(10) || 'Allow: /c/*7$' || chr(10)
      |         ELSE '' END
      |    || CASE WHEN k % 7 = 0 THEN 'Disallow: /d/*?z=2$' || chr(10) ELSE '' END
      |    || CASE WHEN k % 5 = 0 THEN 'Disallow:' || chr(10) ELSE '' END
      |    || CASE WHEN k % 6 = 0 THEN chr(10) || 'User-agent: graftbot' || chr(10)
      |         || 'Disallow: /*3$' || chr(10)
      |       ELSE '' END AS robots_txt
      |  FROM rb
      |)""".stripMargin + ", " + robotsParserCtes + ", " +
    """rx AS (
      |  SELECT domain, rule_allow, prefix,
      |    CASE WHEN ends_with(prefix, '$')
      |      THEN substr(prefix, 1, length(prefix) - 1) ELSE prefix END AS base,
      |    ends_with(prefix, '$') AS anchored
      |  FROM rules
      |), rr AS (
      |  SELECT domain, rule_allow, prefix,
      |    '^' || replace(regexp_replace(base,
      |        '([.\[\]{}()+?^$|\\])', '\\\1', 'g'), '*', '.*')
      |      || CASE WHEN anchored THEN '$' ELSE '' END AS rgx,
      |    length(replace(base, '*', '')) AS lit_len
      |  FROM rx
      |), m AS (
      |  SELECT p.doc_id, p.pos, r.rule_allow, r.prefix,
      |    row_number() OVER (PARTITION BY p.doc_id, p.pos
      |      ORDER BY r.lit_len DESC, r.rule_allow DESC, r.prefix ASC) AS rn
      |  FROM pathed p JOIN rr r USING (domain)
      |  WHERE regexp_matches(p.path, r.rgx)
      |), best AS (
      |  SELECT doc_id, pos, rule_allow AS matched_allow, prefix AS matched_prefix
      |  FROM m WHERE rn = 1
      |)
      |SELECT p.doc_id, p.pos, p.url_canon, p.domain, p.path,
      |  coalesce(b.matched_prefix, '') AS matched_prefix,
      |  coalesce(b.matched_allow, TRUE) AS allowed
      |FROM pathed p LEFT JOIN best b USING (doc_id, pos)
      |ORDER BY doc_id, pos""".stripMargin

  /** t55 replay: the ENTIRE frontier-scheduler composition from
    * scratch (the t43 composition-gate principle) — the t52 decision
    * CTEs verbatim, the allowed filter, first-sighting URL dedup, the
    * g10 page-domain pairing + weighted rank iterations (prefixed
    * `pr`), the authority join, and the per-domain budget cut.
    */
  /** The t55 CTE chain through the budgeted frontier (`bud`), shared
    * with the t56 schedule oracle.
    */
  private val crawlFrontierCtes: String = {
    val prIters = (1 to 3).map { i =>
      s"""prc$i AS (
         |  SELECT e.dst AS id, CAST(sum(prr${i - 1}.r * e.w // g.ws) AS BIGINT) AS c
         |  FROM predges e JOIN prr${i - 1} ON prr${i - 1}.id = e.src
         |  JOIN prwsum g ON g.src = e.src
         |  GROUP BY 1
         |), prr$i AS (
         |  SELECT n.id, CAST(150000 + (85 * coalesce(prc$i.c, 0)) // 100 AS BIGINT) AS r
         |  FROM prr${i - 1} n LEFT JOIN prc$i USING (id)
         |)""".stripMargin
    }.mkString(", ")
    robotsDecisionCtes + ", " +
    """dec AS (
      |  SELECT p.doc_id, p.pos, p.url_canon, p.domain,
      |    coalesce(b.matched_allow, TRUE) AS allowed
      |  FROM pathed p LEFT JOIN best b USING (doc_id, pos)
      |), al AS (
      |  SELECT doc_id, pos, url_canon, domain FROM dec WHERE allowed
      |), fsn AS (
      |  SELECT * FROM al
      |  QUALIFY row_number() OVER (PARTITION BY url_canon
      |    ORDER BY doc_id, pos) = 1
      |), pd AS (
      |  SELECT doc_id,
      |    'site' || (doc_id % 13)::VARCHAR
      |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
      |      AS page_domain
      |  FROM documents
      |), prpairs AS (
      |  SELECT pd.page_domain, l.domain FROM links l JOIN pd USING (doc_id)
      |), predges AS (
      |  SELECT page_domain AS src, domain AS dst, CAST(count(*) AS BIGINT) AS w
      |  FROM prpairs GROUP BY 1, 2
      |), prnodes AS (
      |  SELECT page_domain AS id FROM prpairs UNION SELECT domain FROM prpairs
      |), prwsum AS (
      |  SELECT src, CAST(sum(w) AS BIGINT) AS ws FROM predges GROUP BY 1
      |), prr0 AS (
      |  SELECT id, CAST(1000000 AS BIGINT) AS r FROM prnodes
      |), """.stripMargin + prIters +
    """, prank AS (
      |  SELECT id AS domain, r AS rank FROM prr3
      |), joined AS (
      |  SELECT f.domain, f.url_canon,
      |    coalesce(p.rank, CAST(0 AS BIGINT)) AS domain_rank,
      |    f.doc_id, f.pos
      |  FROM fsn f LEFT JOIN prank p ON p.domain = f.domain
      |), bud AS (
      |  SELECT domain, url_canon, domain_rank, doc_id, pos
      |  FROM joined
      |  QUALIFY row_number() OVER (PARTITION BY domain
      |    ORDER BY doc_id, pos, url_canon) <= 3
      |)""".stripMargin
  }

  private val crawlFrontierOracle: String =
    "WITH " + crawlFrontierCtes + "\n" +
    "SELECT domain, url_canon, domain_rank, doc_id, pos FROM bud\n" +
    "ORDER BY domain, url_canon"

  /** t56 replay: the whole frontier chain (`bud`), then the delay
    * parser over the SAME `rdir` directive table — 4-directive group
    * segmentation, the exact-UA selection, numeric-guarded MIN,
    * 1-second defaulting — and the slot arithmetic.
    */
  private val fetchScheduleOracle: String =
    "WITH " + crawlFrontierCtes + ", " +
    """dkept AS (
      |  SELECT domain, ln, directive, value FROM rdir
      |  WHERE directive IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
      |), dstart AS (
      |  SELECT domain, ln, directive, value,
      |    CASE WHEN directive = 'user-agent' AND coalesce(
      |        lag(directive) OVER (PARTITION BY domain ORDER BY ln), 'x')
      |        <> 'user-agent'
      |      THEN 1 ELSE 0 END AS ua_start
      |  FROM dkept
      |), dgrp AS (
      |  SELECT domain, ln, directive, value,
      |    CAST(sum(ua_start) OVER (PARTITION BY domain ORDER BY ln) AS BIGINT) AS grp
      |  FROM dstart
      |), dguas AS (
      |  SELECT domain, grp,
      |    max(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS names_ua,
      |    max(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS names_star
      |  FROM dgrp WHERE directive = 'user-agent' GROUP BY 1, 2
      |), dsel AS (
      |  SELECT domain, grp FROM (
      |    SELECT domain, grp, names_ua, names_star,
      |      max(names_ua) OVER (PARTITION BY domain) AS has_ua
      |    FROM dguas)
      |  WHERE (has_ua = 1 AND names_ua = 1) OR (has_ua = 0 AND names_star = 1)
      |), ddel AS (
      |  SELECT g.domain, CAST(min(CAST(g.value AS BIGINT)) AS BIGINT) AS delay_s
      |  FROM dgrp g JOIN dsel USING (domain, grp)
      |  WHERE g.directive = 'crawl-delay' AND regexp_matches(g.value, '^[0-9]+$')
      |  GROUP BY 1
      |), sched AS (
      |  SELECT b.domain, b.url_canon,
      |    coalesce(d.delay_s, CAST(1 AS BIGINT)) AS delay_s,
      |    CAST(row_number() OVER (PARTITION BY b.domain
      |      ORDER BY b.doc_id, b.pos, b.url_canon) - 1 AS BIGINT) AS slot
      |  FROM bud b LEFT JOIN ddel d USING (domain)
      |)
      |SELECT domain, url_canon, delay_s, slot,
      |  CAST(slot * delay_s * 1000 AS BIGINT) AS fetch_at_ms
      |FROM sched ORDER BY domain, url_canon""".stripMargin

  private def pageRankOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, CAST(sum(r${i - 1}.r // g.d) AS BIGINT) AS c
         |  FROM edges e JOIN r${i - 1} ON r${i - 1}.id = e.src
         |  JOIN deg g ON g.src = e.src
         |  GROUP BY 1
         |), r$i AS (
         |  SELECT n.id, CAST(150000 + (85 * coalesce(c$i.c, 0)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} n LEFT JOIN c$i USING (id)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $ngramJaccardCtes, edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION ALL SELECT id_b, id_a FROM jpairs
       |), deg AS (
       |  SELECT src, count(*) AS d FROM edges GROUP BY 1
       |), r0 AS (
       |  SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents
       |), $iterCtes
       |SELECT id AS doc_id, r AS rank FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** Convergence-run PageRank replay (g08): unroll the recurrence to
    * the cap (post-fixpoint rounds of a deterministic map are no-ops),
    * stack every round into a history, and select the FIRST round equal
    * to its predecessor — its ranks AND its index. Early stopping
    * replayed without any recursion-with-stop machinery; the cap-hit
    * case degrades identically on both engines (no stable round ≤ cap →
    * emit the cap's ranks with rounds = cap).
    */
  private def pageRankConvergedOracle(cap: Int): String = {
    // every r_i is referenced THREE times (c_{i+1}, r_{i+1}, hist) —
    // without MATERIALIZED, CTE inlining re-expands the whole prefix
    // per reference (exponential plans, "too many open files" on the
    // parquet the jpairs CTEs read)
    val iterCtes = (1 to cap).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, CAST(sum(r${i - 1}.r // g.d) AS BIGINT) AS c
         |  FROM edges e JOIN r${i - 1} ON r${i - 1}.id = e.src
         |  JOIN deg g ON g.src = e.src
         |  GROUP BY 1
         |), r$i AS MATERIALIZED (
         |  SELECT n.id, CAST(150000 + (85 * coalesce(c$i.c, 0)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} n LEFT JOIN c$i USING (id)
         |)""".stripMargin
    }.mkString(", ")
    val histArms = (0 to cap)
      .map(i => s"SELECT $i AS iter, id, r FROM r$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $ngramJaccardCtes, edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION ALL SELECT id_b, id_a FROM jpairs
       |), deg AS MATERIALIZED (
       |  SELECT src, count(*) AS d FROM edges GROUP BY 1
       |), r0 AS MATERIALIZED (
       |  SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents
       |), $iterCtes, hist AS (
       |  $histArms
       |), diffs AS (
       |  SELECT a.iter, sum(CASE WHEN a.r <> b.r THEN 1 ELSE 0 END) AS nch
       |  FROM hist a JOIN hist b ON a.id = b.id AND b.iter = a.iter - 1
       |  GROUP BY a.iter
       |), kk AS (
       |  SELECT CAST(coalesce(min(iter), $cap) AS BIGINT) AS k
       |  FROM diffs WHERE nch = 0
       |)
       |SELECT id AS doc_id, r AS rank, (SELECT k FROM kk) AS rounds
       |FROM hist WHERE iter = (SELECT k FROM kk)
       |ORDER BY doc_id""".stripMargin
  }

  /** Personalized-PageRank replay: the seeded start vector and the
    * conditional teleport floor over the same unrolled iteration CTEs.
    */
  private def pageRankSeededOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, CAST(sum(r${i - 1}.r // g.d) AS BIGINT) AS c
         |  FROM edges e JOIN r${i - 1} ON r${i - 1}.id = e.src
         |  JOIN deg g ON g.src = e.src
         |  GROUP BY 1
         |), r$i AS (
         |  SELECT n.id, n.s,
         |    CAST(n.s * 150000 + (85 * coalesce(c$i.c, 0)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} n LEFT JOIN c$i USING (id)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $ngramJaccardCtes, edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION ALL SELECT id_b, id_a FROM jpairs
       |), deg AS (
       |  SELECT src, count(*) AS d FROM edges GROUP BY 1
       |), r0 AS (
       |  SELECT doc_id AS id,
       |    CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS s,
       |    CAST(CASE WHEN doc_id % 17 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r
       |  FROM documents
       |), $iterCtes
       |SELECT id AS doc_id, r AS rank FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** Link-prediction replay: neighborhoods, degrees, and the wedge
    * self-join re-derived from the shared jpairs CTEs — integer micros
    * for the neighborhood Jaccard, same positive-long `//`.
    */
  private val linkPredictOracle =
    s"""WITH $ngramJaccardCtes, fulln AS (
       |  SELECT id_a AS id, id_b AS x FROM jpairs
       |  UNION ALL SELECT id_b, id_a FROM jpairs
       |), deg AS (
       |  SELECT id, count(*) AS deg FROM fulln GROUP BY 1
       |), cn AS (
       |  SELECT l.id AS id_a, r.id AS id_b, count(*) AS cn
       |  FROM fulln l JOIN fulln r ON l.x = r.x AND l.id < r.id
       |  GROUP BY 1, 2
       |)
       |SELECT cn.id_a, cn.id_b, cn.cn,
       |  da.deg AS deg_a, db.deg AS deg_b,
       |  (1000000 * cn.cn) // (da.deg + db.deg - cn.cn) AS jacc_micro
       |FROM cn
       |JOIN deg da ON da.id = cn.id_a
       |JOIN deg db ON db.id = cn.id_b
       |ORDER BY id_a, id_b""".stripMargin

  /** Label-propagation replay: each round's votes (neighbor labels
    * arriving at dst), the deterministic argmax (count DESC, label ASC
    * via QUALIFY), and the keep-old-label left join — the exact
    * trajectory [[graft.ops.Graph.labelPropagation]] walks.
    */
  private def labelPropagationOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""v$i AS (
         |  SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON l.id = e.src
         |  GROUP BY 1, 2
         |), p$i AS (
         |  SELECT id, label FROM v$i
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) = 1
         |), l$i AS (
         |  SELECT l.id, coalesce(p$i.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN p$i ON p$i.id = l.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $ngramJaccardCtes, edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION ALL SELECT id_b, id_a FROM jpairs
       |), l0 AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |), $iterCtes
       |SELECT id AS doc_id, label AS community FROM l$iters ORDER BY doc_id""".stripMargin
  }

  /** Weighted-LPA replay: the same QUALIFY argmax with `sum(w)` votes
    * over Jaccard-micro edge weights.
    */
  private def labelPropagationWeightedOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""v$i AS (
         |  SELECT e.dst AS id, l.label, CAST(sum(e.w) AS BIGINT) AS c
         |  FROM wedges e JOIN l${i - 1} l ON l.id = e.src
         |  GROUP BY 1, 2
         |), p$i AS (
         |  SELECT id, label FROM v$i
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) = 1
         |), l$i AS (
         |  SELECT l.id, coalesce(p$i.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN p$i ON p$i.id = l.id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $ngramJaccardCtes, wedges AS (
       |  SELECT id_a AS src, id_b AS dst,
       |    CAST(round(jaccard * 1000000) AS BIGINT) AS w FROM jpairs
       |  UNION ALL SELECT id_b, id_a,
       |    CAST(round(jaccard * 1000000) AS BIGINT) FROM jpairs
       |), l0 AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |), $iterCtes
       |SELECT id AS doc_id, label AS community FROM l$iters ORDER BY doc_id""".stripMargin
  }

  /** t45 replay: injection (card digits + Luhn check digit, BBAN +
    * mod-97 check digits, SSN fields — all from doc_id), then the full
    * six-stage chain with the SAME general Luhn/mod-97 validation the
    * operator runs (DuckDB list lambdas mirror Spark's higher-order
    * functions, 1-based list_transform index vs Spark's 0-based is
    * absorbed by the parity flip), candidate fold-replace via
    * list_reduce over a text-prepended candidate list.
    */
  private val t45RedactExtendedOracle =
    """WITH base AS (
      |  SELECT doc_id, text,
      |    list_transform(range(1,16), p -> (doc_id + p*7) % 10) AS cd,
      |    list_transform(range(1,19), i -> (doc_id*3 + i) % 10) AS bb
      |  FROM documents
      |), inj AS (
      |  SELECT doc_id, text, cd, bb,
      |    list_sum(list_transform(cd, (dig, p) -> CASE WHEN p % 2 = 1
      |        THEN CASE WHEN dig*2 > 9 THEN dig*2 - 9 ELSE dig*2 END
      |        ELSE dig END)) AS ls,
      |    list_reduce(list_concat(bb, [1,3,1,4,0,0]), (a, x) -> (a*10 + x) % 97) AS m97
      |  FROM base
      |), fields AS (
      |  SELECT doc_id, text,
      |    array_to_string(list_transform(cd, x -> CAST(x AS VARCHAR)), '')
      |      || CAST(CASE WHEN doc_id % 2 = 0 THEN (10 - ls % 10) % 10
      |              ELSE ((10 - ls % 10) % 10 + 5) % 10 END AS VARCHAR) AS d16,
      |    'DE' || lpad(CAST(CASE WHEN doc_id % 3 = 0 THEN 98 - m97
      |        ELSE CASE WHEN 98 - m97 >= 98 THEN 97 ELSE 98 - m97 + 1 END END AS VARCHAR), 2, '0')
      |      || array_to_string(list_transform(bb, x -> CAST(x AS VARCHAR)), '') AS iban,
      |    lpad(CAST((doc_id*13) % 1000 AS VARCHAR), 3, '0') || '-'
      |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
      |      || lpad(CAST((doc_id*7) % 10000 AS VARCHAR), 4, '0') AS ssn
      |  FROM inj
      |), withpii AS (
      |  SELECT doc_id,
      |    text || ' contact: user' || doc_id::VARCHAR || '@example.com or +1 (555) 123-'
      |      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |      || ' at 10.0.' || (doc_id % 256)::VARCHAR || '.7'
      |      || ' ssn: ' || ssn
      |      || ' card: ' || substr(d16,1,4) || '-' || substr(d16,5,4) || '-'
      |        || substr(d16,9,4) || '-' || substr(d16,13,4)
      |      || ' iban: ' || iban AS text
      |  FROM fields
      |), s1 AS (
      |  SELECT doc_id, text,
      |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      |  FROM withpii
      |), s2 AS (
      |  SELECT doc_id, text, t1,
      |    regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2
      |  FROM s1
      |), s3 AS (
      |  SELECT doc_id, text, t1, t2,
      |    list_filter(regexp_extract_all(t2, '[0-9]{4}([ -][0-9]{4}){3}'),
      |      c -> (list_sum(list_transform(
      |              list_reverse(string_split_regex(regexp_replace(c, '[^0-9]', '', 'g'), '')),
      |              (d, i) -> CASE WHEN i % 2 = 1 THEN CAST(d AS BIGINT)
      |                        ELSE CASE WHEN 2*CAST(d AS BIGINT) > 9
      |                             THEN 2*CAST(d AS BIGINT) - 9
      |                             ELSE 2*CAST(d AS BIGINT) END END))
      |            % 10) = 0) AS cards
      |  FROM s2
      |), s3b AS (
      |  SELECT doc_id, text, t1, t2, cards,
      |    list_reduce(list_prepend(t2, cards), (acc, c) -> replace(acc, c, '<CARD>')) AS t3
      |  FROM s3
      |), s4 AS (
      |  SELECT doc_id, text, t1, t2, cards, t3,
      |    list_filter(regexp_extract_all(t3, '[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}'),
      |      c -> (list_reduce(list_transform(
      |              string_split_regex(array_to_string(list_transform(
      |                string_split_regex(substr(c, 5) || substr(c, 1, 4), ''),
      |                ch -> CASE WHEN ch BETWEEN 'A' AND 'Z'
      |                      THEN CAST(ascii(ch) - 55 AS VARCHAR) ELSE ch END), ''), ''),
      |              d -> CAST(d AS BIGINT)),
      |            (a, b) -> (a*10 + b) % 97)) = 1) AS ibans
      |  FROM s3b
      |), s4b AS (
      |  SELECT doc_id, text, t1, t2, cards, t3, ibans,
      |    list_reduce(list_prepend(t3, ibans), (acc, c) -> replace(acc, c, '<IBAN>')) AS t4
      |  FROM s4
      |), s5 AS (
      |  SELECT doc_id, text, t1, t2, cards, t3, ibans, t4,
      |    regexp_replace(t4, '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS t5
      |  FROM s4b
      |)
      |SELECT doc_id,
      |  regexp_replace(t5, '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
      |  CAST(len(cards) AS BIGINT) AS n_card,
      |  CAST(len(ibans) AS BIGINT) AS n_iban,
      |  CAST(len(regexp_extract_all(t4, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn,
      |  CAST(len(regexp_extract_all(t5, '\+?[0-9][0-9()\-. ]{6,}[0-9]')) AS BIGINT) AS n_phone
      |FROM s5 ORDER BY doc_id""".stripMargin

  /** Convergence-run LPA replay (g09): the g08 stacked-history pattern
    * over the voting recurrence — unroll to the cap, stack every
    * round's labels, select the first round equal to its predecessor
    * (its labels AND its index), degrade to the cap identically on
    * both engines. l-CTEs MATERIALIZED for the same reason as g08's
    * r-CTEs (each referenced three times: v_{i+1}, l_{i+1}, hist).
    */
  private def labelPropagationConvergedOracle(cap: Int): String = {
    val iterCtes = (1 to cap).map { i =>
      s"""v$i AS (
         |  SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON l.id = e.src
         |  GROUP BY 1, 2
         |), p$i AS (
         |  SELECT id, label FROM v$i
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) = 1
         |), l$i AS MATERIALIZED (
         |  SELECT l.id, coalesce(p$i.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN p$i ON p$i.id = l.id
         |)""".stripMargin
    }.mkString(", ")
    val histArms = (0 to cap)
      .map(i => s"SELECT $i AS iter, id, label FROM l$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $ngramJaccardCtes, edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION ALL SELECT id_b, id_a FROM jpairs
       |  UNION ALL SELECT doc_id, doc_id FROM documents
       |), l0 AS MATERIALIZED (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |), $iterCtes, hist AS (
       |  $histArms
       |), diffs AS (
       |  SELECT a.iter, sum(CASE WHEN a.label <> b.label THEN 1 ELSE 0 END) AS nch
       |  FROM hist a JOIN hist b ON a.id = b.id AND b.iter = a.iter - 1
       |  GROUP BY a.iter
       |), kk AS (
       |  SELECT CAST(coalesce(min(iter), $cap) AS BIGINT) AS k
       |  FROM diffs WHERE nch = 0
       |)
       |SELECT id AS doc_id, label AS community, (SELECT k FROM kk) AS rounds
       |FROM hist WHERE iter = (SELECT k FROM kk)
       |ORDER BY doc_id""".stripMargin
  }

  /** Duplication-profile replay: sizes + histogram + the singleton
    * bucket off the recursive-CTE components. (`lazy`: declared above
    * [[clusterLabelCtes]] — eager init would capture null.)
    */
  private lazy val dupProfileOracle =
    s"""WITH RECURSIVE $clusterLabelCtes, csizes AS (
       |  SELECT cluster_id, count(*) AS k FROM labels GROUP BY 1
       |), hist AS (
       |  SELECT k AS cluster_size, count(*) AS n_clusters,
       |    CAST(sum(k) AS BIGINT) AS n_docs
       |  FROM csizes GROUP BY 1
       |), singles AS (
       |  SELECT CAST(1 AS BIGINT) AS cluster_size,
       |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM labels) AS n_clusters,
       |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM labels) AS n_docs
       |), unioned AS (
       |  SELECT * FROM hist
       |  UNION ALL SELECT * FROM singles WHERE n_clusters > 0
       |)
       |SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs
       |FROM unioned GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** Join-skew replay: both sides collapse to (key, count), inner join
    * at key cardinality, exact contribution + integer-ceil salt factor,
    * deterministic top-10 cut.
    */
  private val joinSkewOracle =
    """WITH lc AS (
      |  SELECT user_id, count(*) AS n_left FROM events GROUP BY 1
      |), rc AS (
      |  SELECT user_id, count(*) AS n_right FROM events GROUP BY 1
      |)
      |SELECT lc.user_id, n_left, n_right,
      |  n_left * n_right AS est_out,
      |  (n_left * n_right + 999) // 1000 AS salt_buckets
      |FROM lc JOIN rc ON rc.user_id = lc.user_id
      |ORDER BY est_out DESC, lc.user_id LIMIT 10""".stripMargin

  /** Connected components over the exact pair set, in SQL: transitive
    * closure by recursive CTE, cluster_id = min reachable id — what the
    * Spark-side iterative min-label propagation must converge to.
    */
  private val dedupClustersOracle =
    s"""WITH RECURSIVE $ngramJaccardCtes, edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION SELECT id_b, id_a FROM jpairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |)
       |SELECT src AS id, least(src, min(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY id""".stripMargin

  /** Shared recursive-CTE fragment: `labels(id, cluster_id)` over the
    * exact jpairs graph — the d11 components, reused by the d19/d20
    * end-to-end policies.
    */
  private val clusterLabelCtes =
    s"""$ngramJaccardCtes, edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM jpairs
       |  UNION SELECT id_b, id_a FROM jpairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), labels AS (
       |  SELECT src AS id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src
       |)""".stripMargin

  /** Curation-funnel replay: gopher metric CTEs + the exact-keeper
    * window + the recursive-CTE components, conjoined progressively —
    * the oracle recomposes the whole chain from scratch.
    */
  private val curationFunnelOracle =
    s"""WITH RECURSIVE $clusterLabelCtes, gt AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) END AS n_words,
       |    length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g')) AS nonws,
       |    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS sym,
       |    string_split_regex(trim(text), '[ \\t\\n\\f\\r]+') AS raw_toks,
       |    string_split_regex(trim(lower(text)), '[ \\t\\n\\f\\r]+') AS ltoks
       |  FROM documents
       |), gm AS (
       |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |    CASE WHEN n_words = 0 THEN 0
       |         ELSE (nonws * 1000000) // n_words END AS mwl_micro,
       |    CASE WHEN n_words = 0 THEN 0
       |         ELSE (sym * 1000000) // n_words END AS sym_micro,
       |    CASE WHEN n_words = 0 THEN 0
       |         ELSE (len(list_filter(raw_toks,
       |                x -> regexp_matches(x, '[A-Za-z]'))) * 1000000)
       |              // n_words END AS alpha_micro,
       |    len(list_intersect(ltoks,
       |      ['the','a','an','and','or','of','to','in','is','it'])) AS stop_hits
       |  FROM gt
       |), gk AS (
       |  SELECT doc_id,
       |    CASE WHEN n_words BETWEEN 30 AND 100000
       |          AND mwl_micro BETWEEN 3000000 AND 10000000
       |          AND sym_micro <= 100000
       |          AND alpha_micro >= 800000
       |          AND stop_hits >= 2 THEN 1 ELSE 0 END AS g_keep
       |  FROM gm
       |), ek AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY text)
       |         THEN 1 ELSE 0 END AS e_keep
       |  FROM documents
       |), nk AS (
       |  SELECT d.doc_id,
       |    CASE WHEN l.cluster_id IS NULL OR l.cluster_id = d.doc_id
       |         THEN 1 ELSE 0 END AS n_keep
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
       |)
       |SELECT d.source, count(*) AS n_total,
       |  CAST(sum(g_keep) AS BIGINT) AS n_gopher,
       |  CAST(sum(g_keep * e_keep) AS BIGINT) AS n_exact,
       |  CAST(sum(g_keep * e_keep * n_keep) AS BIGINT) AS n_unique
       |FROM documents d
       |JOIN gk USING (doc_id) JOIN ek USING (doc_id) JOIN nk USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Frame-container dHash chain shared by the m08 and m11 oracles:
    * per-FRAME rasters (the m03 arithmetic) → 8×8 nearest-neighbor
    * dHash grid (the m06 arithmetic), ending in
    * `fdh(media_id, frame_idx, dhash)`.
    */
  private val frameDhashCtes =
    """fdims AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS sw, 8 + doc_id % 5 AS sh,
      |    2 + doc_id % 3 AS nf
      |  FROM documents
      |), fg AS (
      |  SELECT doc_id, ff.f AS f, xx.x AS x, yy.y AS y,
      |    (((doc_id*31 + ff.f*23 + ((xx.x*sw)//8)*7 + ((yy.y*sh)//8)*13) % 256) * 299
      |     + ((doc_id*17 + ff.f*29 + ((xx.x*sw)//8)*11 + ((yy.y*sh)//8)*5) % 256) * 587
      |     + ((doc_id*13 + ff.f*37 + ((xx.x*sw)//8)*3 + ((yy.y*sh)//8)*19) % 256) * 114) // 1000 AS gray
      |  FROM fdims,
      |    LATERAL (SELECT unnest(range(0, nf)) AS f) ff,
      |    (SELECT unnest(range(0, 8)) AS x) xx,
      |    (SELECT unnest(range(0, 8)) AS y) yy
      |), fbits AS (
      |  SELECT a.doc_id, a.f, a.y * 7 + a.x AS j,
      |    CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
      |  FROM fg a JOIN fg b ON b.doc_id = a.doc_id AND b.f = a.f
      |    AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 7
      |), fdh AS (
      |  SELECT doc_id AS media_id, f AS frame_idx,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS dhash
      |  FROM fbits GROUP BY 1, 2
      |)""".stripMargin

  /** The d31 leakage-safe split: recursive-CTE components (the d11
    * labels) → group key = component min-id (own id for singletons) →
    * the t09 md5 integer-threshold assignment on the GROUP key. Bounds
    * derive with the SAME scanLeft-on-doubles arithmetic as
    * [[graft.ops.Sampling.hashSplit]].
    */
  private def leakageSplitOracle: String = {
    val bounds = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      .map(c => math.min((c * 4294967296.0).toLong, 4294967296L))
    s"""WITH RECURSIVE $clusterLabelCtes, grp AS (
       |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
       |)
       |SELECT doc_id, group_id,
       |  CASE WHEN h < ${bounds(0)} THEN 'train'
       |       WHEN h < ${bounds(1)} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, group_id,
       |        ('0x' || substr(md5('graft:' || group_id::VARCHAR), 1, 8))::BIGINT AS h
       |      FROM grp) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Bigram-LM CTE chain ending in `lmscored(doc_id, n_bigrams,
    * lm_micro)` — retrains the t22 counts (bigram, unigram, vocab) and
    * replays the add-one micro-unit arithmetic; DuckDB's flooring `//`
    * on non-negative operands == Spark's truncating div, and
    * sum(BIGINT)'s HUGEINT widening is cast back. Shared by t22/t24.
    */
  /** Bigram-LM scoring chain, parameterized by a CTE-name prefix and a
    * training-set WHERE clause: counts (c2/c1/V) train on the filtered
    * docs, EVERY doc is scored, unseen transitions keep add-one
    * smoothing at count 0 via LEFT joins + coalesce (the
    * [[graft.ext.TextOps.bigramLmScoreAgainst]] semantics; with an
    * empty filter the coalesce arms never fire and this is t22's
    * original self-trained spelling). `//` stays on non-negative
    * operands throughout.
    */
  private def bigramLmScoredCtes(p: String, trainWhere: String): String =
    s"""${p}dt AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \\t\\n\\f\\r]+') AS t
       |  FROM documents
       |), ${p}tt AS (
       |  SELECT string_split_regex(trim(lower(text)), '[ \\t\\n\\f\\r]+') AS t
       |  FROM documents $trainWhere
       |), ${p}b AS (
       |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
       |  FROM ${p}dt, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
       |  WHERE len(t) >= 2
       |), ${p}tb AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2
       |  FROM ${p}tt, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
       |  WHERE len(t) >= 2
       |), ${p}c2 AS (
       |  SELECT w1, w2, count(*) AS c2 FROM ${p}tb GROUP BY 1, 2
       |), ${p}uni AS (
       |  SELECT unnest(t) AS w FROM ${p}tt
       |), ${p}c1 AS (
       |  SELECT w, count(*) AS c1 FROM ${p}uni GROUP BY 1
       |), ${p}v AS (
       |  SELECT count(DISTINCT w) AS v FROM ${p}uni
       |), ${p}s AS (
       |  SELECT b.doc_id,
       |    ((coalesce(c2.c2, 0) + 1) * 1000000) // (coalesce(c1.c1, 0) + v.v) AS p
       |  FROM ${p}b b LEFT JOIN ${p}c2 c2 USING (w1, w2)
       |  LEFT JOIN ${p}c1 c1 ON b.w1 = c1.w CROSS JOIN ${p}v v
       |), ${p}agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(p) AS s
       |  FROM ${p}s GROUP BY 1
       |), ${p}lmscored AS (
       |  SELECT dt.doc_id,
       |    CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |    CAST(coalesce(agg.s // agg.n_bigrams, 0) AS BIGINT) AS lm_micro
       |  FROM ${p}dt dt LEFT JOIN ${p}agg agg USING (doc_id)
       |)""".stripMargin

  private val bigramLmCtes = bigramLmScoredCtes("", "")

  /** Generated BPE-training oracle: k unrolled iterations. Symbols are
    * sentinel-wrapped (chr(28) sym chr(29)) exactly as
    * [[graft.ext.TextOps.bpeMerges]] wraps them, so DuckDB's literal
    * non-overlapping left-to-right `replace` IS one greedy merge pass;
    * each iteration recounts adjacent pairs off the current vocab,
    * takes the same (cnt desc, l, r) argmax, and applies it.
    */
  /** The shared BPE training CTE chain: v0 (sentinel-wrapped word
    * vocab) and per-iteration sy_i/p_i/m_i/v_i — m_i holds iteration
    * i's learned merge. Used by the t25 (merges) and t29 (encode)
    * oracles.
    */
  private def bpeIterCtes(k: Int): String = bpeIterCtesOver(k,
    "(SELECT doc_id, lower(text) AS text FROM documents)")

  /** [[bpeIterCtes]] over an arbitrary case-folded (doc_id, text)
    * source subquery — the byte-level twin (t29b) trains on the
    * remapped corpus, so the training chain must read the same source
    * the encode chain does. `src` lands as CTE `bsrc`.
    */
  private def bpeIterCtesOver(k: Int, src: String): String = {
    val iters = (1 to k).map { i =>
      s"""sy$i AS (
         |  SELECT regexp_extract_all(s, '\\x1c([^\\x1d]*)\\x1d', 1) AS sy, c FROM v${i - 1}
         |), p$i AS (
         |  SELECT sy[j] AS l, sy[j + 1] AS r, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM sy$i, LATERAL (SELECT unnest(range(1, len(sy))) AS j) rr
         |  WHERE len(sy) >= 2 GROUP BY 1, 2
         |), m$i AS (
         |  SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1
         |), v$i AS (
         |  SELECT replace(v.s, chr(28) || m.l || chr(29) || chr(28) || m.r || chr(29),
         |                 chr(28) || m.l || m.r || chr(29)) AS s, v.c
         |  FROM v${i - 1} v, m$i m
         |)""".stripMargin
    }.mkString(", ")
    s"""bsrc AS (
       |  SELECT doc_id, text FROM $src
       |), v0 AS (
       |  SELECT regexp_replace(w, '(.)', chr(28) || '\\1' || chr(29), 'g') AS s, c FROM (
       |    SELECT word AS w, count(*) AS c FROM (
       |      SELECT unnest(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) AS word
       |      FROM bsrc) t WHERE word != '' GROUP BY 1)
       |), $iters""".stripMargin
  }

  private def bpeMergesOracle(k: Int): String = {
    val rows = (1 to k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS step, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count FROM m$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeIterCtes(k)}
       |SELECT * FROM (
       |  $rows
       |) ORDER BY step""".stripMargin
  }

  /** t29: re-learn the k merges (same chain as t25), then replay the
    * encode on every DOCUMENT — whitespace-normalize, sentinel-wrap
    * each non-space char, apply the k merges in order as literal
    * replaces, count the surviving symbols (= chr(28) occurrences).
    */
  private def bpeEncodeOracle(k: Int): String = bpeEncodeOracleOver(k,
    "(SELECT doc_id, lower(text) AS text FROM documents)")

  private def bpeEncodeOracleOver(k: Int, src: String): String = {
    val encChain = (1 to k).map { i =>
      s"""e$i AS (
         |  SELECT doc_id, replace(e.s, chr(28) || m.l || chr(29) || chr(28) || m.r || chr(29),
         |                 chr(28) || m.l || m.r || chr(29)) AS s
         |  FROM e${i - 1} e, m$i m
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH ${bpeIterCtesOver(k, src)}, e0 AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(trim(text), '[ \\t\\n\\f\\r]+', ' ', 'g'),
       |      '([^ ])', chr(28) || '\\1' || chr(29), 'g') AS s
       |  FROM bsrc
       |), $encChain
       |SELECT d.doc_id AS doc_id,
       |  CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
       |       ELSE len(string_split_regex(trim(d.text), '[ \\t\\n\\f\\r]+')) END AS BIGINT) AS n_words,
       |  CAST(length(e.s) - length(replace(e.s, chr(28), '')) AS BIGINT) AS n_subwords
       |FROM e$k e JOIN bsrc d USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** t29b: the byte-level twin — the oracle replays graft_byte_remap on
    * the injected corpus as LITERAL remapped replacements (ASCII
    * printable bytes are identity under the GPT-2 table; the two
    * injected non-ASCII chars expand to their per-byte chars:
    * é = C3 A9 → chr(195)||chr(169), soft hyphen = C2 AD →
    * chr(194)||chr(323) — AD is byte 173, GPT-2 rank 67 → U+0143),
    * then runs the t29 train+encode CTE chain over that source.
    */
  private val byteBpeSrc: String =
    """(SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN replace(lower(text), 'table', 'tabl' || chr(195) || chr(169))
      |         WHEN doc_id % 3 = 1 THEN replace(lower(text), 'merge', 'mer' || chr(194) || chr(323) || 'ge')
      |         ELSE lower(text) END AS text
      |   FROM documents)""".stripMargin

  /** d19: components → drop non-representatives → surviving corpus. */
  private val clusterDedupOracle =
    s"""WITH RECURSIVE $clusterLabelCtes
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM labels WHERE cluster_id != id)
       |ORDER BY doc_id""".stripMargin

  /** d20: components joined with token counts, best-copy row per
    * cluster (n_tokens desc, id) + member count — literal window
    * functions here; the Spark side's windows are cluster-sized.
    */
  private val clusterRepsOracle =
    s"""WITH RECURSIVE $clusterLabelCtes, toksz AS (
       |  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
       |    ELSE len(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+')) END AS n_tokens
       |  FROM documents
       |), ranked AS (
       |  SELECT l.cluster_id, l.id, t.n_tokens,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY t.n_tokens DESC, l.id) AS rn,
       |    count(*) OVER (PARTITION BY l.cluster_id) AS n_members
       |  FROM labels l JOIN toksz t ON t.doc_id = l.id
       |)
       |SELECT cluster_id, id AS keep_id,
       |  CAST(n_tokens AS BIGINT) AS keep_tokens, n_members
       |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** t62 replay — retokenize, saturate tf at 100, idf with the +1
    * smoothing under the 100000 cap, exact integer dot/norms, the
    * IEEE-exact cosine finish. Shared verbatim by t62 (from-scratch)
    * and t62b (artifact round trip): serve(index) == from-scratch IS
    * the t62b gate.
    */
  private val tfidfCosineOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, token FROM toks WHERE token <> ''
      |), tf AS (
      |  SELECT doc_id, token, least(count(*), 100) AS tfs
      |  FROM tk GROUP BY 1, 2
      |), dfq AS (
      |  SELECT token, count(*) AS df FROM tf GROUP BY 1
      |), nd AS (
      |  SELECT count(*) AS n_docs FROM documents
      |), idf AS (
      |  SELECT token,
      |    least(100000, (1000 * (n_docs + 1)) // (df + 1)) AS idf
      |  FROM dfq, nd
      |), w AS (
      |  SELECT tf.doc_id, tf.token, tf.tfs * idf.idf AS w, idf.idf
      |  FROM tf JOIN idf USING (token)
      |), dn AS (
      |  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS d2 FROM w GROUP BY 1
      |), qi AS (
      |  SELECT CAST(sum(idf * idf) AS BIGINT) AS q2 FROM idf
      |  WHERE token IN ('dup', 'spark', 'vector', 'merge')
      |), dt AS (
      |  SELECT doc_id, CAST(sum(idf * w) AS BIGINT) AS dot
      |  FROM w WHERE token IN ('dup', 'spark', 'vector', 'merge')
      |  GROUP BY 1
      |)
      |SELECT d.doc_id, d.dot, n.d2,
      |  CAST(floor(CAST(d.dot AS DOUBLE)
      |    / (sqrt(CAST(q.q2 AS DOUBLE)) * sqrt(CAST(n.d2 AS DOUBLE)))
      |    * 1e6) AS BIGINT) AS cos_micro
      |FROM dt d JOIN dn n USING (doc_id), qi q
      |ORDER BY cos_micro DESC, doc_id LIMIT 20""".stripMargin

  val oracles: Map[String, String] = Map(
    // xxhash64 replayed in DuckDB by the generated XXH64 CTE chain —
    // the former rows-only registry row is now under the full hash gate
    "d04_simhash_pairs" -> simhashXxhPairsOracle,
    "s05_kmeans_codebook" -> kmeansCodebookOracle(k = 8, iters = 3),
    "s06_pq_codes" -> pqCodesOracle(m = 4, k = 8, iters = 2, subDim = 16),
    "s21_ivfpq_codes" -> ivfPqOracle(nLists = 16, m = 4, k = 8, iters = 2, subDim = 16),
    "g01_pagerank" -> pageRankOracle(iters = 3),
    "g08_pagerank_converged" -> pageRankConvergedOracle(cap = 8),
    // same damping/floor recurrence with rank*w // ws contributions;
    // weights = round(jaccard*1e6) on the identical rounded-6 double
    "g03_pagerank_weighted" -> pageRankWeightedOracle(iters = 3),
    "g10_domain_pagerank" -> domainPageRankOracle(iters = 3),
    "g11_hits" -> hitsOracle(iters = 2),
    "g12_hits_converged" -> hitsConvergedOracle(cap = 8),
    // g13 replay: base-snapshot build + warm-start rounds as ONE
    // unrolled trajectory — the artifact round trip is Spark-side only,
    // so serve(artifact) == from-scratch is what the hash pins
    "g13_rank_update" -> warmRankOracle(baseIters = 3, warmIters = 2),
    "t52_robots" -> robotsOracle,
    "t52b_robots_wildcards" -> robotsWildcardOracle,
    "t55_crawl_frontier" -> crawlFrontierOracle,
    // t55b: t55's oracle UNCHANGED — the gate pins frontier(artifact
    // ranks) == frontier(from-scratch ranks)
    "t55b_frontier_indexed" -> crawlFrontierOracle,
    "t66_recrawl_schedule" -> recrawlScheduleOracle,
    "t56_fetch_schedule" -> fetchScheduleOracle,
    // t64 replay: injection, line split (trailing empties kept in both
    // engines), per-(domain, line) df, the < 3 keep rule, ordered
    // FILTER reassembly and drop counts
    "t64_domain_boilerplate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'site' || (doc_id % 23)::VARCHAR ||
        |    CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |         ELSE '.net' END AS domain,
        |    'Home | About site' || (doc_id % 23)::VARCHAR || chr(10) || text
        |      || chr(10) || 'Copyright site' || (doc_id % 23)::VARCHAR
        |      || ' all rights reserved' AS page
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id, domain, string_split(page, chr(10)) AS ls FROM d
        |), lines AS (
        |  SELECT doc_id, domain, CAST(i.i - 1 AS BIGINT) AS pos,
        |    ls[CAST(i.i AS INT)] AS line
        |  FROM sp, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i
        |), df AS (
        |  SELECT domain, line, count(DISTINCT doc_id) AS line_df
        |  FROM lines GROUP BY 1, 2
        |)
        |SELECT doc_id, domain,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE line_df < 3), '') AS cleaned,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(*) FILTER (WHERE line_df >= 3) AS BIGINT) AS n_removed
        |FROM lines JOIN df USING (domain, line)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // t65 replay: the t62 weight build + the (w desc, token) QUALIFY cut
    "t65_doc_keywords" -> docKeywordsOracle,
    // t65b: the from-scratch t65 SQL UNCHANGED — serve off the tf-idf
    // artifact's saturated grain must land on the identical keyword
    // table (the t62b convention applied to the batch half)
    "t65b_keywords_indexed" -> docKeywordsOracle,
    // t62 replay: inverted-index tf/df from scratch, the rational
    // milli-idf with its cap, exact long dot/norms, and the same
    // cast → sqrt → divide → truncate float finish (every step IEEE
    // correctly-rounded, so the micro-cosine is bit-stable)
    "t62_tfidf_cosine" -> tfidfCosineOracle,
    // t62b: the from-scratch t62 SQL UNCHANGED — the artifact round
    // trip (build postings/norms, serve the query slice) must land on
    // the identical top-k table
    "t62b_tfidf_indexed" -> tfidfCosineOracle,
    // t63 replay: the per-source word inventory (t20's word-count
    // convention) and the allocator's truncating div/mod plan
    "t63_epoch_alloc" ->
      """WITH w AS (
        |  SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+'))
        |    END AS n_words
        |  FROM documents
        |), s AS (
        |  SELECT source, CAST(sum(n_words) AS BIGINT) AS tokens_avail
        |  FROM w GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(tokens_avail) AS BIGINT) AS tt,
        |    CAST(count(*) AS BIGINT) AS ns
        |  FROM s
        |)
        |SELECT source, tokens_avail,
        |  (tt * 2) // ns AS target_tokens,
        |  ((tt * 2) // ns) // tokens_avail AS epochs_full,
        |  ((((tt * 2) // ns) % tokens_avail) * 1000000) // tokens_avail
        |    AS frac_micro
        |FROM s, t ORDER BY source""".stripMargin,
    // t61 replay: the same injection + 1-based positional token scan
    // as t59, two term position sets, the |pb-pa| <= 3 pair filter
    "t61_proximity" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' quasar alpha beta pulsar'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' quasar alpha beta gamma delta pulsar' ELSE '' END
        |      AS text
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS T
        |  FROM inj
        |), a AS (
        |  SELECT doc_id, i.i AS pa
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(T) + 1)) AS i) i
        |  WHERE T[CAST(i.i AS INT)] = 'quasar'
        |), b AS (
        |  SELECT doc_id, i.i AS pb
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(T) + 1)) AS i) i
        |  WHERE T[CAST(i.i AS INT)] = 'pulsar'
        |), pr AS (
        |  SELECT a.doc_id, abs(b.pb - a.pa) AS span
        |  FROM a JOIN b ON a.doc_id = b.doc_id
        |  WHERE abs(b.pb - a.pa) <= 3
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(min(span) AS BIGINT) AS min_span
        |FROM pr GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // t60 replay: robots synthesis → comment-strip/directive line
    // parse (sitemap lines only, UA-independent) → XML synthesis via
    // list_transform → (?is) block/field extraction → the t21
    // canonicalization fragments on loc; the whitespace-only loc
    // occupies its pos and then filters (the t48 empty-href rule)
    "t60_sitemap" ->
      ("WITH " + sitemapEntriesCtes + """
        |SELECT domain, sitemap_url, pos, loc, url_canon, lastmod
        |FROM canon ORDER BY domain, sitemap_url, pos""".stripMargin),
    // t60b replay: the t60 robots/directive CTEs verbatim, the INDEX
    // payload synthesis, <sitemap> block + child-loc extraction (the
    // whitespace-only child loc occupies its pos and filters), the
    // per-child (s, c) re-derivation FROM THE CHILD URL, the leaf
    // synthesis, and the t60 entry/canonicalization machinery applied
    // to each child's payload
    "t60b_sitemap_index" ->
      """WITH doms AS (
        |  SELECT DISTINCT 'site' || (doc_id % 23)::VARCHAR ||
        |    CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |         ELSE '.net' END AS domain
        |  FROM documents
        |), kt AS (
        |  SELECT domain,
        |    CAST(regexp_extract(domain, 'site([0-9]+)', 1) AS INT) AS k,
        |    CASE WHEN domain LIKE '%.com' THEN 0
        |         WHEN domain LIKE '%.org' THEN 1 ELSE 2 END AS t
        |  FROM doms
        |), rb AS (
        |  SELECT domain, k,
        |    '# discovery fixture' || chr(10) || 'User-agent: *' || chr(10)
        |    || 'Disallow: /tmp/' || chr(10)
        |    || CASE WHEN k % 5 = 0
        |         THEN '# Sitemap: https://ignored.example/s.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN (k + t) % 2 = 0
        |         THEN 'Sitemap: https://' || domain || '/sitemap.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN k % 6 = 0
        |         THEN 'SiteMap:   https://' || domain || '/sitemap2.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN k % 9 = 0 THEN 'Sitemap:' || chr(10) ELSE '' END
        |      AS robots_txt
        |  FROM kt
        |), ln AS (
        |  SELECT domain, k, trim(regexp_replace(l.l, '#.*$', '')) AS line
        |  FROM rb, LATERAL (SELECT unnest(string_split(robots_txt, chr(10))) AS l) l
        |), sm AS (
        |  SELECT DISTINCT domain, k,
        |    trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) AS sitemap_url
        |  FROM ln
        |  WHERE line <> ''
        |    AND lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) = 'sitemap'
        |    AND trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) <> ''
        |), gen AS (
        |  SELECT domain, k, sitemap_url,
        |    CASE WHEN sitemap_url LIKE '%sitemap2.xml' THEN 2 ELSE 1 END AS s
        |  FROM sm
        |), ixml AS (
        |  SELECT domain, sitemap_url, k,
        |    '<sitemapindex>' || chr(10) ||
        |    array_to_string(list_transform(range(0, ((k + s) % 2) + 1), c ->
        |      '<sitemap >' || chr(10) || '  <loc> https://' || domain || '/sm/'
        |      || s::VARCHAR || '/' || c::VARCHAR || '.xml </loc>' || chr(10)
        |      || '</sitemap>'), chr(10)) ||
        |    CASE WHEN k % 4 = 0
        |      THEN chr(10) || '<sitemap><loc>   </loc></sitemap>' ELSE '' END ||
        |    chr(10) || '</sitemapindex>' AS xml
        |  FROM gen
        |), cex AS (
        |  SELECT domain, sitemap_url, k,
        |    regexp_extract_all(xml, '(?is)<sitemap\s*>.*?</sitemap\s*>', 0) AS cs
        |  FROM ixml
        |), cen AS (
        |  SELECT domain, sitemap_url, k, CAST(i.i - 1 AS BIGINT) AS child_pos,
        |    trim(regexp_extract(cs[CAST(i.i AS INT)],
        |      '(?is)<loc\s*>([^<]*)</loc\s*>', 1)) AS child_url
        |  FROM cex, LATERAL (SELECT unnest(range(1, len(cs) + 1)) AS i) i
        |), cf AS (
        |  SELECT * FROM cen WHERE child_url <> ''
        |), cgen AS (
        |  SELECT domain, sitemap_url, child_pos, child_url, k,
        |    CAST(regexp_extract(child_url, '/sm/([0-9]+)/', 1) AS INT) AS s2,
        |    CAST(regexp_extract(child_url, '/sm/[0-9]+/([0-9]+)\.xml', 1) AS INT) AS c2
        |  FROM cf
        |), lxml AS (
        |  SELECT domain, sitemap_url, child_pos, child_url,
        |    '<urlset>' || chr(10) ||
        |    array_to_string(list_transform(range(0, ((k + s2 + c2) % 3) + 1), j ->
        |      '<url >' || chr(10) || '  <loc>  https://' || domain || '/pg/'
        |      || s2::VARCHAR || '/' || c2::VARCHAR || '/' || j::VARCHAR ||
        |      CASE WHEN j % 2 = 1 THEN '?utm_campaign=sm&x=1' ELSE '' END ||
        |      '  </loc>' || chr(10) ||
        |      CASE WHEN (j + c2) % 2 = 0
        |        THEN '  <lastmod> 2026-1' || ((j + k) % 2)::VARCHAR
        |          || '-01 </lastmod>' || chr(10)
        |        ELSE '' END ||
        |      '</url>'), chr(10)) ||
        |    chr(10) || '</urlset>' AS xml
        |  FROM cgen
        |), ex2 AS (
        |  SELECT domain, sitemap_url, child_pos, child_url,
        |    regexp_extract_all(xml, '(?is)<url\s*>.*?</url\s*>', 0) AS es
        |  FROM lxml
        |), en2 AS (
        |  SELECT domain, sitemap_url, child_pos, child_url,
        |    CAST(i.i - 1 AS BIGINT) AS pos, es[CAST(i.i AS INT)] AS entry
        |  FROM ex2, LATERAL (SELECT unnest(range(1, len(es) + 1)) AS i) i
        |), fl2 AS (
        |  SELECT domain, sitemap_url, child_pos, child_url, pos,
        |    trim(regexp_extract(entry, '(?is)<loc\s*>([^<]*)</loc\s*>', 1)) AS loc,
        |    trim(regexp_extract(entry, '(?is)<lastmod\s*>([^<]*)</lastmod\s*>', 1))
        |      AS lastmod
        |  FROM en2
        |), ne2 AS (
        |  SELECT * FROM fl2 WHERE loc <> ''
        |), q2 AS (
        |  SELECT domain, sitemap_url, child_pos, child_url, pos, loc, lastmod,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(
        |        regexp_replace(loc, '#.*$', ''), '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS kept_qs
        |  FROM ne2
        |)
        |SELECT domain, sitemap_url, child_pos, child_url, pos, loc,
        |  regexp_replace(regexp_replace(
        |    lower(regexp_extract(loc,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |    ':443$', ''), ':80$', '')
        |  || regexp_replace(regexp_extract(loc,
        |       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
        |  || CASE WHEN kept_qs = '' THEN '' ELSE '?' || kept_qs END AS url_canon,
        |  lastmod
        |FROM q2 ORDER BY domain, sitemap_url, child_pos, pos""".stripMargin,
    // t60c replay: the injection formulas directly (the t45/t53
    // pattern — the XML grammar is gated by t60/t60b): regular
    // children per root with the designated depth-1 leaf child, the
    // depth-2 grandchild fan-out, and the three hazards replayed as
    // absences (cycle → visited drop, missing → fetch-gap drop,
    // whitespace loc → filter)
    "t60c_sitemap_tree" ->
      """WITH doms AS (
        |  SELECT DISTINCT 'site' || (doc_id % 23)::VARCHAR ||
        |    CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |         ELSE '.net' END AS domain
        |  FROM documents
        |), kt AS (
        |  SELECT domain,
        |    CAST(regexp_extract(domain, 'site([0-9]+)', 1) AS INT) AS k,
        |    CASE WHEN domain LIKE '%.com' THEN 0
        |         WHEN domain LIKE '%.org' THEN 1 ELSE 2 END AS t
        |  FROM doms
        |), rb AS (
        |  SELECT domain, k,
        |    '# discovery fixture' || chr(10) || 'User-agent: *' || chr(10)
        |    || 'Disallow: /tmp/' || chr(10)
        |    || CASE WHEN k % 5 = 0
        |         THEN '# Sitemap: https://ignored.example/s.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN (k + t) % 2 = 0
        |         THEN 'Sitemap: https://' || domain || '/sitemap.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN k % 6 = 0
        |         THEN 'SiteMap:   https://' || domain || '/sitemap2.xml' || chr(10)
        |         ELSE '' END
        |    || CASE WHEN k % 9 = 0 THEN 'Sitemap:' || chr(10) ELSE '' END
        |      AS robots_txt
        |  FROM kt
        |), ln AS (
        |  SELECT domain, k, trim(regexp_replace(l.l, '#.*$', '')) AS line
        |  FROM rb, LATERAL (SELECT unnest(string_split(robots_txt, chr(10))) AS l) l
        |), sm AS (
        |  SELECT DISTINCT domain, k,
        |    trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) AS sitemap_url
        |  FROM ln
        |  WHERE line <> ''
        |    AND lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) = 'sitemap'
        |    AND trim(regexp_extract(line, '^[A-Za-z-]+\s*:(.*)$', 1)) <> ''
        |), gen AS (
        |  SELECT domain, k, sitemap_url,
        |    CASE WHEN sitemap_url LIKE '%sitemap2.xml' THEN 2 ELSE 1 END AS s
        |  FROM sm
        |), kids AS (
        |  SELECT domain, k, sitemap_url, s, CAST(c.c AS INT) AS c,
        |    ((k + s) % 3 = 0 AND c.c = 0) AS is_leaf_child
        |  FROM gen, LATERAL (SELECT unnest(range(0, (k % 2) + 1)) AS c) c
        |), l1 AS (
        |  SELECT domain, sitemap_url, CAST(1 AS BIGINT) AS depth,
        |    'https://' || domain || '/sml1/' || s::VARCHAR || '.xml' AS leaf_url,
        |    CAST(j.j AS BIGINT) AS pos,
        |    'https://' || domain || '/pg1/' || s::VARCHAR || '/' || j.j::VARCHAR
        |      || CASE WHEN j.j % 2 = 1 THEN '?utm_campaign=sm&x=1' ELSE '' END
        |      AS loc,
        |    CASE WHEN (j.j + k) % 2 = 0
        |      THEN '2026-0' || (((j.j + k) % 9) + 1)::VARCHAR || '-15'
        |      ELSE '' END AS lastmod
        |  FROM kids, LATERAL (SELECT unnest(range(0, (k % 3) + 1)) AS j) j
        |  WHERE is_leaf_child
        |), gg AS (
        |  SELECT domain, k, sitemap_url, s, c, CAST(g.g AS INT) AS g
        |  FROM kids, LATERAL (SELECT unnest(range(0, ((k + c) % 2) + 1)) AS g) g
        |  WHERE NOT is_leaf_child
        |), l2 AS (
        |  SELECT domain, sitemap_url, CAST(2 AS BIGINT) AS depth,
        |    'https://' || domain || '/sml/' || s::VARCHAR || '/' || c::VARCHAR
        |      || '/' || g::VARCHAR || '.xml' AS leaf_url,
        |    CAST(j.j AS BIGINT) AS pos,
        |    'https://' || domain || '/pg2/' || s::VARCHAR || '/' || c::VARCHAR
        |      || '/' || g::VARCHAR || '/' || j.j::VARCHAR
        |      || CASE WHEN j.j % 2 = 1 THEN '?utm_campaign=sm&x=1' ELSE '' END
        |      AS loc,
        |    CASE WHEN (j.j + g) % 2 = 0
        |      THEN '2026-1' || ((j.j + c) % 2)::VARCHAR || '-01'
        |      ELSE '' END AS lastmod
        |  FROM gg, LATERAL (SELECT unnest(range(0, ((k + s + c + g) % 3) + 1)) AS j) j
        |), u AS (
        |  SELECT * FROM l1 UNION ALL SELECT * FROM l2
        |), q AS (
        |  SELECT domain, sitemap_url, depth, leaf_url, pos, loc, lastmod,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(
        |        regexp_replace(loc, '#.*$', ''), '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS kept_qs
        |  FROM u
        |)
        |SELECT domain, sitemap_url, depth, leaf_url, pos, loc,
        |  regexp_replace(regexp_replace(
        |    lower(regexp_extract(loc,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |    ':443$', ''), ':80$', '')
        |  || regexp_replace(regexp_extract(loc,
        |       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
        |  || CASE WHEN kept_qs = '' THEN '' ELSE '?' || kept_qs END AS url_canon,
        |  lastmod
        |FROM q ORDER BY domain, sitemap_url, leaf_url, pos""".stripMargin,
    // t53 replay: the injection formulas directly (the t45 pattern) —
    // rec_type/uri/payload per framed record plus the byte-exact
    // content_length (strlen ↔ octet_length); a delimiter-driven or
    // codepoint-counting walk on the Spark side cannot reproduce this
    // table because the response payload embeds CRLFCRLF + magic and
    // a 2-byte é
    "t53_warc_records" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    'https://site' || (doc_id % 23)::VARCHAR || '.com/a/'
        |      || doc_id::VARCHAR AS uri
        |  FROM documents
        |), recs AS (
        |  SELECT doc_id, 0 AS p, 'warcinfo' AS rec_type, '' AS uri2,
        |    'software: graft-crawler/' || (doc_id % 5)::VARCHAR AS payload
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 1, 'response', uri,
        |    '<html><body><p>' || text || '</p><!-- '
        |    || chr(13) || chr(10) || chr(13) || chr(10)
        |    || 'WARC/1.0' || chr(13) || chr(10) || 'Content-Length: 0'
        |    || chr(13) || chr(10) || chr(13) || chr(10)
        |    || ' --><p>caf' || chr(233) || ' id ' || doc_id::VARCHAR
        |    || '</p></body></html>'
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 2, 'metadata', uri,
        |    'fetchTimeMs: ' || ((doc_id * 7) % 997)::VARCHAR
        |  FROM base
        |)
        |SELECT doc_id, CAST(p AS BIGINT) AS rec_pos, rec_type, uri2 AS uri,
        |  CAST(strlen(payload) AS BIGINT) AS content_length, payload
        |FROM recs ORDER BY doc_id, rec_pos""".stripMargin,
    // t54 replay: whole-element extraction with the same RE2 grammar,
    // href/text group splits, the empty-href filter, the t21
    // schemehost → domain fragments, whitespace tokenization of the
    // lowercased anchor body, and the (domain, term) rollup
    "t54_anchor_terms" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><body><p>intro</p><a class="x" href="'
        |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
        |    || 'site' || (doc_id % 23)::VARCHAR
        |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
        |    || '/a/' || doc_id::VARCHAR
        |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
        |    || '">'
        |    || CASE (doc_id % 3) WHEN 0 THEN 'Breaking' WHEN 1 THEN 'daily' ELSE 'Local' END
        |    || ' news ' || (doc_id % 11)::VARCHAR
        |    || '</a><p>mid</p><a HREF = "'
        |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
        |    || '">visit Site' || (doc_id % 7)::VARCHAR || ' archive'
        |    || '</a><a href=''' || 'https://site' || (doc_id % 11)::VARCHAR
        |    || '.org/c/' || doc_id::VARCHAR || '''>'
        |    || 'old Archive ' || (doc_id % 5)::VARCHAR
        |    || '</a><a href='
        |    || 'HTTPS://WWW.Site' || (doc_id % 13)::VARCHAR || '.NET/d/'
        |    || doc_id::VARCHAR || '?utm_x=1&z=' || (doc_id % 3)::VARCHAR
        |    || ' rel=nofollow>read More now</a>'
        |    || '<a href="">skip me</a></body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id,
        |    regexp_extract_all(html,
        |      '(?is)<a\b[^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s"''>]+)[^>]*>([^<]*)</a>', 0) AS els
        |  FROM h
        |), el AS (
        |  SELECT doc_id, unnest(els) AS e FROM ex
        |), p0 AS (
        |  SELECT doc_id,
        |    regexp_extract(e,
        |      '(?is)<a\b[^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s"''>]+)[^>]*>([^<]*)</a>', 1) AS href0,
        |    regexp_extract(e,
        |      '(?is)<a\b[^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s"''>]+)[^>]*>([^<]*)</a>', 2) AS anchor
        |  FROM el
        |), p AS (
        |  SELECT doc_id,
        |    CASE WHEN starts_with(href0, '"') OR starts_with(href0, '''')
        |      THEN substr(href0, 2, length(href0) - 2) ELSE href0 END AS href,
        |    anchor
        |  FROM p0
        |), f AS (
        |  SELECT * FROM p WHERE href <> ''
        |), cc AS (
        |  SELECT doc_id, anchor,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(href,
        |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      ':443$', ''), ':80$', '') AS schemehost
        |  FROM f
        |), dm AS (
        |  SELECT doc_id, anchor,
        |    regexp_replace(lower(regexp_extract(schemehost,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
        |      '^www\.', '') AS domain
        |  FROM cc
        |), tm AS (
        |  SELECT doc_id, domain,
        |    unnest(string_split_regex(trim(lower(anchor)), '[ \t\n\f\r]+')) AS term
        |  FROM dm
        |)
        |SELECT domain, term, CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
        |FROM tm GROUP BY 1, 2 ORDER BY domain, term""".stripMargin,
    "g04_link_predict" -> linkPredictOracle,
    "g05_communities" -> labelPropagationOracle(iters = 3),
    "g09_communities_converged" -> labelPropagationConvergedOracle(cap = 8),
    "g06_pagerank_seeded" -> pageRankSeededOracle(iters = 3),
    "g07_communities_weighted" -> labelPropagationWeightedOracle(iters = 3),
    "d38_dup_profile" -> dupProfileOracle,
    "t43_curation_funnel" -> curationFunnelOracle,
    "e12_join_skew" -> joinSkewOracle,
    // one grouped agg + the global clock; integer hours, DECIMAL money
    "e13_rfm" ->
      """WITH m AS (SELECT max(epoch_ns(ts)) AS mx FROM events),
        |u AS (
        |  SELECT user_id, max(epoch_ns(ts)) AS lt, count(*) AS frequency,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY 1
        |)
        |SELECT user_id, (m.mx - u.lt) // 3600000000000 AS recency_hours,
        |  frequency, monetary
        |FROM u, m ORDER BY user_id""".stripMargin,
    "m06_image_dhash" ->
      s"""WITH $dhashCtes
         |SELECT media_id, dhash FROM dh ORDER BY media_id""".stripMargin,
    // Oracle verifies pairs by the naive all-pairs spelling (its d02
    // role: the quadratic twin lives in the oracle, the banded plan in
    // the engine).
    "d15_image_dhash_pairs" ->
      s"""WITH $dhashCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
         |FROM dh a JOIN dh b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "m07_audio_fingerprint" ->
      s"""WITH $audioFpCtes
         |SELECT media_id, afp FROM afp_t ORDER BY media_id""".stripMargin,
    // Rebuilds the raw variants and replays canonicalization + the
    // keep-min/count dedup.
    "d17_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, doc_id % 37 AS pid,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
        |    (CASE WHEN (doc_id % 37) % 4 = 0
        |          THEN CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'WWW.' END
        |          ELSE '' END) ||
        |    'site' || ((doc_id % 37) % 11)::VARCHAR ||
        |    (CASE WHEN (doc_id % 37) % 2 = 0 THEN '.com' ELSE '.org' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || (doc_id % 37)::VARCHAR ||
        |    (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_c=9&sid=' ELSE '?sid=' END)
        |      || (doc_id % 37)::VARCHAR ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#f' ELSE '' END) AS url
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, url,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(
        |        regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS kept_qs
        |  FROM u
        |), c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url,
        |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      ':443$', ''), ':80$', '')
        |    || regexp_replace(regexp_extract(url,
        |         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
        |    || CASE WHEN kept_qs = '' THEN '' ELSE '?' || kept_qs END
        |      AS url_canon
        |  FROM q
        |)
        |SELECT url_canon, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM c GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // Replays largest-remainder apportionment + deterministic
    // within-domain selection.
    "t23_domain_mixture" ->
      """WITH w AS (
        |  SELECT source, count(*) AS n,
        |    min(1 + (CAST(substr(source, 4) AS INT) % 4)) AS w
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT sum(w) AS tw FROM w
        |), q1 AS (
        |  SELECT source, n, (110 * w) // tw AS base, (110 * w) % tw AS rem
        |  FROM w CROSS JOIN tot
        |), q2 AS (
        |  SELECT source, n, base,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rnk,
        |    110 - sum(base) OVER () AS leftover
        |  FROM q1
        |), q AS (
        |  SELECT source,
        |    least(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END, n) AS quota
        |  FROM q2
        |), sel AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, source FROM sel JOIN q USING (source)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,
    // Same largest-remainder chain, weight DERIVED as round(sqrt(n)*1e6)
    // — sqrt is IEEE-correctly-rounded, so the micro-weight replays
    // bit-for-bit and the whole temperature mixture hash-gates.
    "t33_temperature_mixture" ->
      """WITH w AS (
        |  SELECT source, count(*) AS n,
        |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1000000, 0) AS BIGINT) AS w
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT sum(w) AS tw FROM w
        |), q1 AS (
        |  SELECT source, n, (110 * w) // tw AS base, (110 * w) % tw AS rem
        |  FROM w CROSS JOIN tot
        |), q2 AS (
        |  SELECT source, n, base,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rnk,
        |    110 - sum(base) OVER () AS leftover
        |  FROM q1
        |), q AS (
        |  SELECT source,
        |    least(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END, n) AS quota
        |  FROM q2
        |), sel AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, source FROM sel JOIN q USING (source)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin,
    "d31_leakage_split" -> leakageSplitOracle,
    // Replays the CMS CELLS themselves (md5 bucket arithmetic, depth 4
    // × width 512), then the min-over-rows estimate — the d26 KMV
    // convention applied to counters.
    "t34_cms_counts" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |), tk AS (
        |  SELECT token FROM toks WHERE token <> ''
        |), keys AS (
        |  SELECT token, count(*) AS exact_cnt FROM tk GROUP BY 1
        |  ORDER BY exact_cnt DESC, token LIMIT 20
        |), cells AS (
        |  SELECT i.i AS row_i,
        |    ('0x' || substr(md5(i.i::VARCHAR || ':' || token), 1, 8))::BIGINT % 512 AS bucket,
        |    count(*) AS cnt
        |  FROM tk, LATERAL (SELECT unnest(range(0, 4)) AS i) i
        |  GROUP BY 1, 2
        |), kb AS (
        |  SELECT k.token, k.exact_cnt, i.i AS row_i,
        |    ('0x' || substr(md5(i.i::VARCHAR || ':' || k.token), 1, 8))::BIGINT % 512 AS bucket
        |  FROM keys k, LATERAL (SELECT unnest(range(0, 4)) AS i) i
        |)
        |SELECT kb.token, kb.exact_cnt,
        |  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
        |FROM kb LEFT JOIN cells c ON c.row_i = kb.row_i AND c.bucket = kb.bucket
        |GROUP BY 1, 2 ORDER BY token""".stripMargin,
    // Replays the histogram CELLS (clamped integer floor-div binning,
    // 64 bins over [0, 640)) then the rank walk: target rank =
    // max(1, ceil(f·N)) picks the first bucket whose cumulative count
    // reaches it — the t34 cells convention applied to quantiles.
    "t35_hist_quantiles" ->
      """WITH b AS (
        |  SELECT CASE WHEN n_chars < 0 THEN 0
        |              WHEN n_chars >= 640 THEN 63
        |              ELSE CAST((n_chars * 64) // 640 AS INT) END AS bucket
        |  FROM documents
        |), sk AS (
        |  SELECT bucket, count(*) AS cnt FROM b GROUP BY 1
        |), cum AS (
        |  SELECT bucket, sum(cnt) OVER (ORDER BY bucket
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM sk
        |), tot AS (
        |  SELECT sum(cnt) AS n FROM sk
        |), fr AS (
        |  SELECT CAST(unnest([250000, 500000, 750000, 900000, 990000]) AS BIGINT)
        |    AS fraction_micro
        |), tr AS (
        |  SELECT fraction_micro, n,
        |    greatest(1, (fraction_micro * n + 999999) // 1000000) AS target_rank
        |  FROM fr CROSS JOIN tot
        |), pick AS (
        |  SELECT fraction_micro, n, target_rank, min(bucket) AS bucket
        |  FROM tr JOIN cum ON cum >= target_rank
        |  GROUP BY 1, 2, 3
        |)
        |SELECT fraction_micro, CAST(n AS BIGINT) AS n,
        |  CAST(target_rank AS BIGINT) AS target_rank,
        |  CAST(bucket AS BIGINT) AS bucket,
        |  CAST((bucket * 640) // 64 AS BIGINT) AS q_lo,
        |  CAST(((bucket + 1) * 640) // 64 AS BIGINT) AS q_hi
        |FROM pick ORDER BY fraction_micro""".stripMargin,
    // t35's cells + rank walk PARTITIONED by source — every group's
    // N, target rank, and bracket replay per key
    "t37_hist_by_source" ->
      """WITH b AS (
        |  SELECT source, CASE WHEN n_chars < 0 THEN 0
        |              WHEN n_chars >= 640 THEN 63
        |              ELSE CAST((n_chars * 64) // 640 AS INT) END AS bucket
        |  FROM documents
        |), sk AS (
        |  SELECT source, bucket, count(*) AS cnt FROM b GROUP BY 1, 2
        |), cum AS (
        |  SELECT source, bucket, sum(cnt) OVER (PARTITION BY source
        |    ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum FROM sk
        |), tot AS (
        |  SELECT source, sum(cnt) AS n FROM sk GROUP BY 1
        |), fr AS (
        |  SELECT CAST(unnest([500000, 990000]) AS BIGINT) AS fraction_micro
        |), tr AS (
        |  SELECT source, fraction_micro, n,
        |    greatest(1, (fraction_micro * n + 999999) // 1000000) AS target_rank
        |  FROM fr CROSS JOIN tot
        |), pick AS (
        |  SELECT tr.source, fraction_micro, n, target_rank,
        |    min(bucket) AS bucket
        |  FROM tr JOIN cum ON cum.source = tr.source AND cum >= target_rank
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT source, fraction_micro, CAST(n AS BIGINT) AS n,
        |  CAST(target_rank AS BIGINT) AS target_rank,
        |  CAST(bucket AS BIGINT) AS bucket,
        |  CAST((bucket * 640) // 64 AS BIGINT) AS q_lo,
        |  CAST(((bucket + 1) * 640) // 64 AS BIGINT) AS q_hi
        |FROM pick ORDER BY source, fraction_micro""".stripMargin,
    "d16_audio_fp_pairs" ->
      s"""WITH $audioFpCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS dist
         |FROM afp_t a JOIN afp_t b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.afp, b.afp)) <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "d18_image_dhash_new" ->
      s"""WITH $dhashCtes, nw AS (
         |  SELECT * FROM dh WHERE media_id % 10 = 0
         |), oth AS (
         |  SELECT media_id, dhash, media_id % 10 = 0 AS isnew FROM dh
         |)
         |SELECT a.media_id AS id_new, b.media_id AS id_other,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
         |FROM nw a JOIN oth b ON a.media_id <> b.media_id
         |  AND (NOT b.isnew OR a.media_id < b.media_id)
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id_new, id_other""".stripMargin,
    // Independent enumeration: id-ordered a<b<c three-way self-join
    // over the SAME jpairs edge set the Spark side orients by degree.
    "g02_triangles" ->
      s"""WITH $ngramJaccardCtes, e AS (
         |  SELECT id_a AS a, id_b AS b FROM jpairs
         |), tri AS (
         |  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
         |  FROM e e1
         |  JOIN e e2 ON e2.a = e1.b
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         |), pernode AS (
         |  SELECT id, count(*) AS n_tri FROM (
         |    SELECT n1 AS id FROM tri
         |    UNION ALL SELECT n2 FROM tri
         |    UNION ALL SELECT n3 FROM tri)
         |  GROUP BY 1
         |)
         |SELECT doc_id, CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri
         |FROM documents LEFT JOIN pernode ON id = doc_id
         |ORDER BY doc_id""".stripMargin,
    // Replays sqStats + sqEncode: integer micro-unit min/max per dim,
    // positive-long linear map — DuckDB // == Spark div throughout.
    // floor micros + offset floor-mean, replayed per (group, dim)
    "s20_mean_pool" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), x AS (
        |  SELECT vec_id // 5 AS group_id, p.p - 1 AS pos,
        |    CAST(floor(e[p.p] * 1000000) AS BIGINT) AS xi
        |  FROM v, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS p) p
        |), g AS (
        |  SELECT group_id, pos, count(*) AS n, CAST(sum(xi) AS BIGINT) AS sx
        |  FROM x GROUP BY 1, 2
        |)
        |SELECT group_id, pos, n,
        |  (sx + n * 1000000000) // n - 1000000000 AS centroid_micro
        |FROM g ORDER BY group_id, pos""".stripMargin,
    // bucket = exact integer micros div 50000 off the shared pair CTEs
    "d39_pair_histogram" ->
      s"""WITH $ngramJaccardCtes
         |SELECT CAST(round(jaccard * 1000000) AS BIGINT) // 50000 AS bucket,
         |  count(*) AS n_pairs
         |FROM jpairs GROUP BY 1 ORDER BY bucket""".stripMargin,
    "s07_sq_codes" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), x AS (
        |  SELECT vec_id, p.p - 1 AS pos,
        |    CAST(floor(e[p.p] * 1000000) AS BIGINT) AS xi
        |  FROM v, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS p) p
        |), st AS (
        |  SELECT pos, min(xi) AS mn, max(xi) AS mx FROM x GROUP BY pos
        |)
        |SELECT vec_id, pos,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE ((xi - mn) * 255) // (mx - mn) END AS code
        |FROM x JOIN st USING (pos) ORDER BY vec_id, pos""".stripMargin,
    // FULL-raster luma replay (every sw×sh pixel; the dHash CTEs only
    // sample an 8×8 grid); noise rides pixel (0,0)'s red channel
    // decode-side invariants of the solid-gray JPEG fixture: dims from
    // the generator formulas, uniformity constants — the values a real
    // decode (and only a real decode) produces
    "m12_jpeg_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 9 AS INT) AS width,
        |  CAST(8 + doc_id % 5 AS INT) AS height,
        |  CAST(0 AS BIGINT) AS dhash,
        |  CAST((8 + doc_id % 9) * (8 + doc_id % 5) AS BIGINT) AS n_pixels,
        |  CAST(0 AS BIGINT) AS contrast,
        |  CAST(0 AS BIGINT) AS dark_micro,
        |  CAST(0 AS BIGINT) AS bright_micro,
        |  CAST(0 AS BIGINT) AS keep
        |FROM documents ORDER BY media_id""".stripMargin,
    // every column is id arithmetic (shared dim formulas; PNG colortype
    // 2 and baseline 3-component JPEG are both 8-bit, 3-channel) — the
    // BYTES are proven by the Spark side's header parse, which must
    // walk real marker/chunk structures to produce these values
    "m14_container_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS container,
        |  CAST(8 + doc_id % 9 AS INT) AS width,
        |  CAST(8 + doc_id % 5 AS INT) AS height,
        |  CAST(8 AS INT) AS bit_depth,
        |  CAST(3 AS INT) AS n_channels
        |FROM documents ORDER BY media_id""".stripMargin,
    // m15 replay: regenerate every PCM sample of the class-seeded WAV
    // from id arithmetic (full per-class length, not just the
    // fingerprint window), peak, the (s · 28000) // peak rescale —
    // DuckDB `//` TRUNCATES toward zero on negatives, exactly like JVM
    // long division — and the after-measurements
    // m16 replay: the padded sample stream from id arithmetic, the
    // first/last-above-threshold bounds (left joins keep the all-quiet
    // degenerate case exact), and the kept-slice n/peak
    "m16_audio_trim" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS img, (doc_id // 50) % 3 AS nz,
        |    doc_id % 7 AS lead_n, doc_id % 5 AS trail_n,
        |    512 + (doc_id % 50) AS n
        |  FROM documents
        |), samp AS (
        |  SELECT doc_id, i.i AS i,
        |    CASE WHEN i.i < lead_n OR i.i >= lead_n + n
        |           THEN ((doc_id + i.i) % 3) - 1
        |         WHEN i.i = lead_n THEN ((img * 31 + 101 * nz) % 65536) - 32768
        |         ELSE ((img * 31 + (i.i - lead_n) * (257 + img * 13)
        |               + 3 * (i.i - lead_n) * (i.i - lead_n)) % 65536) - 32768
        |    END AS s
        |  FROM dims, LATERAL (
        |    SELECT unnest(range(0, dims.lead_n + dims.n + dims.trail_n)) AS i) i
        |), tot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_in FROM samp GROUP BY 1
        |), ab AS (
        |  SELECT doc_id, i FROM samp WHERE abs(s) > 100
        |), bnd AS (
        |  SELECT doc_id, CAST(min(i) AS BIGINT) AS first_i,
        |    CAST(max(i) AS BIGINT) AS last_i
        |  FROM ab GROUP BY 1
        |), kept AS (
        |  SELECT s.doc_id, CAST(max(abs(s.s)) AS BIGINT) AS peak_out
        |  FROM samp s JOIN bnd b USING (doc_id)
        |  WHERE s.i BETWEEN b.first_i AND b.last_i
        |  GROUP BY 1
        |)
        |SELECT t.doc_id AS media_id, t.n_in,
        |  coalesce(b.first_i, t.n_in) AS lead,
        |  CAST(coalesce(t.n_in - 1 - b.last_i, 0) AS BIGINT) AS trail,
        |  CAST(coalesce(b.last_i - b.first_i + 1, 0) AS BIGINT) AS n_out,
        |  coalesce(k.peak_out, 0) AS peak_out
        |FROM tot t LEFT JOIN bnd b USING (doc_id)
        |LEFT JOIN kept k USING (doc_id)
        |ORDER BY media_id""".stripMargin,
    "m15_audio_normalize" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS img, (doc_id // 50) % 3 AS nz
        |  FROM documents
        |), samp AS (
        |  SELECT doc_id, i.i AS i,
        |    CASE WHEN i.i = 0 THEN ((img * 31 + 101 * nz) % 65536) - 32768
        |         ELSE ((img * 31 + i.i * (257 + img * 13) + 3 * i.i * i.i)
        |               % 65536) - 32768 END AS s
        |  FROM dims, LATERAL (
        |    SELECT unnest(range(0, 512 + (dims.doc_id % 50))) AS i) i
        |), pk AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(max(abs(s)) AS BIGINT) AS peak_in
        |  FROM samp GROUP BY 1
        |), ns AS (
        |  SELECT s.doc_id, (s.s * 28000) // p.peak_in AS s2
        |  FROM samp s JOIN pk p USING (doc_id)
        |), o AS (
        |  SELECT doc_id, CAST(max(abs(s2)) AS BIGINT) AS peak_out,
        |    CAST(sum(s2 * s2) AS BIGINT) AS energy_out
        |  FROM ns GROUP BY 1
        |)
        |SELECT p.doc_id AS media_id, p.n_samples, p.peak_in,
        |  o.peak_out, o.energy_out
        |FROM pk p JOIN o USING (doc_id) ORDER BY media_id""".stripMargin,
    // t59 replay: injection + the sliding-window token-sequence walk
    // (DuckDB lists are 1-based; first_pos rebases to the Spark side's
    // 0-based posexplode)
    "t59_phrase_search" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' spark vector merge' ELSE '' END ||
        |    CASE WHEN doc_id % 27 = 0 THEN ' spark vector merge' ELSE '' END
        |      AS text
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS T
        |  FROM inj
        |), hits AS (
        |  SELECT doc_id, i.i AS pos1
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(T) - 1)) AS i) i
        |  WHERE T[CAST(i.i AS INT)] = 'spark'
        |    AND T[CAST(i.i + 1 AS INT)] = 'vector'
        |    AND T[CAST(i.i + 2 AS INT)] = 'merge'
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(pos1) - 1 AS BIGINT) AS first_pos
        |FROM hits GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // t58 replay: the COMPOSITION from scratch — t20's metric CTEs,
    // the d01 first-occurrence dup flag partitioned by raw text, the
    // t21 host→domain fragment, and the truncating micro-rate rollup
    "t58_domain_reputation" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n_words,
        |    length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) AS nonws,
        |    len(regexp_extract_all(text, '#|\.\.\.|…')) AS sym,
        |    string_split_regex(trim(text), '[ \t\n\f\r]+') AS raw_toks,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (nonws * 1000000) // n_words END AS mwl_micro,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (sym * 1000000) // n_words END AS sym_micro,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (len(list_filter(raw_toks,
        |                x -> regexp_matches(x, '[A-Za-z]'))) * 1000000)
        |              // n_words END AS alpha_micro,
        |    len(list_intersect(toks,
        |      ['the','a','an','and','or','of','to','in','is','it'])) AS stop_hits
        |  FROM t
        |), g AS (
        |  SELECT doc_id, n_words,
        |    CAST(CASE WHEN n_words BETWEEN 30 AND 100000
        |               AND mwl_micro BETWEEN 3000000 AND 10000000
        |               AND sym_micro <= 100000
        |               AND alpha_micro >= 800000
        |               AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |  FROM m
        |), dd AS (
        |  SELECT doc_id,
        |    CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1
        |      THEN 1 ELSE 0 END AS dup
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(
        |      CASE WHEN doc_id % 4 = 0 THEN 'www.'
        |           WHEN doc_id % 4 = 1 THEN 'WWW.' ELSE '' END ||
        |      'site' || (doc_id % 23)::VARCHAR ||
        |      CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |           ELSE '.net' END), '^www\.', '') AS domain
        |  FROM documents
        |), j AS (
        |  SELECT u.domain, g.n_words, g.keep, dd.dup
        |  FROM u JOIN g USING (doc_id) JOIN dd USING (doc_id)
        |), r AS (
        |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(keep) AS BIGINT) AS n_keep,
        |    CAST(sum(dup) AS BIGINT) AS n_dup,
        |    CAST(sum(n_words) AS BIGINT) AS words_total
        |  FROM j GROUP BY 1
        |)
        |SELECT domain, n_docs,
        |  CAST((n_keep * 1000000) // n_docs AS BIGINT) AS keep_micro,
        |  CAST((n_dup * 1000000) // n_docs AS BIGINT) AS dup_micro,
        |  words_total
        |FROM r ORDER BY domain""".stripMargin,
    // t57 replay: identical injection + the three extractors verbatim
    // (DuckDB regexp_extract also yields '' on no match and takes the
    // FIRST match)
    "t57_page_meta" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><meta charset="utf-8">'
        |    || '<meta name="keywords" content="k1,k2"><title id="t">Doc '
        |    || doc_id::VARCHAR || ' overview</title>'
        |    || CASE WHEN doc_id % 4 <> 0 THEN
        |         CASE WHEN doc_id % 3 = 1 THEN
        |           '<meta name=''description'' content=''Summary '
        |           || (doc_id % 13)::VARCHAR || ' of doc ' || doc_id::VARCHAR || ''''
        |           || '>'
        |         ELSE
        |           '<meta name="description" content="Summary '
        |           || (doc_id % 13)::VARCHAR || ' of doc ' || doc_id::VARCHAR || '">'
        |         END
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN
        |         '<link rel=canonical href=https://site' || (doc_id % 23)::VARCHAR
        |         || '.com/a/' || doc_id::VARCHAR || '>'
        |       WHEN doc_id % 5 = 1 THEN
        |         '<link rel=''canonical'' href=''https://site' || (doc_id % 23)::VARCHAR
        |         || '.com/a/' || doc_id::VARCHAR || '''>'
        |       ELSE
        |         '<link rel="canonical" href="https://site' || (doc_id % 23)::VARCHAR
        |         || '.com/a/' || doc_id::VARCHAR || '">'
        |       END
        |    || '</head><body><p>' || text
        |    || CASE WHEN doc_id % 6 = 0 THEN '<title>decoy second title</title>'
        |       ELSE '' END
        |    || '</p></body></html>' AS html
        |  FROM documents
        |), x AS (
        |  SELECT doc_id,
        |    regexp_extract(html, '(?is)<title[^>]*>([^<]*)</title>', 1) AS title,
        |    regexp_extract(html,
        |      '(?is)<meta\s[^>]*?name\s*=\s*["'']?description["'']?[\s>][^>]*?content\s*=\s*("[^"]*"|''[^'']*''|[^\s"''>]+)[^>]*>',
        |      1) AS description0,
        |    regexp_extract(html,
        |      '(?is)<link\s[^>]*?rel\s*=\s*["'']?canonical["'']?[\s>][^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s"''>]+)[^>]*>',
        |      1) AS canonical0
        |  FROM h
        |)
        |SELECT doc_id, title,
        |  CASE WHEN starts_with(description0, '"') OR starts_with(description0, '''')
        |    THEN substr(description0, 2, length(description0) - 2)
        |    ELSE description0 END AS description,
        |  CASE WHEN starts_with(canonical0, '"') OR starts_with(canonical0, '''')
        |    THEN substr(canonical0, 2, length(canonical0) - 2)
        |    ELSE canonical0 END AS canonical
        |FROM x ORDER BY doc_id""".stripMargin,
    "m13_jpeg_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST(10 AS INT) AS width, CAST(7 AS INT) AS height,
        |  CAST(0 AS BIGINT) AS dhash,
        |  CAST(70 AS BIGINT) AS n_pixels,
        |  CAST(0 AS BIGINT) AS contrast,
        |  CAST(0 AS BIGINT) AS dark_micro,
        |  CAST(0 AS BIGINT) AS bright_micro
        |FROM documents ORDER BY media_id""".stripMargin,
    "m10_image_quality" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS img,
        |    8 + (doc_id % 50) % 9 AS sw, 8 + (doc_id % 50) % 5 AS sh,
        |    (doc_id // 50) % 3 AS nz
        |  FROM documents
        |), px AS (
        |  SELECT doc_id,
        |    ((CASE WHEN xx.x = 0 AND yy.y = 0
        |          THEN ((img * 31) % 256 + 40 * nz) % 256
        |          ELSE (img*31 + xx.x*7 + yy.y*13) % 256 END) * 299
        |     + ((img*17 + xx.x*11 + yy.y*5) % 256) * 587
        |     + ((img*13 + xx.x*3 + yy.y*19) % 256) * 114) // 1000 AS gray
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(0, sw)) AS x) xx,
        |    LATERAL (SELECT unnest(range(0, sh)) AS y) yy
        |), m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(count(*) AS BIGINT) AS n_pixels,
        |    CAST(sum(gray) // count(*) AS BIGINT) AS mean_luma,
        |    CAST(max(gray) - min(gray) AS BIGINT) AS contrast,
        |    CAST((sum(CASE WHEN gray < 16 THEN 1 ELSE 0 END) * 1000000)
        |         // count(*) AS BIGINT) AS dark_micro,
        |    CAST((sum(CASE WHEN gray > 239 THEN 1 ELSE 0 END) * 1000000)
        |         // count(*) AS BIGINT) AS bright_micro
        |  FROM px GROUP BY doc_id
        |)
        |SELECT media_id, n_pixels, mean_luma, contrast, dark_micro, bright_micro,
        |  CAST(CASE WHEN contrast >= 150 AND mean_luma BETWEEN 64 AND 192
        |            AND dark_micro <= 40000 AND bright_micro <= 40000
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY media_id""".stripMargin,
    // full-clip PCM replay (n = 512 + img % 384, not the fingerprint's
    // 512 prefix); all metrics integer, // on non-negative operands
    "m09_audio_quality" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS img, (doc_id // 50) % 3 AS nz
        |  FROM documents
        |), samp AS (
        |  SELECT doc_id, i.i AS i,
        |    CASE WHEN i.i = 0 THEN ((img * 31 + 101 * nz) % 65536) - 32768
        |         ELSE ((img * 31 + i.i * (257 + img * 13) + 3 * i.i * i.i)
        |               % 65536) - 32768 END AS s
        |  FROM dims, LATERAL (SELECT unnest(range(0, 512 + img % 384)) AS i) i
        |), m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(max(abs(s)) AS BIGINT) AS peak,
        |    CAST(sum(CASE WHEN abs(s) >= 32767 THEN 1 ELSE 0 END) AS BIGINT) AS clip_count,
        |    CAST((sum(CASE WHEN abs(s) >= 32767 THEN 1 ELSE 0 END) * 1000000)
        |         // count(*) AS BIGINT) AS clip_micro,
        |    CAST(sum(s * s) // count(*) AS BIGINT) AS energy_per_sample,
        |    CAST((sum(CASE WHEN abs(s) < 1024 THEN 1 ELSE 0 END) * 1000000)
        |         // count(*) AS BIGINT) AS silence_micro
        |  FROM samp GROUP BY doc_id
        |)
        |SELECT media_id, n_samples, peak, clip_count, clip_micro,
        |  energy_per_sample, silence_micro,
        |  CAST(CASE WHEN clip_micro <= 10000 AND silence_micro <= 500000
        |            AND peak >= 256 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY media_id""".stripMargin,
    "d07_simhash_md5" -> simhashMd5Oracle,
    "d10_simhash_pairs_md5" -> simhashMd5PairsOracle,
    "d11_dedup_clusters" -> dedupClustersOracle,
    "d19_cluster_dedup" -> clusterDedupOracle,
    "d20_cluster_reps" -> clusterRepsOracle,
    "t25_bpe_merges" -> bpeMergesOracle(k = 8),
    "t29_bpe_encode" -> bpeEncodeOracle(k = 8),
    "t29b_byte_bpe_encode" -> bpeEncodeOracleOver(k = 8, byteBpeSrc),
    // serve(artifact) == from-scratch: the t29 chain unchanged
    "t49_bpe_indexed" -> bpeEncodeOracle(k = 8),
    // replays injection (8-token windows + cycling/doubled terminators
    // + trailing remnant) and the SAME RE2 extraction pattern
    "t50_sentences" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w
        |  FROM documents
        |), inj AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      range(0, CAST(ceil(greatest(len(w), 1) / 8.0) AS BIGINT)),
        |      i -> array_to_string(w[CAST(i*8+1 AS INT) : CAST(i*8+8 AS INT)], ' ')
        |        || CASE CAST((doc_id + i) % 3 AS INT) WHEN 0 THEN '.' WHEN 1 THEN '!' ELSE '?' END
        |        || CASE WHEN doc_id % 6 = 0 AND i = 0 THEN '..' ELSE '' END), ' ')
        |    || CASE WHEN doc_id % 4 = 0 THEN ' trailing remnant' ELSE '' END AS text
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$'),
        |      s -> trim(s)), s -> s <> '') AS ls
        |  FROM inj
        |)
        |SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos,
        |  ls[CAST(i.i AS INT)] AS sentence,
        |  CAST(length(ls[CAST(i.i AS INT)]) AS BIGINT) AS n_chars
        |FROM ex, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i
        |ORDER BY doc_id, pos""".stripMargin,
    // the ordinary-SQL running total IS the oracle; the engine side is
    // the two-phase distributed scan (t13's machinery)
    "t28_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT) AS tok_offset
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, tok_offset,
        |  CAST(tok_offset // 64 AS BIGINT) AS first_seq,
        |  CAST((tok_offset + greatest(n_tokens - 1, 0)) // 64 AS BIGINT) AS last_seq
        |FROM r ORDER BY doc_id""".stripMargin,
    // threshold coverage is pure aggregation in both engines; // on
    // non-negative HUGEINT == Spark's decimal div
    "t30_vocab_coverage" ->
      """WITH wc AS (
        |  SELECT word AS w, count(*) AS c FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS word
        |    FROM documents) t WHERE word != '' GROUP BY 1
        |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM wc)
        |SELECT CAST(k.cutoff AS BIGINT) AS cutoff,
        |  count(*) AS vocab_size,
        |  CAST(sum(c) AS BIGINT) AS covered,
        |  CAST(any_value(total) AS BIGINT) AS total,
        |  CAST((sum(c) * 1000000) // any_value(total) AS BIGINT) AS coverage_micro
        |FROM wc, tot, (VALUES (1), (2), (3), (5), (8)) k(cutoff)
        |WHERE c >= k.cutoff
        |GROUP BY k.cutoff ORDER BY cutoff""".stripMargin,
    // the projection arithmetic replayed per (vector, output dim) on
    // the SAME ±1 literals both engines derive from (64, 16, seed 7)
    "s17_random_projection" -> (0 until 16).map(k =>
      "SELECT vec_id, " + k + " AS proj_dim, " +
        s"floor((list_dot_product(embedding::DOUBLE[], ${projSignSql(k)})) * 1000000 + 0.5) / 1000000 AS proj " +
        "FROM embeddings")
      .mkString("", "\nUNION ALL\n", "\nORDER BY vec_id, proj_dim"),
    // stage 1 (candidate top-64 in projected space) and stage 2
    // (full-width rerank) both replayed with round-6-before-rank
    "s18_proj_rerank" ->
      s"""WITH proj AS (
         |  SELECT vec_id, [${(0 until 16).map(k =>
              s"list_dot_product(embedding::DOUBLE[], ${projSignSql(k)})").mkString(",\n    ")}] AS pv
         |  FROM embeddings
         |), cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY floor((list_cosine_similarity(a.pv, b.pv)) * 1000000 + 0.5) / 1000000 DESC, b.vec_id) AS rnk
         |    FROM proj a JOIN proj b ON a.vec_id != b.vec_id
         |    WHERE a.vec_id < 20) t
         |  WHERE rnk <= 64
         |)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT c.query_id, c.neighbor_id,
         |    floor((list_cosine_similarity(qa.embedding::DOUBLE[], qb.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY floor((list_cosine_similarity(qa.embedding::DOUBLE[], qb.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 DESC,
         |               c.neighbor_id) AS rank
         |  FROM cand c
         |  JOIN embeddings qa ON c.query_id = qa.vec_id
         |  JOIN embeddings qb ON c.neighbor_id = qb.vec_id) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the greedy selection unrolled to one CTE pair per pick — every
    // iteration's arg-max (ties included) replayed in integer space
    "s13_mmr_rerank" -> mmrOracle(nQueries = 8, pool = 20, k = 5, lam = 700L),
    "s14_cluster_mixture" -> clusterMixtureOracle(k = 8, iters = 2, total = 70L),
    // replays the k-means chain, the top-2 centroid ranking per vector
    // (round-6 cosine, ties to the smallest centroid id), and the
    // integer silhouette (a_sim - b_sim) * 1e6 // (1e6 - b_sim)
    "s19_silhouette" ->
      s"""WITH ${kmeansChainCtes(8, 2)}, cf AS (
         |  SELECT centroid_id, list(sm / (cnt * 1000000.0) ORDER BY pos) AS ce
         |  FROM s2 GROUP BY centroid_id
         |), sims AS (
         |  SELECT v.vec_id, c.centroid_id,
         |    CAST(round(floor((list_cosine_similarity(v.e, c.ce)) * 1000000 + 0.5) / 1000000 * 1000000, 0) AS BIGINT) AS sim_micro,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY floor((list_cosine_similarity(v.e, c.ce)) * 1000000 + 0.5) / 1000000 DESC, c.centroid_id) AS rn
         |  FROM v, cf c
         |), ab AS (
         |  SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN centroid_id END) AS centroid_id,
         |    max(CASE WHEN rn = 1 THEN sim_micro END) AS a_sim,
         |    max(CASE WHEN rn = 2 THEN sim_micro END) AS b_sim
         |  FROM sims GROUP BY vec_id
         |), sil AS (
         |  SELECT vec_id, centroid_id,
         |    CASE WHEN b_sim = 1000000 THEN 0
         |         ELSE ((a_sim - b_sim) * 1000000) // (1000000 - b_sim) END AS sil_micro
         |  FROM ab
         |)
         |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(sil_micro) AS BIGINT) AS sum_sil_micro,
         |  CAST(min(sil_micro) AS BIGINT) AS min_sil_micro,
         |  CAST(max(sil_micro) AS BIGINT) AS max_sil_micro
         |FROM sil GROUP BY 1 ORDER BY centroid_id""".stripMargin,
    // replays the ranked 20-candidate pool (the s01 formulation), the
    // top-1 positive, and the first-rank-below-margin negative rule
    "s16_triplet_mine" ->
      """WITH pool AS (
        |  SELECT query_id, neighbor_id, rank,
        |    CAST(round(sim * 1000000, 0) AS BIGINT) AS sim_micro
        |  FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 DESC,
        |                 b.vec_id) AS rank
        |    FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        |    WHERE a.vec_id < 12) t
        |  WHERE rank <= 20
        |), pos AS (
        |  SELECT query_id, neighbor_id AS pos_id, sim_micro AS pos_micro
        |  FROM pool WHERE rank = 1
        |), neg AS (
        |  SELECT p.query_id, pos.pos_id, pos.pos_micro,
        |    p.neighbor_id AS neg_id, p.sim_micro AS neg_micro,
        |    CAST(p.rank AS BIGINT) AS neg_rank,
        |    row_number() OVER (PARTITION BY p.query_id ORDER BY p.rank) AS rn
        |  FROM pool p JOIN pos USING (query_id)
        |  WHERE p.rank > 1 AND p.sim_micro <= pos.pos_micro - 50000
        |)
        |SELECT query_id, pos_id, pos_micro, neg_id, neg_micro, neg_rank
        |FROM neg WHERE rn = 1 ORDER BY query_id""".stripMargin,
    // replays both moment aggregations (exact integer micro-sums) and
    // the rounded-division means at dim cardinality
    "s15_embedding_drift" ->
      """WITH v AS (
        |  SELECT label, embedding::DOUBLE[] AS e FROM embeddings
        |), mb AS (
        |  SELECT p.p - 1 AS pos, count(*) AS cnt,
        |    CAST(sum(CAST(floor(e[p.p] * 1000000) AS BIGINT)) AS BIGINT) AS msum
        |  FROM v, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS p) p
        |  GROUP BY 1
        |), ma AS (
        |  SELECT p.p - 1 AS pos, count(*) AS cnt,
        |    CAST(sum(CAST(floor(e[p.p] * 1000000) AS BIGINT)) AS BIGINT) AS msum
        |  FROM v, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS p) p
        |  WHERE label = 0
        |  GROUP BY 1
        |)
        |SELECT CAST(mb.pos AS BIGINT) AS pos,
        |  mb.cnt AS cnt_before, ma.cnt AS cnt_after,
        |  floor((mb.msum / (mb.cnt * 1000000.0)) * 1000000 + 0.5) / 1000000 AS mean_before,
        |  floor((ma.msum / (ma.cnt * 1000000.0)) * 1000000 + 0.5) / 1000000 AS mean_after,
        |  floor((floor((ma.msum / (ma.cnt * 1000000.0)) * 1000000 + 0.5) / 1000000
        |      - floor((mb.msum / (mb.cnt * 1000000.0)) * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) / 1000000 AS dmean
        |FROM mb JOIN ma USING (pos) ORDER BY pos""".stripMargin,
    // both arms replayed (BM25 with t16's integer weighting; exact
    // cosine with the s01 float convention), then the integer fusion
    "s12_hybrid_rrf" ->
      """WITH q AS (
        |  SELECT unnest(['dup','spark','vector','merge']) AS token
        |), toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM toks JOIN q USING (token) GROUP BY 1, 2
        |), df AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), w AS (
        |  SELECT tf.doc_id,
        |    (((tf.tf * 3000000) // (tf.tf + 2))
        |     * least(1000000000, (1000000 * (2 * n.n_docs - 2 * df.df + 1))
        |                         // (2 * df.df + 1))) // 1000000 AS contrib
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |), lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY sum(contrib) DESC, doc_id) AS rank
        |  FROM w GROUP BY doc_id ORDER BY sum(contrib) DESC, doc_id LIMIT 50
        |), sem AS (
        |  SELECT b.vec_id AS doc_id,
        |    row_number() OVER (
        |      ORDER BY floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 DESC,
        |               b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        |  WHERE a.vec_id = 0
        |  ORDER BY rank LIMIT 50
        |), c AS (
        |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM lex
        |  UNION ALL SELECT doc_id, 1000000 // (60 + rank) FROM sem
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro, count(*) AS n_arms
        |FROM c GROUP BY doc_id
        |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin,
    // broadcast-weights inference: the weight list is rendered from the
    // SAME ProbeWeights constant the Spark side folds into its plan
    "s11_linear_probe" ->
      s"""SELECT vec_id, score,
         |  CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted
         |FROM (
         |  SELECT vec_id,
         |    floor((list_dot_product(embedding::DOUBLE[],
         |      [${ProbeWeights.mkString(", ")}]::DOUBLE[]) + 0.05) * 1000000 + 0.5) / 1000000 AS score
         |  FROM embeddings)
         |ORDER BY vec_id""".stripMargin,
    // stride arithmetic + 1-based list slicing; n>0 docs only, chunk
    // count = ((n-1) // stride) + 1, start = j*stride, window clamp by
    // slice bounds — mirrors chunkTokens(window=32, stride=24)
    "t26_chunk_windows" ->
      """WITH dt AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS t,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n
        |  FROM documents
        |)
        |SELECT doc_id, CAST(k.j AS BIGINT) AS chunk_id,
        |  CAST(k.j * 24 AS BIGINT) AS chunk_start,
        |  CAST(len(t[k.j * 24 + 1 : k.j * 24 + 32]) AS BIGINT) AS chunk_len,
        |  array_to_string(t[k.j * 24 + 1 : k.j * 24 + 32], ' ') AS chunk_text
        |FROM dt, LATERAL (SELECT unnest(range(0, (n - 1) // 24 + 1)) AS j) k
        |WHERE n > 0
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "d12_contamination" -> contaminationOracle,
    // d40 is the Bloom-prefiltered exact twin — SAME oracle as d12: the
    // gate pins that the prefilter is lossless, not merely close
    "d40_contamination_bloom" -> contaminationOracle,
    // first-seen attribution over the shared sh CTE (jpairs rides
    // along unused); SUM(CASE) cast to BIGINT to match Spark's long
    "t27_novelty" ->
      s"""WITH $ngramJaccardCtes, fs AS (
         |  SELECT shingle, min(doc_id) AS first_id FROM sh GROUP BY shingle
         |)
         |SELECT sh.doc_id AS doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  floor(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END)
         |        / CAST(count(*) AS DOUBLE) * 1e6) / 1e6 AS novelty
         |FROM sh JOIN fs USING (shingle)
         |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin,
    "t11_repetition" -> repetitionOracle,
    // priority = w / u, u = (h+1)/2^32 — all IEEE-exact ops, so the
    // DOUBLE priorities hash-match bit-for-bit across engines
    "t06_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END)::DOUBLE AS w,
        |    ('0x' || substr(md5('graft:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, w / ((h + 1) / 4294967296.0) AS priority
        |  FROM t WHERE w > 0
        |  ORDER BY priority DESC, doc_id LIMIT 50
        |)
        |SELECT doc_id, priority FROM p ORDER BY doc_id""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "d02_ngram_jaccard" -> ngramJaccardOracle,
    "d13_containment" -> containmentOracle,
    "d14_drop_contained" -> dropContainedOracle,
    // the PPJoin strategy must equal the naive strategy exactly — same oracle
    "d09_ngram_jaccard_ppjoin" -> ngramJaccardOracle,
    // minhash+LSH output is LSH-candidates verified by exact Jaccard; with
    // k=32/bands=16 recall at j>=0.5 is ~1 (verified == exact on fixtures),
    // so the exact-Jaccard oracle applies
    "d03_minhash_pairs" -> ngramJaccardOracle,
    // 4-row bands: candidates still superset every true j>=0.5 pair on
    // the fixtures, so the exact oracle applies (see d21MinhashWide)
    "d21_minhash_wide" -> ngramJaccardOracle,
    // the artifact read back must equal the from-scratch recompute
    "d22_pair_graph" -> ngramJaccardOracle,
    // incremental update(base, batch) == from-scratch over the full
    // corpus — the oracle never sees the split, only the end state
    "d23_pair_graph_update" -> ngramJaccardOracle,
    // snapshot B rebuilt in SQL from the same deterministic rules; the
    // diff replays as a full outer join + CASE
    "d25_corpus_diff" ->
      """WITH after AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' amended' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 != 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 13 = 0
        |)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text != b.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM documents a FULL OUTER JOIN after b ON a.doc_id = b.doc_id
        |WHERE (CASE WHEN a.doc_id IS NULL THEN 'added'
        |            WHEN b.doc_id IS NULL THEN 'removed'
        |            WHEN a.text != b.text THEN 'changed'
        |            ELSE 'unchanged' END) != 'unchanged'
        |ORDER BY doc_id""".stripMargin,
    // KMV replay: same 60-bit md5 hash, same k-minimum construction,
    // same integer estimator arithmetic (HUGEINT // == decimal div
    // floor for positive operands) — the estimates hash-gate exactly
    // the gear recurrence mod 2^31 has an exact 31-codepoint memory
    // (2^k ≡ 0 mod 2^31 for k ≥ 31), so every rolling-hash value
    // replays as a 31-row windowed self-join — no recursion; 16-bit
    // gears keep the un-modded sum < 2^51, overflow-free in BIGINT
    "d33_cdc_chunks" ->
      s"""WITH ${cdcChunkCtes("d", "SELECT doc_id, text FROM documents")}
         |SELECT doc_id, CAST(start AS BIGINT) AS start,
         |  CAST(len AS BIGINT) AS len, chunk_hash
         |FROM d_ck ORDER BY doc_id, start""".stripMargin,
    // both chunkings (original + head-edited) replay via the same
    // windowed-join CTEs; the overlap join pins shift-robustness
    "d34_cdc_shifted" ->
      s"""WITH ${cdcChunkCtes("b",
             "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0")},
         |${cdcChunkCtes("e",
             "SELECT doc_id, 'EDIT INSERTED HEAD >> ' || text AS text " +
             "FROM documents WHERE doc_id % 10 = 0")},
         |eh AS (SELECT DISTINCT doc_id, chunk_hash FROM e_ck)
         |SELECT b.doc_id,
         |  CAST(count(DISTINCT b.chunk_hash) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT CASE WHEN eh.chunk_hash IS NOT NULL
         |    THEN b.chunk_hash END) AS BIGINT) AS n_shared
         |FROM b_ck b LEFT JOIN eh
         |  ON eh.doc_id = b.doc_id AND eh.chunk_hash = b.chunk_hash
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // serve(chunk store) == from scratch: the oracle replays the corpus
    // chunking AND the batch chunking through the same windowed-join
    // CTEs, then tests batch-chunk membership in the corpus hash set —
    // every (n_chunks, n_seen) row pins the artifact round trip
    "d35_chunk_provenance" ->
      s"""WITH ${cdcChunkCtes("c", "SELECT doc_id, text FROM documents")},
         |${cdcChunkCtes("n",
             "SELECT doc_id + 1000000 AS doc_id, " +
             "'EDIT INSERTED HEAD >> ' || text AS text " +
             "FROM documents WHERE doc_id % 10 = 0")},
         |ch AS (SELECT DISTINCT chunk_hash FROM c_ck)
         |SELECT n.doc_id,
         |  CAST(count(DISTINCT n.chunk_hash) AS BIGINT) AS n_chunks,
         |  CAST(count(DISTINCT CASE WHEN ch.chunk_hash IS NOT NULL
         |    THEN n.chunk_hash END) AS BIGINT) AS n_seen
         |FROM n_ck n LEFT JOIN ch ON ch.chunk_hash = n.chunk_hash
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the whole training trajectory replays as an unrolled CTE chain
    // (the Lloyd's convention on a classifier): every mistake count
    // and every weight update is integer arithmetic, so each of the
    // six (iter, n_mistakes, w0..w4) rows hash-gates
    // update == rebuild: the oracle is d11's full-graph transitive
    // closure, blind to the base/batch split the Spark side folds
    "d37_cluster_update" -> dedupClustersOracle,
    // the t22 token/bigram CTE spelling; the rank is the integer
    // rational (HUGEINT // == Spark DECIMAL div), ties by the bigram —
    // the exact top-20 cut replays
    "t41_collocations" ->
      """WITH dt AS (
        |  SELECT string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM dt, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
        |  WHERE len(t) >= 2
        |), c2 AS (
        |  SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM dt) GROUP BY 1
        |), nt AS (SELECT count(*) AS n_bigrams FROM bg)
        |SELECT c2.w1, c2.w2, CAST(c2.c_xy AS BIGINT) AS c_xy,
        |  CAST(cx.c AS BIGINT) AS c_x, CAST(cy.c AS BIGINT) AS c_y,
        |  CAST((c2.c_xy::HUGEINT * nt.n_bigrams * 1000000)
        |    // (cx.c::HUGEINT * cy.c) AS BIGINT) AS pmi_micro
        |FROM c2
        |JOIN c1 cx ON cx.w = c2.w1
        |JOIN c1 cy ON cy.w = c2.w2
        |CROSS JOIN nt
        |WHERE c2.c_xy >= 5
        |ORDER BY pmi_micro DESC, c2.w1, c2.w2 LIMIT 20""".stripMargin,
    // same 60-bit md5 priority, same (priority, id) rank — the exact
    // sampled id set replays
    "t40_per_key_sample" ->
      """WITH pri AS (
        |  SELECT source, doc_id,
        |    ('0x' || substr(md5('graft:' || doc_id::VARCHAR), 1, 15))::BIGINT AS p
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY p, doc_id) AS rn
        |  FROM pri
        |)
        |SELECT source, doc_id FROM r WHERE rn <= 5
        |ORDER BY source, doc_id""".stripMargin,
    // the keeper rule is a row_number over a TOTAL order (doc_id,
    // start) per chunk hash, so every per-doc savings integer replays
    "d36_chunk_dedup" ->
      s"""WITH ${cdcChunkCtes("d", "SELECT doc_id, text FROM documents")},
         |r AS (
         |  SELECT doc_id, len,
         |    row_number() OVER (PARTITION BY chunk_hash
         |      ORDER BY doc_id, start) AS rn
         |  FROM d_ck
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(len) AS BIGINT) AS chars,
         |  CAST(sum(CASE WHEN rn = 1 THEN len ELSE 0 END) AS BIGINT) AS chars_kept
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "t38_perceptron_train" -> perceptronTrainOracle(6),
    // training replayed, then one cross join with the 1-row final
    // weights for the margin + sign decision per document
    "t39_perceptron_classify" -> perceptronClassifyOracle(6),
    // replays the per-key KMV: 60-bit md5 hash, k = 16 smallest
    // distinct per source, the (k-1)·2^60 / h_k estimator in HUGEINT
    // (DuckDB // == Spark DECIMAL div) — the d26 convention, per key
    "d32_kmv_by_source" ->
      """WITH tk AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |), h AS (
        |  SELECT DISTINCT source AS key, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
        |  FROM tk WHERE token <> ''
        |), r AS (
        |  SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rn FROM h
        |), sk AS (
        |  SELECT key, h FROM r WHERE rn <= 16
        |), agg AS (
        |  SELECT key, count(*) AS n_sketch, max(h) AS hk FROM sk GROUP BY 1
        |)
        |SELECT key AS source, CAST(n_sketch AS BIGINT) AS n_sketch,
        |  CAST(CASE WHEN n_sketch < 16 THEN n_sketch
        |       ELSE ('17293822569102704640'::HUGEINT // hk::HUGEINT)::BIGINT END
        |    AS BIGINT) AS distinct_est
        |FROM agg ORDER BY source""".stripMargin,
    "d26_kmv_overlap" ->
      """WITH after AS (
        |  SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' amended' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 != 3
        |  UNION ALL
        |  SELECT text FROM documents WHERE doc_id % 13 = 0
        |),
        |ha AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |       FROM documents ORDER BY h LIMIT 128),
        |hb AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |       FROM after ORDER BY h LIMIT 128),
        |merged AS (
        |  SELECT COALESCE(ha.h, hb.h) AS h,
        |    CASE WHEN ha.h IS NULL THEN 0 ELSE 1 END AS in_a,
        |    CASE WHEN hb.h IS NULL THEN 0 ELSE 1 END AS in_b
        |  FROM ha FULL OUTER JOIN hb ON ha.h = hb.h),
        |uk AS (SELECT * FROM merged ORDER BY h LIMIT 128),
        |aagg AS (SELECT count(*) AS na, max(h) AS hamax FROM ha),
        |bagg AS (SELECT count(*) AS nb, max(h) AS hbmax FROM hb),
        |uagg AS (SELECT count(*) AS nu, max(h) AS humax,
        |         sum(in_a * in_b) AS nboth FROM uk)
        |SELECT
        |  CASE WHEN na < 128 THEN na
        |       ELSE (('146421031085069565952'::HUGEINT // hamax::HUGEINT))::BIGINT END AS est_a,
        |  CASE WHEN nb < 128 THEN nb
        |       ELSE (('146421031085069565952'::HUGEINT // hbmax::HUGEINT))::BIGINT END AS est_b,
        |  CASE WHEN nu < 128 THEN nu
        |       ELSE (('146421031085069565952'::HUGEINT // humax::HUGEINT))::BIGINT END AS est_union,
        |  ((nboth * 1000000)::HUGEINT // nu::HUGEINT)::BIGINT AS jaccard_micro,
        |  ((((nboth * 1000000)::HUGEINT // nu::HUGEINT) *
        |    (CASE WHEN nu < 128 THEN nu
        |          ELSE (('146421031085069565952'::HUGEINT // humax::HUGEINT))::BIGINT END)::HUGEINT)
        |   // 1000000)::BIGINT AS est_intersection
        |FROM uagg, aagg, bagg""".stripMargin,
    // the oracle is the UNFILTERED cross join: a candidate the Ed-Join
    // prefix filter loses is a missing row, so the hash gate pins
    // completeness of the pruning, not just precision of the verify
    "d27_fuzzy_pairs" ->
      s"""WITH $fuzzyCatalogCtes
         |SELECT d.did AS id_a, c.id AS id_b,
         |  levenshtein(d.ds, c.s) AS dist
         |FROM dirty d JOIN cat c ON levenshtein(d.ds, c.s) <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    // the indexed serve is gated by the SAME unfiltered cross join as
    // d27: stored-order prefixes must lose nothing
    "d29_fuzzy_indexed" ->
      s"""WITH $fuzzyCatalogCtes
         |SELECT d.did AS id_a, c.id AS id_b,
         |  levenshtein(d.ds, c.s) AS dist
         |FROM dirty d JOIN cat c ON levenshtein(d.ds, c.s) <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    // the native JaroWinklerSim expression's DuckDB-exact semantics,
    // hash-gated over every candidate pair; round(6) before the rank
    // in both engines so the winner is a pure function of the gated
    // score
    "d30_jw_rank" ->
      s"""WITH $fuzzyCatalogCtes,
         |pairs AS (
         |  SELECT d.did AS id_a, d.ds, c.id AS id_b, c.s
         |  FROM dirty d JOIN cat c ON levenshtein(d.ds, c.s) <= 2)
         |SELECT id_a, id_b AS match_id, jw FROM (
         |  SELECT id_a, id_b, floor((jaro_winkler_similarity(ds, s)) * 1000000 + 0.5) / 1000000 AS jw,
         |    row_number() OVER (PARTITION BY id_a
         |      ORDER BY floor((jaro_winkler_similarity(ds, s)) * 1000000 + 0.5) / 1000000 DESC, id_b) AS rn
         |  FROM pairs) t
         |WHERE rn = 1 ORDER BY id_a""".stripMargin,
    "d28_entity_match" ->
      s"""WITH $fuzzyCatalogCtes
         |SELECT id_a, id_b AS match_id, dist, n_candidates FROM (
         |  SELECT d.did AS id_a, c.id AS id_b,
         |    levenshtein(d.ds, c.s) AS dist,
         |    count(*) OVER (PARTITION BY d.did) AS n_candidates,
         |    row_number() OVER (PARTITION BY d.did
         |      ORDER BY levenshtein(d.ds, c.s), c.id) AS rn
         |  FROM dirty d JOIN cat c ON levenshtein(d.ds, c.s) <= 2) t
         |WHERE rn = 1 ORDER BY id_a""".stripMargin,
    // forget(artifact, ids) == rebuild over the surviving corpus: every
    // pair mentioning a taken-down id must be gone
    "d24_pair_graph_forget" ->
      s"""WITH $ngramJaccardCtes
         |SELECT id_a, id_b, jaccard FROM jpairs
         |WHERE id_a % 11 != 7 AND id_b % 11 != 7
         |ORDER BY id_a, id_b""".stripMargin,
    "d05_embedding_dups" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,
    // batch-touching pairs only: new-vs-corpus in (new, corpus)
    // orientation plus new-vs-new ordered — never corpus-vs-corpus
    "d08_embedding_dups_new" ->
      """WITH n AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |     c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 != 0)
        |SELECT id_a, id_b, sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim
        |  FROM n a JOIN c b
        |    ON list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        |  UNION ALL
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |   AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        |) t ORDER BY id_a, id_b""".stripMargin,
    "s01_sim_topk" ->
      """SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 DESC,
        |               b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        |  WHERE a.vec_id < 20) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the d'=16 prefix slice replayed in SQL — exact within the
    // truncated space, so the whole cheap-stage scoring is hash-gated
    "s09_trunc_topk" ->
      """SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    floor((list_cosine_similarity((a.embedding::DOUBLE[])[1:16], (b.embedding::DOUBLE[])[1:16])) * 1000000 + 0.5) / 1000000 AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY floor((list_cosine_similarity((a.embedding::DOUBLE[])[1:16], (b.embedding::DOUBLE[])[1:16])) * 1000000 + 0.5) / 1000000 DESC,
        |               b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        |  WHERE a.vec_id < 20) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the oracle replays the TWO-STAGE algorithm itself: top-64
    // candidates in the 16-dim prefix space (same round(6) + id tie
    // order as the Spark candidate stage), then full-width rerank of
    // just those — no recall assumption anywhere, so the gate holds on
    // any embedding distribution
    "s10_trunc_rerank" ->
      """WITH cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY floor((list_cosine_similarity((a.embedding::DOUBLE[])[1:16], (b.embedding::DOUBLE[])[1:16])) * 1000000 + 0.5) / 1000000 DESC,
        |                 b.vec_id) AS crank
        |    FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        |    WHERE a.vec_id < 20) t
        |  WHERE crank <= 64
        |)
        |SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT c.query_id, c.neighbor_id,
        |    floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 DESC,
        |               c.neighbor_id) AS rank
        |  FROM cand c
        |  JOIN embeddings a ON a.vec_id = c.query_id
        |  JOIN embeddings b ON b.vec_id = c.neighbor_id) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the label constraint joins in BEFORE ranking (pre-filter
    // semantics) — same shape as s01 plus the equality predicate
    "s08_filtered_topk" ->
      """SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS sim,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 DESC,
        |               b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id != b.vec_id AND a.label = b.label
        |  WHERE a.vec_id < 20) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // the recall joins replay in SQL as exact-top-k ⋈ exact-top-k: at the
    // registered gate parameters the approximate candidate set provably
    // (IVF: structurally; LSH: saturating tables) contains every exact
    // pair, so any Spark-side recall < 1.0 hash-mismatches the oracle
    "s02_lsh_recall" -> annRecallOracle,
    "s03_ivf_recall" -> annRecallOracle,
    // md5-ordered codebook, rounded argmax assignment (ties -> smallest
    // centroid id), within-cluster pairs, threshold on the RAW cosine
    "s04_semantic_dedup" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), cb AS (
        |  SELECT vec_id AS centroid_id, e AS ce FROM v
        |  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, vec_id
        |  LIMIT 16
        |), assign AS (
        |  SELECT vec_id, e, centroid_id FROM (
        |    SELECT v.vec_id, v.e, cb.centroid_id,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY floor((list_cosine_similarity(v.e, cb.ce)) * 1000000 + 0.5) / 1000000 DESC, cb.centroid_id) AS rn
        |    FROM v, cb) t
        |  WHERE rn = 1
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  floor((list_cosine_similarity(a.e, b.e)) * 1000000 + 0.5) / 1000000 AS sim
        |FROM assign a JOIN assign b
        |  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.e, b.e) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,
    "t02_text_analyze" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n_tokens,
        |    length(text) AS n_chars,
        |    length(regexp_replace(text, '[^.!?]', '', 'g')) AS n_punct,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, n_tokens, n_chars, n_punct,
        |    CASE WHEN n_tokens = 0 THEN 0.0
        |         ELSE len(list_filter(toks, x -> x IN
        |                ('the','a','an','and','or','of','to','in','is','it')))
        |              / CAST(n_tokens AS DOUBLE) END AS stop_ratio
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, n_chars, n_punct,
        |  floor(stop_ratio * 1e6) / 1e6 AS stopword_ratio,
        |  floor((least(n_chars / 500.0, 1.0) * 0.5
        |       + least(n_punct * 10.0 / greatest(n_tokens, 1), 1.0) * 0.2
        |       + least(stop_ratio * 5.0, 1.0) * 0.3) * 1e6) / 1e6 AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    "t07_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+|[ ]+')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t01_text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n_tokens,
        |  length(text) AS len_chars,
        |  length(regexp_replace(text, '[^.!?]', '', 'g')) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t03_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks WHERE token <> '' GROUP BY token ORDER BY token""".stripMargin,
    // The oracle reads PARQUET; the Spark side routed through ORC — a
    // hash match proves the round trip preserved values and types.
    "j03_csv_roundtrip" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j04_jsonl_roundtrip" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "j02_orc_roundtrip" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Replays the tEXt payload values (pure id arithmetic) — the BYTES
    // are proven by the Spark side's CRC-verified chunk parse.
    "m05_png_meta" ->
      """WITH tags AS (
        |  SELECT doc_id AS media_id, 'source' AS key,
        |    'src_' || (doc_id % 7)::VARCHAR AS value FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'license', 'cc' || (doc_id % 3)::VARCHAR FROM documents
        |)
        |SELECT media_id, key, value FROM tags ORDER BY media_id, key""".stripMargin,
    "e06_interval_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts
        |  FROM events WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, epoch_us(ts) AS vts FROM events WHERE event_type = 'view'
        |)
        |SELECT c.event_id, c.user_id, c.ts, count(v.vts) AS n_views_1h
        |FROM clicks c LEFT JOIN views v
        |  ON v.user_id = c.user_id
        | AND v.vts >= c.ts - 3600000000 AND v.vts <= c.ts
        |GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin,
    // JDK Normalizer and DuckDB utf8proc both implement Unicode
    // canonical composition; both engines count string length in
    // CODEPOINTS, so composing e+U+0301 into é shrinks len by exactly 1.
    "t18_nfc" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text || ' cafe' || chr(769)
        |         ELSE text END AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |  length(raw) AS len_raw,
        |  length(nfc_normalize(raw)) AS len_nfc,
        |  CAST(CASE WHEN nfc_normalize(raw) <> raw THEN 1 ELSE 0 END AS BIGINT) AS changed
        |FROM r ORDER BY doc_id""".stripMargin,
    // At saturating capacity the space-saving sketch IS the exact count:
    // the oracle replays it as plain top-k token frequencies with err 0.
    "t17_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |)
        |SELECT token, count(*) AS est, CAST(0 AS BIGINT) AS err
        |FROM toks WHERE token <> ''
        |GROUP BY token ORDER BY est DESC, token LIMIT 15""".stripMargin,
    // t16 plus the rationalized dl/avgdl saturation (avgdl in
    // centi-tokens); HUGEINT intermediates are exact, output cast back.
    "t19_bm25_dl" ->
      """WITH q AS (
        |  SELECT unnest(['dup','spark','vector','merge']) AS token
        |), dt AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS dl,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, dl, unnest(w) AS token FROM dt
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
        |  FROM toks JOIN q USING (token) GROUP BY 1, 2
        |), df AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dt
        |), w2 AS (
        |  SELECT tf.doc_id,
        |    ((6 * ((n.sum_dl * 100) // n.n_docs) * tf.tf * 1000000)
        |      // (2 * ((n.sum_dl * 100) // n.n_docs) * tf.tf
        |          + ((n.sum_dl * 100) // n.n_docs) + 3 * tf.dl * 100)) AS sat,
        |    least(1000000000,
        |      (1000000 * (2 * n.n_docs - 2 * df.df + 1)) // (2 * df.df + 1)) AS idf
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |)
        |SELECT doc_id, CAST(sum((sat * idf) // 1000000) AS BIGINT) AS score
        |FROM w2 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // Replays TextOps.bm25TopK's integer-rational BM25 exactly: DuckDB's
    // flooring // equals Spark's truncating div on the all-positive
    // operands, so score is bit-identical with no float anywhere.
    "t16_bm25" ->
      """WITH q AS (
        |  SELECT unnest(['dup','spark','vector','merge']) AS token
        |), toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM toks JOIN q USING (token) GROUP BY 1, 2
        |), df AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), w AS (
        |  SELECT tf.doc_id,
        |    (((tf.tf * 3000000) // (tf.tf + 2))
        |     * least(1000000000, (1000000 * (2 * n.n_docs - 2 * df.df + 1))
        |                         // (2 * df.df + 1))) // 1000000 AS contrib
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |)
        |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
        |FROM w GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // t36 is t16 served from the persisted inverted index; the oracle
    // is t16's from-scratch SQL UNCHANGED — the hash gate therefore
    // pins serve(index) == from-scratch across the artifact round trip
    "t36_bm25_indexed" ->
      """WITH q AS (
        |  SELECT unnest(['dup','spark','vector','merge']) AS token
        |), toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM toks JOIN q USING (token) GROUP BY 1, 2
        |), df AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), w AS (
        |  SELECT tf.doc_id,
        |    (((tf.tf * 3000000) // (tf.tf + 2))
        |     * least(1000000000, (1000000 * (2 * n.n_docs - 2 * df.df + 1))
        |                         // (2 * df.df + 1))) // 1000000 AS contrib
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |)
        |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score
        |FROM w GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // Replays syntheticWav + extractAudioFrames: regenerate the PCM
    // samples from the same (id, i) arithmetic the WAV payload carries,
    // window into 256-sample frames, and recompute energy / frame-local
    // sign flips / peak — integers end to end.
    "m04_audio_frames" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents
        |), samp AS (
        |  SELECT id, i.i AS i,
        |    ((id * 31 + i.i * 17) % 65536) - 32768 AS s
        |  FROM ids, LATERAL (SELECT unnest(range(0, 512 + id % 384)) AS i) i
        |), f AS (
        |  SELECT id, i // 256 AS frame_idx, i, s,
        |    lag(s) OVER (PARTITION BY id ORDER BY i) AS prev
        |  FROM samp
        |)
        |SELECT id AS media_id, frame_idx,
        |  count(*) AS n_samples,
        |  CAST(sum(s * s) AS BIGINT) AS energy,
        |  CAST(count(*) FILTER (WHERE i % 256 <> 0 AND (prev < 0) <> (s < 0)) AS BIGINT)
        |    AS zero_crossings,
        |  CAST(max(abs(s)) AS BIGINT) AS peak
        |FROM f GROUP BY 1, 2 ORDER BY media_id, frame_idx""".stripMargin,
    "t09_hash_split" -> hashSplitOracle,
    "t45_redact_extended" -> t45RedactExtendedOracle,
    // replays the full page-skeleton injection, then the four-stage
    // extraction chain: script/style/comment block removal, tag strip,
    // decimal-Latin-1 + named-core entity decode (amp LAST), whitespace
    // collapse. RE2 `(?is)` + non-greedy only, so both engines run the
    // same automaton; the list-transform mirrors Spark's split-on-'&#'
    // decode including trailing-empty and malformed-tail behavior.
    "t46_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<!DOCTYPE html>' || chr(10) || '<html lang="en">' || chr(10) || '<head>' || chr(10)
        |    || '<title>Doc ' || doc_id::VARCHAR || '</title>' || chr(10)
        |    || '<style type="text/css">body { color: #fff; } /* a > b */</style>' || chr(10)
        |    || '<script>if (1 < 2 && 2 > 1) { var s = "<p>not content</p>"; }</script>' || chr(10)
        |    || '</head>' || chr(10) || '<body>' || chr(10)
        |    || '<h1 class="t">Doc &quot;' || doc_id::VARCHAR || '&quot; &#'
        |    || (65 + doc_id % 26)::VARCHAR || ';</h1>' || chr(10)
        |    || '<!-- hidden ' || doc_id::VARCHAR || ' -->' || chr(10)
        |    || '<p>' || text || '</p>' || chr(10)
        |    || '<p>Tom&nbsp;&amp; Jerry &lt;tag&gt; &#169; id ' || doc_id::VARCHAR
        |    || ' &#999; &amp;lt; &#; x&#</p>' || chr(10) || '</body>' || chr(10) || '</html>' AS html
        |  FROM documents
        |), s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS x FROM h
        |), s2 AS (SELECT doc_id, regexp_replace(x, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS x FROM s1
        |), s3 AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM s2
        |), s4 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', ' ', 'g') AS x FROM s3
        |), sp AS (SELECT doc_id, string_split(x, '&#') AS p FROM s4
        |), nd AS (
        |  SELECT doc_id,
        |    p[1] || array_to_string(list_transform(p[2:], q ->
        |      CASE WHEN regexp_extract(q, '^([0-9]{1,3});', 1) <> ''
        |                AND CAST(regexp_extract(q, '^([0-9]{1,3});', 1) AS INT) BETWEEN 1 AND 255
        |           THEN chr(CAST(regexp_extract(q, '^([0-9]{1,3});', 1) AS INT))
        |                || q[length(regexp_extract(q, '^([0-9]{1,3});', 1)) + 2:]
        |           ELSE '&#' || q END), '') AS x
        |  FROM sp
        |), ne AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(x,
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&') AS x
        |  FROM nd
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(x, '[ \t\n\f\r]+', ' ', 'g')) AS extracted,
        |  CAST(length(trim(regexp_replace(x, '[ \t\n\f\r]+', ' ', 'g'))) AS BIGINT) AS n_chars
        |FROM ne ORDER BY doc_id""".stripMargin,
    "t10_redact" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    text || ' contact: user' || doc_id::VARCHAR || '@example.com or +1 (555) 123-'
        |      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |      || ' at 10.0.' || (doc_id % 256)::VARCHAR || '.7' AS text
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM withpii
        |), s2 AS (
        |  SELECT doc_id, text, t1,
        |    regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2
        |  FROM s1
        |)
        |SELECT doc_id,
        |  regexp_replace(t2, '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}'))
        |    + len(regexp_extract_all(t2, '\+?[0-9][0-9()\-. ]{6,}[0-9]')) AS n_pii
        |FROM s2 ORDER BY doc_id""".stripMargin,
    // 8-token window segmentation (list slice clamps at the tail like
    // Spark's slice), df over DISTINCT docs, drop df>=3 lines, ordered
    // reassembly; coalesce('') because string_agg over zero kept lines
    // is NULL where Spark's concat_ws over an empty array is ''
    "t12_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w FROM documents
        |), lines AS (
        |  SELECT doc_id, i.i AS pos,
        |    array_to_string(w[i.i*8+1 : i.i*8+8], ' ') AS line
        |  FROM toks, LATERAL (SELECT unnest(range(0, CAST(ceil(greatest(len(w), 1)/8.0) AS BIGINT))) AS i) i
        |), df AS (
        |  SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line
        |)
        |SELECT doc_id,
        |  coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE line_df < 3), '') AS cleaned,
        |  count(*) AS n_lines,
        |  CAST(count(*) FILTER (WHERE line_df >= 3) AS BIGINT) AS n_removed
        |FROM lines JOIN df USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t08_oov_rate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, token FROM toks WHERE token <> ''
        |), top AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS tf FROM t GROUP BY token
        |    ORDER BY tf DESC, token LIMIT 10)
        |)
        |SELECT doc_id,
        |  CAST(count(*) - count(top.token) AS BIGINT) AS n_oov,
        |  floor((count(*) - count(top.token)) / CAST(count(*) AS DOUBLE) * 1e6) / 1e6 AS oov_rate
        |FROM t LEFT JOIN top ON t.token = top.token
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // sliding 5-gram positions, df over DISTINCT docs, interval
    // coverage [p, p+4], anti-join surviving tokens, ordered reassembly
    "t14_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\f\r]+') AS w FROM documents
        |), tok AS (
        |  SELECT doc_id, i.i AS pos, w[i.i + 1] AS t
        |  FROM toks, LATERAL (SELECT unnest(range(0, len(w))) AS i) i
        |  WHERE w[i.i + 1] <> ''
        |), grams AS (
        |  SELECT doc_id, i.i AS pos, array_to_string(w[i.i+1 : i.i+5], ' ') AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(0, greatest(len(w) - 4, 0))) AS i) i
        |), rep AS (
        |  SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |), cov AS (
        |  SELECT DISTINCT g.doc_id, g.pos + o.o AS pos
        |  FROM grams g JOIN rep USING (gram),
        |    LATERAL (SELECT unnest(range(0, 5)) AS o) o
        |), kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.t
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |  WHERE cov.pos IS NULL
        |), agg AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS cleaned, count(*) AS n_kept
        |  FROM kept GROUP BY doc_id
        |), base AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT base.doc_id, coalesce(agg.cleaned, '') AS cleaned, base.n_tokens,
        |  base.n_tokens - coalesce(agg.n_kept, 0) AS n_removed
        |FROM base LEFT JOIN agg ON base.doc_id = agg.doc_id
        |ORDER BY base.doc_id""".stripMargin,
    // ordinary SQL running total; the Spark side must reproduce it with
    // its two-phase distributed scan exactly
    "t13_token_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 512 AS BIGINT) AS shard
        |FROM t ORDER BY doc_id""".stripMargin,
    "e05_funnel" ->
      """WITH v AS (SELECT user_id, ts, event_id AS view_id FROM events WHERE event_type = 'view'),
        |     c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |cv AS (
        |  SELECT c.user_id AS user_id, c.ts AS ts, c.click_id, v.view_id
        |  FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
        |),
        |pc AS (
        |  SELECT p.user_id AS user_id, cv.view_id
        |  FROM p ASOF LEFT JOIN cv ON p.user_id = cv.user_id AND p.ts >= cv.ts
        |)
        |SELECT user_id, count(*) AS n_funnels FROM pc WHERE view_id IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // epoch-ns is non-negative, so Spark's truncating div == DuckDB //
    "e07_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), fd AS (
        |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1
        |)
        |SELECT fd.cohort_day // 7 AS cohort_week,
        |  (ev.day - fd.cohort_day) // 7 AS week_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN fd USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    // RANGE frame on the integer hour so calendar gaps count as zero
    // traffic; integer cross-multiply for the spike decision
    "e10_spike_detection" ->
      """WITH c AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT event_type, hour, cnt,
        |    coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY hour
        |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS baseline,
        |    min(hour) OVER (PARTITION BY event_type) AS min_hour
        |  FROM c
        |)
        |SELECT event_type, hour, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(baseline AS BIGINT) AS baseline,
        |  CAST(CASE WHEN cnt * 24 > baseline * 2 THEN 1 ELSE 0 END AS BIGINT) AS spike
        |FROM b WHERE hour >= min_hour + 24
        |ORDER BY event_type, hour""".stripMargin,
    // one lag window per user (ts, event_id tie-break), then the tiny
    // type-pair aggregate; COUNT(*) is BIGINT in both engines
    "e08_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |)
        |SELECT prev_type, event_type, count(*) AS n
        |FROM seq WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin,
    // layered running minima over the same (user, ts, event_id) sort —
    // strictly-after semantics and tie handling are identical by
    // construction (ROWS frame, unique order key); times epoch-nanos
    "e11_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS t,
        |    CASE WHEN event_type = 'view' THEN epoch_ns(ts) END AS view_t
        |  FROM events
        |), l1 AS (
        |  SELECT *, min(view_t) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vrun FROM e
        |), l2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND t > vrun THEN t END AS click_t
        |  FROM l1
        |), l3 AS (
        |  SELECT *, min(click_t) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crun FROM l2
        |), l4 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND t > crun THEN t END AS purchase_t
        |  FROM l3
        |)
        |SELECT user_id, min(view_t) AS first_view, min(click_t) AS first_click,
        |  min(purchase_t) AS first_purchase,
        |  CAST(CASE WHEN min(purchase_t) IS NOT NULL THEN 3
        |       WHEN min(click_t) IS NOT NULL THEN 2
        |       WHEN min(view_t) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM l4 GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q13's islands with a (ts, event_id) tie-break (paths depend on
    // order), path via ordered string_agg, deterministic top-20
    "e09_session_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
        |         OR lag(epoch_ns(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), paths AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sessions GROUP BY user_id, session_id
        |)
        |SELECT path, count(*) AS n_sessions FROM paths
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "j01_json_extract" ->
      """SELECT event_type, count(*) AS cnt, CAST(sum(k) AS BIGINT) AS sum_k FROM (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events) t
        |WHERE k > 50 GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e01_event_windows" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS window_hour, event_type,
        |  count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_hour, event_type""".stripMargin,
    "e02_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     views  AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view')
        |SELECT c.event_id AS event_id, c.user_id AS user_id, epoch_us(c.ts) AS click_us,
        |  v.event_id AS view_event_id, v.value AS view_value
        |FROM clicks c ASOF LEFT JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY event_id""".stripMargin,
    // win_start base is an explicit FLOORED multiple of the slide
    // (x - pmod(x, s)); DuckDB's integer // truncates toward zero like
    // Spark's div, so a bare // would shift pre-1970 windows on both
    // engines — the floor matches streaming window() semantics instead
    "e04_sliding" ->
      """SELECT epoch_ns(ts) - ((epoch_ns(ts) % 900000000000) + 900000000000) % 900000000000
        |    - k * 900000000000 AS win_start, event_type,
        |  count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, (SELECT unnest(range(0,4)) AS k) t
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "e03_asof_forward" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     views  AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view')
        |SELECT c.event_id AS event_id, c.user_id AS user_id, epoch_us(c.ts) AS click_us,
        |  v.event_id AS view_event_id, v.value AS view_value
        |FROM clicks c ASOF LEFT JOIN views v ON c.user_id = v.user_id AND c.ts <= v.ts
        |ORDER BY event_id""".stripMargin,
    "m01_media_features" ->
      """SELECT doc_id AS media_id, 'image' AS media_type, strlen(text) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    // replays syntheticRaster + the nearest-neighbor floor mapping: the
    // resized pixel (x, y) of doc d reads source pixel
    // (x*sw // 10, y*sh // 6) of the (d, x, y) mod-arithmetic raster;
    // checksum = sum(rgb * (pos+1)) over row-major pos, mod 1e9+7
    // (exact: the 60-pixel sum fits far inside BIGINT, so sum-then-mod
    // equals Spark's mod-accumulate)
    "m02_media_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS sw, 8 + doc_id % 5 AS sh FROM documents
        |), px AS (
        |  SELECT doc_id, yy.y * 10 + xx.x AS pos,
        |      ((doc_id*31 + ((xx.x * sw) // 10)*7 + ((yy.y * sh) // 6)*13) % 256) * 65536
        |    + ((doc_id*17 + ((xx.x * sw) // 10)*11 + ((yy.y * sh) // 6)*5) % 256) * 256
        |    + ((doc_id*13 + ((xx.x * sw) // 10)*3 + ((yy.y * sh) // 6)*19) % 256) AS rgb
        |  FROM dims,
        |    (SELECT unnest(range(0, 10)) AS x) xx,
        |    (SELECT unnest(range(0, 6)) AS y) yy
        |)
        |SELECT doc_id AS media_id, CAST(10 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
        |  CAST(sum(rgb * (pos + 1)) % 1000000007 AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,
    "m03_frame_sample" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS sw, 8 + doc_id % 5 AS sh,
        |    2 + doc_id % 3 AS nf
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, sw, sh, ff.f AS f
        |  FROM dims, LATERAL (SELECT unnest(range(0, nf)) AS f) ff
        |  WHERE ff.f % 2 = 0
        |), px AS (
        |  SELECT doc_id, f, sw, sh, yy.y * sw + xx.x AS pos,
        |      ((doc_id*31 + f*23 + xx.x*7 + yy.y*13) % 256) * 65536
        |    + ((doc_id*17 + f*29 + xx.x*11 + yy.y*5) % 256) * 256
        |    + ((doc_id*13 + f*37 + xx.x*3 + yy.y*19) % 256) AS rgb
        |  FROM fr,
        |    LATERAL (SELECT unnest(range(0, sw)) AS x) xx,
        |    LATERAL (SELECT unnest(range(0, sh)) AS y) yy
        |)
        |SELECT doc_id AS media_id, f AS frame_idx, sw AS width, sh AS height,
        |  CAST(sum(rgb * (pos + 1)) % 1000000007 AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id, f, sw, sh ORDER BY media_id, frame_idx""".stripMargin,
    // per-FRAME rasters (m03 arithmetic) → 8x8 nearest-neighbor dHash
    // grid (m06 arithmetic) → consecutive xor/bit_count: pixels to
    // cuts, fully replayed
    "m08_shot_boundaries" ->
      s"""WITH $frameDhashCtes
        |SELECT a.media_id, CAST(a.frame_idx AS BIGINT) AS frame_idx,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
        |  CAST(CASE WHEN bit_count(xor(a.dhash, b.dhash)) >= 10
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_boundary
        |FROM fdh a JOIN fdh b
        |  ON b.media_id = a.media_id AND b.frame_idx = a.frame_idx - 1
        |ORDER BY a.media_id, a.frame_idx""".stripMargin,
    // Same chain, then lag → start marks → running start-count: shot
    // segmentation AND representative choice replayed end to end.
    "m11_keyframes" ->
      s"""WITH $frameDhashCtes, lagged AS (
        |  SELECT media_id, frame_idx, dhash,
        |    lag(dhash) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
        |  FROM fdh
        |), marked AS (
        |  SELECT media_id, frame_idx,
        |    CASE WHEN prev IS NULL THEN 1
        |         WHEN bit_count(xor(prev, dhash)) >= 10 THEN 1 ELSE 0 END AS is_start
        |  FROM lagged
        |), shots AS (
        |  SELECT media_id, frame_idx, is_start,
        |    sum(is_start) OVER (PARTITION BY media_id ORDER BY frame_idx) - 1 AS shot_id
        |  FROM marked
        |)
        |SELECT media_id, CAST(shot_id AS BIGINT) AS shot_id,
        |  CAST(frame_idx AS BIGINT) AS frame_idx
        |FROM shots WHERE is_start = 1
        |ORDER BY media_id, frame_idx""".stripMargin,
    "t04_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
        |         ELSE array_to_string(w[i.i:i.i+2], ' ') END AS shingle
        |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i) i
        |)
        |SELECT doc_id, min(md5(shingle)) AS fingerprint
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d06_fingerprint_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
        |         ELSE array_to_string(w[i.i:i.i+2], ' ') END AS shingle
        |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i) i
        |), fp AS (
        |  SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
        |)
        |SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS cnt
        |FROM fp GROUP BY fingerprint HAVING count(*) > 1 ORDER BY keep_id""".stripMargin,
    "t05_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n_tokens,
        |    length(regexp_replace(text, '[^.!?]', '', 'g')) AS n_punct,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, n_tokens, n_punct, length(text) AS n_chars,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE len(list_filter(toks, x -> x IN
        |                ('the','a','an','and','or','of','to','in','is','it')))
        |              / CAST(len(toks) AS DOUBLE) END AS stop_ratio
        |  FROM t
        |)
        |SELECT doc_id,
        |  floor((least(n_chars / 500.0, 1.0) * 0.5
        |       + least(n_punct * 10.0 / greatest(n_tokens, 1), 1.0) * 0.2
        |       + least(stop_ratio * 5.0, 1.0) * 0.3) * 1e6) / 1e6 AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    // Replays TextOps.langIdScored: per-language marker-token hits over
    // whitespace tokens of lower(text) (plus zh substring occurrences
    // over the raw text), argmax with ties to the LARGEST language code
    // (Spark's greatest over struct(h, lang)), 'en' when nothing hits.
    // The CASE chain below is that tie-break unrolled: zh>fr>es>en>de.
    "t15_langid" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS w
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_filter(w, x -> x IN ('the','and','of','is','with','for'))) AS h_en,
        |    len(list_filter(w, x -> x IN ('der','die','und','ist','nicht','mit'))) AS h_de,
        |    len(list_filter(w, x -> x IN ('le','la','les','est','et','dans'))) AS h_fr,
        |    len(list_filter(w, x -> x IN ('el','los','es','y','con','para'))) AS h_es,
        |    len(list_filter(w, x -> x IN ('的','是','在','了','和','我')))
        |      + (length(text) - length(replace(text, '的', '')))
        |      + (length(text) - length(replace(text, '是', '')))
        |      + (length(text) - length(replace(text, '在', '')))
        |      + (length(text) - length(replace(text, '了', '')))
        |      + (length(text) - length(replace(text, '和', '')))
        |      + (length(text) - length(replace(text, '我', ''))) AS h_zh
        |  FROM t
        |), m AS (
        |  SELECT doc_id, h_en, h_de, h_fr, h_es, h_zh,
        |    greatest(h_en, h_de, h_fr, h_es, h_zh) AS mx
        |  FROM s
        |)
        |SELECT doc_id,
        |  CASE WHEN mx <= 0 THEN 'en'
        |       WHEN h_zh = mx THEN 'zh'
        |       WHEN h_fr = mx THEN 'fr'
        |       WHEN h_es = mx THEN 'es'
        |       WHEN h_en = mx THEN 'en'
        |       ELSE 'de' END AS lang_pred,
        |  CAST(mx AS BIGINT) AS hits
        |FROM m ORDER BY doc_id""".stripMargin,
    // the t15 marker CASE chain applied PER LINE over the injected
    // multi-line corpus; doc majority = (count desc, lang desc) argmax
    // (Spark's max(struct(c, lang)) tie-break), mixed = >1 distinct
    // line label per doc
    "t47_langid_lines" ->
      """WITH base AS (
        |  SELECT doc_id, text || chr(10) ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'der und die ist mit nicht der und'
        |         WHEN doc_id % 4 = 1 THEN 'le la les est et dans le la'
        |         WHEN doc_id % 4 = 2 THEN 'el los es y con para el los'
        |         ELSE 'the and of is with for the and' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'les est et dans la le' ELSE '' END AS text
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM base
        |), l AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS pos, ls[CAST(i.i + 1 AS INT)] AS line
        |  FROM ln, LATERAL (SELECT unnest(range(0, len(ls))) AS i) i
        |), t AS (
        |  SELECT doc_id, pos, line,
        |    string_split_regex(trim(lower(line)), '[ \t\n\f\r]+') AS w
        |  FROM l
        |), s AS (
        |  SELECT doc_id, pos,
        |    len(list_filter(w, x -> x IN ('the','and','of','is','with','for'))) AS h_en,
        |    len(list_filter(w, x -> x IN ('der','die','und','ist','nicht','mit'))) AS h_de,
        |    len(list_filter(w, x -> x IN ('le','la','les','est','et','dans'))) AS h_fr,
        |    len(list_filter(w, x -> x IN ('el','los','es','y','con','para'))) AS h_es,
        |    len(list_filter(w, x -> x IN ('的','是','在','了','和','我')))
        |      + (length(line) - length(replace(line, '的', '')))
        |      + (length(line) - length(replace(line, '是', '')))
        |      + (length(line) - length(replace(line, '在', '')))
        |      + (length(line) - length(replace(line, '了', '')))
        |      + (length(line) - length(replace(line, '和', '')))
        |      + (length(line) - length(replace(line, '我', ''))) AS h_zh
        |  FROM t
        |), m AS (
        |  SELECT doc_id, pos, h_en, h_de, h_fr, h_es, h_zh,
        |    greatest(h_en, h_de, h_fr, h_es, h_zh) AS mx
        |  FROM s
        |), pl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN mx <= 0 THEN 'en'
        |         WHEN h_zh = mx THEN 'zh'
        |         WHEN h_fr = mx THEN 'fr'
        |         WHEN h_es = mx THEN 'es'
        |         WHEN h_en = mx THEN 'en'
        |         ELSE 'de' END AS line_lang,
        |    CAST(mx AS BIGINT) AS line_hits
        |  FROM m
        |), cnt AS (
        |  SELECT doc_id, line_lang AS lng, count(*) AS c FROM pl GROUP BY 1, 2
        |), mj AS (
        |  SELECT doc_id, lng AS doc_lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lng DESC) AS rn
        |  FROM cnt
        |), mxl AS (
        |  SELECT doc_id, doc_lang FROM mj WHERE rn = 1
        |), mixed AS (
        |  SELECT doc_id, count(DISTINCT lng) > 1 AS is_mixed FROM cnt GROUP BY doc_id
        |)
        |SELECT pl.doc_id, pl.pos, pl.line_lang, pl.line_hits,
        |  mxl.doc_lang, mixed.is_mixed
        |FROM pl JOIN mxl USING (doc_id) JOIN mixed USING (doc_id)
        |ORDER BY pl.doc_id, pl.pos""".stripMargin,
    // t47's chain with the line text carried through; survivors
    // reassembled in pos order (string_agg FILTER, coalesce '' for the
    // no-survivor edge, the t12 convention), drops counted per doc
    "t47b_line_filter" ->
      """WITH base AS (
        |  SELECT doc_id, text || chr(10) ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'der und die ist mit nicht der und'
        |         WHEN doc_id % 4 = 1 THEN 'le la les est et dans le la'
        |         WHEN doc_id % 4 = 2 THEN 'el los es y con para el los'
        |         ELSE 'the and of is with for the and' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'les est et dans la le' ELSE '' END AS text
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM base
        |), l AS (
        |  SELECT doc_id, CAST(i.i AS BIGINT) AS pos, ls[CAST(i.i + 1 AS INT)] AS line
        |  FROM ln, LATERAL (SELECT unnest(range(0, len(ls))) AS i) i
        |), t AS (
        |  SELECT doc_id, pos, line,
        |    string_split_regex(trim(lower(line)), '[ \t\n\f\r]+') AS w
        |  FROM l
        |), s AS (
        |  SELECT doc_id, pos, line,
        |    len(list_filter(w, x -> x IN ('the','and','of','is','with','for'))) AS h_en,
        |    len(list_filter(w, x -> x IN ('der','die','und','ist','nicht','mit'))) AS h_de,
        |    len(list_filter(w, x -> x IN ('le','la','les','est','et','dans'))) AS h_fr,
        |    len(list_filter(w, x -> x IN ('el','los','es','y','con','para'))) AS h_es,
        |    len(list_filter(w, x -> x IN ('\u7684','\u662f','\u5728','\u4e86','\u548c','\u6211')))
        |      + (length(line) - length(replace(line, '\u7684', '')))
        |      + (length(line) - length(replace(line, '\u662f', '')))
        |      + (length(line) - length(replace(line, '\u5728', '')))
        |      + (length(line) - length(replace(line, '\u4e86', '')))
        |      + (length(line) - length(replace(line, '\u548c', '')))
        |      + (length(line) - length(replace(line, '\u6211', ''))) AS h_zh
        |  FROM t
        |), m AS (
        |  SELECT doc_id, pos, line, h_en, h_de, h_fr, h_es, h_zh,
        |    greatest(h_en, h_de, h_fr, h_es, h_zh) AS mx
        |  FROM s
        |), pl AS (
        |  SELECT doc_id, pos, line,
        |    CASE WHEN mx <= 0 THEN 'en'
        |         WHEN h_zh = mx THEN 'zh'
        |         WHEN h_fr = mx THEN 'fr'
        |         WHEN h_es = mx THEN 'es'
        |         WHEN h_en = mx THEN 'en'
        |         ELSE 'de' END AS line_lang
        |  FROM m
        |), cnt AS (
        |  SELECT doc_id, line_lang AS lng, count(*) AS c FROM pl GROUP BY 1, 2
        |), mj AS (
        |  SELECT doc_id, lng AS doc_lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lng DESC) AS rn
        |  FROM cnt
        |), mxl AS (
        |  SELECT doc_id, doc_lang FROM mj WHERE rn = 1
        |)
        |SELECT pl.doc_id,
        |  coalesce(string_agg(pl.line, chr(10) ORDER BY pl.pos)
        |    FILTER (WHERE pl.line_lang = mxl.doc_lang), '') AS cleaned,
        |  mxl.doc_lang,
        |  CAST(count(*) FILTER (WHERE pl.line_lang <> mxl.doc_lang) AS BIGINT) AS n_dropped
        |FROM pl JOIN mxl USING (doc_id)
        |GROUP BY pl.doc_id, mxl.doc_lang
        |ORDER BY pl.doc_id""".stripMargin,
    // Replays the five Gopher rules with the same micro-unit truncating
    // division (all operands non-negative, so DuckDB // == Spark div).
    "t20_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n_words,
        |    length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) AS nonws,
        |    len(regexp_extract_all(text, '#|\.\.\.|…')) AS sym,
        |    string_split_regex(trim(text), '[ \t\n\f\r]+') AS raw_toks,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (nonws * 1000000) // n_words END AS mwl_micro,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (sym * 1000000) // n_words END AS sym_micro,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (len(list_filter(raw_toks,
        |                x -> regexp_matches(x, '[A-Za-z]'))) * 1000000)
        |              // n_words END AS alpha_micro,
        |    len(list_intersect(toks,
        |      ['the','a','an','and','or','of','to','in','is','it'])) AS stop_hits
        |  FROM t
        |)
        |SELECT doc_id, n_words,
        |  CAST(mwl_micro AS BIGINT) AS mwl_micro,
        |  CAST(sym_micro AS BIGINT) AS sym_micro,
        |  CAST(alpha_micro AS BIGINT) AS alpha_micro,
        |  CAST(stop_hits AS BIGINT) AS stop_hits,
        |  CAST(CASE WHEN n_words BETWEEN 30 AND 100000
        |             AND mwl_micro BETWEEN 3000000 AND 10000000
        |             AND sym_micro <= 100000
        |             AND alpha_micro >= 800000
        |             AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // t20's metric CTEs + the ordered first-failing-rule CASE chain
    "t42_filter_reasons" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '[ \t\n\f\r]+')) END AS n_words,
        |    length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) AS nonws,
        |    len(regexp_extract_all(text, '#|\.\.\.|…')) AS sym,
        |    string_split_regex(trim(text), '[ \t\n\f\r]+') AS raw_toks,
        |    string_split_regex(trim(lower(text)), '[ \t\n\f\r]+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (nonws * 1000000) // n_words END AS mwl_micro,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (sym * 1000000) // n_words END AS sym_micro,
        |    CASE WHEN n_words = 0 THEN 0
        |         ELSE (len(list_filter(raw_toks,
        |                x -> regexp_matches(x, '[A-Za-z]'))) * 1000000)
        |              // n_words END AS alpha_micro,
        |    len(list_intersect(toks,
        |      ['the','a','an','and','or','of','to','in','is','it'])) AS stop_hits
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN n_words BETWEEN 30 AND 100000
        |             AND mwl_micro BETWEEN 3000000 AND 10000000
        |             AND sym_micro <= 100000
        |             AND alpha_micro >= 800000
        |             AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep,
        |  CASE WHEN n_words < 30 THEN 'too_few_words'
        |       WHEN n_words > 100000 THEN 'too_many_words'
        |       WHEN mwl_micro < 3000000 OR mwl_micro > 10000000 THEN 'word_length'
        |       WHEN sym_micro > 100000 THEN 'symbol_ratio'
        |       WHEN alpha_micro < 800000 THEN 'alpha_ratio'
        |       WHEN stop_hits < 2 THEN 'stopwords'
        |       ELSE 'keep' END AS reason
        |FROM m ORDER BY doc_id""".stripMargin,
    // counts + integer share + the QUALIFY cut, same total order
    "t44_source_terms" ->
      """WITH stoks AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '[ \t\n\f\r]+')) AS token
        |  FROM documents
        |), stok2 AS (
        |  SELECT source, token FROM stoks WHERE token <> ''
        |), bysrc AS (
        |  SELECT source, token, count(*) AS tf_source FROM stok2 GROUP BY 1, 2
        |), gtot AS (
        |  SELECT token, CAST(sum(tf_source) AS BIGINT) AS tf_global
        |  FROM bysrc GROUP BY 1
        |), scored AS (
        |  SELECT b.source, b.token, b.tf_source, g.tf_global,
        |    (b.tf_source * 1000000) // g.tf_global AS share_micro
        |  FROM bysrc b JOIN gtot g USING (token)
        |  WHERE b.tf_source >= 5
        |)
        |SELECT source, token, tf_source, tf_global,
        |  CAST(share_micro AS BIGINT) AS share_micro
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY share_micro DESC, tf_source DESC, token ASC) <= 10
        |ORDER BY source, share_micro DESC, tf_source DESC, token""".stripMargin,
    // Regenerates the same id-derived URLs, then replays
    // UrlOps.canonicalizeUrl / registrableDomain with the identical
    // RE2 regexes and the same utm_* query-param filter.
    "t21_url_domains" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'www.'
        |         WHEN doc_id % 4 = 1 THEN 'WWW.' ELSE '' END ||
        |    'site' || (doc_id % 23)::VARCHAR ||
        |    CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
        |         ELSE '.net' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
        |    '/p/' || doc_id::VARCHAR ||
        |    CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN '?utm_source=feed&id=' || doc_id::VARCHAR
        |         ELSE '?id=' || doc_id::VARCHAR END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END AS url
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, url,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(
        |        regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS kept_qs
        |  FROM u
        |), c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url,
        |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      ':443$', ''), ':80$', '')
        |    || regexp_replace(regexp_extract(url,
        |         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
        |    || CASE WHEN kept_qs = '' THEN '' ELSE '?' || kept_qs END
        |      AS url_canon
        |  FROM q
        |), d AS (
        |  SELECT doc_id, url_canon,
        |    regexp_replace(lower(regexp_extract(url_canon,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
        |      '^www\.', '') AS domain
        |  FROM c
        |)
        |SELECT doc_id, url_canon, domain,
        |  count(*) OVER (PARTITION BY domain) AS dom_docs
        |FROM d ORDER BY doc_id""".stripMargin,
    // replays anchor-href extraction with the same RE2 pattern, then
    // the t21 canonicalize/domain SQL fragments per link; pos indexes
    // ALL extracted anchors (the empty href occupies pos 2 and is then
    // filtered, exactly as the Spark side posexplodes before filtering)
    "t48_html_links" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><body><p>intro</p><a class="x" href="'
        |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
        |    || 'site' || (doc_id % 23)::VARCHAR
        |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
        |    || '/a/' || doc_id::VARCHAR
        |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
        |    || '">one</a><p>mid</p><a HREF = "'
        |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
        |    || '">two</a><a href='''
        |    || 'https://site' || (doc_id % 11)::VARCHAR || '.org/c/' || doc_id::VARCHAR
        |    || '''>three</a><a href='
        |    || 'HTTPS://WWW.Site' || (doc_id % 13)::VARCHAR || '.NET/d/' || doc_id::VARCHAR
        |    || '?utm_x=1&z=' || (doc_id % 3)::VARCHAR
        |    || ' class=z>four</a><a href="">anchor</a></body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id,
        |    regexp_extract_all(html,
        |      '(?is)<a\b[^>]*?href\s*=\s*("[^"]*"|''[^'']*''|[^\s"''>]+)[^>]*>', 1) AS ls
        |  FROM h
        |), l AS (
        |  SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos, ls[CAST(i.i AS INT)] AS href0
        |  FROM ex, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i
        |), lq AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN starts_with(href0, '"') OR starts_with(href0, '''')
        |      THEN substr(href0, 2, length(href0) - 2) ELSE href0 END AS href
        |  FROM l
        |), f AS (
        |  SELECT * FROM lq WHERE href <> ''
        |), q AS (
        |  SELECT doc_id, pos, href,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(
        |        regexp_replace(href, '#.*$', ''), '\?([^#]*)', 1), '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS kept_qs
        |  FROM f
        |), c AS (
        |  SELECT doc_id, pos, href,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(href,
        |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      ':443$', ''), ':80$', '')
        |    || regexp_replace(regexp_extract(href,
        |         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
        |    || CASE WHEN kept_qs = '' THEN '' ELSE '?' || kept_qs END
        |      AS url_canon
        |  FROM q
        |)
        |SELECT doc_id, pos, href, url_canon,
        |  regexp_replace(lower(regexp_extract(url_canon,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
        |    '^www\.', '') AS domain
        |FROM c ORDER BY doc_id, pos""".stripMargin,
    // the t48 chain + (source, domain) rollup: link and distinct-page
    // counts per crawl-prioritization cell
    "t51_link_graph" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    '<html><body><p>intro</p><a class="x" href="'
        |    || 'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
        |    || 'site' || (doc_id % 23)::VARCHAR
        |    || CASE (doc_id % 3) WHEN 0 THEN '.com' WHEN 1 THEN '.org' ELSE '.net' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
        |    || '/a/' || doc_id::VARCHAR
        |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&q=1' ELSE '?q=1' END
        |    || '">one</a><p>mid</p><a HREF = "'
        |    || 'HTTP://site' || (doc_id % 7)::VARCHAR || '.com:80/b/' || doc_id::VARCHAR || '#frag'
        |    || '">two</a><a href="">anchor</a></body></html>' AS html
        |  FROM documents
        |), ex AS (
        |  SELECT doc_id, source,
        |    regexp_extract_all(html, '(?is)<a\b[^>]*?href\s*=\s*"([^"]*)"[^>]*>', 1) AS ls
        |  FROM h
        |), f AS (
        |  SELECT doc_id, source, unnest(ls) AS href FROM ex
        |), fe AS (
        |  SELECT * FROM f WHERE href <> ''
        |), c AS (
        |  SELECT doc_id, source,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(href,
        |        '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
        |      ':443$', ''), ':80$', '') AS schemehost
        |  FROM fe
        |)
        |SELECT source,
        |  regexp_replace(lower(regexp_extract(schemehost,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
        |    '^www\.', '') AS domain,
        |  CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
        |FROM c
        |GROUP BY 1, 2
        |ORDER BY source, domain""".stripMargin,
    // Retrains the bigram/unigram/vocab counts and replays the add-one
    // micro-unit arithmetic; DuckDB's flooring // on non-negative
    // operands == Spark's truncating div, and sum(BIGINT)'s HUGEINT
    // widening is cast back.
    "t22_bigram_lm" ->
      s"""WITH $bigramLmCtes
         |SELECT doc_id, n_bigrams, lm_micro
         |FROM lmscored ORDER BY doc_id""".stripMargin,
    // both LM chains retrained from scratch (tg_ = English-trained,
    // cp_ = self-trained), importance = integer difference
    "t31_dsir_weights" ->
      s"""WITH ${bigramLmScoredCtes("tg_", "WHERE lang = 'en'")},
         |${bigramLmScoredCtes("cp_", "")}
         |SELECT t.doc_id, t.n_bigrams,
         |  t.lm_micro AS lm_target_micro,
         |  c.lm_micro AS lm_corpus_micro,
         |  t.lm_micro - c.lm_micro AS importance_micro
         |FROM tg_lmscored t JOIN cp_lmscored c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // every Aho-Corasick count replayed as replace()-arithmetic — the
    // exact greedy non-overlap contract, per (doc, pattern)
    "t32_blocklist" ->
      """WITH pats(pattern_id, pattern) AS (VALUES
        |  (0, 'fast'), (1, 'fast table'), (2, 'table table'),
        |  (3, 'a a'), (4, 'value part'), (5, 'slow filter'))
        |SELECT doc_id, pattern_id, pattern,
        |  (length(text) - length(replace(text, pattern, ''))) // length(pattern) AS cnt
        |FROM documents, pats
        |WHERE (length(text) - length(replace(text, pattern, ''))) // length(pattern) > 0
        |ORDER BY doc_id, pattern_id""".stripMargin,
    // literal ntile(3) vs the Spark side's histogram-prefix-sum rank
    // assembly — the gate proves the distributed spelling IS ntile
    "t24_perplexity_buckets" ->
      s"""WITH $bigramLmCtes
         |SELECT l.doc_id, d.lang, l.lm_micro,
         |  CAST(ntile(3) OVER (PARTITION BY d.lang
         |    ORDER BY l.lm_micro DESC, l.doc_id) AS BIGINT) AS bucket
         |FROM lmscored l JOIN documents d USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup"    -> d01ExactDedup _,
    "d02_ngram_jaccard"  -> d02NgramJaccard _,
    "d09_ngram_jaccard_ppjoin" -> d09NgramJaccardPpjoin _,
    "d03_minhash_pairs"  -> d03MinhashPairs _,
    "d21_minhash_wide"   -> d21MinhashWide _,
    "d22_pair_graph"     -> d22PairGraph _,
    "d23_pair_graph_update" -> d23PairGraphUpdate _,
    "d24_pair_graph_forget" -> d24PairGraphForget _,
    "d25_corpus_diff"    -> d25CorpusDiff _,
    "d26_kmv_overlap"    -> d26KmvOverlap _,
    "d27_fuzzy_pairs"    -> d27FuzzyPairs _,
    "d28_entity_match"   -> d28EntityMatch _,
    "d29_fuzzy_indexed"  -> d29FuzzyIndexed _,
    "d30_jw_rank"        -> d30JwRank _,
    "d04_simhash_pairs"  -> d04SimhashPairs _,
    "d10_simhash_pairs_md5" -> d10SimhashPairsMd5 _,
    "d11_dedup_clusters" -> d11DedupClusters _,
    "d19_cluster_dedup"  -> d19ClusterDedup _,
    "d20_cluster_reps"   -> d20ClusterReps _,
    "d12_contamination"  -> d12Contamination _,
    "d40_contamination_bloom" -> d40ContaminationBloom _,
    "t11_repetition"     -> t11Repetition _,
    "t12_line_dedup"     -> t12LineDedup _,
    "t13_token_shards"   -> t13TokenShards _,
    "t14_span_dedup"     -> t14SpanDedup _,
    "d05_embedding_dups" -> d05EmbeddingDups _,
    "d08_embedding_dups_new" -> d08EmbeddingDupsNew _,
    "s01_sim_topk"       -> s01SimTopK _,
    "s08_filtered_topk"  -> s08FilteredTopK _,
    "s09_trunc_topk"     -> s09TruncTopK _,
    "s10_trunc_rerank"   -> s10TruncRerank _,
    "s02_lsh_recall"     -> s02LshRecall _,
    "s03_ivf_recall"     -> s03IvfRecall _,
    "s04_semantic_dedup" -> s04SemanticDedup _,
    "s05_kmeans_codebook" -> s05KmeansCodebook _,
    "s06_pq_codes"       -> s06PqCodes _,
    "s21_ivfpq_codes"    -> s21IvfPqCodes _,
    "s07_sq_codes"       -> s07SqCodes _,
    "t01_text_stats"     -> t01TextStats _,
    "t07_bpe_tokens"     -> t07BpeTokens _,
    "t02_text_analyze"   -> t02TextAnalyze _,
    "t03_vocab"          -> t03Vocab _,
    "t08_oov_rate"       -> t08OovRate _,
    "t09_hash_split"     -> t09HashSplit _,
    "t10_redact"         -> t10Redact _,
    "t45_redact_extended" -> t45RedactExtended _,
    "t46_html_extract"   -> t46HtmlExtract _,
    "t47_langid_lines"   -> t47LangIdLines _,
    "t47b_line_filter"   -> t47bLineFilter _,
    "t48_html_links"     -> t48HtmlLinks _,
    "t52_robots"         -> t52Robots _,
    "t52b_robots_wildcards" -> t52bRobotsWildcards _,
    "t53_warc_records"   -> t53WarcRecords _,
    "t54_anchor_terms"   -> t54AnchorTerms _,
    "t55_crawl_frontier" -> t55CrawlFrontier _,
    "t55b_frontier_indexed" -> t55bFrontierIndexed _,
    "t65b_keywords_indexed" -> t65bKeywordsIndexed _,
    "t66_recrawl_schedule" -> t66RecrawlSchedule _,
    "t56_fetch_schedule" -> t56FetchSchedule _,
    "e05_funnel"         -> e05Funnel _,
    "e07_cohort_retention" -> e07CohortRetention _,
    "e08_transitions"    -> e08Transitions _,
    "e09_session_paths"  -> e09SessionPaths _,
    "e11_funnel"         -> e11Funnel _,
    "t40_per_key_sample" -> t40PerKeySample _,
    "t41_collocations"   -> t41Collocations _,
    "e10_spike_detection" -> e10SpikeDetection _,
    "j01_json_extract"   -> j01JsonExtract _,
    "e01_event_windows"  -> e01EventWindows _,
    "e02_asof_join"      -> e02AsofJoin _,
    "e03_asof_forward"   -> e03AsofForward _,
    "e04_sliding"        -> e04Sliding _,
    "t04_fingerprint"    -> t04Fingerprint _,
    "t05_quality"        -> t05Quality _,
    "t15_langid"         -> t15LangId _,
    "t16_bm25"           -> t16Bm25 _,
    "t36_bm25_indexed"   -> t36Bm25Indexed _,
    "t17_heavy_hitters"  -> t17HeavyHitters _,
    "t18_nfc"            -> t18Nfc _,
    "t19_bm25_dl"        -> t19Bm25Dl _,
    "t20_gopher_rules"   -> t20GopherRules _,
    "t42_filter_reasons" -> t42FilterReasons _,
    "t43_curation_funnel" -> t43CurationFunnel _,
    "t44_source_terms"   -> t44SourceTerms _,
    "t21_url_domains"    -> t21UrlDomains _,
    "t22_bigram_lm"      -> t22BigramLm _,
    "t24_perplexity_buckets" -> t24PerplexityBuckets _,
    "t25_bpe_merges"     -> t25BpeMerges _,
    "t28_seq_pack"       -> t28SeqPack _,
    "t29_bpe_encode"     -> t29BpeEncode _,
    "t29b_byte_bpe_encode" -> t29bByteBpeEncode _,
    "t49_bpe_indexed"    -> t49BpeIndexed _,
    "t50_sentences"      -> t50Sentences _,
    "t51_link_graph"     -> t51LinkGraph _,
    "t30_vocab_coverage" -> t30VocabCoverage _,
    "t31_dsir_weights"   -> t31DsirWeights _,
    "t32_blocklist"      -> t32Blocklist _,
    "s11_linear_probe"   -> s11LinearProbe _,
    "s12_hybrid_rrf"     -> s12HybridRrf _,
    "s13_mmr_rerank"     -> s13MmrRerank _,
    "s14_cluster_mixture" -> s14ClusterMixture _,
    "s19_silhouette" -> s19Silhouette _,
    "s15_embedding_drift" -> s15EmbeddingDrift _,
    "s16_triplet_mine"   -> s16TripletMine _,
    "s17_random_projection" -> s17RandomProjection _,
    "s18_proj_rerank"    -> s18ProjRerank _,
    "t26_chunk_windows"  -> t26ChunkWindows _,
    "t27_novelty"        -> t27Novelty _,
    "g01_pagerank"       -> g01PageRank _,
    "g08_pagerank_converged" -> g08PageRankConverged _,
    "g03_pagerank_weighted" -> g03PageRankWeighted _,
    "g10_domain_pagerank" -> g10DomainPagerank _,
    "g11_hits"           -> g11Hits _,
    "g12_hits_converged" -> g12HitsConverged _,
    "g13_rank_update" -> g13RankUpdate _,
    "g02_triangles"      -> g02Triangles _,
    "g04_link_predict"   -> g04LinkPredict _,
    "g05_communities"    -> g05Communities _,
    "g09_communities_converged" -> g09CommunitiesConverged _,
    "g06_pagerank_seeded" -> g06PagerankSeeded _,
    "g07_communities_weighted" -> g07CommunitiesWeighted _,
    "d38_dup_profile"    -> d38DupProfile _,
    "d39_pair_histogram" -> d39PairHistogram _,
    "s20_mean_pool"      -> s20MeanPool _,
    "e12_join_skew"      -> e12JoinSkew _,
    "e13_rfm"            -> e13Rfm _,
    "d13_containment"    -> d13Containment _,
    "e06_interval_join"  -> e06IntervalJoin _,
    "d14_drop_contained" -> d14DropContained _,
    "d06_fingerprint_dedup" -> d06FingerprintDedup _,
    "d07_simhash_md5"    -> d07SimhashMd5 _,
    "t06_weighted_sample" -> t06WeightedSample _,
    "m01_media_features" -> m01MediaFeatures _,
    "m02_media_resize"   -> m02MediaResize _,
    "m03_frame_sample"   -> m03FrameSample _,
    "m08_shot_boundaries" -> m08ShotBoundaries _,
    "m04_audio_frames"   -> m04AudioFrames _,
    "m05_png_meta"       -> m05PngMeta _,
    "m06_image_dhash"    -> m06ImageDhash _,
    "d15_image_dhash_pairs" -> d15ImageDhashPairs _,
    "m07_audio_fingerprint" -> m07AudioFingerprint _,
    "m09_audio_quality"  -> m09AudioQuality _,
    "m10_image_quality"  -> m10ImageQuality _,
    "m12_jpeg_decode"    -> m12JpegDecode _,
    "m13_jpeg_resize"    -> m13JpegResize _,
    "m14_container_meta" -> m14ContainerMeta _,
    "m15_audio_normalize" -> m15AudioNormalize _,
    "m16_audio_trim"     -> m16AudioTrim _,
    "t57_page_meta"      -> t57PageMeta _,
    "t58_domain_reputation" -> t58DomainReputation _,
    "t59_phrase_search"  -> t59PhraseSearch _,
    "t60_sitemap"        -> t60Sitemap _,
    "t60b_sitemap_index" -> t60bSitemapIndex _,
    "t60c_sitemap_tree" -> t60cSitemapTree _,
    "t61_proximity"      -> t61Proximity _,
    "t62_tfidf_cosine"   -> t62TfidfCosine _,
    "t62b_tfidf_indexed" -> t62bTfidfIndexed _,
    "t63_epoch_alloc"    -> t63EpochAlloc _,
    "t64_domain_boilerplate" -> t64DomainBoilerplate _,
    "t65_doc_keywords"   -> t65DocKeywords _,
    "d16_audio_fp_pairs" -> d16AudioFpPairs _,
    "d17_url_dedup"      -> d17UrlDedup _,
    "d18_image_dhash_new" -> d18ImageDhashNew _,
    "t23_domain_mixture" -> t23DomainMixture _,
    "t33_temperature_mixture" -> t33TemperatureMixture _,
    "d31_leakage_split" -> d31LeakageSplit _,
    "t34_cms_counts" -> t34CmsCounts _,
    "t35_hist_quantiles" -> t35HistQuantiles _,
    "t37_hist_by_source" -> t37HistBySource _,
    "d32_kmv_by_source" -> d32KmvBySource _,
    "d33_cdc_chunks" -> d33CdcChunks _,
    "d34_cdc_shifted" -> d34CdcShifted _,
    "d35_chunk_provenance" -> d35ChunkProvenance _,
    "d36_chunk_dedup" -> d36ChunkDedup _,
    "d37_cluster_update" -> d37ClusterUpdate _,
    "t38_perceptron_train" -> t38PerceptronTrain _,
    "t39_perceptron_classify" -> t39PerceptronClassify _,
    "m11_keyframes" -> m11Keyframes _,
    "j02_orc_roundtrip"  -> j02OrcRoundtrip _,
    "j03_csv_roundtrip"  -> j03CsvRoundtrip _,
    "j04_jsonl_roundtrip" -> j04JsonlRoundtrip _,
  )
}
