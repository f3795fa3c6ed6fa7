package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.graftShingles
import graft.ops.Num.round6

/** Deduplication operators for training-data pipelines, smallest-shuffle
  * designs:
  *
  *  - exact: one hash-groupBy (map-side partial agg; the 256-bit hash,
  *    not the document text, is what shuffles);
  *  - n-gram Jaccard: shingle → explode → self-join on shingle →
  *    per-pair intersection counts → Jaccard (exact, the verifier for
  *    the approximate paths);
  *  - MinHash + LSH banding: k seeded min-hashes per doc computed in ONE
  *    groupBy pass, bands hashed, candidates = equi-join on
  *    (band, bandHash) — the classic shingle→minhash→band→bucket-join,
  *    all codegen'd built-ins, shuffle keyed on band hash so it scales
  *    to billions of documents;
  *  - SimHash: 64-bit sign-sum fingerprint in one groupBy (64 partial
  *    sums), near-dups = fingerprints within Hamming distance d (banded
  *    by 16-bit chunks so the self-join is an equi-join, not a cross).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** One representative (min doc_id) per distinct text + duplicate count.
    * Grouping key is sha2(text) so only 32 bytes per doc shuffle.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** The deduplicated documents themselves (row_number=1 per hash). */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact pairwise Jaccard similarity over word n-gram sets, for all
    * pairs with Jaccard ≥ minJaccard (a < b).
    *
    * Two physically different but result-identical strategies:
    *
    *  - `prefixFilter = false` (default): inverted-index self-join —
    *    explode distinct shingles, join on shingle, count matches per
    *    pair, |A∪B| = |A|+|B|-|A∩B|. Three shuffles; optimal when the
    *    shingle document-frequency distribution is flat (no join key
    *    explodes) as on the synthetic test corpus.
    *  - `prefixFilter = true`: PPJoin-style prefix filtering (Bayardo
    *    et al., "Scaling Up All Pairs Similarity Search", WWW'07). The
    *    scale path for REAL text, whose df distribution is zipfian: a
    *    boilerplate shingle shared by a million docs puts 10¹² rows on
    *    one join key in the naive plan. Under a global ascending-df
    *    token order, a pair with J ≥ t must share a token in the first
    *    |X| - ⌈t·|X|⌉ + 1 tokens of BOTH ordered sets, so only each
    *    doc's RAREST shingles enter the join — the high-df keys never
    *    do. Candidates are length-filtered in the join condition, then
    *    verified exactly with one codegen'd array_intersect per pair.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      prefixFilter: Boolean = false, broadcastDf: Boolean = false,
      dfTable: Option[DataFrame] = None): DataFrame = {
    if (prefixFilter) ngramJaccardPrefix(docs, n, minJaccard, textCol, idCol, broadcastDf, dfTable)
    else {
      // setSize rides the exploded rows (8 bytes per shingle instance)
      // and survives the pair groupBy as a grouping key — it is
      // functionally dependent on the id — so NO per-doc sizes table
      // needs joining back after the pair count (two fewer joins; same
      // trick the prefix-filter strategy uses)
      val sets = docs.select(col(idCol).as("id"), graftShingles(col(textCol), n).as("set"))
      val sh = sets.select(col("id"), size(col("set")).cast("long").as("setSize"),
        explode(col("set")).as("shingle"))
      val a = sh.as("a"); val b = sh.as("b")
      a.join(b, col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.setSize").as("size_a"), col("b.setSize").as("size_b"))
        .agg(count(lit(1)).as("interSize"))
        .withColumn("jaccard",
          col("interSize").cast("double") / (col("size_a") + col("size_b") - col("interSize")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), round6(col("jaccard")).as("jaccard"))
    }
  }

  /** Asymmetric n-gram CONTAINMENT pairs: `|A∩B| / |A|` (and `/ |B|`)
    * rather than Jaccard — the quote/inclusion detector. A short doc
    * pasted inside a long one has tiny Jaccard (the union is dominated
    * by the long doc) but containment ≈ 1.0 in one direction, which is
    * exactly the near-superset case symmetric dedup misses. Same
    * inverted-index self-join plan as [[ngramJaccardPairs]]' default
    * strategy (sizes ride the exploded rows; one pair groupBy), same
    * single-IEEE-division + round(6) comparison the oracle replays;
    * pairs survive when EITHER direction clears `minContainment`.
    * `prefixFilter = true` switches to the asymmetric PPJoin strategy
    * (see [[ngramContainmentPrefix]]) — the zipfian-corpus scale path,
    * identical output.
    */
  def ngramContainmentPairs(docs: DataFrame, n: Int = 3, minContainment: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      prefixFilter: Boolean = false, broadcastDf: Boolean = false,
      dfTable: Option[DataFrame] = None): DataFrame = {
    if (prefixFilter)
      ngramContainmentPrefix(docs, n, minContainment, textCol, idCol, broadcastDf, dfTable)
    else {
      val sets = docs.select(col(idCol).as("id"), graftShingles(col(textCol), n).as("set"))
      val sh = sets.select(col("id"), size(col("set")).cast("long").as("setSize"),
        explode(col("set")).as("shingle"))
      val a = sh.as("a"); val b = sh.as("b")
      a.join(b, col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.setSize").as("size_a"), col("b.setSize").as("size_b"))
        .agg(count(lit(1)).as("interSize"))
        .withColumn("cont_a_in_b", col("interSize").cast("double") / col("size_a"))
        .withColumn("cont_b_in_a", col("interSize").cast("double") / col("size_b"))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minContainment)
        .select(col("id_a"), col("id_b"),
          round6(col("cont_a_in_b")).as("cont_a_in_b"),
          round6(col("cont_b_in_a")).as("cont_b_in_a"))
    }
  }

  /** The drop policy over [[ngramContainmentPairs]] output: a doc
    * contained in another (either direction ≥ t) is dropped in favor
    * of its superset — near-equal pairs (both directions ≥ t) keep the
    * SMALLEST id (the d-family convention). The drop set is the union
    * of per-pair decisions, so a doc contained in an itself-dropped
    * superset still goes (deterministic, no chain-order dependence);
    * consequently no surviving pair has both endpoints kept (pinned in
    * ExtSpec). One anti-join; pairs are the expensive input and arrive
    * precomputed.
    */
  def dropContained(docs: DataFrame, pairs: DataFrame, minContainment: Double,
      idCol: String = "doc_id"): DataFrame = {
    val t = minContainment
    val drops = pairs.select(
      when(col("cont_a_in_b") >= t && col("cont_b_in_a") >= t,
          greatest(col("id_a"), col("id_b")))
        .when(col("cont_a_in_b") >= t, col("id_a"))
        .otherwise(col("id_b")).as("drop_id"))
      .distinct()
    docs.join(drops, docs(idCol) === drops("drop_id"), "left_anti")
  }

  /** Prefix-filter strategy of [[ngramContainmentPairs]] — the
    * ASYMMETRIC PPJoin: `cont(A in B) ≥ t` forces `|A∩B| ≥ ⌈t·|A|⌉`,
    * so A shares a token inside its rarest
    * `|A| − ⌈t·|A|⌉ + 1` prefix under the global df order — and that
    * token is in B's FULL set by definition. Joining every doc's
    * prefix against every doc's full token list therefore finds each
    * qualifying pair in the direction where the CONTAINED side is the
    * probe; running all ids as probes covers both directions in one
    * join. Unlike the symmetric Jaccard prefix join, the index side
    * must stay un-pruned (a containing superset can be arbitrarily
    * large, so no length filter applies either) — the saving is that
    * high-df boilerplate never enters from the PROBE side, which is
    * what explodes on zipfian corpora. Candidates verify exactly with
    * one array_intersect per pair (twin-equality with the naive
    * strategy pinned in ExtSpec).
    */
  private def ngramContainmentPrefix(docs: DataFrame, n: Int, t: Double,
      textCol: String, idCol: String,
      broadcastDf: Boolean, dfTable: Option[DataFrame]): DataFrame = {
    val sets = docs.select(col(idCol).as("id"), graftShingles(col(textCol), n).as("set"))
      .withColumn("setSize", size(col("set")).cast("long"))
    val prefix = prefixStage(sets, t, broadcastDf, dfTable)
    val full = sets.select(col("id"), explode(col("set")).as("shingle"))
    val cand = prefix.as("a").join(full.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a"),
        col("setSize").as("size_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b"),
        col("setSize").as("size_b")), "id_b")
      .withColumn("interSize", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("cont_a_in_b", col("interSize").cast("double") / col("size_a"))
      .withColumn("cont_b_in_a", col("interSize").cast("double") / col("size_b"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= t)
      .select(col("id_a"), col("id_b"),
        round6(col("cont_a_in_b")).as("cont_a_in_b"),
        round6(col("cont_b_in_a")).as("cont_b_in_a"))
  }

  /** PPJoin strategy of [[ngramJaccardPairs]] (see its scaladoc). */
  private def ngramJaccardPrefix(docs: DataFrame, n: Int, t: Double,
      textCol: String, idCol: String,
      broadcastDf: Boolean, dfTable: Option[DataFrame]): DataFrame = {
    val sets = docs.select(col(idCol).as("id"), graftShingles(col(textCol), n).as("set"))
      .withColumn("setSize", size(col("set")).cast("long"))
    val prefix = prefixStage(sets, t, broadcastDf, dfTable)
    val tLoose = t - 1e-9
    val a = prefix.as("a"); val b = prefix.as("b")
    val cand = a.join(b, col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id")
        && least(col("a.setSize"), col("b.setSize")).cast("double") >=
           lit(tLoose) * greatest(col("a.setSize"), col("b.setSize")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sets, t)
  }

  /** The PPJoin prefix stage: for each doc (id, setSize, set) keep only
    * the |X| - ⌈t·|X|⌉ + 1 globally-RAREST shingles — the only rows
    * that enter the candidate self-join. This is what makes the
    * strategy zipfian-safe: a boilerplate shingle's document frequency
    * puts it at the END of every doc's rarity order, so it lands in a
    * prefix only for docs with almost no rarer shingles; its join-key
    * fan-in collapses from n (every doc) to those few rows. Exposed
    * `private[graft]` so ExtSpec can pin exactly that property on a
    * fixture with an injected boilerplate shingle.
    *
    * Pre-filters must be CONSERVATIVE: a pair dropped here never reaches
    * the exact verification, so fp round-up in t*size (e.g. 0.07*100 →
    * 7.0000000000000009, ceil → 8) must not shrink a prefix or fail the
    * length test for a pair the naive strategy keeps. Nudging t down by
    * an epsilon only ever lengthens prefixes / admits borderline pairs —
    * extra candidates are discarded by verifyJaccard's exact filter.
    *
    * Shuffle profile of the df lookup: by default `sh` sort-merge-joins
    * the freq table on shingle — two exchanges of the exploded rows
    * before the (unavoidable) per-doc window exchange on id. When the
    * distinct-shingle vocabulary is known to be modest
    * (`broadcastDf = true`), freq broadcasts instead and the join is a
    * narrow BroadcastHashJoin: the ONLY exchange of `sh` in the whole
    * stage is the window's hash-partition on id (exchange count pinned
    * in PlanSpec). And because exact global df is a corpus-level
    * artifact a production pipeline reuses across ingest batches, a
    * precomputed `(shingle, df)` table (e.g. read back from parquet —
    * t03Vocab's `df` column is exactly this under a rename) can be
    * passed as `dfTable`, skipping the groupBy recompute entirely.
    * The df lookup is a LEFT join with missing df coalesced to
    * Long.MaxValue: a stale/subset table (exactly what a
    * new-vocabulary ingest batch produces against a persisted corpus
    * df) then only REORDERS the rarity sort — unknown shingles sort
    * LAST but stay joinable, so no sh row is ever dropped and the
    * prefix stays conservative under ANY consistent (shingle, df)
    * assignment. PPJoin's recall needs only that both self-join sides
    * share one total token order, which they do (one shared `prefix`
    * plan); rarity vs. an exact df is purely the performance heuristic
    * (subset-safety pinned in ExtSpec: a df table missing half the
    * vocabulary yields the identical pair set).
    */
  private[graft] def prefixStage(sets: DataFrame, t: Double,
      broadcastDf: Boolean = false, dfTable: Option[DataFrame] = None): DataFrame = {
    val tLoose = t - 1e-9
    val sh = sets.select(col("id"), col("setSize"), explode(col("set")).as("shingle"))
    val freq = dfTable.getOrElse(sh.groupBy("shingle").agg(count(lit(1)).as("df")))
    val prefixLen = greatest(lit(1),
      (col("setSize") - ceil(lit(tLoose) * col("setSize")) + 1).cast("int"))
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(coalesce(col("df"), lit(Long.MaxValue)), col("shingle"))
    sh.join(if (broadcastDf) broadcast(freq) else freq, Seq("shingle"), "left")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= prefixLen)
      .select(col("id"), col("setSize"), col("shingle"))
  }

  /** The exact global shingle document-frequency table `(shingle, df)`
    * the PPJoin prefix orders by — exposed so a pipeline can compute it
    * once, persist it (plain parquet), and feed it back to
    * [[ngramJaccardPairs]] as `dfTable` on every subsequent batch
    * instead of re-aggregating the corpus per invocation.
    */
  def shingleDfTable(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol).as("id"), explode(graftShingles(col(textCol), n)).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
  }

  /** [[verifyJaccard]] joining raw `(id, txt)` text instead of
    * precomputed shingle sets, with graftShingles evaluated ABOVE the
    * joins: Catalyst does not push computed projections below a join,
    * so only the candidate-sized survivors are ever shingled — the
    * verify shape for the indexed incremental path, where the corpus
    * must contribute a scan + id hash join and nothing more. (A doc in
    * many pairs re-shingles per pair; candidates are batch-bucket-
    * sized, so that duplication is far cheaper than a corpus pass.)
    */
  private def verifyJaccardFromText(cand: DataFrame, texts: DataFrame,
      n: Int, t: Double): DataFrame =
    cand
      .join(texts.select(col("id").as("id_a"), col("txt").as("_ta")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("txt").as("_tb")), "id_b")
      .withColumn("set_a", graftShingles(col("_ta"), n))
      .withColumn("set_b", graftShingles(col("_tb"), n))
      .withColumn("size_a", size(col("set_a")).cast("long"))
      .withColumn("size_b", size(col("set_b")).cast("long"))
      .withColumn("interSize", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("interSize").cast("double") / (col("size_a") + col("size_b") - col("interSize")))
      .filter(col("jaccard") >= t)
      .select(col("id_a"), col("id_b"), round6(col("jaccard")).as("jaccard"))

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * per-doc sorted shingle sets: one array_intersect per pair.
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame, t: Double): DataFrame =
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a"),
        col("setSize").as("size_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b"),
        col("setSize").as("size_b")), "id_b")
      .withColumn("interSize", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("interSize").cast("double") / (col("size_a") + col("size_b") - col("interSize")))
      .filter(col("jaccard") >= t)
      .select(col("id_a"), col("id_b"), round6(col("jaccard")).as("jaccard"))

  // --------------------------------------------------------- MinHash LSH

  /** k seeded min-hash values per document: minhash_i = min over
    * shingles of xxhash64(seed_i, shingle), computed by the one-pass
    * native [[graft.functions.MinHashes]] expression — a NARROW map over
    * the shingle array. The signature stage therefore shuffles nothing;
    * the earlier explode → 32-way min groupBy shipped every shingle
    * instance through an exchange first. Docs with empty shingle sets
    * are dropped (they have no signature), matching the explode
    * formulation which never emitted a row for them.
    */
  def minhashSignatures(docs: DataFrame, n: Int = 3, k: Int = 32,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sigs = docs
      .select(col(idCol).as("id"), graftShingles(col(textCol), n).as("set"))
      .filter(size(col("set")) > 0)
      .select(col("id"), GraftFunctions.graftMinhashes(col("set"), k).as("mh"))
    sigs.select(col("id") +: (0 until k).map(i => col("mh").getItem(i).as(s"mh_$i")): _*)
  }

  /** Explode+groupBy formulation of [[minhashSignatures]]; kept as the
    * equality oracle for the native expression in ExtSpec.
    */
  private[graft] def minhashSignaturesDeclarative(docs: DataFrame, n: Int, k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(graftShingles(col(textCol), n)).as("h"))
    val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"mh_$i"))
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate near-dup pairs via LSH banding of the minhash signature:
    * signature split into `bands` bands of k/bands rows each, band content
    * hashed, pairs = self-equi-join on (band index, band hash).
    */
  def lshCandidatePairs(signatures: DataFrame, k: Int = 32, bands: Int = 16): DataFrame = {
    val banded = bandSignature(signatures, k, bands)
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bandHash") === col("b.bandHash")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** (id, band, bandHash) rows of a signature DataFrame — the banding
    * stage shared by the self-join, incremental, and streaming candidate
    * paths. Narrow (select + explode, no aggregation), so it is legal on
    * a streaming DataFrame.
    */
  private[graft] def bandSignature(signatures: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bandHash"))
    }
    signatures.select(col("id"), explode(array(bandCols: _*)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.bandHash").as("bandHash"))
  }

  /** Full MinHash-LSH near-dedup: candidates from banding, verified with
    * exact Jaccard — the standard recall/precision split (LSH prunes the
    * O(n²) pair space; verification keeps only true near-dups).
    */
  def minhashDedupPairs(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 16,
      minJaccard: Double = 0.8, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val candidates = lshCandidatePairs(minhashSignatures(docs, n, k, textCol, idCol), k, bands)
    // verify with one array_intersect per candidate pair — the earlier
    // explode-join formulation shuffled every shingle of every candidate
    // doc TWICE and ground through a per-match groupBy
    val sets = docs.select(col(idCol).as("id"),
        graftShingles(col(textCol), n).as("set"))
      .withColumn("setSize", size(col("set")).cast("long"))
    verifyJaccard(candidates, sets, minJaccard)
  }

  /** Incremental near-dedup: pairs between a NEW batch and an existing
    * corpus, plus new-vs-new — but never corpus-vs-corpus. This is the
    * shape a production ingest runs every batch: the corpus side only
    * flows through signature banding (in practice a precomputed index),
    * and the candidate join probes it with the new batch's bands, so
    * each batch costs O(|new| · bucket fan-in) rather than re-pairing
    * the whole corpus. Output rows are (id_new, id_other, jaccard) with
    * id_other from either side; a new-new pair appears once (id_new <
    * id_other).
    */
  def minhashDedupNewPairs(newDocs: DataFrame, corpus: DataFrame,
      n: Int = 3, k: Int = 32, bands: Int = 16, minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    // batch rows are authoritative for shared ids: a corpus row whose id
    // reappears in the batch is superseded and drops out BEFORE banding —
    // otherwise the stale corpus copy both self-pairs with its batch twin
    // and re-emits the twin's batch pairs in the opposite orientation,
    // and verifyJaccard's per-side join fans duplicate ids out. With the
    // anti-join up front the index sides are id-disjoint, so no self-pair
    // guard is needed and superseded rows cost no signature work.
    val corpusOnly = corpus.join(newDocs.select(col(idCol)), Seq(idCol), "left_anti")
    val newBanded = bandSignature(minhashSignatures(newDocs, n, k, textCol, idCol), k, bands)
    // a persisted index ([[minhashIndex]] written to parquet) replaces
    // the per-call corpus signature recompute — the dominant cost of an
    // ingest batch, since the corpus dwarfs the batch; the supersede
    // anti-join then applies to the index ROWS by id (same semantics:
    // a re-ingested id's stale bands must not produce candidates).
    // Corpus TEXT is still read, but only for the docs that surface in
    // candidate pairs (verifyJaccard's per-side join prunes the rest).
    val corpusBanded = corpusIndex match {
      case Some(idx) => idx.join(newDocs.select(col(idCol).as("id")), Seq("id"), "left_anti")
      case None => bandSignature(minhashSignatures(corpusOnly, n, k, textCol, idCol), k, bands)
    }
    val probe = newBanded.as("a")
    val index = corpusBanded.withColumn("isNew", lit(false))
      .unionByName(newBanded.withColumn("isNew", lit(true))).as("b")
    val cand = probe.join(index,
        col("a.band") === col("b.band") && col("a.bandHash") === col("b.bandHash")
          // corpus matches keep (new, corpus) orientation; new-new pairs
          // deduplicate by ordering, like the self-join path
          && (!col("b.isNew") || col("a.id") < col("b.id")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // project to the dedup columns BEFORE the union: batch and corpus
    // legitimately differ in payload columns (an ingest batch carries
    // only id+text; the corpus table carries its full schema)
    //
    // verification shingles are computed AFTER the id joins
    // ([[verifyJaccardFromText]]): the verify joins prune which rows
    // SURVIVE, but a precomputed `sets` table would graftShingles the
    // whole corpus before the join — exactly the O(corpus) compute the
    // index exists to avoid (the r11 incr_pairs_idx probe measured
    // 0.93 per-row, WORSE than the from-scratch path's 0.76, for this
    // reason). Joining on raw (id, text) first keeps the corpus-scale
    // stage a plain scan + hash join; shingling runs only on the
    // candidate-sized survivors.
    val texts = newDocs.select(col(idCol), col(textCol))
      .unionByName(corpusOnly.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), col(textCol).as("txt"))
    verifyJaccardFromText(cand, texts, n, minJaccard)
  }

  /** Benchmark decontamination: for each EVAL document, the fraction of
    * its (distinct) word n-grams that appear anywhere in the TRAINING
    * corpus — the overlap scan run before an eval set is trusted.
    * One explode per side, one distinct on the corpus shingles (the
    * corpus-sized shuffle — at 100 TB substitute a persisted corpus
    * shingle set, or a Bloom filter of it via
    * [[graft.ops.Prefilter]] when approximate contamination suffices),
    * one equi-join keyed on the shingle hash, one per-doc aggregate.
    * Output: (idCol, n_shingles, n_contaminated, contamination) —
    * contamination floor-scaled for cross-engine hash equality.
    */
  def ngramContamination(evalDocs: DataFrame, corpus: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id",
      corpusShingles: Option[DataFrame] = None): DataFrame = {
    val evalSh = evalDocs.select(col(idCol),
      explode(graftShingles(col(textCol), n)).as("shingle"))
    val corpusSh = corpusShingles
      .map(_.select(col("shingle")))
      .getOrElse(corpus.select(explode(graftShingles(col(textCol), n)).as("shingle")).distinct())
      .withColumn("hit", lit(1))
    val hits = sum(coalesce(col("hit"), lit(0)))
    evalSh.join(corpusSh, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        hits.cast("long").as("n_contaminated"),
        (floor(hits.cast("double") / count(lit(1)) * 1e6) / 1e6).as("contamination"))
  }

  /** Corpus snapshot diff: classify every doc id across two snapshots
    * as added / removed / changed / unchanged by direct content
    * comparison on a full outer id join. This is the operator that
    * DRIVES the artifact lifecycle: `added ∪ changed` is the ingest
    * batch [[updatePairGraph]] / the index upserts fold in, `removed`
    * is the takedown set [[forgetDocs]] propagates — one diff per
    * snapshot pair, consumed by every maintained artifact. Only ids
    * and a same/differs bit shuffle beyond the scan; with both
    * snapshots bucketed on the id the join needs no exchange at all.
    */
  def corpusDiff(before: DataFrame, after: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val a = before.select(col(idCol).as("id"), col(textCol).as("a_text"))
    val b = after.select(col(idCol).as("id"), col(textCol).as("b_text"))
    a.join(b, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("a_text").isNull, "added")
          .when(col("b_text").isNull, "removed")
          .when(col("a_text") =!= col("b_text"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** First-seen novelty attribution: for each document, the fraction of
    * its DISTINCT word n-grams that appear in no document with a
    * smaller id — "what does this doc contribute that the corpus (in
    * ingest order) didn't already have?". The inverse signal of
    * [[ngramContamination]]: contamination asks how much of a doc is
    * already elsewhere, novelty credits the FIRST occurrence. Useful as
    * a curation score (drop low-novelty stragglers instead of
    * clustering them) and as a dataset-attribution report. One explode,
    * one shingle-keyed min groupBy (map-side combined), one join back,
    * one per-doc aggregate — same shuffle profile as the contamination
    * scan. Output: (idCol, n_shingles, n_novel, novelty) with novelty
    * floor-scaled for cross-engine hash equality.
    */
  def noveltyScores(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(graftShingles(col(textCol), n)).as("shingle"))
    val first = sh.groupBy("shingle").agg(min(col("id")).as("first_id"))
    val novel = sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
    sh.join(first, Seq("shingle"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        novel.cast("long").as("n_novel"),
        (floor(novel.cast("double") / count(lit(1)) * 1e6) / 1e6).as("novelty"))
  }

  /** The corpus-distinct shingle set `(shingle)` behind
    * [[ngramContamination]] — the corpus-sized work of every
    * decontamination scan, factored into a PERSISTED artifact exactly
    * like [[minhashIndex]]/[[shingleDfTable]]: compute once per corpus
    * snapshot, write as parquet, probe per eval batch. STALENESS
    * SEMANTICS: the artifact answers "contamination against the corpus
    * AS OF index build" — shingles added to the corpus later are
    * invisible until a rebuild, so the reported rate LOWER-bounds
    * contamination against the grown corpus (the unsafe direction for
    * a gate: rebuild on corpus growth; reuse freely while the corpus
    * is frozen, the normal case for a training snapshot).
    */
  def contaminationIndex(corpus: DataFrame, n: Int = 3,
      textCol: String = "text"): DataFrame = {
    corpus.select(explode(graftShingles(col(textCol), n)).as("shingle")).distinct()
  }

  /** Persist [[contaminationIndex]] as parquet, repartitioned on
    * shingle — the probe join's key.
    */
  def writeContaminationIndex(corpus: DataFrame, path: String, n: Int = 3,
      textCol: String = "text"): Unit =
    contaminationIndex(corpus, n, textCol)
      .repartition(col("shingle"))
      .write.mode("overwrite").parquet(path)

  /** Read a persisted [[contaminationIndex]] back; pass as
    * `corpusShingles` to [[ngramContamination]] /
    * [[ngramContaminationApprox]] (reuse == recompute pinned in
    * ExtSpec).
    */
  def readContaminationIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** [[ngramContamination]] at corpus scale: the corpus shingle set is
    * summarized as a driver-built Bloom filter (~1.2 bytes/shingle at
    * 1% fpp — a 10¹⁰-shingle corpus fits a few GB broadcast, vs the
    * exact path's corpus-wide distinct + join), probed by the eval
    * shingles via [[graft.ops.Prefilter.bloomSemiJoin]]. Error is
    * ONE-SIDED: false positives only, so the reported contamination
    * upper-bounds the true rate — the safe direction for a
    * decontamination gate (you can only over-flag, never under-flag;
    * pinned in ExtSpec against the exact operator).
    */
  def ngramContaminationApprox(evalDocs: DataFrame, corpus: DataFrame, n: Int = 3,
      fpp: Double = 0.01, textCol: String = "text", idCol: String = "doc_id",
      corpusShingles: Option[DataFrame] = None): DataFrame = {
    val evalSh = evalDocs.select(col(idCol),
      explode(graftShingles(col(textCol), n)).as("shingle"))
    // with a persisted [[contaminationIndex]] the Bloom builds from the
    // (already-distinct) artifact instead of re-exploding the corpus
    val corpusSh = corpusShingles.map(_.select(col("shingle"))).getOrElse(corpus
      .select(explode(graftShingles(col(textCol), n)).as("shingle")))
    // expectedItems defaults to the instance count (dups included) — an
    // OVERSIZED filter, which only lowers the realized fpp
    val flagged = graft.ops.Prefilter
      .bloomSemiJoin(evalSh, corpusSh, "shingle", "shingle", fpp = fpp)
      .groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("n_contaminated"))
    evalSh.groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("n_shingles"))
      .join(flagged, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (floor(coalesce(col("n_contaminated"), lit(0L)).cast("double")
          / col("n_shingles") * 1e6) / 1e6).as("contamination"))
  }

  /** [[ngramContamination]] with the 100 TB shuffle fix made
    * BIT-IDENTICAL instead of approximate: eval shingles are prefiltered
    * through the broadcast Bloom of the corpus shingle set
    * ([[graft.ops.Prefilter.bloomSemiJoin]]) BEFORE the verify join, so
    * the exchange carries only (true hits + fpp·misses) rows instead of
    * every eval shingle — and the survivors still go through the exact
    * shingle-keyed semi-join, so Bloom false positives are dropped and
    * the output equals [[ngramContamination]] row for row at ANY fpp
    * (the q21 bloomSemiJoin==join pattern applied to decontamination;
    * registry-gated as d40 against d12's own oracle). The per-doc
    * denominator (`n_shingles`) is counted BEFORE the prefilter — it is
    * a property of the eval doc, not of the candidate set — via a
    * map-side-combined aggregate that never crosses the Bloom.
    */
  def ngramContaminationBloomExact(evalDocs: DataFrame, corpus: DataFrame,
      n: Int = 3, fpp: Double = 0.01, textCol: String = "text",
      idCol: String = "doc_id", corpusShingles: Option[DataFrame] = None): DataFrame = {
    val evalSh = evalDocs.select(col(idCol),
      explode(graftShingles(col(textCol), n)).as("shingle"))
    // with a persisted [[contaminationIndex]] both the Bloom build and
    // the verify side read the (already-distinct) artifact
    val corpusSh = corpusShingles.map(_.select(col("shingle"))).getOrElse(
      corpus.select(explode(graftShingles(col(textCol), n)).as("shingle")).distinct())
    val totals = evalSh.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_shingles"))
    val hits = graft.ops.Prefilter
      .bloomSemiJoin(evalSh, corpusSh, "shingle", "shingle", fpp = fpp)
      .join(corpusSh, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("n_contaminated"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (floor(coalesce(col("n_contaminated"), lit(0L)).cast("double")
          / col("n_shingles") * 1e6) / 1e6).as("contamination"))
  }

  // ---------------------------------------------------------- pair graph

  /** The parameters a persisted pair graph was computed under. `kind`
    * is "jaccard" or "containment"; `threshold` the min similarity /
    * containment. Like [[MinhashParams]], these ride a sidecar so a
    * consumer can't silently interpret an artifact built at one
    * threshold as another.
    */
  case class PairGraphParams(kind: String, n: Int, threshold: Double)

  private[graft] val PairGraphSidecar =
    new IndexLifecycle.Sidecar[PairGraphParams]("pair_graph")

  /** The exact near-dup PAIR GRAPH as a persisted corpus-level artifact
    * — the [[contaminationIndex]]/[[minhashIndex]] pattern applied to
    * the most-shared intermediate in a curation pipeline. Clustering
    * ([[clusters]]), end-to-end dedup ([[dropNearDuplicates]]),
    * representative selection ([[clusterRepresentatives]]), and
    * graph analytics (PageRank / triangle counts over the similarity
    * graph) all consume the SAME (id_a, id_b, jaccard) pair set;
    * recomputing the shingle → inverted-index → verify chain per
    * consumer multiplies the single most expensive stage of the whole
    * pipeline by the number of consumers. At corpus scale the pair
    * graph is computed once per corpus snapshot, persisted, and read
    * by every downstream policy. STALENESS: like
    * [[contaminationIndex]], the artifact answers "pairs as of the
    * snapshot" — rebuild on corpus growth, reuse freely while frozen
    * (the normal case for a training snapshot).
    *
    * Layout: repartitioned on id_a — the key every consumer's first
    * join/groupBy touches — so reads start co-located.
    */
  def writePairGraph(docs: DataFrame, path: String, n: Int = 3,
      minJaccard: Double = 0.5, textCol: String = "text", idCol: String = "doc_id",
      prefixFilter: Boolean = false, broadcastDf: Boolean = false): Unit = {
    ngramJaccardPairs(docs, n, minJaccard, textCol, idCol, prefixFilter, broadcastDf)
      .repartition(col("id_a"))
      .write.mode("overwrite").parquet(path)
    PairGraphSidecar.write(docs.sparkSession, path, PairGraphParams("jaccard", n, minJaccard))
  }

  /** [[writePairGraph]] for the asymmetric CONTAINMENT pair set
    * ([[ngramContainmentPairs]] — columns id_a, id_b, cont_a_in_b,
    * cont_b_in_a): the artifact behind a [[dropContained]] curation
    * policy and any quote/inclusion analytics downstream of it.
    */
  def writeContainmentPairGraph(docs: DataFrame, path: String, n: Int = 3,
      minContainment: Double = 0.6, textCol: String = "text", idCol: String = "doc_id",
      prefixFilter: Boolean = false, broadcastDf: Boolean = false): Unit = {
    ngramContainmentPairs(docs, n, minContainment, textCol, idCol, prefixFilter, broadcastDf)
      .repartition(col("id_a"))
      .write.mode("overwrite").parquet(path)
    PairGraphSidecar.write(docs.sparkSession, path,
      PairGraphParams("containment", n, minContainment))
  }

  /** Read a persisted pair graph back ([[writePairGraph]] /
    * [[writeContainmentPairGraph]]); artifact == recompute is pinned
    * both in ExtSpec and cross-engine (the registered d22 row gates
    * the read-back artifact against the from-scratch DuckDB oracle).
    */
  def readPairGraph(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The [[PairGraphParams]] sidecar of a persisted pair graph; None
    * for a pre-sidecar artifact.
    */
  def readPairGraphParams(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[PairGraphParams] =
    PairGraphSidecar.read(spark, path)

  /** Exact n-gram Jaccard pairs TOUCHING an ingest batch — the
    * incremental twin of [[ngramJaccardPairs]], cost O(|batch| ·
    * shingle fan-in) instead of corpus²: only the batch's shingles
    * enter the probe side of the inverted-index join, so the corpus
    * pairs itself against nothing. Batch rows are authoritative for
    * shared ids (a corpus row whose id reappears in the batch is
    * superseded before any shingle work — the
    * [[minhashDedupNewPairs]] convention). With `broadcastBatch`
    * (default) the exploded batch shingles broadcast, so the
    * corpus-side explode is a streamed scan — nothing corpus-sized
    * shuffles; disable when the batch itself is beyond broadcast
    * size and accept one corpus-keyed exchange.
    *
    * Output matches [[ngramJaccardPairs]]: (id_a, id_b, jaccard),
    * id_a < id_b, each batch-touching pair exactly once.
    */
  def ngramJaccardNewPairs(newDocs: DataFrame, corpus: DataFrame, n: Int = 3,
      minJaccard: Double = 0.5, textCol: String = "text", idCol: String = "doc_id",
      broadcastBatch: Boolean = true): DataFrame = {
    val corpusOnly = corpus.join(newDocs.select(col(idCol)), Seq(idCol), "left_anti")
    val all = newDocs.select(col(idCol), col(textCol))
      .unionByName(corpusOnly.select(col(idCol), col(textCol)))
    val sets = all.select(col(idCol).as("id"), graftShingles(col(textCol), n).as("set"))
      .withColumn("setSize", size(col("set")).cast("long"))
    val probe0 = newDocs
      .select(col(idCol).as("id"), explode(graftShingles(col(textCol), n)).as("shingle"))
    val probe = if (broadcastBatch) broadcast(probe0) else probe0
    val index = sets.select(col("id"), explode(col("set")).as("shingle"))
    // batch-batch pairs surface from both orientations, batch-corpus
    // from one — least/greatest + distinct normalizes either way
    val cand = probe.as("a").join(index.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    verifyJaccard(cand, sets, minJaccard)
  }

  /** Batch-touching CONTAINMENT pairs — [[ngramJaccardNewPairs]] for
    * the asymmetric [[ngramContainmentPairs]] semantics: only the
    * batch's shingles probe the corpus index (broadcast by default),
    * supersede-by-id first, candidates verified exactly with one
    * array_intersect per pair. Output matches the full operator:
    * (id_a, id_b, cont_a_in_b, cont_b_in_a), id_a < id_b, either
    * direction clearing the threshold.
    */
  def ngramContainmentNewPairs(newDocs: DataFrame, corpus: DataFrame, n: Int = 3,
      minContainment: Double = 0.6, textCol: String = "text", idCol: String = "doc_id",
      broadcastBatch: Boolean = true): DataFrame = {
    val corpusOnly = corpus.join(newDocs.select(col(idCol)), Seq(idCol), "left_anti")
    val all = newDocs.select(col(idCol), col(textCol))
      .unionByName(corpusOnly.select(col(idCol), col(textCol)))
    val sets = all.select(col(idCol).as("id"), graftShingles(col(textCol), n).as("set"))
      .withColumn("setSize", size(col("set")).cast("long"))
    val probe0 = newDocs
      .select(col(idCol).as("id"), explode(graftShingles(col(textCol), n)).as("shingle"))
    val probe = if (broadcastBatch) broadcast(probe0) else probe0
    val index = sets.select(col("id"), explode(col("set")).as("shingle"))
    val cand = probe.as("a").join(index.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a"),
        col("setSize").as("size_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b"),
        col("setSize").as("size_b")), "id_b")
      .withColumn("interSize", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("cont_a_in_b", col("interSize").cast("double") / col("size_a"))
      .withColumn("cont_b_in_a", col("interSize").cast("double") / col("size_b"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minContainment)
      .select(col("id_a"), col("id_b"),
        round6(col("cont_a_in_b")).as("cont_a_in_b"),
        round6(col("cont_b_in_a")).as("cont_b_in_a"))
  }

  /** Incremental maintenance of a persisted pair graph
    * ([[writePairGraph]] / [[writeContainmentPairGraph]]): fold an
    * ingest batch into the artifact WITHOUT re-pairing the corpus. The
    * updated pair set is
    *
    *   kept   = old pairs touching no batch id (stale pairs of a
    *            re-ingested id are dropped — its text may have changed)
    *   fresh  = batch-touching pairs under the SIDECAR's semantics
    *            ([[ngramJaccardNewPairs]] or
    *            [[ngramContainmentNewPairs]], dispatched on kind)
    *
    * and lands via the index family's fuse-guarded atomic swap
    * ([[IndexLifecycle.swapIn]]) — readers keep consuming the live
    * artifact until the rename; a crash mid-swap is recoverable with
    * [[IndexLifecycle.recoverSwap]]. Parameters (kind, n, threshold)
    * come from the live sidecar, so an update can't silently
    * reinterpret the artifact under different settings; the sidecar is
    * rewritten unchanged on the new build. `corpus` must be the
    * SNAPSHOT the live artifact was built from (pre-batch) — the
    * invariant `update(base artifact, batch) == rebuild(base ⊎ batch)`
    * is pinned in ExtSpec for both kinds and cross-engine by the
    * registered d23 row.
    */
  def updatePairGraph(newDocs: DataFrame, corpus: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      broadcastBatch: Boolean = true): Unit = {
    val spark = newDocs.sparkSession
    val p = PairGraphSidecar.require(spark, path, "not a pair graph this can update")
    val batchIds = newDocs.select(col(idCol).as("id"))
    val live = readPairGraph(spark, path)
    val kept = live
      .join(batchIds.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_anti")
      .join(batchIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_anti")
      .select(live.columns.map(col).toIndexedSeq: _*)
    val fresh = p.kind match {
      case "jaccard" => ngramJaccardNewPairs(newDocs, corpus, p.n, p.threshold,
        textCol, idCol, broadcastBatch)
      case "containment" => ngramContainmentNewPairs(newDocs, corpus, p.n, p.threshold,
        textCol, idCol, broadcastBatch)
      case other => throw new IllegalArgumentException(
        s"unknown pair-graph kind '$other' at $path")
    }
    IndexLifecycle.replace(spark, path, PairGraphSidecar, p) {
      kept.unionByName(fresh).repartition(col("id_a")).write.mode("overwrite").parquet(_)
    }
  }

  /** Copy a persisted pair graph (rows + sidecar) to a new location —
    * environment promotion, or seeding a scratch artifact to mutate
    * ([[updatePairGraph]]/[[forgetDocs]]) without touching the live one.
    */
  def copyPairGraph(spark: org.apache.spark.sql.SparkSession,
      from: String, to: String): Unit = {
    val p = PairGraphSidecar.require(spark, from, "not a pair graph")
    readPairGraph(spark, from)
      .repartition(col("id_a"))
      .write.mode("overwrite").parquet(to)
    PairGraphSidecar.write(spark, to, p)
  }

  /** Remove pairs touching any of `forgetIds` — the pure policy under
    * [[forgetDocs]]. Two anti-joins; the pair columns pass through
    * untouched, so it applies to Jaccard and containment graphs alike.
    */
  def forgetPairs(pairs: DataFrame, forgetIds: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val ids = forgetIds.select(col(idCol).as("id"))
    pairs
      .join(ids.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_anti")
      .join(ids.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_anti")
      // using-joins move their key to the front — restore the artifact's
      // column order so a rewritten graph keeps its schema layout
      .select(pairs.columns.map(col).toIndexedSeq: _*)
  }

  /** Deletion propagation for a persisted pair graph: when documents
    * are removed from the corpus (takedown, opt-out, retention expiry),
    * the corpus-level artifacts that MENTION them must forget them too
    * — the artifact is otherwise a retained copy of signal about
    * deleted content. Drops every pair touching a forgotten id and
    * promotes the purged build over the live artifact under the same
    * fuse-guarded swap as [[updatePairGraph]]; sidecar params carry
    * over unchanged (forgetting changes membership, not semantics).
    * `forget(artifact, ids) == rebuild(corpus minus ids)` is pinned in
    * ExtSpec; the registered d24 row gates the purged pair set
    * cross-engine.
    */
  def forgetDocs(spark: org.apache.spark.sql.SparkSession, path: String,
      forgetIds: DataFrame, idCol: String = "doc_id"): Unit = {
    val p = PairGraphSidecar.require(spark, path, "not a pair graph this can update")
    IndexLifecycle.replace(spark, path, PairGraphSidecar, p) {
      forgetPairs(readPairGraph(spark, path), forgetIds, idCol)
        .repartition(col("id_a")).write.mode("overwrite").parquet(_)
    }
  }

  // ---------------------------------------------------------- clustering

  /** Connected components over an undirected near-dup pair graph —
    * the step after ANY pairwise dedup operator: pairs say "a ~ b";
    * clusters say "these k documents are one group, keep one". Labels
    * converge by iterative min-label propagation (each round: one
    * edge join + one min-aggregation — a bounded number of shuffles,
    * no driver-side graph), reaching fixpoint in O(component diameter)
    * rounds; near-dup components are dense and shallow, so typically
    * 2–4. Transitivity is the point: a~b and b~c cluster {a,b,c} even
    * when a~c itself fell below the pair threshold.
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`,
    * cluster_id = the component's minimum id. Each round checkpoints its
    * label table and unpersists the previous round's blocks, so both
    * lineage AND block-manager footprint stay one round deep; throws if
    * `maxIter` rounds don't converge (a silent partial clustering would
    * merge/split groups wrongly downstream).
    *
    * Each round does neighbor-min propagation PLUS pointer jumping
    * (label(v) ← label(label(v)) — valid because labels only ever
    * decrease and every label is itself a node id), which doubles the
    * propagated distance per round: convergence is O(log diameter),
    * so even a pathological 10⁶-long near-dup CHAIN (a drifting
    * versioned document) finishes in ~20 rounds, not 10⁶ (pinned by
    * PropertySpec on a 2k-node path graph). Rounds are shuffle-bound on
    * |edges| + |labels|, and each round is ONE materializing pass: the
    * previous label rides the round as a `prev` column into the
    * checkpoint, so the convergence check is a narrow count over the
    * just-materialized in-memory blocks — no re-join, no second pass
    * over edges or labels.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 50): DataFrame =
    clustersWithRounds(pairs, idA, idB, maxIter)._1

  /** Incremental clustering: fold an ingest batch's pairs into an
    * EXISTING labeling without re-clustering the corpus pair graph.
    * The old labels re-enter as edges — (id, cluster_id) connects every
    * member to its label node, and the label IS a member id — so
    * connected components over (label edges ∪ new pairs) have exactly
    * the membership AND the same min-id cluster ids as components over
    * (old pairs ∪ new pairs), at |labels| + |batch pairs| edge cost
    * instead of re-propagating the full pair set. The composition
    * partner of [[updatePairGraph]]: after each artifact update, the
    * labeling follows at batch cost too. `updateClusters(labels(old),
    * newPairs) == clusters(old ∪ new)` is pinned in ExtSpec and gated
    * cross-engine by d37 (whose oracle is the FULL-graph recursive
    * CTE — it never sees the split).
    */
  def updateClusters(labels: DataFrame, newPairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    val labelEdges = labels.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idA), col("cluster_id").as(idB))
    clusters(labelEdges.unionByName(newPairs.select(col(idA), col(idB))),
      idA, idB, maxIter)
  }

  /** [[clusters]] plus the number of propagation rounds it took —
    * exposed so PropertySpec can pin the O(log diameter) convergence
    * claim on an adversarial long-chain graph.
    */
  private[graft] def clustersWithRounds(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 50): (DataFrame, Int) = {
    // pinned by an eager checkpoint, not a cache: round 1 reads the edges
    // in several places, and a cache not yet filled runs its plan once
    // per place
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().localCheckpoint()
    // each round is checkpointed ([[graft.ops.Blocks.converge]]), not
    // persisted: the jump SELF-JOINS each round's result, so without
    // truncation the logical plan doubles per round (2^rounds nodes — a
    // driver OOM long before the data is big)
    val (labels, rounds, converged) = graft.ops.Blocks.converge(
      edges.select(col("src").as("id")).distinct().withColumn("cluster_id", col("id")), maxIter)(
      { labels =>
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("cluster_id").as("dstLabel")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("dstLabel")).as("nbrMin"))
        val propagated = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("cluster_id").as("prev"),
            least(col("cluster_id"), coalesce(col("nbrMin"), col("cluster_id"))).as("cluster_id"))
        // pointer jump: follow the label one hop (label(label(v))). The
        // left join always matches — a label is the id of some node — and
        // label(x) <= x, so the jump only ever improves toward the root.
        // prev rides along so convergence is read off the SAME
        // materialized round instead of a separate join against labels.
        propagated.as("a")
          .join(propagated.select(col("id").as("cluster_id"), col("cluster_id").as("grand")).as("b"),
            Seq("cluster_id"), "left")
          .select(col("id"), coalesce(col("grand"), col("cluster_id")).as("cluster_id"),
            col("prev"))
      },
      col("cluster_id") =!= col("prev"))
    graft.ops.Blocks.free(edges) // the result is a checkpoint
    require(converged, s"label propagation did not converge in $maxIter rounds")
    (labels.select(col("id"), col("cluster_id")), rounds)
  }

  /** `docs` minus every non-representative near-dup cluster member: the
    * composition a pipeline actually runs (pairs → [[clusters]] → keep
    * the min-id representative of each group, all singletons untouched).
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters(pairs).filter(col("cluster_id") =!= col("id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** The quality-aware variant of [[dropNearDuplicates]]'s min-id
    * policy, as a MANIFEST: one representative per near-dup cluster —
    * the member with the most tokens (the most complete variant of the
    * duplicated content), ties to the smallest id — plus the cluster
    * size, so a curation pipeline can keep the best copy instead of an
    * arbitrary one AND audit how much each cluster collapsed.
    *
    * Plan: [[clusters]] (pointer-jumping, O(log diameter) rounds) →
    * broadcast-friendly join with per-doc token counts → one window
    * exchange keyed on cluster_id (cluster sizes are post-threshold
    * near-dup groups — bounded, never the corpus). All-integer, so the
    * full manifest sits under the oracle gate.
    */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val byQuality = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("id"))
    val members = Window.partitionBy(col("cluster_id"))
    clusters(pairs).join(toks, "id")
      .withColumn("n_members", count(lit(1)).over(members))
      .withColumn("_rn", row_number().over(byQuality))
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col("id").as("keep_id"),
        col("n_tokens").as("keep_tokens"), col("n_members"))
  }

  /** The banded signature index rows `(id, band, bandHash)` for a
    * corpus — the artifact [[minhashDedupNewPairs]] probes every ingest
    * batch. Computable once and PERSISTED (plain parquet via
    * [[writeMinhashIndex]]) so production ingest reuses it instead of
    * re-signaturing the full corpus per batch; `(n, k, bands)` and the
    * text normalization must match between index build and probe time
    * (the band hashes are a pure function of them — a mismatch joins
    * nothing rather than joining wrongly).
    */
  def minhashIndex(docs: DataFrame, n: Int = 3, k: Int = 32, bands: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    bandSignature(minhashSignatures(docs, n, k, textCol, idCol), k, bands)

  /** The shingle/signature parameters a minhash index was built with.
    * Band hashes are a pure function of them: a probe with mismatched
    * (n, k, bands) joins NOTHING — a silently empty candidate set, i.e.
    * no dedup at all, the worst failure mode for a dedup gate. Same
    * footgun class as [[graft.ext.Similarity.LshParams]]; same cure.
    */
  case class MinhashParams(n: Int, k: Int, bands: Int)

  private[graft] val MinhashSidecar = new IndexLifecycle.Sidecar[MinhashParams]("minhash")

  /** Persist [[minhashIndex]] as parquet, laid out for the probe join:
    * repartitioned on (band, bandHash) — the candidate join's key — so
    * an ingest batch's broadcast/shuffle probe reads co-located buckets,
    * and a full rebuild never shuffles at probe time. (n, k, bands) are
    * recorded in an underscore-prefixed sidecar (skipped by parquet
    * readers, like `_SUCCESS`) for [[minhashDedupNewPairsAt]].
    */
  def writeMinhashIndex(docs: DataFrame, path: String,
      n: Int = 3, k: Int = 32, bands: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    minhashIndex(docs, n, k, bands, textCol, idCol)
      .repartition(col("band"), col("bandHash"))
      .write.mode("overwrite").parquet(path)
    MinhashSidecar.write(docs.sparkSession, path, MinhashParams(n, k, bands))
  }

  /** The [[MinhashParams]] sidecar of a persisted index; None for an
    * index written before the sidecar existed.
    */
  def readMinhashIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[MinhashParams] =
    MinhashSidecar.read(spark, path)

  /** Read a persisted [[minhashIndex]] back; pass as `corpusIndex` to
    * [[minhashDedupNewPairs]] WITH the sidecar's (n, k, bands) — or use
    * [[minhashDedupNewPairsAt]], which reads them itself. The
    * reload==recompute consistency is pinned in ExtSpec.
    */
  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Incremental maintenance of a persisted [[minhashIndex]]: fold an
    * ingest batch's banded signatures in WITHOUT re-signaturing the
    * corpus — stale rows of re-ingested ids drop first (their text may
    * have changed; a stale band would keep candidating against the old
    * content), the batch's signatures compute in one narrow pass, and
    * the merged index promotes through the fuse-guarded
    * [[IndexLifecycle.swapIn]]. Parameters come from the live sidecar
    * (a call-site (n, k, bands) literal can't disagree with the
    * artifact) and are rewritten unchanged. `update == rebuild` over
    * the grown corpus is pinned in ExtSpec.
    */
  def updateMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val p = MinhashSidecar.require(spark, path, "not an index this can update")
    val kept = readMinhashIndex(spark, path)
      .join(newDocs.select(col(idCol).as("id")), Seq("id"), "left_anti")
    val fresh = minhashIndex(newDocs, p.n, p.k, p.bands, textCol, idCol)
    IndexLifecycle.replace(spark, path, MinhashSidecar, p) {
      kept.unionByName(fresh)
        .repartition(col("band"), col("bandHash")).write.mode("overwrite").parquet(_)
    }
  }

  /** Deletion propagation for a persisted [[minhashIndex]]: drop every
    * signature row of the forgotten ids and swap the purged build in —
    * the [[forgetDocs]] policy applied to the signature artifact (the
    * band hashes are derived from deleted content and must go with it).
    * `forget == rebuild(minus ids)` is pinned in ExtSpec.
    */
  def forgetMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, forgetIds: DataFrame, idCol: String = "doc_id"): Unit = {
    val p = MinhashSidecar.require(spark, path, "not an index this can update")
    IndexLifecycle.replace(spark, path, MinhashSidecar, p) {
      readMinhashIndex(spark, path)
        .join(forgetIds.select(col(idCol).as("id")), Seq("id"), "left_anti")
        .repartition(col("band"), col("bandHash")).write.mode("overwrite").parquet(_)
    }
  }

  /** [[minhashDedupNewPairs]] against a persisted index path, signature
    * parameters taken from the index's own sidecar — the footgun-free
    * ingest call (a call-site (n, k, bands) literal can't disagree with
    * the artifact and silently candidate nothing).
    */
  def minhashDedupNewPairsAt(spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame, corpus: DataFrame, path: String,
      minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val p = MinhashSidecar.require(spark, path, "pass (n, k, bands) explicitly")
    minhashDedupNewPairs(newDocs, corpus, p.n, p.k, p.bands, minJaccard,
      textCol, idCol, corpusIndex = Some(readMinhashIndex(spark, path)))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash fingerprint via the one-pass native expression
    * ([[graft.functions.SimHash64]]) — no explode, no shuffle; the
    * operator's only wide dependency is the later banding join.
    */
  def simhash64(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol).as("id"),
      GraftFunctions.graftSimhash(col(textCol)).as("simhash"))
  }

  /** Declarative reference formulation of [[simhash64]] (explode →
    * 64 conditional sums → bit reassembly); kept as the oracle for the
    * native expression in ExtSpec.
    */
  private[graft] def simhash64Declarative(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$b")
    }
    val summed = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { b =>
      when(col(s"s_$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    summed.select(col("id"), fp.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist, banded into
    * equal-width chunks so candidate generation is an equi-join.
    *
    * Chunk count is picked from maxDist by the pigeonhole argument: two
    * fingerprints at Hamming distance d differ in d bit positions, and
    * d positions can touch at most d of the c chunks — so for d < c at
    * least one chunk is bit-identical on both sides, and the equi-join
    * on (chunk, chunkVal) finds every true pair. maxDist ≤ 3 uses the
    * classic 4×16-bit banding; 3 < maxDist ≤ 7 uses 8×8-bit chunks
    * (d ≤ 7 touches ≤ 7 of the 8 chunks — one 8-bit chunk survives
    * intact). Wider distance costs fan-in: 8-bit chunks have 2⁸
    * buckets, so expected bucket occupancy is n/256 per chunk and the
    * candidate join output grows 256× vs 16-bit chunks — the price of
    * distance, not a tunable (chunk width ≤ 64/(maxDist+1) is forced).
    *
    * SCALE BOUND: with 2¹⁶ buckets per chunk, expected bucket fan-in is
    * n/65536 on well-spread fingerprints — fine to ~10⁹ docs, but at
    * 10¹¹ the within-bucket candidate join (Σ bucket²/2 rows) turns
    * quadratic again, and FAR earlier than that if the corpus has large
    * exact-duplicate classes (identical fingerprints collapse onto one
    * bucket in every chunk). Run [[simhashBandingDiagnostic]] before
    * launching this at scale: if `candidate_pairs` is disproportionate
    * to n, exact-dedup first ([[exactDedup]] removes identical-text
    * classes, the dominant cause), or tighten maxDist so the
    * narrower-fan-in banding applies.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDist <= 7, "8x8-bit banding supports maxDist <= 7")
    simhashPairsChunked(docs, maxDist, chunks = if (maxDist <= 3) 4 else 8,
      textCol, idCol)
  }

  /** [[simhashPairs]] with the chunk count explicit — `private[graft]`
    * so the twin-equality spec can force 8×8-bit banding at maxDist ≤ 3
    * and pin it pair-identical to the default 4×16-bit banding.
    */
  private[graft] def simhashPairsChunked(docs: DataFrame, maxDist: Int, chunks: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(64 % chunks == 0 && maxDist < chunks,
      s"pigeonhole needs maxDist=$maxDist < chunks=$chunks and chunks | 64")
    hammingPairs(simhashBanded(docs, textCol, idCol, chunks), maxDist)
  }

  /** Near-dup pairs over the 32-bit md5-derived SimHash — the fully
    * oracle-replayable twin of [[simhashPairs]]: d07 gates the
    * fingerprint itself; this puts the PAIRING machinery (chunk banding
    * equi-join, candidate dedupe, exact Hamming verify) under the same
    * cross-engine gate, since a SQL engine can recompute both the
    * fingerprints (md5) and the naive-join pair set
    * (`bit_count(xor(...))`). Banding is 4×8-bit chunks of the 32-bit
    * fingerprint — the same pigeonhole (d ≤ 3 < 4 chunks), a 256-bucket
    * fan-in per chunk. The 64-bit xxhash64 variant stays the scale
    * default (wider fingerprint, 65536-bucket fan-in).
    */
  def simhashPairsMd5(docs: DataFrame, maxDist: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDist < 4, "4x8-bit banding of a 32-bit fingerprint supports maxDist <= 3")
    // same doc filter as d07: a token-less doc has no fingerprint
    val fps = docs.filter(col(textCol).rlike("\\S"))
      .select(col(idCol).as("id"),
        GraftFunctions.graftSimhashMd5(col(textCol)).as("simhash"))
    hammingPairs(bandedOf(fps, nbits = 32, chunks = 4), maxDist)
  }

  /** Candidate equi-join on (chunk, chunkVal) + exact Hamming verify —
    * the pairing stage shared by every SimHash variant.
    */
  private def hammingPairs(banded: DataFrame, maxDist: Int): DataFrame = {
    val a = banded.as("a"); val b = banded.as("b")
    val cand = a.join(b, col("a.chunk") === col("b.chunk")
        && col("a.chunkVal") === col("b.chunkVal") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** (id, simhash, chunk, chunkVal) banding rows over an arbitrary
    * fingerprint width: `chunks` equal chunks of the low `nbits` bits.
    */
  private[graft] def bandedOf(fps: DataFrame, nbits: Int, chunks: Int): DataFrame = {
    val width = nbits / chunks
    val mask = (1L << width) - 1
    val chunkCols = (0 until chunks).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * width).bitwiseAND(mask).as("chunkVal")))
    fps.select(col("id"), col("simhash"), explode(array(chunkCols: _*)).as("ch"))
      .select(col("id"), col("simhash"), col("ch.chunk").as("chunk"), col("ch.chunkVal").as("chunkVal"))
  }

  /** The (id, simhash, chunk, chunkVal) banding rows behind
    * [[simhashPairs]]' candidate equi-join — shared with the fan-in
    * diagnostic so both see the identical bucketing.
    */
  private[graft] def simhashBanded(docs: DataFrame, textCol: String, idCol: String,
      chunks: Int = 4): DataFrame =
    bandedOf(simhash64(docs, textCol, idCol), nbits = 64, chunks = chunks)

  /** Bucket fan-in diagnostic for [[simhashPairs]] (the ZOrder
    * span-fraction idea applied to the banding join): per 16-bit chunk,
    * how concentrated the buckets are and how many within-bucket
    * candidate rows the self-join would grind through. One row per
    * chunk: `n_buckets`, `max_bucket` (the hottest key's fan-in) and
    * `candidate_pairs` = Σ c·(c−1)/2 — the actual join output size, the
    * number that must stay ~linear in n for the operator to be runnable.
    * Cheap (one groupBy over the banding rows); run it on a sample
    * before pointing [[simhashPairs]] at a new corpus.
    */
  def simhashBandingDiagnostic(docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      chunks: Int = 4): DataFrame = {
    simhashBanded(docs, textCol, idCol, chunks)
      .groupBy(col("chunk"), col("chunkVal")).agg(count(lit(1)).as("c"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * (col("c") - 1) / 2).cast("long").as("candidate_pairs"))
      .orderBy(col("chunk"))
  }

  // ---------------------------------------------------------- chunk store

  /** Parameters a persisted chunk store ([[writeChunkIndex]]) was
    * computed under: the gear cut mask width. Rides a sidecar (the
    * [[PairGraphParams]] convention) so serving and maintenance can't
    * silently re-chunk a batch under a different boundary rule than
    * the stored corpus chunks were cut with — mismatched masks produce
    * disjoint hash spaces and a silent all-novel answer.
    */
  case class ChunkIndexParams(maskBits: Int)

  private[graft] val ChunkIndexSidecar =
    new IndexLifecycle.Sidecar[ChunkIndexParams]("chunk_index")

  /** Per-document content-defined chunk table via the gear rolling
    * hash ([[graft.functions.GearChunks]]): one row per chunk —
    * (doc_id, start, len, chunk_hash), chunk_hash the d26 60-bit
    * md5-integer of the chunk's text. ONE codegen pass per row, no
    * shuffle: the narrow scan under d33/d34 and the build step of the
    * chunk store. Expected chunk length ~2^maskBits codepoints; cut
    * points depend only on a 31-codepoint trailing window, so an edit
    * re-aligns within ~31 codepoints + one chunk (measured under the
    * gate by d34).
    */
  def chunkTable(docs: DataFrame, maskBits: Int = 6,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .select(col("doc_id"), col("_t"),
        explode(GraftFunctions.graftGearChunks(col("_t"), maskBits)).as("c"))
      .select(col("doc_id"),
        col("c.start").cast("long").as("start"),
        col("c.len").cast("long").as("len"),
        conv(substring(md5(expr("substring(_t, c.start + 1, c.len)")), 1, 15), 16, 10)
          .cast("long").as("chunk_hash"))
  }

  /** The corpus chunk table as a persisted artifact — the SEVENTH
    * index-lifecycle family: chunk-level provenance/dedup asks "has
    * this content been seen before, at sub-document granularity", and
    * answering it from scratch re-chunks the corpus per ingest batch.
    * The store is written once per snapshot, partitioned on chunk_hash
    * (the probe key), and maintained at batch cost
    * ([[updateChunkIndex]] / [[forgetChunkIndex]]) under the family's
    * fuse-guarded atomic swap. Sidecar carries the mask width.
    */
  def writeChunkIndex(docs: DataFrame, path: String, maskBits: Int = 6,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    chunkTable(docs, maskBits, textCol, idCol)
      .repartition(col("chunk_hash"))
      .write.mode("overwrite").parquet(path)
    ChunkIndexSidecar.write(docs.sparkSession, path, ChunkIndexParams(maskBits))
  }

  /** Read a persisted chunk store back; artifact == [[chunkTable]]
    * recompute is pinned in ChunkStoreSpec and cross-engine by d35
    * (serve(index) gates against the from-scratch DuckDB replay).
    */
  def readChunkIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The [[ChunkIndexParams]] sidecar; None for a directory that is
    * not a chunk store.
    */
  def readChunkIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[ChunkIndexParams] =
    ChunkIndexSidecar.read(spark, path)

  def isChunkIndex(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    ChunkIndexSidecar.exists(spark, path)

  /** Shared provenance rollup: per batch document, how many distinct
    * chunks it has and how many of those the corpus has already seen.
    * Scale shape: the batch's distinct hashes BROADCAST into a semi
    * join against the corpus chunks (the corpus side streams — no
    * corpus-keyed exchange anywhere); the matched set is batch-sized,
    * so the final membership join broadcasts too. Corpus rows of ids
    * being re-ingested are superseded first (a doc never "sees" its
    * own previous content — the [[ngramJaccardNewPairs]] convention).
    * The batch side is broadcast, so it must stay ingest-sized: a
    * caller pointing a corpus at the probe side gets the loud
    * bounded-probe failure, not a silent executor OOM (`maxProbeChunks`
    * is the explicit override).
    */
  private def provenanceOf(batchChunks: DataFrame, corpusChunks: DataFrame,
      maxProbeChunks: Long = 5000000L): DataFrame = {
    val probe = batchChunks.select(col("doc_id"), col("chunk_hash"))
    val probeCount = probe.limit((maxProbeChunks + 1).min(Int.MaxValue).toInt).count()
    require(probeCount <= maxProbeChunks,
      s"provenance probe side exceeds $maxProbeChunks chunk rows — the batch is " +
      "broadcast and must stay ingest-sized (the corpus belongs on the store side); " +
      "pass maxProbeChunks explicitly if a larger batch is intended")
    val corpus = corpusChunks
      .join(broadcast(probe.select(col("doc_id")).distinct()), Seq("doc_id"), "left_anti")
    val matched = corpus.select(col("chunk_hash"))
      .join(broadcast(probe.select(col("chunk_hash")).distinct()),
        Seq("chunk_hash"), "left_semi")
      .distinct()
      .withColumn("_seen", lit(1))
    probe.join(broadcast(matched), Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("chunk_hash")).as("n_chunks"),
        countDistinct(when(col("_seen").isNotNull, col("chunk_hash")))
          .as("n_seen"))
  }

  /** Chunk-level provenance of an ingest batch against a corpus, from
    * scratch: (doc_id, n_chunks, n_seen) per batch doc — n_seen the
    * distinct batch chunks whose content already exists ANYWHERE in
    * the corpus. Because chunk boundaries are content-defined, a doc
    * that quotes/duplicates corpus content at a shifted offset still
    * matches on the unchanged chunks (d34's measured property) —
    * fixed-size blocks would miss all of it. The from-scratch twin of
    * [[chunkProvenanceIndexed]]; both gate against the same oracle.
    */
  def chunkProvenance(newDocs: DataFrame, corpus: DataFrame, maskBits: Int = 6,
      textCol: String = "text", idCol: String = "doc_id",
      maxProbeChunks: Long = 5000000L): DataFrame =
    provenanceOf(chunkTable(newDocs, maskBits, textCol, idCol),
      chunkTable(corpus, maskBits, textCol, idCol), maxProbeChunks)

  /** [[chunkProvenance]] served from the persisted chunk store: the
    * batch is chunked at batch cost under the SIDECAR's mask, the
    * corpus contribution is one streamed scan of the artifact under a
    * broadcast semi join — the corpus is never re-chunked. Loud
    * failure on a directory without a sidecar.
    */
  def chunkProvenanceIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxProbeChunks: Long = 5000000L): DataFrame = {
    val p = ChunkIndexSidecar.require(spark, path, "not a chunk store")
    provenanceOf(chunkTable(newDocs, p.maskBits, textCol, idCol),
      readChunkIndex(spark, path), maxProbeChunks)
  }

  /** Chunk-level dedup rollup — the punchline of content-defined
    * chunking: how many chunks (and characters) each document would
    * contribute if the corpus kept ONE copy of every distinct chunk
    * content. Keeper = the first occurrence in (doc_id, start) order
    * per chunk_hash; every other occurrence (cross-doc duplicates AND
    * within-doc repeats) is deduplicated storage/training text.
    * Returns per document: n_chunks, n_kept, chars (total chunk
    * bytes), chars_kept — all BIGINT, so the savings numbers
    * themselves sit under the hash gate (d36). Because boundaries are
    * content-defined, shared content at SHIFTED offsets still dedups
    * (the d34 property); fixed-size blocks would keep every shifted
    * copy. One exchange on chunk_hash (the window's partition key);
    * accepts a precomputed chunk table so the persisted store can
    * feed it directly.
    */
  def chunkDedupStats(chunks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("start"))
    chunks.withColumn("_rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("_rn") === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
        sum(col("len")).cast("long").as("chars"),
        sum(when(col("_rn") === 1, col("len")).otherwise(0L)).cast("long")
          .as("chars_kept"))
  }

  /** Fold an ingest batch into the chunk store WITHOUT re-chunking the
    * corpus: stale rows of re-ingested ids drop first (their text may
    * have changed), the batch's chunk table appends, and the new build
    * lands via the family's fuse-guarded atomic swap. Mask comes from
    * the live sidecar. `update(artifact, batch) == rebuild(corpus ⊎
    * batch)` is pinned in ChunkStoreSpec.
    */
  def updateChunkIndex(newDocs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = newDocs.sparkSession
    val p = ChunkIndexSidecar.require(spark, path, "not a chunk store this can update")
    val live = readChunkIndex(spark, path)
    val kept = live
      .join(newDocs.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_anti")
      .select(live.columns.map(col).toIndexedSeq: _*)
    IndexLifecycle.replace(spark, path, ChunkIndexSidecar, p) {
      kept.unionByName(chunkTable(newDocs, p.maskBits, textCol, idCol))
        .repartition(col("chunk_hash")).write.mode("overwrite").parquet(_)
    }
  }

  /** Deletion propagation for the chunk store (takedown/opt-out): drop
    * every chunk row of the forgotten ids and swap the purged build in
    * — the artifact is otherwise a retained fingerprint of deleted
    * content. `forget(artifact, ids) == rebuild(corpus minus ids)` is
    * pinned in ChunkStoreSpec; sidecar carries over unchanged.
    */
  def forgetChunkIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      forgetIds: DataFrame, idCol: String = "doc_id"): Unit = {
    val p = ChunkIndexSidecar.require(spark, path, "not a chunk store this can update")
    val live = readChunkIndex(spark, path)
    IndexLifecycle.replace(spark, path, ChunkIndexSidecar, p) {
      live.join(forgetIds.select(col(idCol).as("doc_id")), Seq("doc_id"), "left_anti")
        .select(live.columns.map(col).toIndexedSeq: _*)
        .repartition(col("chunk_hash")).write.mode("overwrite").parquet(_)
    }
  }
}
