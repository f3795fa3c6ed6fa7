package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance (levenshtein) string matching — the record-linkage /
  * entity-resolution family: set-similarity joins (Jaccard,
  * containment, MinHash) handle token-level near-duplication, but
  * catalog reconciliation, typo'd identifier matching, and scraped-name
  * canonicalization need CHARACTER-level distance.
  *
  * Semantics are exact: `fuzzyJoin` returns ALL pairs with
  * `levenshtein(a, b) <= maxDist` — the filtering is candidate
  * PRUNING, never candidate loss, so the DuckDB cross-join oracle gates
  * completeness, not just precision. Three provably-safe filters
  * (Gravano et al., VLDB 2001; Ed-Join, Xiao et al., VLDB 2008):
  *
  *  - length: `ed(a,b) <= d` forces `|len(a) - len(b)| <= d`;
  *  - count: one edit destroys at most q of a string's positional
  *    q-grams, so `ed <= d` forces a multiset q-gram overlap of at
  *    least `max(len)-q+1 - q*d`;
  *  - prefix: order every (gram, occurrence) element by corpus
  *    document frequency ascending (rarest first, ties by gram then
  *    occurrence — any global total order is sound, the RARE-first
  *    order is what bounds candidates); if the multiset overlap meets
  *    the count bound, the first `q*d + 1` elements of each side must
  *    intersect. Candidates therefore come from an equi-join on the
  *    RARE grams only — hot grams ("Brand", " ") never fan out.
  *
  * The count bound is vacuous when `max(len) <= q*d + q - 1`; pairs of
  * two such short strings route through a length-band equi-join
  * instead (short strings are a bounded slice of any real corpus).
  * At 100 TB the shape is batch-side prefix grams equi-joined against
  * the corpus prefix-gram index (q*d+1 rows per corpus string —
  * persistable like the minhash/LSH index artifacts), then one
  * codegen'd `levenshtein` verify over candidate-sized survivors.
  */
object Fuzzy {

  /** Character q-grams with occurrence index, multiset-as-set encoding:
    * "aabab" q=2 → (aa,1),(ab,1),(ba,1),(ab,2) — joining on
    * (gram, occ) computes Σ_g min(countA, countB), the multiset
    * overlap. Output: (idCol, strCol, len, gram, occ).
    */
  private[ext] def qgramRows(df: DataFrame, q: Int, strCol: String,
      idCol: String): DataFrame = {
    val esc = strCol.replace("`", "``")
    val withLen = df.select(col(idCol), col(strCol),
      length(col(strCol)).as("_len"))
    // strings shorter than q yield NO gram rows: sequence(1, 0) would
    // descend to [1, 0] and emit two bogus grams per short string,
    // polluting the persisted df/prefix index artifacts (r12 ADVICE).
    withLen
      .select(col(idCol), col(strCol), col("_len"),
        explode(expr(s"CASE WHEN _len >= $q THEN " +
          s"transform(sequence(1, _len - ${q - 1}), " +
          s"p -> substring(`$esc`, p, $q)) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END")).as("gram"))
      .withColumn("occ", row_number().over(
        Window.partitionBy(col(idCol), col("gram")).orderBy(col("gram"))))
  }

  /** All (id_a, id_b, dist) pairs with `levenshtein <= maxDist`,
    * length-band equi-join implementation: the NAIVE twin (all pairs
    * within a length band are verified). Complete by the length
    * filter alone; quadratic within bands — the from-scratch
    * cross-check for [[fuzzyJoin]] and the probe baseline.
    */
  def fuzzyJoinBand(left: DataFrame, right: DataFrame, maxDist: Int,
      leftCol: String = "s", rightCol: String = "s",
      leftId: String = "id", rightId: String = "id"): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val l = left.select(col(leftId).as("id_a"), col(leftCol).as("_sa"),
        explode(sequence(greatest(length(col(leftCol)) - maxDist, lit(0)),
          length(col(leftCol)) + maxDist)).as("_blen"))
    val r = right.select(col(rightId).as("id_b"), col(rightCol).as("_sb"),
      length(col(rightCol)).as("_blen"))
    // each (a, b) pair matches exactly one banded length (b's), so no
    // post-join dedup is needed
    l.join(r, "_blen")
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** All (id_a, id_b, dist) pairs with `levenshtein <= maxDist` —
    * Ed-Join-style: rare-gram prefix candidates + length filter + one
    * exact verify; short×short pairs via the band join. Identical
    * output to [[fuzzyJoinBand]] (spec- and oracle-pinned), sub-
    * quadratic candidates.
    *
    * @param q q-gram width (2 is the classic choice for short strings)
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame, maxDist: Int,
      q: Int = 2, leftCol: String = "s", rightCol: String = "s",
      leftId: String = "id", rightId: String = "id"): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(q >= 2, "q must be at least 2")
    if (maxDist == 0) { // degenerate: exact equality, one equi-join
      return left.select(col(leftId).as("id_a"), col(leftCol).as("_s"))
        .join(right.select(col(rightId).as("id_b"), col(rightCol).as("_s")), "_s")
        .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    }
    // corpus-side document frequency defines the global gram order;
    // left grams absent from the corpus get df 0 (rarest — any
    // CONSISTENT order is sound, shared grams agree by construction)
    val rGrams = qgramRows(right, q, rightCol, rightId)
    val dfT = dfTableOf(rGrams)
    val short = shortLen(q, maxDist)
    val lPre = prefixOf(qgramRows(left, q, leftCol, leftId), dfT,
        q, maxDist, leftId, leftCol)
      .withColumnRenamed(leftId, "id_a").withColumnRenamed(leftCol, "_sa")
      .withColumnRenamed("_len", "_la")
    val rPre = prefixOf(rGrams, dfT, q, maxDist, rightId, rightCol)
      .withColumnRenamed(rightId, "id_b").withColumnRenamed(rightCol, "_sb")
      .withColumnRenamed("_len", "_lb")
    val shortL = left.filter(length(col(leftCol)) <= short)
      .select(col(leftId).as("id_a"), col(leftCol).as("_sa"))
    val shortR = right.filter(length(col(rightCol)) <= short)
      .select(col(rightId).as("id_b"), col(rightCol).as("_sb"))
    pairsFromPrefixes(lPre, rPre, shortL, shortR, maxDist)
  }

  /** Strings at or below this length can be within `maxDist` of a peer
    * while sharing ZERO q-grams (the count bound is vacuous) — they
    * route through the length-band join.
    */
  private[ext] def shortLen(q: Int, maxDist: Int): Int = q * maxDist + q - 1

  /** Corpus gram document frequency — the global order the prefix
    * filter ranks by (rare first).
    */
  private[ext] def dfTableOf(grams: DataFrame): DataFrame =
    grams.filter(col("occ") === 1)
      .groupBy(col("gram")).agg(count(lit(1)).as("_df"))

  /** Each string's `q*maxDist + 1` first (gram, occ) elements under the
    * (df asc, gram, occ) global order. Both join sides MUST rank under
    * the same df table — completeness needs a consistent order, not a
    * fresh one (the persisted-index update path leans on exactly this:
    * any fixed order is complete, so the build-time df keeps working
    * for strings ingested later).
    */
  private[ext] def prefixOf(grams: DataFrame, dfT: DataFrame,
      q: Int, maxDist: Int, id: String, s: String): DataFrame =
    grams.join(dfT, Seq("gram"), "left")
      .withColumn("_rank", row_number().over(
        Window.partitionBy(col(id))
          .orderBy(coalesce(col("_df"), lit(0L)), col("gram"), col("occ"))))
      .filter(col("_rank") <= q * maxDist + 1)
      .select(col(id), col(s), col("_len"), col("gram"), col("occ"))

  /** The shared candidate + verify tail: prefix-gram equi-join (+
    * length filter) over the long strings, length-band join over the
    * short ones, one thresholded levenshtein verify (early-exit DP,
    * -1 past the bound) over the distinct candidate set.
    */
  private def pairsFromPrefixes(lPre: DataFrame, rPre: DataFrame,
      shortL: DataFrame, shortR: DataFrame, maxDist: Int): DataFrame = {
    val longCand = lPre.join(rPre, Seq("gram", "occ"))
      .filter(abs(col("_la") - col("_lb")) <= maxDist)
      .select(col("id_a"), col("_sa"), col("id_b"), col("_sb"))
      .distinct()
    // short×short pairs (count bound vacuous — can share zero grams)
    val shortCand = shortL
      .select(col("id_a"), col("_sa"),
        explode(sequence(greatest(length(col("_sa")) - maxDist, lit(0)),
          length(col("_sa")) + maxDist)).as("_blen"))
      .join(shortR.withColumn("_blen", length(col("_sb"))), "_blen")
      .select(col("id_a"), col("_sa"), col("id_b"), col("_sb"))
      .distinct()
    longCand.unionByName(shortCand).distinct()
      .withColumn("dist", levenshtein(col("_sa"), col("_sb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Entity resolution: each left (dirty) record's best catalog match —
    * min distance, ties by catalog id — over the [[fuzzyJoin]] pair
    * set. Unmatched records are absent (the caller's drop/queue
    * policy). Output: (id_a, match_id, dist, n_candidates).
    */
  def entityMatch(dirty: DataFrame, catalog: DataFrame, maxDist: Int,
      q: Int = 2, dirtyCol: String = "s", catalogCol: String = "s",
      dirtyId: String = "id", catalogId: String = "id"): DataFrame =
    entityMatchFrom(fuzzyJoin(dirty, catalog, maxDist, q,
      dirtyCol, catalogCol, dirtyId, catalogId))

  /** [[entityMatch]]'s selection rules over an already-computed
    * (id_a, id_b, dist) pair set — windows run at candidate
    * cardinality, never corpus.
    */
  def entityMatchFrom(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id_a")).orderBy(col("dist"), col("id_b"))
    pairs
      .withColumn("n_candidates", count(lit(1)).over(Window.partitionBy(col("id_a"))))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("id_a"), col("id_b").as("match_id"), col("dist"),
        col("n_candidates"))
  }

  // ------------------------------------------- persisted catalog index

  /** Parameters of a persisted catalog index — always read from the
    * sidecar, never from call-site literals (the minhash/LSH/IVF/PQ
    * convention: a literal can't disagree with the artifact and
    * silently candidate nothing).
    */
  case class FuzzyIndexParams(q: Int, maxDist: Int)

  private[graft] val FuzzySidecar = new IndexLifecycle.Sidecar[FuzzyIndexParams]("fuzzy")

  /** The [[FuzzyIndexParams]] sidecar; None when `path` is not a
    * catalog index.
    */
  def readCatalogIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[FuzzyIndexParams] =
    FuzzySidecar.read(spark, path)

  private def requireParams(spark: org.apache.spark.sql.SparkSession,
      path: String): FuzzyIndexParams =
    FuzzySidecar.require(spark, path, "not a catalog index")

  /** Persist the catalog's matching index: three co-swapped datasets
    * under one directory —
    *
    *  - `prefix/`: each long string's `q*maxDist + 1` rarest
    *    (gram, occ) elements (id, s, len, gram, occ), repartitioned on
    *    gram (the serve-side join key);
    *  - `short/`: strings at or below [[shortLen]] (id, s) for the
    *    band path;
    *  - `df/`: the build-time gram document frequencies — the GLOBAL
    *    ORDER every later probe and upsert ranks under. Like the IVF /
    *    PQ codebooks, the order is deliberately STABLE on upsert
    *    (any fixed order keeps the prefix filter complete; a drifted
    *    df only affects candidate-set SIZE) — rebuild to re-tune
    *    selectivity when the catalog's gram distribution shifts.
    *
    * The params sidecar rides inside the directory, so
    * [[IndexLifecycle.swapIn]]'s directory rename promotes data +
    * params + order atomically.
    */
  def writeCatalogIndex(catalog: DataFrame, path: String, maxDist: Int,
      q: Int = 2, strCol: String = "s", idCol: String = "id"): Unit = {
    require(maxDist >= 1, "an index for maxDist 0 is an exact-join table")
    require(q >= 2, "q must be at least 2")
    val spark = catalog.sparkSession
    val grams = qgramRows(catalog, q, strCol, idCol)
    val dfT = dfTableOf(grams)
    // df first: prefixOf consumes it, and a df written AFTER prefix
    // could observe a changed catalog frame (non-deterministic sources)
    dfT.write.mode("overwrite").parquet(s"$path/df")
    val dfStored = spark.read.parquet(s"$path/df")
    prefixOf(grams, dfStored, q, maxDist, idCol, strCol)
      .toDF("id", "s", "len", "gram", "occ")
      .repartition(col("gram"))
      .write.mode("overwrite").parquet(s"$path/prefix")
    catalog.filter(length(col(strCol)) <= shortLen(q, maxDist))
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .write.mode("overwrite").parquet(s"$path/short")
    FuzzySidecar.write(spark, path, FuzzyIndexParams(q, maxDist))
  }

  /** All (id_a, id_b, dist) pairs within the index's maxDist between a
    * probe batch and the PERSISTED catalog — the serving path: batch
    * prefixes rank under the STORED df order (consistency is what
    * completeness needs), candidates come from the prebuilt prefix
    * table, and the catalog is never re-grammed. Identical pair set to
    * [[fuzzyJoin]] against the same catalog (spec- and oracle-pinned).
    */
  def fuzzyJoinIndexed(spark: org.apache.spark.sql.SparkSession,
      dirty: DataFrame, path: String,
      dirtyCol: String = "s", dirtyId: String = "id"): DataFrame = {
    val p = requireParams(spark, path)
    val dfStored = spark.read.parquet(s"$path/df")
    // serving contract: `dirty` is an ingest batch / micro-batch, so
    // its prefix rows broadcast — the STORED index then streams through
    // one broadcast hash join and is never shuffled on the gram key
    // (without the hint Catalyst misestimates the windowed batch side
    // and sort-merge-joins the whole index; measured 32 s → batch-bound
    // at the ×10 probe catalog)
    val lPre = broadcast(
      prefixOf(qgramRows(dirty, p.q, dirtyCol, dirtyId), dfStored,
        p.q, p.maxDist, dirtyId, dirtyCol)
      .withColumnRenamed(dirtyId, "id_a").withColumnRenamed(dirtyCol, "_sa")
      .withColumnRenamed("_len", "_la"))
    val rPre = spark.read.parquet(s"$path/prefix")
      .select(col("id").as("id_b"), col("s").as("_sb"),
        col("len").as("_lb"), col("gram"), col("occ"))
    val shortL = broadcast(
      dirty.filter(length(col(dirtyCol)) <= shortLen(p.q, p.maxDist))
      .select(col(dirtyId).as("id_a"), col(dirtyCol).as("_sa")))
    val shortR = spark.read.parquet(s"$path/short")
      .select(col("id").as("id_b"), col("s").as("_sb"))
    pairsFromPrefixes(lPre, rPre, shortL, shortR, p.maxDist)
  }

  /** [[entityMatch]] served from the persisted index. */
  def entityMatchIndexed(spark: org.apache.spark.sql.SparkSession,
      dirty: DataFrame, path: String,
      dirtyCol: String = "s", dirtyId: String = "id"): DataFrame =
    entityMatchFrom(fuzzyJoinIndexed(spark, dirty, path, dirtyCol, dirtyId))

  /** Fold a catalog ingest batch into the persisted index at batch
    * cost: stale rows of re-ingested ids drop first (changed strings
    * must not keep candidating under their old grams), the batch's
    * prefix rows rank under the STORED df order (see
    * [[writeCatalogIndex]] — order stability is the completeness
    * contract), and the merged index promotes through the fuse-guarded
    * [[IndexLifecycle.swapIn]]. `serve(update) == serve(rebuild)` at
    * the pair-set level is pinned in FuzzySpec.
    */
  def updateCatalogIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, path: String,
      strCol: String = "s", idCol: String = "id"): Unit = {
    val p = requireParams(spark, path)
    val batchIds = batch.select(col(idCol).as("id"))
    val dfStored = spark.read.parquet(s"$path/df")
    val freshPrefix = prefixOf(qgramRows(batch, p.q, strCol, idCol), dfStored,
        p.q, p.maxDist, idCol, strCol)
      .toDF("id", "s", "len", "gram", "occ")
    IndexLifecycle.replace(spark, path, FuzzySidecar, p) { rebuild =>
      dfStored.write.mode("overwrite").parquet(s"$rebuild/df")
      spark.read.parquet(s"$path/prefix")
        .join(batchIds, Seq("id"), "left_anti")
        .unionByName(freshPrefix)
        .repartition(col("gram"))
        .write.mode("overwrite").parquet(s"$rebuild/prefix")
      spark.read.parquet(s"$path/short")
        .join(batchIds, Seq("id"), "left_anti")
        .unionByName(batch.filter(length(col(strCol)) <= shortLen(p.q, p.maxDist))
          .select(col(idCol).as("id"), col(strCol).as("s")))
        .write.mode("overwrite").parquet(s"$rebuild/short")
    }
  }

  /** Takedown propagation: purge every index row of the forgotten ids
    * (prefix AND short — the artifact otherwise retains signal about
    * deleted catalog entries), promoted via the same atomic swap.
    * `forget == rebuild(minus ids)` at the pair-set level is pinned in
    * FuzzySpec.
    */
  def forgetCatalogIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, forgetIds: DataFrame, idCol: String = "id"): Unit = {
    val p = requireParams(spark, path)
    val ids = forgetIds.select(col(idCol).as("id"))
    IndexLifecycle.replace(spark, path, FuzzySidecar, p) { rebuild =>
      spark.read.parquet(s"$path/df").write.mode("overwrite").parquet(s"$rebuild/df")
      spark.read.parquet(s"$path/prefix")
        .join(ids, Seq("id"), "left_anti")
        .repartition(col("gram"))
        .write.mode("overwrite").parquet(s"$rebuild/prefix")
      spark.read.parquet(s"$path/short")
        .join(ids, Seq("id"), "left_anti")
        .write.mode("overwrite").parquet(s"$rebuild/short")
    }
  }
}
