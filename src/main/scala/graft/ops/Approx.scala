package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.IndexLifecycle

/** Approximate aggregates — the scale alternates to the exact forms the
  * oracle gate verifies (q06 exact distinct, q14 exact percentiles).
  *
  * At 100 TB the exact forms carry state proportional to the data:
  * `count(DISTINCT x)` shuffles every distinct value and
  * `percentile(x, f)` buffers every value per group. These cap the
  * state at kilobytes per group — HyperLogLog++ registers for distinct
  * counts, a KLL/GK-style quantile sketch for percentiles — at a
  * declared, tunable accuracy. Both are Catalyst built-ins (codegen'd,
  * map-side partially aggregated, deterministic for a fixed input);
  * this wrapper exists to name the trade-off and pin the error bounds
  * in OpsSpec so "switch to the sketch" is a reviewed, tested step,
  * not an ad-hoc query edit.
  */
object Approx {

  /** HyperLogLog++ distinct count; `rsd` is the target relative
    * standard deviation (Spark default 0.05 — ~1.5 KB of registers).
    */
  def distinctCount(c: Column, rsd: Double = 0.05): Column =
    approx_count_distinct(c, rsd)

  /** Sketch-based percentiles; `accuracy` trades memory for error — the
    * rank error is bounded by 1/accuracy of the row count.
    */
  def percentiles(c: Column, fractions: Seq[Double], accuracy: Int = 10000): Column =
    percentile_approx(c,
      array(fractions.map(lit): _*),
      lit(accuracy))

  /** q06's shape with bounded state: distinct customers per table scan. */
  def distinctCustomers(orders: DataFrame, rsd: Double = 0.05): DataFrame =
    orders.agg(distinctCount(col("o_custkey"), rsd).as("cnt"))

  /** Heavy hitters with bounded memory: per-partition SPACE-SAVING
    * summaries (capacity-bounded counter sets with deterministic
    * smallest-(count, token) eviction; an evicted slot's successor
    * inherits the evicted count as its overestimation error), merged by
    * summing counts and error bounds per token across partitions. The
    * classic guarantees hold per partition and survive the additive
    * merge: `est − err ≤ true ≤ est`, and every token whose true
    * partition frequency exceeds n_p/capacity is present in that
    * partition's summary — so a GLOBAL heavy hitter (freq > n/capacity)
    * is present in at least one summary and reported.
    *
    * State is O(capacity) per partition — at 100 TB the exact
    * `groupBy(token).count` shuffles every distinct token (content-scale
    * cardinality for web corpora); this shuffles ≤ capacity rows per
    * partition regardless of input size. The counter set is a
    * TreeMap[(count, token)] twin-indexed by a HashMap, so increment and
    * eviction are O(log capacity), not an O(capacity) scan per row.
    *
    * With `capacity ≥` the per-partition distinct count, no eviction
    * ever fires: every count is exact, every error 0, and the merged
    * top-k equals the exact top-k — the recall-saturating configuration
    * the t17 gate replays in SQL (tight-capacity error bounds are
    * spec-gated in OpsSpec).
    */
  def spaceSavingTopK(items: DataFrame, itemCol: String, k: Int,
      capacity: Int): DataFrame = {
    require(k > 0 && capacity >= k, s"need capacity >= k > 0, got k=$k capacity=$capacity")
    val spark = items.sparkSession
    import spark.implicits._
    val partial = items.select(col(itemCol).cast("string")).as[String]
      .mapPartitions { it =>
        val byToken = scala.collection.mutable.HashMap[String, (Long, Long)]()
        val byCount = scala.collection.mutable.TreeMap[(Long, String), Unit]()
        it.foreach { t =>
          byToken.get(t) match {
            case Some((c, e)) =>
              byCount.remove((c, t))
              byToken(t) = (c + 1, e)
              byCount((c + 1, t)) = ()
            case None if byToken.size < capacity =>
              byToken(t) = (1L, 0L)
              byCount((1L, t)) = ()
            case None =>
              val ((minC, minT), _) = byCount.head
              byCount.remove((minC, minT))
              byToken.remove(minT)
              byToken(t) = (minC + 1, minC)
              byCount((minC + 1, t)) = ()
          }
        }
        byToken.iterator.map { case (t, (c, e)) => (t, c, e) }
      }.toDF("token", "cnt", "e")
    partial.groupBy("token")
      .agg(sum("cnt").as("est"), sum("e").as("err"))
      .orderBy(col("est").desc, col("token")).limit(k)
  }

  // ------------------------------------------------- KMV distinct sketch

  /** 2^60 — the range of [[kmvHash]]; the KMV estimator's hash-space
    * size M.
    */
  val KmvRange: BigDecimal = BigDecimal(BigInt(1) << 60)

  /** 60-bit uniform hash: the first 15 hex chars of md5, as a LONG.
    * Deterministic and cross-engine — DuckDB replays it as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT` — so every KMV estimate
    * below is a pure integer function of the input and hash-gates
    * against the oracle (HLL estimates, by contrast, are
    * engine-internal and can only be error-banded).
    */
  def kmvHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** KMV (k-minimum-values, Bar-Yossef et al. 2002) distinct sketch:
    * the k smallest DISTINCT hash values of `c` — a k-row DataFrame
    * (`h` ascending by construction of its consumers' sorts).
    *
    * The 100 TB shape: `distinct` of the 8-byte hash (map-side partial)
    * then a top-k, which Spark executes as TakeOrdered — per-partition
    * k-row heaps merged on the driver, NO full sort, NO corpus-sized
    * shuffle. The sketch is mergeable: kmv(A ∪ B) = the k smallest of
    * kmv(A) ∪ kmv(B) (spec-pinned), so shard sketches combine without
    * rescanning — the cross-datacenter corpus-comparison shape.
    */
  def kmvSketch(df: DataFrame, c: Column, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    df.select(kmvHash(c).as("h")).distinct().orderBy(col("h")).limit(k)
  }

  /** Distinct-count estimate of a sketch frame, one row
    * `(n_sketch, distinct_est)` — exact when the sketch holds fewer
    * than k values, `(k-1) * 2^60 / h_k` otherwise (same integer
    * arithmetic as [[kmvOverlap]]).
    */
  def kmvDistinct(sketch: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val kMinus1M = ((BigInt(1) << 60) * (k - 1)).toString
    sketch.agg(count(lit(1)).as("n_sketch"), max(col("h")).as("_hk"))
      .select(col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch").cast("long")).otherwise(
          expr(s"CAST(CAST('$kMinus1M' AS DECIMAL(38,0)) div " +
            "CAST(_hk AS DECIMAL(38,0)) AS BIGINT)")).as("distinct_est"))
  }

  /** [[kmvSketch]] grouped by a key column — the k smallest DISTINCT
    * hashes PER KEY, ≤ |keys|·k rows: "distinct users per domain /
    * distinct tokens per source" at 100 TB from kilobytes of state
    * per key. The dedup exchange runs on (key, h) with map-side
    * partial aggregation; the per-key k-smallest truncation is the
    * custom [[graft.plans.TopKPerKeyNode]] operator (streams each
    * sorted group, emits k, skips the rest — no window machinery, no
    * rank column), fed by the already-dedup'd (key, h) rows. Same
    * mergeability as the flat sketch, per key ([[kmvMergeBy]]).
    */
  def kmvSketchBy(df: DataFrame, keyCol: String, c: Column, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    graft.ops.TopK.perKey(
      df.select(col(keyCol).as("key"), kmvHash(c).as("h")).distinct(),
      keys = Seq("key"), order = Seq(("h", false)), k = k)
  }

  /** Per-key distinct-count estimates of a [[kmvSketchBy]] frame —
    * one row (key, n_sketch, distinct_est) per key: exact when the
    * key's value set was smaller than k, `(k-1)·2^60 / h_k` otherwise
    * (the [[kmvDistinct]] estimator, per key; pure integers, so every
    * estimate hash-gates).
    */
  def kmvDistinctBy(sketch: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val kMinus1M = ((BigInt(1) << 60) * (k - 1)).toString
    sketch.groupBy(col("key"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("_hk"))
      .select(col("key"), col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch").cast("long")).otherwise(
          expr(s"CAST(CAST('$kMinus1M' AS DECIMAL(38,0)) div " +
            "CAST(_hk AS DECIMAL(38,0)) AS BIGINT)")).as("distinct_est"))
  }

  /** Per-key cell-wise merge of [[kmvSketchBy]] sketches sharing k:
    * the k smallest of each key's union IS that key's sketch of the
    * union (mergeability, per key — spec-pinned).
    */
  def kmvMergeBy(k: Int, sketches: DataFrame*): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    require(sketches.nonEmpty, "need at least one sketch")
    graft.ops.TopK.perKey(
      sketches.reduce(_ unionByName _).distinct(),
      keys = Seq("key"), order = Seq(("h", false)), k = k)
  }

  // --------------------------------------------- persisted KMV sketch

  /** The sketch size a persisted sketch was built with. */
  private[graft] case class KmvParams(k: Int)

  private[graft] val KmvSidecar = new IndexLifecycle.Sidecar[KmvParams]("kmv")

  /** The k recorded in a persisted sketch's sidecar; None when `path`
    * is not a KMV artifact.
    */
  def readKmvParams(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Int] =
    KmvSidecar.read(spark, path).map(_.k)

  /** Persist a sketch (k-row parquet + sidecar recording k — merges
    * MUST share k, and the sidecar makes a mismatched call-site literal
    * impossible, the index-family convention).
    */
  def writeKmvSketch(df: DataFrame, c: Column, k: Int, path: String): Unit = {
    kmvSketch(df, c, k).write.mode("overwrite").parquet(path)
    KmvSidecar.write(df.sparkSession, path, KmvParams(k))
  }

  /** Fold a batch into a persisted sketch at batch cost: sketch the
    * batch alone, merge with the k stored rows (mergeability — the k
    * smallest of the union of two sketches IS the sketch of the union),
    * promote via the fuse-guarded atomic swap. k comes from the
    * sidecar. The running artifact therefore equals
    * `kmvSketch(all data ever ingested)` EXACTLY, not approximately —
    * the stream==batch pin in StreamingKmvSpec is an equality, and the
    * state is k rows regardless of stream length.
    */
  def mergeIntoKmvSketch(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, c: Column, path: String): Unit = {
    val p = KmvSidecar.require(spark, path, "not a KMV sketch")
    IndexLifecycle.replace(spark, path, KmvSidecar, p) {
      spark.read.parquet(path)
        .unionByName(kmvSketch(batch, c, p.k))
        .distinct().orderBy(col("h")).limit(p.k)
        .write.mode("overwrite").parquet(_)
    }
  }

  /** Corpus-overlap estimates from two KMV sketches, one output row:
    *
    *  - `est_a` / `est_b`: distinct-count estimates `(k-1) * M / h_k`
    *    (the classic unbiased KMV estimator; exact count when the
    *    sketch holds fewer than k values — the set was smaller than
    *    the sketch);
    *  - `est_union`: the same estimator over the MERGED sketch (the k
    *    smallest of the union — valid because kmv is mergeable);
    *  - `jaccard_micro`: of the union sketch's k values, the fraction
    *    present in BOTH input sketches (×10^6, integer) — the standard
    *    KMV Jaccard estimator;
    *  - `est_intersection`: `jaccard * est_union`, in integer micros.
    *
    * Everything is integer arithmetic over deterministic hashes: the
    * whole row hash-gates cross-engine. Error ~ 1/sqrt(k) (banded in
    * OpsSpec against exact counts). The entire computation after the
    * two sketch scans touches 2k rows — compare d25's full-outer-join
    * corpus diff: this answers "how much do two 100 TB crawls overlap"
    * from two single scans + kilobytes.
    */
  def kmvOverlap(sketchA: DataFrame, sketchB: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val a = sketchA.select(col("h")).withColumn("in_a", lit(1L))
    val b = sketchB.select(col("h")).withColumn("in_b", lit(1L))
    val merged = a.join(b, Seq("h"), "full_outer")
      .select(col("h"), coalesce(col("in_a"), lit(0L)).as("in_a"),
        coalesce(col("in_b"), lit(0L)).as("in_b"))
    // the union sketch: k smallest of the merged hash set
    val unionK = merged.orderBy(col("h")).limit(k)
    // (k-1) * 2^60 needs ~68 bits: decimal(38,0) with integral `div`
    // (floor for positive operands — DuckDB replays it as HUGEINT `//`)
    val kMinus1M = ((BigInt(1) << 60) * (k - 1)).toString
    def estExpr(nName: String, hName: String): Column =
      when(col(nName) < k, col(nName).cast("long")).otherwise(
        expr(s"CAST(CAST('$kMinus1M' AS DECIMAL(38,0)) div " +
          s"CAST($hName AS DECIMAL(38,0)) AS BIGINT)"))
    val aAgg = sketchA.agg(count(lit(1)).as("_na"), max(col("h")).as("_ha"))
    val bAgg = sketchB.agg(count(lit(1)).as("_nb"), max(col("h")).as("_hb"))
    val uAgg = unionK.agg(count(lit(1)).as("_nu"), max(col("h")).as("_hu"),
      sum(col("in_a") * col("in_b")).as("_both"))
    uAgg.crossJoin(aAgg).crossJoin(bAgg)
      .select(
        estExpr("_na", "_ha").as("est_a"),
        estExpr("_nb", "_hb").as("est_b"),
        estExpr("_nu", "_hu").as("est_union"),
        expr("(_both * 1000000L) div _nu").as("jaccard_micro"),
        expr("CAST((CAST((_both * 1000000L) div _nu AS DECIMAL(38,0)) * " +
          s"CAST(CAST(CASE WHEN _nu < $k THEN _nu ELSE CAST('$kMinus1M' AS DECIMAL(38,0)) div " +
          "CAST(_hu AS DECIMAL(38,0)) END AS BIGINT) AS DECIMAL(38,0))) div 1000000 AS BIGINT)")
          .as("est_intersection"))
  }

  // ------------------------------------------------ Count-Min sketch

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) over a token
    * column: `depth` hash rows × `width` counters, answering point
    * frequency queries with the ONE-SIDED guarantee est ≥ true count
    * (never under), error ≤ εN with ε = e/width at probability
    * 1 − e^−depth. The complement of [[spaceSavingTopK]]: space-saving
    * answers "what are the heavy keys", the CMS answers "how often is
    * THIS key" for keys chosen after the scan — and two sketches over
    * disjoint corpora merge by cell-wise addition ([[cmsMerge]]), the
    * property that makes it the streaming/sharded counter of choice.
    *
    * Returns the sketch as a (row_i, bucket, cnt) DataFrame of at most
    * depth·width rows — bounded state, broadcastable to the estimate
    * join. The bucket hash is [[graft.functions.Cols.md5Uint32]] of
    * `"i:token"` mod width, so every cell is a pure integer function
    * of the input: DuckDB replays the SKETCH ITSELF, not just its
    * answers (e11 gate) — the KMV convention applied to counters.
    *
    * Plan: one posexplode (×depth) + ONE map-side-combined aggregation
    * into ≤ depth·width groups; no per-row state, no driver loop.
    */
  def cmsSketch(items: DataFrame, itemCol: String, depth: Int = 4,
      width: Int = 512): DataFrame = {
    require(depth > 0 && width > 0, s"need depth/width > 0, got $depth/$width")
    require(depth.toLong * width <= 4194304L,
      s"CMS state ${depth}x$width exceeds 4M cells — that is no longer a sketch")
    val arms = array((0 until depth).map { i =>
      pmod(graft.functions.Cols.md5Uint32(
        concat_ws(":", lit(i.toString), col(itemCol).cast("string"))), lit(width.toLong))
    }: _*)
    items.select(posexplode(arms).as(Seq("row_i", "bucket")))
      .groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates for `keys` against a [[cmsSketch]]:
    * re-derive each key's depth buckets, LEFT-join the sketch cells
    * (an absent cell is a 0 count — the t31 LEFT-join-plus-coalesce
    * hazard, handled), estimate = min over the depth rows. The sketch
    * side is ≤ depth·width rows and broadcasts; keys are query-sized.
    * `depth`/`width` must match the sketch's build parameters — they
    * are the hash function.
    */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth > 0 && width > 0, s"need depth/width > 0, got $depth/$width")
    val arms = array((0 until depth).map { i =>
      pmod(graft.functions.Cols.md5Uint32(
        concat_ws(":", lit(i.toString), col(keyCol).cast("string"))), lit(width.toLong))
    }: _*)
    keys.select(col("*"), posexplode(arms).as(Seq("row_i", "bucket")))
      .join(broadcast(sketch), Seq("row_i", "bucket"), "left")
      .groupBy(keys.columns.toIndexedSeq.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Cell-wise merge of CMS sketches built with the SAME depth/width:
    * sketch(A ⊎ B) == merge(sketch(A), sketch(B)) exactly (counters
    * are sums) — the property that lets shard- or micro-batch-local
    * sketches combine without rescanning anything (pinned in OpsSpec).
    */
  def cmsMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy(col("row_i"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  // --------------------------------------- equi-width histogram sketch

  /** Bucket index of `c` over `buckets` equi-width bins covering
    * [lo, hi): below-range clamps to bin 0, at-or-above-range to the
    * last bin, in-range is `(x − lo)·buckets div (hi − lo)` — for the
    * non-negative in-range numerator the division MUST be Spark's
    * integral `div` (DuckDB's `//`): decimal `/` rounds HALF_UP at
    * result scale 6, so for wide domains (hi−lo ≳ 2e6) a value just
    * below a bin edge would round UP one bin, and near `hi` could even
    * yield `buckets` — outside the clamp contract (the r12 ADVICE
    * finding). DECIMAL(38,0) for the multiply so a wide domain can't
    * overflow a LONG.
    */
  private def histBucket(c: Column, lo: Long, hi: Long, buckets: Int): Column = {
    val x = c.cast("long")
    when(x < lo, lit(0))
      .when(x >= hi, lit(buckets - 1))
      .otherwise(call_function("div",
        (x - lit(lo)).cast("decimal(38,0)") * lit(buckets),
        lit(hi - lo)).cast("int"))
  }

  /** Equi-width histogram sketch (`buckets` counters over [lo, hi),
    * out-of-range values clamped into the edge bins): the QUANTILE
    * member of the sketch family — space-saving answers "what is
    * heavy", CMS "how often is THIS key", KMV "how many distinct /
    * how much overlap", and this answers "where do the p50/p99 sit"
    * from ≤ `buckets` rows of state. Unlike `percentile_approx`'s
    * engine-internal KLL state, every cell here is a pure integer
    * function of the input — DuckDB replays the SKETCH ITSELF and the
    * estimates hash-gate (the d26/t34 convention on quantiles), at
    * the price of a config-declared domain instead of a data-adaptive
    * one.
    *
    * Plan: one codegen bucket expression + ONE map-side-combined
    * aggregation into ≤ `buckets` groups — at 100 TB a scan-speed
    * pass with kilobytes of state per executor. Cell-wise mergeable
    * ([[histMerge]]): shard or micro-batch sketches combine without
    * rescanning, exactly.
    */
  def histSketch(df: DataFrame, valueCol: Column, lo: Long, hi: Long,
      buckets: Int = 256): DataFrame = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(buckets > 0 && buckets <= 4194304,
      s"histogram state $buckets cells exceeds 4M — that is no longer a sketch")
    df.select(histBucket(valueCol, lo, hi, buckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise merge of histogram sketches built with the SAME
    * lo/hi/buckets: sketch(A ⊎ B) == merge(sketch(A), sketch(B))
    * exactly (counters are sums; pinned in OpsSpec with the CMS/KMV
    * merge pins).
    */
  def histMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
  }

  /** [[histSketch]] grouped by a key column — (key, bucket, cnt) at
    * ≤ |keys|·buckets cells: the per-domain / per-language length
    * profile a mixture designer reads before setting quotas. Still
    * ONE map-side-combined aggregation; cells merge per (key, bucket)
    * with [[histMergeBy]].
    */
  def histSketchBy(df: DataFrame, keyCol: String, valueCol: Column, lo: Long,
      hi: Long, buckets: Int = 256): DataFrame = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(buckets > 0 && buckets <= 4194304,
      s"histogram state $buckets cells/key exceeds 4M — that is no longer a sketch")
    df.select(col(keyCol).as("key"),
        histBucket(valueCol, lo, hi, buckets).as("bucket"))
      .groupBy(col("key"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise merge of [[histSketchBy]] sketches built with the SAME
    * lo/hi/buckets (counters are sums, per key).
    */
  def histMergeBy(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy(col("key"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
  }

  /** [[histQuantiles]] per key over a [[histSketchBy]] frame: the same
    * `percentile_disc`-rank bracket walk, windowed by key — every
    * group gets its own N, rank, and [q_lo, q_hi] with the one-bin
    * guarantee. All post-sketch work runs at sketch cardinality
    * (|keys|·buckets rows), never corpus.
    */
  def histQuantilesBy(sketch: DataFrame, fractionsMicro: Seq[Long], lo: Long,
      hi: Long, buckets: Int): DataFrame = {
    require(fractionsMicro.nonEmpty, "need at least one fraction")
    require(fractionsMicro.forall(f => f >= 0L && f <= 1000000L),
      s"fractions are micros in [0, 1000000], got $fractionsMicro")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = sketch.select(col("key"), col("bucket").cast("long").as("bucket"),
        col("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
    val targets = sketch.groupBy(col("key")).agg(sum(col("cnt")).as("n"))
      .select(col("key"), col("n"),
        explode(array(fractionsMicro.map(lit): _*)).as("fraction_micro"))
      .select(col("key"), col("fraction_micro"), col("n"),
        greatest(lit(1L),
          expr("CAST((CAST(fraction_micro AS DECIMAL(38,0)) * n + 999999) " +
            "div 1000000 AS BIGINT)")).as("target_rank"))
    targets.join(cum.withColumnRenamed("key", "_ck"),
        col("_ck") === col("key") && col("cum") >= col("target_rank"))
      .groupBy(col("key"), col("fraction_micro"), col("n"), col("target_rank"))
      .agg(min(col("bucket")).as("bucket"))
      .select(col("key"), col("fraction_micro"), col("n"), col("target_rank"),
        col("bucket"),
        expr(s"${lo}L + (bucket * ${hi - lo}L) div ${buckets}L").as("q_lo"),
        expr(s"${lo}L + ((bucket + 1) * ${hi - lo}L) div ${buckets}L").as("q_hi"))
  }

  /** Quantile brackets from a [[histSketch]]: for each requested
    * fraction (in integer micros), the target rank is
    * `max(1, ceil(f·N))` — `percentile_disc`'s rank — and the answer
    * is the first bucket whose cumulative count reaches it, reported
    * as the bracket `[q_lo, q_hi]` of that bucket's edges. The true
    * `percentile_disc` of the CLAMPED values always lies inside the
    * bracket (spec-pinned), so the error is one bin width by
    * construction. Everything after the sketch is integer arithmetic
    * over ≤ `buckets` rows (the single-partition cumulative window is
    * sketch-sized, never corpus-sized) — the estimates themselves
    * hash-gate cross-engine. lo/hi/buckets must match the sketch's
    * build parameters — they are the bin function.
    */
  def histQuantiles(sketch: DataFrame, fractionsMicro: Seq[Long], lo: Long,
      hi: Long, buckets: Int): DataFrame = {
    require(fractionsMicro.nonEmpty, "need at least one fraction")
    require(fractionsMicro.forall(f => f >= 0L && f <= 1000000L),
      s"fractions are micros in [0, 1000000], got $fractionsMicro")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = sketch.select(col("bucket").cast("long").as("bucket"), col("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w))
    val targets = sketch.agg(sum(col("cnt")).as("n"))
      .select(col("n"),
        explode(array(fractionsMicro.map(lit): _*)).as("fraction_micro"))
      .select(col("fraction_micro"), col("n"),
        greatest(lit(1L),
          // DECIMAL(38,0) so f·N can't overflow a LONG at corpus scale;
          // integral `div` == DuckDB HUGEINT `//`
          expr("CAST((CAST(fraction_micro AS DECIMAL(38,0)) * n + 999999) " +
            "div 1000000 AS BIGINT)")).as("target_rank"))
    targets.join(broadcast(cum), col("cum") >= col("target_rank"))
      .groupBy(col("fraction_micro"), col("n"), col("target_rank"))
      .agg(min(col("bucket")).as("bucket"))
      .select(col("fraction_micro"), col("n"), col("target_rank"), col("bucket"),
        expr(s"${lo}L + (bucket * ${hi - lo}L) div ${buckets}L").as("q_lo"),
        expr(s"${lo}L + ((bucket + 1) * ${hi - lo}L) div ${buckets}L").as("q_hi"))
  }
}
