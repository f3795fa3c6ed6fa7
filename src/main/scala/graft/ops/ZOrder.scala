package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout for multi-column scan pruning.
  *
  * Sorting 100 TB by one column makes that column's file-level min/max
  * stats razor-sharp and every other column's useless; interleaving the
  * bit-ranks of several columns gives each of them ~sqrt-sharp ranges,
  * so predicates on ANY of the z-ordered columns prune most files.
  * This is a layout operator, not a query: run it when writing or
  * compacting a table whose read patterns filter on several columns.
  *
  * Ranks come from approximate quantiles (one small agg job per
  * column), so the curve is resistant to skewed value distributions —
  * equi-width bucketing would collapse a zipfian column onto a handful
  * of codes. Everything after the quantile probe is a narrow map + one
  * range exchange: no collect of data rows, scales with partition
  * count.
  */
object ZOrder {

  /** Quantile rank of `v`: the count of boundaries <= v (binary search),
    * in [0, bounds.length].
    */
  private[graft] def rankOf(bounds: Array[Double], v: Double): Int = {
    var lo = 0; var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Morton code: bit j of ranks(i) lands at position j * nCols + i. */
  private[graft] def interleave(ranks: Array[Int], nCols: Int): Long = {
    var acc = 0L
    var i = 0
    while (i < nCols) {
      var j = 0
      while (j < 32 && (ranks(i) >> j) != 0) {
        if (((ranks(i) >> j) & 1) == 1) acc |= 1L << (j * nCols + i)
        j += 1
      }
      i += 1
    }
    acc
  }

  /** Add a `zCol` Morton code interleaving `bits`-bit quantile ranks of
    * `cols` (numeric). Total bits must fit a positive Long.
    */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int = 8,
      zCol: String = "__z"): DataFrame = {
    require(cols.nonEmpty, "zorder needs at least one column")
    require(cols.size * bits <= 63, s"${cols.size} cols x $bits bits exceeds a Long")
    val nBounds = (1 << bits) - 1
    val probs = (1 to nBounds).map(_.toDouble / (nBounds + 1)).toArray
    // one approxQuantile call over all columns: a single pass/job instead
    // of one per column
    val bounds: Array[Array[Double]] = df.stat.approxQuantile(
      cols.toArray, probs, 0.001)
    // native codegen expression, not a UDF: this runs once per row of
    // every table the compactor re-lays-out. Nulls rank 0 — they
    // cluster with the lowest values, which is also where approxQuantile
    // (null-ignoring) leaves the first boundary.
    df.withColumn(zCol, graft.functions.GraftFunctions.graftMorton(
      bounds, cols.map(c => col(c).cast("double"))))
  }

  /** Repartition + sort `df` along the Morton curve of `cols`: each
    * output partition (→ output file) covers a compact hyper-rectangle
    * of the value space, so per-file min/max statistics prune reads on
    * any of the z-ordered columns (LayoutSpec measures this against a
    * single-column sort).
    */
  def layoutBy(df: DataFrame, cols: Seq[String], numPartitions: Int,
      bits: Int = 8): DataFrame = {
    val zc = "__graft_z"
    withZValue(df, cols, bits, zc)
      .repartitionByRange(numPartitions, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }

  /** [[partitionSpanFraction]] measured per physical FILE of a written
    * table (grouped on `input_file_name()`), so the metric reflects
    * what parquet footer min/max stats will actually prune — immune to
    * the read-side split coalescing that blurs the partition-level
    * metric on small files. `df` must be a file-backed scan.
    */
  def fileSpanFraction(df: DataFrame, probeCol: String): Double = {
    val perFile = df
      .groupBy(input_file_name().as("__f"))
      .agg(min(col(probeCol)).cast("double").as("mn"),
        max(col(probeCol)).cast("double").as("mx"))
      .agg(avg(col("mx") - col("mn")).as("avgSpan"),
        (max(col("mx")) - min(col("mn"))).as("globalSpan"))
      .head()
    if (perFile.isNullAt(0) || perFile.isNullAt(1)) return 0.0
    val global = perFile.getDouble(1)
    if (global == 0) 0.0 else perFile.getDouble(0) / global
  }

  /** Pruning-power diagnostic: per partition, the min/max span of
    * `probeCol` as a fraction of its global span — the expected fraction
    * of partitions a point predicate on `probeCol` must read. ~1.0 for a
    * layout sorted on some OTHER column; ~2^-bits·k for a z-ordered one.
    */
  def partitionSpanFraction(df: DataFrame, probeCol: String): Double = {
    val perPart = df
      .withColumn("__pid", spark_partition_id())
      .groupBy(col("__pid"))
      .agg(min(col(probeCol)).cast("double").as("mn"),
        max(col(probeCol)).cast("double").as("mx"))
      .agg(avg(col("mx") - col("mn")).as("avgSpan"),
        (max(col("mx")) - min(col("mn"))).as("globalSpan"))
      .head()
    // degenerate input (empty df, all-null probe column) leaves both
    // aggregates NULL — a diagnostic should report 0, not throw
    if (perPart.isNullAt(0) || perPart.isNullAt(1)) return 0.0
    val global = perPart.getDouble(1)
    if (global == 0) 0.0 else perPart.getDouble(0) / global
  }
}
