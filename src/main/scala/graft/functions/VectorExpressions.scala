package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product over `array<float>` / `array<double>`
  * columns.
  *
  * The built-in equivalent, `aggregate(zip_with(a, b, _*_), 0d, _+_)`,
  * is a higher-order function — CodegenFallback, per-row closure
  * invocation and an intermediate array allocation per pair. On an
  * all-pairs similarity join that's the entire runtime (150 s for 12.5M
  * pairs at sf0.1). This expression generates a single fused loop with
  * no allocation; accumulation is sequential left→right in double, the
  * same order as the interpreted version and the DuckDB oracle.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if (l == FloatType || l == DoubleType) && l == r =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_dot expects two array<float>/array<double> of matching type, " +
            s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = math.min(la.numElements(), ra.numElements())
    var sum = 0.0
    var i = 0
    if (elemType == FloatType) {
      while (i < n) { sum += la.getFloat(i).toDouble * ra.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { sum += la.getDouble(i) * ra.getDouble(i); i += 1 }
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemType == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double)$l.$get($i) * (double)$r.$get($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API surface for graft's native expressions, plus their SQL
  * registration.
  */
object GraftFunctions {

  /** The `graft_*` SQL names and builders [[ensureRegistered]] installs. */
  private val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct],
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))),
    ("graft_shingles", classOf[HashedShingles],
      (exprs: Seq[Expression]) => HashedShingles(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    ("graft_text_metrics", classOf[TextMetrics],
      (exprs: Seq[Expression]) => TextMetrics(exprs(0))),
    ("graft_simhash", classOf[SimHash64],
      (exprs: Seq[Expression]) => SimHash64(exprs(0))),
    ("graft_simhash_md5", classOf[SimHashMd5],
      (exprs: Seq[Expression]) => SimHashMd5(exprs(0))),
    ("graft_minhashes", classOf[MinHashes],
      (exprs: Seq[Expression]) => MinHashes(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    ("graft_fingerprint", classOf[MinShingleMd5],
      (exprs: Seq[Expression]) => MinShingleMd5(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    ("graft_morton", classOf[MortonCode],
      (exprs: Seq[Expression]) => MortonCode(exprs)),
    ("graft_nfc", classOf[NfcNormalize],
      (exprs: Seq[Expression]) => NfcNormalize(exprs(0))),
    ("graft_jaro_winkler", classOf[JaroWinklerSim],
      (exprs: Seq[Expression]) => JaroWinklerSim(exprs(0), exprs(1))),
    ("graft_blocklist", classOf[BlocklistCounts],
      (exprs: Seq[Expression]) => {
        require(exprs(1).foldable,
          "graft_blocklist patterns must be a literal array of strings")
        val arr = exprs(1).eval().asInstanceOf[ArrayData]
        BlocklistCounts(exprs(0), (0 until arr.numElements())
          .map(i => arr.getUTF8String(i).toString))
      }),
    ("graft_gear_chunks", classOf[GearChunks],
      (exprs: Seq[Expression]) => GearChunks(exprs(0),
        exprs(1).eval().asInstanceOf[Int])),
    ("graft_byte_remap", classOf[ByteRemap],
      (exprs: Seq[Expression]) => ByteRemap(exprs(0))),
    ("graft_warc_records", classOf[WarcRecords],
      (exprs: Seq[Expression]) => WarcRecords(exprs(0))))

  /** Idempotently register graft expressions on a session under their
    * `graft_*` names. Only SQL text (`spark.sql("SELECT graft_dot(a, b)
    * ...")`, `expr(...)`) needs this, once per session; the Column helpers
    * below build their expressions directly and work on any session
    * without it. The session's own FunctionRegistry is the source of
    * truth — an external dedupe key (identity hash) can collide across
    * sessions and silently skip one.
    */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    // per-function check: a session registered by an older library
    // version still picks up functions added since
    builders.foreach { case (name, cls, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name), builder)
    }
  }

  /** Fused native dot product. */
  def graftDot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Distinct hashed word-shingle set. */
  def graftShingles(text: Column, n: Int): Column =
    column(HashedShingles(expression(text), n))

  /** One-pass text metrics struct. */
  def graftTextMetrics(text: Column): Column = column(TextMetrics(expression(text)))

  /** One-pass 64-bit SimHash. */
  def graftSimhash(text: Column): Column = column(SimHash64(expression(text)))

  /** One-pass 32-bit md5 SimHash, DuckDB-replayable. */
  def graftSimhashMd5(text: Column): Column = column(SimHashMd5(expression(text)))

  /** k seeded MinHash values of a shingle set, one narrow pass. */
  def graftMinhashes(set: Column, k: Int): Column =
    column(MinHashes(expression(set), k))

  /** One-pass min-md5 shingle fingerprint. */
  def graftFingerprint(text: Column, n: Int): Column =
    column(MinShingleMd5(expression(text), n))

  /** Unicode NFC normalization, codegen'd. */
  def graftNfc(text: Column): Column = column(NfcNormalize(expression(text)))

  /** GPT-2-style byte-to-printable remap with whitespace passthrough
    * (see [[ByteRemap]]).
    */
  def graftByteRemap(text: Column): Column = column(ByteRemap(expression(text)))

  /** WARC-style container record walk — Content-Length-framed, prefix-
    * keeping rejection (see [[WarcRecords]]).
    */
  def graftWarcRecords(container: Column): Column =
    column(WarcRecords(expression(container)))

  /** Native Jaro-Winkler similarity, DuckDB-exact semantics. */
  def graftJaroWinkler(a: Column, b: Column): Column =
    column(JaroWinklerSim(expression(a), expression(b)))

  /** One-pass Aho-Corasick blocklist counts, index-aligned with
    * `patterns`.
    */
  def graftBlocklist(text: Column, patterns: Seq[String]): Column =
    column(BlocklistCounts(expression(text), patterns))

  /** Content-defined chunk spans `array<struct<start, len>>` via the
    * gear rolling hash.
    */
  def graftGearChunks(text: Column, maskBits: Int): Column =
    column(GearChunks(expression(text), maskBits))

  /** `value` as a long the generated code reads at run time, so plans
    * that differ only in it share their compiled classes (see
    * [[LongParam]]).
    */
  def graftParam(value: Long): Column = column(LongParam(value))

  /** Native Morton code of `cols` under per-column quantile `bounds`. */
  def graftMorton(bounds: Array[Array[Double]], cols: Seq[Column]): Column =
    column(MortonCode((typedLit[Seq[Seq[Double]]](bounds.map(_.toSeq).toSeq) +: cols)
      .map(expression)))
}
