package graft.functions

import graft.core.{DateFmt, Json, Rowkey}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expressions for the hot scalar paths, with full
  * whole-stage-codegen support (`doGenCode` emits a direct static call —
  * no UDF serialization, no codegen fence). Both delegate to the pure
  * graft.core functions so the semantics stay locked to the unit corpus.
  */

/** `kafka_date_format(s)` — T9: lenient two-format parse normalized to
  * `yyyy-MM-dd'T'HH:mm:ss.SSS+0000` UTC (HBaseWriter.kt:523-541).
  * Throws on unparseable input, like the reference (callers F4-skip). */
case class KafkaDateFormat(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "kafka_date_format"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(DateFmt.kafkaFormat(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.core.DateFmt.kafkaFormat($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): KafkaDateFormat =
    copy(child = newChild)
}

/** `hdi_rowkey(idJson)` — K3: 4-byte big-endian CRC32 of the key-sorted
  * compact rendering of an id-object JSON string, prefixing those same
  * bytes (MessageUtils.kt:120-149). Returns BINARY. */
case class HdiRowkey(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hdi_rowkey"

  override protected def nullSafeEval(input: Any): Any =
    HdiRowkey.compute(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HdiRowkey.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): HdiRowkey =
    copy(child = newChild)
}

object HdiRowkey {
  /** static entry point shared by interpreted eval and generated code */
  def compute(idJson: String): Array[Byte] =
    Rowkey.generateKey(Json.parseObject(idJson))
}

/** `array_dot(a, b)` — strict left-to-right dot product of two double
  * arrays: the hot inner loop of every similarity operator (q18/q19/
  * q19b/q24). Whole-stage-codegen emits a tight primitive loop over the
  * two ArrayData buffers — no per-element lambda dispatch and no
  * intermediate array, unlike `aggregate(zip_with(...))` (measured ~10×
  * on the ANN queries). Summation order is identical to the
  * higher-order formulation AND to DuckDB's `list_dot_product`, so
  * results stay bit-identical for the oracle hash compare. Array
  * elements are assumed non-null (embedding vectors). */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $b.getDouble($i); }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** `nfc(s)` — Unicode NFC normalization (canonical composition): the
  * first step of any text-cleaning chain (decomposed `e`+U+0301 and
  * composed `é` must dedup/fingerprint identically). Spark has no
  * built-in for it; a native expression keeps the hot path inside
  * whole-stage codegen (a direct `java.text.Normalizer` static call —
  * the same Unicode tables DuckDB's `nfc_normalize` implements, so
  * results hash-match cross-engine). */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** `sorted_intersect_size(a, b)` — the number of common elements of two
  * SORTED long arrays (as `array_sort` over a distinct set produces),
  * counted by a single merge walk. This is the verification kernel of
  * the threshold similarity join (q51): candidates × doc-length long
  * comparisons run inside whole-stage codegen with no per-row data
  * structure — `array_intersect` allocates and fills a hash set for
  * EVERY candidate pair, which dominated the verify stage. Inputs are
  * assumed duplicate-free (the join dedups its element rows); shared
  * duplicates would each count once per matching run, so callers keep
  * the distinct-set contract. */
case class SortedLongIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectSize.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedLongIntersectSize.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedLongIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectSize {
  /** static merge-walk shared by interpreted eval and generated code */
  def count(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val a = x.getLong(i); val b = y.getLong(j)
      if (a < b) i += 1
      else if (a > b) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}

/** `bloom_might_contain(key)` — membership probe of a long key against
  * a pre-built [[org.apache.spark.util.sketch.BloomFilter]], carried in
  * the plan as its serialized bytes. This is the executor-side face of
  * the bloom-prefiltered join (q74): the filter runs inside whole-stage
  * codegen directly on the scan output, BEFORE the shuffle, so the
  * exchange only carries rows that can possibly join. False positives
  * are removed by the exact join that follows — the bloom only prunes,
  * it never decides. */
case class BloomKeyMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloomBytes))

  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomKeyMightContain =
    copy(child = newChild)
}

/** The bounded centroid table of the exact k-means operator, shipped
  * to executors inside [[NearestCentroidPacked]] (k·dim longs — the
  * broadcast-sized side of every Lloyd round). */
case class PackedCentroids(cids: Array[Int], vecs: Array[Array[Long]]) {
  require(cids.length == vecs.length && cids.forall(c => c >= 0 && c < 16),
    "cluster ids must fit the 4-bit pack")
  /** min over centroids of dist²·16 + cid — the integer argmin with a
    * deterministic low-id tie-break, shared by eval and codegen. */
  def nearest(x: ArrayData): Long = {
    var best = Long.MaxValue
    var c = 0
    while (c < vecs.length) {
      val v = vecs(c)
      val n = math.min(x.numElements(), v.length)
      var d = 0L
      var i = 0
      while (i < n) { val dq = x.getLong(i) - v(i); d += dq * dq; i += 1 }
      val packed = d * 16 + cids(c)
      if (packed < best) best = packed
      c += 1
    }
    best
  }
}

/** `nearest_centroid_packed(qv)` — the assignment step of exact
  * k-means as a ZERO-SHUFFLE narrow map: the quantized vector is
  * compared against the (bounded, plan-carried) centroid table inside
  * whole-stage codegen and the winning (dist², cluster) comes back as
  * one packed long (dist2·16 + cid; unpack with `p div 16` / `p % 16`).
  * The k× row replication of a crossJoin(broadcast(centroids)) never
  * happens — the loop runs in-register per row. */
case class NearestCentroidPacked(child: Expression, cents: PackedCentroids)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_centroid_packed"

  override protected def nullSafeEval(input: Any): Any =
    cents.nearest(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, classOf[PackedCentroids].getName)
    defineCodeGen(ctx, ev, c => s"$ref.nearest($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidPacked =
    copy(child = newChild)
}

/** Registration — either through `spark.sql.extensions=graft.GraftExtensions`
  * or imperatively via [[GraftFunctions.register]]. */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "kafka_date_format" -> (children => KafkaDateFormat(children.head)),
    "hdi_rowkey" -> (children => HdiRowkey(children.head)),
    "array_dot" -> (children => ArrayDotProduct(children(0), children(1))),
    "nfc" -> (children => NfcNormalize(children.head)),
    "sorted_intersect_size" -> (children => SortedLongIntersectSize(children(0), children(1))),
    "topk_longs" -> (children =>
      TopKLongs(children(0), children(1)).toAggregateExpression()),
    "hll_registers" -> (children =>
      HllRegisters(children.head).toAggregateExpression()))

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}
