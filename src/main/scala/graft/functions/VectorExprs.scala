package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * Why custom: Spark's higher-order functions (`transform`/`zip_with`/
  * `aggregate`) are `CodegenFallback` — every element evaluation walks an
  * interpreted expression tree with boxing. For 64-float embeddings that
  * is ~200 interpreted calls per pair; at ANN scale (pairs × dims) it
  * dominates. These expressions fuse quantize→multiply→accumulate into
  * one tight primitive loop with whole-stage codegen.
  *
  * Each algorithm is written once, as a static kernel on this object;
  * an expression's `nullSafeEval` and its generated code both call it
  * (the [[HashExprs]]/[[TextExprs]] shape), so interpreted and codegen'd
  * evaluation cannot diverge.
  *
  * Numeric contract (shared with the DuckDB oracle): each float is
  * quantized to `floor(x * 1000 + 0.5)` computed in double — float→double
  * widening is exact and floor/multiply are correctly-rounded IEEE ops, so
  * both engines produce identical int64 grids, and all downstream dot/norm
  * arithmetic is exact integer math. Oracle form:
  * `CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)`.
  */
object VectorExprs {

  private val Scale = 1000.0

  private def quantize(x: Float): Long = math.floor(x.toDouble * Scale + 0.5).toLong

  /** Exact int64 dot product of two quantized float vectors, over the
    * shorter one's length. */
  def quantizedDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += quantize(a.getFloat(i)) * quantize(b.getFloat(i))
      i += 1
    }
    acc
  }

  /** Exact int64 squared norm of a quantized float vector. */
  def quantizedNorm2(a: ArrayData): Long = {
    var acc = 0L
    var i = 0
    while (i < a.numElements()) {
      val q = quantize(a.getFloat(i))
      acc += q * q
      i += 1
    }
    acc
  }

  /** Exact int64 dot product of two already-integer code vectors — the
    * int8-quantized retrieval hot path (q93): codes are stored as
    * array<long>, and the pairwise dot runs pairs × dims times, where an
    * interpreted `zip_with`+`aggregate` chain walks a boxed expression
    * tree per element. Same loop as [[quantizedDot]] minus the
    * quantization. Also serves as the codes' norm (`long_dot(q, q)`). */
  def longDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Fused int8 scalar quantization (q93): per-vector scale = max |x|
    * (floored at 1e-30), codes = ⌊x/scale·127+0.5⌋ as int64 — one pass
    * replacing an interpreted `aggregate` (maxabs) plus `transform`
    * (quantize), both CodegenFallback with per-element boxing. The
    * arithmetic is the same correctly-rounded double sequence as the
    * HOF form and the DuckDB oracle, so values are bit-identical. */
  def int8Codes(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var mx = 1e-30
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > mx) mx = v
      i += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(a.getFloat(i).toDouble / mx * 127.0 + 0.5).toLong
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Count of `toks` elements present in `vocab` (q92 vocab coverage): a
    * per-row hash-set membership count — O(|vocab|+|toks|) where
    * `size(filter(toks, t -> array_contains(vocab, t)))` is
    * O(|vocab|·|toks|) linear scans, and both HOFs are interpreted.
    * Null elements on either side never match. */
  def countInArray(toks: ArrayData, vocab: ArrayData): Long = {
    val set = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < vocab.numElements()) {
      if (!vocab.isNullAt(i)) set.add(vocab.getUTF8String(i))
      i += 1
    }
    var c = 0L
    i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i) && set.contains(toks.getUTF8String(i))) c += 1L
      i += 1
    }
    c
  }

  /** Sum of map lookups for every element of `toks` (q99 unigram LM
    * scoring): `Σ_t m.getOrElse(t, 0L)` over `array<string>` tokens
    * against a `map<string,bigint>` vocabulary — the weighted sibling of
    * [[countInArray]]. One per-row hash build + one pass over the tokens,
    * where an `aggregate(toks, 0L, (acc,t) -> acc + element_at(m,t))` HOF
    * chain walks an interpreted tree per element AND linear-scans the map
    * per lookup (Spark's `element_at` on MapData is O(n)). Null tokens and
    * null map values contribute 0; of duplicate keys, the last non-null
    * value counts. */
  def mapSumLookup(toks: ArrayData, m: MapData): Long = {
    val keys = m.keyArray(); val vals = m.valueArray()
    val lut = new java.util.HashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < keys.numElements()) {
      if (!vals.isNullAt(i)) lut.put(keys.getUTF8String(i), vals.getLong(i))
      i += 1
    }
    var acc = 0L
    i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i)) {
        val v = lut.get(toks.getUTF8String(i))
        if (v != null) acc += v.longValue()
      }
      i += 1
    }
    acc
  }

  /** Fused covariance-pair expansion (q132): quantize the vector to the
    * 1e-3 grid, then emit ONE flat primitive `array<long>` holding the
    * m(m+1)/2 upper-triangle products q_i·q_j (row-major, i ≤ j) followed
    * by the m raw codes q_i — so a single posexplode feeds BOTH the
    * pair-moment aggregate and the per-dim sum aggregate from one pass.
    * Replaces a nested `transform(…, transform(…, struct(i, j, p)))` +
    * `flatten`: higher-order functions are CodegenFallback, which made
    * 2 144 interpreted lambda invocations + struct boxings per row; this
    * is one O(m²/2) primitive loop writing longs.
    *
    * Flat-position contract (the consumer inverts it on the AGGREGATED
    * 2 144-row side, closed-form): products occupy positions
    * offset(i) = m·i − i(i−1)/2 through offset(i) + (m−i) − 1, so
    * i = ⌊(2m+1 − √((2m+1)² − 8·pos)) / 2⌋ and j = pos − offset(i) + i;
    * at boundaries the discriminant is the perfect square (2m+1−2i)², so
    * IEEE sqrt is exact there and the floor is deterministic. Positions
    * ≥ m(m+1)/2 carry the raw q_i for the centering sums. */
  def covPairProducts(a: ArrayData): ArrayData = {
    val m = a.numElements()
    val q = new Array[Long](m)
    var i = 0
    while (i < m) {
      q(i) = quantize(a.getFloat(i))
      i += 1
    }
    val out = new Array[Long](m * (m + 1) / 2 + m)
    var k = 0
    i = 0
    while (i < m) {
      var j = i
      while (j < m) {
        out(k) = q(i) * q(j); k += 1; j += 1
      }
      i += 1
    }
    System.arraycopy(q, 0, out, k, m)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** See [[quantizedDot]]. */
  case class QuantizedDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"quantized_dot expects two array<float> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
    override def nullSafeEval(a: Any, b: Any): Any =
      quantizedDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorExprs.quantizedDot($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** See [[quantizedNorm2]]. */
  case class QuantizedNorm2(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"quantized_norm2 expects array<float>, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any = quantizedNorm2(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.VectorExprs.quantizedNorm2($a)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** See [[longDot]]. */
  case class LongDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"long_dot expects two array<bigint> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
    override def nullSafeEval(a: Any, b: Any): Any =
      longDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorExprs.longDot($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** See [[int8Codes]]. */
  case class Int8Codes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"int8_codes expects array<float>, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any = int8Codes(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.VectorExprs.int8Codes($a)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** See [[countInArray]]. */
  case class CountInArray(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"count_in_array expects two array<string> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
    override def nullSafeEval(a: Any, b: Any): Any =
      countInArray(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorExprs.countInArray($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** See [[mapSumLookup]]. */
  case class MapSumLookup(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), MapType(StringType, LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"map_sum_lookup expects (array<string>, map<string,bigint>), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
    override def nullSafeEval(a: Any, b: Any): Any =
      mapSumLookup(a.asInstanceOf[ArrayData], b.asInstanceOf[MapData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorExprs.mapSumLookup($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** See [[covPairProducts]]. */
  case class CovPairProducts(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"cov_pair_products expects array<float>, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any = covPairProducts(a.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.VectorExprs.covPairProducts($a)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  import org.apache.spark.sql.GraftShims.{toColumn, toExpression}

  def quantized_dot(a: Column, b: Column): Column =
    toColumn(QuantizedDot(toExpression(a), toExpression(b)))

  def quantized_norm2(a: Column): Column =
    toColumn(QuantizedNorm2(toExpression(a)))

  def long_dot(a: Column, b: Column): Column =
    toColumn(LongDot(toExpression(a), toExpression(b)))

  def int8_codes(a: Column): Column =
    toColumn(Int8Codes(toExpression(a)))

  def count_in_array(a: Column, b: Column): Column =
    toColumn(CountInArray(toExpression(a), toExpression(b)))

  def cov_pair_products(a: Column): Column =
    toColumn(CovPairProducts(toExpression(a)))

  def map_sum_lookup(a: Column, b: Column): Column =
    toColumn(MapSumLookup(toExpression(a), toExpression(b)))
}
