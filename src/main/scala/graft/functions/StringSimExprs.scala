package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst string-similarity expressions.
  *
  * [[JaroWinkler]] is the classic record-linkage similarity (Winkler's
  * prefix-boosted Jaro score, the standard measure for short entity
  * names/identifiers where Levenshtein over-penalizes transposed typos).
  * Spark ships `levenshtein` but no Jaro family; this fills the gap as a
  * codegen'd expression — one static call inside whole-stage codegen, no
  * UDF boxing, O(|a|·window) time and two small boolean scratch arrays
  * per row, so the hot path of a blocked linkage join stays in the same
  * generated loop as the join itself.
  *
  * Semantics are pinned to the published Jaro–Winkler definition as
  * implemented by RapidFuzz (the implementation DuckDB's
  * `jaro_winkler_similarity` embeds), which is what the correctness
  * oracle runs:
  *   - match window = ⌊max(|a|,|b|)/2⌋ − 1 (min 0); greedy first-free
  *     match; transpositions = ⌊mismatched-order matches / 2⌋;
  *   - jaro = (m/|a| + m/|b| + (m − t)/m) / 3, double division in that
  *     order (bit-exact cross-engine: verified on 20k fuzzed pairs);
  *   - Winkler boost only when jaro > 0.7: jaro + ℓ·0.1·(1−jaro) with
  *     ℓ = common prefix capped at 4;
  *   - either side empty → 0.0 (DuckDB's convention, incl. both empty).
  *
  * Comparison unit is the UTF-16 code unit; parity with the byte/
  * code-point oracles is exact on ASCII (this corpus's alphabet —
  * supplementary-plane text would need a code-point port on both sides).
  */
object StringSimExprs {

  /** Static helper the generated code calls — see object doc for the
    * pinned semantics. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString
    val t = b.toString
    val la = s.length
    val lb = t.length
    if (la == 0 || lb == 0) return 0.0
    var window = math.max(la, lb) / 2 - 1
    if (window < 0) window = 0
    val sm = new Array[Boolean](la)
    val tm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb, i + window + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!tm(j) && s.charAt(i) == t.charAt(j)) {
          sm(i) = true; tm(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var mism = 0
    var k = 0
    i = 0
    while (i < la) {
      if (sm(i)) {
        while (!tm(k)) k += 1
        if (s.charAt(i) != t.charAt(k)) mism += 1
        k += 1
      }
      i += 1
    }
    val trans = mism / 2
    var sim = (m.toDouble / la + m.toDouble / lb +
      (m - trans).toDouble / m) / 3.0
    if (sim > 0.7) {
      val maxPref = math.min(4, math.min(la, lb))
      var pref = 0
      while (pref < maxPref && s.charAt(pref) == t.charAt(pref)) pref += 1
      sim += pref.toDouble * 0.1 * (1.0 - sim)
    }
    sim
  }

  /** See [[jaroWinkler]]. Codegen is a single static call — the
    * expression stays inside whole-stage codegen. */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"jaro_winkler expects two strings, got " +
            s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
      }
    override def nullSafeEval(a: Any, b: Any): Any =
      jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StringSimExprs.jaroWinkler($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  import org.apache.spark.sql.GraftShims.{toColumn, toExpression}

  def jaro_winkler(a: Column, b: Column): Column =
    toColumn(JaroWinkler(toExpression(a), toExpression(b)))
}
