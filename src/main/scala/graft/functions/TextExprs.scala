package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for per-row character statistics.
  *
  * [[CharStats]] computes the character-frequency moments behind the
  * low-diversity/spam gate (q143) in ONE pass over the row's text:
  * `[n_chars, distinct_chars, sum_of_squared_counts, top_count]`. The
  * relational formulation — explode one row per character, shuffle the
  * char stream on (doc_id, ch), aggregate — moves O(total chars) rows
  * through an exchange to compute what is a purely row-local quantity;
  * this expression keeps the whole computation inside the scan stage
  * (zero exchanges on the query side, plan-lock in `PlanShapeSpec`).
  *
  * From the moments: collision probability Σc²/n² (the Simpson index —
  * a monotone transform of Rényi-2 entropy, so it orders documents
  * exactly like an entropy gate WITHOUT a transcendental: every output
  * stays an exact int64 or a division of exact int64s, the repo's
  * cross-engine determinism contract) and top-char fraction max(c)/n.
  *
  * Counting unit is the Unicode code point — the same unit DuckDB's
  * `length`/`substring` use, so the oracle's exploded recount matches on
  * any text, not just ASCII. ASCII takes a 128-slot array fast path;
  * other code points fall back to a small open hash map.
  */
object TextExprs {

  /** Static helper the generated code calls: one pass over the string,
    * returns [n, distinct, sum(c²), max(c)] as an ArrayData. */
  def charStats(s: UTF8String): ArrayData = {
    val str = s.toString
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var n = 0L
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap
        val cell = other.get(cp)
        if (cell == null) other.put(cp, Array(1L)) else cell(0) += 1
      }
    }
    var distinct = 0L
    var sumSq = 0L
    var top = 0L
    var j = 0
    while (j < 128) {
      val c = ascii(j)
      if (c > 0) { distinct += 1; sumSq += c * c; if (c > top) top = c }
      j += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        distinct += 1; sumSq += c * c; if (c > top) top = c
      }
    }
    new GenericArrayData(Array(n, distinct, sumSq, top))
  }

  /** See [[charStats]]. Stays inside whole-stage codegen (the generated
    * code is one static call — no CodegenFallback row boxing). */
  case class CharStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"char_stats expects string, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any =
      charStats(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.TextExprs.charStats($a)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  import org.apache.spark.sql.GraftShims.{toColumn, toExpression}

  def char_stats(c: Column): Column = toColumn(CharStats(toExpression(c)))
}
