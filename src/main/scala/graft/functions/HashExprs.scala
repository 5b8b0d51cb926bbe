package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the dedup/fingerprint hash hot path.
  *
  * [[Md5Long60]] computes the SAME value as
  * `conv(substring(md5(x), 1, 15), 16, 10)` — the first 60 bits of the md5
  * digest as a non-negative long, matching the DuckDB oracle form
  * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)` — but without the
  * built-in chain's per-call costs: Spark's `md5` allocates a fresh
  * MessageDigest AND a 32-char hex string per call, then `conv` re-parses
  * that string. This expression reuses a thread-local digest, reads the 60
  * bits straight off the digest bytes, and optionally prepends a constant
  * seed prefix (for the minhash permutation family) without materializing
  * the concatenated string. Measured ~3× on the md5-bound operators
  * (winnowing, minhash signatures, simhash votes).
  */
object HashExprs {

  private val localMd = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Static helper the generated code calls. First 8 digest bytes as a
    * big-endian long, logically right-shifted 4 ⇒ the value of the first
    * 15 hex digits of the md5 — always non-negative. */
  def md5Long60(prefix: Array[Byte], s: UTF8String): Long = {
    val md = localMd.get()
    md.reset()
    if (prefix.length > 0) md.update(prefix)
    md.update(s.getBytes)
    val d = md.digest()
    val top = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }

  /** 60-bit md5 hash of a string column, with an optional constant prefix
    * hashed in front (seeded hash family). */
  case class Md5Long60(child: Expression, prefix: String = "")
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"md5long60 expects string, got ${t.catalogString}")
    }
    @transient private lazy val prefixBytes: Array[Byte] =
      prefix.getBytes("UTF-8")
    override def nullSafeEval(a: Any): Any =
      md5Long60(prefixBytes, a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val pb = ctx.addReferenceObj("md5prefix", prefixBytes, "byte[]")
      defineCodeGen(ctx, ev, a => s"graft.functions.HashExprs.md5Long60($pb, $a)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Static helper: 16-bit mask whose bit j (0-based) is set iff the
    * (j+1)-th hex digit of md5(s) is >= 8 — i.e. the top bit of each of
    * the first 16 nibbles. Replaces 16 separate
    * `conv(substring(md5(x), b, 1), 16, 10) >= 8` evaluations (the simhash
    * per-token vote) with one digest + bit tests. */
  def md5SignMask16(s: UTF8String): Long = {
    val md = localMd.get()
    md.reset()
    md.update(s.getBytes)
    val d = md.digest()
    var mask = 0L
    var j = 0
    while (j < 8) {
      if ((d(j) & 0x80) != 0) mask |= 1L << (2 * j)       // high nibble
      if ((d(j) & 0x08) != 0) mask |= 1L << (2 * j + 1)   // low nibble
      j += 1
    }
    mask
  }

  /** See [[md5SignMask16]]. */
  case class Md5SignMask16(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"md5_signmask16 expects string, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any =
      md5SignMask16(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.HashExprs.md5SignMask16($a)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Whole-operator fusion of winnowing fingerprint selection: char
    * `gram`-gram 60-bit md5 hashes, min over every `window`-wide sliding
    * window (including the shrinking suffix windows, matching
    * `ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING`), distinct — all in one
    * pass per document. A monotonic deque gives O(n) window minima with no
    * per-position array slicing; compared to the HOF/window formulations
    * this removes both the interpreted-lambda overhead and (vs the window
    * form) a full sort-shuffle of the gram stream. Value-identical to the
    * DuckDB oracle's window-min formulation (hash parity via
    * [[md5Long60]]). */
  case class WinnowFingerprints(child: Expression, gram: Int, window: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprints expects string, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any = {
      val s = a.asInstanceOf[UTF8String]
      val n = s.numChars()
      val g = n - gram + 1
      if (g <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
      val h = new Array[Long](g)
      val empty = Array.empty[Byte]
      var i = 0
      while (i < g) {
        h(i) = md5Long60(empty, s.substringSQL(i + 1, gram))
        i += 1
      }
      // Monotonic deque: iterate window starts s descending, so the task
      // is "min of the last `window` arrivals" — the textbook sliding-min.
      // back = newest arrival (smallest index s), front = oldest surviving
      // (largest index); h increases front→back, min always at the front.
      // Suffix windows near the end of the doc shrink exactly like the
      // frame ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING.
      val dq = new java.util.ArrayDeque[Int]()
      val seen = new java.util.HashSet[java.lang.Long]()
      val out = new scala.collection.mutable.ArrayBuffer[Long]()
      var s2 = g - 1
      while (s2 >= 0) {
        while (!dq.isEmpty && h(dq.peekLast()) >= h(s2)) dq.pollLast()
        dq.addLast(s2)
        while (dq.peekFirst() > s2 + window - 1) dq.pollFirst()
        val m = h(dq.peekFirst())
        if (seen.add(m)) out += m
        s2 -= 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word-k-gram hashes straight from a token ARRAY: one chained-XXH64
    * long per window start, no gram STRING ever materialized — the fused
    * replacement for `explode(shingles(toks,k))` + `xxhash64`, which
    * allocates and copies a concatenated string per gram before hashing
    * it. Chaining (each token hashed with the previous digest as seed)
    * makes token boundaries part of the state, so no separator byte is
    * needed ("ab","c" and "a","bc" diverge at the second seed). Used
    * where the hash value is only ever a join/group key under the usual
    * 64-bit-injectivity argument (q35's k = 3, [[gram3_hash64]]); NOT
    * used where an oracle reproduces the hash bit-for-bit (q36's
    * md5-based minhash). k is a construction-time literal (the
    * span-dedup family sizes it per operator: 3 for contamination grams,
    * 10 for Lee et al.-style repeated-span detection). A null ELEMENT
    * (legal: the function is SQL-registered, so user arrays arrive with
    * containsNull=true) folds a fixed -1 marker into the chain instead of
    * NPE-ing — distinct from the empty string's path. */
  case class GramKHash64(child: Expression, k: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(k >= 1, s"gramk_hash64 needs k >= 1, got $k")
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gramk_hash64 expects array<string>, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val g = n - (k - 1)
      if (g <= 0) {
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.empty[Long])
      }
      val out = new Array[Long](g)
      var i = 0
      while (i < g) {
        var h = 42L
        var j = 0
        while (j < k) {
          val t = arr.getUTF8String(i + j)
          h = if (t == null) {
            org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(-1L, h)
          } else {
            org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h)
          }
          j += 1
        }
        out(i) = h
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[GramKHash64]] widened to 128 bits: per window start, TWO
    * independently-seeded chained XXH64 streams computed in the SAME
    * pass over the tokens (seed 42 — identical lattice to
    * [[GramKHash64]] — and the golden-ratio seed 0x9E3779B97F4A7C15),
    * emitted as `array<struct<h1,h2>>`. For keys that drive ACTIONABLE
    * output (q234's deletion list), 64 bits collide by birthday at
    * corpus scale (~2³² windows); the pair pushes the false-span
    * expectation to ~n²/2¹²⁹ — zero for any physical corpus. Cost is
    * one extra long of hash arithmetic per token, NOT a second pass:
    * the token array is scanned once. */
  case class GramKHash128(child: Expression, k: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    require(k >= 1, s"gramk_hash128 needs k >= 1, got $k")
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("h1", LongType, nullable = false),
          org.apache.spark.sql.types.StructField("h2", LongType, nullable = false))),
        containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gramk_hash128 expects array<string>, got ${t.catalogString}")
    }
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val g = n - (k - 1)
      if (g <= 0) {
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.empty[Any])
      }
      val out = new Array[Any](g)
      var i = 0
      while (i < g) {
        var h1 = 42L
        var h2 = 0x9E3779B97F4A7C15L
        var j = 0
        while (j < k) {
          val t = arr.getUTF8String(i + j)
          if (t == null) {
            h1 = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(-1L, h1)
            h2 = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(-1L, h2)
          } else {
            h1 = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h1)
            h2 = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h2)
          }
          j += 1
        }
        out(i) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](h1, h2))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  import org.apache.spark.sql.GraftShims.{toColumn, toExpression}

  def md5long60(c: Column, prefix: String = ""): Column =
    toColumn(Md5Long60(toExpression(c), prefix))

  def winnow_fingerprints(c: Column, gram: Int = 8, window: Int = 16): Column =
    toColumn(WinnowFingerprints(toExpression(c), gram, window))

  def md5_signmask16(c: Column): Column =
    toColumn(Md5SignMask16(toExpression(c)))

  def gram3_hash64(c: Column): Column = gramk_hash64(c, 3)

  def gramk_hash64(c: Column, k: Int): Column =
    toColumn(GramKHash64(toExpression(c), k))

  def gramk_hash128(c: Column, k: Int): Column =
    toColumn(GramKHash128(toExpression(c), k))
}
