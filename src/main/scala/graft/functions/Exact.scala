package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-deterministic numeric helpers.
  *
  * The correctness gate hash-compares our results against a DuckDB oracle.
  * Floating-point SUM/AVG are order-dependent, and Spark's partial/final
  * aggregation order differs from DuckDB's sequential scan — so a plain
  * `sum(double)` can drift in the low ulps and flip a hash. The fix is to
  * do the *associative* part of every aggregate in exact arithmetic
  * (decimal or integer), then convert to double at the very end: int→double
  * and decimal→double conversions plus IEEE division/sqrt are correctly
  * rounded, so both engines produce bit-identical doubles.
  *
  * The same pattern is the right call at 100 TB: decimal sums are exact at
  * any partition count, so results don't change when AQE re-splits a stage.
  */
object Exact {
  /** Exact SUM of a double column: cast each value to DECIMAL(18,scale)
    * (ties-away rounding, identical in DuckDB), sum exactly, emit double.
    * Oracle form: CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE). */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact AVG: exact decimal sum, double division by count.
    * Oracle form: CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / count(x). */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** Exact revenue-style product sum: both factors become exact decimals,
    * the product is exact (scale adds), the sum is exact.
    * Oracle: CAST(sum(CAST(x AS DECIMAL(18,2)) * (1 - CAST(y AS DECIMAL(18,2)))) AS DOUBLE). */
  def drevenue(price: Column, discount: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * (lit(1) - discount.cast(DecimalType(18, 2))))
      .cast("double")

  // ---- primitive-long fast path ------------------------------------------
  //
  // The decimal path above is exact but pays per ROW: Spark's double→decimal
  // cast goes through Double.toString + BigDecimal parse, and decimal
  // multiplies through java.math.BigDecimal — measured as the whole cost of
  // the q01 bench outlier (8 decimal aggregates ⇒ ~4 µs/row). The fast path
  // below moves all per-row work onto codegen'd primitives (one double
  // multiply + floor + long ops) and touches decimal once per GROUP.

  /** Scaled-integer value: floor(x·10^s + 0.5) as long — for data with ≤ s
    * decimal digits this is bit-identical to `CAST(x AS DECIMAL(p,s))`
    * (both see the double's value within ε ≪ half-ulp-of-scale of the true
    * decimal; equivalence is spec-asserted per column on real data).
    * NOT for negative exact-half values (.xx5): HALF_UP rounds away from
    * zero, floor(+0.5) toward +∞ — no 2-decimal source column hits that. */
  def cents(c: Column, s: Int = 2): Column =
    floor(c * lit(math.pow(10, s)) + lit(0.5)).cast("long")

  /** Overflow-safe exact sum of a scaled-long column, emitted as
    * double(Σ/10^s). A plain `sum(long)` would overflow int64 once
    * Σ > 9.2e18 (reachable for cents-product columns at 100 TB), so the
    * per-row value is split into THREE 21-bit radix chunks — each summed
    * as a primitive long — and recombined in DECIMAL(38) once per group.
    * Every chunk is < 2^21 in magnitude, so each partial sum stays exact
    * while the GROUP has fewer than 2^63/2^21 = 2^42 ≈ 4.4e12 rows —
    * a row-count bound independent of value magnitude (a 2-chunk split's
    * hi half is magnitude-bounded instead: Σ|v| < 2^83 ≈ 9.7e24, which
    * squared-cents moment columns exceed at ~6e11 rows; see
    * [[lsumDec]]). 100 TB ≈ 6e11 lineitem rows ⇒ 7× headroom even for a
    * single global group. The final divide-by-10^s happens in decimal
    * (scale ≥ 6, exact for s ≤ 6) then one correctly-rounded cast to
    * double, so results match `CAST(sum(decimal) AS DOUBLE)` oracles
    * bit-for-bit. Splitting is exact for negatives too (two's complement:
    * v == (v >> 21)·2^21 + (v & 0x1FFFFF), applied twice). */
  def lsum(scaled: Column, s: Int): Column =
    (lsumDec(scaled) / lit(math.pow(10, s).toLong)).cast("double")

  /** Exact AVG over a scaled-long column: exact sum, double division by
    * count — same shape as [[davg]]. */
  def lavg(scaled: Column, s: Int): Column = lsum(scaled, s) / count(scaled)

  /** [[lsum]]'s exact integer sum kept as DECIMAL(38,0) — for statistical
    * moments (Σx, Σx², Σxy) that feed variance/correlation formulas, which
    * need the raw integers, not double(Σ/10^s). Three 21-bit radix chunks
    * (top chunk arithmetic-shifted, so negatives split exactly), each a
    * primitive long sum: exact for any long inputs while the group has
    * < 2^42 rows — squared-cents moments (~1e14/row) included, which a
    * 2-chunk 2^20 split would silently overflow near 100 TB scale
    * (Σ|v| limit ≈ 9.7e24 vs Σx² ≈ 6e25 at 6e11 rows). DuckDB mirrors
    * with HUGEINT sums (both sides exact before the final double
    * conversion). The per-group bound is asserted in PropertySpec against
    * BigInt ground truth at adversarial magnitudes. */
  def lsumDec(scaled: Column): Column = {
    val mask = lit((1L << 21) - 1)
    val top = sum(shiftright(scaled, 42)).cast(DecimalType(38, 0))
    val mid = sum(shiftright(scaled, 21).bitwiseAND(mask)).cast(DecimalType(38, 0))
    val lo  = sum(scaled.bitwiseAND(mask)).cast(DecimalType(38, 0))
    top * lit(1L << 42) + mid * lit(1L << 21) + lo
  }

  /** Drop-in fast-path [[dsum]] for columns with ≤ 2 decimal digits (every
    * TPC-H money/quantity column): same value, same oracle SQL form, all
    * per-row work primitive. */
  def fsum(c: Column): Column = lsum(cents(c), 2)

  /** Drop-in fast-path [[drevenue]]: price·(1−discount) as an exact long
    * cents·(100−cents) product (scale 4), summed overflow-safe. */
  def frevenue(price: Column, discount: Column): Column =
    lsum(cents(price) * (lit(100L) - cents(discount)), 4)
}
