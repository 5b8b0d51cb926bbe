package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[graft.functions.StringSimExprs]] — Jaro–Winkler parity and the q203
  * linkage contract. The pinned doubles below are DuckDB
  * `jaro_winkler_similarity` outputs (the oracle engine), asserted with
  * EXACT equality: the expression's arithmetic order is part of its
  * contract (bit-exact cross-engine scores, not just same pair sets). */
class StringSimSpec extends SparkTestBase {
  import graft.functions.StringSimExprs
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    StringSimExprs.jaroWinkler(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaroWinkler matches DuckDB/RapidFuzz pinned values exactly") {
    assert(jw("martha", "marhta") == 0.9611111111111111)   // Winkler's paper
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("CRASH", "TRASH") == 0.8666666666666667)     // no common prefix
    assert(jw("aaaa", "aaab") == 0.8833333333333334)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("at", "ta") == 0.0)                          // window 0, no match
  }

  test("boost threshold and prefix cap follow RapidFuzz semantics") {
    // jaro = 0.694… < 0.7: common 2-prefix must NOT boost
    assert(jw("aabbcc", "aacbdd") == 0.6944444444444443)
    // jaro = 0.5 with 2-prefix: still no boost
    assert(jw("abcdefgh", "abzzzzzz") == 0.5)
    // 8 common chars but prefix capped at 4: 0.9666… + 0.4·0.0333… = 0.98
    assert(jw("aaaaaaaaab", "aaaaaaaaba") == 0.98)
    // just over threshold: boost applies
    assert(jw("ab", "abcdefghijklmnop") == 0.7666666666666667)
  }

  test("empty operands score 0.0 (DuckDB convention) and nulls propagate") {
    assert(jw("", "abc") == 0.0)
    assert(jw("abc", "") == 0.0)
    assert(jw("", "") == 0.0)
    val r = Seq((Option("x"), Option.empty[String]))
      .toDF("a", "b")
      .select(StringSimExprs.jaro_winkler(col("a"), col("b")).as("j"))
      .head()
    assert(r.isNullAt(0))
  }

  test("codegen column path equals the static helper on fuzzed pairs") {
    val rnd = new scala.util.Random(7)
    def word() = Seq.fill(rnd.nextInt(11))("abcd".charAt(rnd.nextInt(4))).mkString
    val pairs = Seq.fill(500)((word(), word()))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        StringSimExprs.jaro_winkler(col("a"), col("b")).as("j"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == jw(a, b), s"'$a' vs '$b'")
    }
  }

  test("jaro_winkler is SQL-callable once registered") {
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS j").head().getDouble(0)
    assert(r == 0.9611111111111111)
  }

  test("q203 pairs are blocked, ordered, and above the declared gate") {
    val df = operators.DedupOps.q203JaroLinkage(spark, sfDir).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      assert(a.head == b.head)                       // blocking key respected
      assert(math.abs(a.length - b.length) <= 2)     // length band respected
      assert(r.getDouble(2) >= 0.75)
      assert(r.getLong(3) > 0 && r.getLong(4) > 0)
    }
  }
}
