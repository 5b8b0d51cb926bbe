package graft

import org.apache.spark.sql.{GraftShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

/** Session-extensions entry point: the one list of everything the library
  * adds to a Spark session — the top-k and global-rank planner
  * strategies, their optimizer rules, and the custom SQL functions.
  * [[GraftSession]] sets `spark.sql.extensions=graft.GraftExtensions`;
  * another deployment does the same with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (Spark's plugin
  * mechanism; no code changes in user jobs). Extensions apply only when a
  * session is built; nothing installs them on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  /** The `k` argument of the gram-hash functions: an INT literal. */
  private def intLiteral(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn's k must be an INT literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => plans.TopKPerKey.TopKStrategy)
    ext.injectOptimizerRule(_ => plans.TopKPerKey.TopKRewrite)
    ext.injectPlannerStrategy(_ => plans.GlobalRank.GlobalRankStrategy)
    // in this batch the rule iterates with ColumnPruning, so the Project
    // it inserts under a GlobalRankPlan folds into the scan
    ext.injectOptimizerRule(_ => plans.GlobalRank.GlobalRankPruning)
    // naive global row_number() windows compile to the range-exchange
    // operator (rank-bounded top-k shapes are deliberately left alone)
    ext.injectOptimizerRule(_ => plans.GlobalRank.GlobalWindowRewrite)
    ext.injectFunction((FunctionIdentifier("quantized_dot"),
      info("quantized_dot", "exact int64 dot of 1e-3-quantized float vectors"),
      (es: Seq[Expression]) => functions.VectorExprs.QuantizedDot(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("quantized_norm2"),
      info("quantized_norm2", "exact int64 squared norm of a quantized float vector"),
      (es: Seq[Expression]) => functions.VectorExprs.QuantizedNorm2(es.head)))
    ext.injectFunction((FunctionIdentifier("long_dot"),
      info("long_dot", "exact int64 dot of two bigint code vectors"),
      (es: Seq[Expression]) => functions.VectorExprs.LongDot(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("int8_codes"),
      info("int8_codes", "per-vector-scaled int8 quantization codes as bigints"),
      (es: Seq[Expression]) => functions.VectorExprs.Int8Codes(es.head)))
    ext.injectFunction((FunctionIdentifier("count_in_array"),
      info("count_in_array", "count of left-array elements present in the right array"),
      (es: Seq[Expression]) => functions.VectorExprs.CountInArray(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", "Jaro-Winkler similarity (RapidFuzz semantics)"),
      (es: Seq[Expression]) => functions.StringSimExprs.JaroWinkler(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("md5long60"),
      info("md5long60", "first 60 bits of md5(x) as a non-negative long"),
      (es: Seq[Expression]) => functions.HashExprs.Md5Long60(es.head)))
    ext.injectFunction((FunctionIdentifier("md5_signmask16"),
      info("md5_signmask16", "16-bit mask of md5 hex digits >= 8"),
      (es: Seq[Expression]) => functions.HashExprs.Md5SignMask16(es.head)))
    ext.injectFunction((FunctionIdentifier("gram3_hash64"),
      info("gram3_hash64", "chained-XXH64 word-3-gram hashes of a token array"),
      (es: Seq[Expression]) => functions.HashExprs.GramKHash64(es.head, 3)))
    ext.injectFunction((FunctionIdentifier("gramk_hash64"),
      info("gramk_hash64",
        "chained-XXH64 word-k-gram hashes of a token array; k an int literal"),
      (es: Seq[Expression]) =>
        functions.HashExprs.GramKHash64(es.head, intLiteral("gramk_hash64", es(1)))))
    ext.injectFunction((FunctionIdentifier("gramk_hash128"),
      info("gramk_hash128",
        "two independently-seeded chained-XXH64 word-k-gram hash structs; k an int literal"),
      (es: Seq[Expression]) =>
        functions.HashExprs.GramKHash128(es.head, intLiteral("gramk_hash128", es(1)))))
    ext.injectFunction((FunctionIdentifier("cov_pair_products"),
      info("cov_pair_products",
        "upper-triangle pairwise products of a quantized vector (covariance rollup input)"),
      (es: Seq[Expression]) => functions.VectorExprs.CovPairProducts(es.head)))
    ext.injectFunction((FunctionIdentifier("map_sum_lookup"),
      info("map_sum_lookup",
        "sum of map values at the given keys (absent keys contribute 0)"),
      (es: Seq[Expression]) => functions.VectorExprs.MapSumLookup(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "distinct 60-bit winnowing fingerprints (8-gram, window 16)"),
      (es: Seq[Expression]) =>
        functions.HashExprs.WinnowFingerprints(es.head, 8, 16)))
    ext.injectFunction((FunctionIdentifier("char_stats"),
      info("char_stats",
        "[n_chars, distinct_chars, sum(count^2), max(count)] char moments"),
      (es: Seq[Expression]) => functions.TextExprs.CharStats(es.head)))
  }
}

object GraftExtensions {

  /** Fail early, naming the fix, when `spark` was built without the
    * extensions: a custom logical node would otherwise reach Spark's
    * "No plan for ..." assertion at execution. */
  private[graft] def requireInstalled(spark: SparkSession,
      strategy: SparkStrategy, caller: String): Unit =
    if (!GraftShims.plannerStrategies(spark).contains(strategy))
      throw new IllegalStateException(
        s"$caller needs the engine's planner strategies, which this session " +
          "lacks: build it with graft.GraftSession, or set " +
          "spark.sql.extensions=graft.GraftExtensions before it is created")
}
