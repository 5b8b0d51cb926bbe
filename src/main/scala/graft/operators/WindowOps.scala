package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators (ranking, running frames, lag/lead, top-k).
  * Absent from the reference (SURVEY §2.5) but part of the generalized
  * surface. Every ORDER BY carries a unique tiebreak column so results are
  * deterministic across engines and partition counts.
  *
  * Scale: a window shuffles once on its partition keys; frames evaluate
  * streaming per partition (no materialization of the whole partition for
  * running frames). Top-k global sort uses TakeOrderedAndProject — k rows
  * per partition then a driver merge, never a full global sort.
  */
object WindowOps {

  /** row_number ranking: top-3 orders per customer by price. Written as
    * the plain window-filter form; [[graft.plans.TopKPerKey.TopKRewrite]]
    * (installed by [[graft.GraftSession]]) swaps Spark's sort-based WindowGroupLimit
    * pruning for the bounded-heap operator — same rows, same rn values
    * (unique tiebreak), two full sorts fewer. */
  def q10WindowTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  val q10Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  /** Running-sum frame + lag: cumulative shipped quantity per supplier.
    * Quantities are integer-valued doubles, so the running sum is exact
    * in IEEE double regardless of evaluation order. The ORDER BY extends
    * to (quantity, extendedprice) because the synthetic lineitem at sf0.1
    * duplicates (orderkey, linenumber) pairs — without the extension the
    * order has ties and `lag` is nondeterministic in BOTH engines
    * (DuckDB's parallel window flipped results run-to-run). */
  def q11WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_quantity").asc, col("l_extendedprice").asc)
    Tables.lineitem(s, dir)
      .withColumn("running_qty",
        sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity",
        "running_qty", "prev_qty")
  }

  val q11Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
      |  sum(l_quantity) OVER w AS running_qty,
      |  lag(l_quantity, 1) OVER w AS prev_qty
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_suppkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Global top-k with total-order tiebreak (TakeOrderedAndProject). */
  def q12TopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  val q12Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** rank/dense_rank/ntile battery over one shuffle. */
  def q21RankBattery(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"))
      .filter(col("rnk") <= 20)
  }

  val q21Sql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal, rnk, drnk, quartile FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    rank()       OVER w AS rnk,
      |    dense_rank() OVER w AS drnk,
      |    ntile(4)     OVER w AS quartile
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
      |WHERE rnk <= 20""".stripMargin

  /** The custom bounded-heap TopKPerKey physical operator
    * (`graft.plans.TopKPerKey`) computing the same top-3-per-customer as
    * q10's window form — oracle-checked against the identical SQL. */
  def q54TopKCustom(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.perKey(
      Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
      keys = Seq("o_custkey"),
      order = Seq("o_totalprice" -> true, "o_orderkey" -> false),
      k = 3)

  val q54Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  /** Advanced window-function battery: value-positional (first/last/nth,
    * lead) and distribution (percent_rank, cume_dist) functions over one
    * shuffle. percent_rank/cume_dist divide exact integer ranks in double
    * (correctly rounded, identical cross-engine); the ORDER BY is total
    * (c_custkey unique). */
  def q65WindowBattery2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        first_value(col("c_custkey")).over(wf).as("top_cust"),
        last_value(col("c_custkey")).over(wf).as("bottom_cust"),
        nth_value(col("c_custkey"), 3).over(wf).as("third_cust"),
        lead(col("c_custkey"), 1).over(w).as("next_cust"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .filter(col("c_acctbal") > 9000)
  }

  val q65Sql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal, top_cust, bottom_cust,
      |       third_cust, next_cust, pct_rank, cdist
      |FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    first_value(c_custkey) OVER wf AS top_cust,
      |    last_value(c_custkey)  OVER wf AS bottom_cust,
      |    nth_value(c_custkey, 3) OVER wf AS third_cust,
      |    lead(c_custkey, 1) OVER w AS next_cust,
      |    percent_rank() OVER w AS pct_rank,
      |    cume_dist() OVER w AS cdist
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey),
      |         wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |) WHERE c_acctbal > 9000""".stripMargin

  /** Top quality TIERS per domain: keep every document in the two highest
    * quality BUCKETS of its language — the "best tiers only" curation gate
    * where boundary ties must survive (a strict top-k would cut arbitrary
    * docs out of the boundary bucket).
    *
    * Scale shape: tier membership is decided on the TINY per-(lang,
    * bucket) aggregate (#langs × ~21 rows after a map-side-combining
    * count), where the custom top-k operator picks each language's two
    * highest buckets (DenseTies mode: tiers, not rows); the resulting
    * (lang, bucket, tier) map broadcasts back onto ONE corpus pass.
    * Running the tie-keeping operator directly on the corpus would be
    * wrong at 100 TB for the same reason q91 dropped its lang window:
    * the final per-lang task would buffer that language's entire kept
    * tier set. Here nothing larger than the bucket map is ever held. */
  def q95QualityTiers(s: SparkSession, dir: String): DataFrame = {
    val buckets = TextOps.scoredDocs(s, dir)
      .select(col("doc_id"), col("lang"),
        floor(col("quality") * 20).cast("long").as("bucket"))
    val bucketCounts = buckets.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("lang")).orderBy(col("bucket").desc)
    val top2 = graft.plans.TopKPerKey.perKey(bucketCounts,
      keys = Seq("lang"), order = Seq("bucket" -> true), k = 2,
      mode = graft.plans.TopKPerKey.DenseTies)
      .withColumn("tier", dense_rank().over(w).cast("long"))
      .select(col("lang"), col("bucket"), col("tier"))
    // null-safe lang equality (r8, curation fuzz battery): an unknown
    // language is still a DOMAIN — both engines' groupBy/PARTITION BY
    // keep the NULL-lang group, so a plain equi-join here would silently
    // drop every NULL-lang document on the way back while the oracle's
    // window keeps them. bucket is non-null (scoredDocs excludes NULL
    // text), so only lang needs <=>.
    buckets.join(broadcast(top2.withColumnRenamed("lang", "t_lang")
        .withColumnRenamed("bucket", "t_bucket")),
        buckets("lang") <=> col("t_lang")
          && buckets("bucket") === col("t_bucket"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("tier"))
  }

  val q95Sql: String =
    s"""WITH scored AS (${TextOps.scoredSql}),
       |b AS (SELECT doc_id, lang,
       |        CAST(floor(quality * 20) AS BIGINT) AS bucket
       |      FROM scored)
       |SELECT doc_id, lang, bucket, tier FROM (
       |  SELECT doc_id, lang, bucket,
       |    CAST(dense_rank() OVER (PARTITION BY lang ORDER BY bucket DESC)
       |      AS BIGINT) AS tier
       |  FROM b)
       |WHERE tier <= 2""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q65_window_battery2", q65WindowBattery2, Some(q65Sql)),
    QueryDef("q10_window_topn", q10WindowTopN, Some(q10Sql)),
    QueryDef("q11_window_running", q11WindowRunning, Some(q11Sql)),
    QueryDef("q12_topk", q12TopK, Some(q12Sql)),
    QueryDef("q21_rank_battery", q21RankBattery, Some(q21Sql)),
    QueryDef("q54_topk_custom", q54TopKCustom, Some(q54Sql)),
    QueryDef("q95_quality_tiers", q95QualityTiers, Some(q95Sql)))
}
