package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact._
import graft.functions.TextFns.hash60Sql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core relational operator inventory (SURVEY.md §2.2–§2.4 generalized):
  * scan, project, filter, inner/left/semi/anti/full joins, hash aggregate,
  * distinct, rollup/cube, scalar subquery, having, case/when, set ops.
  *
  * Scale notes (100 TB discipline):
  *  - dimension joins (`nation`, `region`, small aggregates) are
  *    `broadcast()`-hinted — no shuffle of the fact side;
  *  - fact-fact joins (lineitem⋈orders) rely on sort-merge + AQE;
  *  - every aggregate is a partial/final HashAggregate (map-side combine);
  *  - all money arithmetic goes through [[graft.functions.Exact]] so
  *    results are independent of partitioning/merge order.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: filter → groupBy → 8 aggregates.
    *
    * All money math runs on the [[graft.functions.Exact]] primitive-long
    * fast path: per-row work is one double multiply + floor per column and
    * long multiplies for the products (whole-stage codegen, no BigDecimal),
    * while sums stay exact and overflow-safe to 100 TB via the 2^20-radix
    * split in [[graft.functions.Exact.lsum]]. Replaced the naive decimal
    * aggregate form, whose per-row Double.toString-based decimal casts made
    * q01 a 25× bench outlier (4.9 s → ~0.3 s at sf0.1, same oracle hash). */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"),
        cents(col("l_discount")).as("disc_c"),
        cents(col("l_tax")).as("tax_c"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("qty_c"), col("price_c"), col("disc_c"),
        (col("price_c") * (lit(100L) - col("disc_c"))).as("disc_price_c4"),
        (col("price_c") * (lit(100L) - col("disc_c"))
          * (lit(100L) + col("tax_c"))).as("charge_c6"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        lsum(col("qty_c"), 2).as("sum_qty"),
        lsum(col("price_c"), 2).as("sum_base_price"),
        lsum(col("disc_price_c4"), 4).as("sum_disc_price"),
        lsum(col("charge_c6"), 6).as("sum_charge"),
        lavg(col("qty_c"), 2).as("avg_qty"),
        lavg(col("price_c"), 2).as("avg_price"),
        lavg(col("disc_c"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-06-30'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Projection + conjunctive predicate; pushed into the parquet scan. */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
        && col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
      |  AND l_quantity < 10""".stripMargin

  /** 4-way join: fact⋈fact sort-merge; nation (a CONSTANT 25-row table)
    * is broadcast-hinted, but customer is NOT — it scales with the
    * dataset (1.5M rows per TPC-H SF ⇒ unbounded at 100 TB), so its join
    * strategy is left to AQE, which still picks broadcast at test scale
    * from measured size and switches to shuffle when it doesn't fit
    * (the q09/q35 lesson: a hard hint overrides that safety). */
  def q03JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n  = Tables.nation(s, dir).select("n_nationkey", "n_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        frevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q03Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Local-supplier revenue (TPC-H Q5 shape): revenue from lineitems
    * where the SUPPLIER sits in the customer's own nation, per nation,
    * one order year — the classic 5-way decision-support join with a
    * non-key equi-predicate (c_nationkey = s_nationkey) that only
    * becomes checkable after three fact joins.
    *
    * Scale shape: the year filter is written as a HALF-OPEN DATE RANGE
    * (`year(o_orderdate) = 1997` would wrap the column in a function
    * Spark cannot translate into a data-source filter — the scan would
    * read every row group), so it reaches the orders scan as
    * PushedFilters (plan-locked in PlanShapeSpec, the q212/q215
    * pattern), shrinking the orders⋈lineitem shuffle to one
    * year's keys; customer and supplier join by key (shuffle — both
    * scale with the corpus, so no forced broadcast; AQE picks broadcast
    * at small SF on its own); nation is the only compile-time broadcast.
    * The local-supplier predicate is applied as soon as both nationkeys
    * are in scope, before the final aggregate. */
  def q204LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01")
        && col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .filter(c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(frevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q204Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE c_nationkey = s_nationkey
      |  AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
      |GROUP BY n_name""".stripMargin

  /** National market share (TPC-H Q8 shape): within ASIA-region
    * customers' revenue, the fraction supplied by NATION_7's suppliers,
    * per order year — the classic "market share trend" conditional-ratio
    * aggregate: one grouped pass computes BOTH the conditional numerator
    * and the unconditional denominator (no second scan, no join between
    * two aggregates).
    *
    * Exactness: numerator and denominator are exact decimal revenue sums
    * ([[graft.functions.Exact.lsum]] radix-chunked longs, the engine's
    * overflow-safe-to-100TB idiom); the share is ONE double division of
    * the two — bit-identical to the oracle's decimal-sum ratio.
    *
    * Scale shape: region/nation are compile-time broadcasts onto
    * customer and supplier; the two fact joins shuffle on their keys;
    * the ASIA filter rides the customer join so non-region rows drop
    * before the supplier join; the final aggregate is
    * year-cardinality-bounded with map-side combine. */
  def q205MarketShare(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.{cents, lsum}
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(n.join(r, n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey")
    val su = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(n.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val volumeCents = cents(col("l_extendedprice")) *
      (lit(100L) - cents(col("l_discount")))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        lsum(when(col("supp_nation") === "NATION_7", volumeCents)
          .otherwise(lit(0L)), 4).as("n7_revenue"),
        lsum(volumeCents, 4).as("revenue"))
      .withColumn("mkt_share", col("n7_revenue") / col("revenue"))
  }

  val q205Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS n7_revenue,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |GROUP BY 1""".stripMargin

  /** Forecast-revenue-change scan (TPC-H Q6 shape): the canonical
    * predicate-pushdown benchmark — a single wide-fact scan with three
    * selective range predicates and NO join, measuring whether filters
    * reach the parquet reader. The year + discount-band + quantity
    * predicates all push to the scan (`PushedFilters`, plan-locked in
    * PlanShapeSpec); at 100 TB with date-partitioned or min/max-indexed
    * lineitem files this is the difference between reading one year's
    * row groups and reading the decade. The aggregate itself is one
    * exact cents-product sum to a single row. */
  def q212ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.{cents, lsum}
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(lsum(cents(col("l_extendedprice")) * cents(col("l_discount")), 4)
          .as("lost_revenue"),
        count(lit(1)).as("n_items"))
  }

  val q212Sql: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS lost_revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Returned-items customer ranking (TPC-H Q10 shape): which customers
    * returned the most revenue in one quarter — fact-fact join filtered
    * on BOTH fact sides (order-date quarter pushes to the orders scan,
    * return flag to the lineitem scan), revenue aggregated per customer,
    * then a bounded top-20 cut. The cut compiles to
    * `TakeOrderedAndProject` (partial per-partition top-k before the
    * single-partition merge — never a global sort of all customers);
    * revenue is the exact cents-product sum, so the ordering and the
    * custkey tiebreak are deterministic cross-engine. */
  def q215ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-04-01"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(frevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q215Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Customer order-count distribution (TPC-H Q13 shape): how many
    * customers placed exactly k orders, INCLUDING k = 0 — the left join
    * keeps order-less customers, the classic "distribution of engagement"
    * frequency-of-frequencies. Two key-uniform aggregates (custkey, then
    * the count-bounded k histogram) — no skew, no windows; the second
    * aggregate's key domain is tiny (max orders per customer), so the
    * final shuffle is near-free at any scale. */
  def q218CustDist(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_custs"))
  }

  val q218Sql: String =
    """WITH oc AS (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1)
      |SELECT n_orders, CAST(count(*) AS BIGINT) AS n_custs
      |FROM oc GROUP BY 1""".stripMargin

  /** Frequently-bought-together part affinity — market-basket
    * support/lift over order baskets, the retail complement of q141's
    * per-user event-set rules: here the basket is the ORDER (bounded at
    * a handful of lines by construction), so the pair fan-out is
    * per-basket C(n,2), never parts². Pairs form inside an orderkey
    * equi-join (a hot part is join-output volume, AQE-splittable); the
    * pair aggregate's key space is the observed co-purchase pairs; the
    * n_ab ≥ 3 support gate prunes the hapax tail before the two
    * part-marginal joins. Lift = n_ab·N/(n_a·n_b): each operand is cast
    * to double BEFORE the multiply — at ~1e11 orders the raw int64
    * products pass 2⁶³ (silent wrap on non-ANSI Spark, a runtime error
    * on DuckDB), so the products must form in double space. */
  def q221PartAffinity(s: SparkSession, dir: String): DataFrame = {
    // checkpointed (r12, lint class #10): the distinct order-part frame
    // feeds four lineages (n_orders, the two n_p join roles, the
    // self-join) — left lazy, each re-planned the lineitem scan and the
    // distinct shuffle. Two long columns, |distinct(order, part)| rows.
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .localCheckpoint(true)
    val n = b.agg(countDistinct(col("o")).as("n_orders"))
    val sGl = b.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val pr = b.join(b.select(col("o"), col("p").as("p2")), Seq("o"))
      .filter(col("p") < col("p2"))
      .groupBy(col("p").as("part_a"), col("p2").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    pr.join(sGl.select(col("p").as("part_a"), col("n_p").as("n_a")), Seq("part_a"))
      .join(sGl.select(col("p").as("part_b"), col("n_p").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast("double") * col("n_orders").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
  }

  val q221Sql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM b),
      |s AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM b GROUP BY 1),
      |pr AS (
      |  SELECT a.p AS part_a, c.p AS part_b, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT part_a, part_b, n_ab, sa.n_p AS n_a, sb.n_p AS n_b,
      |  (CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE))
      |    / (CAST(sa.n_p AS DOUBLE) * CAST(sb.n_p AS DOUBLE)) AS lift
      |FROM pr JOIN s sa ON sa.p = part_a JOIN s sb ON sb.p = part_b
      |CROSS JOIN n""".stripMargin

  /** Year-over-year monthly revenue growth — the reporting staple: each
    * month joined to itself twelve months back on an integer month index
    * (y·12+m), LEFT so first-year months survive with NULL growth. The
    * fact collapses to the #months frame FIRST (exact decimal sums,
    * map-side combine); the YoY self-join then touches only that
    * calendar-bounded table — never a fact-fact join. Growth is one
    * double division, NULL-guarded for zero/missing baselines. */
  def q223YoyGrowth(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.fsum
    val m = Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 12 +
        month(col("o_orderdate")) - 1).as("mkey"))
      .agg(fsum(col("o_totalprice")).as("rev"),
        count(lit(1)).as("n_orders"))
    val prev = m.select((col("mkey") + 12).as("mkey"),
      col("rev").as("rev_prior"))
    m.join(prev, Seq("mkey"), "left")
      .select((col("mkey") / 12).cast("long").as("y"),
        (pmod(col("mkey"), lit(12)) + 1).cast("long").as("mo"),
        col("n_orders"), col("rev"), col("rev_prior"),
        when(col("rev_prior") > 0.0,
          col("rev") / col("rev_prior") - lit(1.0)).as("yoy_growth"))
  }

  val q223Sql: String =
    """WITH m AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT CAST(m.mkey // 12 AS BIGINT) AS y,
      |  CAST(m.mkey % 12 + 1 AS BIGINT) AS mo,
      |  m.n_orders, m.rev, p.rev AS rev_prior,
      |  CASE WHEN p.rev > 0 THEN m.rev / p.rev - 1.0 END AS yoy_growth
      |FROM m LEFT JOIN m p ON p.mkey = m.mkey - 12""".stripMargin

  /** Per-segment order-value box-plot profile — Tukey five-number
    * summary plus 1.5·IQR whisker outlier counts, the distribution
    * audit behind every "order value by segment" dashboard. Quartiles
    * interpolate over exact CENTS integers (dyadic quarter fractions —
    * bit-exact cross-engine, the q57 contract; raw 2-decimal doubles
    * would interpolate inexactly), whiskers are eighth-exact doubles,
    * and the outlier count is a second narrow pass against the
    * broadcast per-segment bounds. */
  def q224Boxplot(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.cents
    val o = Tables.orders(s, dir)
      .join(Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), cents(col("o_totalprice")).as("vc"))
    val q = o.groupBy(col("c_mktsegment"))
      .agg(expr("percentile(vc, 0.25)").as("q1c"),
        expr("percentile(vc, 0.5)").as("medc"),
        expr("percentile(vc, 0.75)").as("q3c"),
        count(lit(1)).as("n"))
      .withColumn("lo_c", col("q1c") - lit(1.5) * (col("q3c") - col("q1c")))
      .withColumn("hi_c", col("q3c") + lit(1.5) * (col("q3c") - col("q1c")))
    o.join(broadcast(q), Seq("c_mktsegment"))
      .groupBy(col("c_mktsegment"), col("n"), col("q1c"), col("medc"),
        col("q3c"), col("lo_c"), col("hi_c"))
      .agg(count_if(col("vc") < col("lo_c") || col("vc") > col("hi_c"))
        .as("n_outliers"))
      .select(col("c_mktsegment"), col("n"),
        (col("q1c") / 100).as("q1"), (col("medc") / 100).as("median"),
        (col("q3c") / 100).as("q3"),
        (col("lo_c") / 100).as("whisker_lo"), (col("hi_c") / 100).as("whisker_hi"),
        col("n_outliers"))
  }

  val q224Sql: String =
    """WITH o AS (
      |  SELECT c_mktsegment,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vc
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |q AS (
      |  SELECT c_mktsegment,
      |    quantile_cont(vc, 0.25) AS q1c,
      |    quantile_cont(vc, 0.5)  AS medc,
      |    quantile_cont(vc, 0.75) AS q3c,
      |    count(*) AS n
      |  FROM o GROUP BY 1),
      |b AS (
      |  SELECT *, q1c - 1.5 * (q3c - q1c) AS lo_c,
      |    q3c + 1.5 * (q3c - q1c) AS hi_c
      |  FROM q)
      |SELECT o.c_mktsegment, b.n,
      |  b.q1c / 100 AS q1, b.medc / 100 AS median, b.q3c / 100 AS q3,
      |  b.lo_c / 100 AS whisker_lo, b.hi_c / 100 AS whisker_hi,
      |  CAST(count_if(o.vc < b.lo_c OR o.vc > b.hi_c) AS BIGINT)
      |    AS n_outliers
      |FROM o JOIN b ON o.c_mktsegment = b.c_mktsegment
      |GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  /** Point-in-time-correct feature join — the feature-store primitive
    * that keeps training data leakage-free: every order is annotated
    * with its customer's history STRICTLY BEFORE that order (prior order
    * count and prior spend), via a customer-keyed window whose frame
    * ends at `-1 PRECEDING`. An unwindowed join of per-customer totals
    * would leak the order's own (and future) revenue into its features —
    * the classic target-leakage bug this operator exists to prevent.
    *
    * Scale: customer-keyed window (parallel across customers; a
    * customer's orders are small by nature — bounded frame per key);
    * spend sums ride exact cents longs (per-customer volumes sit far
    * inside int64) and divide once to dollars. */
  def q225PitFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r8 rel-battery contracts: (1) an order with no date has no place
    // in a point-in-time sequence — "prior to everything" (Spark's
    // nulls-first) silently leaks it into every feature row while
    // DuckDB's nulls-last never counts it; dated-orders-only is the
    // leak-safe semantic. (2) prior_orders counts ORDERS — count rows,
    // not non-null prices. (3) the tiebreak extends to the value so the
    // ROWS-frame prefix is deterministic even over duplicate-key rows
    // with different prices; nulls pinned to DuckDB's end.
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey").asc_nulls_last,
        col("vc").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.orders(s, dir)
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("vc"))
      .select(col("o_orderkey"),
        coalesce(count(lit(1)).over(w), lit(0L)).as("prior_orders"),
        (coalesce(sum(col("vc")).over(w), lit(0L)).cast("double") / lit(100.0))
          .as("prior_spend"))
  }

  val q225Sql: String =
    """SELECT o_orderkey,
      |  CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS prior_orders,
      |  CAST(coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |    OVER w, 0) AS DOUBLE) / 100.0 AS prior_spend
      |FROM orders
      |WHERE o_orderdate IS NOT NULL
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey,
      |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin

  /** Deterministic negative sampling for recommendation training — per
    * customer, 5 popular parts they have NEVER bought, the standard
    * implicit-feedback negatives (popularity-matched so negatives are
    * plausible, not trivially obscure). Candidates are the top-100
    * popular parts (a TakeOrderedAndProject cut, broadcast), so the
    * candidate fan-out is customers×100 — a fixed multiplier, never
    * customers×parts; the anti-join removes true interactions; per-
    * customer selection is a salted-hash rank (reproducible across
    * runs/retries, independent of ingest order) over each customer's
    * ≤100 candidates — a bounded-frame window per key. */
  def q226NegativeSamples(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFns.hash60
    // consumed twice (popularity cut + anti-join): materialize the
    // fact-derived interaction set once instead of re-running the
    // orders⋈lineitem distinct per consumer (~25% at sf0.1); the pin is
    // interaction-set-sized, far below the fact
    val bought = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"))
      .distinct()
      .localCheckpoint(true)
    val pop = bought.groupBy(col("partkey"))
      .agg(count(lit(1)).as("n_buyers"))
      .orderBy(col("n_buyers").desc, col("partkey").asc)
      .limit(100)
      .select(col("partkey"))
    // the candidate generator is NOT spread: a repartition of the
    // customer scan before the ×100 crossJoin measured at parity to a
    // slight loss (r13; SCALING.md "retired A/B variants")
    val cust = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
    val cand = cust.crossJoin(broadcast(pop))
    val neg = cand.join(bought, Seq("custkey", "partkey"), "left_anti")
      .withColumn("hk", hash60(concat(lit("neg:"), col("custkey").cast("string"),
        lit(":"), col("partkey").cast("string"))))
    // the top-5 filter compiles to the bounded-heap TopKPerKey: its
    // map-side pass caps each customer at 5 rows per task before the
    // shuffle (customers×100 candidate rows never all cross it)
    val w = Window.partitionBy(col("custkey"))
      .orderBy(col("hk"), col("partkey"))
    neg.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("custkey"), col("partkey"), col("rk"))
  }

  val q226Sql: String =
    s"""WITH bought AS (
      |  SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |pop AS (
      |  SELECT partkey FROM bought GROUP BY partkey
      |  ORDER BY count(*) DESC, partkey LIMIT 100),
      |cand AS (
      |  SELECT c_custkey AS custkey, partkey FROM customer CROSS JOIN pop),
      |neg AS (
      |  SELECT cand.custkey, cand.partkey,
      |    ${hash60Sql("'neg:' || cand.custkey || ':' || cand.partkey")} AS hk
      |  FROM cand ANTI JOIN bought
      |    ON bought.custkey = cand.custkey AND bought.partkey = cand.partkey)
      |SELECT custkey, partkey, rk FROM (
      |  SELECT custkey, partkey,
      |    CAST(row_number() OVER (PARTITION BY custkey ORDER BY hk, partkey)
      |      AS BIGINT) AS rk
      |  FROM neg) WHERE rk <= 5""".stripMargin

  /** Churn label generation — the supervised-learning label factory:
    * per customer, activity features (order count, exact lifetime spend,
    * recency in days against the dataset's observation horizon) and the
    * churn label `no order in the trailing 180 days`. Customers who
    * never ordered are KEPT (left join) and labeled churned with NULL
    * recency — silently dropping them is the classic class-imbalance
    * bug. The horizon is max(o_orderdate) — a 1-row broadcast, so label
    * definitions shift with the snapshot, not a hardcoded date. One
    * custkey-keyed aggregate + one broadcast; no windows. */
  def q228ChurnLabels(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        fsum(col("o_totalprice")).as("spend"),
        max(col("o_orderdate")).as("last_order"))
    val horizon = Tables.orders(s, dir)
      .agg(max(col("o_orderdate")).as("horizon"))
    Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      .join(per, Seq("custkey"), "left")
      .crossJoin(broadcast(horizon))
      .select(col("custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"),
        datediff(col("horizon"), col("last_order")).cast("long")
          .as("recency_days"),
        (col("last_order").isNull ||
          datediff(col("horizon"), col("last_order")) > 180).as("churned"))
  }

  val q228Sql: String =
    """WITH per AS (
      |  SELECT o_custkey AS custkey, count(*) AS n_orders,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
      |    max(o_orderdate) AS last_order
      |  FROM orders GROUP BY 1),
      |h AS (SELECT max(o_orderdate) AS horizon FROM orders)
      |SELECT c_custkey AS custkey,
      |  coalesce(n_orders, 0) AS n_orders,
      |  coalesce(spend, 0.0) AS spend,
      |  CAST(date_diff('day', last_order, horizon) AS BIGINT) AS recency_days,
      |  last_order IS NULL OR date_diff('day', last_order, horizon) > 180
      |    AS churned
      |FROM customer LEFT JOIN per ON c_custkey = custkey
      |CROSS JOIN h""".stripMargin

  /** Exact AUC of a feature against the churn labels — the
    * classifier-evaluation primitive computed in-engine: AUC is exactly
    * the Mann–Whitney U statistic normalized by n₊·n₋ (the probability a
    * random retained customer out-scores a random churned one, ties at
    * half credit), so the q208 no-per-row-ranks machinery applies
    * verbatim: a score histogram with per-class counts, one prefix
    * window over the bounded histogram, exact integer 2·ranksum, one
    * final division. Here the feature is the customer's order count
    * (q228's frame) — the baseline any learned model must beat; an AUC
    * of 0.5 would say order frequency carries no retention signal. */
  def q230LabelAuc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val labeled = q228ChurnLabels(s, dir)
      .select(col("n_orders").as("v"), col("churned"))
    val h = labeled.groupBy(col("v"))
      .agg(count_if(!col("churned")).as("c1"),
        count_if(col("churned")).as("c0"))
      .withColumn("c", col("c1") + col("c0"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val p = h.withColumn("before", coalesce(sum(col("c")).over(w), lit(0L)))
    // cast a factor to decimal(38) BEFORE each multiply (q208's overflow
    // contract: the int64 products wrap once prefixes pass ~3e9 rows)
    val m = p.agg(sum(col("c1")).as("n_pos"), sum(col("c0")).as("n_neg"),
      sum(col("c1").cast(d38)
        * (lit(2L) * col("before") + col("c") + lit(1L))).as("r2"))
    val u2 = (col("r2") - col("n_pos").cast(d38) * (col("n_pos") + lit(1L)))
      .cast("double")
    m.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") =!= 0L && col("n_neg") =!= 0L,
        u2 / (lit(2.0) * col("n_pos").cast("double")
          * col("n_neg").cast("double")))
        .as("auc"))
  }

  lazy val q230Sql: String =
    s"""WITH lab AS (
       |${q228Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |h AS (
       |  SELECT n_orders AS v,
       |    CAST(count_if(NOT churned) AS BIGINT) AS c1,
       |    CAST(count_if(churned) AS BIGINT) AS c0,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM lab GROUP BY 1),
       |p AS (
       |  SELECT c1, c0, c,
       |    CAST(coalesce(sum(c) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS before
       |  FROM h),
       |m AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
       |    CAST(sum(c0) AS BIGINT) AS n_neg,
       |    sum(CAST(c1 AS HUGEINT) * (2 * before + c + 1)) AS r2
       |  FROM p)
       |SELECT n_pos, n_neg,
       |  CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
       |    / (2 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
       |FROM m""".stripMargin

  /** Churn-risk reliability table — observed churn rate per lifetime-
    * spend band, the calibration readout next to q230's ranking power:
    * does risk fall monotonically with spend, and by how much per band?
    * Equal-width $1000 bands keep the frame value-domain-bounded (a
    * decile binning would need a global rank; the band table IS the
    * output, so fixed widths are the honest scale shape). Exact counts,
    * one division per band. */
  def q231RiskBands(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.cents
    q228ChurnLabels(s, dir)
      .groupBy(floor(cents(col("spend")) / lit(100000L)).cast("long").as("band"))
      .agg(count(lit(1)).as("n"),
        count_if(col("churned")).as("n_churned"))
      .withColumn("churn_rate",
        col("n_churned").cast("double") / col("n").cast("double"))
      .withColumn("band_lo_usd", (col("band") * 1000L).cast("long"))
  }

  lazy val q231Sql: String =
    s"""WITH lab AS (
       |${q228Sql.linesIterator.map("  " + _).mkString("\n")}
       |)
       |SELECT CAST(floor(CAST(floor(spend * 100 + 0.5) AS BIGINT) / 100000)
       |    AS BIGINT) AS band,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(count_if(churned) AS BIGINT) AS n_churned,
       |  CAST(count_if(churned) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    AS churn_rate,
       |  CAST(floor(CAST(floor(spend * 100 + 0.5) AS BIGINT) / 100000)
       |    AS BIGINT) * 1000 AS band_lo_usd
       |FROM lab GROUP BY 1""".stripMargin

  /** Cumulative-gains (lift) curve for the churn score — the third leg
    * of the eval stool after q230 (ranking power) and q231
    * (calibration): if a retention campaign targets everyone at or
    * below an order-count threshold, what fraction of all churners does
    * it capture, at what targeting cost, and at what lift over random?
    * One point per distinct score value, so the whole curve is a
    * histogram + prefix window over the score-cardinality frame
    * (bounded) + a 1-row broadcast of the totals — never a global sort
    * of customers. All fractions are single divisions of exact
    * counts. */
  def q232GainsCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = q228ChurnLabels(s, dir)
      .groupBy(col("n_orders").as("v"))
      .agg(count(lit(1)).as("n"), count_if(col("churned")).as("n_churned"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals via a global window over the SAME bounded histogram frame
    // (r12, lint class #10 — the q152 idiom): the r11
    // crossJoin(broadcast(h.agg(...))) re-planned h's whole lineage —
    // the churn-label join and its orders/customer scans — a second
    // time. h is #distinct-order-counts rows, so the empty-frame global
    // window is bounded by construction.
    val wAll = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val cum = h
      .withColumn("cum_n", sum(col("n")).over(w).cast("long"))
      .withColumn("cum_churned", sum(col("n_churned")).over(w).cast("long"))
      .withColumn("nt", sum(col("n")).over(wAll).cast("long"))
      .withColumn("ct", sum(col("n_churned")).over(wAll).cast("long"))
    // ct = 0 (a feed with no churners) must yield NULL capture/lift, not
    // an ANSI divide-by-zero task failure; nt > 0 whenever rows exist
    cum
      .select(col("v"), col("cum_n"), col("cum_churned"),
        (col("cum_n").cast("double") / col("nt").cast("double"))
          .as("frac_targeted"),
        when(col("ct") > 0L,
          col("cum_churned").cast("double") / col("ct").cast("double"))
          .as("capture_rate"),
        when(col("ct") > 0L,
          (col("cum_churned").cast("double") / col("ct").cast("double")) /
            (col("cum_n").cast("double") / col("nt").cast("double")))
          .as("lift"))
  }

  lazy val q232Sql: String =
    s"""WITH lab AS (
       |${q228Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |h AS (
       |  SELECT n_orders AS v, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count_if(churned) AS BIGINT) AS n_churned
       |  FROM lab GROUP BY 1),
       |c AS (
       |  SELECT v,
       |    CAST(sum(n) OVER w AS BIGINT) AS cum_n,
       |    CAST(sum(n_churned) OVER w AS BIGINT) AS cum_churned
       |  FROM h
       |  WINDOW w AS (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
       |    CAST(sum(n_churned) AS BIGINT) AS ct FROM h)
       |SELECT v, cum_n, cum_churned,
       |  CAST(cum_n AS DOUBLE) / CAST(nt AS DOUBLE) AS frac_targeted,
       |  CAST(cum_churned AS DOUBLE) / CAST(ct AS DOUBLE) AS capture_rate,
       |  (CAST(cum_churned AS DOUBLE) / CAST(ct AS DOUBLE))
       |    / (CAST(cum_n AS DOUBLE) / CAST(nt AS DOUBLE)) AS lift
       |FROM c CROSS JOIN t""".stripMargin

  /** Murphy-decomposition resolution of the risk banding — does the
    * q231 spend banding actually SEPARATE churn risk? Resolution =
    * Σ (n_b/N)·(rate_b − rate)² is the between-band variance the
    * banding captures; uncertainty = rate·(1−rate) is the total
    * binary-outcome variance; their ratio is the fraction of churn
    * variance the bands explain (0 = the banding is noise, →1 = bands
    * are near-deterministic). The forecast-verification standard
    * (Murphy 1973) applied to a feature binning.
    *
    * Exactness: band terms are fixed double trees over exact counts,
    * quantized to 1e-12 longs BEFORE the band sum (the band table can
    * reach thousands of rows — a raw double Σ would be engine-order-
    * dependent, the q88/q209 lesson); uncertainty and the ratio are
    * single divisions. Scale: two bounded aggregates + a 1-row
    * broadcast; no windows. */
  def q233BandResolution(s: SparkSession, dir: String): DataFrame = {
    val bands = q228ChurnLabels(s, dir)
      .groupBy(floor(graft.functions.Exact.cents(col("spend")) / lit(100000L))
        .cast("long").as("band"))
      .agg(count(lit(1)).as("n"), count_if(col("churned")).as("c"))
    // globals via a global window over the SAME bounded band frame
    // (r12, lint class #10 — the q152 idiom): the r11 form crossJoined
    // broadcast(bands.agg(...)) TWICE, re-planning the churn-label
    // join and its orders/customer scans three times in total. bands
    // is spend-band-bounded, so the empty-frame window is safe.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val withGlob = bands
      .withColumn("nt", sum(col("n")).over(wAll).cast("long"))
      .withColumn("ct", sum(col("c")).over(wAll).cast("long"))
      .withColumn("n_bands", count(lit(1)).over(wAll))
    val rate = col("ct").cast("double") / col("nt").cast("double")
    val d = col("c").cast("double") / col("n").cast("double") - rate
    val termQ = floor(col("n").cast("double") / col("nt").cast("double") *
      (d * d) * lit(1e12) + lit(0.5)).cast("long")
    withGlob
      .agg(sum(termQ).cast("long").as("rq"), first(col("nt")).as("nt"),
        first(col("ct")).as("ct"), first(col("n_bands")).as("n_bands"))
      .select(col("nt").as("n"), col("n_bands"),
        (rate * (lit(1.0) - rate)).as("uncertainty"),
        (col("rq").cast("double") / lit(1e12)).as("resolution"))
      .withColumn("explained_frac",
        when(col("uncertainty") > 0.0, col("resolution") / col("uncertainty")))
  }

  lazy val q233Sql: String =
    s"""WITH lab AS (
       |${q228Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |b AS (
       |  SELECT CAST(floor(CAST(floor(spend * 100 + 0.5) AS BIGINT) / 100000)
       |      AS BIGINT) AS band,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(count_if(churned) AS BIGINT) AS c
       |  FROM lab GROUP BY 1),
       |g AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
       |    CAST(sum(c) AS BIGINT) AS ct,
       |    CAST(count(*) AS BIGINT) AS n_bands FROM b),
       |r AS (
       |  SELECT CAST(sum(CAST(floor(
       |      CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)
       |      * ((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
       |          - CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE))
       |        * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
       |          - CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)))
       |      * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS rq
       |  FROM b CROSS JOIN g)
       |SELECT g.nt AS n, g.n_bands,
       |  (CAST(g.ct AS DOUBLE) / CAST(g.nt AS DOUBLE))
       |    * (1.0 - CAST(g.ct AS DOUBLE) / CAST(g.nt AS DOUBLE))
       |    AS uncertainty,
       |  CAST(r.rq AS DOUBLE) / 1e12 AS resolution,
       |  (CAST(r.rq AS DOUBLE) / 1e12)
       |    / ((CAST(g.ct AS DOUBLE) / CAST(g.nt AS DOUBLE))
       |       * (1.0 - CAST(g.ct AS DOUBLE) / CAST(g.nt AS DOUBLE)))
       |    AS explained_frac
       |FROM r CROSS JOIN g""".stripMargin

  /** LEFT OUTER join preserving customers with zero orders (J2 family). */
  def q04JoinLeft(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        fsum(col("o_totalprice")).as("sum_price"))
  }

  val q04Sql: String =
    """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name""".stripMargin

  /** LEFT SEMI join (EXISTS): orders containing a near-max-quantity item. */
  def q05JoinSemi(s: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49).select("l_orderkey")
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
  }

  val q05Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin

  /** LEFT ANTI join (NOT EXISTS): customers with no urgent order. */
  def q06JoinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')""".stripMargin

  /** FULL OUTER join of two aggregates (customer vs supplier per nation). */
  def q07JoinFull(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val su = Tables.supplier(s, dir).groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(su, Seq("nationkey"), "full_outer")
  }

  val q07Sql: String =
    """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, n_cust, n_supp
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
      |USING (nationkey)""".stripMargin

  /** Global DISTINCT (dedup-as-aggregate, SURVEY P5/A2). */
  def q08Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select("o_orderstatus", "o_orderpriority").distinct()

  val q08Sql: String =
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"

  /** Greatest-n-per-group via self-join against a MAX subquery — the exact
    * shape of the reference's `users` builder (J1, `etl.py:134-147`),
    * including tie-keeping semantics. */
  def q09LatestPerUser(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val m = e.groupBy("user_id").agg(max("ts").as("ts"))
    // No broadcast hint: `m` is one row PER USER, i.e. unbounded — a forced
    // broadcast would OOM the driver at 10^9 users. AQE sees the real
    // post-aggregate size at runtime and still picks broadcast when small.
    e.join(m, Seq("user_id", "ts"), "inner")
      .select("user_id", "ts", "event_type", "value")
  }

  val q09Sql: String =
    """SELECT e.user_id, e.ts, e.event_type, e.value
      |FROM events e
      |JOIN (SELECT user_id, max(ts) AS ts FROM events GROUP BY 1) m
      |  ON e.user_id = m.user_id AND e.ts = m.ts""".stripMargin

  /** Set op: UNION (distinct). */
  def q13Union(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
      .distinct()

  val q13Sql: String =
    "SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier"

  /** Set op: INTERSECT. */
  def q14Intersect(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))

  val q14Sql: String =
    "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier"

  /** Set op: EXCEPT of a relation against a filtered view of itself. */
  def q15Except(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.orders(s, dir).select("o_orderstatus", "o_orderpriority")
    pairs.except(pairs.filter(col("o_orderstatus") === "F"))
  }

  val q15Sql: String =
    """SELECT o_orderstatus, o_orderpriority FROM orders
      |EXCEPT
      |SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** ROLLUP grouping sets with exact sums. */
  def q16Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), fsum(col("o_totalprice")).as("sum_price"))

  val q16Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** CUBE grouping sets. */
  def q17Cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), fsum(col("l_quantity")).as("sum_qty"))

  val q17Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** Scalar-subquery compare (above-average filter), kept fully
    * distributed via a broadcast cross-join of the 1-row aggregate. */
  def q18AboveAvg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val avgQty = li.agg(
      (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
        / count(col("l_quantity"))).as("avg_qty"))
    li.crossJoin(broadcast(avgQty))
      .filter(col("l_quantity") > col("avg_qty"))
      .select("l_orderkey", "l_linenumber", "l_quantity")
  }

  val q18Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_quantity > (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity)
      |                    FROM lineitem)""".stripMargin

  /** CORRELATED scalar subquery — the Catalyst decorrelation path
    * (`RewriteCorrelatedScalarSubquery`): each order compared to its OWN
    * customer's maximum, written as SQL so the optimizer performs the
    * rewrite (per-group aggregate + join) rather than the author. `max`
    * over doubles is exact and order-independent, so the boundary
    * comparison is bit-identical cross-engine — an `avg` here would make
    * row membership depend on summation order. At scale the decorrelated
    * plan is a per-custkey aggregate joined back on the (high-cardinality)
    * key: two shuffles, no funnel. */
  def q97CorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_q97")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders_q97 o
        |WHERE o_totalprice < (SELECT max(o2.o_totalprice)
        |                      FROM orders_q97 o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }

  val q97Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE o_totalprice < (SELECT max(o2.o_totalprice) FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  /** GROUP BY + HAVING. */
  def q19Having(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), fsum(col("o_totalprice")).as("sum_price"))
      .filter(col("n_orders") >= 10)

  val q19Sql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_custkey HAVING count(*) >= 10""".stripMargin

  /** CASE WHEN bucketing feeding an aggregate. */
  def q20CaseWhen(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderstatus"),
        when(col("o_totalprice") < 100000, lit("low"))
          .when(col("o_totalprice") < 300000, lit("mid"))
          .otherwise(lit("high")).as("bucket"))
      .groupBy("o_orderstatus", "bucket")
      .agg(count(lit(1)).as("n"))

  val q20Sql: String =
    """SELECT o_orderstatus,
      |  CASE WHEN o_totalprice < 100000 THEN 'low'
      |       WHEN o_totalprice < 300000 THEN 'mid'
      |       ELSE 'high' END AS bucket,
      |  count(*) AS n
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** String/scalar function battery over `part` (SURVEY §2.6 generalized). */
  def q22StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_name").like("%bolt%"))
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 5).as("prefix5"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))

  val q22Sql: String =
    """SELECT p_partkey, upper(p_name) AS uname, substr(p_name, 1, 5) AS prefix5,
      |  length(p_name) AS name_len,
      |  concat_ws('-', p_brand, p_type) AS brand_type,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word
      |FROM part WHERE p_name LIKE '%bolt%'""".stripMargin

  /** JSON extraction from the `events.props` payload column. `from_json`
    * with a pinned schema parses once into a struct (Jackson, no JsonPath
    * evaluation per field) — measured ~3× over `get_json_object` and the
    * right shape when several fields are extracted. */
  def q23Json(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))

  /** The oracle mirrors Spark's `from_json` semantics EXPLICITLY
    * (probed, not assumed): NULL for absent key, invalid JSON, empty
    * string, JSON null, nested object, FLOAT value (no rounding — a
    * bare TRY_CAST('1.5') would give 2 in DuckDB), and wrong-case key
    * (field matching is case-sensitive). Hence json_valid + a
    * json_type ∈ (BIGINT, UBIGINT) guard before the cast. On the
    * driver's always-valid integer-k corpus the guards are no-ops
    * (hash unchanged); under the hostile-input fuzz both engines agree
    * on NULL for every pathological shape. */
  val q23Sql: String =
    """SELECT event_type,
      |  CAST(sum(CASE WHEN json_valid(props)
      |    AND json_type(json_extract(props, '$.k')) IN ('BIGINT', 'UBIGINT')
      |    THEN CAST(props->>'$.k' AS BIGINT) END) AS BIGINT) AS sum_k,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** Approximate aggregates (HLL++). No oracle — DuckDB's sketch differs;
    * the driver records a rows-only check and the spec bounds the error
    * against exact countDistinct. The exact counts are emitted alongside
    * the sketches so the row dump itself witnesses the error bound — but
    * in a SEPARATE aggregate joined at the end, NOT inline with the
    * sketches: countDistinct alongside approx_count_distinct makes the
    * planner Expand every row 3× with the HLL buffers updated per expanded
    * row (measured 8×). Split, the exact agg's Expand carries only the two
    * keys (map-side dedup before the shuffle), the sketch agg stays a
    * plain single pass, and the 3-row join broadcasts — the shape that
    * holds at 100 TB.
    *
    * Since r7 the row itself is SELF-CERTIFYING: `est_within_pct` is
    * the worst relative sketch error on the row (×100), and
    * `within_bound` evaluates a hard in-query assertion — if any
    * estimate drifts past 5% (the 2% rsd with the spec's slack), the
    * QUERY fails with raise_error instead of silently dumping a bad
    * sketch.
    *
    * Since r10 the DECLARED output carries only the DETERMINISTIC
    * columns (exact counts + the certified boolean), so a DuckDB
    * oracle exists and the driver's row is hash-checked like any
    * other query: the oracle mirrors the exact counts and `TRUE` —
    * which loses no certification strength, because the only way a
    * Spark row reaches the dump with `within_bound` at all is through
    * the raise_error guard over the sketch error. The raw estimates
    * stay on [[q42Full]]'s rows, which Verify exports to bounds.json
    * (the measured worst error %), and which the sketch fuzz battery
    * re-checks row by row under hostile cardinalities. */
  def q42ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    q42Full(s, dir).select("l_returnflag", "exact_parts", "exact_orders",
      "n", "within_bound")

  val q42Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  count(*) AS n,
      |  TRUE AS within_bound
      |FROM lineitem GROUP BY 1""".stripMargin

  /** [[q42ApproxDistinct]] with the HLL estimates and the worst
    * relative error kept on the rows — the internal form Verify's
    * bounds.json export and the sketch battery read. */
  private[graft] def q42Full(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val sketches = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        count(lit(1)).as("n"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
    // r9 (sketch fuzz): a group whose key column is ALL NULL has exact
    // count 0 — the relative error is 0 when the sketch agrees (both
    // engines count zero values) and a certain bound FAILURE if the
    // sketch somehow reports nonzero; the bare division was an ANSI
    // DIVIDE_BY_ZERO crash, which is a gate error, not a bound verdict
    def relErr(a: org.apache.spark.sql.Column,
        e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(e === 0L,
        when(a === 0L, lit(0.0)).otherwise(lit(Double.PositiveInfinity)))
        .otherwise(abs(a - e).cast("double") / e * 100)
    val errPct = greatest(
      relErr(col("approx_parts"), col("exact_parts")),
      relErr(col("approx_orders"), col("exact_orders")))
    // null-safe join (r10, ADVICE): an inner equi-join drops the
    // NULL-returnflag group (NULL keys never match), so that group's
    // sketch would escape certification — exactly the degeneracy the
    // sketch fuzz battery plants. Explicit subquery aliases keep the
    // two same-named key columns unambiguous.
    sketches.as("sk").join(exact.as("ex"),
        col("sk.l_returnflag") <=> col("ex.l_returnflag"))
      .drop(col("ex.l_returnflag"))
      .withColumn("est_within_pct", errPct)
      .withColumn("within_bound",
        when(col("est_within_pct") <= 5.0, lit(true))
          .otherwise(raise_error(concat(
            lit("q42: HLL estimate drifted past the 5% bound: "),
            col("est_within_pct").cast("string"),
            // NULL flag group must still raise with a message, not a
            // NULL-concat message (r9 sketch fuzz)
            lit("% on returnflag "),
            coalesce(col("l_returnflag"), lit("<NULL>"))))))
  }

  /** ARRAY_AGG-style aggregation: per-user sorted distinct event types.
    * Output is joined to a string because array cells stringify
    * differently across engines' client layers; the set semantics are
    * what's exercised. */
  def q43ArrayAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
        countDistinct(col("event_type")).as("n_types"))

  val q43Sql: String =
    """SELECT user_id,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
      |  count(DISTINCT event_type) AS n_types
      |FROM events GROUP BY user_id""".stripMargin

  /** Date arithmetic across a join: shipping delay in days and a due
    * date offset. */
  def q44DateArith(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_shipdate")
    val o  = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("ship_delay_days"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"))
  }

  val q44Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS ship_delay_days,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** Outer join with a compound equi + range condition: lineitems shipped
    * within 30 days of their order's date. The equi key keeps it a hash/
    * sort-merge join (the range predicate is a post-join filter on the
    * matched side), so no nested-loop blowup at scale. */
  def q45RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    o.join(li,
        o("o_orderkey") === li("l_orderkey")
          && li("l_shipdate") >= o("o_orderdate")
          && li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 30 DAY"),
        "left")
      .groupBy(col("o_orderkey"))
      .agg(count(col("l_orderkey")).as("n_shipped_30d"))
  }

  val q45Sql: String =
    """SELECT o_orderkey, count(l_orderkey) AS n_shipped_30d
      |FROM orders LEFT JOIN lineitem
      |  ON o_orderkey = l_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
      |GROUP BY o_orderkey""".stripMargin

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of disappearing — the semantics dimension
    * tables with "unknown" members need. Still a hash-joinable equi key
    * (null hashes like any value under null-safe equality), so the plan
    * is a normal shuffled/broadcast hash join, not a nested loop. */
  def q81NullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_id"),
        when(col("event_type") === "error", lit(null))
          .otherwise(col("event_type")).as("k"))
    val c = e.groupBy(col("k")).agg(count(lit(1)).as("n_type"))
      .withColumnRenamed("k", "ck")
    e.join(c, e("k") <=> c("ck"))
      .select(col("event_id"), col("k"), col("n_type"))
  }

  val q81Sql: String =
    """WITH e AS (
      |  SELECT event_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k
      |  FROM events),
      |c AS (SELECT k, CAST(count(*) AS BIGINT) AS n_type FROM e GROUP BY k)
      |SELECT e.event_id, e.k, c.n_type
      |FROM e JOIN c ON e.k IS NOT DISTINCT FROM c.k""".stripMargin

  /** Brand pricing rollup: gross vs discounted revenue and the
    * effective (revenue-weighted) discount rate per brand — the finance
    * close query over the star schema, computed entirely in integer
    * cents × per-mille before the final divisions (the q01 exact-money
    * family, composed with a broadcast dim join).
    *
    * eff_discount_pm = Σ(ext·d) / Σ(ext) is the revenue-WEIGHTED
    * per-mille rate — a plain avg(discount) would weight a 10-cent line
    * equally with a 10k line. Each output is one double division of
    * exact decimal(38,0) sums.
    *
    * Scale shape: one lineitem pass joined to part; no broadcast is
    * FORCED — part scales with SF, so size statistics/AQE decide (the
    * hint would override Spark's size check and OOM at 100 TB). The
    * aggregate collapses to #brands rows with map-side combine. */
  def q200BrandPricing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.cents
    val d38 = "decimal(38,0)"
    val li = graft.Tables.lineitem(s, dir).select(col("l_partkey"),
      cents(col("l_extendedprice")).as("e"),
      floor(col("l_discount") * 1000 + 0.5).cast("long").as("d"))
    li.join(graft.Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand")),
        Seq("l_partkey"))
      .groupBy(col("p_brand")).agg(
        count(lit(1)).as("n_lines"),
        sum(col("e").cast(d38)).as("ge"),
        sum((col("e").cast(d38) * (lit(1000L) - col("d")).cast(d38))
          .cast(d38)).as("ne"),
        sum((col("e").cast(d38) * col("d").cast(d38)).cast(d38)).as("ed"))
      .select(col("p_brand"), col("n_lines"),
        (col("ge").cast("double") / 100.0).as("gross_revenue"),
        (col("ne").cast("double") / 1e5).as("net_revenue"),
        (col("ed").cast("double") /
          nullif(col("ge").cast("double"), lit(0.0)))
          .as("eff_discount_pm"))
  }

  val q200Sql: String =
    """WITH li AS (
      |  SELECT p_brand,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS e,
      |    CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) AS d
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CAST(e AS HUGEINT)) AS DOUBLE) / 100.0 AS gross_revenue,
      |  CAST(sum(CAST(e AS HUGEINT) * (1000 - d)) AS DOUBLE) / 1e5
      |    AS net_revenue,
      |  CAST(sum(CAST(e AS HUGEINT) * d) AS DOUBLE)
      |    / nullif(CAST(sum(CAST(e AS HUGEINT)) AS DOUBLE), 0.0)
      |    AS eff_discount_pm
      |FROM li GROUP BY 1""".stripMargin

  /** Fulfillment-SLA profile: exact P50/P90/P99 ship lag (days between
    * order and line shipment) per order priority — the ops question
    * ("are urgent orders actually faster, and what does the tail look
    * like?") answered with EXACT order statistics, never approximate
    * percentiles: the quantile value is min{lag : 100·cum ≥ q·n} off
    * the per-(priority, lag-day) ecdf, an all-integer comparison.
    *
    * Scale shape: the lineitem↔orders fact join shuffles on orderkey
    * (AQE-splittable); the corpus then collapses to per-(priority, lag)
    * counts (map-side combine, lag-cardinality-bounded); the window and
    * the conditional-min quantile picks run on that bounded table. */
  def q201ShipLag(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lags = graft.Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      .join(graft.Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        Seq("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lag"))
      // a NULL lag (either date unknown) is not a measurement (r8, rel
      // fuzz battery — the q183 contract): unfiltered it inflates tot
      // AND sits at opposite ends of the ecdf across engines, shifting
      // every percentile pick. Oracle mirrors.
      .filter(col("lag").isNotNull)
    val e = lags.groupBy(col("o_orderpriority"), col("lag"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("lag"))))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("o_orderpriority"))))
    def pick(q: Int) =
      min(when(col("cum") * 100 >= lit(q.toLong) * col("tot"), col("lag")))
    e.groupBy(col("o_orderpriority"))
      .agg(max(col("tot")).as("n_lines"),
        pick(50).as("p50_days"), pick(90).as("p90_days"),
        pick(99).as("p99_days"))
  }

  val q201Sql: String =
    """WITH lags AS (
      |  SELECT o_orderpriority,
      |    CAST(datediff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lag
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (
      |  SELECT o_orderpriority, lag, CAST(count(*) AS BIGINT) AS c
      |  FROM lags WHERE lag IS NOT NULL GROUP BY 1, 2),
      |w AS (
      |  SELECT o_orderpriority, lag,
      |    sum(c) OVER (PARTITION BY o_orderpriority ORDER BY lag) AS cum,
      |    sum(c) OVER (PARTITION BY o_orderpriority) AS tot
      |  FROM e)
      |SELECT o_orderpriority, CAST(max(tot) AS BIGINT) AS n_lines,
      |  min(CASE WHEN cum * 100 >= 50 * tot THEN lag END) AS p50_days,
      |  min(CASE WHEN cum * 100 >= 90 * tot THEN lag END) AS p90_days,
      |  min(CASE WHEN cum * 100 >= 99 * tot THEN lag END) AS p99_days
      |FROM w GROUP BY 1""".stripMargin

  /** RFM customer segmentation grid: each customer scored 1–5 on
    * Recency (days since last order), Frequency (#orders) and Monetary
    * (lifetime cents), output as the ≤125-cell (r,f,m) count grid — the
    * classic CRM segmentation, exact end to end: quintile boundaries
    * are order statistics off value-bounded ecdfs
    * (b_j = min{v : 5·cum ≥ j·n}), scores are integer comparisons
    * against the four broadcast boundaries (score = 1 + #boundaries
    * strictly below the value; ties land in the lower bucket). Scores
    * are ascending-by-value on all three axes — consumers flip recency.
    *
    * Scale shape: one orders pass to per-customer triples (unbounded
    * keys, map-side combine); each metric's boundary set comes from a
    * value-bounded ecdf + window (never a per-customer ntile window,
    * which would funnel all customers through one task); boundaries
    * broadcast back; the grid aggregate is ≤ 5³ cells. */
  def q202RfmSegments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Exact.cents
    val ords = graft.Tables.orders(s, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        cents(col("o_totalprice")).as("p"))
    val maxD = ords.agg(max(col("d")).as("dmax"))
    // checkpointed (r12, lint class #10): the per-customer RFM frame
    // feeds FOUR lineages (three quintile-bounds subplans + the scored
    // groupBy) — left lazy, each re-planned the orders scan and the
    // customer aggregate (SubtreeAudit caught the duplicate
    // scan+aggregate: four corpus scans for one at 100 TB). Narrow,
    // #customers rows; tot (its row count) comes off the materialized
    // RDD for the bounds literals.
    val per = ords.crossJoin(broadcast(maxD))
      .groupBy(col("o_custkey"))
      .agg(max(col("d")).as("dlast"), first(col("dmax")).as("dmax"),
        count(lit(1)).as("f"), sum(col("p")).as("m"))
      .select(col("o_custkey"),
        datediff(col("dmax"), col("dlast")).cast("long").as("r"),
        col("f"), col("m"))
      .localCheckpoint(true)
    val tot = per.count()
    def bounds(metric: String, prefix: String) = {
      // GlobalRank replaces the r11 unpartitioned windows (r12): the
      // distinct-value frame is calendar/count-bounded for r and f but
      // UNBOUNDED for m (distinct money totals ~ #customers), and
      // `sum over (ORDER BY v)` with no partition funnels it through
      // one task. The range-exchange running sum is the same inclusive
      // cum, distributed; tot rides as a literal from the checkpointed
      // frame, so the values — and hence the oracle hash — are
      // unchanged.
      val e = per.groupBy(col(metric).as("v")).agg(count(lit(1)).as("c"))
      val ranked = graft.plans.GlobalRank.withPosition(
        e, Seq("v" -> false), sumCol = Some("c"))
      val picks = (1 to 4).map(j =>
        min(when(col("cum") * 5 >= lit(j.toLong) * lit(tot), col("v")))
          .as(s"$prefix$j"))
      ranked.agg(picks.head, picks.tail: _*)
    }
    def score(c: org.apache.spark.sql.Column, prefix: String) =
      (1 to 4).map(j => when(c > col(s"$prefix$j"), 1L).otherwise(0L))
        .reduce(_ + _) + 1L
    per
      .crossJoin(broadcast(bounds("r", "rb")))
      .crossJoin(broadcast(bounds("f", "fb")))
      .crossJoin(broadcast(bounds("m", "mb")))
      .groupBy(score(col("r"), "rb").as("r_score"),
        score(col("f"), "fb").as("f_score"),
        score(col("m"), "mb").as("m_score"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val q202Sql: String = {
    def boundsSql(src: String, pfx: String) = {
      val picks = (1 to 4).map(j =>
        s"min(CASE WHEN cum * 5 >= $j * tot THEN v END) AS $pfx$j")
        .mkString(", ")
      s"""(SELECT $picks FROM (
         |  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS tot
         |  FROM (SELECT $src AS v, CAST(count(*) AS BIGINT) AS c
         |        FROM per GROUP BY 1)))""".stripMargin
    }
    def scoreSql(c: String, pfx: String) =
      "1 + " + (1 to 4).map(j =>
        s"(CASE WHEN $c > $pfx$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH per AS MATERIALIZED (
       |  SELECT o_custkey,
       |    CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
       |      (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
       |      AS BIGINT) AS r,
       |    CAST(count(*) AS BIGINT) AS f,
       |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |      AS BIGINT) AS m
       |  FROM orders GROUP BY o_custkey)
       |SELECT CAST(${scoreSql("r", "rb")} AS BIGINT) AS r_score,
       |  CAST(${scoreSql("f", "fb")} AS BIGINT) AS f_score,
       |  CAST(${scoreSql("m", "mb")} AS BIGINT) AS m_score,
       |  CAST(count(*) AS BIGINT) AS n_customers
       |FROM per
       |CROSS JOIN ${boundsSql("r", "rb")} rb
       |CROSS JOIN ${boundsSql("f", "fb")} fb
       |CROSS JOIN ${boundsSql("m", "mb")} mb
       |GROUP BY 1, 2, 3""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q202_rfm_segments", q202RfmSegments, Some(q202Sql)),
    QueryDef("q201_ship_lag", q201ShipLag, Some(q201Sql)),
    QueryDef("q200_brand_pricing", q200BrandPricing, Some(q200Sql)),
    QueryDef("q01_pricing_summary", q01PricingSummary, Some(q01Sql)),
    QueryDef("q02_filter_project", q02FilterProject, Some(q02Sql)),
    QueryDef("q03_join_agg", q03JoinAgg, Some(q03Sql)),
    QueryDef("q204_local_supplier", q204LocalSupplier, Some(q204Sql)),
    QueryDef("q205_market_share", q205MarketShare, Some(q205Sql)),
    QueryDef("q212_forecast_revenue", q212ForecastRevenue, Some(q212Sql)),
    QueryDef("q215_returned_items", q215ReturnedItems, Some(q215Sql)),
    QueryDef("q218_custdist", q218CustDist, Some(q218Sql)),
    QueryDef("q221_part_affinity", q221PartAffinity, Some(q221Sql)),
    QueryDef("q223_yoy_growth", q223YoyGrowth, Some(q223Sql)),
    QueryDef("q225_pit_features", q225PitFeatures, Some(q225Sql)),
    QueryDef("q226_negative_samples", q226NegativeSamples, Some(q226Sql)),
    QueryDef("q228_churn_labels", q228ChurnLabels, Some(q228Sql)),
    QueryDef("q230_label_auc", q230LabelAuc, Some(q230Sql)),
    QueryDef("q231_risk_bands", q231RiskBands, Some(q231Sql)),
    QueryDef("q232_gains_curve", q232GainsCurve, Some(q232Sql)),
    QueryDef("q233_band_resolution", q233BandResolution, Some(q233Sql)),
    QueryDef("q224_boxplot", q224Boxplot, Some(q224Sql)),
    QueryDef("q04_join_left", q04JoinLeft, Some(q04Sql)),
    QueryDef("q05_join_semi", q05JoinSemi, Some(q05Sql)),
    QueryDef("q06_join_anti", q06JoinAnti, Some(q06Sql)),
    QueryDef("q07_join_full", q07JoinFull, Some(q07Sql)),
    QueryDef("q08_distinct", q08Distinct, Some(q08Sql)),
    QueryDef("q09_latest_per_user", q09LatestPerUser, Some(q09Sql)),
    QueryDef("q13_union", q13Union, Some(q13Sql)),
    QueryDef("q14_intersect", q14Intersect, Some(q14Sql)),
    QueryDef("q15_except", q15Except, Some(q15Sql)),
    QueryDef("q16_rollup", q16Rollup, Some(q16Sql)),
    QueryDef("q17_cube", q17Cube, Some(q17Sql)),
    QueryDef("q18_above_avg", q18AboveAvg, Some(q18Sql)),
    QueryDef("q97_correlated_subquery", q97CorrelatedSubquery, Some(q97Sql)),
    QueryDef("q19_having", q19Having, Some(q19Sql)),
    QueryDef("q20_case_when", q20CaseWhen, Some(q20Sql)),
    QueryDef("q22_string_funcs", q22StringFuncs, Some(q22Sql)),
    QueryDef("q23_json_extract", q23Json, Some(q23Sql)),
    QueryDef("q42_approx_distinct", q42ApproxDistinct, Some(q42Sql)),
    QueryDef("q43_array_agg", q43ArrayAgg, Some(q43Sql)),
    QueryDef("q44_date_arith", q44DateArith, Some(q44Sql)),
    QueryDef("q45_range_join", q45RangeJoin, Some(q45Sql)),
    QueryDef("q47_math_funcs", q47MathFuncs, Some(q47Sql)),
    QueryDef("q81_nullsafe_join", q81NullSafeJoin, Some(q81Sql)))

  /** Math-function battery over exactly-representable inputs (abs, ceil,
    * floor, sqrt, pmod, sign — all correctly-rounded or integer ops;
    * transcendentals like log/pow are deliberately excluded because libm
    * results differ across engines). */
  def q47MathFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        abs(col("c_acctbal")).as("abs_bal"),
        ceil(col("c_acctbal")).cast("long").as("ceil_bal"),
        floor(col("c_acctbal")).cast("long").as("floor_bal"),
        sqrt(abs(col("c_acctbal"))).as("sqrt_bal"),
        pmod(col("c_custkey"), lit(7L)).as("mod7"),
        signum(col("c_acctbal")).as("sign_bal"))

  val q47Sql: String =
    """SELECT c_custkey, abs(c_acctbal) AS abs_bal,
      |  CAST(ceil(c_acctbal) AS BIGINT) AS ceil_bal,
      |  CAST(floor(c_acctbal) AS BIGINT) AS floor_bal,
      |  sqrt(abs(c_acctbal)) AS sqrt_bal,
      |  c_custkey % 7 AS mod7,
      |  CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal
      |FROM customer""".stripMargin
}
