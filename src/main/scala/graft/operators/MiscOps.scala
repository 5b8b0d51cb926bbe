package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining general-purpose scalar surface: array higher-order functions
  * and miscellaneous conditional/bitwise scalars. All integer/string
  * valued — deterministic across engines by construction.
  */
object MiscOps {

  /** Array HOF battery over tokenized documents: transform, filter,
    * slice, element aggregation — the list-processing surface a feature
    * pipeline uses before exploding anything. Everything stays per-row
    * (embarrassingly parallel). */
  def q60ArrayHofs(s: SparkSession, dir: String): DataFrame =
    // NULL text has no token array to profile (r8, text battery): the
    // engines disagree on every NULL-array corner (concat_ws '' vs
    // array_to_string NULL, size NULL vs list_concat treating NULL as
    // []), so the row is excluded at the boundary, as in chunkTokens.
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), t => length(t) > 4)).cast("long").as("n_long_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t))
          .as("total_chars"),
        concat_ws(" ", transform(slice(col("toks"), 1, 3), t => upper(t)))
          .as("head3_upper"),
        exists(col("toks"), t => t === "data").as("has_data"),
        forall(col("toks"), t => length(t) < 20).as("all_short"))

  val q60Sql: String =
    s"""SELECT doc_id,
      |  len(toks) AS n_tokens,
      |  len(list_filter(toks, t -> length(t) > 4)) AS n_long_tokens,
      |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS total_chars,
      |  array_to_string(list_transform(toks[1:3], t -> upper(t)), ' ') AS head3_upper,
      |  list_contains(toks, 'data') AS has_data,
      |  len(list_filter(toks, t -> length(t) >= 20)) = 0 AS all_short
      |FROM (SELECT doc_id,
      |        ${tokensSql("text")} AS toks
      |      FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** Conditional/selective aggregate battery: count_if, bool_and/bool_or,
    * max_by/min_by (argmax/argmin — the "row with the best score" shape
    * that otherwise needs a window), all per event_type in ONE aggregate
    * pass. The argmax ordering key is the event timestamp, which is
    * globally UNIQUE in the fixtures (tie-audited) — max_by over a
    * duplicated key would pick an engine-dependent winner and break the
    * hash gate. */
  def q82ConditionalAggs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .groupBy(col("event_type"))
      .agg(
        count_if(col("value") > 100.0).as("n_big"),
        bool_and(col("value") >= 0.0).as("all_nonneg"),
        bool_or(col("value") > 990.0).as("any_huge"),
        max_by(col("event_id"), col("ts_us")).as("latest_event"),
        min_by(col("event_id"), col("ts_us")).as("earliest_event"),
        count(lit(1)).as("n"))

  val q82Sql: String =
    """SELECT event_type,
      |  CAST(count_if(value > 100.0) AS BIGINT) AS n_big,
      |  bool_and(value >= 0.0) AS all_nonneg,
      |  bool_or(value > 990.0) AS any_huge,
      |  arg_max(event_id, epoch_us(ts)) AS latest_event,
      |  arg_min(event_id, epoch_us(ts)) AS earliest_event,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** Array set-operation battery against a constant stopword set:
    * intersect/except/union/overlap. Outputs are SORTED and joined to
    * strings so element order (engine-dependent for set ops) never
    * reaches the hash gate. Pure per-row work. */
  def q84ArraySetOps(s: SparkSession, dir: String): DataFrame = {
    val stop = array(Seq("the", "a", "and", "of", "value", "data")
      .map(lit): _*)
    // NULL text boundary — same contract as q60 (r8, text battery)
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("u"))
      .select(col("doc_id"),
        concat_ws(",", sort_array(array_intersect(col("u"), stop)))
          .as("stops_present"),
        size(array_except(col("u"), stop)).cast("long").as("n_content_terms"),
        size(array_union(col("u"), stop)).cast("long").as("n_union"),
        arrays_overlap(col("u"), stop).as("has_stopword"))
  }

  val q84Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(${tokensSql("text")}) AS u,
      |    ['the', 'a', 'and', 'of', 'value', 'data'] AS stop
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT doc_id,
      |  coalesce(array_to_string(list_sort(list_distinct(
      |    list_filter(u, x -> list_contains(stop, x)))), ','), '') AS stops_present,
      |  CAST(len(list_filter(u, x -> NOT list_contains(stop, x))) AS BIGINT)
      |    AS n_content_terms,
      |  CAST(len(list_distinct(list_concat(u, stop))) AS BIGINT) AS n_union,
      |  len(list_filter(u, x -> list_contains(stop, x))) > 0 AS has_stopword
      |FROM t""".stripMargin

  /** Fixed-width histogram binning of order totals: integer bucket ids
    * from exact arithmetic on 2-decimal money (the boundary can't round
    * across a bucket), plus per-bucket exact revenue — the profiling
    * primitive behind data-distribution dashboards. One aggregate pass. */
  def q85Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Exact.fsum(col("o_totalprice")).as("sum_total"))

  val q85Sql: String =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY 1""".stripMargin

  /** Conditional + bitwise scalar battery over orders. */
  def q61MiscScalars(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        greatest(col("o_totalprice"), lit(100000.0)).as("floor_price"),
        least(col("o_totalprice"), lit(300000.0)).as("cap_price"),
        nullif(col("o_orderstatus"), lit("F")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("F")), lit("CLOSED")).as("status_label"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("key_low8"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("key_xor"),
        shiftright(col("o_orderkey"), 4).as("key_hi"))

  val q61Sql: String =
    """SELECT o_orderkey,
      |  greatest(o_totalprice, 100000.0) AS floor_price,
      |  least(o_totalprice, 300000.0) AS cap_price,
      |  nullif(o_orderstatus, 'F') AS status_or_null,
      |  coalesce(nullif(o_orderstatus, 'F'), 'CLOSED') AS status_label,
      |  o_orderkey & 255 AS key_low8,
      |  xor(o_orderkey, o_custkey) AS key_xor,
      |  o_orderkey >> 4 AS key_hi
      |FROM orders""".stripMargin

  /** ROLLUP with `grouping_id` — distinguishes "NULL because subtotal"
    * from "NULL in the data" (ANSI bit-vector semantics, identical in
    * DuckDB's GROUPING()). */
  def q62GroupingId(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        grouping_id().as("gid"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"))

  val q62Sql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** Calendar-function battery beyond q27's extract family: truncation,
    * month-end, quarter, day-of-year — all integer/date valued. */
  def q63DateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"))
      .select(col("o_orderkey"),
        date_trunc("month", col("d")).cast("date").as("month_start"),
        last_day(col("d")).as("month_end"),
        quarter(col("d")).cast("long").as("qtr"),
        dayofyear(col("d")).cast("long").as("doy"),
        date_format(col("d"), "yyyy-MM").as("ym"))

  val q63Sql: String =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr,
      |  CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy,
      |  strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym
      |FROM orders""".stripMargin

  /** Ordered string aggregation (ANSI LISTAGG … WITHIN GROUP): the
    * explicit ORDER BY makes the concatenation deterministic at any
    * partition count — the unordered form would be a partition-order
    * lottery. */
  def q66Listagg(s: SparkSession, dir: String): DataFrame = {
    // WITHIN GROUP only parses through the SQL entry point (expr() inside
    // .agg() drops the SortOrder); this also exercises spark.sql() over a
    // registered view — the other half of the API surface
    Tables.orders(s, dir).createOrReplaceTempView("graft_q66_orders")
    // DISTINCT inside listagg trips a Spark 4.1 parser bug when combined
    // with a delimiter + WITHIN GROUP; dedup in a subquery instead
    s.sql(
      """SELECT o_orderstatus,
        |  listagg(o_orderpriority, '|')
        |    WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
        |  count(*) AS n_priorities
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM graft_q66_orders)
        |GROUP BY o_orderstatus""".stripMargin)
  }

  val q66Sql: String =
    """SELECT o_orderstatus,
      |  string_agg(o_orderpriority, '|' ORDER BY o_orderpriority) AS priorities,
      |  CAST(count(*) AS BIGINT) AS n_priorities
      |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
      |GROUP BY o_orderstatus""".stripMargin

  /** Declarative data-quality constraint suite (the Deequ/expectations
    * shape): six rules over `lineitem` — completeness, two range checks,
    * an accepted-values check, primary-key uniqueness, and referential
    * integrity to `orders` — each reported as (rule, violations, total,
    * pass). All metrics are exact integer counts, so verdicts are
    * oracle-hashable.
    *
    * Scale shape: the five row-local rules compute in ONE full-scan
    * aggregate (conditional sums fused into a single `HashAggregateExec`
    * pass — adding a rule adds a column, not a scan); uniqueness rides the
    * same statement as an exact distinct count; the referential rule is a
    * left-anti join on the fact's join key (shuffle-partitioned, AQE
    * skew-splittable — NOT a broadcast of the unbounded orders side). The
    * single-row metric frames are stacked into the rule/verdict rows at
    * zero distributed cost. */
  def q102Constraints(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val rowRules = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_flag"),
      sum(when(col("l_quantity") >= 1.0 && col("l_quantity") <= 50.0, 0L)
        .otherwise(1L)).as("qty_oob"),
      sum(when(col("l_discount") >= 0.0 && col("l_discount") <= 0.6, 0L)
        .otherwise(1L)).as("disc_oob"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 0L).otherwise(1L))
        .as("bad_flag"),
      // countDistinct SKIPS tuples with any NULL key — which is the
      // audit semantic wanted here: a NULL-keyed row can never satisfy
      // a PK, so each one stays in n_rows − n_pk as a violation. The
      // oracle mirrors with a CASE-wrapped row constructor (DuckDB's
      // bare count(DISTINCT (a,b)) would count ROW(NULL,x) as a value —
      // the r8 rel-battery divergence).
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_pk"))
    val orphans = li.join(Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"),
        "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    rowRules.crossJoin(orphans).selectExpr(
      """stack(6,
        |  'completeness_returnflag', null_flag, n_rows, null_flag = 0,
        |  'range_quantity',          qty_oob,   n_rows, qty_oob = 0,
        |  'range_discount',          disc_oob,  n_rows, disc_oob = 0,
        |  'accepted_returnflag',     bad_flag,  n_rows, bad_flag = 0,
        |  'unique_pk',               n_rows - n_pk, n_rows, n_rows = n_pk,
        |  'fk_orders',               n_orphan,  n_rows, n_orphan = 0
        |) AS (rule, violations, total, pass)""".stripMargin)
  }

  val q102Sql: String =
    """WITH a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS null_flag,
      |    CAST(sum(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS qty_oob,
      |    CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.6 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS disc_oob,
      |    CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)
      |      AS BIGINT) AS bad_flag,
      |    CAST(count(DISTINCT CASE WHEN l_orderkey IS NOT NULL
      |      AND l_linenumber IS NOT NULL
      |      THEN (l_orderkey, l_linenumber) END) AS BIGINT) AS n_pk
      |  FROM lineitem),
      |o AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_orphan
      |  FROM lineitem l LEFT JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderkey IS NULL)
      |SELECT r.* FROM a, o, LATERAL (
      |  SELECT 'completeness_returnflag' AS rule, null_flag AS violations,
      |    n_rows AS total, null_flag = 0 AS pass
      |  UNION ALL SELECT 'range_quantity', qty_oob, n_rows, qty_oob = 0
      |  UNION ALL SELECT 'range_discount', disc_oob, n_rows, disc_oob = 0
      |  UNION ALL SELECT 'accepted_returnflag', bad_flag, n_rows, bad_flag = 0
      |  UNION ALL SELECT 'unique_pk', n_rows - n_pk, n_rows, n_rows = n_pk
      |  UNION ALL SELECT 'fk_orders', n_orphan, n_rows, n_orphan = 0) r""".stripMargin

  /** CDC merge (SCD-type-1 upsert/delete apply): fold a change stream of
    * (key, op, payload) rows — op ∈ {D delete, U update, I insert} — into
    * a base table, last-write-wins per key. This is the lake-maintenance
    * MERGE primitive under every incremental-ingest pipeline. The change
    * set here is derived deterministically from the base table (key mod
    * buckets) so the oracle can reproduce it; a real feed would arrive as
    * its own source.
    *
    * Scale shape: survivors = base ANTI-JOIN changed-keys. No broadcast
    * is FORCED: size stats decide, so a small change batch broadcasts
    * (the plan Spark picks locally) while an unbounded CDC backlog
    * degrades gracefully to a shuffled, AQE-skew-splittable anti-join.
    * Upsert payloads arrive by UNION ALL (partition concatenation, no
    * shuffle). Nothing rewrites untouched rows' payloads, and no
    * full-table window/sort appears anywhere. */
  def q105CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"))
    val dels = base.filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").as("k"), lit("D").as("op"),
        col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    val upds = base.filter(col("c_custkey") % 50 === 1)
      .select(col("c_custkey").as("k"), lit("U").as("op"),
        col("c_name"), lit("UPDATED").as("c_mktsegment"),
        (col("c_acctbal") + 100.0d).as("c_acctbal"))
    val ins = base.filter(col("c_custkey") % 50 === 2)
      .select((col("c_custkey") + 1000000L).as("k"), lit("I").as("op"),
        concat(lit("new_"), col("c_name")).as("c_name"),
        lit("NEW").as("c_mktsegment"), col("c_acctbal"))
    val changes = dels.unionAll(upds).unionAll(ins)
    val survivors = base.join(
      changes.select(col("k").as("c_custkey")), Seq("c_custkey"), "left_anti")
    survivors.unionAll(
      changes.filter(col("op") =!= "D")
        .select(col("k").as("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal")))
  }

  val q105Sql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
      |chg AS (
      |  SELECT c_custkey AS k, 'D' AS op, c_name, c_mktsegment, c_acctbal
      |  FROM base WHERE c_custkey % 50 = 0
      |  UNION ALL
      |  SELECT c_custkey, 'U', c_name, 'UPDATED', c_acctbal + 100.0
      |  FROM base WHERE c_custkey % 50 = 1
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'I', 'new_' || c_name, 'NEW', c_acctbal
      |  FROM base WHERE c_custkey % 50 = 2)
      |SELECT b.c_custkey, b.c_name, b.c_mktsegment, b.c_acctbal
      |FROM base b ANTI JOIN chg c ON b.c_custkey = c.k
      |UNION ALL
      |SELECT k, c_name, c_mktsegment, c_acctbal
      |FROM chg WHERE op <> 'D'""".stripMargin

  /** Incremental aggregate maintenance (materialized-view delta merge):
    * per-customer order stats kept current by COMBINING the historical
    * aggregate state with the new batch's aggregate — never rescanning
    * history rows. The split here is deterministic (orderkey mod 10) so
    * the oracle — a plain GROUP BY over everything — can verify that
    * merge(state(history), state(delta)) ≡ recompute(all).
    *
    * Correct merging needs ALGEBRAIC accumulators: count and max merge
    * trivially; the money sum is kept as an exact cents-scaled int64
    * inside each state (floating-point partial sums would make the
    * merged result differ from the recompute by accumulation order —
    * the same reason [[graft.functions.Exact]] exists), converted to
    * double once at the very end. Per-key cent sums overflow int64 only
    * past ~9e16 dollars per customer.
    *
    * Scale shape: each state is a key-cardinality frame (map-side
    * partial agg collapses the fact rows); the merge is ONE full-outer
    * shuffle join of two key-sized frames. At 100 TB the history state
    * is a stored table and only the delta's fact rows are ever read —
    * that is the entire point of the operator. */
  def q109IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"))
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey")).agg(
        count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("o_totalprice"))).as("sc"),
        max(col("o_orderdate")).as("mx"))
    // null-safe split (r8, rel fuzz battery): the history/delta split
    // must PARTITION the input — with plain =!= / === a NULL-keyed
    // order satisfies neither predicate and silently vanishes from the
    // merged view while the recompute oracle counts it. <=> sends NULL
    // keys to the history side, keeping merge ≡ recompute on any input.
    val hist = state(o.filter(!(col("o_orderkey") % 10 <=> 0)))
      .withColumnsRenamed(Map("n" -> "n_a", "sc" -> "sc_a", "mx" -> "mx_a"))
    val delta = state(o.filter(col("o_orderkey") % 10 <=> 0))
      .withColumnsRenamed(Map("n" -> "n_b", "sc" -> "sc_b", "mx" -> "mx_b"))
    hist.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)))
          .as("n_orders"),
        // NULL only when BOTH states are NULL (a customer whose every
        // price is NULL) — the recompute's sum() semantics; a plain
        // coalesce-add would mint a spurious 0.0 there
        when(col("sc_a").isNull && col("sc_b").isNull, lit(null))
          .otherwise((coalesce(col("sc_a"), lit(0L))
            + coalesce(col("sc_b"), lit(0L)))
            .cast("double") / 100.0d).as("sum_total"),
        greatest(col("mx_a"), col("mx_b")).as("last_order"))
  }

  val q109Sql: String =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100.0 AS sum_total,
      |  max(o_orderdate) AS last_order
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Snapshot diff — the "what changed between table versions" audit
    * query behind every lake-maintenance review (pairs with
    * [[graft.sources.Lake.writeVersion]]'s time travel: read two
    * committed versions, diff them; `LakeSpec` exercises exactly that
    * composition). Emits one row per key whose presence or payload
    * differs: `added` (new version only), `removed` (old only), or
    * `changed` (both, any payload column differing under null-safe
    * equality). Unchanged keys produce NOTHING — the diff's size tracks
    * the churn, not the table.
    *
    * Scale shape: ONE full-outer shuffle join on the key (both sides
    * key-partitioned, AQE-skew-splittable; no broadcast is forced since
    * neither snapshot is bounded) and a row-local classification — no
    * window, no sort, no driver state. The declared query derives both
    * versions deterministically from `customer` (key mod 50 slices) so
    * the oracle reproduces them.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String,
      payload: Seq[String]): DataFrame = {
    val av = a.select(col(key) +: lit(true).as("in_a") +:
      payload.map(c => col(c).as(s"a_$c")): _*)
    val bv = b.select(col(key) +: lit(true).as("in_b") +:
      payload.map(c => col(c).as(s"b_$c")): _*)
    val differs = payload.map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduceLeft(_ || _)
    av.join(bv, Seq(key), "full_outer")
      .withColumn("change",
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(differs, "changed"))
      .filter(col("change").isNotNull)
      .select(col(key) +: col("change") +:
        payload.flatMap(c => Seq(col(s"a_$c"), col(s"b_$c"))): _*)
  }

  def q117SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val v1 = base.filter(col("c_custkey") % 50 =!= 2)
    val v2 = base.filter(col("c_custkey") % 50 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 50 === 1, col("c_acctbal") + 100.0d)
          .otherwise(col("c_acctbal")))
    snapshotDiff(v1, v2, "c_custkey", Seq("c_mktsegment", "c_acctbal"))
  }

  val q117Sql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |v1 AS (SELECT * FROM base WHERE c_custkey % 50 <> 2),
      |v2 AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_custkey % 50 = 1 THEN c_acctbal + 100.0 ELSE c_acctbal END
      |      AS c_acctbal
      |  FROM base WHERE c_custkey % 50 <> 0)
      |SELECT coalesce(v1.c_custkey, v2.c_custkey) AS c_custkey,
      |  CASE WHEN v1.c_custkey IS NULL THEN 'added'
      |       WHEN v2.c_custkey IS NULL THEN 'removed'
      |       WHEN v1.c_mktsegment IS DISTINCT FROM v2.c_mktsegment
      |         OR v1.c_acctbal IS DISTINCT FROM v2.c_acctbal THEN 'changed'
      |  END AS change,
      |  v1.c_mktsegment AS a_c_mktsegment, v2.c_mktsegment AS b_c_mktsegment,
      |  v1.c_acctbal AS a_c_acctbal, v2.c_acctbal AS b_c_acctbal
      |FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
      |WHERE CASE WHEN v1.c_custkey IS NULL THEN 'added'
      |           WHEN v2.c_custkey IS NULL THEN 'removed'
      |           WHEN v1.c_mktsegment IS DISTINCT FROM v2.c_mktsegment
      |             OR v1.c_acctbal IS DISTINCT FROM v2.c_acctbal THEN 'changed'
      |      END IS NOT NULL""".stripMargin

  /** Whole-star referential-integrity audit — every foreign-key edge of
    * the schema, orphan-counted, in one result. The point is the COST
    * shape: the three fact-side edges (lineitem → orders/part/supplier)
    * ride ONE scan of the fact through a chain of left joins into one
    * aggregate — one pass plus the key-partitioned shuffles, versus the
    * naive three separate anti-join scans. No broadcast is FORCED on
    * part/supplier: they scale with SF (part is SF×200k keys — ~2e10 at
    * 100 TB), so size statistics/AQE decide, broadcasting only while
    * genuinely small. The three dimension-side edges broadcast only the
    * fixed-cardinality nation (25 rows) / region (5 rows) tables.
    * Orphan counts assume dim keys are unique (their PK
    * uniqueness is q102's `unique_pk` rule — a duplicated dim key would
    * fan the left join out identically on both engines, so the hash
    * contract holds regardless). */
  def q162FkAudit(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .join(Tables.part(s, dir).select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left")
      .join(Tables.supplier(s, dir).select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left")
      .agg(count(lit(1)).as("total"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_o"),
        sum(when(col("p_partkey").isNull, 1L).otherwise(0L)).as("v_p"),
        sum(when(col("s_suppkey").isNull, 1L).otherwise(0L)).as("v_s"))
      .selectExpr(
        """stack(3,
          |  'lineitem->orders',   v_o,
          |  'lineitem->part',     v_p,
          |  'lineitem->supplier', v_s
          |) AS (edge, violations)""".stripMargin, "total")
    def dimEdge(name: String, probe: DataFrame, k: String,
        dim: DataFrame, dk: String): DataFrame =
      probe.join(broadcast(dim), probe(k) === dim(dk), "left")
        .agg(count(lit(1)).as("total"),
          sum(when(dim(dk).isNull, 1L).otherwise(0L)).as("violations"))
        .select(lit(name).as("edge"), col("violations"), col("total"))
    fact
      .unionByName(dimEdge("customer->nation",
        Tables.customer(s, dir).select(col("c_nationkey")), "c_nationkey",
        Tables.nation(s, dir).select(col("n_nationkey")), "n_nationkey"))
      .unionByName(dimEdge("supplier->nation",
        Tables.supplier(s, dir).select(col("s_nationkey")), "s_nationkey",
        Tables.nation(s, dir).select(col("n_nationkey")), "n_nationkey"))
      .unionByName(dimEdge("nation->region",
        Tables.nation(s, dir).select(col("n_regionkey")), "n_regionkey",
        Tables.region(s, dir).select(col("r_regionkey")), "r_regionkey"))
  }

  val q162Sql: String =
    """WITH f AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_o,
      |    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_p,
      |    CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_s
      |  FROM lineitem l
      |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |  LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      |cn AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
      |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey),
      |sn AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
      |  FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey),
      |nr AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |    CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
      |  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey)
      |SELECT 'lineitem->orders' AS edge, v_o AS violations, total FROM f
      |UNION ALL SELECT 'lineitem->part', v_p, total FROM f
      |UNION ALL SELECT 'lineitem->supplier', v_s, total FROM f
      |UNION ALL SELECT 'customer->nation', v, total FROM cn
      |UNION ALL SELECT 'supplier->nation', v, total FROM sn
      |UNION ALL SELECT 'nation->region', v, total FROM nr""".stripMargin

  /** k-anonymity audit over the corpus's quasi-identifier tuple
    * (lang, source, 256-char size bucket) — the privacy gate a training
    * pipeline runs before release: any QI group smaller than k = 10 is
    * re-identifiable and flagged `at_risk`, with the doc count that
    * would leak. (The reference has no privacy surface; this extends the
    * audit family q102/q162 to the release-readiness check.)
    *
    * Scale shape: ONE hash aggregate with map-side partial combine;
    * output is QI-cardinality-bounded (langs × sources × buckets), never
    * corpus-sized. No join, no window, no skew exposure — the group-by
    * key includes the high-cardinality bucket so no single reducer sees
    * more than one QI cell. */
  def kAnonymityCore(docs: DataFrame,
      size: org.apache.spark.sql.Column): DataFrame =
    docs.groupBy(col("lang"), col("source"),
        (size / 256).cast("long").as("size_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("at_risk", col("n_docs") < 10)

  def q167KAnonymity(s: SparkSession, dir: String): DataFrame =
    kAnonymityCore(Tables.documents(s, dir), col("n_chars"))

  val q167Sql: String =
    """SELECT lang, source, n_chars // 256 AS size_bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  count(*) < 10 AS at_risk
      |FROM documents GROUP BY 1, 2, 3""".stripMargin

  /** Approximate functional-dependency audit: does source→lang hold (and
    * the reverse)? For each determinant value, the dependent's dominant
    * count; violations = rows outside the dominant — the FD-discovery
    * primitive under schema inference and "is this column derivable"
    * checks (extends the q102/q162/q167 audit family).
    *
    * Scale shape: ONE corpus pass collapses to the (source × lang)
    * contingency table (map-side combine, cardinality-bounded); both FD
    * directions are re-aggregations of that same tiny table — the corpus
    * is never touched twice. */
  def q171FdAudit(s: SparkSession, dir: String): DataFrame =
    fdAuditCore(Tables.documents(s, dir))

  def fdAuditCore(docs: DataFrame): DataFrame = {
    val xy = docs
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    def audit(name: String, det: String): DataFrame =
      xy.groupBy(col(det)).agg(sum(col("c")).as("tot"), max(col("c")).as("dom"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("tot")).as("n_rows"),
          sum(col("tot") - col("dom")).as("violations"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_rows"),
          col("violations"), (col("violations") === 0L).as("holds"))
    val out = audit("source->lang", "source")
      .unionAll(audit("lang->source", "lang"))
      .localCheckpoint(true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(xy)
    out
  }

  val q171Sql: String =
    """WITH xy AS MATERIALIZED (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |s AS (SELECT source, sum(c) AS tot, max(c) AS dom FROM xy GROUP BY 1),
      |l AS (SELECT lang, sum(c) AS tot, max(c) AS dom FROM xy GROUP BY 1)
      |SELECT 'source->lang' AS fd, CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(tot) AS BIGINT) AS n_rows,
      |  CAST(sum(tot - dom) AS BIGINT) AS violations,
      |  CAST(sum(tot - dom) AS BIGINT) = 0 AS holds
      |FROM s
      |UNION ALL
      |SELECT 'lang->source', CAST(count(*) AS BIGINT),
      |  CAST(sum(tot) AS BIGINT), CAST(sum(tot - dom) AS BIGINT),
      |  CAST(sum(tot - dom) AS BIGINT) = 0
      |FROM l""".stripMargin

  /** Mutual information I(source; lang) plus both marginal entropies —
    * the information-theoretic upgrade of [[q171FdAudit]]: FD violation
    * counts say whether a dependency is exact; MI says how much one
    * metadata column tells you about the other (0 = independent,
    * min(H) = fully determined), and NMI calibrates it to [0,1]. A
    * training pipeline uses this to catch redundant/leaky metadata
    * before stratifying on it.
    *
    * Determinism: the q168/q161 fixed-point idiom. Every ln is taken of
    * an INTEGER count and quantized to ⌊ln·10⁶ + ½⌋; MI's sum
    * Σ c·(L(c)+L(n)−L(rx)−L(cy)) and both entropy numerators
    * n·L(n) − Σ m·L(m) are exact decimal(38,0) integer arithmetic; each
    * output is ONE double division. NMI = S_mi / min(entropy numerators)
    * — the common 1/(n·10⁶) factor cancels, so it is an exact integer
    * ratio too.
    *
    * Scale shape: ONE corpus pass to the (source × lang) contingency
    * table (map-side combine, cardinality-bounded); marginals, the
    * once-per-group flags, and the final moments are windows/aggregates
    * over that tiny checkpointed table — the corpus is never rescanned,
    * and no window ever sees more than |sources|·|langs| rows. */
  def q180MutualInfo(s: SparkSession, dir: String): DataFrame =
    mutualInfoCore(Tables.documents(s, dir), "source", "lang")

  def mutualInfoCore(df: DataFrame, x: String, y: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    def lfp(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val xy = df.groupBy(col(x), col(y)).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val e = xy
      .withColumn("rx", sum(col("c")).over(Window.partitionBy(col(x))))
      .withColumn("cy", sum(col("c")).over(Window.partitionBy(col(y))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("rs", row_number()
        .over(Window.partitionBy(col(x)).orderBy(col(y))))
      .withColumn("rl", row_number()
        .over(Window.partitionBy(col(y)).orderBy(col(x))))
    val m = e.agg(
      max(col("n")).as("n"),
      sum((col("c").cast(d38) *
        (lfp(col("c")) + lfp(col("n")) - lfp(col("rx")) - lfp(col("cy")))
          .cast(d38)).cast(d38)).as("s_mi"),
      sum(when(col("rs") === 1,
        (col("rx").cast(d38) * lfp(col("rx")).cast(d38)).cast(d38))
        .otherwise(lit(0).cast(d38))).as("s_rx"),
      sum(when(col("rl") === 1,
        (col("cy").cast(d38) * lfp(col("cy")).cast(d38)).cast(d38))
        .otherwise(lit(0).cast(d38))).as("s_cy"))
    val out = m.select(
      col("n"),
      (col("s_mi").cast("double") / (col("n").cast("double") * 1e6))
        .as("mi_nats"),
      ((col("n").cast(d38) * lfp(col("n")).cast(d38) - col("s_rx"))
        .cast("double") / (col("n").cast("double") * 1e6)).as("h_x"),
      ((col("n").cast(d38) * lfp(col("n")).cast(d38) - col("s_cy"))
        .cast("double") / (col("n").cast("double") * 1e6)).as("h_y"),
      (col("s_mi").cast("double") / nullif(
        least(col("n").cast(d38) * lfp(col("n")).cast(d38) - col("s_rx"),
          col("n").cast(d38) * lfp(col("n")).cast(d38) - col("s_cy"))
          .cast("double"), lit(0.0))).as("nmi"))
      .localCheckpoint(true) // materialize the 1-row result, then release xy
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(xy)
    out
  }

  val q180Sql: String = {
    def l(k: String) =
      s"CAST(floor(ln(CAST($k AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    s"""WITH xy AS MATERIALIZED (
       |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2),
       |e AS (
       |  SELECT c,
       |    sum(c) OVER (PARTITION BY source) AS rx,
       |    sum(c) OVER (PARTITION BY lang) AS cy,
       |    sum(c) OVER () AS n,
       |    row_number() OVER (PARTITION BY source ORDER BY lang) AS rs,
       |    row_number() OVER (PARTITION BY lang ORDER BY source) AS rl
       |  FROM xy),
       |m AS (
       |  SELECT CAST(max(n) AS BIGINT) AS n,
       |    sum(CAST(c AS HUGEINT) *
       |      (${l("c")} + ${l("n")} - ${l("rx")} - ${l("cy")})) AS s_mi,
       |    sum(CASE WHEN rs = 1
       |      THEN CAST(rx AS HUGEINT) * ${l("rx")} ELSE 0 END) AS s_rx,
       |    sum(CASE WHEN rl = 1
       |      THEN CAST(cy AS HUGEINT) * ${l("cy")} ELSE 0 END) AS s_cy
       |  FROM e)
       |SELECT n,
       |  CAST(s_mi AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mi_nats,
       |  CAST(CAST(n AS HUGEINT) * ${l("n")} - s_rx AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * 1e6) AS h_x,
       |  CAST(CAST(n AS HUGEINT) * ${l("n")} - s_cy AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * 1e6) AS h_y,
       |  CAST(s_mi AS DOUBLE) / nullif(CAST(least(
       |    CAST(n AS HUGEINT) * ${l("n")} - s_rx,
       |    CAST(n AS HUGEINT) * ${l("n")} - s_cy) AS DOUBLE), 0.0) AS nmi
       |FROM m""".stripMargin
  }

  /** Benford's-law audit of order totals — the classic forged/synthetic-
    * numbers detector (real multiplicative amounts put digit 1 first
    * ~30.1% of the time; fabricated or truncated feeds flatten the
    * curve): per leading digit, observed vs expected per-mille share.
    * Extends the q102/q162/q167/q171 audit family with a distributional
    * forensic.
    *
    * Determinism: the leading digit comes from the STRING form of the
    * exact cents-long (long→decimal-string is identical everywhere —
    * no log10 whose libm rounding could disagree at powers of ten);
    * observed shares are exact integer per-milles (n_d·1000 div n);
    * the Benford expectations are Scala-computed integer constants
    * rendered into BOTH engines (q154/q173 pattern) — no engine
    * evaluates a logarithm at query time. The whole output is integer.
    *
    * Scale shape: ONE pass, 9-row aggregate (map-side combine), the
    * grand total re-aggregates those 9 rows. No window, no corpus join. */
  def q187Benford(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // log10(1 + 1/d) in per-mille, exact integer constants
    val exp = (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1000))
    val digits = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 0)
      .select(substring(graft.functions.Exact.cents(col("o_totalprice"))
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    digits
      .withColumn("n", sum(col("n_d")).over(Window.partitionBy()))
      .select(col("digit"), col("n_d"),
        expr("n_d * 1000 div n").as("obs_pm"),
        element_at(array(exp.map(lit): _*), col("digit").cast("int"))
          .as("exp_pm"))
      .withColumn("dev_pm", col("obs_pm") - col("exp_pm"))
  }

  val q187Sql: String = {
    val exp = (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1000))
    val cases = exp.zipWithIndex
      .map { case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
       |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(count(*) AS BIGINT) AS n_d
       |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
       |t AS (SELECT digit, n_d, sum(n_d) OVER () AS n FROM d)
       |SELECT digit, n_d, CAST(n_d * 1000 // n AS BIGINT) AS obs_pm,
       |  CAST(CASE digit $cases END AS BIGINT) AS exp_pm,
       |  CAST(n_d * 1000 // n - (CASE digit $cases END) AS BIGINT) AS dev_pm
       |FROM t""".stripMargin
  }

  /** CMS geometry shared by the batch query and the streaming tier. */
  val CmsDepth = 4
  val CmsWidth = 16L

  /** The d per-row (hash-row, cell) coordinates of one term. */
  def cmsCoords(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until CmsDepth).map(j =>
      struct(lit(j).as("j"), pmod(hash60Seeded(j, c), lit(CmsWidth)).as("idx"))): _*)

  /** Sketch cells from a `term` stream/frame — works unchanged on a
    * streaming frame ([[graft.streaming.StreamingOps.countMinStream]]):
    * the cells ARE a bounded-key streaming aggregate. */
  def cmsCells(terms: DataFrame): DataFrame =
    terms.select(explode(cmsCoords(col("term"))).as("c"))
      .groupBy(col("c.j").as("j"), col("c.idx").as("idx"))
      .agg(count(lit(1)).as("c"))

  /** Count–Min sketch — the mergeable bounded-memory frequency sketch
    * completing the sketch family (q42 HLL distinct counts, q71 bloom
    * membership, q80 SpaceSaving top-k, q139 histogram quantiles): d=4
    * hash rows × w=16 counters per row, estimate = min over rows of the
    * hashed cell, guaranteed ≥ the true count (one-sided error ≤ εN with
    * ε = e/w at δ = e^-d). Sized deliberately small so the synthetic
    * corpus's 46-term vocabulary actually collides — the overcount
    * column demonstrates (and the spec asserts) the one-sided bound.
    *
    * Determinism: the hashes are the engine's seeded md5 family
    * ([[graft.functions.TextFns.hash60Seeded]]), so the SKETCH ITSELF is
    * oracle-reproducible in SQL — unlike q42's opaque HLL registers,
    * every cell and every estimate hash-matches DuckDB.
    *
    * Scale shape: one corpus pass explodes d rows per token into a
    * (row, cell)-keyed count — map-side combine collapses to d·w = 64
    * cells per map task before the shuffle, the textbook mergeable-
    * sketch property (cells ADD across partitions/feeds). The probe side
    * reuses the top-k cut (TakeOrderedAndProject) and joins the 64-cell
    * sketch as a broadcast. */
  def q210CountMin(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val cells = cmsCells(tok)
    val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc).limit(20)
    exact
      .select(col("term"), col("tf"), explode(cmsCoords(col("term"))).as("p"))
      .select(col("term"), col("tf"), col("p.j").as("j"), col("p.idx").as("idx"))
      .join(broadcast(cells), Seq("j", "idx"))
      .groupBy(col("term"), col("tf"))
      .agg(min(col("c")).as("est"))
      .withColumn("overcount", col("est") - col("tf"))
  }

  val q210Sql: String =
    s"""WITH tok AS (
      |  SELECT w AS term FROM (SELECT unnest(${tokensSql("text")}) AS w
      |    FROM documents)
      |  WHERE w <> ''),
      |cells AS (
      |  SELECT j,
      |    ${hash60Sql("j || ':' || term")} % 16
      |      AS idx,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM tok, UNNEST([0, 1, 2, 3]) AS s(j)
      |  GROUP BY 1, 2),
      |exact AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1
      |  ORDER BY tf DESC, term LIMIT 20)
      |SELECT e.term, e.tf, min(c.c) AS est, min(c.c) - e.tf AS overcount
      |FROM exact e JOIN cells c
      |  ON c.idx =
      |    ${hash60Sql("c.j || ':' || e.term")} % 16
      |GROUP BY 1, 2""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q210_count_min", q210CountMin, Some(q210Sql)),
    QueryDef("q187_benford", q187Benford, Some(q187Sql)),
    QueryDef("q180_mutual_info", q180MutualInfo, Some(q180Sql)),
    QueryDef("q171_fd_audit", q171FdAudit, Some(q171Sql)),
    QueryDef("q167_k_anonymity", q167KAnonymity, Some(q167Sql)),
    QueryDef("q162_fk_audit", q162FkAudit, Some(q162Sql)),
    QueryDef("q60_array_hofs", q60ArrayHofs, Some(q60Sql)),
    QueryDef("q117_snapshot_diff", q117SnapshotDiff, Some(q117Sql)),
    QueryDef("q105_cdc_merge", q105CdcMerge, Some(q105Sql)),
    QueryDef("q109_incremental_agg", q109IncrementalAgg, Some(q109Sql)),
    QueryDef("q102_constraints", q102Constraints, Some(q102Sql)),
    QueryDef("q61_misc_scalars", q61MiscScalars, Some(q61Sql)),
    QueryDef("q62_grouping_id", q62GroupingId, Some(q62Sql)),
    QueryDef("q63_date_funcs", q63DateFuncs, Some(q63Sql)),
    QueryDef("q66_listagg", q66Listagg, Some(q66Sql)),
    QueryDef("q82_conditional_aggs", q82ConditionalAggs, Some(q82Sql)),
    QueryDef("q84_array_setops", q84ArraySetOps, Some(q84Sql)),
    QueryDef("q85_histogram", q85Histogram, Some(q85Sql)))
}
