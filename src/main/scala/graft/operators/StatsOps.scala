package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact._
import graft.functions.TextFns.{hash60Sql, normSql, tokens, tokensSql, wordsSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical aggregate battery (beyond the reference — SURVEY §2
  * generalized): variance/stddev, covariance/correlation, percentiles,
  * string edit distance.
  *
  * Determinism: Spark's built-in `stddev`/`corr` accumulate doubles in
  * partition order, so their low bits depend on the split — useless
  * against a hash oracle and non-reproducible across AQE re-plans. Here
  * every moment (n, Σx, Σx², Σxy) is an EXACT integer over cents-scaled
  * values ([[graft.functions.Exact.lsumDec]], overflow-safe past int64),
  * and the variance/correlation formulas are spelled with an identical
  * operation tree on both engines — each double op is correctly rounded,
  * so results are bit-identical at any partition count. Percentiles
  * interpolate between integer-valued doubles at quarter fractions
  * (exact in binary), which both engines define identically
  * (lower + (upper-lower)·frac).
  */
object StatsOps {

  /** Exact-moment variance / stddev / covariance / correlation of
    * (quantity, extendedprice) per return flag. All moments in cents²
    * scale; the derived columns divide by the scale in double — the same
    * literal tree as the oracle, so bit-identical. */
  def q55Moments(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        cents(col("l_quantity")).as("x"),
        cents(col("l_extendedprice")).as("y"))
      .select(col("l_returnflag"), col("x"), col("y"),
        (col("x") * col("x")).as("xx"),
        (col("y") * col("y")).as("yy"),
        (col("x") * col("y")).as("xy"))
    val m = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        lsumDec(col("x")).as("sx"), lsumDec(col("xx")).as("sxx"),
        lsumDec(col("y")).as("sy"), lsumDec(col("yy")).as("syy"),
        lsumDec(col("xy")).as("sxy"))
    val n = col("n")
    def varNum(sq: Column, lin: Column): Column = n * sq - lin * lin
    val covNum = n * col("sxy") - col("sx") * col("sy")
    // DEGENERATE-GROUP CONTRACT (r8, caught by the stats fuzz battery):
    // a single-row group makes the sample-variance denominator n·(n−1)
    // zero, and an all-identical group zeroes the correlation
    // denominator — under ANSI both are DIVIDE_BY_ZERO crashes (even in
    // double). The statistics are UNDEFINED there, so both denominators
    // ride nullif → NULL, the q175-kappa pattern; oracles mirror.
    val nn1 = nullif(n.cast("double") * (n - 1).cast("double"), lit(0.0))
    m.select(col("l_returnflag"), n,
      // sample variance/stddev of quantity, natural units (cents²/1e4)
      (varNum(col("sxx"), col("sx")).cast("double") / nn1 / lit(1e4)).as("var_qty"),
      sqrt(varNum(col("sxx"), col("sx")).cast("double") / nn1 / lit(1e4)).as("stddev_qty"),
      (covNum.cast("double") / nn1 / lit(1e4)).as("covar_qty_price"),
      (covNum.cast("double")
        / nullif(sqrt(varNum(col("sxx"), col("sx")).cast("double"))
          * sqrt(varNum(col("syy"), col("sy")).cast("double")), lit(0.0)))
        .as("corr_qty_price"))
  }

  val q55Sql: String =
    """WITH c AS (
      |  SELECT l_returnflag,
      |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM c GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  CAST(n * sxx - sx * sx AS DOUBLE) / nullif(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE), 0.0) / 1e4 AS var_qty,
      |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / nullif(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE), 0.0) / 1e4) AS stddev_qty,
      |  CAST(n * sxy - sx * sy AS DOUBLE) / nullif(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE), 0.0) / 1e4 AS covar_qty_price,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0) AS corr_qty_price
      |FROM m""".stripMargin

  /** Edit-distance match of part names against a fixed lexicon: classic
    * Levenshtein, integer-valued and identical across engines. The lexicon
    * side is a bounded literal list — broadcast is correct at any scale. */
  def q56Levenshtein(s: SparkSession, dir: String): DataFrame = {
    val words = Seq("bolt", "nut", "washer", "screw", "spring")
    val lex = s.createDataFrame(words.map(Tuple1(_))).toDF("word")
    Tables.part(s, dir)
      .select(col("p_partkey"), regexp_extract(col("p_name"), "^(\\w+)", 1).as("head"))
      .crossJoin(broadcast(lex))
      .withColumn("dist", levenshtein(col("head"), col("word")).cast("long"))
      .filter(col("dist") <= 2)
      .select("p_partkey", "head", "word", "dist")
  }

  val q56Sql: String =
    """SELECT p_partkey, regexp_extract(p_name, '^(\w+)', 1) AS head, word,
      |  CAST(levenshtein(regexp_extract(p_name, '^(\w+)', 1), word) AS BIGINT) AS dist
      |FROM part, (SELECT unnest(['bolt','nut','washer','screw','spring']) AS word)
      |WHERE levenshtein(regexp_extract(p_name, '^(\w+)', 1), word) <= 2""".stripMargin

  /** Exact interpolated percentiles of the integer-valued quantity per
    * return flag: rank fractions are quarters (exact in binary) and the
    * interpolation endpoints are small integers, so `lower +
    * (upper-lower)·frac` is exact — engine-independent. */
  def q57Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25_qty"),
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.75)").as("p75_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("n"))

  val q57Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25_qty,
      |  quantile_cont(l_quantity, 0.5)  AS p50_qty,
      |  quantile_cont(l_quantity, 0.75) AS p75_qty,
      |  min(l_quantity) AS min_qty,
      |  max(l_quantity) AS max_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Robust statistics: median absolute deviation of quantity per return
    * flag. Two-pass: per-group exact median, broadcast-joinable back to
    * the fact rows (tiny per-group frame, AQE decides), then the median
    * of absolute deviations. All interpolation points are dyadic
    * fractions of integer-valued data — exact in binary, so both engines
    * agree bitwise (same argument as q57). */
  def q77Mad(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_quantity"))
    val med = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"))
    li.join(med, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("med_qty")).as("med_qty"),
        expr("percentile(abs(l_quantity - med_qty), 0.5)").as("mad_qty"),
        count(lit(1)).as("n"))
  }

  val q77Sql: String =
    """WITH med AS (
      |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, max(med_qty) AS med_qty,
      |  quantile_cont(abs(l_quantity - med_qty), 0.5) AS mad_qty,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem l JOIN med USING (l_returnflag)
      |GROUP BY l.l_returnflag""".stripMargin

  /** Column-profile pass over orders — the schema-audit primitive
    * (null counts, cardinality, min/max rendered as strings) a lake
    * catalog publishes per table. One aggregate per column, unioned:
    * each aggregate's scan reads exactly ONE column (columnar pushdown),
    * and exact distincts stay one-per-aggregate — packing several
    * `countDistinct`s into one aggregate Expands every row per distinct
    * (the q42 lesson). Money renders through DECIMAL(18,2) and dates
    * through DATE so both engines print identical strings. */
  def q86Profile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def prof(name: String, render: Column => Column): DataFrame =
      o.agg(
        count(col(name)).as("n_nonnull"),
        countDistinct(col(name)).as("n_distinct"),
        render(min(col(name))).cast("string").as("min_value"),
        render(max(col(name))).cast("string").as("max_value"))
        .select(lit(name).as("column_name"), col("n_nonnull"),
          col("n_distinct"), col("min_value"), col("max_value"))
    val id: Column => Column = c => c
    prof("o_orderkey", id)
      .unionByName(prof("o_custkey", id))
      .unionByName(prof("o_orderstatus", id))
      .unionByName(prof("o_orderpriority", id))
      .unionByName(prof("o_totalprice",
        c => c.cast(org.apache.spark.sql.types.DecimalType(18, 2))))
      .unionByName(prof("o_orderdate", c => c.cast("date")))
  }

  val q86Sql: String =
    """SELECT 'o_orderkey' AS column_name, count(o_orderkey) AS n_nonnull,
      |  count(DISTINCT o_orderkey) AS n_distinct,
      |  CAST(min(o_orderkey) AS VARCHAR) AS min_value,
      |  CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
      |UNION ALL
      |SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
      |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus', count(o_orderstatus),
      |  count(DISTINCT o_orderstatus),
      |  min(o_orderstatus), max(o_orderstatus) FROM orders
      |UNION ALL
      |SELECT 'o_orderpriority', count(o_orderpriority),
      |  count(DISTINCT o_orderpriority),
      |  min(o_orderpriority), max(o_orderpriority) FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', count(o_totalprice),
      |  count(DISTINCT o_totalprice),
      |  CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
      |  CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderdate', count(o_orderdate),
      |  count(DISTINCT o_orderdate),
      |  CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR),
      |  CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) FROM orders""".stripMargin

  /** Deterministic 20% document sample by content-independent key hash —
    * the reproducible way to sample at 100 TB: no RNG state, any engine
    * or rerun selects the same rows, and the predicate pushes into the
    * scan pipeline (no shuffle). The hash is the 60-bit md5 of the key
    * ([[graft.functions.TextFns.hash60]]), so the oracle reproduces the
    * selection exactly. */
  def q58HashSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(pmod(graft.functions.TextFns.hash60(
        concat(lit("sample:"), col("doc_id"))), lit(100L)) < 20)
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))

  val q58Sql: String =
    s"""SELECT doc_id, lang, source, length(text) AS n_chars
      |FROM documents
      |WHERE ${hash60Sql("'sample:' || doc_id")} % 100 < 20""".stripMargin

  /** Per-user daily gap-fill of event values: calendar days from each
    * user's first to last event (generate-series explode), left-joined to
    * the daily aggregate, missing days forward-filled with the last seen
    * value (`last(..., ignoreNulls)` over an ordered window) — the
    * resample/fill primitive of time-series feature pipelines. One
    * shuffle on user_id; the generated rows are bounded by span, not by
    * event count. */
  def q59GapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
    val daily = e.groupBy(col("user_id"), col("d"))
      .agg(dsum(col("value"), 6).as("day_value"), count(lit(1)).as("n_events"))
    // per-user span derives from the (already tiny) daily aggregate, not
    // from a second full scan+shuffle of events: min/max of the day keys
    // per user is identical either way, and at 100 TB this halves the
    // fact-table reads of the query
    val spans = daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val grid = spans.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("d"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "d"), "left")
      .withColumn("filled_value",
        last(col("day_value"), ignoreNulls = true).over(w))
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .select("user_id", "d", "day_value", "n_events", "filled_value")
  }

  val q59Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, value FROM events),
      |daily AS (
      |  SELECT user_id, d,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value,
      |    count(*) AS n_events
      |  FROM e GROUP BY user_id, d),
      |spans AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM e GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, CAST(g.d AS DATE) AS d
      |  FROM spans, UNNEST(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS g(d))
      |SELECT grid.user_id, grid.d, daily.day_value,
      |  coalesce(daily.n_events, 0) AS n_events,
      |  last_value(daily.day_value IGNORE NULLS) OVER (
      |    PARTITION BY grid.user_id ORDER BY grid.d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM grid LEFT JOIN daily ON grid.user_id = daily.user_id AND grid.d = daily.d""".stripMargin

  /** 2-D skyline (Pareto frontier): parts no other part dominates —
    * lower-or-equal price AND larger-or-equal size, with one strict. The
    * frontier query behind any price/quality trade-off view.
    *
    * A part is dominated iff (a) some STRICTLY cheaper part has size ≥
    * its own, or (b) some part at the SAME price has strictly larger
    * size. Both reduce to per-price aggregates: (b) is the per-price max
    * size; (a) is the running max of that over all strictly-smaller
    * prices — a PREFIX scan over the price axis. The naive prefix is
    * `max() OVER (ORDER BY price)`: a single-partition window funneling
    * every distinct price through one task. Here it's the repo's
    * finalized-RDD two-pass shape (q90/q91): range-partition the
    * per-price aggregate, take per-partition maxima (one tiny job,
    * #partitions rows), broadcast the cross-partition running maxima,
    * and stream each partition once carrying the strict-prefix max.
    * Price cardinality GROWS with the corpus, so the prefix structure
    * must distribute even though the per-price aggregate is far smaller
    * than the fact table. The final filter joins the (price → gmax,
    * pmax) frame back on price — a shuffle join, broadcastable when the
    * price domain is small. */
  def q106Skyline(s: SparkSession, dir: String): DataFrame =
    // complete-dimensions boundary (r8, parts battery): a part with an
    // unknown price or size has no trade-off coordinate — SQL's NULL
    // dominance would keep every such row as vacuous "frontier" noise
    // (no comparison can dominate it) while the typed two-pass prefix
    // machinery crashes on the NULL encoder. Excluded here, mirrored in
    // the oracle's WHERE; NULL rows never dominate others in either
    // reading, so the frontier over complete rows is unchanged.
    paretoFrontier(Tables.part(s, dir)
      .filter(col("p_retailprice").isNotNull && col("p_size").isNotNull)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size")))

  /** Skyline core over a (p_partkey, p_retailprice, p_size) frame — see
    * [[q106Skyline]] for the dominance semantics and scale rationale. */
  def paretoFrontier(part: DataFrame): DataFrame = {
    val s = part.sparkSession
    import s.implicits._
    val perPrice = part.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("gmax"))
    val sorted = perPrice
      .repartitionByRange(col("p_retailprice"))
      .sortWithinPartitions(col("p_retailprice"))
      .select(col("p_retailprice").as[Double], col("gmax").as[Int])
    // finalize ONCE (the q90 lesson): both jobs below must see the same
    // range partitioning, and the shuffle map output is reused
    val rdd = sorted.rdd
    val partMaxes = rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single(pid -> it.foldLeft(Int.MinValue) { case (m, (_, g)) =>
        math.max(m, g)
      })
    }.collect().toMap // #partitions entries — driver-bounded
    val nParts = partMaxes.size
    val prefixOf = (0 until nParts).map { pid =>
      pid -> (0 until pid).foldLeft(Int.MinValue) { (m, p) =>
        math.max(m, partMaxes(p))
      }
    }.toMap
    val bcPrefix = s.sparkContext.broadcast(prefixOf)
    val frontier = rdd.mapPartitionsWithIndex { (pid, it) =>
      var running = bcPrefix.value.getOrElse(pid, Int.MinValue)
      it.map { case (price, gmax) =>
        val out = (price, gmax, running)
        running = math.max(running, gmax)
        out
      }
    }.toDF("p_retailprice", "gmax", "pmax")
    part.join(frontier, Seq("p_retailprice"))
      .filter(!(col("pmax") >= col("p_size") || col("gmax") > col("p_size")))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
  }

  val q106Sql: String =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part p
      |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
      |  AND NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
      |     OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size))""".stripMargin

  /** Per-group robust outliers: parts whose price sits more than 2 robust
    * sigmas (MAD) from their BRAND's median — the per-domain anomaly
    * gate that survives heavy tails where mean/stddev z-scores break.
    * Same exact-percentile machinery as the global q77, applied per
    * brand: two grouped-aggregate passes (median, then MAD of the
    * residuals), each a vocabulary-sized shuffle with map-side partial
    * aggregation, then ONE broadcast of the #brands-sized (med, mad)
    * frame back onto the fact scan — no window, no per-group sort of the
    * fact table. The comparison `abs(price − med) > 3.0·mad` is a fixed
    * double-op tree over engine-identical percentile interpolations. */
  def q107GroupOutliers(s: SparkSession, dir: String): DataFrame =
    robustOutliers(Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice")))

  /** Per-group robust-outlier core over a (p_partkey, p_brand,
    * p_retailprice) frame — see [[q107GroupOutliers]]. */
  def robustOutliers(part: DataFrame): DataFrame = {
    val med = part.groupBy(col("p_brand"))
      .agg(expr("percentile(p_retailprice, 0.5)").as("med_price"))
    val mad = part.join(med, Seq("p_brand"))
      .groupBy(col("p_brand"))
      .agg(max(col("med_price")).as("med_price"),
        expr("percentile(abs(p_retailprice - med_price), 0.5)").as("mad_price"))
    part.join(broadcast(mad), Seq("p_brand"))
      .filter(abs(col("p_retailprice") - col("med_price")) >
        lit(2.0d) * col("mad_price"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        col("med_price"), col("mad_price"))
  }

  val q107Sql: String =
    """WITH med AS (
      |  SELECT p_brand, quantile_cont(p_retailprice, 0.5) AS med_price
      |  FROM part GROUP BY 1),
      |mad AS (
      |  SELECT p.p_brand, max(med_price) AS med_price,
      |    quantile_cont(abs(p_retailprice - med_price), 0.5) AS mad_price
      |  FROM part p JOIN med USING (p_brand)
      |  GROUP BY p.p_brand)
      |SELECT p.p_partkey, p.p_brand, p.p_retailprice, m.med_price, m.mad_price
      |FROM part p JOIN mad m USING (p_brand)
      |WHERE abs(p.p_retailprice - m.med_price) > 2.0 * m.mad_price""".stripMargin

  /** Per-group OLS regression (the `regr_slope`/`regr_intercept`/`regr_r2`
    * SQL-surface family): fit chars ~ tokens per language over the
    * documents table. Spark's built-in `regr_*` aggregates accumulate
    * doubles in partition order — split-dependent low bits, useless
    * against a hash oracle (the q55 moments problem). Here every moment
    * (n, Σx, Σy, Σxy, Σx², Σy²) is an EXACT integer summed as
    * DECIMAL(38,0) — 128-bit headroom, so per-group moment products stay
    * exact past 1e9-row groups where raw int64 products overflow — and
    * the closed forms are single divisions of exactly-representable
    * values:
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *   r²        = num² / (den_x · den_y)
    *
    * (numerators/denominators cast to double AFTER exact integer
    * arithmetic; IEEE nearest-rounding of the same integer is identical
    * cross-engine, and the double multiply/divide tree has a fixed
    * order). ONE partial-aggregating pass, one row per group — the
    * narrowest possible 100 TB shape. */
  def q126GroupRegression(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = Tables.documents(s, dir)
      .select(col("lang"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("x"),
        col("n_chars").as("y"))
    val m = base.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x").cast(d38) * col("y")).cast(d38)).as("sxy"),
      sum((col("x").cast(d38) * col("x")).cast(d38)).as("sxx"),
      sum((col("y").cast(d38) * col("y")).cast(d38)).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    // nullif: a zero-variance group (all docs the same length — e.g. a
    // single-doc language, or the ten identical fuzz docs) has NO
    // defined regression — NULL, never the ANSI divide-by-zero task
    // failure (r8, text battery; the §3.11 undefined-statistics
    // contract, same as q55/q175). Oracle mirrors with NULLIF.
    val denX = nullif((col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double"), lit(0.0))
    val denY = nullif(((col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double"))
      * ((col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
      lit(0.0))
    m.select(col("lang"), col("n"),
      (num / denX).as("slope"),
      ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") / denX)
        .as("intercept"),
      (num * num / denY).as("r2"))
  }

  val q126Sql: String =
    s"""WITH b AS (
      |  SELECT lang,
      |    CAST(len(${wordsSql("text")}) AS BIGINT) AS x,
      |    n_chars AS y
      |  FROM documents),
      |m AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |    sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM b GROUP BY lang)
      |SELECT lang, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE)
      |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) AS slope,
      |  CAST(sy * sxx - sx * sxy AS DOUBLE)
      |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) AS intercept,
      |  CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
      |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * syy - sy * sy AS DOUBLE), 0.0)
      |    AS r2
      |FROM m""".stripMargin

  /** Equi-depth decile histogram of order totals — the quantile-binning
    * primitive under feature bucketization and data-skew diagnostics
    * (q85 is the fixed-WIDTH histogram; this is the fixed-DEPTH one:
    * bucket populations are equal by construction, boundaries adapt to
    * the distribution). Bucket assignment is `(pos·10) div n` over the
    * exact global rank — pure integer math, no percentile estimation.
    *
    * Scale shape: the global rank rides the [[graft.plans.GlobalRank]]
    * physical operator — a RANGE exchange + two passes (per-partition
    * counts broadcast as prefix offsets, then one streaming pass), never
    * the `row_number() OVER (ORDER BY …)` single-task funnel the oracle
    * uses (`WindowExec` requires AllTuples). Ordering is (cents,
    * orderkey) — exact and deterministic. The row count arrives from one
    * column-pruned count job (a scalar, not per-row driver state); the
    * bucket rollup is a 10-group partial-combining aggregate. */
  def q135GlobalNtile(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        graft.functions.Exact.cents(col("o_totalprice")).as("price_c"))
    val n = base.count()
    graft.plans.GlobalRank.withPosition(base,
      Seq(("price_c", false), ("o_orderkey", false)))
      .withColumn("bucket", expr(s"(pos * 10) div ${n}L"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("price_c")).as("lo_cents"),
        max(col("price_c")).as("hi_cents"))
  }

  val q135Sql: String =
    """WITH b AS (
      |  SELECT o_orderkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
      |  FROM orders),
      |r AS (
      |  SELECT price_c,
      |    row_number() OVER (ORDER BY price_c, o_orderkey) - 1 AS pos,
      |    (SELECT count(*) FROM b) AS n
      |  FROM b)
      |SELECT (pos * 10) // n AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(price_c) AS lo_cents, max(price_c) AS hi_cents
      |FROM r GROUP BY 1""".stripMargin

  /** Generic form: `values` is any single-column frame of longs named
    * `v`; output is invariant to its partitioning (spec-asserted). */
  def histQuantile(values: DataFrame): DataFrame = {
    val s = values.sparkSession
    import s.implicits._
    val v = values
    val stats = v.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        count(lit(1)).as("n"))
      .withColumn("rng", greatest(col("vmax") - col("vmin"), lit(1L)))
    val bins = v.crossJoin(broadcast(stats))
      .select(least(expr("((v - vmin) * 1000) div rng"),
        lit(999L)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("bin_n"))
    val cum = bins.withColumn("cum",
      sum(col("bin_n")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("bin")).rowsBetween(Long.MinValue, 0)))
    val quantiles = Seq(25L, 50L, 75L, 90L, 99L).toDF("q_pct")
      .crossJoin(broadcast(stats))
      .withColumn("target", expr("(q_pct * n + 99) div 100"))
    quantiles.join(broadcast(cum),
        col("cum") >= col("target") &&
          (col("cum") - col("bin_n")) < col("target"))
      .select(col("q_pct"), col("bin"), col("bin_n"),
        ((col("vmin") * 1000L + col("bin") * col("rng")).cast("double")
          + (col("target") - (col("cum") - col("bin_n"))).cast("double")
            / col("bin_n").cast("double") * col("rng").cast("double"))
          ./(lit(1000.0)).as("est"))
  }

  /** Mergeable histogram quantiles — the DISTRIBUTED-SKETCH member of
    * the quantile family (q57 is the exact sort-based one, q135 the
    * exact-rank equi-depth one): 1000 fixed-width bins over the
    * cents-integer price domain, quantile estimates by linear
    * interpolation inside the target bin. Because bin counts are
    * associative INTEGERS, the sketch is deterministic under any
    * partitioning / merge order — unlike t-digest or GK, whose state
    * depends on arrival order — which is what makes it oracle-hashable
    * AND what makes it safe as a streaming/incremental aggregate.
    *
    * Scale shape: two narrow partial-combining passes (min/max/count,
    * then bin counts — per-task state ≤ 1000 longs), a cumulative sum
    * over the ≤ 1000-row bin table (bounded, never corpus-sized — the
    * q133-class "window over ≤ #bins rows" shape), and a 5×bins bounded
    * join for the quantile lookup. No global sort anywhere; q57's exact
    * percentile needs one. Estimate arithmetic: the bin lower edge is
    * kept as an exact integer numerator (`vmin·1000 + bin·range`, ≤
    * 2e10 — representable exactly in double at any corpus size since
    * it depends on the DATA RANGE, not the row count), and the final
    * double expression is written identically in the oracle, so IEEE
    * determinism gives a bit-identical hash. */
  def q139HistQuantile(s: SparkSession, dir: String): DataFrame =
    histQuantile(Tables.lineitem(s, dir)
      .filter(col("l_extendedprice").isNotNull)
      .select(graft.functions.Exact.cents(col("l_extendedprice")).as("v")))
      .withColumnRenamed("est", "est_cents")

  val q139Sql: String =
    """WITH v AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |s AS (
      |  SELECT min(v) AS vmin, max(v) AS vmax,
      |    CAST(count(*) AS BIGINT) AS n,
      |    greatest(max(v) - min(v), 1) AS rng
      |  FROM v),
      |b AS (
      |  SELECT least(((v - vmin) * 1000) // rng, 999) AS bin,
      |    CAST(count(*) AS BIGINT) AS bin_n
      |  FROM v, s GROUP BY 1),
      |c AS (
      |  SELECT bin, bin_n,
      |    sum(bin_n) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM b),
      |q(q_pct) AS (VALUES (25), (50), (75), (90), (99)),
      |t AS (
      |  SELECT CAST(q_pct AS BIGINT) AS q_pct,
      |    (q_pct * n + 99) // 100 AS target, vmin, rng
      |  FROM q, s)
      |SELECT t.q_pct, c.bin, c.bin_n,
      |  (CAST(t.vmin * 1000 + c.bin * t.rng AS DOUBLE)
      |    + CAST(t.target - (c.cum - c.bin_n) AS DOUBLE)
      |      / CAST(c.bin_n AS DOUBLE) * CAST(t.rng AS DOUBLE)) / 1000.0
      |    AS est_cents
      |FROM t JOIN c ON c.cum >= t.target
      |  AND (c.cum - c.bin_n) < t.target""".stripMargin

  /** Deterministic Poisson bootstrap — error bars on a corpus statistic
    * from ONE pass (Chamandy et al. / Kleiner's online bootstrap shape):
    * each of 32 replicates reweights every document by a Poisson(1)-
    * distributed integer derived from a SEEDED HASH of (replicate,
    * doc_id) — no RNG state, so the replicate set is reproducible
    * cross-engine and across retries (the property streaming/resumable
    * jobs need; `rand()` re-rolls per task attempt). The spread of
    * `mean_tok` across the 32 rows IS the sampling distribution of the
    * corpus mean-tokens-per-doc; the query emits per-replicate rows
    * rather than a variance scalar because a cross-replicate double sum
    * would be order-dependent — callers aggregate the 32 doubles
    * however they like, deterministically, on 32 rows.
    *
    * Poisson(1) pmf quantized on u = h mod 10000: thresholds
    * 3679/7358/9197/9810 (cumulative e⁻¹/k!, k = 0..3; the ≥4 tail gets
    * weight 4 — error < 0.4% of mass, irrelevant for error-bar use).
    *
    * Scale shape: one corpus pass, 32× fan-out of a 2-column projection
    * (explode of a literal sequence — no join), partial-combining
    * aggregate onto 32 groups; sums travel as decimal(38,0). At 100 TB
    * this is THE way to put a confidence interval on a corpus stat —
    * 32 independent re-reads would cost 3.2 PB of scan. */
  def q150Bootstrap(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(1L), lit(32L))).as("r"))
      .withColumn("u", pmod(graft.functions.TextFns.hash60(
        concat(lit("boot"), col("r").cast("string"), lit(":"),
          col("doc_id").cast("string"))), lit(10000L)))
      .withColumn("w",
        when(col("u") < 3679, 0L).when(col("u") < 7358, 1L)
          .when(col("u") < 9197, 2L).when(col("u") < 9810, 3L)
          .otherwise(4L))
      .groupBy(col("r"))
      .agg(sum(col("w").cast(d38)).cast("long").as("n_eff"),
        sum((col("w") * col("n_tok")).cast(d38)).cast("long")
          .as("boot_tokens"))
      .filter(col("n_eff") > 0)
      .withColumn("mean_tok",
        col("boot_tokens").cast("double") / col("n_eff").cast("double"))
  }

  val q150Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, len(${wordsSql("text")}) AS n_tok
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, n_tok, r
      |  FROM t, UNNEST(generate_series(1, 32)) AS g(r)),
      |u AS (
      |  SELECT r, n_tok,
      |    ${hash60Sql("'boot' || CAST(r AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} % 10000 AS u
      |  FROM e),
      |w AS (
      |  SELECT r, n_tok,
      |    CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
      |         WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3 ELSE 4 END AS w
      |  FROM u)
      |SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
      |  CAST(sum(w * n_tok) AS BIGINT) AS boot_tokens,
      |  CAST(sum(w * n_tok) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS mean_tok
      |FROM w GROUP BY r HAVING sum(w) > 0""".stripMargin

  /** Deterministic synthetic-workload generation: 256 systematic
    * inverse-CDF draws from the corpus token-length distribution via
    * the q139 mergeable histogram — the "shape-faithful stand-in
    * corpus" a 100 TB pipeline uses to size packers, shuffles, and
    * file targets WITHOUT touching production data (the sample is the
    * histogram's image, carries no document content, and regenerates
    * bit-identically anywhere from 1000 integers). Target ranks are
    * the systematic grid ⌈(2k−1)·n / 512⌉ — every quantity an exact
    * int64; the synthesized value is the selected bin's left edge.
    *
    * Scale shape: one corpus pass for the histogram (integer bins,
    * associative/mergeable — the q139 contract), then all sampling
    * happens on the ≤1000-row cumulative table: a 256×1000 bounded
    * range join on broadcasts. Generation cost is independent of
    * corpus size. */
  def q156SynthSample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.tokens
    import s.implicits._
    val v = Tables.documents(s, dir)
      .select(size(filter(tokens(col("text")), t => t =!= ""))
        .cast("long").as("v"))
    val stats = v.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        count(lit(1)).as("n"))
      .withColumn("rng", greatest(col("vmax") - col("vmin"), lit(1L)))
    // stats ride the bin table as constant payload columns (grouping
    // keys that never split a group), so the sampling join below needs
    // no third reference to the corpus: per-branch column pruning would
    // otherwise specialize the stats subplan differently in each branch,
    // defeating exchange reuse — documents would be scanned (and
    // re-tokenized) three times instead of the inherent two
    val bins = v.crossJoin(broadcast(stats))
      .select(least(expr("((v - vmin) * 1000) div rng"), lit(999L)).as("bin"),
        col("vmin"), col("rng"), col("n"))
      .groupBy(col("bin"), col("vmin"), col("rng"), col("n"))
      .agg(count(lit(1)).as("bin_n"))
    val cum = bins.withColumn("cum",
      sum(col("bin_n")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("bin")).rowsBetween(Long.MinValue, 0)))
    (1L to 256L).toDF("k")
      .join(broadcast(cum),
        col("cum") >= expr("((2 * k - 1) * n + 511) div 512") &&
          (col("cum") - col("bin_n")) < expr("((2 * k - 1) * n + 511) div 512"))
      .select(col("k"),
        expr("((2 * k - 1) * n + 511) div 512").as("target_rank"),
        col("bin"),
        (col("vmin") + expr("(bin * rng) div 1000")).as("synth_v"))
  }

  val q156Sql: String =
    s"""WITH v AS (
      |  SELECT CAST(len(${wordsSql("text")}) AS BIGINT) AS v
      |  FROM documents),
      |s AS (
      |  SELECT min(v) AS vmin, max(v) AS vmax,
      |    CAST(count(*) AS BIGINT) AS n,
      |    greatest(max(v) - min(v), 1) AS rng
      |  FROM v),
      |b AS (
      |  SELECT least(((v - vmin) * 1000) // rng, 999) AS bin,
      |    CAST(count(*) AS BIGINT) AS bin_n
      |  FROM v, s GROUP BY 1),
      |c AS (
      |  SELECT bin, bin_n,
      |    CAST(sum(bin_n) OVER (ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM b),
      |k AS (
      |  SELECT CAST(g.k AS BIGINT) AS k,
      |    ((2 * g.k - 1) * s.n + 511) // 512 AS target
      |  FROM UNNEST(generate_series(1, 256)) AS g(k), s)
      |SELECT k.k, k.target AS target_rank, c.bin,
      |  s.vmin + (c.bin * s.rng) // 1000 AS synth_v
      |FROM k JOIN c ON c.cum >= k.target AND c.cum - c.bin_n < k.target
      |CROSS JOIN s""".stripMargin

  /** EXACT global median without a global sort — the selection-algorithm
    * counterpart to q139's mergeable-sketch ESTIMATE and q135's
    * full-rank materialization. Two corpus passes, both plain
    * partial-combining aggregates: (1) counts per fixed-width 65 536-cent
    * bin (data-INdependent binning — no min/max pre-pass; occupied bins
    * are bounded by value-domain/width, not by rows, so the bin frame is
    * a constant-size side table at any corpus size); (2) per-value counts
    * inside only the 1–2 bins that straddle the target ranks. The
    * single-task windows run over those bounded side frames, never the
    * corpus — compare the q91 lesson. Lower/upper middle order statistics
    * make the even-n interpolation exact ((lo+hi)/2 on cents ints), so
    * the result hash-matches DuckDB's row_number selection to the bit.
    * At 100 TB this is the shape that wins: two narrow scans with
    * map-side combine versus a range-shuffle of the corpus. */
  def q163ExactMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.lineitem(s, dir)
      .select(cents(col("l_extendedprice")).as("v"))
      .withColumn("bin", expr("v div 65536"))
    val nRow = vals.agg(count(lit(1)).as("n"))
    // the two middle ranks (equal when n is odd), as a 2-row frame
    val targets = nRow.select(col("n"), explode(array(
      struct(lit("lo").as("side"), expr("(n + 1) div 2").as("k")),
      struct(lit("hi").as("side"), expr("(n + 2) div 2").as("k")))).as("t"))
      .select(col("n"), col("t.side").as("side"), col("t.k").as("k"))
    val binCounts = vals.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      // bounded frame: #occupied bins ≤ domain/65536, independent of rows
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("bin"))))
    // the bin holding each target rank, and the rank offset inside it
    val sel = binCounts.join(broadcast(targets),
        col("cum") >= col("k") && (col("cum") - col("cnt")) < col("k"))
      .select(col("side"), col("n"), col("bin"),
        (col("k") - (col("cum") - col("cnt"))).as("off"))
    // pass 2: exact selection inside the straddling bin(s) only
    val inBin = vals.join(broadcast(sel), Seq("bin"))
      .groupBy(col("side"), col("n"), col("off"), col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c"))
        .over(Window.partitionBy(col("side")).orderBy(col("v"))))
    val picked = inBin.filter(col("cum") >= col("off"))
      .groupBy(col("side"), col("n")).agg(min(col("v")).as("v"))
    picked.filter(col("side") === "lo")
      .select(col("n"), col("v").as("lo_cents"))
      .crossJoin(picked.filter(col("side") === "hi").select(col("v").as("hi_cents")))
      .select(col("n"), col("lo_cents"), col("hi_cents"),
        ((col("lo_cents") + col("hi_cents")).cast("double") / lit(2) / lit(100))
          .as("median"))
  }

  val q163Sql: String =
    """WITH v AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM lineitem),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
      |SELECT n.n,
      |  lo.v AS lo_cents, hi.v AS hi_cents,
      |  CAST(lo.v + hi.v AS DOUBLE) / 2 / 100 AS median
      |FROM n,
      |  (SELECT r.v FROM r, n WHERE r.rn = (n.n + 1) // 2) lo,
      |  (SELECT r.v FROM r, n WHERE r.rn = (n.n + 2) // 2) hi""".stripMargin

  /** Cohen's κ agreement between two independent curation gates — a
    * length gate (n_chars ≥ 512) and a token-count gate (≥ 100 BPE-ish
    * pieces, q50's regex). κ near 1 means the gates are redundant (drop
    * one); κ near 0 means they measure different things (keep both) —
    * the calibration readout a pipeline consults before stacking gates
    * (q159 sweeps one gate's thresholds; this scores gate PAIRS).
    *
    * Determinism: the 2×2 contingency table is exact integer counts;
    * κ = (n·(a+d) − Σ marginal products) / (n² − Σ marginal products)
    * with both sides computed in decimal(38,0) (n² overflows int64 past
    * ~3e9 rows) and ONE double division at the end.
    *
    * Scale shape: one corpus pass, 4-cell aggregate, map-side combine —
    * nothing downstream is data-sized. */
  def q175GateKappa(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val pieces = size(regexp_extract_all(
      graft.functions.TextFns.normText(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")
    val m = Tables.documents(s, dir)
      .select((col("n_chars") >= 512).as("g1"), (pieces >= 100L).as("g2"))
      .agg(
        sum(when(col("g1") && col("g2"), 1L).otherwise(0L)).as("a"),
        sum(when(col("g1") && !col("g2"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("g1") && col("g2"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("g1") && !col("g2"), 1L).otherwise(0L)).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast(d38)
    val pe = (col("a") + col("b")).cast(d38) * (col("a") + col("c")).cast(d38) +
      (col("c") + col("d")).cast(d38) * (col("b") + col("d")).cast(d38)
    // n² = pe ⇔ a marginal is the whole corpus (a degenerate gate): κ is
    // undefined — NULL, not the ANSI divide-by-zero error (oracle: nullif)
    m.select(col("a"), col("b"), col("c"), col("d"),
      ((n * (col("a") + col("d")).cast(d38) - pe).cast("double")
        / nullif((n * n - pe).cast("double"), lit(0.0))).as("kappa"))
  }

  val q175Sql: String =
    s"""WITH g AS (
      |  SELECT n_chars >= 512 AS g1,
      |    len(regexp_extract_all(
      |      ${normSql("text")},
      |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) >= 100 AS g2
      |  FROM documents),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN NOT g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN NOT g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM g)
      |SELECT a, b, c, d,
      |  CAST(CAST(a + b + c + d AS HUGEINT) * (a + d)
      |      - (CAST(a + b AS HUGEINT) * (a + c) + CAST(c + d AS HUGEINT) * (b + d))
      |    AS DOUBLE)
      |  / nullif(CAST(CAST(a + b + c + d AS HUGEINT) * (a + b + c + d)
      |      - (CAST(a + b AS HUGEINT) * (a + c) + CAST(c + d AS HUGEINT) * (b + d))
      |    AS DOUBLE), 0.0) AS kappa
      |FROM m""".stripMargin

  /** Exact two-sample Kolmogorov–Smirnov D between the first two
    * sources' document-length distributions — the distribution-shift
    * test under "did this feed change shape?" alarms (q108's χ² is
    * bin-sensitive; KS is the non-parametric companion on the raw
    * CDFs). D = max |ecdf₁ − ecdf₂|, computed as the exact integer
    * max |cum₁·n₂ − cum₂·n₁| so no engine compares accumulated doubles;
    * the double division happens once, after the max.
    *
    * Scale shape: the corpus collapses to per-(value) counts first
    * (value-cardinality-bounded — document lengths, not documents); the
    * ecdf prefix sums AND both totals are frames of the SAME window spec
    * over that bounded table (one WindowExec) — no second corpus scan,
    * no join at all. */
  def q176KsTest(s: SparkSession, dir: String): DataFrame =
    ksFromCounts(Tables.documents(s, dir)
      .filter(col("source").isin("src0", "src1"))
      .groupBy(col("n_chars").as("v")).agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c1"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("c2")))

  /** Exact KS D from a per-value count table `(v, c1, c2)` — shared by
    * [[q176KsTest]] and the streaming drift monitor
    * ([[graft.streaming.StreamingOps]]). */
  def ksFromCounts(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val w = Window.orderBy(col("v"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vals
      .withColumn("cum1", sum(col("c1")).over(run))
      .withColumn("cum2", sum(col("c2")).over(run))
      .withColumn("n1", sum(col("c1")).over(all))
      .withColumn("n2", sum(col("c2")).over(all))
      .agg(max(abs(col("cum1").cast(d38) * col("n2").cast(d38)
          - col("cum2").cast(d38) * col("n1").cast(d38))).as("d_scaled"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(col("n1"), col("n2"),
        // one side absent (n1·n2 = 0): D is undefined — NULL, not the
        // ANSI divide-by-zero error (oracle: nullif)
        (col("d_scaled").cast("double")
          / nullif(col("n1").cast("double") * col("n2").cast("double"),
            lit(0.0))).as("ks_d"))
  }

  val q176Sql: String =
    """WITH two AS (
      |  SELECT n_chars AS v, source FROM documents
      |  WHERE source IN ('src0', 'src1')),
      |vals AS MATERIALIZED (
      |  SELECT v,
      |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM two GROUP BY v),
      |cum AS (
      |  SELECT v,
      |    CAST(sum(c1) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
      |    CAST(sum(c2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2,
      |    CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1,
      |    CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n2
      |  FROM vals)
      |SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
      |  CAST(max(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1))
      |      AS DOUBLE)
      |    / nullif(CAST(max(n1) AS DOUBLE) * CAST(max(n2) AS DOUBLE), 0.0)
      |    AS ks_d
      |FROM cum""".stripMargin

  /** Per-type 10%-trimmed mean of `value` — the robust location estimate
    * that survives the fat-tailed/corrupted metrics a raw mean doesn't
    * (and, unlike the median alone, still uses 80% of the mass). Fully
    * EXACT: the classic sort-and-drop formulation becomes per-value
    * counts + one prefix-sum window + an interval-overlap kept-count per
    * value row — each value contributes
    * max(0, min(cum, n−k) − max(cum_before, k)) occurrences to the
    * trimmed sum, k = ⌊n/10⌋ per side, all in integer cents.
    *
    * Scale shape: the corpus collapses to per-(type, cents-value) counts
    * FIRST (map-side combine, value-cardinality-bounded — q176's ecdf
    * pattern); the window and both aggregates run on that bounded table,
    * keyed by event_type so types parallelize. Never a global sort of
    * raw events, never a single-task funnel. */
  def q183TrimmedMean(s: SparkSession, dir: String): DataFrame =
    // NULL values are excluded BEFORE counting (r8, caught by the
    // events fuzz battery): a NULL is not a measurement — mean()
    // semantics skip it — and a NULL cents bucket would sit at
    // opposite ends of the prefix window's ORDER BY across engines
    // (Spark ASC nulls-first, DuckDB nulls-last), shifting every trim
    // interval. Oracle mirrors; no-op on the null-free driver corpus.
    trimmedFromCounts(Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), cents(col("value")).as("v"))
      .agg(count(lit(1)).as("c")))

  /** Trimmed mean from a per-(event_type, cents-value) count table —
    * the mergeable-histogram core shared by [[q183TrimmedMean]] and the
    * streaming monitor (counts merge by addition, so an incremental
    * state table recomputes the EXACT same value the batch query
    * produces — the q139/ksMonitor merge story). */
  def trimmedFromCounts(cts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val e = cts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("v"))))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("k", expr("tot div 10"))
      .withColumn("kept", greatest(lit(0L),
        least(col("cum"), col("tot") - col("k")) -
          greatest(col("cum") - col("c"), col("k"))))
    e.groupBy(col("event_type"))
      .agg(max(col("tot")).as("n"),
        sum(col("kept")).as("trimmed_n"),
        sum((col("kept").cast(d38) * col("v").cast(d38)).cast(d38))
          .as("ts"))
      .select(col("event_type"), col("n"), col("trimmed_n"),
        (col("ts").cast("double") /
          (col("trimmed_n").cast("double") * lit(100.0)))
          .as("trimmed_mean"))
  }

  val q183Sql: String =
    """WITH cts AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |e AS (
      |  SELECT event_type, v, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS tot
      |  FROM cts),
      |kp AS (
      |  SELECT event_type, v, c, cum, tot, tot // 10 AS k,
      |    greatest(0, least(cum, tot - tot // 10)
      |      - greatest(cum - c, tot // 10)) AS kept
      |  FROM e)
      |SELECT event_type, CAST(max(tot) AS BIGINT) AS n,
      |  CAST(sum(kept) AS BIGINT) AS trimmed_n,
      |  CAST(sum(CAST(kept AS HUGEINT) * v) AS DOUBLE)
      |    / (CAST(sum(kept) AS DOUBLE) * 100.0) AS trimmed_mean
      |FROM kp GROUP BY event_type""".stripMargin

  /** Per-source Gini coefficient of document sizes — the inequality
    * number under [[q153ParetoConcentration]]'s top-share curve: 0 means
    * every doc contributes equally, →1 means a few giants carry the
    * source (a length-capping / chunking-policy signal per feed).
    *
    * Fully EXACT without sorting raw docs: Gini = Σᵢ(2i−n−1)xᵢ / (n·Σx)
    * over the sorted sizes becomes, per distinct size v with count c and
    * prefix count b, the closed-form contribution v·(2cb + c² − cn)
    * (sum of (2i−n−1) over that value's rank interval) — integer-exact,
    * then ONE double division against the exact n·Σvc.
    *
    * Scale shape: corpus → per-(source, size) counts (map-side combine,
    * value-bounded — the q176/q183 ecdf family); prefix sums ride one
    * window over that bounded table, keyed by source so feeds
    * parallelize. Never a per-doc rank window. */
  def q185Gini(s: SparkSession, dir: String): DataFrame =
    giniCore(Tables.documents(s, dir), col("n_chars"))

  def giniCore(docs: DataFrame, size: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val cts = docs.groupBy(col("source"), size.cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val e = cts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("v"))))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("source"))))
      .withColumn("b", col("cum") - col("c"))
    e.groupBy(col("source"))
      .agg(max(col("tot")).as("n"),
        sum((col("v").cast(d38) * col("c").cast(d38)).cast(d38)).as("sv"),
        sum((col("v").cast(d38) *
          (lit(2).cast(d38) * col("c").cast(d38) * col("b").cast(d38) +
            col("c").cast(d38) * col("c").cast(d38) -
            col("c").cast(d38) * col("tot").cast(d38))).cast(d38)).as("num"))
      .select(col("source"), col("n"),
        col("sv").cast("long").as("total_chars"),
        (col("num").cast("double") /
          nullif((col("n").cast(d38) * col("sv")).cast("double"), lit(0.0)))
          .as("gini"))
  }

  val q185Sql: String =
    """WITH cts AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |e AS (
      |  SELECT source, v, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY v) - c AS b,
      |    sum(c) OVER (PARTITION BY source) AS tot
      |  FROM cts)
      |SELECT source, CAST(max(tot) AS BIGINT) AS n,
      |  CAST(sum(CAST(v AS HUGEINT) * c) AS BIGINT) AS total_chars,
      |  CAST(sum(CAST(v AS HUGEINT) *
      |    (2 * CAST(c AS HUGEINT) * b + CAST(c AS HUGEINT) * c
      |      - CAST(c AS HUGEINT) * tot)) AS DOUBLE)
      |    / nullif(CAST(CAST(max(tot) AS HUGEINT)
      |      * sum(CAST(v AS HUGEINT) * c) AS DOUBLE), 0.0) AS gini
      |FROM e GROUP BY source""".stripMargin

  /** Per-type 10%-winsorized mean — [[q183TrimmedMean]]'s sibling that
    * CLAMPS the tails instead of dropping them (keeps n constant, so
    * downstream weightings don't shift): the bottom k values are
    * replaced by x₍k+1₎ and the top k by x₍n−k₎.
    *
    * Fully EXACT on the same ecdf machinery: the interior contribution
    * is q183's interval-overlap kept-count; the two boundary order
    * statistics fall out of the SAME prefix-sum table as conditional
    * mins (x₍r₎ = min v with cum ≥ r — no extra pass, no sort of raw
    * events); winsorized sum = interior + k·(x₍k+1₎ + x₍n−k₎), one
    * double division at the end.
    *
    * Scale shape: identical to q183 — value-bounded per-type tables,
    * types parallelize, never a raw-event sort. */
  def q186Winsorize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    // NULL values are not measurements (r8, events battery — the same
    // catch as sibling q183): an unfiltered NULL cents bucket sits at
    // opposite ends of the prefix windows across engines, shifting both
    // boundary order statistics. No-op on the null-free driver corpus.
    val cts = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), cents(col("value")).as("v"))
      .agg(count(lit(1)).as("c"))
    val e = cts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("v"))))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("k", expr("tot div 10"))
      .withColumn("kept", greatest(lit(0L),
        least(col("cum"), col("tot") - col("k")) -
          greatest(col("cum") - col("c"), col("k"))))
    e.groupBy(col("event_type"))
      .agg(max(col("tot")).as("n"), max(col("k")).as("kk"),
        min(when(col("cum") > col("k"), col("v"))).as("vlo"),
        min(when(col("cum") >= col("tot") - col("k"), col("v"))).as("vhi"),
        sum((col("kept").cast(d38) * col("v").cast(d38)).cast(d38))
          .as("ts"))
      .select(col("event_type"), col("n"),
        (col("vlo").cast("double") / 100.0).as("p10"),
        (col("vhi").cast("double") / 100.0).as("p90"),
        ((col("ts") + (col("kk").cast(d38) *
          (col("vlo").cast(d38) + col("vhi").cast(d38))).cast(d38))
          .cast("double") / (col("n").cast("double") * lit(100.0)))
          .as("winsorized_mean"))
  }

  val q186Sql: String =
    """WITH cts AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |e AS (
      |  SELECT event_type, v, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS tot
      |  FROM cts),
      |kp AS (
      |  SELECT event_type, v, c, cum, tot, tot // 10 AS k,
      |    greatest(0, least(cum, tot - tot // 10)
      |      - greatest(cum - c, tot // 10)) AS kept
      |  FROM e)
      |SELECT event_type, CAST(max(tot) AS BIGINT) AS n,
      |  CAST(min(CASE WHEN cum > k THEN v END) AS DOUBLE) / 100.0 AS p10,
      |  CAST(min(CASE WHEN cum >= tot - k THEN v END) AS DOUBLE) / 100.0
      |    AS p90,
      |  CAST(sum(CAST(kept AS HUGEINT) * v)
      |      + CAST(max(k) AS HUGEINT) * (min(CASE WHEN cum > k THEN v END)
      |        + min(CASE WHEN cum >= tot - k THEN v END)) AS DOUBLE)
      |    / (CAST(max(tot) AS DOUBLE) * 100.0) AS winsorized_mean
      |FROM kp GROUP BY event_type""".stripMargin

  /** Discount elasticity by brand: exact-moment correlation between a
    * line's discount (per-mille) and its quantity, per `p_brand` — the
    * "do discounts actually move volume for this brand" merchandising
    * answer, and the star-join + exact-moment composition in one query
    * (star dim join, q188's correctly-rounded-sqrt correlation).
    *
    * Scale shape: one lineitem pass joined to part; no broadcast is
    * FORCED — part scales with SF (~2e10 keys at 100 TB), so size
    * statistics/AQE pick broadcast only while it is genuinely small,
    * and the star shape gets DPP/shuffle-join otherwise. Moments
    * collapse per brand (map-side combine, #brands rows). All moments
    * exact decimal(38,0); r is num / (√a·√b) of exact integers. */
  def q199DiscountElasticity(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val li = Tables.lineitem(s, dir).select(col("l_partkey"),
      floor(col("l_discount") * 1000 + 0.5).cast("long").as("x"),
      floor(col("l_quantity") + 0.5).cast("long").as("y"))
    val m = li
      .join(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand")),
        Seq("l_partkey"))
      .groupBy(col("p_brand")).agg(
        count(lit(1)).as("n_lines"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x").cast(d38) * col("y").cast(d38)).cast(d38)).as("sxy"),
        sum((col("x").cast(d38) * col("x").cast(d38)).cast(d38)).as("sxx"),
        sum((col("y").cast(d38) * col("y").cast(d38)).cast(d38)).as("syy"))
    m.select(col("p_brand"), col("n_lines"),
      ((col("n_lines") * col("sxy") - col("sx") * col("sy")).cast("double") /
        nullif(
          sqrt((col("n_lines") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
          sqrt((col("n_lines") * col("syy") - col("sy") * col("sy"))
            .cast("double")), lit(0.0))).as("elasticity"))
  }

  val q199Sql: String =
    """WITH li AS (
      |  SELECT p_brand,
      |    CAST(floor(l_discount * 1000 + 0.5) AS BIGINT) AS x,
      |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |m AS (
      |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM li GROUP BY 1)
      |SELECT p_brand, n_lines,
      |  CAST(n_lines * sxy - sx * sy AS DOUBLE)
      |    / nullif(sqrt(CAST(n_lines * sxx - sx * sx AS DOUBLE))
      |        * sqrt(CAST(n_lines * syy - sy * sy AS DOUBLE)), 0.0)
      |    AS elasticity
      |FROM m""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum) between two sources' document
    * lengths, with exact tie handling — the standard nonparametric "are
    * these two feeds drawn from the same length distribution" test,
    * complementing q176's exact KS (distance statistic) with the
    * rank-sum family: U, AUC = U/(n_a·n_b) (the probability a random
    * src0 doc is longer than a random src1 doc — the effect size), and
    * the tie-corrected normal z.
    *
    * Exactness: ranks are never materialized per row. The samples
    * collapse to a VALUE HISTOGRAM (ca, cb per distinct length); tied
    * average ranks come out as exact integers via 2·ranksum_a =
    * Σ ca·(2·prefix_before + c + 1); the tie correction Σ(c³−c) is
    * integer too. Every output is a fixed double-expression tree over
    * those exact integers — bit-identical cross-engine (sums ride
    * DECIMAL(38) on the Spark side: rank sums are O(n²) ≈ 4e23 at 100 TB
    * corpus counts, past int64).
    *
    * Scale shape: one pass → value-keyed histogram (map-side combine,
    * distinct-value-bounded); the prefix-sum window runs over that
    * bounded histogram (same contract as q174's shard plan), never over
    * rows; one single-row moment closes. */
  def q208MannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyCore(Tables.documents(s, dir), "src0", "src1")

  /** See [[q208MannWhitney]]: rank-sum test of `n_chars` between two
    * source feeds of `docs`. */
  def mannWhitneyCore(docs: DataFrame, sa: String, sb: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val h = docs.filter(col("source").isin(sa, sb))
      .groupBy(col("n_chars").as("v"))
      .agg(count_if(col("source") === sa).as("ca"),
        count_if(col("source") === sb).as("cb"))
      .withColumn("c", col("ca") + col("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val p = h.withColumn("before", coalesce(sum(col("c")).over(w), lit(0L)))
    // overflow contract: a FACTOR is cast to decimal(38) BEFORE each
    // multiply (ca·(2·before+c+1) and n_a·(n_a+1) wrap int64 once the
    // histogram prefix passes ~3e9 rows; the cast-then-multiply idiom
    // ties3 already used)
    val m = p.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("ca").cast(d38)
        * (lit(2L) * col("before") + col("c") + lit(1L))).as("ranksum2"),
      sum((col("c").cast(d38) * col("c") * col("c") - col("c")))
        .as("ties3"))
    val u2 = (col("ranksum2") - col("n_a").cast(d38) * (col("n_a") + lit(1L)))
      .cast("double")
    val nn = (col("n_a") + col("n_b")).cast("double")
    // ANSI sessions (Spark 4 default) raise on ANY division by zero,
    // doubles included — degenerate inputs (one empty sample, all values
    // tied) must yield NULL, not a task failure, so the zero-denominator
    // cases are when()-guarded. Driver data never hits them, so the
    // oracle needs no mirror.
    val pairs = lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")
    val varTerm = col("n_a").cast("double") * col("n_b").cast("double") /
      lit(12.0) *
      ((col("n_a") + col("n_b") + lit(1L)).cast("double") -
        col("ties3").cast("double") /
          (nn * (col("n_a") + col("n_b") - lit(1L)).cast("double")))
    // CaseWhen branches evaluate lazily in order, so varTerm's inner
    // division only runs once nn >= 2 guarantees its divisor is nonzero,
    // and the z division only runs once varTerm > 0.
    val z = when(nn <= 1.0 || col("n_a") === 0L || col("n_b") === 0L,
        lit(null).cast("double"))
      .when(varTerm > 0.0,
        (u2 / lit(2.0)
          - col("n_a").cast("double") * col("n_b").cast("double") / lit(2.0))
          / sqrt(varTerm))
    m.select(col("n_a"), col("n_b"),
      (u2 / lit(2.0)).as("u_a"),
      when(pairs =!= 0.0, u2 / pairs).as("auc"),
      z.as("z"))
  }

  val q208Sql: String =
    """WITH h AS (
      |  SELECT n_chars AS v,
      |    CAST(count_if(source = 'src0') AS BIGINT) AS ca,
      |    CAST(count_if(source = 'src1') AS BIGINT) AS cb
      |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
      |p AS (
      |  SELECT v, ca, cb, ca + cb AS c,
      |    CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS before
      |  FROM h),
      |m AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
      |    sum(CAST(ca AS HUGEINT) * (2 * before + c + 1)) AS ranksum2,
      |    sum(c * c * c - c) AS ties3
      |  FROM p)
      |SELECT n_a, n_b,
      |  CAST(ranksum2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2 AS u_a,
      |  CAST(ranksum2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)
      |    / (2 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS auc,
      |  (CAST(ranksum2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2
      |     - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
      |  / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
      |      (CAST(n_a + n_b + 1 AS DOUBLE)
      |       - CAST(ties3 AS DOUBLE)
      |         / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE))))
      |    AS z
      |FROM m""".stripMargin

  /** Cramér's V association between two metadata columns (lang ×
    * source) — "is language independent of feed" as one number in
    * [0,1], the metadata-trust audit that catches a crawler tagging all
    * of one domain with one language. Complements q193 (which compares
    * DECLARED vs content-detected lang) by testing the joint
    * distribution of two declared labels, and q197 (conditional
    * entropy) with the χ²-based effect size reviewers actually report.
    *
    * The contingency table must include EMPTY cells ((0−e)²/e = e
    * contributes): the observed-cell aggregate is left-joined onto the
    * full margin cross product, so absent combinations count.
    *
    * Exactness: margins and counts are exact integers; each cell's χ²
    * contribution is one fixed double tree, quantized to 1e-9 longs and
    * summed EXACTLY (the q88 integer-quantization idiom — a raw double
    * Σ over cells would be partition-order-dependent); √ of the final
    * ratio is correctly rounded in both engines.
    *
    * Scale shape: one corpus pass → (lang, source) counts (map-side
    * combine, grid-bounded); margins derive from the cell table (no
    * second corpus scan); the grid cross join is label-cardinality ×
    * source-panel — bounded by contract, like q128/q206's panel. */
  def q209CramersV(s: SparkSession, dir: String): DataFrame =
    cramersVCore(Tables.documents(s, dir))

  /** See [[q209CramersV]]. */
  def cramersVCore(docs: DataFrame): DataFrame = {
    val c0 = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    val r = c0.groupBy(col("lang")).agg(sum(col("o")).as("rn"))
    val k = c0.groupBy(col("source")).agg(sum(col("o")).as("cn"))
    val t = c0.agg(sum(col("o")).cast("long").as("n"),
      countDistinct(col("lang")).as("nr"),
      countDistinct(col("source")).as("nc"))
    val cells = broadcast(r).crossJoin(broadcast(k))
      .join(c0, Seq("lang", "source"), "left")
      .select(col("rn"), col("cn"), coalesce(col("o"), lit(0L)).as("o"))
    val e = col("rn").cast("double") * col("cn").cast("double") /
      col("n").cast("double")
    val d = col("o").cast("double") - e
    val chi2q = cells.crossJoin(broadcast(t))
      .select(floor(d * d / e * lit(1e9) + lit(0.5)).cast("long").as("cq"))
      .agg(sum(col("cq")).cast("long").as("chi2q"))
    chi2q.crossJoin(broadcast(t))
      .select(col("n"), col("nr").as("n_langs"), col("nc").as("n_sources"),
        (col("chi2q").cast("double") / lit(1e9)).as("chi2"),
        // a single-label column makes the V denominator 0 (min(r,c)=1):
        // NULL, not an ANSI divide-by-zero task failure
        when(least(col("nr"), col("nc")) > 1L,
          sqrt(col("chi2q").cast("double") / lit(1e9) /
            (col("n").cast("double") *
              (least(col("nr"), col("nc")) - lit(1L)).cast("double"))))
          .as("cramers_v"))
  }

  val q209Sql: String =
    """WITH c0 AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rn FROM c0 GROUP BY 1),
      |k AS (SELECT source, CAST(sum(o) AS BIGINT) AS cn FROM c0 GROUP BY 1),
      |c AS (
      |  SELECT r.lang, k.source, r.rn, k.cn, coalesce(c0.o, 0) AS o
      |  FROM r CROSS JOIN k
      |  LEFT JOIN c0 ON c0.lang = r.lang AND c0.source = k.source),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS nr,
      |    CAST(count(DISTINCT source) AS BIGINT) AS nc FROM c0),
      |q AS (
      |  SELECT CAST(sum(CAST(floor(
      |      (CAST(o AS DOUBLE) - CAST(rn AS DOUBLE)*CAST(cn AS DOUBLE)/CAST(n AS DOUBLE))
      |    * (CAST(o AS DOUBLE) - CAST(rn AS DOUBLE)*CAST(cn AS DOUBLE)/CAST(n AS DOUBLE))
      |    / (CAST(rn AS DOUBLE)*CAST(cn AS DOUBLE)/CAST(n AS DOUBLE))
      |    * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS chi2q
      |  FROM c CROSS JOIN t)
      |SELECT t.n, t.nr AS n_langs, t.nc AS n_sources,
      |  CAST(q.chi2q AS DOUBLE) / 1e9 AS chi2,
      |  sqrt(CAST(q.chi2q AS DOUBLE) / 1e9
      |    / (CAST(t.n AS DOUBLE) * CAST(least(t.nr, t.nc) - 1 AS DOUBLE)))
      |    AS cramers_v
      |FROM q CROSS JOIN t""".stripMargin

  /** Kruskal–Wallis H — the k-group generalization of q208's rank-sum
    * test: do the language subcorpora share one document-length
    * distribution, or does at least one differ? The rank-based one-way
    * ANOVA reviewers reach for when normality is off the table.
    *
    * Same no-per-row-ranks machinery as q208: a (value, group) count
    * grid plus per-value totals with a prefix window (both
    * distinct-value-bounded), exact integer 2·ranksums per group, then
    * H = 12/(N(N+1))·ΣR²_g/n_g − 3(N+1). The Σ over groups is the one
    * place doubles could sum in engine-dependent order, so each group's
    * term is quantized to a 1e-6 long first (the q88 idiom; magnitudes
    * ~N³·1e6 — fine through the bench scales, DECIMAL(38) is the
    * documented upgrade past ~1e12 rows). Tie correction divides by
    * 1 − Σ(c³−c)/(N³−N), NULL-guarded for the all-tied degenerate. */
  def q227KruskalWallis(s: SparkSession, dir: String): DataFrame =
    kruskalCore(Tables.documents(s, dir)
      .select(col("n_chars").as("v"), col("lang")))

  /** See [[q227KruskalWallis]]: `vals` carries (v, lang). */
  def kruskalCore(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    // checkpointed (r12, lint class #10): cells feeds the rank-sum join
    // path AND the broadcast ties/n totals — the broadcast leg
    // re-planned the corpus scan+aggregate (no stage reuse across
    // exchange types). |distinct v × lang| narrow frame.
    val cells = vals
      .groupBy(col("v"), col("lang"))
      .agg(count(lit(1)).as("cg"))
      .localCheckpoint(true)
    val totals = cells.groupBy(col("v")).agg(sum(col("cg")).as("c"))
      .withColumn("before", coalesce(sum(col("c")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val groups = cells.join(totals, Seq("v"))
      .groupBy(col("lang"))
      .agg(sum(col("cg")).cast("long").as("n_g"),
        // cast the factor BEFORE the multiply (q208's overflow contract)
        sum(col("cg").cast(d38)
          * (lit(2L) * col("before") + col("c") + lit(1L))).as("r2_g"))
    val ties = totals.agg(
      sum(col("c")).cast("long").as("n"),
      sum((col("c").cast(d38) * col("c") * col("c") - col("c"))).as("ties3"))
    val termQ = floor(
      (col("r2_g").cast("double") / lit(2.0)) *
        (col("r2_g").cast("double") / lit(2.0)) /
        col("n_g").cast("double") * lit(1e6) + lit(0.5)).cast("long")
    val m = groups.agg(count(lit(1)).as("k"), sum(termQ).as("sq"))
      .crossJoin(broadcast(ties))
    val nd = col("n").cast("double")
    val h = lit(12.0) / (nd * (nd + lit(1.0))) *
      (col("sq").cast("double") / lit(1e6)) - lit(3.0) * (nd + lit(1.0))
    val tieDen = lit(1.0) -
      col("ties3").cast("double") / (nd * nd * nd - nd)
    m.select(col("n"), col("k"), h.as("h"),
      when(tieDen > 0.0, h / tieDen).as("h_tie_corrected"))
  }

  val q227Sql: String =
    """WITH cells AS (
      |  SELECT n_chars AS v, lang, CAST(count(*) AS BIGINT) AS cg
      |  FROM documents GROUP BY 1, 2),
      |tt AS (
      |  SELECT v, c,
      |    CAST(coalesce(sum(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS before
      |  FROM (SELECT v, CAST(sum(cg) AS BIGINT) AS c FROM cells GROUP BY 1)),
      |g AS (
      |  SELECT lang, CAST(sum(cg) AS BIGINT) AS n_g,
      |    sum(CAST(cg AS HUGEINT) * (2 * before + c + 1)) AS r2_g
      |  FROM cells JOIN tt USING (v) GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(c AS HUGEINT) * c * c - c) AS ties3
      |  FROM tt),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(CAST(floor(
      |      (CAST(r2_g AS DOUBLE) / 2.0) * (CAST(r2_g AS DOUBLE) / 2.0)
      |        / CAST(n_g AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sq
      |  FROM g)
      |SELECT t.n, m.k,
      |  12.0 / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0))
      |    * (CAST(m.sq AS DOUBLE) / 1e6)
      |    - 3.0 * (CAST(t.n AS DOUBLE) + 1.0) AS h,
      |  (12.0 / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0))
      |    * (CAST(m.sq AS DOUBLE) / 1e6)
      |    - 3.0 * (CAST(t.n AS DOUBLE) + 1.0))
      |  / (1.0 - CAST(t.ties3 AS DOUBLE)
      |       / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE)
      |          - CAST(t.n AS DOUBLE))) AS h_tie_corrected
      |FROM m CROSS JOIN t""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q227_kruskal_wallis", q227KruskalWallis, Some(q227Sql)),
    QueryDef("q208_mann_whitney", q208MannWhitney, Some(q208Sql)),
    QueryDef("q209_cramers_v", q209CramersV, Some(q209Sql)),
    QueryDef("q199_discount_elasticity", q199DiscountElasticity, Some(q199Sql)),
    QueryDef("q186_winsorize", q186Winsorize, Some(q186Sql)),
    QueryDef("q185_gini", q185Gini, Some(q185Sql)),
    QueryDef("q183_trimmed_mean", q183TrimmedMean, Some(q183Sql)),
    QueryDef("q175_gate_kappa", q175GateKappa, Some(q175Sql)),
    QueryDef("q176_ks_test", q176KsTest, Some(q176Sql)),
    QueryDef("q163_exact_median", q163ExactMedian, Some(q163Sql)),
    QueryDef("q135_global_ntile", q135GlobalNtile, Some(q135Sql)),
    QueryDef("q150_bootstrap", q150Bootstrap, Some(q150Sql)),
    QueryDef("q156_synth_sample", q156SynthSample, Some(q156Sql)),
    QueryDef("q139_hist_quantile", q139HistQuantile, Some(q139Sql)),
    QueryDef("q126_group_regression", q126GroupRegression, Some(q126Sql)),
    QueryDef("q55_moments", q55Moments, Some(q55Sql)),
    QueryDef("q56_levenshtein", q56Levenshtein, Some(q56Sql)),
    QueryDef("q57_percentiles", q57Percentiles, Some(q57Sql)),
    QueryDef("q58_hash_sample", q58HashSample, Some(q58Sql)),
    QueryDef("q59_gap_fill", q59GapFill, Some(q59Sql)),
    QueryDef("q77_mad", q77Mad, Some(q77Sql)),
    QueryDef("q106_skyline", q106Skyline, Some(q106Sql)),
    QueryDef("q107_group_outliers", q107GroupOutliers, Some(q107Sql)),
    QueryDef("q86_profile", q86Profile, Some(q86Sql)))
}
