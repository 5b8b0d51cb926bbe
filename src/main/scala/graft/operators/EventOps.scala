package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time operators over the `events` table: tumbling/sliding windows,
  * sessionization, calendar-field extraction (the reference's `time`
  * dimension, SURVEY F1–F4, generalized), and a static pivot.
  *
  * These are the batch forms; `graft.streaming.StreamingOps` runs the same
  * windowed aggregation as a Structured Streaming query.
  *
  * Determinism: event timestamps are parquet ns, truncated to µs
  * identically by Spark and DuckDB; all elapsed-time math is done in exact
  * integer microseconds (`unix_micros` / `epoch_us`); `value` sums go
  * through exact decimals.
  */
object EventOps {

  /** Tumbling 1-hour event-time window (Spark `window()` operator). */
  def q24Tumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("ts_hour"), col("event_type"),
        col("n"), col("sum_value"))

  val q24Sql: String =
    """SELECT date_trunc('hour', ts) AS ts_hour, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sliding 1-hour window, 30-minute slide: each event lands in exactly
    * two windows (epoch-aligned starts). */
  def q25Sliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))

  val q25Sql: String =
    """SELECT ws, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws, value
      |  FROM events)
      |GROUP BY ws""".stripMargin

  /** Sessionization: 30-minute inactivity gap splits sessions; classic
    * lag + cumulative-flag-sum, all in integer microseconds. */
  def q26Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapUs = 30L * 60 * 1000000
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_no",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
  }

  val q26Sql: String =
    """SELECT user_id, session_no, count(*) AS n_events,
      |  min(ts) AS session_start,
      |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
      |FROM (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |             OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |           THEN 1 ELSE 0 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, session_no""".stripMargin

  /** Calendar-field battery — the reference `time` dimension generalized
    * (F1–F4, `etl.py:186-223`): distinct (date, hour) with ISO week and
    * Monday=1 weekday. */
  def q27TimeDim(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(to_date(col("ts")).as("date_day"), hour(col("ts")).cast("long").as("hour"))
      .distinct()
      .select(col("date_day"), col("hour"),
        dayofmonth(col("date_day")).cast("long").as("day"),
        weekofyear(col("date_day")).cast("long").as("week"),
        month(col("date_day")).cast("long").as("month"),
        year(col("date_day")).cast("long").as("year"),
        (((dayofweek(col("date_day")) + 5) % 7) + 1).cast("long").as("weekday"))

  val q27Sql: String =
    """SELECT date_day, hour,
      |  EXTRACT(day FROM date_day) AS day,
      |  weekofyear(date_day) AS week,
      |  EXTRACT(month FROM date_day) AS month,
      |  EXTRACT(year FROM date_day) AS year,
      |  isodow(date_day) AS weekday
      |FROM (SELECT DISTINCT CAST(ts AS DATE) AS date_day,
      |        EXTRACT(hour FROM ts) AS hour FROM events)""".stripMargin

  /** Static pivot: event_type → columns, exact sums. */
  def q28Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double"))
      .select(col("user_id"), col("click"), col("view"), col("purchase"),
        col("signup"), col("error"))

  val q28Sql: String =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
      |  CAST(sum(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error
      |FROM events GROUP BY user_id""".stripMargin

  /** Backward as-of lookup: each event gets the user's most recent
    * purchase timestamp at-or-before it. Oracle-facing form uses a RANGE
    * frame (value-based, tie-insensitive → deterministic); the generic
    * engine operator is [[AsOfJoin.backward]], spec-checked against this. */
  def q41AsOf(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us").asc)
      .rangeBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("last_purchase_us",
        max(when(col("event_type") === "purchase", col("us"))).over(w))
      .select(col("event_id"), col("user_id"), col("ts"),
        timestamp_micros(col("last_purchase_us")).as("last_purchase_ts"),
        (col("us") - col("last_purchase_us")).as("gap_us"))
  }

  val q41Sql: String =
    """SELECT event_id, user_id, ts,
      |  make_timestamp(last_purchase_us) AS last_purchase_ts,
      |  epoch_us(ts) - last_purchase_us AS gap_us
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_us
      |  FROM events)""".stripMargin

  /** Native `session_window` operator (gap-merged sessions). Windows are
    * [start, end) with end = last event + gap, so a gap of exactly 30
    * minutes starts a NEW session — the oracle's `>=` on the lag mirrors
    * that exclusive-end semantics. */
  def q46SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  val q46Sql: String =
    """SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |             OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
      |           THEN 1 ELSE 0 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, session_no""".stripMargin

  /** Bounded RANGE frame over event time: per event, the count and exact
    * sum of the same user's events in the trailing hour — the per-ROW
    * form of a sliding window (q25 is the per-BUCKET form). The frame is
    * value-based (µs offsets), so ties/ordering are data-independent;
    * one shuffle on user_id, sort by time inside partitions. */
  def q78RangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0)
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .select(col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("n_trailing_1h"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .over(w).cast("double").as("sum_trailing_1h"))
  }

  val q78Sql: String =
    """SELECT user_id, ts_us,
      |  count(*) OVER w AS n_trailing_1h,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
      |FROM (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Drift TIMELINE: per-day × event-type chi-square contributions
    * against the corpus-wide type distribution — [[CurationOps.q108Drift]]
    * extended over the time axis, i.e. the "which day did the feed shift,
    * and in which class" monitor a continuously-ingesting pipeline pages
    * on. Expected count for (day, type) is n_day·n_type/N; the emitted
    * term is the exact-integer deviation `dev = c_obs·N − n_day·n_type`
    * squared over `N·n_day·n_type`.
    *
    * Exactness: dev's two count products form in decimal(38) — a FACTOR
    * is cast before each multiply, since c_obs·N is ~N² in the hub case
    * and wraps int64 past ~3e9 events (the q208 overflow contract) —
    * then dev is cast to double (exact while < 2^53) and squared IN
    * DOUBLE; the N·n_day·n_type denominator likewise multiplies as
    * doubles. ONE correctly-rounded division per term. No cross-row
    * accumulation of doubles anywhere (callers wanting a per-day scalar
    * sum that day's ≤ #types exact terms).
    *
    * Scale shape: ONE events pass into a (day × type)-cardinality
    * aggregate with map-side partial combine; day totals, type totals,
    * and the grand total are re-aggregates of that tiny frame (its
    * shuffle output is reused, not a second scan), broadcast back onto
    * it. Nothing larger than #days×#types rows exists downstream of the
    * first aggregate. */
  def q113DriftTimeline(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d"), col("event_type"))
      // explicit null-key filter: the inner joins below drop null keys
      // anyway, but stating it HERE makes all four aggregate branches'
      // scan+filter sub-plans identical, so the (d, type) shuffle is
      // planned once and the marginals read it as ReusedExchange — one
      // events scan instead of four (spec-locked)
      .filter(col("d").isNotNull && col("event_type").isNotNull)
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("c_obs"))
    val dayTot = obs.groupBy(col("d")).agg(sum(col("c_obs")).as("n_day"))
    val typeTot = obs.groupBy(col("event_type"))
      .agg(sum(col("c_obs")).as("n_type"))
    val grand = obs.agg(sum(col("c_obs")).as("n_all"))
    val d38 = "decimal(38,0)"
    val dev = (col("c_obs").cast(d38) * col("n_all")
      - col("n_day").cast(d38) * col("n_type")).cast("double")
    obs.join(broadcast(dayTot), Seq("d"))
      .join(broadcast(typeTot), Seq("event_type"))
      .crossJoin(broadcast(grand))
      .withColumn("chi_term",
        (dev * dev) /
          (col("n_all").cast("double") * col("n_day").cast("double")
            * col("n_type").cast("double")))
      .select(col("d"), col("event_type"), col("c_obs"),
        col("n_day"), col("n_type"), col("chi_term"))
  }

  val q113Sql: String =
    // the null-key filter is mirrored INSIDE obs (r8, events battery):
    // an event with no type belongs to no contingency cell, so it must
    // not count toward the marginals either — without the WHERE the
    // oracle's n_day/n_all include NULL-type events whose cell row the
    // type join then drops, making its chi² internally inconsistent
    // (marginal ≠ Σ cells) and divergent from the Spark frame.
    """WITH obs AS (
      |  SELECT CAST(ts AS DATE) AS d, event_type,
      |    CAST(count(*) AS BIGINT) AS c_obs
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
      |dt AS (SELECT d, CAST(sum(c_obs) AS BIGINT) AS n_day FROM obs GROUP BY d),
      |tt AS (SELECT event_type, CAST(sum(c_obs) AS BIGINT) AS n_type
      |       FROM obs GROUP BY event_type),
      |g AS (SELECT CAST(sum(c_obs) AS BIGINT) AS n_all FROM obs)
      |SELECT obs.d, obs.event_type, c_obs, n_day, n_type,
      |  CAST(CAST(c_obs AS HUGEINT) * n_all
      |       - CAST(n_day AS HUGEINT) * n_type AS DOUBLE)
      |    * CAST(CAST(c_obs AS HUGEINT) * n_all
      |           - CAST(n_day AS HUGEINT) * n_type AS DOUBLE)
      |    / (CAST(n_all AS DOUBLE) * CAST(n_day AS DOUBLE)
      |       * CAST(n_type AS DOUBLE)) AS chi_term
      |FROM obs JOIN dt USING (d) JOIN tt USING (event_type), g""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next event type | current type) — the behavioral-model primitive
    * under session simulation, anomaly scoring, and funnel design (q76
    * measures ONE fixed path; this measures every edge at once).
    *
    * Scale shape: the `lead` window partitions by `user_id` — an
    * UNBOUNDED-cardinality key, so partitions stay small at any corpus
    * size (the opposite of the q91-class low-cardinality funnel; same
    * reasoning as q75/q76). Pair counting is a partial-aggregating
    * shuffle bounded by #types²; the per-source totals join touches only
    * that tiny count table (broadcast). The probability is one exact
    * int64 division; ties in event ordering are broken by event_id so
    * the sequence — and therefore every count — is deterministic. */
  def q127Transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val c = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val tot = c.groupBy(col("from_type"))
      .agg(sum(col("c")).cast("long").as("n_from"))
    c.join(broadcast(tot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("c"), col("n_from"),
        (col("c").cast("double") / col("n_from")).as("p"))
  }

  val q127Sql: String =
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
      |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(sum(c) AS BIGINT) AS n_from FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.c, t.n_from,
      |  CAST(c.c AS DOUBLE) / t.n_from AS p
      |FROM c JOIN t USING (from_type)""".stripMargin

  /** Association rules over per-user event-type sets — market-basket
    * mining at pair depth: for every ORDERED type pair (ante → cons),
    * support = P(user did both), confidence = P(cons | ante), and
    * lift = confidence / P(cons). Lift > 1 marks genuinely associated
    * behaviors (q127's transition matrix is the SEQUENTIAL view — who
    * does b right after a; this is the co-occurrence view — who does b
    * at all, given a, in any order).
    *
    * Scale shape: the distinct (user, type) set is one user-keyed
    * aggregate; the per-user pair fan-out is bounded by #types² — the
    * q127 contract: event-type is a VOCABULARY, not an id space — so
    * the self-join emits ≤ T² rows per user and the rule table itself
    * is ≤ T² rows. Singles counts ride a broadcast. All three metrics
    * are single divisions; lift's two count products form in DOUBLE
    * with each factor cast first (n_both·N is user-count² — wraps int64
    * past ~3e9 users, the q208 overflow contract; identical double
    * trees keep the cross-engine hash). */
  def q141AssocRules(s: SparkSession, dir: String): DataFrame = {
    // checkpointed (r12, lint class #10): the distinct user-type frame
    // feeds FOUR lineages (totals, singles x2 broadcast roles, the
    // self-join) — left lazy, each consumer re-planned the events scan
    // AND the distinct shuffle (SubtreeAudit caught the duplicate
    // scan+aggregate; at 100 TB that is four corpus scans for one).
    // The frame is two narrow columns, users x types bounded.
    val ut = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true)
    // countDistinct, NOT distinct().count(): a NULL user_id is not a
    // user. count(DISTINCT) excludes NULLs in both engines, whereas the
    // distinct-then-count-rows form counts the NULL group too and
    // silently shifts every support/lift denominator on data with null
    // ids (found by the events oracle fuzz)
    val totals = ut.agg(countDistinct(col("user_id")).as("n_users"))
    val singles = ut.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_single"))
    val both = ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") =!= col("b.event_type"))
      .groupBy(col("a.event_type").as("ante"),
        col("b.event_type").as("cons"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(singles.withColumnRenamed("event_type", "ante")
        .withColumnRenamed("n_single", "n_ante")), Seq("ante"))
      .join(broadcast(singles.withColumnRenamed("event_type", "cons")
        .withColumnRenamed("n_single", "n_cons")), Seq("cons"))
      .crossJoin(broadcast(totals))
      .select(col("ante"), col("cons"), col("n_both"),
        (col("n_both").cast("double") / col("n_users")).as("support"),
        (col("n_both").cast("double") / col("n_ante")).as("confidence"),
        // factors cast to double BEFORE multiplying: both products wrap
        // int64 once counts pass ~3e9 users (q208 overflow contract)
        ((col("n_both").cast("double") * col("n_users").cast("double"))
          / (col("n_ante").cast("double") * col("n_cons").cast("double")))
          .as("lift"))
  }

  val q141Sql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |      FROM ut),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_single
      |      FROM ut GROUP BY 1),
      |b AS (
      |  SELECT a.event_type AS ante, b.event_type AS cons,
      |    CAST(count(*) AS BIGINT) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type <> b.event_type
      |  GROUP BY 1, 2)
      |SELECT b.ante, b.cons, b.n_both,
      |  CAST(b.n_both AS DOUBLE) / n.n_users AS support,
      |  CAST(b.n_both AS DOUBLE) / sa.n_single AS confidence,
      |  (CAST(b.n_both AS DOUBLE) * CAST(n.n_users AS DOUBLE))
      |    / (CAST(sa.n_single AS DOUBLE) * CAST(sc.n_single AS DOUBLE))
      |    AS lift
      |FROM b JOIN s sa ON b.ante = sa.event_type
      |JOIN s sc ON b.cons = sc.event_type, n""".stripMargin

  /** Weekly cohort-retention matrix — the standard product-analytics
    * rollup: users are cohorted by the week of their FIRST event, and
    * each (cohort_week, week_offset) cell reports how many of that
    * cohort's users were active `offset` weeks later, as a count and as
    * a fraction of cohort size. Week identity is `date_trunc('week')`
    * (ISO Monday in both engines); the offset is exact integer
    * microsecond arithmetic (`unix_micros` / 604.8e9), so every cell is
    * exact int64 and the retention fraction is ONE double division.
    *
    * Scale shape: both the first-event aggregate and the active-week
    * dedup key on user_id (unbounded cardinality — the anti-funnel);
    * their join keys on user_id too, so hot users are join skew (AQE
    * shape), not a buffer. The matrix aggregate output is bounded by
    * #weeks² and the cohort-size table by #weeks, so the final
    * enrichment is a broadcast. One pass over events for each of the
    * two aggregates — and Spark's exchange reuse shares the user_id
    * shuffle when the planner lines the two subtrees up. */
  def q131CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
    val firstw = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_w"))
    val activew = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    val cohortN = firstw.groupBy(col("cohort_w"))
      .agg(count(lit(1)).as("cohort_n"))
    activew.join(firstw, Seq("user_id"))
      .select(col("cohort_w"),
        ((unix_micros(col("w")) - unix_micros(col("cohort_w"))) /
          lit(604800000000L)).cast("long").as("week_offset"))
      .groupBy(col("cohort_w"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortN), Seq("cohort_w"))
      .select(col("cohort_w"), col("week_offset"), col("n_active"),
        col("cohort_n"),
        (col("n_active").cast("double") / col("cohort_n")).as("retention"))
  }

  val q131Sql: String =
    """WITH fw AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_w
      |  FROM events GROUP BY user_id),
      |aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
      |cn AS (SELECT cohort_w, CAST(count(*) AS BIGINT) AS cohort_n
      |       FROM fw GROUP BY 1),
      |cells AS (
      |  SELECT fw.cohort_w,
      |    (epoch_us(aw.w) - epoch_us(fw.cohort_w)) // 604800000000
      |      AS week_offset,
      |    CAST(count(*) AS BIGINT) AS n_active
      |  FROM aw JOIN fw USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT c.cohort_w, c.week_offset, c.n_active, cn.cohort_n,
      |  CAST(c.n_active AS DOUBLE) / cn.cohort_n AS retention
      |FROM cells c JOIN cn USING (cohort_w)""".stripMargin

  /** Last-touch attribution: every purchase is attributed to the user's
    * LATEST preceding click within a 7-day lookback — the standard
    * marketing-attribution join, done without a self-join: one window
    * pass per user carries the running "latest click so far"
    * (max over a 1-preceding frame of `CASE WHEN click THEN ts END`), so
    * each purchase row reads its attribution in place. Gap arithmetic is
    * exact integer microseconds; rows with no in-window click report
    * attributed = false with a NULL gap (the unreachable-spend signal).
    *
    * Scale shape: the single window partitions by user_id — unbounded
    * cardinality, the anti-funnel — and replaces the naive
    * purchases⋈clicks range self-join, which fans out per (purchase,
    * click) pair before filtering to the max. One shuffle, no join at
    * all. Ordering ties break on event_id, so attribution is
    * deterministic. */
  def q134LastTouch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", unix_micros(col("ts"))))
          .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        (unix_micros(col("ts")) - col("last_click_us")).as("gap_us"))
      .withColumn("attributed",
        col("gap_us").isNotNull && col("gap_us") <= lit(604800000000L))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("attributed"), col("gap_us")).as("gap_us"),
        col("attributed"))
  }

  val q134Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS last_click_us
      |  FROM events),
      |p AS (
      |  SELECT event_id, user_id, ts,
      |    epoch_us(ts) - last_click_us AS gap_us
      |  FROM e WHERE event_type = 'purchase')
      |SELECT event_id, user_id, ts,
      |  CASE WHEN gap_us IS NOT NULL AND gap_us <= 604800000000
      |       THEN gap_us END AS gap_us,
      |  gap_us IS NOT NULL AND gap_us <= 604800000000 AS attributed
      |FROM p""".stripMargin

  /** Behavioral motif mining: the top 3-step event sequences across all
    * users — q127's Markov transitions tell you P(next | current); the
    * motif table tells you which longer paths actually dominate (the
    * signup→view→purchase vs error→error→error distinction a product
    * or fraud team reads daily). Consecutive per-user steps only, with
    * the (ts, event_id) total order making ties deterministic.
    *
    * Scale shape: two `lead`s over a user-keyed window (unbounded key
    * cardinality — partitions stay ≤ one user's events at any scale),
    * then a partial-combining aggregate bounded by #event-types³ and a
    * `TakeOrderedAndProject` top-20. No self-join on position, no
    * per-user list materialization (a collect_list formulation would
    * put a bot user's whole history in one buffer). */
  def q151SeqMotifs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("c"))
      // asc_nulls_last: motif steps are NULLABLE (a NULL-typed event in
      // the middle of a sequence), and the top-20 cut's tiebreak must
      // put the null end where DuckDB's default does or the boundary
      // ties select different SETS (r8, events battery — the §3.11
      // null-ordering contract at a LIMIT cut)
      .orderBy(col("c").desc, col("e1").asc_nulls_last,
        col("e2").asc_nulls_last, col("e3").asc_nulls_last)
      .limit(20)
  }

  val q151Sql: String =
    """WITH p AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS e2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS e3
      |  FROM events)
      |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS c
      |FROM p WHERE e3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY c DESC, e1, e2, e3
      |LIMIT 20""".stripMargin

  /** Linear-decay multi-touch attribution — q134's last-touch gives 100%
    * of the credit to one click; production attribution spreads it over
    * every touch in the window, weighted by recency. The decay is
    * LINEAR in whole hours (w = 24 − ⌊Δ/1h⌋ ∈ [1, 24], exact integer
    * division on both engines) rather than exponential: e^−Δ ranks
    * identically within the window but sums DOUBLES in engine-dependent
    * order, while integer weight masses are exact. Credit is reported
    * in weight units per channel (mass and share); per-conversion
    * normalization would divide before summing — the order-dependent
    * double sum this suite never emits.
    *
    * Scale shape: purchases ⋈ touches keyed on user_id (unbounded key —
    * per-user work is |purchases_u|·|touches_u|, the same bound the
    * funnel/retention family carries), pre-filtered to the 24 h window
    * on the JOIN condition so the pair stream never widens; then a
    * #channels-bounded aggregate and a 1-row broadcast for the share.
    *
    * Skew: a bot user is join-OUTPUT skew, invisible to AQE's
    * input-byte skew split — 2·10⁴ events on one user ran the
    * f²/8 ≈ 5·10⁷-pair window join in a single task (max-task 2.68 s of
    * a 2.98 s wall), quadratic from there. The join therefore runs
    * through [[Skew.fanJoin]]: one single-pass aggregate of per-user
    * purchase/touch counts is probed for max_u |P_u|·|T_u|; at or below
    * [[Skew.WindowFanThreshold]] the plain join runs, above it HOT USERS
    * ONLY take the bucket salt (purchases bucketed, touches replicated
    * to every bucket); cold users keep the plain join. The per-channel
    * aggregate consumes the identical pair multiset — parity + branch
    * witnesses spec'd across the bar (DispatchStraddleSpec). */
  def q152DecayAttribution(s: SparkSession, dir: String): DataFrame =
    decayAttribution(Tables.events(s, dir), Skew.WindowFanThreshold)

  /** [[q152DecayAttribution]] over `ev` with the window-fan bar
    * injectable (the straddle specs' reference arm). */
  private[graft] def decayAttribution(ev: DataFrame,
      fanThreshold: Long): DataFrame = {
    val d38 = "decimal(38,0)"
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    val touches = ev
      .filter(col("event_type").isin("click", "view", "signup"))
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_type").as("channel"))
    // per-user purchase/touch counts in ONE map-side-combined aggregate
    // over the filtered stream (NULL-id rows can't pair — the join key
    // drops them on both plans)
    val pt = ev.filter(col("user_id").isNotNull && col("event_type")
        .isin("purchase", "click", "view", "signup"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).as("nt"))
    val paired = Skew.fanJoin(purchases, touches,
        xxhash64(col("user_id"), col("p_us")), Seq("user_id"), pt, "np", "nt",
        "decay_pair_product", fanThreshold)
      .filter(col("t_us") < col("p_us") &&
        col("p_us") - col("t_us") < lit(86400000000L))
    val weighted = paired.withColumn("w",
      lit(24L) - expr("(p_us - t_us) div 3600000000"))
    val perChannel = weighted.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("w").cast(d38)).cast("long").as("w_mass"))
    // share denominator via a GLOBAL window over the ≤#channels frame
    // (bounded: 3 touch types): a crossJoin(broadcast(total)) form plans
    // the ENTIRE pair pipeline twice, once under perChannel and once
    // under the scalar total (Spark shares no common subtrees across a
    // DataFrame reuse) — on the bot fixture two concurrent 8-second
    // copies of the same join
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    perChannel
      .withColumn("w_total",
        sum(col("w_mass").cast(d38)).over(wAll).cast("long"))
      .select(col("channel"), col("n_touches"), col("w_mass"),
        (col("w_mass").cast("double") / col("w_total").cast("double"))
          .as("w_share"))
  }

  val q152Sql: String =
    """WITH pu AS (
      |  SELECT user_id, epoch_us(ts) AS p_us FROM events
      |  WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, epoch_us(ts) AS t_us, event_type AS channel
      |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
      |wts AS (
      |  SELECT channel, 24 - (pu.p_us - t.t_us) // 3600000000 AS w
      |  FROM pu JOIN t USING (user_id)
      |  WHERE t.t_us < pu.p_us AND pu.p_us - t.t_us < 86400000000),
      |c AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |    CAST(sum(w) AS BIGINT) AS w_mass
      |  FROM wts GROUP BY 1),
      |tot AS (SELECT CAST(sum(w_mass) AS BIGINT) AS w_total FROM c)
      |SELECT channel, n_touches, w_mass,
      |  CAST(w_mass AS DOUBLE) / CAST(w_total AS DOUBLE) AS w_share
      |FROM c, tot""".stripMargin

  /** Exponentially-weighted moving average of event value per user —
    * the online-metrics smoother (rate trend, spend trend) — with a
    * BOUNDED 8-term horizon so the result is exact: weights are the
    * dyadic 2⁷…2⁰ (α = ½ halving per step back), values are cents-scaled
    * int64, so numerator and denominator are exact integers and the
    * single final double division is the same correctly-rounded op on
    * both engines. An unbounded recursive EWMA would accumulate doubles
    * whose low bits depend on history length and engine order — the
    * 8-term window keeps >99.6% of the unbounded mass (2⁻⁸ tail) and all
    * of the determinism. Ragged starts renormalize over the weights
    * actually present (first event = plain value), so the smoother is
    * unbiased from row one.
    *
    * Scale shape: one window over `user_id` — unbounded key cardinality,
    * never a funnel — with 7 `lag`s inside a single WindowExec (one sort,
    * one pass); no state beyond the frame. */
  def q164Ewma(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.cents
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagged = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        cents(col("value")).as("c0"))
      .select(Seq(col("user_id"), col("event_id"), col("c0")) ++
        (1 to 7).map(k => lag(col("c0"), k).over(w).as(s"c$k")): _*)
    val num = (0 to 7).map(k =>
      coalesce(col(s"c$k") * lit(1L << (7 - k)), lit(0L))).reduce(_ + _)
    val den = (0 to 7).map(k =>
      when(col(s"c$k").isNotNull, lit(1L << (7 - k))).otherwise(lit(0L)))
      .reduce(_ + _)
    // den = 0 exactly when the row's own value AND all visible lags are
    // NULL (a null-valued first event): no observed mass → ewma NULL,
    // via a null divisor (NULLIF in the oracle). Under ANSI the bare
    // division would throw DIVIDE_BY_ZERO instead (events oracle fuzz).
    lagged.select(col("user_id"), col("event_id"),
      (num.cast("double") / when(den =!= 0L, den).cast("double")
        / lit(100.0)).as("ewma"))
  }

  val q164Sql: String = {
    val lags = (1 to 7).map(k => s"lag(c0, $k) OVER w AS c$k").mkString(",\n      |    ")
    val num = (0 to 7).map(k => s"coalesce(c$k * ${1L << (7 - k)}, 0)").mkString(" + ")
    val den = (0 to 7).map(k =>
      s"CASE WHEN c$k IS NOT NULL THEN ${1L << (7 - k)} ELSE 0 END").mkString(" + ")
    s"""WITH b AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c0
      |  FROM events),
      |l AS (
      |  SELECT user_id, event_id, c0,
      |    $lags
      |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id,
      |  CAST($num AS DOUBLE)
      |    / CAST(NULLIF($den, 0) AS DOUBLE) / 100.0 AS ewma
      |FROM l""".stripMargin
  }

  /** Mann–Kendall trend test per event type: S = Σ_{i<j} sign(c_j − c_i)
    * over the DAILY count series — the standard non-parametric "is this
    * metric trending?" statistic, here fully exact (sign of integer
    * differences, integer sums; the normalized trend is one double
    * division at the end). S > 0 grows, S < 0 decays, |S| near the pair
    * count means monotone.
    *
    * Scale shape: the corpus collapses to a (type × day)-bounded daily
    * aggregate FIRST (map-side combine); the O(days²) pair join runs on
    * that bounded series (≤ a few thousand rows per type regardless of
    * event volume), keyed on event_type so types parallelize. Never a
    * window over raw events, never a corpus self-join. */
  def q172TrendMk(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val a = daily.select(col("event_type"), col("d").as("d1"), col("c").as("c1"))
    val b = daily.select(col("event_type"), col("d").as("d2"), col("c").as("c2"))
    a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("c2") - col("c1")).cast("long")).as("s_mk"),
        count(lit(1)).as("n_pairs"))
      .withColumn("trend",
        col("s_mk").cast("double") / col("n_pairs"))
  }

  val q172Sql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT a.event_type,
      |  CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_mk,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(sign(b.c - a.c)) AS DOUBLE) / count(*) AS trend
      |FROM daily a JOIN daily b
      |  ON a.event_type = b.event_type AND a.d < b.d
      |GROUP BY 1""".stripMargin

  /** Daily new users and cumulative distinct users to date — the
    * audience-growth curve every ingest dashboard wants. The naive
    * formulation (`count(DISTINCT user_id) OVER (ORDER BY day)`) is a
    * single-task global window carrying an ever-growing distinct set;
    * this is the classic first-seen decomposition instead: each user
    * contributes exactly once, on the day of their first event, so
    * cumulative uniques = prefix sum of daily first-seen counts.
    *
    * Scale shape: pass 1 is a user-keyed min aggregate (unbounded key
    * cardinality, map-side combine, no funnel); pass 2 collapses to the
    * day-cardinality table; the prefix-sum window runs on ≤ #days rows —
    * bounded, never event-volume-sized. */
  def q179CumulativeUniques(s: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("new_users"))
    firstSeen
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("d"), col("new_users"), col("cum_users"))
  }

  val q179Sql: String =
    """WITH fs AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1),
      |daily AS (
      |  SELECT d, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY 1)
      |SELECT d, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM daily""".stripMargin

  /** Lag-1 autocorrelation of the daily event-count series per type —
    * the "does yesterday predict today" persistence number behind
    * [[q172TrendMk]]'s monotone-trend test (r near +1 = momentum /
    * slow drift, near 0 = memoryless load, negative = oscillation, e.g.
    * a backfill job alternating heavy/light days).
    *
    * Determinism: all five moments over the (cₜ, cₜ₊₁) pairs are exact
    * integer sums (decimal(38,0)); r is computed as
    * num / (√a · √b) where num, a, b are exact integers — IEEE-754
    * requires sqrt to be correctly rounded, so the identical operation
    * tree is bit-equal on both engines (nullif-guarded when a constant
    * series makes a or b zero).
    *
    * Scale shape: the corpus collapses to the (type × day) daily
    * aggregate FIRST (map-side combine); the lead window and the moment
    * aggregate run on ≤ #days rows per type, keyed by type. */
  def q188Autocorr(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val pairs = daily
      .withColumn("y", lead(col("x"), 1).over(
        Window.partitionBy(col("event_type")).orderBy(col("d"))))
      .filter(col("y").isNotNull)
    val m = pairs.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x").cast(d38) * col("y").cast(d38)).cast(d38)).as("sxy"),
      sum((col("x").cast(d38) * col("x").cast(d38)).cast(d38)).as("sxx"),
      sum((col("y").cast(d38) * col("y").cast(d38)).cast(d38)).as("syy"))
    m.select(col("event_type"), col("n_pairs"),
      ((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
        nullif(
          sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
          sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
            .cast("double")), lit(0.0))).as("acf1"))
  }

  val q188Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, x,
      |    lead(x, 1) OVER (PARTITION BY event_type ORDER BY d) AS y
      |  FROM daily),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM p WHERE y IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_pairs,
      |  CAST(n_pairs * sxy - sx * sy AS DOUBLE)
      |    / nullif(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
      |        * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)), 0.0) AS acf1
      |FROM m""".stripMargin

  /** Day-of-week load profile per event type: integer per-mille share of
    * each type's events landing on each Monday=1 weekday (the F4
    * re-basing) — the seasonality baseline an ops monitor diffs new days
    * against, and the denominator under "is Tuesday really down?".
    *
    * Scale shape: one hash aggregate to (type × 7) cells, the per-type
    * total is a window over ≤ 7 rows per type. Entirely integer output
    * (n·1000 div total). */
  def q189DowProfile(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"),
        (((dayofweek(to_date(col("ts"))) + 5) % 7) + 1).cast("long")
          .as("weekday"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("tot", sum(col("n")).over(
        Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("weekday"), col("n"),
        expr("n * 1000 div tot").as("share_pm"))
  }

  val q189Sql: String =
    """WITH cells AS (
      |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS weekday,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, weekday, n,
      |  CAST(n * 1000 // sum(n) OVER (PARTITION BY event_type) AS BIGINT)
      |    AS share_pm
      |FROM cells""".stripMargin

  /** Sequence predictability: mutual information between consecutive
    * event types in each user's stream — I(prev; next) near 0 means the
    * next action is unpredictable (memoryless traffic), near H means
    * near-deterministic flows (bot/script signature). The single-number
    * summary over [[q127Transitions]]' full matrix, riding
    * [[MiscOps.mutualInfoCore]]'s fixed-point machinery (columns keep
    * its generic h_x/h_y names).
    *
    * Scale shape: one lead window per user (unbounded key cardinality,
    * no funnel) collapses to the (type × type) bigram contingency
    * table; everything after is bounded by #types². */
  def q190SeqMi(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev"))
      .withColumn("next", lead(col("prev"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("next").isNotNull)
      .select(col("prev"), col("next"))
    MiscOps.mutualInfoCore(pairs, "prev", "next")
  }

  val q190Sql: String = {
    def l(k: String) =
      s"CAST(floor(ln(CAST($k AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    s"""WITH pairs AS (
       |  SELECT event_type AS prev,
       |    lead(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS next
       |  FROM events),
       |xy AS MATERIALIZED (
       |  SELECT prev, next, CAST(count(*) AS BIGINT) AS c
       |  FROM pairs WHERE next IS NOT NULL GROUP BY 1, 2),
       |e AS (
       |  SELECT c,
       |    sum(c) OVER (PARTITION BY prev) AS rx,
       |    sum(c) OVER (PARTITION BY next) AS cy,
       |    sum(c) OVER () AS n,
       |    row_number() OVER (PARTITION BY prev ORDER BY next) AS rs,
       |    row_number() OVER (PARTITION BY next ORDER BY prev) AS rl
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

  /** Audience-overlap matrix: exact Jaccard between event types' user
    * sets — "do the people who search also purchase?" ([[graft.operators.TextOps]]'
    * q128 source-overlap shape applied to behavioral audiences; feeds
    * segmentation and the cannibalization question before launching a
    * surface).
    *
    * Scale shape: events collapse to DISTINCT (type, user) pairs first
    * (hash aggregate); the self-join is keyed on user_id — an unbounded-
    * cardinality shuffle key, so it parallelizes, and each user
    * contributes ≤ (#types choose 2) pairs, so output is bounded by
    * #types² after the pair aggregate; per-type totals broadcast back.
    * Jaccard = inter/(n_a+n_b−inter), ONE double division of exact ints. */
  def q192AudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    // the distinct table feeds three consumers (totals + both join
    // sides): checkpoint it so the corpus is scanned ONCE, then release
    // (the q171/q182 multi-use-aggregate lifecycle)
    val tu = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint(true)
    val tot = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val ta = tu.select(col("event_type").as("type_a"), col("user_id"))
    val tb = tu.select(col("event_type").as("type_b"), col("user_id"))
    val out = ta.join(tb, "user_id").filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(tot.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), "type_a")
      .join(broadcast(tot.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("inter"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .localCheckpoint(true) // #types²-bounded result
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(tu)
    out
  }

  val q192Sql: String =
    """WITH tu AS MATERIALIZED (
      |  SELECT DISTINCT event_type, user_id FROM events),
      |tot AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
      |p AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    CAST(count(*) AS BIGINT) AS inter
      |  FROM tu x JOIN tu y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, a.n AS n_a, b.n AS n_b, inter,
      |  CAST(inter AS DOUBLE) / CAST(a.n + b.n - inter AS DOUBLE) AS jaccard
      |FROM p
      |JOIN tot a ON type_a = a.event_type
      |JOIN tot b ON type_b = b.event_type""".stripMargin

  /** Bot-vs-human burstiness audit: per-user Fano factor (variance/mean
    * of the daily event-count series) classified ENTIRELY in integers —
    * var/mean > 1 ⇔ n·Σc² − (Σc)² > (n−1)·Σc, so no user's dispersion
    * ever touches a double. Scripted/scheduled actors sit under 1
    * (metronome regularity), humans over 1 (bursts); the aggregate
    * shares are the traffic-hygiene number a corpus drawn from event
    * logs is gated on. Users active on a single day are excluded
    * (dispersion undefined, n−1 = 0).
    *
    * Scale shape: (user × day) counts (map-side combine) → per-user
    * 3-scalar moments (unbounded key cardinality, parallel) → integer
    * flags → ONE global row. No window, no join. */
  def q195Burstiness(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    val per = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("sv"),
        sum((col("c").cast(d38) * col("c").cast(d38)).cast(d38)).as("q"))
      .filter(col("n") >= 2)
    val lhs = col("n").cast(d38) * col("q") -
      col("sv").cast(d38) * col("sv").cast(d38)
    val rhs = (col("n") - 1).cast(d38) * col("sv").cast(d38)
    per.agg(count(lit(1)).as("n_users"),
        sum(when(lhs > rhs, 1L).otherwise(0L)).as("n_over"),
        sum(when(lhs < rhs, 1L).otherwise(0L)).as("n_under"))
      .withColumn("share_over_pm", expr("n_over * 1000 div n_users"))
  }

  val q195Sql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |per AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS sv,
      |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
      |  FROM daily GROUP BY 1 HAVING count(*) >= 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CASE WHEN CAST(n AS HUGEINT) * q - CAST(sv AS HUGEINT) * sv
      |    > CAST(n - 1 AS HUGEINT) * sv THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_over,
      |  CAST(sum(CASE WHEN CAST(n AS HUGEINT) * q - CAST(sv AS HUGEINT) * sv
      |    < CAST(n - 1 AS HUGEINT) * sv THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_under,
      |  CAST(sum(CASE WHEN CAST(n AS HUGEINT) * q - CAST(sv AS HUGEINT) * sv
      |    > CAST(n - 1 AS HUGEINT) * sv THEN 1 ELSE 0 END) * 1000
      |    // count(*) AS BIGINT) AS share_over_pm
      |FROM per""".stripMargin

  /** Per-state conditional entropy of the behavioral transition matrix:
    * H(next | prev = t) in nats, with the branching factor — the
    * drill-down under [[q190SeqMi]]'s single number (which states are
    * predictable, which are junctions; a near-zero row is a scripted
    * hop, a near-ln(branching) row is a free choice point).
    *
    * Determinism: the q180 fixed-point idiom per row —
    * H = (rx·L(rx) − Σ c·L(c)) / (rx·10⁶), every term an exact
    * decimal(38,0) integer, ONE double division per state.
    *
    * Scale shape: the per-user lead window (unbounded keys) collapses to
    * the #types² bigram table; both aggregates run on that. */
  def q197CondEntropy(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def lfp(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev"))
      .withColumn("next", lead(col("prev"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("next").isNotNull)
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("c"))
    pairs.groupBy(col("prev"))
      .agg(sum(col("c")).as("rx"),
        count(lit(1)).as("branching"),
        sum((col("c").cast(d38) * lfp(col("c")).cast(d38)).cast(d38))
          .as("scl"))
      .select(col("prev"), col("rx"), col("branching"),
        ((col("rx").cast(d38) * lfp(col("rx")).cast(d38) - col("scl"))
          .cast("double") / (col("rx").cast("double") * 1e6))
          .as("h_next_nats"))
  }

  val q197Sql: String = {
    def l(k: String) =
      s"CAST(floor(ln(CAST($k AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    s"""WITH pairs AS (
       |  SELECT prev, next, CAST(count(*) AS BIGINT) AS c
       |  FROM (
       |    SELECT event_type AS prev,
       |      lead(event_type, 1) OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id) AS next
       |    FROM events)
       |  WHERE next IS NOT NULL GROUP BY 1, 2)
       |SELECT prev, CAST(sum(c) AS BIGINT) AS rx,
       |  CAST(count(*) AS BIGINT) AS branching,
       |  CAST(CAST(sum(c) AS HUGEINT) * ${l("sum(c)")}
       |      - sum(CAST(c AS HUGEINT) * ${l("c")}) AS DOUBLE)
       |    / (CAST(sum(c) AS DOUBLE) * 1e6) AS h_next_nats
       |FROM pairs GROUP BY prev""".stripMargin
  }

  /** Daily open-order backlog via interval stabbing — how many orders
    * are "in flight" (placed but not fully shipped) on each calendar
    * day. The scale-defining choice is the DIFFERENCE ARRAY: each order
    * contributes exactly TWO delta rows (+1 at placement, −1 the day
    * after its last shipment) instead of one row per open day — an
    * order open for two years would otherwise explode into ~730 rows,
    * turning a 6e9-order corpus into 4e12 intermediate rows. The deltas
    * collapse to a day-keyed aggregate (calendar-bounded, ~2.5k rows)
    * and one prefix-sum window over that bounded frame (the q174
    * contract) yields the running backlog.
    *
    * Orders with no lineitems never opened a fulfillment interval and
    * are excluded by the inner join (they are q162's FK-audit subject,
    * mirrored in the oracle). All outputs exact integers. */
  def q211OpenOrders(s: SparkSession, dir: String): DataFrame = {
    val span = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(to_date(min(col("o_orderdate"))).as("opened"),
        to_date(max(col("l_shipdate"))).as("closed"))
    // date boundaries (r8, rel fuzz battery): an order with an unknown
    // open date cannot sit on the timeline at all (its NULL delta bucket
    // would lead Spark's running sum but trail DuckDB's — a constant
    // phantom offset on every later day), and an opened order whose
    // lineitems never shipped has NO close delta — it stays open to the
    // end of the timeline, which is exactly what "open orders" means.
    val deltas = span.filter(col("opened").isNotNull)
      .select(col("opened").as("d"), lit(1L).as("x"))
      .unionAll(span
        .filter(col("opened").isNotNull && col("closed").isNotNull)
        .select(date_add(col("closed"), 1).as("d"), lit(-1L).as("x")))
      .groupBy(col("d"))
      .agg(sum(col("x")).as("delta"),
        count_if(col("x") === 1L).as("n_opened"),
        count_if(col("x") === -1L).as("n_closed"))
    deltas
      .withColumn("n_open",
        sum(col("delta")).over(Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .select(col("d"), col("n_opened"), col("n_closed"), col("n_open"))
  }

  val q211Sql: String =
    """WITH span AS (
      |  SELECT o_orderkey, CAST(min(o_orderdate) AS DATE) AS opened,
      |    CAST(max(l_shipdate) AS DATE) AS closed
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1),
      |deltas AS (
      |  SELECT d, CAST(sum(x) AS BIGINT) AS delta,
      |    CAST(count_if(x = 1) AS BIGINT) AS n_opened,
      |    CAST(count_if(x = -1) AS BIGINT) AS n_closed
      |  FROM (SELECT opened AS d, 1 AS x FROM span
      |          WHERE opened IS NOT NULL
      |        UNION ALL SELECT closed + 1, -1 FROM span
      |          WHERE opened IS NOT NULL AND closed IS NOT NULL)
      |  GROUP BY 1)
      |SELECT d, n_opened, n_closed,
      |  CAST(sum(delta) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_open
      |FROM deltas""".stripMargin

  /** Rolling 7-day distinct active users per day — the windowed
    * COUNT(DISTINCT) that naive SQL cannot express scalably (a sliding
    * window cannot deduplicate across its frame without re-scanning it
    * per day). The scale-correct shape: collapse events to distinct
    * (user, day) activity ONCE, then explode each activity into the ≤7
    * window-days it contributes to — a bounded ×7 fan-out of the already
    * day-deduplicated frame, NOT of raw events — and close with one
    * (window-day)-keyed distinct aggregate. Each day's single-day
    * actives ride the same frame for the engagement-ratio denominator.
    * Window-days past the feed's last activity (the trailing 6) are kept
    * — they report the genuine decaying tail of the final week. */
  def q213RollingActives(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val win = act.select(col("user_id"),
        explode(sequence(lit(0), lit(6))).as("i"),
        col("d"))
      .select(col("user_id"), date_add(col("d"), col("i")).as("wd"))
      .groupBy(col("wd"))
      .agg(countDistinct(col("user_id")).as("actives_7d"))
    val daily = act.groupBy(col("d").as("wd"))
      .agg(countDistinct(col("user_id")).as("actives_1d"))
    win.join(daily, Seq("wd"), "left")
      .select(col("wd"), coalesce(col("actives_1d"), lit(0L)).as("actives_1d"),
        col("actives_7d"))
  }

  val q213Sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |win AS (
      |  SELECT d + CAST(i AS INTEGER) AS wd, CAST(count(DISTINCT user_id) AS BIGINT)
      |    AS actives_7d
      |  FROM act, UNNEST(range(0, 7)) AS u(i)
      |  GROUP BY 1),
      |daily AS (
      |  SELECT d AS wd, CAST(count(DISTINCT user_id) AS BIGINT) AS actives_1d
      |  FROM act GROUP BY 1)
      |SELECT win.wd, coalesce(daily.actives_1d, 0) AS actives_1d,
      |  win.actives_7d
      |FROM win LEFT JOIN daily ON win.wd = daily.wd""".stripMargin

  /** Continuous-time burstiness per event type (Goh & Barabási's B =
    * (σ/μ − 1)/(σ/μ + 1) over inter-event gaps): −1 = metronome, 0 =
    * Poisson, →1 = heavy-tailed bursts. Complements q195's Fano factor
    * (which bins into days and misses sub-day burst structure): this
    * works on the raw inter-arrival times, the signal that sizes rate
    * limiters and stream buffers.
    *
    * Exactness: gaps are exact integer µs from one (user, type)-keyed
    * lag window (user-keyed — parallel, never a global sort); Σg and
    * Σg² ride DECIMAL(38) (g² ~ 9e26 overflows int64); CV² =
    * n·Σg²/(Σg)² − 1 is a fixed double tree over those exact moments,
    * and Cauchy–Schwarz makes it ≥ 0 exactly, so `sqrt` is safe. Types
    * whose users never repeat contribute no gaps and drop out. */
  def q217GapBurstiness(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("g", col("us") - lag(col("us"), 1).over(w))
      .filter(col("g").isNotNull)
    val m = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g").cast(d38)).as("sg"),
        sum(col("g").cast(d38) * col("g")).as("sg2"))
    val cv2 = col("n_gaps").cast("double") * col("sg2").cast("double") /
      (col("sg").cast("double") * col("sg").cast("double")) - lit(1.0)
    m.select(col("event_type"), col("n_gaps"),
      (col("sg").cast("double") / col("n_gaps").cast("double") / lit(1e6))
        .as("mean_gap_s"),
      when(col("sg") > 0, sqrt(cv2)).as("cv"),
      when(col("sg") > 0, (sqrt(cv2) - lit(1.0)) / (sqrt(cv2) + lit(1.0)))
        .as("burstiness"))
  }

  val q217Sql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) AS g
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |    sum(CAST(g AS HUGEINT)) AS sg,
      |    sum(CAST(g AS HUGEINT) * g) AS sg2
      |  FROM g WHERE g IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_gaps,
      |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1e6 AS mean_gap_s,
      |  sqrt(CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
      |    / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) - 1.0) AS cv,
      |  (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
      |    / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) - 1.0) - 1.0)
      |  / (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
      |    / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) - 1.0) + 1.0)
      |    AS burstiness
      |FROM m""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q211_open_orders", q211OpenOrders, Some(q211Sql)),
    QueryDef("q217_gap_burstiness", q217GapBurstiness, Some(q217Sql)),
    QueryDef("q213_rolling_actives", q213RollingActives, Some(q213Sql)),
    QueryDef("q197_cond_entropy", q197CondEntropy, Some(q197Sql)),
    QueryDef("q195_burstiness", q195Burstiness, Some(q195Sql)),
    QueryDef("q192_audience_overlap", q192AudienceOverlap, Some(q192Sql)),
    QueryDef("q188_autocorr", q188Autocorr, Some(q188Sql)),
    QueryDef("q189_dow_profile", q189DowProfile, Some(q189Sql)),
    QueryDef("q190_seq_mi", q190SeqMi, Some(q190Sql)),
    QueryDef("q179_cumulative_uniques", q179CumulativeUniques, Some(q179Sql)),
    QueryDef("q172_trend_mk", q172TrendMk, Some(q172Sql)),
    QueryDef("q164_ewma", q164Ewma, Some(q164Sql)),
    QueryDef("q131_cohort_retention", q131CohortRetention, Some(q131Sql)),
    QueryDef("q151_seq_motifs", q151SeqMotifs, Some(q151Sql)),
    QueryDef("q152_decay_attribution", q152DecayAttribution, Some(q152Sql)),
    QueryDef("q134_last_touch", q134LastTouch, Some(q134Sql)),
    QueryDef("q127_transitions", q127Transitions, Some(q127Sql)),
    QueryDef("q141_assoc_rules", q141AssocRules, Some(q141Sql)),
    QueryDef("q113_drift_timeline", q113DriftTimeline, Some(q113Sql)),
    QueryDef("q24_tumbling_window", q24Tumbling, Some(q24Sql)),
    QueryDef("q25_sliding_window", q25Sliding, Some(q25Sql)),
    QueryDef("q26_sessionize", q26Sessionize, Some(q26Sql)),
    QueryDef("q27_time_dim", q27TimeDim, Some(q27Sql)),
    QueryDef("q28_pivot", q28Pivot, Some(q28Sql)),
    QueryDef("q41_asof_lookup", q41AsOf, Some(q41Sql)),
    QueryDef("q46_session_window", q46SessionWindow, Some(q46Sql)),
    QueryDef("q53_unpivot", q53Unpivot, Some(q53Sql)),
    QueryDef("q75_scd2", q75Scd2, Some(q75Sql)),
    QueryDef("q76_funnel", q76Funnel, Some(q76Sql)),
    QueryDef("q78_range_frame", q78RangeFrame, Some(q78Sql)))

  /** UNPIVOT (wide→long): melt the per-type pivot back into rows via
    * `stack`, dropping absent combinations like SQL UNPIVOT does. */
  def q53Unpivot(s: SparkSession, dir: String): DataFrame =
    q28Pivot(s, dir)
      .select(col("user_id"), expr(
        """stack(5, 'click', click, 'view', view, 'purchase', purchase,
          |'signup', signup, 'error', error) AS (event_type, sum_value)""".stripMargin))
      .filter(col("sum_value").isNotNull)

  val q53Sql: String =
    // the oracle mirrors the MELT semantics, not a bare group-by (r8,
    // events fuzz battery): q53 is declared as the round-trip of q28's
    // explicit-values pivot, so event types outside the canonical five
    // never had a column to melt, and an all-NULL (user, type) sum is an
    // absent combination (stack row dropped by the isNotNull filter ≡
    // SQL UNPIVOT's default EXCLUDE NULLS). On the driver corpus both
    // clauses are no-ops.
    """SELECT user_id, event_type,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
      |GROUP BY user_id, event_type
      |HAVING sum(CAST(value AS DECIMAL(18,2))) IS NOT NULL""".stripMargin

  /** Type-2 slowly-changing-dimension snapshot from an event stream: each
    * per-user update opens a validity interval, closed by the user's next
    * update (`lead` over event time); the latest row stays open
    * (`valid_to_us` NULL, `is_current` true). One window shuffle on
    * user_id; `(user_id, ts)` is unique in the events table (tie-audited
    * in FIXTURES.md), so the ordering — and the hash gate — is
    * deterministic. Timestamps are integer µs for cross-engine parity. */
  def q75Scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from_us").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("value"),
        unix_micros(col("ts")).as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  val q75Sql: String =
    """SELECT user_id, value, valid_from_us,
      |  lead(valid_from_us) OVER w AS valid_to_us,
      |  lead(valid_from_us) OVER w IS NULL AS is_current
      |FROM (SELECT user_id, value, epoch_us(ts) AS valid_from_us FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us)""".stripMargin

  /** Two-step funnel: each user's first view, and the first purchase at
    * or after it — conversion flag + integer-µs lag. Two aggregates and
    * two joins, all keyed on user_id (one co-partitioned shuffle family,
    * no hints — the per-user firsts are unbounded at 100 TB, AQE picks
    * the join strategy). */
  def q76Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_view_us"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("ts_us") >= col("first_view_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("first_purchase_us"))
    firstView.join(conv, Seq("user_id"), "left")
      .select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
        col("first_purchase_us").isNotNull.as("converted"),
        (col("first_purchase_us") - col("first_view_us")).as("lag_us"))
  }

  val q76Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |fv AS (SELECT user_id, min(ts_us) AS first_view_us FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |cv AS (SELECT e.user_id, min(ts_us) AS first_purchase_us
      |       FROM e JOIN fv USING (user_id)
      |       WHERE event_type = 'purchase' AND ts_us >= first_view_us
      |       GROUP BY 1)
      |SELECT user_id, first_view_us, first_purchase_us,
      |  first_purchase_us IS NOT NULL AS converted,
      |  first_purchase_us - first_view_us AS lag_us
      |FROM fv LEFT JOIN cv USING (user_id)""".stripMargin
}
