package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation, and the one owner of the engine's hot-key dispatch.
  *
  * A shuffle join on a key with hot values (one user with 10^8 events,
  * one very common shingle) puts an entire hot key in one task. AQE's
  * skew-join split handles sort-merge joins whose INPUT is skewed;
  * `saltedJoin` is the explicit form that also works for aggregations
  * feeding joins and when AQE statistics miss.
  *
  * The adaptive dispatchers guard a different hazard: a hot key's join
  * OUTPUT (m·n pairs from KBs of input) lands in one task, which AQE
  * cannot see. Every dispatcher reads its probe, its bar and its salt
  * from here:
  *  - the bars ([[SingleTaskRows]], [[WindowFanThreshold]],
  *    [[WithinSaltThreshold]], [[FanoutPinThreshold]]), each with its
  *    calibration note;
  *  - the probes: [[dupMass]] (q38/q49/q112/q70: collapse or not) and
  *    [[maxFan]] (q142, q152, triangle orientation), each one eager
  *    one-row aggregate timed by [[graft.ProbeCost]];
  *  - the dispatched joins: [[fanJoin]] (plain join at or below the
  *    bar, [[hotKeyJoin]] on the hot keys above it) and
  *    [[expansionPlan]] (the member-expansion pin and mega-group salt).
  *
  * Salt mechanics: the skewed (left) side gets a deterministic salt in
  * [0, n); the compact right side is replicated n×; the join key becomes
  * (key, salt) so a hot key spreads over n tasks. Results are identical
  * to the unsalted join — replication guarantees every (left, right)
  * match still meets exactly once.
  */
object Skew {

  /** Inner equi-join with the left side salted `n` ways. `salt` defaults
    * to a hash of the whole left row (cheap, deterministic, uniform).
    *
    * `n = 0` (the default) sizes the salt count to the session's shuffle
    * parallelism CAPPED AT 64 — a pinned count that made sense on a
    * laptop would leave a 1000-executor cluster 8-wide on its hottest
    * key, but matching parallelism exactly is the other failure: every
    * salt replicates the ENTIRE right side, so an uncapped default on a
    * 2000-partition cluster would 2000× a right side that by the
    * documented use case ("medium dim that does not fit a broadcast") is
    * not tiny — the replication would dwarf the skew it cures. 64 salts
    * already spreads any hot key across 64 tasks (the point of
    * diminishing returns for one key); callers with wider single-key
    * hotspots pin `n` explicitly and own the replication cost. The
    * result is salt-count-INVARIANT (replication meets every match
    * exactly once), so `n` is a cost knob, not a correctness one. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      n: Int = 0, saltExpr: Option[Column] = None): DataFrame = {
    val salts = if (n > 0) n
      else math.min(64,
        math.max(2, left.sparkSession.sessionState.conf.numShufflePartitions))
    val salt = saltExpr.getOrElse(
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(salts)))
    val l = left.withColumn("_salt", salt)
    val r = right.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    l.join(r, Seq(key, "_salt"), "inner").drop("_salt")
  }

  // ---------------------------------------------------------------- bars
  //
  // Every bar bounds SINGLE-TASK work — output rows one task generates
  // under one key, or (FanoutPinThreshold) a duplication count whose
  // both error regimes cost single-task seconds. One task runs on one
  // core at any cluster size, so the constants carry unchanged to any
  // width; only per-core row throughput could move them. Each
  // crossover is flat by measurement: ±2–4× around a bar flips the
  // branch with no wall change (SCALING.md, "Threshold
  // scale-portability"). ScaleLintSpec pins their arithmetic.

  /** Largest output one task may generate under ONE join key before an
    * adaptive dispatcher switches to its skew-safe plan: the triangle
    * orientation bar, the q83 blow-up bar, the q142 boundary-fan bar,
    * and the unit [[adaptiveBuckets]] divides by. 2²⁴ ≈ 1.7·10⁷ rows
    * ≈ 1.2 s at a sort-merge join's measured ~1.4·10⁷ single-key-emit
    * rows/s (the forced-SMJ bracket); the hub-8001 PerfAB pair
    * (16M wedges on one key) ran both triangle orientations at parity,
    * and ±2× around the bar (PerfAB `tri_hub_thr_half` /
    * `tri_hub_thr_double`) flips the branch with no wall change.
    *
    * The bar is keyed on the probed OUTPUT bound alone. When the sides
    * fit a broadcast AND a hot key's stream rows are spread across
    * partitions, the plain BHJ fans out map-side in parallel (10⁹ pairs
    * in 3.3 s over 64 tasks) and the salt loses ×2.5; but a clustered
    * hot key (one parquet split) concentrates the stream regardless of
    * join strategy, and clustering is not observable at plan time. The
    * spread-BHJ waste is bounded; the clustered fat task it prevents is
    * not (×3.1 at 2.6·10⁸ pairs, ×6.6 at 10⁹; SCALING.md,
    * "BoundaryFanThreshold: a calibration record worth keeping"). */
  private[graft] val SingleTaskRows: Long = 1L << 24

  /** Worst single-user pair ENUMERATION (|P_u|·|T_u| candidates, before
    * the window filter) q152's plain join may run in one task before hot
    * users take the bucket salt — [[SingleTaskRows]]' unit at a
    * per-operator value: the window join's measured crossover sits at
    * ~2–4·10⁸ on the sf0.1 stream (PerfAB salted 7.8 s vs plain 6.8 s at
    * 4·10⁸ = 1.5× this bar on the 4·10⁴-bot fixture — flat; the plain
    * form's single task is ~5 s there and grows quadratically while the
    * salted max-task stays bucket-bounded). 2²⁸ ≈ 2.7·10⁸. The bot
    * fixture fat-tasked with a BROADCASTABLE purchase side — the
    * clustered-stream evidence behind keying on the output bound alone. */
  private[graft] val WindowFanThreshold: Long = 1L << 28

  /** Group size above which the member expansion's within-group
    * self-join is salted into bucket-pair keys (`DedupOps.expandRepPairs`)
    * and a mega group's member joins take [[hotKeyJoin]]. At the bar the
    * unsalted single key emits at most C(1024,2) ≈ 5·10⁵ pairs — ~30 ms
    * of one core at this family's measured ~1.6·10⁷ narrow pair
    * rows/core-second; above it the quadratic needs spreading. The zipf
    * straddle runs (512 vs 2048 members) show either branch within
    * noise near the bar. */
  private[graft] val WithinSaltThreshold = 1024L

  /** Two bars in one: the dup-member count above which the expansion's
    * pair stream gets its join parallelism pinned ([[expansionPlan]]),
    * and the dup mass above which q38/q49/q112/q70 collapse exact
    * duplicates before their candidate joins ([[dupMass]]).
    *
    * AQE sizes shuffle partitions by INPUT bytes, but each expansion row
    * emits mult_a·mult_b outputs, so a dup-heavy stream can fit two
    * advisory-sized partitions while generating a 10⁸-row output. The
    * pin is one full shuffle of the pair stream, so it fires only when
    * the expansion will really multiply rows: ≥ 10⁴ docs in exact-dup
    * groups (the shared-vocab regime measured 5·10⁴ members → ×100
    * fan-out), while a near-dup-only corpus (16 members at sf0.1) keeps
    * the shuffle-free plan (the pin cost +80% there). The same count
    * marks the collapse as worth its two corpus checkpoints.
    *
    * The FIX side scales with the cluster by construction (the pin is a
    * `Tables.spread` to the width target); the TRIGGER side's two error
    * regimes cost width-independent amounts: firing with nothing to
    * spread prices one shuffle of a stream the plan already shuffles,
    * and not firing just below the bar leaves per-key fan-out ≤
    * [[WithinSaltThreshold]] on input-split tasks. The zipf straddle
    * runs (5·10³ vs 2·10⁴ members) measure both branches within noise
    * of each other near the bar. */
  private[graft] val FanoutPinThreshold = 10000L

  /** FLOOR bucket count of every hot-key salt ([[hotKeyJoin]] and the
    * within-group bucket-pair self-join of `DedupOps.expandRepPairs`).
    * 64 × the ~1-task-second per-key output bound keeps the worst
    * post-salt bucket under ~2% of a 32-core minute while the exploded
    * side's input inflation (×64 on hot keys only) stays trivial. */
  private[graft] val SaltBuckets = 64L

  /** Salt bucket count from the PROBED worst single-key output. A fixed
    * B caps nothing: the worst bucket still carries ~worst/B rows, so a
    * 10⁵-member group (5·10⁹ pairs) would put ~1.5·10⁸ rows (≈11 s) in
    * ONE task at B = 64. Solving worst/B ≤ [[SingleTaskRows]] gives
    * B = ⌈worst / 2²⁴⌉, floored at [[SaltBuckets]] (every measured
    * corpus up to 32× the within bar derives the floor) and capped at
    * 4096 (reached only past worst ≈ 7·10¹⁰ single-key rows; beyond it
    * the explode-side inflation — B copies of each hot row — would rival
    * the output itself). */
  private[graft] def adaptiveBuckets(worstKeyRows: Double): Long =
    math.min(4096L, math.max(SaltBuckets,
      math.ceil(worstKeyRows / SingleTaskRows.toDouble).toLong))

  // -------------------------------------------------------------- probes

  /** Duplicate mass of `df` under `fingerprint`: rows − distinct
    * fingerprints, in ONE aggregate timed as `probe`. The distinct count
    * is an rsd-0.05 HLL — register count drives the per-row cost
    * (0.30 s vs 1.08 s at rsd 0.01 for one scan at sf0.1). Its error is
    * two-sided, ~5% of distinct contents: phantom mass on a dup-free
    * corpus can only pick the collapsed plan (correct, mildly slower),
    * and an understated mass keeps a corpus just above
    * [[FanoutPinThreshold]] on the raw plan, whose pain is quadratic in
    * copies per content and measured indistinguishable from the
    * collapsed plan until well past the bar. rows − distinct counts dup
    * members minus one per group, a lower bound on the expansion pin's
    * Σ mult within 2×; it falls out of the one aggregate, where Σ mult
    * would price a second groupBy onto every dup-light corpus. */
  private[graft] def dupMass(probe: String, df: DataFrame,
      fingerprint: Column): Long = {
    val r = graft.ProbeCost.timed(probe) {
      df.agg(count(lit(1)).as("n"),
        approx_count_distinct(fingerprint, 0.05).as("d")).head()
    }
    r.getLong(0) - r.getLong(1)
  }

  /** Worst single-key output of the plain join whose per-key side counts
    * are the columns `a` and `b` of `counts`: max(a·b), in ONE aggregate
    * timed as `probe`. Double math, so a pathological key can't wrap the
    * comparison negative; an empty `counts` reads as 0. */
  private[graft] def maxFan(probe: String, counts: DataFrame, a: String,
      b: String): Double = {
    val mw = graft.ProbeCost.timed(probe) {
      counts.agg(max(col(a).cast("double") * col(b)).as("mw")).head()
    }
    if (mw.isNullAt(0)) 0.0 else mw.getDouble(0)
  }

  // ---------------------------------------------------- dispatched joins

  /** Inner equi-join `bucketed ⋈ replicate` on `keys`, dispatched on its
    * probed worst single-key output. `counts` carries `keys` and the
    * per-key side counts `a` (bucketed) and `b` (replicate); [[maxFan]]
    * probes it as `probe`. At or below `bar` the plain
    * `bucketed.join(replicate, keys)` runs. Above it the keys whose a·b
    * passes the bar are materialized once as the hot roster — it feeds
    * four anti/semi joins, and a lazy roster would re-run the `counts`
    * aggregation inside every broadcast build — and only they take
    * [[hotKeyJoin]]'s salt, with B from [[adaptiveBuckets]] of the
    * probed max. Both arms return the plain join's row multiset. */
  private[graft] def fanJoin(bucketed: DataFrame, replicate: DataFrame,
      bucketOf: Column, keys: Seq[String], counts: DataFrame, a: String,
      b: String, probe: String, bar: Long): DataFrame = {
    val worst = maxFan(probe, counts, a, b)
    if (worst <= bar.toDouble) bucketed.join(replicate, keys)
    else {
      val hot = counts.filter(col(a).cast("double") * col(b) > bar.toDouble)
        .select(keys.map(col): _*).localCheckpoint(true)
      hotKeyJoin(replicate, bucketed, bucketOf, keys, hot,
        adaptiveBuckets(worst), "inner")
    }
  }

  /** How a collapsed corpus's representatives expand to their members:
    * `pin` — the pair stream's expansion join gets its width pinned
    * ([[pinned]]); `big` — the roster of groups whose members take the
    * mega-group salt, `buckets` ways (None: no group is that large). */
  private[graft] final case class ExpansionPlan(pin: Boolean,
      big: Option[DataFrame], buckets: Long) {

    /** `stream` spread to the width target on `key` when [[pin]]. */
    def pinned(stream: DataFrame, key: String): DataFrame =
      if (pin) graft.Tables.spread(stream, col(key)) else stream

    /** `stream` joined (`inner` or `left`) on `key` to the member roster
      * `members` (rep_id, doc_id), emitting the member as `out`. The
      * members of a [[big]] group are bucketed by their id: one mega
      * group would otherwise replicate every member under one join key
      * (#pairs(rep) × mult rows in one task — 134 s at zipf 3·10⁴). */
    def join(stream: DataFrame, members: DataFrame, key: String,
        out: String, joinType: String): DataFrame = {
      val m = members.select(col("rep_id").as(key), col("doc_id").as(out))
      big match {
        case None => stream.join(m, Seq(key), joinType)
        case Some(ids) => hotKeyJoin(stream, m, xxhash64(col(out)), Seq(key),
          ids.select(col("rep_id").as(key)), buckets, joinType)
      }
    }
  }

  /** The member-expansion plan from ONE aggregate (timed as
    * `expansion_probe`) over a collapse's already-materialized `groups`
    * frame (rep_id, mult): dup members = Σ mult over groups with
    * mult ≥ 2 pin past `pinBar`; groups with mult > `withinBar` are
    * salted, B = [[adaptiveBuckets]] of the largest group's mult², or
    * `forceBuckets` when positive. The bar parameters exist for the
    * straddle specs; production callers take the defaults. */
  private[graft] def expansionPlan(groups: DataFrame,
      pinBar: Long = FanoutPinThreshold, withinBar: Long = WithinSaltThreshold,
      forceBuckets: Long = 0L): ExpansionPlan = {
    val r = graft.ProbeCost.timed("expansion_probe") {
      groups.agg(sum(when(col("mult") >= 2L, col("mult"))),
        max(col("mult"))).head()
    }
    val dupMembers = if (r.isNullAt(0)) 0L else r.getLong(0)
    val maxMult = if (r.isNullAt(1)) 0L else r.getLong(1)
    ExpansionPlan(dupMembers > pinBar,
      if (maxMult > withinBar)
        Some(groups.filter(col("mult") > withinBar).select(col("rep_id")))
      else None,
      if (forceBuckets > 0) forceBuckets
      else adaptiveBuckets(maxMult.toDouble * maxMult.toDouble))
  }

  /** Equi-join on `keys` whose HOT keys (the rows of `hot`, a roster
    * with exactly the `keys` columns) take a bucket salt; every other
    * key runs the plain `coldJoinType` join (`inner` or `left`, with
    * `replicate` as the left side). The result is the plain join's row
    * multiset, for any `buckets` ≥ 1.
    *
    * Why: a hot key's join OUTPUT (m·n pairs from KBs of input) lands in
    * one task, and AQE's skew split keys off INPUT bytes, so it never
    * fires. The salt: each `bucketed` row of a hot key lands in bucket
    * `pmod(bucketOf, buckets)`, each `replicate` row explodes to every
    * bucket, and the join keys on (keys, bucket) — every hot pair meets
    * exactly once, in its bucketed row's bucket, spread over `buckets`
    * keys. The salted join is INNER, so under `left` every hot key must
    * have `bucketed` rows (the callers' rosters are probed from both
    * sides or from the bucketed side alone).
    *
    * One policy for every hot-key salt in the engine:
    *  - a round-robin spread BEFORE the explode: the hot slice is an
    *    AQE-coalesced semi-join output, so the ×B explode would multiply
    *    rows map-side on few cores (measured at zipf 10⁵: 8.2 s on one
    *    core for a 105k → 3·10⁷-row explode);
    *  - a width pin AFTER it (`Tables.spread` on keys… and the bucket):
    *    AQE would re-coalesce the byte-tiny exploded input right back
    *    into one task;
    *  - `shuffle_hash` on the bucketed side: without it AQE may
    *    BROADCAST a side, swallowing the pin inside a BroadcastExchange
    *    and streaming the whole fan-out on the other side's few
    *    partitions (measured 4× the plain plan at 10⁹ pairs), and a
    *    sort-merge join's M:N inner loop copies buffered rows per
    *    candidate (1.8·10⁶ pairs/core-s vs the hash join's ~8·10⁷ on the
    *    q152 stage). The build side is safe by construction: the salt
    *    caps each (key, bucket) build group at ~1/B of the hot key. */
  private[graft] def hotKeyJoin(replicate: DataFrame, bucketed: DataFrame,
      bucketOf: Column, keys: Seq[String], hot: DataFrame, buckets: Long,
      coldJoinType: String): DataFrame = {
    val cold = replicate.join(hot, keys, "left_anti")
      .join(bucketed.join(hot, keys, "left_anti"), keys, coldJoinType)
    val exploded = graft.Tables.spread(replicate.join(hot, keys, "left_semi"))
      .withColumn("_bkt", explode(sequence(lit(0L), lit(buckets - 1))))
    val salted = graft.Tables.spread(exploded, (keys :+ "_bkt").map(col): _*)
      .join(bucketed.join(hot, keys, "left_semi")
        .withColumn("_bkt", pmod(bucketOf, lit(buckets)))
        .hint("shuffle_hash"), keys :+ "_bkt")
      .drop("_bkt")
    cold.unionByName(salted)
  }

  /** Salted join as a declared, oracle-checked query: the events fact
    * (event_type has ~5 values — every key is a hot key) joins a 5-row
    * event-type dim through [[saltedJoin]] with 8 salts, then aggregates.
    * The salt spreads each hot key over 8 tasks in the join shuffle;
    * because replication guarantees every (left, right) match still meets
    * exactly once, the result provably equals the plain join — which IS
    * the oracle, same contract as q71's bloom gate. (With a dim this
    * small Spark would broadcast and salting would be moot; the declared
    * query exists to keep the shuffle-side mechanics under the hash
    * gate — at 100 TB the right side is a medium dim that does not fit a
    * broadcast but has hot keys on the left.) The declared query PINS 8
    * salts so the plan under the hash gate is stable; production callers
    * take the parallelism-sized default, and the result is the same
    * either way (salt-count invariance, spec'd). */
  def q94SaltedJoin(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val e = graft.Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), col("value"))
    val dim = graft.Tables.events(s, dir)
      .select(col("event_type")).distinct()
      .withColumn("type_group",
        when(col("event_type").isin("purchase", "signup"), "conversion")
          .otherwise("engagement"))
    saltedJoin(e, dim, "event_type", 8)
      .groupBy(col("type_group"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.fsum(col("value")).as("sum_value"))
  }

  /** The oracle is the join-free aggregate, which would KEEP null-key
    * rows a real (salted or not) inner join drops — so it filters them
    * explicitly to mirror inner-join semantics. No-op on the driver's
    * null-free corpus; required for parity under the events fuzz. */
  val q94Sql: String =
    """SELECT CASE WHEN event_type IN ('purchase', 'signup')
      |         THEN 'conversion' ELSE 'engagement' END AS type_group,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_type IS NOT NULL
      |GROUP BY 1""".stripMargin

  def defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("q94_salted_join", q94SaltedJoin, Some(q94Sql)))
}
