package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities.
  *
  * A shuffle join on a key with hot values (one user with 10^8 events,
  * one very common shingle) puts an entire hot key in one task. AQE's
  * skew-join split handles sort-merge joins; `saltedJoin` is the explicit
  * form that also works for aggregations feeding joins and when AQE
  * statistics miss (e.g. exploded intermediates at 100 TB).
  * [[hotKeyJoin]] is the adaptive dispatchers' form: it salts only the
  * keys a probe found hot, with the bucket count from [[adaptiveBuckets]].
  *
  * Mechanics: the skewed (left) side gets a deterministic salt in
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

  /** Largest output one task may generate under ONE join key before an
    * adaptive dispatcher switches to its skew-safe plan: the triangle
    * orientation bar, the q83 blow-up bar, the q142 boundary-fan bar,
    * and the unit [[adaptiveBuckets]] divides by. 2²⁴ ≈ 1.7·10⁷ rows
    * ≈ 1.2 s at a sort-merge join's measured ~1.4·10⁷ single-key-emit
    * rows/s (the r11 forced-SMJ bracket); the hub-8001 PerfAB pair
    * (16M wedges on one key) ran both triangle orientations at parity.
    *
    * SCALE PORTABILITY (r11): denominated in single-task OUTPUT ROWS, a
    * per-CORE quantity, so the constant carries unchanged to any cluster
    * width; only per-core row throughput could move it. The crossover
    * is flat by measurement: ±2× around the bar flips the branch with
    * no wall change (PerfAB `tri_hub_thr_half` / `tri_hub_thr_double`),
    * and the wins only appear an order of magnitude past it.
    *
    * The bar is keyed on the probed OUTPUT bound alone. The r11
    * calibration detour, kept on record: when the sides fit a broadcast
    * AND a hot key's stream rows are spread across partitions, the plain
    * BHJ fans out map-side in parallel (10⁹ pairs in 3.3 s over 64
    * tasks) and the salt loses ×2.5. A first cut moved the boundary bar
    * to 2²⁶ from that measurement, a second guarded on broadcastability;
    * both were wrong — the q152 bot fixture fat-tasked (max-task ≈ wall)
    * with a BROADCASTABLE side, because a clustered hot key (one parquet
    * split) concentrates the stream regardless of join strategy, and
    * clustering is not observable at plan time. The spread-BHJ waste is
    * bounded; the clustered fat task it prevents is not (×3.1 at
    * 2.6·10⁸ pairs, ×6.6 at 10⁹, SCALING.md r11). */
  private[graft] val SingleTaskRows: Long = 1L << 24

  /** FLOOR bucket count of every hot-key salt ([[hotKeyJoin]] and the
    * within-group bucket-pair self-join of `DedupOps.expandRepPairs`).
    * 64 × the ~1-task-second per-key output bound keeps the worst
    * post-salt bucket under ~2% of a 32-core minute while the exploded
    * side's input inflation (×64 on hot keys only) stays trivial. */
  private[graft] val SaltBuckets = 64L

  /** Salt bucket count from the PROBED worst single-key output (r12). A
    * fixed B caps nothing: the worst bucket still carries ~worst/B rows,
    * so a 10⁵-member group (5·10⁹ pairs) would put ~1.5·10⁸ rows (≈11 s)
    * in ONE task at B = 64. Solving worst/B ≤ [[SingleTaskRows]] gives
    * B = ⌈worst / 2²⁴⌉, floored at [[SaltBuckets]] (every corpus measured
    * through r11 derives the floor, so their plans are unchanged) and
    * capped at 4096 (reached only past worst ≈ 7·10¹⁰ single-key rows;
    * beyond it the explode-side inflation — B copies of each hot row —
    * would rival the output itself). */
  private[graft] def adaptiveBuckets(worstKeyRows: Double): Long =
    math.min(4096L, math.max(SaltBuckets,
      math.ceil(worstKeyRows / SingleTaskRows.toDouble).toLong))

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
    *  - a round-robin spread BEFORE the explode (r12): the hot slice is
    *    an AQE-coalesced semi-join output, so the ×B explode would
    *    multiply rows map-side on few cores (measured at zipf 10⁵: 8.2 s
    *    on one core for a 105k → 3·10⁷-row explode);
    *  - a width pin AFTER it (`Tables.spread` on keys… and the bucket):
    *    AQE would re-coalesce the byte-tiny exploded input right back
    *    into one task (the r10 within-salt lesson);
    *  - `shuffle_hash` on the bucketed side (r11): without it AQE may
    *    BROADCAST a side, swallowing the pin inside a BroadcastExchange
    *    and streaming the whole fan-out on the other side's few
    *    partitions (measured 4× the plain plan at 10⁹ pairs), and a
    *    sort-merge join's M:N inner loop copies buffered rows per
    *    candidate (1.8·10⁶ pairs/core-s vs the hash join's ~8·10⁷ on the
    *    q152 stage). The build side is safe by construction: the salt
    *    caps each (key, bucket) build group at ~1/B of the hot key.
    *
    * Callers keep their probe, threshold and roster materialization,
    * and run their plain join themselves when the probe finds no hot
    * key. */
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
