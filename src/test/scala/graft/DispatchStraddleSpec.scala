package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import operators.DedupOps

/** Threshold-straddle fuzz for the adaptive skew dispatchers (r11,
  * VERDICT task 6): every dispatcher picks a plan from a cheap probe,
  * and a probe bug silently picks the slow-but-correct or
  * fast-but-skewed plan with no test catching it. Each battery below
  * runs 10 seeded random corpora, probes the dispatcher's OWN metric,
  * swings the threshold one unit around the probed value so the two
  * runs differ ONLY in which branch fires, and asserts BOTH that the
  * outputs are identical across the boundary AND (via a plan/job
  * witness) that the intended branch actually fired — so a probe that
  * stops firing, or a branch that drifts semantically, fails here
  * before it costs a round of bench archaeology.
  *
  * Complementary coverage: GraphTextSpec's headTailPairs test straddles
  * the boundary bar the same way (plan witness +
  * pin-width assertion); OperatorSpec proves salted-vs-unsalted
  * exactness at fixed thresholds; ScaleLintSpec pins the constants'
  * documented single-task bounds.
  */
class DispatchStraddleSpec extends SparkTestBase {

  private val seeds = 1 to 10

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def hasExplode(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("Generate explode")

  private def hasPin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.optNumPartitions.contains(spark.sparkContext.defaultParallelism)
      case _ => false
    }

  private def hasCheckpointLeaf(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  /** Random dup corpus: one "mega" group of size m plus `extra` groups
    * of random size 1–4, every doc ≥ 3 tokens (within-eligible). */
  private def dupCorpus(seed: Int, m: Int): (DataFrame, Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val mega = (0 until m).map(i => (i.toLong, "alpha beta gamma delta"))
    val extra = (0 until 6).flatMap { g =>
      val size = 1 + rnd.nextInt(4)
      val text = Seq.fill(3 + rnd.nextInt(4))(
        s"w${rnd.nextInt(8)}").mkString(" ")
      (0 until size).map(j => ((g + 1) * 1000000L + j, text))
    }
    // distinct-text groups can COLLIDE (two extra groups drawing the
    // same token sequence merge into one fingerprint group); dup
    // members are therefore computed from the collapse, not the intent
    val df = (mega ++ extra).toDF("doc_id", "norm")
    val dupMembers = df.groupBy(col("norm")).count()
      .filter(col("count") >= 2).agg(sum(col("count"))).head().getLong(0)
    (df, dupMembers)
  }

  test("within-salt dispatch: identical pairs across the bar, bucket branch witnessed (10 seeds)") {
    import spark.implicits._
    for (seed <- seeds) {
      val m = 16 + new scala.util.Random(seed).nextInt(48)
      val (corpus, _) = dupCorpus(seed, m)
      val c = DedupOps.collapseExact(corpus)
      // one cross pair touching the mega group, q36-style (no mults)
      val pairs = Seq((0L, 1000000L)).toDF("doc_a", "doc_b")
      def run(thr: Long) = DedupOps.expandRepPairs(
        pairs, c, Seq.empty, col("n_toks") >= 3L, saltThreshold = thr)
      val salted = run(m - 1L) // mega mult m > m-1: bucket branch
      val plainR = run(m.toLong) // not >: single-key branch
      assert(hasExplode(salted), s"seed $seed: salt branch did not explode buckets")
      assert(!hasExplode(plainR), s"seed $seed: plain branch exploded buckets")
      assert(rows(salted) == rows(plainR), s"seed $seed: pair sets differ across the salt bar")
    }
  }

  test("adaptive salt bucket count: identical output across forced B values (within/cross, boundary, window salts)") {
    import spark.implicits._
    // B is a pure SPREADING parameter: each member/row lands in exactly
    // one bucket and each unordered pair meets in exactly one (bucket,
    // target) key, for ANY B ≥ 1 — so the derived count
    // (Skew.adaptiveBuckets, r12) may never change output. Small odd B
    // values stress the bucket-pair enumeration (explode ranges,
    // same-bucket ordering disjunction) harder than the 64 floor. The
    // boundary and window salts take B only through Skew.hotKeyJoin,
    // whose parity across B is spec'd once, at the helper
    // (PropertySpec); here they keep their salted-vs-plain parity.
    for (seed <- seeds.take(2)) {
      val m = 16 + new scala.util.Random(seed + 900).nextInt(48)
      val (corpus, _) = dupCorpus(seed + 900, m)
      val c = DedupOps.collapseExact(corpus)
      val pairs = Seq((0L, 1000000L)).toDF("doc_a", "doc_b")
      def run(b: Long) = DedupOps.expandRepPairs(
        pairs, c, Seq.empty, col("n_toks") >= 3L,
        saltThreshold = m - 1L, forceBuckets = b)
      val derived = rows(run(0L))
      assert(derived == rows(run(3L)) && derived == rows(run(7L)),
        s"seed $seed: within/cross expansion output differs across B")
    }
    // boundary salt: 30 head==tail copies, bar forced to 1 → salt fires
    val viral = spark.range(0, 30L)
      .select(col("id").as("doc_id"), lit("alpha beta gamma").as("text"))
      .unionByName(spark.range(100L, 140L).select(col("id").as("doc_id"),
        concat(lit("u"), col("id"), lit(" v"), col("id"), lit(" w"),
          col("id")).as("text")))
    val htSalted = rows(DedupOps.headTailPairs(viral, 3, fanThreshold = 1L))
    val htPlain = rows(DedupOps.headTailPairs(viral, 3,
      fanThreshold = Long.MaxValue))
    assert(htPlain == htSalted, "boundary salt output differs from the plain join")
    // window salt: one bot user (50 purchases x 60 touches), bar below
    // its pair product → salt fires
    val ev = (
      (0 until 50).map(i => (Option(7L), 1000000L + i * 1000L, "purchase")) ++
      (0 until 60).map(i => (Option(7L), 999000L - i * 7L, "click")) ++
      (0 until 40).map(i => (Option(100L + i), 5000L + i, "view")) ++
      Seq((None: Option[Long], 1L, "purchase"))
    ).toDF("user_id", "us", "event_type")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        col("event_type"))
    val decaySalted = rows(operators.EventOps.decayAttribution(ev,
      fanThreshold = 2999L))
    val decayPlain = rows(operators.EventOps.decayAttribution(ev,
      fanThreshold = Long.MaxValue))
    assert(decayPlain == decaySalted, "window salt output differs from the plain join")
  }

  test("fan-out pin dispatch: identical pairs across the bar, width pin witnessed (10 seeds)") {
    import spark.implicits._
    for (seed <- seeds) {
      val m = 16 + new scala.util.Random(seed + 100).nextInt(48)
      val (corpus, dupMembers) = dupCorpus(seed + 100, m)
      val c = DedupOps.collapseExact(corpus)
      // q37-style pair stream WITH multiplicities: the pin only
      // considers streams that declare them
      val pairs = Seq((0L, 1000000L, m.toLong, 1L))
        .toDF("doc_a", "doc_b", "mult_a", "mult_b")
      def run(thr: Long) = DedupOps.expandRepPairs(
        pairs, c, Seq.empty, col("n_toks") >= 3L, pinThreshold = thr)
      val pinned = run(dupMembers - 1) // dupMembers > thr: pin fires
      val free = run(dupMembers)
      assert(hasPin(pinned), s"seed $seed: pin branch planned no defaultParallelism repartition")
      assert(!hasPin(free), s"seed $seed: free branch planned a width pin")
      assert(rows(pinned) == rows(free), s"seed $seed: pair sets differ across the pin bar")
    }
  }

  test("contamination dispatch: identical rows across the bar, collapse branch witnessed (10 seeds)") {
    import spark.implicits._
    for (seed <- seeds) {
      val (corpus, _) = dupCorpus(seed + 200, 24)
      val normed = corpus // already (doc_id, norm), ≥3 tokens each
      val isBench = pmod(col("doc_id"), lit(3)) === 0L
      // the dispatcher's own probe metric, recomputed verbatim
      val r = normed.filter(col("norm").isNotNull)
        .agg(count(lit(1)).as("n"),
          approx_count_distinct(xxhash64(col("norm")), 0.05).as("d")).head()
      val dupMass = r.getLong(0) - r.getLong(1)
      def run(thr: Long) = operators.CurationOps.contaminationAuto(
        normed, isBench, minShared = 2L, pinThreshold = thr)
      val collapsed = run(dupMass - 1) // dupMass > thr: collapsed branch
      val raw = run(dupMass)
      assert(hasCheckpointLeaf(collapsed),
        s"seed $seed: collapsed branch planned no checkpoint leaf")
      assert(!hasCheckpointLeaf(raw), s"seed $seed: raw branch planned a checkpoint leaf")
      assert(rows(collapsed) == rows(raw),
        s"seed $seed: contamination rows differ across the dispatch bar")
    }
  }

  test("q152 window-join dispatch: identical attribution across the bar, salt branch witnessed (10 seeds)") {
    import spark.implicits._
    // pin the SMJ regime: a tiny test corpus would otherwise plan
    // broadcast joins on the plain branch — the dispatch fires on the
    // threshold either way, but the bars are calibrated for (and the
    // witnesses most meaningful in) the non-broadcast regime
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for (seed <- seeds) {
      val rnd = new scala.util.Random(seed + 400)
      // a bot user (id 7) with interleaved purchases/touches inside one
      // day, plus background users with light activity
      val base = 1700000000000000L // µs epoch
      val bot = (0 until 40 + rnd.nextInt(40)).map { i =>
        (9000L + i, base + i * 60000000L, 7L,
          if (i % 2 == 0) "purchase" else Seq("click", "view", "signup")(rnd.nextInt(3)))
      }
      val bg = (0 until 30).map { i =>
        (100L + i, base + rnd.nextInt(86400) * 1000000L, 10L + rnd.nextInt(5),
          Seq("purchase", "click", "view", "signup")(rnd.nextInt(4)))
      }
      val ev = (bot ++ bg)
        .toDF("event_id", "us", "user_id", "event_type")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), col("event_type"),
          lit(1.0d).as("value"), lit("{}").as("props"))
      // the dispatcher's own probe metric, recomputed verbatim
      val pt = ev.filter(col("user_id").isNotNull && col("event_type")
          .isin("purchase", "click", "view", "signup"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
          sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).as("nt"))
      val maxFan = pt.agg(max(col("np") * col("nt"))).head().getLong(0)
      def run(thr: Long) = operators.EventOps.decayAttribution(ev, thr)
      val salted = run(maxFan - 1)
      val plainR = run(maxFan)
      assert(hasExplode(salted), s"seed $seed: salt branch did not explode buckets")
      assert(!hasExplode(plainR), s"seed $seed: plain branch exploded buckets")
      assert(hasPin(salted), s"seed $seed: salt branch planned no width pin")
      assert(rows(salted) == rows(plainR),
        s"seed $seed: attribution differs across the dispatch bar")
    }
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  /** Random quantized-vector corpus: one duplicated vector (m copies)
    * plus distinct background vectors across 3 labels. */
  private def vecCorpus(seed: Int, m: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextInt(2000) / 1000f - 1f)
    val dup = vec() match { case v =>
      (0 until m).map(i => (i.toLong, Option(1), v)) }
    val bg = (0 until 25).map(i =>
      (1000L + i, Option(rnd.nextInt(3)), vec()))
    // a NULL-label dup group: the raw within-label join drops these
    // (null != null), and the collapsed branch must too — the q38
    // null-semantics seam (found r11, fixed before any corpus hit it).
    // Option-typed labels keep the frame a LocalRelation so the
    // checkpoint-leaf branch witness stays meaningful.
    val nullDup = vec() match { case v =>
      (0 until 6).map(i => (2000L + i, None: Option[Int], v)) }
    (dup ++ bg ++ nullDup).toDF("vec_id", "label", "q")
      .withColumn("n2", graft.functions.VectorExprs.quantized_norm2(col("q")))
      .filter(col("n2") > 0)
  }

  test("q49 embedding-LSH dispatch: identical pairs across the bar, collapse branch witnessed (10 seeds)") {
    for (seed <- seeds) {
      val m = 8 + new scala.util.Random(seed + 500).nextInt(24)
      val e = vecCorpus(seed + 500, m).select("vec_id", "q", "n2")
      val dupMass = operators.Skew.dupMass("vector_dup_mass", e, xxhash64(col("q")))
      def run(thr: Long) = DedupOps.embeddingLshAuto(e, pinThreshold = thr)
      val collapsed = run(dupMass - 1)
      val raw = run(dupMass)
      assert(hasCheckpointLeaf(collapsed),
        s"seed $seed: collapse branch planned no checkpoint leaf")
      assert(!hasCheckpointLeaf(raw), s"seed $seed: raw branch planned a checkpoint leaf")
      assert(rows(collapsed) == rows(raw),
        s"seed $seed: q49 pairs differ across the dispatch bar")
    }
  }

  test("q38 within-label dispatch: identical pairs across the bar, collapse branch witnessed (10 seeds)") {
    for (seed <- seeds) {
      val m = 8 + new scala.util.Random(seed + 600).nextInt(24)
      val e = vecCorpus(seed + 600, m)
      // the dispatch probes the null-label-FILTERED frame (r12, ADVICE:
      // null-label dup mass is invisible to the collapse — the raw join
      // drops those rows and the collapsed branch excludes them — so it
      // must not count toward the metric); the straddle must swing
      // around the same quantity or the ±1 bracketing is off by the
      // seeded null-dup group's mass
      val dupMass = operators.Skew.dupMass("vector_dup_mass",
        e.filter(col("label").isNotNull), xxhash64(col("label"), col("q")))
      def run(thr: Long) = DedupOps.q38Auto(e, pinThreshold = thr)
      val collapsed = run(dupMass - 1)
      val raw = run(dupMass)
      assert(hasCheckpointLeaf(collapsed),
        s"seed $seed: collapse branch planned no checkpoint leaf")
      assert(!hasCheckpointLeaf(raw), s"seed $seed: raw branch planned a checkpoint leaf")
      assert(rows(collapsed) == rows(raw),
        s"seed $seed: q38 pairs differ across the dispatch bar")
    }
  }

  test("q112 decontam dispatch: identical rows across the bar, weighted branch witnessed (10 seeds)") {
    for (seed <- seeds) {
      val m = 8 + new scala.util.Random(seed + 700).nextInt(24)
      val e = vecCorpus(seed + 700, m).select("vec_id", "q", "n2")
      // per-COPY membership: the dup content's copies land on BOTH
      // sides, exercising the rep-level self-pair (cos = 1.0) path
      val isEval = pmod(col("vec_id"), lit(3)) === 0L
      val dupMass = operators.Skew.dupMass("vector_dup_mass", e, xxhash64(col("q")))
      def run(thr: Long) =
        operators.SimilarityOps.q112Auto(e, isEval, pinThreshold = thr)
      val weighted = run(dupMass - 1)
      val raw = run(dupMass)
      assert(hasCheckpointLeaf(weighted),
        s"seed $seed: weighted branch planned no checkpoint leaf")
      assert(!hasCheckpointLeaf(raw), s"seed $seed: raw branch planned a checkpoint leaf")
      assert(rows(weighted) == rows(raw),
        s"seed $seed: q112 rows differ across the dispatch bar")
    }
  }

  test("q83 blow-up dispatch: identical counts across the bar, branch witnessed by the probe registry (10 seeds)") {
    import spark.implicits._
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed + 900)
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val m = 3 + rnd.nextInt(12)
      // a dup group of m copies (clique) plus a near-dup singleton of the
      // same text (cross rep pair) and an unrelated group
      val mega = spark.range(0, m).select(col("id").as("doc_id"),
        lit(s"$base word$seed").as("norm"))
      val near = Seq(
        (500L, s"$base word$seed tail"),
        (600L, s"$base other$seed wholly different ending here")).toDF("doc_id", "norm")
      val c = DedupOps.collapseExact(mega.unionByName(near))
      // the dispatcher's probe metric, recomputed verbatim
      val rp = DedupOps.repPairsMinhash(c)
      val gw = c.groups.filter(col("n_toks") >= 3L)
        .select(col("rep_id"), col("mult").cast("double").as("m"))
      val clique = Option(gw
        .agg(sum(col("m") * (col("m") - 1) * (col("m") - 2) / 6)).head.get(0))
        .map(_.asInstanceOf[Double]).getOrElse(0.0)
      val cross = Option(rp
        .join(gw.select(col("rep_id").as("doc_a"), col("m").as("ma")), Seq("doc_a"))
        .join(gw.select(col("rep_id").as("doc_b"), col("m").as("mb")), Seq("doc_b"))
        .agg(sum(col("ma") * (col("ma") - 1) / 2 * col("mb") +
          col("mb") * (col("mb") - 1) / 2 * col("ma"))).head.get(0))
        .map(_.asInstanceOf[Double]).getOrElse(0.0)
      val mass = (clique + cross).toLong
      assert(mass >= 1, s"seed $seed: fixture has no blow-up mass (m=$m)")
      // witness: the rep-graph wedge probe only fires on the closed
      // branch (triangleTriples), so the ProbeCost registry IS the
      // branch witness — a plan leaf can't be (both branches return
      // checkpointed frames)
      def reps(body: => DataFrame): (DataFrame, Long) = {
        val before = ProbeCost.snapshot().getOrElse("rep_wedge_product", (0L, 0.0))._1
        val df = body
        (df, ProbeCost.snapshot().getOrElse("rep_wedge_product", (0L, 0.0))._1 - before)
      }
      val (enumd, enumRep) = reps(DedupOps.q83Core(c, mass))
      val (closed, closedRep) = reps(DedupOps.q83Core(c, mass - 1))
      assert(enumRep == 0, s"seed $seed: enumerated branch ran the rep-graph probe")
      assert(closedRep == 1, s"seed $seed: closed branch skipped the rep-graph probe")
      assert(rows(enumd) == rows(closed),
        s"seed $seed: q83 counts differ across the dispatch bar (m=$m, mass=$mass)")
    }
  }

  test("triangle orientation dispatch: identical counts across the bar, branch witnessed by job shape (10 seeds)") {
    import spark.implicits._
    def jobs[A](body: => A): (A, Int) = {
      val w = QueryTrace.during(spark)(body)
      (w.value, w.jobs)
    }
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed + 300)
      val hub = 4 + rnd.nextInt(8)
      // a hub star (wedges concentrate on the hub) + random tail edges
      val star = (1 to hub).map(i => (0L, i.toLong))
      val tail = (0 until 10).map(_ =>
        (20L + rnd.nextInt(8), 30L + rnd.nextInt(8))).distinct
      val edges = (star ++ tail).filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
        .toDF("doc_a", "doc_b")
      // the dispatcher's probe metric, recomputed verbatim
      val mw = edges.groupBy(col("doc_b").as("v")).agg(count(lit(1)).as("i"))
        .join(edges.groupBy(col("doc_a").as("v")).agg(count(lit(1)).as("o")), Seq("v"))
        .agg(max(col("i").cast("double") * col("o"))).head()
      val maxWedge = if (mw.isNullAt(0)) 0L else mw.getDouble(0).toLong
      if (maxWedge > 1) {
        val (idB, idJobs) = jobs(DedupOps.trianglesAdaptive(edges, maxWedge))
        val (degB, degJobs) = jobs(DedupOps.trianglesAdaptive(edges, maxWedge - 1))
        // witness: the degree branch materializes the oriented frame
        // (an extra checkpoint) — strictly more jobs than the id branch
        assert(degJobs > idJobs,
          s"seed $seed: degree branch ($degJobs jobs) not heavier than id branch ($idJobs)")
        assert(rows(idB) == rows(degB),
          s"seed $seed: rooted counts differ across the orientation bar")
      }
    }
  }
}
