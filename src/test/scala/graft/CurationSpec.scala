package graft

import graft.operators.CurationOps
import org.apache.spark.sql.functions._

/** Semantic properties of the curation operators that the hash-vs-oracle
  * gate can't express: redaction completeness, chunk coverage, bloom
  * no-false-negative equality, Morton-key bijectivity, sample rates.
  */
class CurationSpec extends SparkTestBase {

  test("q67: redacted text contains no residual e-mail or phone matches") {
    val r = CurationOps.q67PiiRedact(spark, sfDir)
    assert(r.filter(col("n_emails") < 1 || col("n_phones") < 1).isEmpty)
    val residual = r.filter(
      regexp_count(col("redacted"), lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")) > 0 ||
        regexp_count(col("redacted"), lit("[0-9]{3}-[0-9]{4}")) > 0)
    assert(residual.isEmpty)
    assert(r.filter(col("redacted").contains("<EMAIL>")).count() == r.count())
  }

  test("q70 collapsed form == raw form, through every expansion path") {
    import spark.implicits._
    // a corpus exercising all three output branches: a dup group with
    // mixed bench membership (within + fanning cross sides), singleton
    // docs sharing grams (direct path), a dup group whose single bench
    // member is NOT its rep (the fanB identity trap), and a <3-token doc
    val texts = Seq(
      // group A: 4 copies, ids 0,5,10,11 — 0,5,10 bench under id%5==0
      0L -> "alpha beta gamma delta epsilon",
      5L -> "alpha beta gamma delta epsilon",
      10L -> "alpha beta gamma delta epsilon",
      11L -> "alpha beta gamma delta epsilon",
      // group B: 2 copies, ids 21,25 — only 25 bench, and 25 != rep 21
      21L -> "alpha beta gamma zeta eta theta",
      25L -> "alpha beta gamma zeta eta theta",
      // singleton (non-bench) sharing 3 grams with group B's content —
      // a cross pair whose bench side must expand to 25, NOT to rep 21
      13L -> "alpha beta gamma zeta eta pi",
      // two singletons sharing 3 grams with each other; 30 is bench —
      // the direct (no-fan) path
      7L -> "one two three four five six",
      30L -> "one two three four five seven",
      // too short for any gram
      40L -> "mu nu")
    val docs = texts.toDF("doc_id", "text")
    val isBench = col("doc_id") % 5 === 0
    def set(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val raw = set(CurationOps.contaminationPairs(
      docs, docs.filter(isBench), minShared = 3L))
    val collapsed = set(CurationOps.contaminationCollapsed(
      docs.select(col("doc_id"),
        graft.functions.TextFns.normText(col("text")).as("norm")),
      isBench, minShared = 3L))
    assert(collapsed == raw && raw.nonEmpty,
      s"missing=${(raw -- collapsed).take(5)} extra=${(collapsed -- raw).take(5)}")
    // the within branch really fired (same-content pairs, n_shared = 3
    // grams of the 5-token content): e.g. (11, 0) and bench-bench both
    // orders (0 -> 5 means doc 5 as bench AND doc 0 as bench)
    assert(raw.contains((11L, 0L, 3L)) && raw.contains((0L, 5L, 3L))
      && raw.contains((5L, 0L, 3L)))
    // within-group pair whose bench member is not the rep
    assert(raw.contains((21L, 25L, 4L)))
    // the fanB identity trap on a CROSS pair: group B's only bench
    // member is 25, so 13's contamination must surface as (13, 25) and
    // never (13, 21)
    assert(raw.contains((13L, 25L, 3L)))
    assert(!raw.exists(p => p._1 == 13L && p._2 == 21L))
    // the direct path (both sides singleton)
    assert(raw.contains((7L, 30L, 3L)))
  }

  test("q70 collapsed: a mega-group takes the bucketed (salted) expansion and stays exact") {
    import spark.implicits._
    val m = (operators.Skew.WithinSaltThreshold + 40).toInt
    // one mega content (every 5th id is bench) + one singleton sharing
    // 3 grams with it, bench by id
    val mega = spark.range(0, m).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon").as("text"))
    // the singleton shares exactly the mega content's 3 grams (its own
    // 4th gram "delta epsilon zeta" is unshared)
    val docs = mega.unionByName(Seq(
      (9000005L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"))
    val isBench = col("doc_id") % 5 === 0
    val out = CurationOps.contaminationCollapsed(
      docs.select(col("doc_id"),
        graft.functions.TextFns.normText(col("text")).as("norm")),
      isBench, minShared = 3L)
    val nBench = (m + 4) / 5 // mega bench members: ids 0,5,10,...
    val expect =
      m.toLong * nBench - nBench + // within: members x bench members, minus self-pairs
        nBench + // cross: singleton 9000005 (corpus role) x each mega bench member
        m.toLong // cross: each mega member (corpus role) x bench singleton 9000005
    val n = out.count()
    assert(n == expect, s"got $n want $expect")
    assert(out.distinct().count() == n, "duplicate pairs from the salt")
    // plan witness: the bucketed form is actually planned — the 64-way
    // bucket explode (the literal sequence constant-folds to an array,
    // so the witness is the explode plus its _bkt bucket key)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("explode") && plan.contains("_bkt"),
      "salted hot-key join shape missing from the plan")
    // spot-check n_shared values: within-group = 3 grams; cross = 3
    val r = out.filter(col("doc_id") === 1L && col("bench_id") === 0L)
      .head().getLong(2)
    assert(r == 3L)
  }

  test("q70 dispatch: raw join below the dup-mass bar, collapsed above") {
    import spark.implicits._
    val isBench = col("doc_id") % 5 === 0
    // collapse checkpoints surface as LogicalRDD scans in the analyzed
    // plan; the raw path reads the input frame directly
    def hasCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.toString.contains("LogicalRDD")
    val small = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma zeta")).toDF("doc_id", "norm")
    assert(!hasCheckpoint(CurationOps.contaminationAuto(small, isBench)),
      "2 dup members must dispatch the raw join")
    val mass = operators.Skew.FanoutPinThreshold + 60
    val big = spark.range(0, mass).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta").as("norm"))
    assert(hasCheckpoint(CurationOps.contaminationAuto(big, isBench)),
      s"$mass dup members must dispatch the collapsed form")
  }

  test("q70: a corpus-wide hot shingle is join volume, not an aggregation buffer") {
    import spark.implicits._
    // every doc shares the SAME 3-gram run (df = #docs — the stop-gram
    // worst case) plus a unique tail so docs aren't identical
    val docs = (0L until 64L)
      .map(i => (i, s"one of the tail$i"))
      .toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") < 4)
    val pairs = CurationOps.contaminationPairs(docs, bench, minShared = 1L)
    // the hot gram pairs every doc with every bench doc (minus self)
    assert(pairs.count() == 64L * 4L - 4L)
    // and the plan is a pure shuffle join on the gram key: NO posting-list
    // aggregation anywhere (collect_list is the unbounded-buffer shape an
    // every-doc gram would OOM at corpus scale; a skewed JOIN key is what
    // AQE's skew split handles)
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("collect_list"), p)
  }

  test("q68: duplicate-trigram fraction is a valid ratio and detects repetition") {
    val r = CurationOps.q68Repetition(spark, sfDir)
    assert(r.filter(col("dup3_frac") < 0.0 || col("dup3_frac") > 1.0).isEmpty)
    assert(r.filter(col("n_distinct_tokens") > col("n_tokens")).isEmpty)
    // the synthetic corpus draws from a tiny vocabulary — repetition must
    // actually register on at least some docs
    assert(r.filter(col("dup3_frac") > 0.0).count() > 0)
  }

  test("q69: chunks tile every token with stride 48 and window <= 64") {
    val r = CurationOps.q69Chunk(spark, sfDir)
    assert(r.filter(col("n_chunk_tokens") > 64 || col("n_chunk_tokens") < 1).isEmpty)
    // per doc: chunk ids are 0..k contiguous, and the last chunk reaches
    // the final token (start + len == n_tokens + 1)
    val per = r.groupBy("doc_id").agg(
      max(col("chunk_id")).as("max_id"), count(lit(1)).as("n_chunks"),
      max(col("chunk_id") * 48 + col("n_chunk_tokens")).as("reach"),
      max(col("n_tokens")).as("n"))
    assert(per.filter(col("n_chunks") =!= col("max_id") + 1).isEmpty)
    assert(per.filter(col("reach") =!= col("n")).isEmpty)
    // chunk text token count agrees with the declared n_chunk_tokens
    assert(r.filter(size(split(col("chunk_text"), " ")) =!= col("n_chunk_tokens")).isEmpty)
  }

  test("q71: bloom-prefiltered join equals the plain join exactly") {
    val got = CurationOps.q71BloomJoin(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val want = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        functions.Exact.frevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("q73: Morton interleave is a bijection of the two 10-bit inputs") {
    val r = CurationOps.q73Zorder(spark, sfDir)
      .withColumn("x", pmod(col("o_custkey"), lit(1024L)))
      .withColumn("y", pmod(col("o_orderkey"), lit(1024L)))
    val rows = r.select("zval", "x", "y").collect()
    assert(rows.nonEmpty)
    // de-interleave reproduces (x, y): zval determines exactly its inputs.
    // Done on the driver: a Filter would inline zval into each of the 20
    // bit extractions and push whole-stage codegen past its 64 KB limit.
    def bits(z: Long, off: Int): Long =
      (0 until 10).map(i => ((z >> (2 * i + off)) & 1L) << i).sum
    rows.foreach { row =>
      val z = row.getLong(0)
      assert(z >= 0 && z < (1L << 20))
      assert(bits(z, 0) == row.getLong(1) && bits(z, 1) == row.getLong(2), row)
    }
  }

  test("q75: SCD2 intervals are disjoint, contiguous, and singly-current per user") {
    val r = operators.EventOps.q75Scd2(spark, sfDir)
    // exactly one open (current) interval per user
    val open = r.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("n_open"))
    assert(open.filter(col("n_open") =!= 1L).isEmpty)
    // each closed interval ends exactly where the user's next begins
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("valid_from_us")
    val chained = r.withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
    assert(chained.filter(col("valid_to_us") =!= col("next_from")).isEmpty)
    assert(r.count() == Tables.events(spark, sfDir).count())
  }

  test("q76: funnel lags are non-negative and converted matches purchase presence") {
    val r = operators.EventOps.q76Funnel(spark, sfDir)
    assert(r.filter(col("converted") && col("lag_us") < 0).isEmpty)
    assert(r.filter(col("converted") =!= col("first_purchase_us").isNotNull).isEmpty)
    // every user with a view appears exactly once
    val nViewUsers = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view").select("user_id").distinct().count()
    assert(r.count() == nViewUsers)
    assert(r.select("user_id").distinct().count() == nViewUsers)
  }

  test("q87: packed bins respect the token budget and tile each shard densely") {
    val rows = operators.CurationOps.q87PackSequences(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every doc packed exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    // fill never exceeds the budget
    assert(rows.forall(_._4 <= 512L), rows.filter(_._4 > 512L).take(3).toSeq)
    rows.groupBy(_._2).foreach { case (_, shard) =>
      val bins = shard.map(_._3).distinct.sorted
      // bin ids are contiguous from 0
      assert(bins.head == 0L && bins.last == bins.length - 1L)
      // greedy density: a bin break means the next doc would not have fit
      // (the bin that closed was within budget but could not absorb the
      // opener of the following bin) — check via per-bin final fills
      val byBin = shard.groupBy(_._3).toSeq.sortBy(_._1)
      byBin.sliding(2).foreach {
        case Seq((_, a), (_, b)) =>
          val closedFill = a.maxBy(_._1)._4
          val openerTok = b.minBy(_._1)._4 // first fill of a bin = its n_tok
          assert(closedFill + openerTok > 512L,
            s"bin closed at $closedFill though next doc ($openerTok) fit")
        case _ => ()
      }
    }
  }

  test("q87: shards pack independently — per-shard output invariant to shard count") {
    // shard 3's packing among 8 shards must equal packing shard 3's
    // members alone: a shard's output depends only on its own doc set,
    // so raising the shard count only adds parallel groups (the knob a
    // 1000-executor cluster turns), never re-bins existing shards
    val all8 = CurationOps.packDocuments(spark, sfDir, shards = 8L)
      .filter(col("shard") === 3)
      .select("doc_id", "bin", "fill")
    val members = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(8L)).as("shard"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("shard") === 3)
    val alone = CurationOps.packSequences(members, budget = 512L)
      .select("doc_id", "bin", "fill")
    assert(all8.count() > 0)
    assert(all8.exceptAll(alone).isEmpty && alone.exceptAll(all8).isEmpty)
  }

  test("q88: temperature mixture keeps the rarest domain whole and flattens shares") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = operators.CurationOps.q88DomainMixture(spark, sfDir)
    val rates = kept.select("lang", "rate_pm").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rarest domain sampled at 1000 permille; rates weakly decrease with size
    val rarest = before.minBy(_._2)._1
    assert(rates(rarest) == 1000L, rates)
    before.toSeq.sortBy(_._2).map(kv => rates(kv._1)).sliding(2).foreach {
      case Seq(a, b) => assert(a >= b, s"rates not monotone: $rates vs $before")
      case _ => ()
    }
    // flattening: kept shares are closer together than raw shares —
    // max/min count ratio shrinks toward its square root
    val after = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rawRatio = before.values.max.toDouble / before.values.min
    val keptRatio = after.values.max.toDouble / after.values.min
    assert(keptRatio < rawRatio, s"no flattening: $rawRatio -> $keptRatio")
  }

  test("q90: global shuffle index is a 0..n-1 permutation via a RANGE partition") {
    val df = operators.CurationOps.q90GlobalShuffle(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.length == n)
    assert(rows.map(_._3).sorted.toSeq == (0L until n).toSeq)
    // pos follows the (k, doc_id) order globally
    assert(rows.sortBy(r => (r._2, r._1)).map(_._3).toSeq == (0L until n).toSeq)
    // and the shape is the GlobalRank exec over a range exchange (not a
    // 1-partition window, and not two independent Dataset executions
    // that could partition differently — the exec runs both passes over
    // one shuffle dependency)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("GlobalRank") && p.contains("rangepartitioning"), p)
  }

  test("q91: quality gate keeps ~top-80% per language, never emptying one") {
    val docs = Tables.documents(spark, sfDir)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = operators.TextOps.q91QualityGate(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.keySet == before.keySet, "a language was emptied")
    before.foreach { case (lang, n) =>
      val frac = after(lang).toDouble / n
      // percent_rank >= 0.2 keeps ceil(0.8·(n-1))+… ≈ 80%
      assert(frac >= 0.7 && frac <= 0.9, s"$lang kept $frac")
    }
  }

  test("SpaceSaving sketch: exact above capacity, over-estimate-only below it") {
    import spark.implicits._
    // skewed stream: key k appears 2^(10-k) times, 10 distinct keys
    val data = (0 until 10).flatMap(k => Seq.fill(1 << (10 - k))(s"k$k"))
    val ds = spark.createDataset(data).repartition(7)
    def sketch(cap: Int): Map[String, Long] =
      ds.select(new operators.TypedOps.SpaceSaving(cap).toColumn.name("hh"))
        .head()
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(sketch(16) == exact) // capacity >= distinct: exact
    val approx = sketch(4)      // capacity 4 < 10 distinct
    assert(approx.size == 4)
    // retained counts never under-estimate, and the true heavy hitter is kept
    assert(approx.forall { case (k, n) => n >= exact(k) })
    assert(approx.contains("k0"))
  }

  test("bucketed interval join equals the naive non-equi join, as an equi-join plan") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val points = Seq.fill(2000)(rnd.nextInt(100000).toLong).toDF("t")
    val intervals = Seq.tabulate(60)(i =>
      (i.toLong, (rnd.nextInt(90000)).toLong))
      .map { case (id, s) => (id, s, s + 500 + rnd.nextInt(5000)) }
      .toDF("iv_id", "lo", "hi")
    val got = operators.IntervalJoin.byBucket(points, "t", intervals, "lo", "hi", 2048L)
    val want = points.join(intervals,
      col("t") >= col("lo") && col("t") <= col("hi"))
      .select(got.columns.map(col).toIndexedSeq: _*)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the join itself must be hash/merge on the bucket key, never nested-loop
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("q115: curriculum order is a round-robin interleave with per-bucket ranks") {
    import org.apache.spark.sql.expressions.Window
    val got = CurationOps.q115Curriculum(spark, sfDir)
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // positions are unique and encode (rank, bucket) exactly
    assert(rows.map(_._4).distinct.length == rows.length)
    rows.foreach { case (_, b, rk, pos) => assert(pos == rk * 10 + b) }
    // matches the window reference (safe at spec scale)
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val ref = Tables.documents(spark, sfDir)
      .select(col("doc_id"), CurationOps.lenBucket(col("text")).as("bucket"))
      .withColumn("rank_in_bucket", (row_number().over(w) - 1).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.map(t => (t._1, t._2, t._3)).toSet == ref)
    // walking positions round-robins buckets: consecutive same-bucket
    // picks are always ≥ #occupied-buckets apart in the position order
    val byBucket = rows.groupBy(_._2).values
    byBucket.foreach { bs =>
      val ps = bs.map(_._4).sorted
      ps.zip(ps.tail).foreach { case (p, q) => assert(q - p == 10L) }
    }
  }

  test("q116: budget head is the exact prefix of the shuffle order") {
    val got = CurationOps.q116TokenBudget(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val inOrder = got.sortBy(t => (t._2, t._1))
    // cum_tokens is the running sum in (k, doc_id) order
    var cum = 0L
    inOrder.foreach { case (_, _, n, c) => cum += n; assert(c == cum) }
    // every kept doc started under budget, and the slice is a PREFIX:
    // either it reaches the budget or it is the whole corpus
    assert(inOrder.forall { case (_, _, n, c) => c - n < 5000L })
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(inOrder.last._4 >= 5000L || inOrder.length.toLong == nDocs)
  }

  test("snapshotDiff: classifies added/removed/changed, null-safe, drops unchanged") {
    import spark.implicits._
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, null: String, 3.0),
      (4L, "gone", 4.0)).toDF("k", "seg", "bal")
    val b = Seq((1L, "x", 1.0),                      // unchanged
      (2L, "y", 2.5),                                 // changed value
      (3L, "now-set", 3.0),                           // null → value = changed
      (5L, "new", 5.0))                               // added
      .toDF("k", "seg", "bal")
    val got = graft.operators.MiscOps.snapshotDiff(a, b, "k", Seq("seg", "bal"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"), got.toString)
  }

  test("q120: every domain stops within one doc of its token budget") {
    val got = CurationOps.q120TokenMixture(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val inOrder = rows.sortBy(t => (t._3, t._1))
      var cum = 0L
      inOrder.foreach { case (_, _, _, n, c) =>
        cum += n
        assert(c == cum, s"$lang cumulative mismatch")
        assert(c - n < 2000L, s"$lang admitted past budget")
      }
      // the prefix either reaches the budget or the domain ran dry
      val domainTotal = Tables.documents(spark, sfDir)
        .filter(col("lang") === lang).count() // docs, not tokens — cheap proxy
      assert(inOrder.last._5 >= 2000L || inOrder.length == domainTotal.toInt,
        s"$lang stopped early")
    }
  }

  test("q74: stratified rates land near their targets and are deterministic") {
    val e = Tables.events(spark, sfDir)
    val got = CurationOps.q74StratifiedSample(spark, sfDir)
    val rates = got.groupBy("event_type").agg(count(lit(1)).as("kept"))
      .join(e.groupBy("event_type").agg(count(lit(1)).as("total")), Seq("event_type"))
      .withColumn("rate", col("kept").cast("double") / col("total"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rates("purchase") > 0.25 && rates("purchase") < 0.55, rates)
    assert(rates.getOrElse("view", 0.0) < 0.15, rates)
    // determinism: re-running yields the identical sample
    val again = CurationOps.q74StratifiedSample(spark, sfDir)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("q124: exactly k per stratum, equal to the window reference, deterministic") {
    import graft.functions.TextFns
    import org.apache.spark.sql.expressions.Window
    val got = CurationOps.q124StratumSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val sizes = Tables.documents(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.groupBy(_._2).foreach { case (lang, rows) =>
      assert(rows.length.toLong == math.min(25L, sizes(lang)), lang)
    }
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("smp_key").asc, col("doc_id").asc)
    val ref = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        TextFns.hash60(concat(lit("smp:"), col("doc_id").cast("string")))
          .as("smp_key"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 25)
      .drop("rn").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet == ref.toSet)
    val again = CurationOps.q124StratumSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSet == got.toSet)
  }

  test("chunkDocs: a giant doc is capped at ingest and flows through the dedup pipelines") {
    import spark.implicits._
    // the scenario the doc-length-bounded buffer claims assume away: one
    // 200k-token document among normal ones. chunkDocs caps it; the
    // downstream per-doc buffers are then bounded by maxTokens, not by
    // the largest upload.
    val vocab = (0 until 50).map(i => s"w$i")
    val giantToks = Array.tabulate(200000)(i => vocab(i % 50))
    val docs = Seq(
      (1L, giantToks.mkString(" ")),
      (2L, "a perfectly normal short document about ducks"),
      (3L, "another normal short document about geese")).toDF("doc_id", "text")
    val chunked = CurationOps.chunkDocs(docs, maxTokens = 1000)
    val rows = chunked.collect()
    // cap holds: every chunk <= maxTokens; the giant doc fans out to 200
    val giant = rows.filter(_.getLong(0) == 1L)
    assert(giant.length == 200 && giant.forall(_.getLong(2) == 200L))
    assert(rows.forall(_.getAs[Long]("n_chunk_tokens") <= 1000L))
    assert(rows.filter(_.getLong(0) == 2L).map(_.getLong(1)).toSeq == Seq(0L))
    // chunk keys are unique and reassembly loses nothing: concatenating
    // the giant doc's chunks in order gives back the normalized text
    assert(rows.map(_.getAs[Long]("chunk_key")).distinct.length == rows.length)
    val reassembled = giant.sortBy(_.getLong(1))
      .map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(reassembled == giantToks.mkString(" "))
    // the dedup trio's per-doc buffers now see 1000-token docs: the q35
    // pipeline (prefix-filter ngram Jaccard) and the q234 span merge both
    // run to completion on the chunked frame within task memory
    val asDocs = chunked.select(col("chunk_key").as("doc_id"),
      col("chunk_text").as("text"))
    val pairs = graft.operators.DedupOps.ngramJaccardCore(asDocs)
    // 50-word cycle over 1000-token chunks: all 200 giant chunks are
    // identical, so every pair verifies at J = 1.0
    assert(pairs.filter(col("jaccard") === 1.0).count() == 200L * 199 / 2)
    val spans = graft.operators.TextOps.dupSpansCore(asDocs, k = 10)
    // every giant chunk is one fully-covered span [0, 1000)
    val giantSpans = spans.filter(col("doc_id") >= 65536L && col("doc_id") < 2L * 65536)
      .collect()
    assert(giantSpans.length == 200)
    assert(giantSpans.forall(r =>
      r.getAs[Long]("span_start") == 0L && r.getAs[Long]("span_end") == 1000L))
  }

  test("ingest cap is ENFORCED: an uncapped oversize doc fails loudly in the declared dedup/scrub paths") {
    import spark.implicits._
    // r8: the scale-lint's "doc-length-bounded" buffer claims cite the
    // chunkDocs ingest cap — this proves the declared entry points
    // actually REFUSE a document that skipped it, instead of quietly
    // growing an O(doc) task buffer. 70k tokens > DocTokenCap (65536).
    val giant = (0 until 70000).map(i => s"w${i % 50}").mkString(" ")
    val docs = Seq((1L, giant), (2L, "a small document")).toDF("doc_id", "text")
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Exception](
      graft.operators.DedupOps.ngramJaccardCore(docs).collect())
    assert(chain(e1).contains("ingest cap"), chain(e1).take(300))
    val e2 = intercept[Exception](
      graft.operators.TextOps.blockScrubCore(docs).collect())
    assert(chain(e2).contains("ingest cap"), chain(e2).take(300))
    // r11: contaminationPairs enforces the same cap via the BOOLEAN
    // capGuard conjunct (an array-wrapping cappedToks cost ×1.25 on the
    // gram join — the guard must stay loud without the wrap)
    val e3 = intercept[Exception](
      CurationOps.contaminationPairs(docs, docs).collect())
    assert(chain(e3).contains("ingest cap"), chain(e3).take(300))
    // and a null-text doc still contributes nothing instead of tripping
    // a null-message raise (the cappedToks fuzz lesson, same guard)
    val withNull = Seq((1L, "alpha beta gamma delta"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(CurationOps.contaminationPairs(withNull, withNull).count() == 0L)
    // and the sanctioned fix — pre-chunking — sails through the same path
    val chunked = CurationOps.chunkDocs(docs, maxTokens = 1000)
      .select(col("chunk_key").as("doc_id"), col("chunk_text").as("text"))
    assert(graft.operators.TextOps.blockScrubCore(chunked).count() == 71L)
  }

  test("chunkDocs: null-text docs yield zero rows under ANSI on AND off") {
    import spark.implicits._
    // r8 (ADVICE): with ansi off, size(NULL) = -1 used to plan
    // sequence(0, -1) = [0, -1] — two phantom rows for a null doc, one
    // with chunk = -1 whose packed key collided into doc (doc_id-1)'s
    // chunk-65535 slot. The isNotNull boundary makes the operator
    // ANSI-independent; the negative-chunk domain guard backstops it.
    val docs = Seq((7L, "one real document here"), (8L, null: String))
      .toDF("doc_id", "text")
    def run(): Seq[(Long, Long)] =
      CurationOps.chunkDocs(docs, maxTokens = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val ansiOn = run()
    assert(ansiOn == Seq((7L, 0L), (7L, 1L)), ansiOn)
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(run() == ansiOn)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
