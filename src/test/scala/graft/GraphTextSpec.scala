package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Semantic properties of the round-5 additions: integer PageRank,
  * blocked sorted-neighborhood dedup, the MapSumLookup expression and the
  * unigram-LM / PMI / constraint-suite queries (cross-engine value
  * equality is covered by the DuckDB gate; these pin the semantics a hash
  * compare wouldn't explain).
  */
class GraphTextSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRankInt: a symmetric 2-cycle is exactly stationary") {
    // out-degree 1 both sides: contrib = r div 1 = r, next = 0.15e12 +
    // (85 r) div 100 — at r = 1e12 every step is exact, so the rank must
    // stay at the initial mass bit-for-bit, iteration count irrelevant
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = GraphOps.pageRankInt(edges, iters = 3).collect()
    assert(got.length == 2)
    got.foreach(r => assert(r.getLong(1) == 1000000000000L))
  }

  test("pageRankInt: star hub outranks leaves, leaves stay symmetric") {
    val leaves = (2L to 5L)
    val edges = leaves.flatMap(l => Seq((1L, l), (l, 1L))).toDF("src", "dst")
    val ranks = GraphOps.pageRankInt(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hub = ranks(1L)
    val leafRanks = leaves.map(ranks)
    assert(leafRanks.distinct.size == 1) // symmetry ⇒ identical ranks
    assert(hub > leafRanks.head)         // all leaf mass flows to the hub
    // total mass ≈ #nodes · 1e12, shrinking only by div-truncation dust
    val total = ranks.values.sum
    assert(total <= 5L * 1000000000000L)
    assert(total > 5L * 1000000000000L - 1000000L)
  }

  test("sizedRankUnit: 10^12 while safe, shrinks a decade per decade of nodes") {
    assert(GraphOps.sizedRankUnit(2L) == 1000000000000L)       // tiny: capped default
    assert(GraphOps.sizedRankUnit(50000L) == 1000000000000L)   // last 10^12-safe decade
    assert(GraphOps.sizedRankUnit(1000001L) == 10000000000L)   // 10^6 nodes -> 10^10
    assert(GraphOps.sizedRankUnit(100000000000L) == 100000L)   // 10^11 nodes -> 10^5
    // worst case stays under 2^62 at the chosen unit, overflows one decade up
    val n = 1000001L; val u = GraphOps.sizedRankUnit(n)
    assert(BigInt(85) * BigInt(n) * BigInt(u) <= BigInt(1L << 62))
    assert(BigInt(85) * BigInt(n) * BigInt(u * 10) > BigInt(1L << 62))
    intercept[IllegalArgumentException](GraphOps.sizedRankUnit(600000000000000L))
    intercept[IllegalArgumentException](GraphOps.sizedRankUnit(0L))
  }

  test("pageRankInt: 10^6-node hub graph survives with a sized unit") {
    // a 10^6-leaf star is the overflow worst case: every leaf pours its
    // whole rank into the hub, so the damping step multiplies ~n.unit by
    // 85 — at the old fixed 10^12 unit that is 8.5e19 > 2^63 (wrap/ANSI
    // error); the sized 10^10 unit keeps it at 8.5e17
    val n = 1000000L
    val leaves = spark.range(2L, n + 2L).select(col("id"))
    val edges = leaves.select(lit(1L).as("src"), col("id").as("dst"))
      .union(leaves.select(col("id").as("src"), lit(1L).as("dst")))
    val unit = 10000000000L // sizedRankUnit(n + 1)
    val ranks = GraphOps.pageRankInt(edges, iters = 2)
      .agg(count(lit(1)).as("nodes"), min(col("r")).as("min_r"),
        max(col("r")).as("max_r"), sum(col("r")).as("total"))
      .head()
    assert(ranks.getLong(0) == n + 1)
    assert(ranks.getLong(1) > 0L)                     // no wrap to negative
    assert(ranks.getLong(2) > 1000L * ranks.getLong(1)) // hub dwarfs any leaf
    val total = ranks.getLong(3)
    assert(total <= (n + 1) * unit)                   // mass only shrinks (div dust)
    assert(total > (n + 1) / 10 * 9 * unit)           // ...and barely
  }

  test("pageRankInt: a pinned unit too large for the graph fails loudly") {
    // the r5 overflow bug's last reachable path: pinning 10^12 on a
    // 10^6-node graph would wrap the damping multiply SILENTLY
    // (85 * n * unit = 8.5e19 > 2^63); since r7 the pinned path counts
    // the node frame and rejects the pin instead
    val n = 1000000L
    val leaves = spark.range(2L, n + 2L).select(col("id"))
    val edges = leaves.select(lit(1L).as("src"), col("id").as("dst"))
      .union(leaves.select(col("id").as("src"), lit(1L).as("dst")))
    val e = intercept[IllegalArgumentException] {
      GraphOps.pageRankInt(edges, iters = 2, rankUnit = 1000000000000L)
    }
    assert(e.getMessage.contains("85*n*unit"), e.getMessage)
    // and the same pin is accepted on a graph inside the bound
    val small = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(GraphOps.pageRankInt(small, iters = 1,
      rankUnit = 1000000000000L).count() == 2L)
    // r8 (ADVICE): the guard must not itself wrap. For this unit,
    // 85·unit = 2^64 + 6884 — as a raw int64 product it wraps to the
    // SMALL POSITIVE 6884, so the old n ≤ 2^62/(85·unit) form computed
    // a huge bogus node cap and ACCEPTED the pin; the divide-only form
    // rejects it even on a 2-node graph
    val wrapPin = 217020518514230100L // multiple of 100; 85·it ≡ +6884 (mod 2^64)
    val e2 = intercept[IllegalArgumentException] {
      GraphOps.pageRankInt(small, iters = 1, rankUnit = wrapPin)
    }
    assert(e2.getMessage.contains("85*n*unit"), e2.getMessage)
  }

  test("dupSpans collision contract: a colliding window yields a merged span, not corruption") {
    // inject a synthetic 'collision' through the testable seam: doc 10's
    // window at pos 5 shares hash key h=77 with doc 20's (distinct-gram)
    // window — the count key sees c=2, so BOTH sides emit a well-formed
    // [pos, pos+k) interval that merges with real neighbors like any
    // other hit; nothing is dropped or malformed (the documented
    // over-deletion-bounded failure mode)
    val k = 10
    val wins = Seq(
      (10L, 5L, 77L),   // "collides" with doc 20 pos 3
      (10L, 9L, 88L),   // genuine dup with doc 20 pos 40 — overlaps pos 5's span
      (10L, 50L, 99L),  // unique: no hit
      (20L, 3L, 77L),
      (20L, 40L, 88L)).toDF("doc_id", "pos", "h")
    val got = TextOps.dupSpansFromWins(wins, k)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (10L, 5L, 19L, 2L),   // pos-5 (false) and pos-9 (true) hits merged
      (20L, 3L, 13L, 1L),   // the colliding partner's spurious span: well-formed
      (20L, 40L, 50L, 1L)))
  }

  test("dupSpans: overlapping window hits merge; disjoint runs stay separate") {
    // doc 1 and doc 2 share a 12-token run (positions 0..11 in doc 1):
    // windows 0,1,2 all hit and must merge into ONE span [0, 12).
    // doc 1 additionally shares a second, later 10-token run with doc 3
    // at positions 20..29 — a separate island [20, 30).
    val run = (1 to 12).map(i => s"shared$i").mkString(" ")
    val run2 = (1 to 10).map(i => s"other$i").mkString(" ")
    val filler = (1 to 8).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run $filler $run2 tail1 tail2"),
      (2L, s"pre1 pre2 $run post"),
      (3L, s"$run2 unrelated words here")).toDF("doc_id", "text")
    val out = TextOps.dupSpansCore(docs, k = 10)
      .select(col("doc_id"), col("span_start"), col("span_end"))
    val spans = out.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    assert(spans(1L) == Seq((0L, 12L), (20L, 30L)), spans)
    assert(spans(2L) == Seq((2L, 14L)), spans) // run sits after 2 pre toks
    assert(spans(3L) == Seq((0L, 10L)), spans)
  }

  test("sortedNeighborhood: adjacent near-dups pair, far blocks don't") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"), // same block, Jaccard 3/5
      (3L, "zzz totally different words here")) // other block
      .toDF("doc_id", "norm")
    val pairs = DedupOps.sortedNeighborhoodPairs(docs, prefixLen = 3, w = 2)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(math.abs(pairs.head.getDouble(2) - 0.6) < 1e-12)
  }

  test("sortedNeighborhood: neighbor horizon w bounds comparisons") {
    // three identical-ish docs in one block; with w=1 only adjacent ranks
    // pair (2 pairs), with w=2 the (first, third) pair appears too
    val docs = Seq(
      (1L, "aaa one two three"),
      (2L, "aaa one two three"),
      (3L, "aaa one two three")).toDF("doc_id", "norm")
    assert(DedupOps.sortedNeighborhoodPairs(docs, 3, w = 1).count() == 2)
    assert(DedupOps.sortedNeighborhoodPairs(docs, 3, w = 2).count() == 3)
  }

  test("map_sum_lookup: missing keys, null tokens, null values add zero") {
    val df = Seq(
      (Seq[String]("a", "b", "zzz"), Map("a" -> 10L, "b" -> 5L)),
      (Seq[String](), Map("a" -> 10L)))
      .toDF("toks", "vmap")
    val got = df.select(
      functions.VectorExprs.map_sum_lookup(col("toks"), col("vmap")))
      .as[Long].collect()
    assert(got.toSeq == Seq(15L, 0L))
    // null array element contributes 0 (SQL-reachable input shape)
    assert(spark.sql(
      "SELECT map_sum_lookup(array('a', CAST(NULL AS STRING)), map('a', CAST(7 AS BIGINT)))")
      .first().getLong(0) == 7L)
  }

  test("q99 broadcast-map path equals the explode+join formulation") {
    // the one-pass MapSumLookup scoring must agree with the textbook
    // two-pass shape (explode, join the vocab, re-aggregate) on real data
    val fast = TextOps.q99UnigramLm(spark, sfDir)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(
        graft.functions.TextFns.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("term").agg(count(lit(1)).as("tf"))
    val vocab = tf.orderBy(col("tf").desc, col("term").asc).limit(64)
    val slow = toks.join(vocab, Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("tf")), lit(0L)).as("hit_mass"))
    val joined = fast.alias("f")
      .join(slow.alias("s"), Seq("doc_id"))
      .filter(col("f.n_tokens") =!= col("s.n_tokens") ||
        col("f.hit_mass") =!= col("s.hit_mass"))
    assert(joined.isEmpty)
    assert(fast.count() == slow.count())
  }

  test("q103 PMI rows satisfy their own definition") {
    val rows = TextOps.q103PmiBigrams(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("c_ab") >= 5L)
      assert(r.getAs[Double]("pmi_odds") > 0.0)
    }
    // emitted in descending score order (ties broken by bigram text)
    val scores = rows.map(_.getAs[Double]("pmi_odds")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("q102 verdicts are consistent with their violation counts") {
    val rows = MiscOps.q102Constraints(spark, sfDir).collect()
    assert(rows.length == 6)
    val total = Tables.lineitem(spark, sfDir).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("total") == total)
      assert(r.getAs[Long]("violations") >= 0L)
      assert(r.getAs[Boolean]("pass") == (r.getAs[Long]("violations") == 0L))
    }
  }

  test("q118: canonical is each cluster's max-quality member, sizes audit") {
    val clusters = DedupOps.q64DedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val quality = TextOps.scoredDocs(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    val got = DedupOps.q118ClusterCanonical(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byCluster = clusters.groupBy(_._2)
    assert(got.length == byCluster.size) // one canonical per cluster
    got.foreach { case (cid, keep, q, n) =>
      val members = byCluster(cid).map(_._1)
      assert(members.contains(keep))
      assert(n == members.length.toLong)
      assert(q == quality(keep))
      // argmax with doc_id tiebreak
      val best = members.minBy(m => (-quality(m), m))
      assert(keep == best, s"cluster $cid kept $keep, best is $best")
    }
  }

  test("q119: fractions are valid and zero exactly for docs with no shared grams") {
    val got = TextOps.q119DupGramFrac(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (_, nGrams, nShared, frac) =>
      assert(nGrams > 0 && nShared >= 0 && nShared <= nGrams)
      assert(frac == nShared.toDouble / nGrams)
    }
    // cross-check one side: a doc with frac 0 shares no gram with anyone
    // (recompute gram sets locally for a few docs)
    import graft.functions.TextFns
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.HashExprs.gram3_hash64(col("toks")))).as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val df = grams.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size).toMap
    val refShared = grams.groupBy(_._1).view
      .mapValues(_.count(g => df(g._2) >= 2).toLong).toMap
    got.foreach { case (id, _, nShared, _) =>
      assert(nShared == refShared.getOrElse(id, 0L), s"doc $id")
    }
  }

  test("q122: matches a plain-Scala Kneser-Ney build and sums to 1 per context") {
    import graft.functions.TextFns
    // independent reimplementation from the raw token arrays
    val toks = Tables.documents(spark, sfDir)
      .select(TextFns.tokens(col("text")).as("toks"))
      .collect().map(_.getSeq[String](0).filter(_.nonEmpty).toArray)
      .filter(_.length >= 2)
    val cab = scala.collection.mutable.Map.empty[(String, String), Long]
    toks.foreach { t =>
      var i = 0
      while (i < t.length - 1) {
        cab.updateWith((t(i), t(i + 1)))(c => Some(c.getOrElse(0L) + 1L))
        i += 1
      }
    }
    val cl = cab.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1r = cab.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1l = cab.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val nbb = cab.size.toLong
    def pkn(w1: String, w2: String, c: Long): Double =
      ((4L * c - 3L) * nbb + 3L * n1r(w1) * n1l(w2)).toDouble /
        (4L * cl(w1) * nbb)
    val expected = cab.iterator.filter(_._2 >= 5L)
      .map { case ((w1, w2), c) => (w1, w2, c, pkn(w1, w2, c)) }.toSeq
      .sortBy { case (w1, w2, _, p) => (-p, w1, w2) }.take(50)
      .map { case (w1, w2, c, p) => (w1, w2, c, cl(w1), n1r(w1), n1l(w2), p) }
    val got = TextOps.q122KneserNey(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == expected, s"${got.take(3).toSeq} vs ${expected.take(3)}")
    // the textbook property the rational form must preserve: the full
    // interpolated distribution Σ_w2 P(w2|w1) — seen mass + λ(w1)·(tail
    // continuation mass) — is exactly 1 for every context
    cab.keys.map(_._1).toSeq.distinct.take(20).foreach { w1 =>
      val seen = cab.iterator.filter(_._1._1 == w1).toSeq
      val seenMass = seen.map { case ((a, b), c) => pkn(a, b, c) }.sum
      val lambda = 3.0 * n1r(w1) / (4.0 * cl(w1))
      val seenCont = seen.map { case ((_, b), _) => n1l(b).toDouble / nbb }.sum
      val total = seenMass + lambda * (1.0 - seenCont)
      assert(math.abs(total - 1.0) < 1e-9, s"$w1: $total")
    }
  }

  test("q123: matches per-source gram-set arithmetic done on the raw strings") {
    import graft.functions.TextFns
    // reference over gram STRINGS (the engine shuffles 64-bit hashes; count
    // equality here exercises the injectivity contract end-to-end)
    val rows = Tables.documents(spark, sfDir)
      .select(col("source"), TextFns.tokens(col("text")).as("toks"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toArray))
      .filter(_._2.length >= 3)
    val bySrc = rows.groupBy(_._1).view.mapValues { ds =>
      ds.iterator.flatMap(_._2.sliding(3).map(_.mkString(" "))).toSet
    }.toMap
    val srcOf = bySrc.toSeq.flatMap { case (s0, gs) => gs.iterator.map(_ -> s0) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val got = TextOps.q123SourceNovelty(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == bySrc.size)
    got.foreach { case (src, nGrams, nExcl, frac) =>
      val gs = bySrc(src)
      val excl = gs.count(g => srcOf(g) == Seq(src)).toLong
      assert(nGrams == gs.size.toLong, s"$src grams")
      assert(nExcl == excl, s"$src exclusive")
      assert(frac == excl.toDouble / gs.size)
    }
  }

  test("q128: overlap matrix matches pairwise gram-set intersections") {
    import graft.functions.TextFns
    val rows = Tables.documents(spark, sfDir)
      .select(col("source"), TextFns.tokens(col("text")).as("toks"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toArray))
      .filter(_._2.length >= 3)
    val bySrc = rows.groupBy(_._1).view.mapValues { ds =>
      ds.iterator.flatMap(_._2.sliding(3).map(_.mkString(" "))).toSet
    }.toMap
    val got = TextOps.q128SourceOverlap(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
      shared = (bySrc(a) intersect bySrc(b)).size.toLong if shared > 0
    } yield (a, b) -> shared).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case ((a, b), (shared, nA, nB, fracA, fracB)) =>
      assert(shared == expected((a, b)), s"$a/$b")
      assert(nA == bySrc(a).size.toLong && nB == bySrc(b).size.toLong)
      assert(fracA == shared.toDouble / nA && fracB == shared.toDouble / nB)
    }
  }

  test("headTailPairs: adaptive boundary salt is pair-identical across the threshold and fires the intended branch") {
    import spark.implicits._
    // a viral boundary: 60 short docs whose head window EQUALS their
    // tail window (the zipf shape — exact copies of a 3-token doc), so
    // one boundary hash carries 60 tails x 60 heads; plus one genuine
    // split-document chain that must survive both branches
    val viral = (1 to 60).map(i => (i.toLong, "alpha beta gamma"))
    val chain = Seq(
      (101L, "one two three four five six"),
      (102L, "four five six seven eight nine"))
    val docs = (viral ++ chain).toDF("doc_id", "text")
    // pin the SMJ regime: a tiny corpus would otherwise plan broadcast
    // joins on the plain branch — the dispatch fires on the threshold
    // either way, but the bars are calibrated for the non-broadcast
    // regime (Skew.SingleTaskRows' calibration record)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def run(thr: Long) =
      operators.DedupOps.headTailPairs(docs, 3, fanThreshold = thr)
    try {
    val plain = run(3600L)  // probed maxFan = 60*60 sits AT the bar: plain
    val salted = run(3599L) // one below: the hot-key salt fires
    // branch witness: only the salted plan explodes the bucket sequence
    // (the bucket sequence literal constant-folds, and the tokenize
    // Generates sit behind the checkpoint, so Generate-explode presence
    // IS the branch)
    assert(salted.queryExecution.optimizedPlan.toString.contains("Generate explode"),
      "salted branch did not plan the bucket explode")
    assert(!plain.queryExecution.optimizedPlan.toString.contains("Generate explode"),
      "plain branch unexpectedly planned the bucket explode")
    // the pin's width target derives from the cluster, never a constant
    // (the FanoutPinThreshold portability contract: the FIX side scales
    // with the cluster by construction)
    val pins = salted.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(pins.exists(_.optNumPartitions
        .contains(spark.sparkContext.defaultParallelism)),
      "salted branch's width pin is not defaultParallelism-sized")
    val a = plain.orderBy("doc_a", "doc_b").collect().toSeq
    val b = salted.orderBy("doc_a", "doc_b").collect().toSeq
    assert(a == b, "salted pair set differs from plain")
    // 60*59 ordered viral pairs (doc_a != doc_b) + the one chain pair
    assert(a.size == 60 * 59 + 1, s"expected ${60 * 59 + 1}, got ${a.size}")
    assert(a.contains(org.apache.spark.sql.Row(101L, 102L)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }
}
