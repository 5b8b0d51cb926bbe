package graft

import org.apache.spark.sql.functions._

/** Degenerate-input behavior of the custom operators: empty relations,
  * k larger than any group, strings shorter than a gram — the shapes a
  * long-running pipeline hits on its worst partition.
  */
class EdgeCaseSpec extends SparkTestBase {
  import spark.implicits._

  test("TopKPerKey with k exceeding every group size returns all rows") {
    val df = Seq((1L, 10L, 1.0), (1L, 11L, 2.0), (2L, 20L, 3.0))
      .toDF("k", "id", "v")
    val got = plans.TopKPerKey.perKey(df, Seq("k"),
      Seq("v" -> true, "id" -> false), k = 100)
    assert(got.count() == 3)
    assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty)
  }

  test("TopKPerKey rejects unknown columns loudly") {
    val df = Seq((1L, 2L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      plans.TopKPerKey.perKey(df, Seq("nope"), Seq("b" -> true), 1)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("packSequences on an empty frame returns no rows") {
    val empty = spark.emptyDataset[(Long, Long, Long)]
      .toDF("doc_id", "shard", "n_tok")
    assert(operators.CurationOps.packSequences(empty, 512L).count() == 0L)
  }

  test("packSequences puts a budget-sized doc alone in its own bin") {
    // capped oversize doc (n_tok > budget) fills a bin exactly; neighbors
    // open fresh bins around it
    val items = Seq((1L, 0L, 10L), (2L, 0L, 9999L), (3L, 0L, 10L))
      .toDF("doc_id", "shard", "n_tok")
    val got = operators.CurationOps.packSequences(items, 512L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (0L, 10L))
    assert(got(2L) == (1L, 512L)) // capped to budget, alone in bin 1
    assert(got(3L) == (2L, 10L))
  }

  test("globalShuffleIndex on empty and 1-row frames") {
    val empty = spark.emptyDataset[Long].toDF("doc_id")
    assert(operators.CurationOps.globalShuffleIndex(empty, "t:").count() == 0L)
    val one = Seq(7L).toDF("doc_id")
    val r = operators.CurationOps.globalShuffleIndex(one, "t:").collect()
    assert(r.length == 1 && r.head.getLong(0) == 7L && r.head.getLong(2) == 0L)
  }

  test("saltedJoin with an empty skewed side returns no rows") {
    val left = spark.emptyDataset[(String, Long)].toDF("k", "v")
    val right = Seq(("a", 1L)).toDF("k", "w")
    assert(operators.Skew.saltedJoin(left, right, "k", 4).count() == 0L)
  }

  test("connectedComponents on an empty edge list returns no rows") {
    val edges = spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    assert(operators.DedupOps.connectedComponents(edges).count() == 0)
  }

  test("AsOfJoin with an empty right side preserves left rows, null payload") {
    val left = Seq((1L, 100L), (2L, 200L)).toDF("k", "t")
    val right = spark.emptyDataset[(Long, Long, Long)].toDF("k", "rt", "p")
    val got = operators.AsOfJoin.backward(left, right,
      keys = Seq("k"), leftTime = "t", rightTime = "rt",
      payload = Seq("p"), rightTiebreak = None)
    assert(got.count() == 2)
    assert(got.filter(col("p").isNotNull).count() == 0)
  }

  test("winnow_fingerprints of strings shorter than one gram is empty") {
    val df = Seq("ab", "", "exactly8").toDF("s")
      .select(functions.HashExprs.winnow_fingerprints(col("s")).as("fp"))
    val rows = df.collect()
    assert(rows(0).getSeq[Long](0).isEmpty)
    assert(rows(1).getSeq[Long](0).isEmpty)
    assert(rows(2).getSeq[Long](0).length == 1) // one gram, one window
  }

  test("tie-keeping top-k modes: all-tied groups survive k=1") {
    import spark.implicits._
    val df = Seq((1L, 5L, 1L), (1L, 5L, 2L), (1L, 5L, 3L),
      (2L, 7L, 4L), (2L, 6L, 5L)).toDF("key", "ord", "id")
    def ids(mode: plans.TopKPerKey.RankMode) =
      plans.TopKPerKey.perKey(df, Seq("key"), Seq("ord" -> true), 1, mode)
        .select("id").collect().map(_.getLong(0)).toSet
    // key 1 is one all-tied tier: rank()=1 and dense_rank()=1 for every
    // row, so BOTH tie modes keep all three; key 2 keeps only ord=7.
    // RowNum must cut key 1 to a single arbitrary-but-one row.
    assert(ids(plans.TopKPerKey.RankTies) == Set(1L, 2L, 3L, 4L))
    assert(ids(plans.TopKPerKey.DenseTies) == Set(1L, 2L, 3L, 4L))
    val strict = plans.TopKPerKey.perKey(df, Seq("key"),
      Seq("ord" -> true, "id" -> false), 1).collect()
    assert(strict.length == 2)
  }

  test("BoundedDocList: hot keys finish empty, kept groups lose nothing") {
    import spark.implicits._
    // key 1 exceeds the cap (25 > 20) -> empty under ANY merge order;
    // key 2 keeps all members; key 3 is under minSize -> dropped
    val rows = (0L until 25L).map(d => (1L, d)) ++
      Seq((2L, 100L), (2L, 101L), (2L, 102L), (3L, 200L))
    val got = rows.toDS().repartition(7) // force multi-partition merges
      .groupByKey(_._1)
      .agg(new operators.TypedOps.BoundedDocList(cap = 20, minSize = 2)
        .toColumn.name("docs"))
      .collect().toMap
    assert(got(1L).isEmpty)
    assert(got(2L).toSet == Set(100L, 101L, 102L))
    assert(got(3L).isEmpty)
  }

  test("gram3_hash64 tolerates null array elements (SQL-reachable input)") {
    // SQL users can pass arrays with containsNull=true — a null element
    // must fold a marker into the chain, not NPE the task, and must hash
    // differently from the empty string at the same position
    val df = Seq(Tuple1(Seq[String]("a", null, "b", "c")))
      .toDF("toks")
      .select(functions.HashExprs.gram3_hash64(col("toks")).as("h"))
    val h = df.collect()(0).getSeq[Long](0)
    assert(h.length == 2)
    val h2 = Seq(Tuple1(Seq("a", "", "b", "c"))).toDF("toks")
      .select(functions.HashExprs.gram3_hash64(col("toks")).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(h != h2, "null element must hash differently from empty string")
  }

  test("triangles on a crafted graph: K4 plus a pendant edge") {
    // K4 on {1,2,3,4} has C(4,3)=4 triangles; edge (4,5) adds none.
    // Oriented doc_a < doc_b. Min-vertex rooting: {1,2,3}x3 root at 1,
    // {2,3,4} roots at 2.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = operators.DedupOps.triangles(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L), got)
    // the degree-ordered branch roots at the same min-id vertices
    val deg = operators.DedupOps.trianglesAdaptive(edges, 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg == Map(1L -> 3L, 2L -> 1L), deg)
  }

  test("degree-ordered triangles: hub emits no single-key wedge pile; parity with id-ordering") {
    import org.apache.spark.sql.functions._
    // star over 401 nodes with the hub's id in the MIDDLE (ids on both
    // sides) plus a ring: the id-ordered wedge join parks in(hub)x
    // out(hub) = 200x200 = 40,000 wedge rows on the hub's single join
    // key — from ~400 edge rows of input, far below any AQE skew
    // threshold (the q37 fan-out blindness, SCALING.md r10). Degree
    // orientation points every star edge INTO the hub, so the hub's
    // out-degree is 0 and the largest per-key wedge count is C(3,2)=3.
    val n = 401L
    val hub = n / 2
    val ids = spark.range(0, n).select(col("id"))
    val star = ids.filter(col("id") =!= hub).select(
      least(col("id"), lit(hub)).as("doc_a"),
      greatest(col("id"), lit(hub)).as("doc_b"))
    val ring = ids.filter(col("id") < n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      .filter(col("doc_a") =!= hub && col("doc_b") =!= hub)
    val e = star.union(ring)
    // id-ordered wedge volume per join key b: in(b) x out(b)
    val idWedges = e.groupBy(col("doc_b").as("v")).agg(count(lit(1)).as("i"))
      .join(e.groupBy(col("doc_a").as("v")).agg(count(lit(1)).as("o")), Seq("v"))
      .select(col("v"), (col("i") * col("o")).as("wedges"))
      .orderBy(desc("wedges")).head()
    assert(idWedges.getLong(0) == hub && idWedges.getLong(1) == (hub * (n - 1 - hub)),
      s"id-ordering should park ${hub * (n - 1 - hub)} wedges on the hub key, got $idWedges")
    // degree-ordered wedge volume per join key u: C(outdeg(u), 2)
    // (Spark's `/` is a DOUBLE divide — halve the exact long instead)
    val degWedges = operators.DedupOps.degreeOriented(e)
      .groupBy(col("u")).agg(count(lit(1)).as("d"))
      .select(max(col("d") * (col("d") - 1)).as("w")).head().getLong(0) / 2
    assert(degWedges <= 3L,
      s"degree-ordering must spread the hub's wedges (max per-key = $degWedges)")
    // and the enumerated triangles are IDENTICAL through every path:
    // the dispatcher (40,000 probe wedges <= 2^24 -> id branch), the
    // degree branch forced via threshold 1, and the r1-r10 baseline.
    // The ring closes star wedges into triangles (hub, i, i+1).
    val a = operators.DedupOps.triangles(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = operators.DedupOps.trianglesAdaptive(e, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c = operators.DedupOps.trianglesAdaptive(e, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && b == c && a.nonEmpty,
      s"parity: ${a.size} / ${b.size} / ${c.size} rooted counts")
  }

  test("chunkTokens boundary sizes: exact window, window+1, single token, empty text") {
    def mk(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val w64 = (1 to 64).map(i => s"t$i").mkString(" ")
    val w65 = (1 to 65).map(i => s"t$i").mkString(" ")
    val got = operators.CurationOps.chunkTokens(
      mk(1L -> w64, 2L -> w65, 3L -> "solo", 4L -> ""))
      .select("doc_id", "chunk_id", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 0L, 64L),            // n == W: exactly one full chunk
      (2L, 0L, 64L), (2L, 1L, 17L), // n == W+1: second chunk = overlap+1
      (3L, 0L, 1L),             // single token
      (4L, 0L, 1L)))            // empty text tokenizes to [""] — one chunk
  }

  test("redact scrubs every e-mail/phone and leaves clean text untouched") {
    val df = Seq(
      "reach me at first.last+x@sub.example.org now",
      "call 555-0134 or 555-0199",
      "no pii here at all").toDF("text")
    val out = df.select(operators.CurationOps.redact(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "reach me at <EMAIL> now")
    assert(out(1) == "call <PHONE> or <PHONE>")
    assert(out(2) == "no pii here at all")
  }

  test("tokenBudgetHead: zero-weight docs kept inside the window, empty input empty") {
    val w = Seq((1L, 0L), (2L, 10L), (3L, 0L), (4L, 10L)).toDF("doc_id", "n_tokens")
    // budget 15: the whole shuffle-ordered prefix until cum ≥ 15; every
    // zero-weight doc before the crossing is kept (before < budget)
    val got = operators.CurationOps.tokenBudgetHead(w, budget = 15L, salt = "t:")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.nonEmpty && got.map(_._2).max >= 15L)
    val empty = operators.CurationOps.tokenBudgetHead(
      spark.emptyDataset[(Long, Long)].toDF("doc_id", "n_tokens"),
      budget = 5L, salt = "t:")
    assert(empty.count() == 0L)
  }

  test("curriculumOrder: single-bucket input degenerates to plain ranking") {
    val items = (1L to 7L).map(i => (i, 3L)).toDF("doc_id", "bucket")
    val got = operators.CurationOps.curriculumOrder(items, buckets = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.map(_._2).toSeq == (0L to 6L), got.toSeq) // ranks 0..n-1
    got.foreach { case (_, rk, pos) => assert(pos == rk * 10 + 3) }
    assert(operators.CurationOps.curriculumOrder(
      spark.emptyDataset[(Long, Long)].toDF("doc_id", "bucket"), 10).count() == 0L)
  }

  test("frameDedupPairs: sub-frame media and empty tables produce no pairs") {
    val tiny = multimodal.Multimodal.asMediaTable(
      Seq((1L, "short", "s"), (2L, "short", "s")).toDF("doc_id", "text", "source"))
    assert(multimodal.Multimodal.frameDedupPairs(spark, tiny).count() == 0L)
    val none = multimodal.Multimodal.asMediaTable(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"))
    assert(multimodal.Multimodal.frameDedupPairs(spark, none).count() == 0L)
  }

  test("snapshotDiff of identical or empty snapshots is empty") {
    val a = Seq((1L, "x", 1.0), (2L, null: String, 2.0)).toDF("k", "s", "b")
    assert(operators.MiscOps.snapshotDiff(a, a, "k", Seq("s", "b")).count() == 0L)
    val e = Seq.empty[(Long, String, Double)].toDF("k", "s", "b")
    assert(operators.MiscOps.snapshotDiff(e, e, "k", Seq("s", "b")).count() == 0L)
    // one empty side classifies everything as added/removed
    val add = operators.MiscOps.snapshotDiff(e, a, "k", Seq("s", "b"))
      .collect().map(_.getString(1)).toSet
    assert(add == Set("added"))
  }

  test("exact sums over an empty relation are null, not zero or a crash") {
    val empty = spark.emptyDataset[Long].toDF("x")
    val r = empty.agg(
      functions.Exact.lsum(col("x"), 2).as("l"),
      functions.Exact.dsum(col("x")).as("d")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("hash sampling of an empty table is empty (predicate still valid)") {
    val none = Tables.documents(spark, sfDir).filter(lit(false))
    val sampled = none.filter(pmod(functions.TextFns.hash60(
      concat(lit("sample:"), col("doc_id"))), lit(100L)) < 20)
    assert(sampled.count() == 0)
  }

  test("kCorePeel: K4 survives its own 3-core, a star peels to nothing") {
    // K4: every node degree 3 — the 3-core is the whole clique
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b))
      .toDF("src", "dst")
    val core = operators.GraphOps.kCorePeel(k4, k = 3, rounds = 3).collect()
    assert(core.length == 4 && core.forall(_.getLong(1) == 3L), core.toSeq)
    // star: hub degree 5, leaves degree 1 — leaves die round 1, the hub
    // (degree 0 after) dies round 2; nothing survives
    val star = (1L to 5L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    assert(operators.GraphOps.kCorePeel(star, k = 3, rounds = 3).isEmpty)
    // empty edge list: no rows, no crash
    assert(operators.GraphOps.kCorePeel(
      k4.filter(lit(false)), k = 3, rounds = 3).isEmpty)
  }

  test("greedyCoverRounds stops early when sources run out") {
    val sg = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 3L), ("b", 4L))
      .toDF("source", "g")
    val picks = operators.TextOps.greedyCoverRounds(spark, sg, rounds = 4)
      .orderBy("step").collect()
    // 2 sources -> 2 picks despite rounds = 4; a first (3 grams), then b
    // whose marginal gain is only the uncovered gram 4
    assert(picks.length == 2, picks.toSeq)
    assert(picks(0).getString(1) == "a" && picks(0).getLong(2) == 3L)
    assert(picks(1).getString(1) == "b" && picks(1).getLong(2) == 1L)
    // empty pair table: no picks, no crash
    assert(operators.TextOps.greedyCoverRounds(
      spark, sg.filter(lit(false)), rounds = 4).isEmpty)
  }

  test("ksFromCounts: identical distributions give D = 0; empty input is inert") {
    val same = Seq((1L, 5L, 5L), (2L, 3L, 3L)).toDF("v", "c1", "c2")
    val r = operators.StatsOps.ksFromCounts(same).head()
    assert(r.getAs[Double]("ks_d") == 0.0 && r.getAs[Long]("n1") == 8L)
    // an empty count table yields the single null aggregate row, never a
    // crash — callers (the streaming monitor) only invoke it on
    // non-empty batches, but the worst partition must stay benign
    val empty = operators.StatsOps.ksFromCounts(same.filter(lit(false))).head()
    assert(empty.isNullAt(empty.fieldIndex("ks_d")))
  }

  test("zipf slope of a single-term corpus is NULL, not an ANSI crash") {
    // one distinct token -> one point -> zero OLS denominator; the
    // operator surfaces the undefined fit as NULL via nullif (ANSI mode
    // would otherwise throw DIVIDE_BY_ZERO on the worst partition)
    val docs = Seq((1L, "spark spark spark")).toDF("doc_id", "text")
    val r = operators.TextOps.zipfSlopeCore(docs).head()
    assert(r.getAs[Long]("n_terms") == 1L)
    assert(r.isNullAt(r.fieldIndex("zipf_slope")))
  }

  test("mutualInfoCore: one cell gives zero MI and NULL NMI, not a crash") {
    // a single (x, y) cell has zero entropy on both margins: the NMI
    // denominator is 0 -> nullif keeps it NULL instead of an ANSI error
    val one = Seq.fill(7)(("a", "u")).toDF("source", "lang")
    val r = operators.MiscOps.mutualInfoCore(one, "source", "lang").head()
    assert(r.getLong(0) == 7 && r.getDouble(1) == 0.0)
    assert(r.isNullAt(r.fieldIndex("nmi")))
  }

  test("giniCore: constant sizes give exactly 0; empty input is empty") {
    val const = Seq.tabulate(9)(i => (i.toLong, "s", 50L))
      .toDF("doc_id", "source", "n_chars")
    val g = operators.StatsOps.giniCore(const, col("n_chars")).head()
    assert(g.getDouble(3) == 0.0, g.toString)
    val empty = spark.emptyDataset[(Long, String, Long)]
      .toDF("doc_id", "source", "n_chars")
    assert(operators.StatsOps.giniCore(empty, col("n_chars")).isEmpty)
    // all mass on one doc: gini = (n-1)/n exactly (the discrete maximum)
    val spike = (Seq((0L, "s", 1000L)) ++
      Seq.tabulate(9)(i => (i + 1L, "s", 0L))).toDF("doc_id", "source", "n_chars")
    val gs = operators.StatsOps.giniCore(spike, col("n_chars")).head()
    assert(gs.getDouble(3) == 0.9, gs.toString)
  }

  test("heapsLawCore: single source yields NULL slope, not a crash") {
    val docs = Seq((1L, "alpha beta gamma", "only"),
      (2L, "alpha beta delta", "only")).toDF("doc_id", "text", "source")
    val r = operators.TextOps.heapsLawCore(docs).head()
    assert(r.getLong(0) == 1)
    assert(r.isNullAt(r.fieldIndex("heaps_beta")))
  }

  test("wJaccardCore: single-source corpus yields an empty pair frame") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta", "only"), (2L, "beta gamma", "only"))
      .toDF("doc_id", "text", "source")
    assert(operators.TextOps.wJaccardCore(docs).count() == 0)
  }

  test("wJaccardCore: identical distributions score exactly 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "a b b c", "s1"), (2L, "b a c b", "s2"))
      .toDF("doc_id", "text", "source")
    val r = operators.TextOps.wJaccardCore(docs).head()
    assert(r.getDouble(3) == 1.0, r.toString)
  }

  test("goodTuringCore: sub-bigram docs yield the empty-aggregate row, not a crash") {
    import spark.implicits._
    val docs = Seq((1L, "single", "s"), (2L, "", "s"))
      .toDF("doc_id", "text", "source")
    val r = operators.TextOps.goodTuringCore(docs).head()
    assert(r.isNullAt(r.fieldIndex("n_bigrams")))
    assert(r.getLong(r.fieldIndex("vocab")) == 0)
    assert(r.isNullAt(r.fieldIndex("gt_missing_mass")))
  }

  test("goodTuringCore: all-distinct bigrams give missing mass exactly 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d", "s")).toDF("doc_id", "text", "source")
    val r = operators.TextOps.goodTuringCore(docs).head()
    assert(r.getLong(0) == 3 && r.getLong(2) == 3)
    assert(r.getDouble(r.fieldIndex("gt_missing_mass")) == 1.0)
  }

  test("mannWhitneyCore: all-tied samples give AUC exactly 0.5 and NaN z") {
    import spark.implicits._
    // every doc the same length: U must be exactly n_a*n_b/2, and the
    // tie-corrected variance collapses to 0 -> z undefined (NaN), not a crash
    val docs = (1L to 8L).map(i =>
      (i, "x", if (i <= 4) "src0" else "src1", 100L))
      .toDF("doc_id", "text", "source", "n_chars")
    val r = operators.StatsOps.mannWhitneyCore(docs, "src0", "src1").head()
    assert(r.getDouble(r.fieldIndex("u_a")) == 8.0)
    assert(r.getDouble(r.fieldIndex("auc")) == 0.5)
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("mannWhitneyCore: complete separation gives AUC exactly 1.0") {
    import spark.implicits._
    val docs = (1L to 8L).map(i =>
      (i, "x", if (i <= 4) "src0" else "src1", if (i <= 4) 900L + i else i))
      .toDF("doc_id", "text", "source", "n_chars")
    val r = operators.StatsOps.mannWhitneyCore(docs, "src0", "src1").head()
    assert(r.getDouble(r.fieldIndex("auc")) == 1.0)
  }

  test("cramersVCore: single-label column gives chi2 0 and NULL V, not a crash") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, "x", "only", s"src${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
    val r = operators.StatsOps.cramersVCore(docs).head()
    assert(r.getDouble(r.fieldIndex("chi2")) == 0.0)
    assert(r.isNullAt(r.fieldIndex("cramers_v")))
  }

  test("cramersVCore: perfect 2x2 association scores exactly 1.0") {
    import spark.implicits._
    val docs = (1L to 8L).map(i =>
      (i, "x", if (i % 2 == 0) "l1" else "l2", if (i % 2 == 0) "s1" else "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val r = operators.StatsOps.cramersVCore(docs).head()
    assert(r.getDouble(r.fieldIndex("cramers_v")) == 1.0, r.toString)
  }

  test("q210 count-min estimates honor the one-sided bound and do collide") {
    val r = operators.MiscOps.q210CountMin(spark, sfDir).collect()
    assert(r.length == 20)
    // CMS never underestimates…
    r.foreach(row => assert(row.getLong(row.fieldIndex("overcount")) >= 0L))
    // …and at w=16 the 46-term vocab must actually share cells
    assert(r.exists(_.getLong(3) > 0L))
  }

  test("q211 backlog opens and closes every order exactly once") {
    val rows = operators.EventOps.q211OpenOrders(spark, sfDir)
      .orderBy(col("d")).collect()
    assert(rows.map(_.getLong(1)).sum == rows.map(_.getLong(2)).sum)
    // the difference array must never dip negative and must fully drain
    rows.foreach(r => assert(r.getLong(r.fieldIndex("n_open")) >= 0L))
    assert(rows.last.getLong(rows.last.fieldIndex("n_open")) == 0L)
  }

  test("wilsonRankCore: small perfect sample ranks below a large near-perfect one") {
    import spark.implicits._
    val docs = (Seq.fill(3)(("tiny", true)) ++
      Seq.fill(970)(("big", true)) ++ Seq.fill(30)(("big", false)))
      .toDF("source", "pass")
    val r = operators.TextOps.wilsonRankCore(docs).collect()
      .map(x => x.getString(0) -> x).toMap
    val (tiny, big) = (r("tiny"), r("big"))
    // raw rates would rank tiny (1.0) first; the Wilson bound must not
    assert(tiny.getDouble(3) == 1.0)
    assert(tiny.getDouble(4) < big.getDouble(4), s"$tiny vs $big")
    r.values.foreach { row =>
      val (p, lb) = (row.getDouble(3), row.getDouble(4))
      assert(lb >= 0.0 && lb <= p, row.toString)
    }
  }

  test("q220: quantization error is nonnegative and bounded by half-step per dim") {
    val rows = operators.SimilarityOps.q220QuantError(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val err = r.getLong(r.fieldIndex("err_q"))
      assert(err >= 0L)
      // |e_i| <= scale/254 and scale <= max|x|; with unit-ish embeddings the
      // per-vector total must stay far below one (1e15-scaled) unit
      assert(r.getDouble(r.fieldIndex("mse")) < 1.0, r.toString)
    }
  }

  test("q223: exactly the first twelve months carry NULL growth") {
    val rows = operators.Relational.q223YoyGrowth(spark, sfDir).collect()
    val nulls = rows.filter(_.isNullAt(rows.head.fieldIndex("yoy_growth")))
    // the orders feed starts 1995-01: its first calendar year has no baseline
    assert(nulls.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (1 to 12).map(m => (1995L, m.toLong)).toSet, nulls.mkString(","))
  }

  test("q224: five-number summaries are ordered and outliers are a minority") {
    val rows = operators.Relational.q224Boxplot(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val Seq(q1, med, q3, lo, hi) = Seq("q1", "median", "q3",
        "whisker_lo", "whisker_hi").map(c => r.getDouble(r.fieldIndex(c)))
      assert(lo <= q1 && q1 <= med && med <= q3 && q3 <= hi, r.toString)
      assert(r.getLong(r.fieldIndex("n_outliers")) <
        r.getLong(r.fieldIndex("n")), r.toString)
    }
  }

  test("q225: point-in-time features never see the present or future") {
    import org.apache.spark.sql.expressions.Window
    val feats = operators.Relational.q225PitFeatures(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    // per customer the prior-order counts must be exactly 0,1,2,... in
    // (date, key) order — any other sequence leaks rows into the frame
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val seq0 = o.withColumn("expect", row_number().over(w).cast("long") - 1)
      .join(feats, Seq("o_orderkey"))
    assert(seq0.filter(col("expect") =!= col("prior_orders")).isEmpty)
    // and a first order always has zero prior spend
    assert(seq0.filter(col("expect") === 0 && col("prior_spend") =!= 0.0).isEmpty)
  }

  test("q226: negatives are never true interactions and cap at 5 per customer") {
    val neg = operators.Relational.q226NegativeSamples(spark, sfDir)
    val bought = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_partkey").as("partkey"))
      .distinct()
    assert(neg.join(bought, Seq("custkey", "partkey"), "left_semi").isEmpty)
    val per = neg.groupBy("custkey").count().collect()
    assert(per.nonEmpty)
    per.foreach(r => assert(r.getLong(1) <= 5L))
  }

  test("kruskalCore: two groups reproduce the Mann-Whitney z (H = z^2)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(120) { i =>
      val g = if (i % 2 == 0) "src0" else "src1"
      val v = (if (g == "src0") 100 else 108) + rnd.nextInt(30)
      (i.toLong, "x", g, v.toLong)
    }
    val kw = operators.StatsOps.kruskalCore(
      rows.toDF("doc_id", "text", "lang", "n_chars")
        .select(col("n_chars").as("v"), col("lang"))).head()
    val mw = operators.StatsOps.mannWhitneyCore(
      rows.toDF("doc_id", "text", "source", "n_chars"),
      "src0", "src1").head()
    val h = kw.getDouble(kw.fieldIndex("h_tie_corrected"))
    val z = mw.getDouble(mw.fieldIndex("z"))
    assert(math.abs(h - z * z) < 1e-6, s"H=$h z^2=${z * z}")
  }

  test("q228: never-ordered customers are kept, churned, with NULL recency") {
    val rows = operators.Relational.q228ChurnLabels(spark, sfDir).collect()
    val silent = rows.filter(_.getLong(1) == 0L)
    silent.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("recency_days")))
      assert(r.getBoolean(r.fieldIndex("churned")))
      assert(r.getDouble(r.fieldIndex("spend")) == 0.0)
    }
    rows.filter(_.getLong(1) > 0L).foreach { r =>
      val rec = r.getLong(r.fieldIndex("recency_days"))
      assert(r.getBoolean(r.fieldIndex("churned")) == (rec > 180L), r.toString)
    }
  }

  test("q230: AUC is a probability and order frequency carries retention signal") {
    val r = operators.Relational.q230LabelAuc(spark, sfDir).head()
    val auc = r.getDouble(r.fieldIndex("auc"))
    assert(auc >= 0.0 && auc <= 1.0)
    // churn is defined by inactivity, so activity count must rank above chance
    assert(auc > 0.5, auc.toString)
  }

  test("q231: band rates are probabilities and bands partition all customers") {
    val rows = operators.Relational.q231RiskBands(spark, sfDir).collect()
    rows.foreach { r =>
      val rate = r.getDouble(r.fieldIndex("churn_rate"))
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getLong(r.fieldIndex("n_churned")) <= r.getLong(r.fieldIndex("n")))
    }
    val total = rows.map(_.getLong(rows.head.fieldIndex("n"))).sum
    assert(total == Tables.customer(spark, sfDir).count())
  }

  test("q232: the gains curve is monotone and ends at full capture, lift >= 1 at the risky end") {
    val rows = operators.Relational.q232GainsCurve(spark, sfDir)
      .orderBy(col("v")).collect()
    val caps = rows.map(_.getDouble(rows.head.fieldIndex("capture_rate")))
    assert(caps.zip(caps.tail).forall { case (a, b) => a <= b })
    assert(caps.last == 1.0)
    assert(rows.last.getDouble(rows.last.fieldIndex("frac_targeted")) == 1.0)
    // targeting the riskiest (fewest-order) customers must beat random
    assert(rows.head.getDouble(rows.head.fieldIndex("lift")) >= 1.0)
  }

  test("datasheetCore: an empty feed reports counts of 0 and NULL ratios, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val rows = operators.CurationOps.datasheetCore(empty).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("n_docs").getDouble(1) == 0.0)
    assert(rows("exact_dup_frac").isNullAt(1))
  }

  test("jsdCore: a one-sided comparison yields NULL divergence, not a crash") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta", "src0"), (2L, "beta gamma", "src0"))
      .toDF("doc_id", "text", "source")
    val r = operators.TextOps.jsdCore(docs, "src0", "src1").head()
    assert(r.isNullAt(r.fieldIndex("jsd")))
  }

  test("q233: resolution respects the Murphy bound (<= uncertainty)") {
    val r = operators.Relational.q233BandResolution(spark, sfDir).head()
    val unc = r.getDouble(r.fieldIndex("uncertainty"))
    val res = r.getDouble(r.fieldIndex("resolution"))
    val ef = r.getDouble(r.fieldIndex("explained_frac"))
    assert(res >= 0.0 && res <= unc + 1e-9, s"res=$res unc=$unc")
    assert(ef >= 0.0 && ef <= 1.0 + 1e-9, ef.toString)
  }

  test("essCore: single-domain corpus has ESS exactly n") {
    import spark.implicits._
    val one = Seq.tabulate(12)(i => (i.toLong, "solo")).toDF("doc_id", "lang")
    val r = operators.CurationOps.essCore(one).head()
    assert(r.getLong(0) == 12 && r.getDouble(1) == 12.0 &&
      r.getDouble(2) == 1.0, r.toString)
  }
}
