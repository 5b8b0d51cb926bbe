package graft

import graft.operators._

/** Invariant checks for the operator inventory over sf0.001 (full
  * cross-engine value equality is covered by `graft.Verify` +
  * `tools/check.py` against the DuckDB oracle — these specs assert the
  * semantic properties that a hash-compare alone wouldn't explain). */
class OperatorSpec extends SparkTestBase {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared oracle query name exists in queries") {
    val q = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(q))
    assert(q.size >= 40)
  }

  test("q09 keeps ties like the reference J1 join form") {
    val df = Relational.q09LatestPerUser(spark, sfDir)
    val perUser = df.groupBy("user_id").count().collect()
    assert(perUser.forall(_.getLong(1) >= 1L))
    assert(df.count() >= perUser.length) // ties may add rows, never remove
  }

  test("q35 jaccard pairs are all above threshold and ordered a<b") {
    val rows = DedupOps.q35NgramJaccard(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(2) >= 0.6))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("q35 positional filter prunes candidates without dropping any true pair") {
    val withPos = DedupOps.q35Candidates(spark, sfDir, positional = true).count()
    val withoutPos = DedupOps.q35Candidates(spark, sfDir, positional = false).count()
    info(s"candidates: prefix-only=$withoutPos, +positional=$withPos")
    assert(withPos < withoutPos,
      s"positional bound pruned nothing ($withoutPos -> $withPos)")
    // exactness: verifying the PRUNED candidate set yields the identical
    // pair set as verifying the unfiltered one (the bound never drops a
    // true pair)
    def pairs(positional: Boolean) =
      DedupOps.q35Verified(spark, sfDir, positional).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(positional = true)
    assert(got == pairs(positional = false) && got.nonEmpty)
  }

  test("gram3_hash64 is collision-free on the corpus and counts grams right") {
    import org.apache.spark.sql.functions._
    import graft.functions.{HashExprs, TextFns}
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    // one hash per gram, none for docs under 3 tokens
    val sizes = toks.select(size(col("toks")).as("n"),
      size(HashExprs.gram3_hash64(col("toks"))).as("g")).collect()
    assert(sizes.forall(r => r.getInt(1) == math.max(0, r.getInt(0) - 2)))
    // injectivity on this corpus: |distinct hashes| == |distinct string grams|
    val nHash = toks.select(explode(HashExprs.gram3_hash64(col("toks"))).as("h"))
      .select(countDistinct(col("h"))).head().getLong(0)
    val nGram = toks.select(explode(TextFns.shingles(col("toks"), 3)).as("g"))
      .select(countDistinct(col("g"))).head().getLong(0)
    assert(nHash == nGram, s"$nHash hashes vs $nGram grams")
  }

  test("exact-dup pre-collapse is output-invariant (q35/q36/q37/q214)") {
    // r9: the collapse runs candidate generation on exact-dup
    // REPRESENTATIVES and re-expands (or, for q214, weights). This
    // asserts the whole construction against the uncollapsed pipelines:
    // an IDENTITY collapse (every doc its own group) reproduces the
    // pre-r9 computation exactly, so collapsed == identity-collapsed
    // proves expansion/weighting added and dropped nothing — on the spec
    // corpus, whose planted dup clusters exercise both pair kinds.
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.TextFns.normText(col("text")).as("norm"))
    // the spec corpus has NO exact duplicates (its planted dups are
    // near-dups) — plant them: one full copy plus a second copy of a
    // deterministic fifth, yielding multiplicities 2 and 3, with copy
    // ids interleaved both above and below their originals so the
    // least/greatest re-orientation in the expansion is exercised
    val normed = base
      .union(base.select(col("doc_id") + 1000000L, col("norm")))
      .union(base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id") - 1000000L, col("norm")))
    val nn = normed.filter(col("norm").isNotNull)
    val identity = DedupOps.Collapsed(
      reps = nn,
      map = nn.select(col("doc_id"), col("doc_id").as("rep_id")),
      groups = nn.select(col("doc_id").as("rep_id"), lit(1L).as("mult"),
        size(split(col("norm"), " ")).cast("long").as("n_toks")))
    val collapsed = DedupOps.collapseExact(normed)
    assert(collapsed.groups.filter(col("mult") >= 3L).count() > 0)
    def set(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    def expanded(c: DedupOps.Collapsed, pairs: org.apache.spark.sql.DataFrame,
        within: Seq[org.apache.spark.sql.Column], elig: org.apache.spark.sql.Column) =
      set(DedupOps.expandRepPairs(pairs, c, within, elig))
    val q35u = expanded(identity, DedupOps.repPairsJaccard(identity),
      Seq(lit(1.0).as("jaccard")), col("n_toks") >= 3L)
    val q35c = expanded(collapsed, DedupOps.repPairsJaccard(collapsed),
      Seq(lit(1.0).as("jaccard")), col("n_toks") >= 3L)
    assert(q35c == q35u && q35u.nonEmpty,
      s"q35: ${(q35c -- q35u).take(3)} / ${(q35u -- q35c).take(3)}")
    val q36u = set(DedupOps.repPairsMinhash(identity))
    val q36c = expanded(collapsed, DedupOps.repPairsMinhash(collapsed),
      Seq.empty, col("n_toks") >= 3L)
    assert(q36c == q36u && q36u.nonEmpty,
      s"q36: ${(q36c -- q36u).take(3)} / ${(q36u -- q36c).take(3)}")
    val q37u = set(DedupOps.repPairsSimhash(identity)
      .select("doc_a", "doc_b", "hamming"))
    val q37c = expanded(collapsed, DedupOps.repPairsSimhash(collapsed),
      Seq(lit(0L).as("hamming")), lit(true))
    assert(q37c == q37u && q37u.nonEmpty,
      s"q37: ${(q37c -- q37u).take(3)} / ${(q37u -- q37c).take(3)}")
    // r10 (ADVICE): a withinCols/extras name mismatch must fail loudly
    // at build time, never silently mislabel a positional union
    val mismatch = intercept[IllegalArgumentException] {
      DedupOps.expandRepPairs(DedupOps.repPairsJaccard(collapsed), collapsed,
        Seq(lit(1.0).as("jaccard_misnamed")), col("n_toks") >= 3L)
    }
    assert(mismatch.getMessage.contains("expandRepPairs"))
    // q214's weighted counts == count(*) of the declared expanded sets
    // (on the raw corpus — multiplicity-1 weighting must equal counting)
    val r = DedupOps.q214LshEval(spark, sfDir).head()
    assert(r.getLong(0) == DedupOps.q35NgramJaccard(spark, sfDir).count())
    assert(r.getLong(1) == DedupOps.q36MinhashLsh(spark, sfDir).count())
  }

  test("mega-group within expansion is salted yet exact above the threshold") {
    // r10: groups larger than WithinSaltThreshold take the bucket-pair
    // self-join (the zipf mega-group fix); the salt must change the
    // DISTRIBUTION only — pair set exactly C(m,2), each pair once,
    // oriented doc_a < doc_b — while a small group on the same corpus
    // rides the unsalted path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val m = (operators.Skew.WithinSaltThreshold + 76).toInt
    val mega = spark.range(0, m).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta").as("norm"))
    val small = Seq(
      (5000000L, "epsilon zeta eta theta"),
      (5000001L, "epsilon zeta eta theta"),
      (6000000L, "iota kappa lambda mu")).toDF("doc_id", "norm")
    val c = operators.DedupOps.collapseExact(mega.unionByName(small))
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = operators.DedupOps.expandRepPairs(
      noPairs, c, Seq.empty, col("n_toks") >= 3L)
    val megaPairs = m.toLong * (m - 1) / 2
    val n = out.count()
    assert(n == megaPairs + 1, s"got $n, want ${megaPairs + 1}")
    assert(out.distinct().count() == n, "duplicate pairs from the salt")
    assert(out.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(out.filter(col("doc_b") < 5000000L).count() == megaPairs)
    // the CROSS expansion of a rep pair touching the mega group is also
    // salted (bucketed member join) and must stay exact: every (mega
    // member, small member) combination exactly once
    val repPair = Seq((0L, 5000000L)).toDF("doc_a", "doc_b")
    val out2 = operators.DedupOps.expandRepPairs(
      repPair, c, Seq.empty, col("n_toks") >= 3L)
    val want2 = m.toLong * 2 + megaPairs + 1
    assert(out2.count() == want2, s"got ${out2.count()}, want $want2")
    assert(out2.distinct().count() == want2)
    assert(out2.filter(col("doc_a") < 5000000L && col("doc_b") >= 5000000L)
      .count() == m.toLong * 2)
    // plan witness: the big-group paths actually run the bucketed form
    // (an explode of the bucket sequence feeding the join keys) — the
    // distribution claim, visible in the plan, not just the counts
    val plan = out2.queryExecution.optimizedPlan.toString
    assert(plan.contains("sequence(") && plan.contains("explode"),
      "salted expansion shape missing from the plan")
  }

  test("q64 star-form CC equals CC over the expanded member pairs (mega + near-dup corpus)") {
    // r12: q64 feeds CC the connectivity-equivalent edge set (rep-level
    // LSH pairs + member->rep stars) instead of the expanded member
    // pairs — a 3·10⁴-member group's C(M,2) ≈ 4.5·10⁸ CC edges carry no
    // connectivity beyond their M-edge star (the member-pair form
    // GC-thrashed a 32g heap at that multiplicity, SCALING.md r12).
    // This spec is the equivalence proof on a corpus with all four node
    // classes: a mega dup group, a second dup group whose text NEAR-dups
    // the mega text (cross rep pair), singleton near-dups, and an
    // INELIGIBLE (<3 tokens) dup group that must appear in neither graph.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val mega = spark.range(0, 80).select(col("id").as("doc_id"),
      lit(s"$base mu").as("norm"))
    val dup2 = spark.range(200, 212).select(col("id").as("doc_id"),
      lit(s"$base nu").as("norm"))
    val singles = Seq((500L, s"$base xi"), (501L, s"$base omicron"),
      (600L, "pi rho sigma tau upsilon"), (700L, "chi psi")).toDF("doc_id", "norm")
    val shorties = spark.range(800, 806).select(col("id").as("doc_id"),
      lit("xy zz").as("norm"))
    val c = DedupOps.collapseExact(
      mega.unionByName(dup2).unionByName(singles).unionByName(shorties))
    val repPairs = DedupOps.repPairsMinhash(c)
    // the fixture must exercise CROSS pairs or the star test is vacuous
    assert(repPairs.count() > 0, "fixture produced no rep-level pairs — tune texts")
    def set(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val expandedCC = set(DedupOps.connectedComponents(
      DedupOps.expandRepPairs(repPairs, c, Seq.empty, col("n_toks") >= 3L)))
    val starCC = set(DedupOps.connectedComponents(DedupOps.ccEdgesMinhash(c)))
    assert(starCC == expandedCC && starCC.nonEmpty,
      s"star/expanded CC diverge: ${(starCC -- expandedCC).take(3)} / " +
        s"${(expandedCC -- starCC).take(3)}")
    // r12: the declared form moved the star edges OUT of the iterative
    // loop (rep-graph CC + post-loop star attachment) — same rows as
    // both full-graph forms, node domain and labels alike
    val repCC = set(DedupOps.clustersFromCollapsed(c))
    assert(repCC == expandedCC,
      s"rep-level/expanded CC diverge: ${(repCC -- expandedCC).take(3)} / " +
        s"${(expandedCC -- repCC).take(3)}")
    // the ineligible shorties group is in NEITHER node domain
    assert(!expandedCC.exists(_.startsWith("80")) &&
      !starCC.exists(_.startsWith("80")) &&
      !repCC.exists(_.startsWith("80")), "ineligible group leaked into CC")
  }

  test("triangle orientation branches agree on the real near-dup graph") {
    // r10: q83's adaptive dispatch (id-ordered below the wedge
    // threshold, degree-ordered above) must be invisible on the corpus
    // the declared query actually runs on — same rooted counts from
    // the dispatcher, the forced degree branch, and the r1-r10 form
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g = DedupOps.q36MinhashLsh(spark, sfDir)
    val dispatched = m(DedupOps.triangles(g))
    val degForced = m(DedupOps.trianglesAdaptive(g, 1L))
    val idBaseline = m(DedupOps.trianglesAdaptive(g, Long.MaxValue))
    assert(dispatched == idBaseline && degForced == idBaseline
        && idBaseline.nonEmpty,
      s"sizes: ${dispatched.size} / ${degForced.size} / ${idBaseline.size}")
  }

  test("q83 blow-up closed form: worked K5 example, then corpus parity across the dispatch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the scaladoc's worked example: groups {1,4}, {2,5}, {3} on a rep
    // triangle blow up to K5 — rooted counts 6/3/1 (docs 4, 5 root none)
    val c0 = DedupOps.Collapsed(
      reps = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "norm"),
      map = Seq((1L, 1L), (4L, 1L), (2L, 2L), (5L, 2L), (3L, 3L))
        .toDF("doc_id", "rep_id"),
      groups = Seq((1L, 2L, 5L), (2L, 2L, 5L), (3L, 1L, 5L))
        .toDF("rep_id", "mult", "n_toks"))
    val repTri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k5 = m(DedupOps.trianglesBlowup(c0, repTri.localCheckpoint(true)))
    assert(k5 == Map(1L -> 6L, 2L -> 3L, 3L -> 1L), s"got $k5")
    // corpus parity: the CC star spec's corpus (mega group + near-dup
    // group + singleton near-dups + an ineligible short group) through
    // BOTH q83Core branches — the dispatch must be invisible
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val mega = spark.range(0, 80).select(col("id").as("doc_id"),
      lit(s"$base mu").as("norm"))
    val dup2 = spark.range(200, 212).select(col("id").as("doc_id"),
      lit(s"$base nu").as("norm"))
    val singles = Seq((500L, s"$base xi"), (501L, s"$base omicron"),
      (600L, "pi rho sigma tau upsilon"), (700L, "chi psi")).toDF("doc_id", "norm")
    val shorties = spark.range(800, 806).select(col("id").as("doc_id"),
      lit("xy zz").as("norm"))
    val c = DedupOps.collapseExact(
      mega.unionByName(dup2).unionByName(singles).unionByName(shorties))
    val closed = m(DedupOps.q83Core(c, 0L))
    val enumd = m(DedupOps.q83Core(c, Long.MaxValue))
    assert(closed == enumd && closed.nonEmpty,
      s"sizes: ${closed.size} / ${enumd.size}")
    // doc 0 is the mega clique's min member: roots at least C(79,2)
    assert(closed(0L) >= 79L * 78 / 2, s"doc 0 roots ${closed.get(0L)}")
  }

  test("minhash-LSH candidates cover the true near-dup pairs") {
    val truth = DedupOps.q35NgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = DedupOps.q36MinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall of banding vs exact jaccard>=0.6 (planted dups are ~0.98)
    val recall = truth.count(cand).toDouble / math.max(truth.size, 1)
    assert(recall >= 0.9, s"minhash recall $recall, truth=${truth.size}")
  }

  test("knn brute force returns exactly 10 ranked neighbors per query") {
    val rows = SimilarityOps.q39KnnBrute(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(byQ.values.forall(_.length == 10))
    // scores are sorted descending by rank
    byQ.values.foreach { rs =>
      val scores = rs.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("int8-quantized kNN recalls most float-ranked neighbors") {
    val truth = SimilarityOps.q39KnnBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SimilarityOps.q93KnnInt8(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(got).toDouble / truth.size
    assert(recall >= 0.8, s"int8 recall@10 = $recall")
  }

  test("IVF ANN with 2-of-16 probes recalls most brute-force neighbors") {
    val truth = SimilarityOps.q39KnnBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = SimilarityOps.q52KnnIvf(spark, sfDir).collect()
    val ivf = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(ivf).toDouble / truth.size
    assert(recall >= 0.3, s"ivf recall@10 = $recall")
    assert(ivf.forall { case (q, _) => q < 5 })
    // the self-certification columns must agree with the independently
    // recomputed per-query recall and the mean over the probe set
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val mine = rs.map(_.getLong(1)).count(n => truth((q, n))) / 10.0
      rs.foreach { r =>
        assert(r.getAs[Double]("recall_at_10") == mine, s"q$q")
        assert(r.getAs[Boolean]("recall_ok"))
        assert(r.getAs[Double]("mean_recall_at_10") ==
          truth.count(ivf).toDouble / (10 * truth.map(_._1).size))
      }
    }
    // populated at all ⟹ the in-plan raise over the IVF mean held
    assert(rows.nonEmpty)
  }

  test("IVF rows do not depend on partition layout or the width target") {
    // every step of the Lloyd's fit is exact integer arithmetic,
    // so neither the shuffle width nor the widen target may move a row
    def run(): Seq[String] =
      SimilarityOps.q52KnnIvf(spark, sfDir).collect().map(_.toString).sorted.toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val runs = try {
      Seq("4", "32").map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        run()
      } :+ {
        spark.conf.set("spark.graft.widen.target", "32")
        run()
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.unset("spark.graft.widen.target")
    }
    assert(runs.head.nonEmpty)
    assert(runs.forall(_ == runs.head))
  }

  test("knn LSH results are a subset of correct cosine ordering in-bucket") {
    val rows = SimilarityOps.q40KnnLsh(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(3) <= 10))
  }

  test("custom TopKPerKey operator equals the window row_number form") {
    import org.apache.spark.sql.functions._
    val got = operators.WindowOps.q54TopKCustom(spark, sfDir)
    val want = operators.WindowOps.q10WindowTopN(spark, sfDir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // physical plan is the two-phase custom exec, not a Window sort
    val plan = got.queryExecution.executedPlan.toString
    assert("TopKPerKey .*, true".r.findFirstIn(plan).isDefined, plan)  // partial
    assert("TopKPerKey .*, false".r.findFirstIn(plan).isDefined, plan) // final
    assert(!plan.contains("Window"), plan)
    // SQLMetrics: collect() executes got's OWN plan (derived plans build
    // fresh exec nodes), after which the final phase must report exactly
    // the result row count, bounded by k per key
    val nRows = got.collect().length.toLong
    // descend through AQE wrappers and query stages (leaf nodes to collect)
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val nested = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          all(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          all(s.plan)
        case _ => Nil
      }
      p +: (p.children.flatMap(all) ++ nested)
    }
    val execs = all(got.queryExecution.executedPlan).collect {
      case e: plans.TopKPerKey.TopKPerKeyExec if !e.partial => e
    }
    assert(execs.nonEmpty)
    val outRows = execs.head.metrics("numOutputRows").value
    val nKeys = execs.head.metrics("numKeys").value
    assert(outRows == nRows && outRows <= nKeys * 3,
      s"outRows=$outRows nRows=$nRows nKeys=$nKeys")
  }

  test("embeddingLshPairs generalizes the band structure; pairs stay exact") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExprs.{quantized_dot, quantized_norm2}
    // the corpus-sizing knob: same operator, 8-bit bands (256 buckets)
    // instead of the testdata-pinned 4 — every emitted pair must still
    // pass the exact cosine gate computed independently
    val e = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding").as("q"))
      .withColumn("n2", quantized_norm2(col("q")))
    val lsh = operators.DedupOps.embeddingLshPairs(e, bandsN = 2,
      bitsPerBand = 8, minCos = 0.4).select("vec_a", "vec_b")
    val a = e.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("n2").as("na2"))
    val b = e.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("n2").as("nb2"))
    val exact = a.join(b, col("vec_a") < col("vec_b"))
      .filter(quantized_dot(col("qa"), col("qb")).cast("double")
        / sqrt((col("na2") * col("nb2")).cast("double")) >= 0.4)
      .select("vec_a", "vec_b")
    assert(lsh.count() > 0)
    assert(lsh.exceptAll(exact).isEmpty, "LSH emitted a non-near-dup pair")
  }

  test("q95/q96: tie-keeping tiers and per-source cap run on the custom exec") {
    import org.apache.spark.sql.functions._
    // q95 DenseTies: at most 2 distinct buckets per lang, and every kept
    // (lang, bucket) tier is COMPLETE — no member of a kept bucket was cut
    val tiers = operators.WindowOps.q95QualityTiers(spark, sfDir)
    // tier choice runs on the tiny (lang, bucket) aggregate via the custom
    // operator; the map broadcasts back onto one corpus pass (running the
    // tie-keeper on the corpus itself would buffer whole tiers per task)
    val p95 = tiers.queryExecution.executedPlan.toString
    assert("TopKPerKey .*, true".r.findFirstIn(p95).isDefined, p95)
    assert(p95.contains("BroadcastHashJoin"), p95)
    val perLang = tiers.groupBy("lang")
      .agg(countDistinct(col("bucket")).as("nb")).collect()
    assert(perLang.nonEmpty && perLang.forall(_.getLong(1) <= 2))
    val all = operators.TextOps.scoredDocs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        floor(col("quality") * 20).cast("long").as("bucket"))
    val keptTiers = tiers.select("lang", "bucket").distinct()
    val want = all.join(keptTiers, Seq("lang", "bucket")).select("doc_id")
    assert(tiers.select("doc_id").exceptAll(want).isEmpty
      && want.exceptAll(tiers.select("doc_id")).isEmpty)
    // q96 RowNum: ≤ 64 docs per source, deterministic across runs
    val cap = operators.CurationOps.q96SourceCap(spark, sfDir)
    val bySrc = cap.groupBy("source").count().collect()
    assert(bySrc.nonEmpty && bySrc.forall(_.getLong(1) <= 64))
    val again = operators.CurationOps.q96SourceCap(spark, sfDir)
    assert(cap.exceptAll(again).isEmpty && again.exceptAll(cap).isEmpty)
  }

  test("TopKRewrite turns the SQL row_number<=k pattern into the heap operator") {
    import org.apache.spark.sql.functions._
    // q10 is written as the plain window-filter form — the optimizer rule
    // must swap the sort-based WindowGroupLimit for two TopKPerKey phases
    val df = operators.WindowOps.q10WindowTopN(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey .*, true".r.findFirstIn(plan).isDefined, plan)
    assert("TopKPerKey .*, false".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("WindowGroupLimit"), plan)
    // the surviving Window only re-ranks pruned rows; values are unchanged
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(3) <= 3))
    // q21's window also computes ntile — a SIZE-BASED function whose value
    // depends on the pruned rows, so the rewrite must NOT fire (rank alone
    // would be fine: see the tie-keeping test in PlanShapeSpec)
    val rankPlan = operators.WindowOps.q21RankBattery(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!rankPlan.contains("TopKPerKey"), rankPlan)
  }

  test("exact-moment stats agree with Spark's builtin stddev/corr") {
    import org.apache.spark.sql.functions._
    val got = operators.StatsOps.q55Moments(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val want = Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
      .agg(stddev_samp(col("l_quantity")).as("sd"),
        corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv")).collect()
    assert(want.nonEmpty)
    want.foreach { r =>
      val g = got(r.getString(0))
      assert(math.abs(g.getAs[Double]("stddev_qty") - r.getDouble(1)) < 1e-6)
      assert(math.abs(g.getAs[Double]("corr_qty_price") - r.getDouble(2)) < 1e-6)
      assert(math.abs(g.getAs[Double]("covar_qty_price") - r.getDouble(3)) < 1e-3)
    }
  }

  test("q126: exact-integer OLS agrees with Spark's builtin regr_* aggregates") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns.tokens
    val got = operators.StatsOps.q126GroupRegression(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val want = Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("double").as("x"),
        col("n_chars").cast("double").as("y"))
      .groupBy("lang")
      .agg(expr("regr_slope(y, x)").as("sl"),
        expr("regr_intercept(y, x)").as("ic"),
        expr("regr_r2(y, x)").as("r2"))
      .collect()
    assert(want.length == got.size && want.nonEmpty)
    want.foreach { r =>
      val g = got(r.getString(0))
      assert(math.abs(g.getAs[Double]("slope") - r.getDouble(1)) < 1e-6, r)
      assert(math.abs(g.getAs[Double]("intercept") - r.getDouble(2)) < 1e-4, r)
      assert(math.abs(g.getAs[Double]("r2") - r.getDouble(3)) < 1e-6, r)
    }
  }

  test("q127: transition rows are a row-stochastic matrix over all adjacent pairs") {
    import org.apache.spark.sql.functions._
    val got = operators.EventOps.q127Transitions(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (from, rows) =>
      assert(rows.map(_._3).sum == rows.head._4, s"$from: counts != n_from")
      assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-9, s"$from: not stochastic")
      rows.foreach { case (_, _, c, nFrom, p) =>
        assert(p == c.toDouble / nFrom)
      }
    }
    // every adjacent pair in every user sequence is counted exactly once:
    // total transitions = Σ_users (n_events − 1)
    val perUser = Tables.events(spark, sfDir).groupBy("user_id").count()
      .agg(sum(col("count") - 1)).collect()(0).getLong(0)
    assert(got.map(_._3).sum == perUser)
  }

  test("q125: sequential-Poisson draw equals the full-sort reference, keys exact") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    val got = operators.CurationOps.q125SeqPoisson(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 50)
    val ref = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(TextFns.tokens(col("text")), t => t =!= ""))
          .cast("long").as("w"),
        TextFns.hash60(concat(lit("sps:"), col("doc_id").cast("string")))
          .as("h"))
      .filter(col("w") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .map { case (id, w, h) => (id, w, h.toDouble / w) }
      .sortBy { case (id, _, k) => (k, id) }.take(50)
    assert(got.toSeq == ref.toSeq)
  }

  test("hash sampling is deterministic and near the nominal rate") {
    val total = Tables.documents(spark, sfDir).count().toDouble
    val a = operators.StatsOps.q58HashSample(spark, sfDir)
    val b = operators.StatsOps.q58HashSample(spark, sfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty) // no RNG state
    val rate = a.count() / total
    assert(rate > 0.1 && rate < 0.3, s"sample rate $rate")
  }

  test("gap-fill grid is dense per user and forward-fills missing days") {
    import org.apache.spark.sql.functions._
    val g = operators.StatsOps.q59GapFill(spark, sfDir)
    // dense: per user, rows == span days
    val bad = g.groupBy("user_id")
      .agg(count(lit(1)).as("rows"),
        (datediff(max(col("d")), min(col("d"))) + 1).as("span"))
      .filter(col("rows") =!= col("span")).count()
    assert(bad == 0L)
    // filled_value only null before a user's first observed day
    assert(g.filter(col("day_value").isNotNull
      && col("filled_value").isNull).count() == 0L)
  }

  test("typed Dataset pipeline agrees with the untyped DataFrame queries") {
    import org.apache.spark.sql.functions._
    // typed pricing rows == q01's (flag, status, sum_qty, count) columns
    val typed = operators.TypedOps.pricingTyped(spark, sfDir).collect()
      .map(r => (r.l_returnflag, r.l_linestatus) -> ((r.sum_qty, r.n))).toMap
    val want = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 0)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(graft.functions.Exact.fsum(col("l_quantity")).as("s"),
        count(lit(1)).as("n")).collect()
    assert(want.nonEmpty)
    want.foreach { r =>
      val (s, n) = typed((r.getString(0), r.getString(1)))
      assert(s == r.getDouble(2) && n == r.getLong(3))
    }
    // typed HAVING == q19's key set
    val typedBig = operators.TypedOps.bigCustomersTyped(spark, sfDir)
      .collect().map(_.o_custkey).toSet
    val wantBig = operators.Relational.q19Having(spark, sfDir)
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(typedBig == wantBig)
  }

  test("connected components label chains, cliques, and pairs correctly") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 round), clique {10,11,12}, pair {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = operators.DedupOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(Seq(20L, 21L).forall(got(_) == 20L))
    assert(got.size == 9)
  }

  test("q89: no near-dup pair straddles the train/eval split") {
    val split = operators.DedupOps.q89LeakFreeSplit(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // total cover, both sides non-trivial at a 90/10 hash split
    assert(split.nonEmpty && split.values.map(_._2).toSet == Set("train", "eval"))
    // every edge of the cluster graph lands on ONE side (q35 truth is
    // covered to the extent of q36's recall, spec'd ≥ 0.9 above)
    val edges = operators.DedupOps.q36MinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(split(a)._1 == split(b)._1 && split(a)._2 == split(b)._2,
        s"pair ($a,$b) straddles the split")
    }
  }

  test("connected components keeps O(1) pinned storage across rounds") {
    import spark.implicits._
    // long chain 0-1-...-9 forces many label-propagation rounds; each
    // round checkpoints, so without the unpersist of superseded rounds
    // the persistent-RDD registry would grow by ~#rounds
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = operators.DedupOps.connectedComponents(chain)
    assert(labels.collect().forall(_.getLong(1) == 0L))
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the final round's checkpoint (which the result still reads)
    // may remain pinned
    assert(after - before <= 1, s"persistent RDDs grew $before -> $after")
  }

  test("curation pipeline composes: monotone attrition, valid lake output") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("curatespec").toString
    val counts = PipelineDemo.curate(spark, sfDir, out)
    val byName = counts.toMap
    // every attrition stage can only shrink the corpus (chunking fans out
    // afterwards: ≥ 1 window per surviving doc)
    val attrition = counts.takeWhile(_._1 != "chunks_written").map(_._2)
    assert(attrition.zip(attrition.tail).forall { case (a, b) => b <= a }, counts)
    assert(byName("written") > 0 && byName("written") == byName("train_split"))
    assert(byName("chunks_written") >= byName("written"), counts)
    // lake layout: partitioned by lang, reads back with token counts
    val back = spark.read.parquet(s"$out/curated")
    assert(back.columns.contains("lang") && back.columns.contains("n_bpe_tokens"))
    assert(back.filter(col("n_bpe_tokens") <= 0).count() == 0L)
    // PII scrub ran over the lake copy
    assert(back.filter(col("text").rlike(
      "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")).count() == 0L)
    // near-dup stage really removed every LSH pair's larger id
    val losers = operators.DedupOps.q36MinhashLsh(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    assert(back.join(losers, Seq("doc_id")).count() == 0L)
    // semantic decontamination removed every embedding-space eval match
    val semFlagged = operators.SimilarityOps.q112SemanticDecontam(spark, sfDir)
      .select(col("vec_id").as("doc_id"))
    assert(back.join(semFlagged, Seq("doc_id")).count() == 0L)
    // leakage-free split: no written doc is in the eval side of q89
    val evalSide = operators.DedupOps.q89LeakFreeSplit(spark, sfDir)
      .filter(col("split") === "eval").select("doc_id")
    assert(back.join(evalSide, Seq("doc_id")).count() == 0L)
    // packed sequences respect the budget; the shuffle manifest is a
    // permutation of the packed items
    val packed = spark.read.parquet(s"$out/packed")
    assert(packed.filter(col("fill") > 512).count() == 0L)
    assert(byName("packed_sequences") > 0
      && byName("packed_sequences") <= byName("chunks_written"))
    val manifest = spark.read.parquet(s"$out/manifest")
    assert(manifest.count() == packed.count()
      && byName("manifest_rows") == packed.count())
    assert(manifest.select("pos").distinct().count() == packed.count())
    // drift monitor produced per-bucket terms; probe is a PPS draw from
    // the curated corpus (every probe doc is a curated doc)
    assert(byName.contains("drift_buckets"))
    val probe = spark.read.parquet(s"$out/probe")
    assert(probe.count() == byName("probe_docs") && probe.count() > 0)
    assert(probe.join(back, Seq("doc_id"), "left_anti").count() == 0L)
    // the datasheet shipped next to the corpus and describes the SHIPPED
    // rows (its n_docs metric equals the lake row count)
    val sheet = spark.read.parquet(s"$out/datasheet")
    assert(sheet.count() == byName("datasheet_metrics") && sheet.count() >= 8)
    assert(sheet.filter(col("metric") === "n_docs").head().getDouble(1) ==
      back.count().toDouble)
  }

  test("generic AsOfJoin.backward agrees with the q41 window formulation") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sfDir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        unix_micros(col("ts")).as("last_purchase_us"), col("event_id").as("p_id"))
    val got = operators.AsOfJoin.backward(
      left = e.select("event_id", "user_id", "ts"),
      right = purchases.select("user_id", "p_ts", "last_purchase_us", "p_id"),
      keys = Seq("user_id"), leftTime = "ts", rightTime = "p_ts",
      payload = Seq("last_purchase_us"), rightTiebreak = Some("p_id"))
      .select(col("event_id"), col("last_purchase_us"))
    val want = operators.EventOps.q41AsOf(spark, sfDir)
      .select(col("event_id"), unix_micros(col("last_purchase_ts")).as("last_purchase_us"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("quantized_dot/norm2 match the interpreted higher-order form") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExprs._
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir).limit(100)
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000 + 0.5).cast("long")).as("q"))
    val cmp = e.select(
      quantized_norm2(col("embedding")).as("fused"),
      aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("interp"),
      quantized_dot(col("embedding"), col("embedding")).as("fused_dot"),
      long_dot(col("q"), col("q")).as("fused_long"))
    assert(cmp.filter(col("fused") =!= col("interp")).isEmpty)
    assert(cmp.filter(col("fused_dot") =!= col("fused")).isEmpty)
    assert(cmp.filter(col("fused_long") =!= col("interp")).isEmpty)
    // int8_codes == the interpreted maxabs+quantize HOF chain, element-wise
    val q8 = e.select(
      int8_codes(col("embedding")).as("fused8"),
      transform(col("embedding"), x =>
        floor(x.cast("double") / greatest(aggregate(col("embedding"), lit(0.0),
          (acc, y) => greatest(acc, abs(y.cast("double")))), lit(1e-30))
          * 127 + 0.5).cast("long")).as("interp8"))
    assert(q8.filter(col("fused8") =!= col("interp8")).isEmpty)
    // count_in_array == size(filter(toks, array_contains(vocab, t)))
    val ca = Seq(
      (Seq("a", "b", "a", "c"), Seq("a", "c")),
      (Seq.empty[String], Seq("a")),
      (Seq("x"), Seq.empty[String])).toDF("toks", "vocab")
      .select(count_in_array(col("toks"), col("vocab")).as("fused"),
        size(filter(col("toks"),
          t => array_contains(col("vocab"), t))).cast("long").as("interp"))
    assert(ca.filter(col("fused") =!= col("interp")).isEmpty)
  }

  test("custom expressions are callable from SQL after registration") {
    Tables.embeddings(spark, sfDir).limit(10).createOrReplaceTempView("emb_sql")
    val rows = spark.sql(
      """SELECT vec_id, quantized_norm2(embedding) AS n2,
        |       quantized_dot(embedding, embedding) AS selfdot
        |FROM emb_sql""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2) && r.getLong(1) > 0))
  }

  test("approx_count_distinct lands within its 2% rsd band (5% slack)") {
    import org.apache.spark.sql.functions._
    // q42 is self-certifying since r7 (est_within_pct + an in-query
    // raise_error at 5%); the spec cross-checks the emitted error
    // column against an independently computed exact count. Since r10
    // the estimates live on the internal q42Full frame (the declared
    // output is the oracle-able subset).
    val rows = operators.Relational.q42Full(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val exact = Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("x")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val a = r.getAs[Long]("approx_parts").toDouble
      val x = exact(r.getString(0)).toDouble
      assert(math.abs(a - x) / x <= 0.05, s"approx $a vs exact $x")
      assert(r.getAs[Long]("exact_parts").toDouble == x)
      assert(r.getAs[Double]("est_within_pct") <= 5.0)
      assert(r.getAs[Boolean]("within_bound"))
    }
    // the declared (oracle-checked) surface is the deterministic subset
    val declared = operators.Relational.q42ApproxDistinct(spark, sfDir)
    assert(declared.columns.toSeq == Seq("l_returnflag", "exact_parts",
      "exact_orders", "n", "within_bound"))
    assert(declared.collect().forall(_.getAs[Boolean]("within_bound")))
  }

  test("qm4: segments are maximal active runs with exact energies") {
    import org.apache.spark.sql.functions._
    val segs = multimodal.Multimodal.qm4AudioSegments(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(segs.nonEmpty)
    // independent reimplementation from the raw text bytes
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
    val ref = docs.flatMap { case (id, bytes) =>
      val energies = (0 until bytes.length / 32).map { f =>
        (f.toLong, (f * 32 until (f + 1) * 32).map(bytes(_) & 0xff).sum.toLong)
      }
      val active = energies.filter(_._2 >= 3050L)
      // split into maximal consecutive runs
      active.foldLeft(List.empty[List[(Long, Long)]]) {
        case (acc @ (run @ ((lastF, _) :: _)) :: rest, fe)
            if fe._1 == lastF + 1 => (fe :: run) :: rest
        case (acc, fe) => List(fe) :: acc
      }.map { run =>
        val fs = run.map(_._1)
        (id, fs.min, fs.max, run.size.toLong, run.map(_._2).sum)
      }
    }
    assert(segs.toSet == ref.toSet)
    assert(segs.length == ref.length)
    // maximality: within a doc no two segments are adjacent or overlap
    segs.groupBy(_._1).values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._2 > a._3 + 1, s"${a} ${b} not maximal")
        case _ =>
      }
    }
  }

  test("multimodal resize downsamples deterministically by the factor") {
    import org.apache.spark.sql.functions._
    val media = multimodal.Multimodal.asMediaTable(Tables.documents(spark, sfDir))
    val resized = multimodal.Multimodal.resizeMedia(spark, media, factor = 4).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      val orig = r.getLong(1)
      val out = r.getAs[Array[Byte]](2)
      assert(out.length == (orig + 3) / 4)
    }
  }

  test("q129: fluency mass identities — Σ mass = Σ c², n_bigrams = tokens − 1") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns.tokens
    val got = TextOps.q129BigramFluency(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.nonEmpty)
    // per-doc bigram count is exactly (#non-empty tokens − 1)
    val nToks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= "")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, r) =>
      assert(r.getAs[Long]("n_bigrams") == nToks(id) - 1, id)
      val frac = r.getAs[Double]("common_frac")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getAs[Double]("mean_freq") ==
        r.getAs[Long]("mass").toDouble / r.getAs[Long]("n_bigrams"))
    }
    // each bigram token of a type with count c contributes c to mass, so
    // the corpus-wide mass total collapses to Σ_types c² — an identity
    // that only holds if the join matched every bigram exactly once
    val sumMass = got.values.map(_.getAs[Long]("mass")).sum
    val sumC2 = {
      val bg = Tables.documents(spark, sfDir)
        .select(filter(tokens(col("text")), t => t =!= "").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws("", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("b"))
      bg.groupBy("b").count().agg(sum(col("count") * col("count")))
        .collect()(0).getLong(0)
    }
    assert(sumMass == sumC2)
  }

  test("q130: DSIR weights exclude the target split and decompose exactly") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    val got = CurationOps.q130DsirWeights(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val target = Tables.documents(spark, sfDir)
      .filter(pmod(TextFns.hash60(concat(lit("bench:"),
        col("doc_id").cast("string"))), lit(100)) < 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(target.nonEmpty)
    assert(got.map(_._1).toSet.intersect(target).isEmpty)
    got.foreach { case (id, n, sum, avg) =>
      assert(n > 0, id)
      assert(avg == sum.toDouble / n, id)
    }
    // every non-target doc with ≥1 token is scored (the weight table
    // covers the joint vocabulary, so the scoring join drops nothing)
    val rawDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(TextFns.tokens(col("text")), t => t =!= "")).as("n"))
      .filter(col("n") > 0)
      .collect().map(_.getLong(0)).filterNot(target).toSet
    assert(got.map(_._1).toSet == rawDocs)
  }

  test("q131: cohort week-0 retention is exactly 1.0 and users partition") {
    import org.apache.spark.sql.functions._
    val got = EventOps.q131CohortRetention(spark, sfDir).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.nonEmpty)
    // a user is always active in their own first week
    val w0 = got.filter(_._2 == 0L)
    assert(w0.nonEmpty)
    w0.foreach { case (_, _, nAct, nCoh, ret) =>
      assert(nAct == nCoh); assert(ret == 1.0)
    }
    got.foreach { case (_, off, nAct, nCoh, ret) =>
      assert(off >= 0L)
      assert(nAct <= nCoh)
      assert(ret == nAct.toDouble / nCoh)
    }
    // cohorts partition the user base
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(got.filter(_._2 == 0L).map(_._4).sum == users)
  }

  test("q132: covariance diagonal equals var_pop of the quantized values") {
    import org.apache.spark.sql.functions._
    val got = SimilarityOps.q132EmbedCovariance(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cov")).toMap
    assert(got.size == 64 * 65 / 2)
    val q = Tables.embeddings(spark, sfDir)
      .select(posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * 1000 + 0.5).cast("long")))
        .as(Seq("pos", "qv")))
    val want = q.groupBy("pos")
      .agg(var_pop(col("qv")).as("v")).collect()
      .map(r => r.getInt(0).toLong -> r.getDouble(1)).toMap
    want.foreach { case (i, v) =>
      assert(math.abs(got((i, i)) - v / 1e6) < 1e-9, s"dim $i")
    }
    // one off-diagonal cell against the builtin covar_pop
    val c01 = Tables.embeddings(spark, sfDir)
      .select(
        floor(element_at(col("embedding"), 1).cast("double") * 1000 + 0.5)
          .as("a"),
        floor(element_at(col("embedding"), 2).cast("double") * 1000 + 0.5)
          .as("b"))
      .agg(covar_pop(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(got((0L, 1L)) - c01 / 1e6) < 1e-9)
  }

  test("q133: novelty decay partitions the gram universe; shard 0 all-novel") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns.tokens
    val got = TextOps.q133NoveltyDecay(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).sortBy(_._1)
    assert(got.nonEmpty)
    // every gram present in shard 0 has min-shard 0, so shard 0 is 100% novel
    assert(got.head._1 == 0L && got.head._2 == got.head._3)
    // novel counts partition the distinct-gram universe
    val universe = Tables.documents(spark, sfDir)
      .select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(array_distinct(
        graft.functions.HashExprs.gram3_hash64(col("toks")))).as("g"))
      .distinct().count()
    assert(got.map(_._3).sum == universe)
    assert(got.last._5 == universe) // cumulative curve tops out at the universe
    // cumulative is the running sum of novel counts, monotone
    got.foldLeft(0L) { case (acc, (_, _, nv, _, cum)) =>
      assert(cum == acc + nv); cum
    }
  }

  test("q134: window attribution equals the naive purchases-x-clicks join") {
    import org.apache.spark.sql.functions._
    val got = EventOps.q134LastTouch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long]))
      .toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    val want = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
      .join(ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us").as("cus")),
        Seq("user_id"), "left")
      .groupBy(col("event_id"), col("us"))
      .agg(max(when(col("cus") < col("us"), col("cus"))).as("last"))
      .select(col("event_id"),
        when(col("us") - col("last") <= 604800000000L,
          col("us") - col("last")).as("gap"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, gap) => assert(want(id) == gap, id) }
  }

  test("q135: equi-depth buckets are balanced, ordered, and exhaustive") {
    val got = StatsOps.q135GlobalNtile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == (0L until 10L))
    val n = Tables.orders(spark, sfDir).count()
    assert(got.map(_._2).sum == n)
    // (pos*10) div n puts either floor(n/10) or ceil(n/10) rows per bucket
    got.foreach { case (b, rows, _, _) =>
      assert(rows == n / 10 || rows == n / 10 + 1, s"bucket $b: $rows")
    }
    // depth boundaries are ordered and non-overlapping (ties permitting)
    got.sliding(2).foreach {
      case Array((_, _, _, hi), (_, _, lo2, _)) => assert(hi <= lo2)
      case _ =>
    }
  }

  test("q136: recall agrees with a driver-side set intersection") {
    val got = SimilarityOps.q136AnnRecall(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val truth = SimilarityOps.q39KnnBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = SimilarityOps.q40KnnLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == truth.keySet)
    got.foreach { case (q, (nTruth, nHits, recall)) =>
      val want = truth(q).intersect(approx.getOrElse(q, Set.empty)).size
      assert(nTruth == truth(q).size, q)
      assert(nHits == want, q)
      assert(recall == nHits.toDouble / nTruth)
      assert(recall >= 0.0 && recall <= 1.0)
    }
  }

  test("q137: span-window identities and gramk(3) == gram3") {
    import org.apache.spark.sql.functions._
    import graft.functions.{HashExprs, TextFns}
    val got = TextOps.q137RepeatedSpans(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.nonEmpty)
    val nToks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(TextFns.tokens(col("text")), t => t =!= "")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every doc with >= 10 tokens appears, with exactly n-9 windows
    nToks.filter(_._2 >= 10).foreach { case (id, n) =>
      val (w, rep, frac) = got(id)
      assert(w == n - 9, id)
      assert(rep <= w && frac == rep.toDouble / w, id)
    }
    assert(got.keySet == nToks.filter(_._2 >= 10).keySet)
    // Σ per-doc repeated windows == Σ over span types with count>=2 of count
    val spans = Tables.documents(spark, sfDir)
      .select(explode(HashExprs.gramk_hash64(
        filter(TextFns.tokens(col("text")), t => t =!= ""), 10)).as("h"))
      .groupBy("h").count()
    val wantRep = spans.filter(col("count") >= 2)
      .agg(coalesce(sum(col("count")), lit(0L))).collect()(0).getLong(0)
    assert(got.values.map(_._2).sum == wantRep)
    // the k-generalized hash agrees with the fused 3-gram expression
    val both = Tables.documents(spark, sfDir)
      .select(TextFns.tokens(col("text")).as("toks"))
      .select(HashExprs.gram3_hash64(col("toks")).as("a"),
        HashExprs.gramk_hash64(col("toks"), 3).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(both == 0L)
  }

  test("q138: phrase search counts overlaps, normalizes, handles mixed lengths") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.TextFns
    val docs = Seq(
      (1L, "a a a a b"),          // "a a" occurs 3x (overlapping), "a a a" 2x
      (2L, "Sort  MERGE join\tnow"), // normalization: case + whitespace
      (3L, "b c d"),              // no hits
      (4L, "a a")                 // exactly one "a a", too short for "a a a"
    ).toDF("doc_id", "text")
    val got = TextOps.phraseSearch(docs,
        Seq("a a", "a a a", "sort merge join", "zzz"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a a", 1L) -> 3L, ("a a a", 1L) -> 2L, ("a a", 4L) -> 1L,
      ("sort merge join", 2L) -> 1L))
    // declared query agrees with a string-window recount at this scale
    val want = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        filter(TextFns.tokens(col("text")), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", col("toks")(i), col("toks")(i + 1),
          col("toks")(i + 2)))).as("g"))
      .filter(col("g").isin("table scan merge", "big order scan",
        "stream spark window", "sort merge join", "hash join order"))
      .groupBy(col("g"), col("doc_id")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val decl = TextOps.q138PhraseSearch(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(decl == want)
  }

  test("q139: histogram quantiles are partition-invariant and bin-width exact") {
    import org.apache.spark.sql.functions._
    val rows = StatsOps.q139HistQuantile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(25L, 50L, 75L, 90L, 99L))
    // estimates are monotone in the quantile and inside the data range
    val cents = Tables.lineitem(spark, sfDir)
      .select(graft.functions.Exact.cents(col("l_extendedprice")).as("v"))
    val Array(vmin, vmax, n) = cents
      .agg(min("v"), max("v"), count(lit(1))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert(rows.sliding(2).forall(p => p(0)._4 <= p(1)._4))
    rows.foreach { case (_, bin, _, est) =>
      assert(bin >= 0 && bin <= 999)
      assert(est >= vmin - 1e-9 && est <= vmax + 1e-9)
    }
    // sketch error bound: |est - exact percentile| <= one bin width (cents)
    val binWidth = math.max(vmax - vmin, 1L) / 1000.0
    val sorted = cents.orderBy("v").collect().map(_.getLong(0))
    rows.foreach { case (q, _, _, est) =>
      val exact = sorted((((q * n + 99) / 100) - 1).toInt)
      assert(math.abs(est - exact) <= binWidth + 1e-6,
        s"q$q est=$est exact=$exact")
    }
    // mergeable: bit-identical output whatever the INPUT partitioning
    val Seq(a, b) = Seq(1, 13).map { k =>
      StatsOps.histQuantile(cents.repartition(k))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    }
    assert(a == b && a == rows.toSeq)
  }

  test("q140: ingest triage labels every feed doc with the right disposition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fingerprints A,B are in the corpus; C,D arrive only in the feed;
    // C arrives twice (within-feed dup), B arrives twice in the feed too
    val fps = Seq(
      (1L, "A", true), (2L, "B", true),          // existing corpus
      (10L, "B", false), (11L, "B", false),      // both corpus dups
      (12L, "C", false), (13L, "C", false),      // first admitted, second feed-dup
      (14L, "D", false)                          // admitted
    ).toDF("doc_id", "fp", "is_old")
    val got = DedupOps.ingestTriage(fps)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(10L -> "dup_of_corpus", 11L -> "dup_of_corpus",
      12L -> "admitted", 13L -> "dup_in_feed", 14L -> "admitted"))
    // declared query: one row per feed doc, statuses are consistent with
    // independently recomputed corpus/feed fingerprint sets
    val all = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(graft.functions.TextFns.normText(col("text"))).as("fp"),
        (pmod(graft.functions.TextFns.hash60(
          concat(lit("old:"), col("doc_id").cast("string"))),
          lit(10L)) < 7L).as("is_old"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val corpusFps = all.filter(_._3).map(_._2).toSet
    val feedRows = all.filter(!_._3)
    val decl = DedupOps.q140IngestTriage(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(decl.size == feedRows.length)
    feedRows.foreach { case (id, fp, _) =>
      val want =
        if (corpusFps(fp)) "dup_of_corpus"
        else if (feedRows.filter(_._2 == fp).map(_._1).min != id) "dup_in_feed"
        else "admitted"
      assert(decl(id) == want, s"doc $id")
    }
  }

  test("q142: head-tail pairs find the split-document boundary, nothing else") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z a b c"),   // tail "a b c"
      (2L, "a b c q r"),     // head "a b c"  -> pair (1, 2)
      (3L, "a b"),           // too short for k=3
      (4L, "a b c"),         // head == tail "a b c": pairs with 1 and 2
      (5L, "q r s t")        // unrelated
    ).toDF("doc_id", "text")
    val got = DedupOps.headTailPairs(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 4's head AND tail are "a b c": it both continues 1 and precedes
    // 2; the self-pair (4,4) is excluded
    assert(got == Set((1L, 2L), (1L, 4L), (4L, 2L)), got)
    // declared query agrees with a string-slice recount
    val strPairs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        filter(graft.functions.TextFns.tokens(col("text")),
          t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), 1, 3)).as("head"),
        concat_ws(" ", slice(col("toks"), -3, 3)).as("tail"))
    val want = strPairs.as("a").join(strPairs.as("b"),
        col("a.tail") === col("b.head") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val decl = DedupOps.q142HeadTailOverlap(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(decl == want && decl.nonEmpty)
  }

  test("q141: association rules match hand-computed metrics, lift symmetric") {
    import org.apache.spark.sql.functions._
    val got = EventOps.q141AssocRules(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got.nonEmpty)
    // recompute from the raw distinct (user, type) sets
    val ut = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byUser = ut.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nUsers = byUser.size.toLong
    val singles = ut.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    got.foreach { case ((a, b), (nBoth, sup, conf, lift)) =>
      val wantBoth = byUser.values.count(s => s(a) && s(b)).toLong
      assert(nBoth == wantBoth, s"$a->$b")
      assert(sup == nBoth.toDouble / nUsers)
      assert(conf == nBoth.toDouble / singles(a))
      assert(lift == (nBoth * nUsers).toDouble / (singles(a) * singles(b)))
      // lift and support are symmetric; confidence need not be
      assert(got((b, a))._1 == nBoth && got((b, a))._4 == lift)
    }
  }

  test("multimodal features are deterministic 8-dim unit-mass histograms") {
    val media = multimodal.Multimodal.asMediaTable(Tables.documents(spark, sfDir))
    val f = multimodal.Multimodal.extractFeatures(spark, media).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      val feats = r.getSeq[Float](3)
      assert(feats.length == 8)
      assert(math.abs(feats.sum - 1.0f) < 1e-3)
    }
    // flattened query form: exactly 8 scalar rows per doc, same unit mass
    import org.apache.spark.sql.functions._
    val q = multimodal.Multimodal.qm1Features(spark, sfDir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum("value").as("mass")).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      assert(r.getAs[Long]("n") == 8L)
      assert(math.abs(r.getAs[Double]("mass") - 1.0) < 1e-3)
    }
  }

  test("q143: char_stats matches hand-computed moments, ASCII and beyond") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // "aab": n=3, distinct=2, sumSq=2²+1=5, top=2; "ééa" exercises the
    // non-ASCII fallback with the same moment profile
    val rows = Seq("aab", "ééa", "zzzz", "abc")
      .toDF("text")
      .select(graft.functions.TextExprs.char_stats(col("text")).as("cs"))
      .collect().map(_.getSeq[Long](0))
    assert(rows(0) == Seq(3L, 2L, 5L, 2L))
    assert(rows(1) == Seq(3L, 2L, 5L, 2L))
    assert(rows(2) == Seq(4L, 1L, 16L, 4L))
    assert(rows(3) == Seq(3L, 3L, 3L, 1L))
    // declared query ≡ the relational recount (explode chars, aggregate)
    val decl = TextOps.q143CharDiversity(spark, sfDir)
      .select("doc_id", "n_chars", "distinct_chars", "sum_sq", "top_count")
    val recount = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_chars"),
        count(lit(1)).as("distinct_chars"),
        sum(col("c") * col("c")).cast("long").as("sum_sq"),
        max(col("c")).as("top_count"))
    assert(decl.exceptAll(recount).isEmpty && recount.exceptAll(decl).isEmpty)
    assert(decl.count() > 0)
  }

  test("q144: kept/lost token accounting is exact at every budget") {
    import org.apache.spark.sql.functions._
    val got = CurationOps.q144ContextBudget(spark, sfDir).collect()
      .map(r => r.getAs[Long]("budget") -> r).toMap
    assert(got.keySet == Set(256L, 512L, 1024L, 2048L))
    val nTok = Tables.documents(spark, sfDir)
      .select(size(filter(graft.functions.TextFns.tokens(col("text")),
        t => t =!= "")).cast("long").as("n"))
      .collect().map(_.getLong(0))
    got.foreach { case (b, r) =>
      assert(r.getAs[Long]("n_docs") == nTok.length)
      assert(r.getAs[Long]("docs_truncated") == nTok.count(_ > b))
      assert(r.getAs[Long]("tokens_total") == nTok.sum)
      assert(r.getAs[Long]("tokens_kept") == nTok.map(math.min(_, b)).sum)
    }
    // budgets are nested: kept tokens must be monotone in the budget
    val kept = got.toSeq.sortBy(_._1).map(_._2.getAs[Long]("tokens_kept"))
    assert(kept == kept.sorted)
  }

  test("qm5: duplicate blobs dedup to one stored chunk set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val text = ("x" * 64) + ("y" * 30) // 2 chunks: one full, one tail
    val docs = Seq((1L, text, "en", "s0", 94L), (2L, text, "en", "s0", 94L),
        (3L, "z" * 10, "en", "s1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = multimodal.Multimodal
      .chunkDedup(multimodal.Multimodal.asMediaTable(docs))
      .collect().map(r => r.getString(0) -> r).toMap
    val s0 = got("s0")
    assert(s0.getAs[Long]("n_chunks") == 4L)
    assert(s0.getAs[Long]("n_distinct") == 2L)
    assert(s0.getAs[Long]("bytes_total") == 188L)
    assert(s0.getAs[Long]("bytes_stored") == 94L)
    assert(math.abs(s0.getAs[Double]("saving_frac") - 0.5) < 1e-12)
    val s1 = got("s1")
    assert(s1.getAs[Long]("n_chunks") == 1L &&
      s1.getAs[Long]("bytes_stored") == 10L &&
      s1.getAs[Double]("saving_frac") == 0.0)
  }

  test("q145: containment matches a direct recount and is honestly asymmetric") {
    import org.apache.spark.sql.functions._
    val fp = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.HashExprs.winnow_fingerprints(
          graft.functions.TextFns.normText(col("text")), 8, 16)).as("mh"))
    val nfp = fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rare = fp.groupBy("mh").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 20)).select("mh")
    val shared = fp.join(rare, "mh").as("a")
      .join(fp.join(rare, "mh").as("b"),
        col("a.mh") === col("b.mh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = shared.collect {
      case ((a, b), sh) if sh.toDouble / nfp(a) >= 0.3 =>
        (a, b) -> (sh, nfp(a))
    }.toMap
    val got = DedupOps.q145Containment(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Long]("n_a")))).toMap
    assert(got == want && got.nonEmpty)
    // asymmetry is real in the data: some pair passes in one direction only
    assert(got.keys.exists { case (a, b) => !got.contains((b, a)) })
  }

  test("q146: cluster-size profile books every clustered doc exactly once") {
    import org.apache.spark.sql.functions._
    val clusters = DedupOps.q64DedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val want = clusters.groupBy(_._2).values.map(_.size.toLong)
      .groupBy(identity).map { case (sz, g) => sz -> g.size.toLong }
    val got = DedupOps.q146ClusterSizes(spark, sfDir).collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Double]("corpus_frac"))))
      .toMap
    assert(got.map { case (sz, (nc, _, _)) => sz -> nc } == want)
    got.foreach { case (sz, (nc, nd, frac)) =>
      assert(sz >= 2) // singletons never enter the cluster map
      assert(nd == sz * nc)
      assert(frac > 0 && frac < 1)
    }
    assert(got.values.map(_._2).sum == clusters.length.toLong)
  }

  test("q160: fuzzy linkage equals an in-driver recount over the name dictionary") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val counts = Tables.part(spark, sfDir).select("p_name").collect()
      .map(_.getString(0)).groupBy(identity)
      .map { case (n, g) => n -> g.length.toLong }
    val names = counts.keys.toSeq
    val want = (for {
      x <- names; y <- names if x < y
      if x.split(" ")(1) == y.split(" ")(1)
      d = lev(x.split(" ")(0), y.split(" ")(0)); if d >= 1 && d <= 2
    } yield (x, y) -> ((d.toLong, counts(x), counts(y)))).toMap
    val got = DedupOps.q160FuzzyLinkage(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("dist"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b")))).toMap
    assert(got == want && got.nonEmpty, s"got ${got.size}, want ${want.size}")
  }

  test("q147: BPE pair counts equal an in-driver recount of the merge objective") {
    import org.apache.spark.sql.functions._
    val words = Tables.documents(spark, sfDir)
      .select(explode(filter(graft.functions.TextFns.tokens(col("text")),
        t => t =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val acc = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    words.foreach { case (w, f) =>
      val cs = w.map(_.toString) :+ "</w>"
      cs.sliding(2).foreach { case Seq(a, b) =>
        val (pc, occ) = acc.getOrElse((a, b), (0L, 0L))
        acc((a, b)) = (pc + f, occ + 1)
      }
    }
    val want = acc.toSeq
      .map { case ((a, b), (pc, occ)) => (a, b, pc, occ) }
      .sortBy { case (a, b, pc, _) => (-pc, a, b) }.take(50)
    val got = TextOps.q147BpePairs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want && got.nonEmpty)
  }

  test("q148: skip-gram lift equals an in-driver window-2 recount") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
      .select(filter(graft.functions.TextFns.tokens(col("text")),
        t => t =!= "").as("toks"))
      .collect().map(_.getSeq[String](0)).filter(_.length >= 2)
    val cooc = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { toks =>
      for (i <- toks.indices; j <- (i + 1) to math.min(i + 2, toks.length - 1))
        cooc((toks(i), toks(j))) = cooc.getOrElse((toks(i), toks(j)), 0L) + 1
    }
    val nPairs = docs.map(t => 2L * t.length - 3).sum
    val cw = cooc.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val cc = cooc.groupBy(_._1._2).map { case (c, m) => c -> m.values.sum }
    val want = cooc.toSeq.collect { case ((w, c), n) if n >= 5 =>
      (w, c, n, cw(w), cc(c), (n * nPairs).toDouble / (cw(w) * cc(c)))
    }.sortBy { case (w, c, _, _, _, l) => (-l, w, c) }.take(100)
    val got = TextOps.q148SkipGram(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("q149: switch_frac is the non-dominant marked mass, recounted relationally") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(filter(
        graft.functions.TextFns.tokens(col("text")), t => t =!= "")).as("t"))
    val en = Seq("the", "a", "fast", "slow", "small", "big")
    val es = Seq("data", "table", "row", "query", "line")
    val fr = Seq("join", "merge", "sort", "hash", "group")
    val want = toks.groupBy("doc_id")
      .agg(sum(when(col("t").isin(en: _*), 1L).otherwise(0L)).as("s_en"),
        sum(when(col("t").isin(es: _*), 1L).otherwise(0L)).as("s_es"),
        sum(when(col("t").isin(fr: _*), 1L).otherwise(0L)).as("s_fr"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val got = TextOps.q149CodeSwitch(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (id, sEn, sEs, sFr) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      assert(want(id) == ((sEn, sEs, sFr)))
      val marked = sEn + sEs + sFr
      val expect = if (marked == 0) 0.0
        else (marked - Seq(sEn, sEs, sFr).max).toDouble / marked
      assert(r.getAs[Double]("switch_frac") == expect)
      assert(r.getAs[Boolean]("is_mixed") == (expect >= 0.3))
    }
  }

  test("q150: bootstrap replicates equal an in-driver seeded-hash recount") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.unsafe.types.UTF8String
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(filter(
        graft.functions.TextFns.tokens(col("text")), t => t =!= ""))
        .cast("long").as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (1L to 32L).map { r =>
      val ws = base.map { case (id, n) =>
        val u = graft.functions.HashExprs.md5Long60(
          Array.empty, UTF8String.fromString(s"boot$r:$id")) % 10000
        val w = if (u < 3679) 0L else if (u < 7358) 1L
          else if (u < 9197) 2L else if (u < 9810) 3L else 4L
        (w, w * n)
      }
      val (nEff, tok) = (ws.map(_._1).sum, ws.map(_._2).sum)
      r -> ((nEff, tok, tok.toDouble / nEff))
    }.filter(_._2._1 > 0).toMap
    val got = StatsOps.q150Bootstrap(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got == want && got.size == 32)
    // the replicates genuinely differ — the spread is a real distribution
    assert(got.values.map(_._3).toSet.size > 1)
  }

  test("qm6: frame diversity profile matches the relational recount") {
    import org.apache.spark.sql.functions._
    val want = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 64)
      .select(col("doc_id"), explode(sequence(lit(0L),
        floor(length(col("text")) / lit(64)).cast("long") - 1)).as("f"),
        col("text"))
      .select(col("doc_id"), col("f"),
        explode(split(col("text").substr((col("f") * 64 + 1).cast("int"),
          lit(64)), "")).as("c"))
      .filter(col("c") =!= "")
      .groupBy("doc_id", "f").agg(countDistinct(col("c")).as("nd"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("nd") <= 17, 1L).otherwise(0L)).as("n_low"),
        min(col("nd")).as("min_distinct"),
        sum(col("nd")).cast("long").as("sum_distinct"))
    val got = multimodal.Multimodal.qm6FrameDiversity(spark, sfDir)
      .select("doc_id", "n_frames", "n_low", "min_distinct", "sum_distinct")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("q151: top motifs equal an in-driver sliding-window recount") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val motifs = scala.collection.mutable.Map.empty[(String, String, String), Long]
    ev.groupBy(_._1).values.foreach { g =>
      val seq = g.sortBy(e => (e._2, e._3)).map(_._4).toSeq
      seq.sliding(3).filter(_.length == 3).foreach { m =>
        val k = (m(0), m(1), m(2))
        motifs(k) = motifs.getOrElse(k, 0L) + 1
      }
    }
    val want = motifs.toSeq.map { case ((a, b, c), n) => (a, b, c, n) }
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }.take(20)
    val got = EventOps.q151SeqMotifs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("q152: decay attribution masses equal an in-driver recount") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byUser = ev.groupBy(_._1)
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    byUser.values.foreach { g =>
      val purchases = g.filter(_._3 == "purchase")
      val touches = g.filter(e => Set("click", "view", "signup")(e._3))
      for ((_, pUs, _) <- purchases; (_, tUs, ch) <- touches
           if tUs < pUs && pUs - tUs < 86400000000L) {
        val w = 24L - (pUs - tUs) / 3600000000L
        val (n, m) = acc.getOrElse(ch, (0L, 0L))
        acc(ch) = (n + 1, m + w)
      }
    }
    val total = acc.values.map(_._2).sum
    val got = EventOps.q152DecayAttribution(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got.nonEmpty)
    assert(got.keySet == acc.keySet)
    got.foreach { case (ch, (n, m, share)) =>
      assert(acc(ch) == ((n, m)))
      assert(share == m.toDouble / total)
      assert(m >= n && m <= 24 * n) // every weight in [1, 24]
    }
  }

  test("q153: Pareto head counts equal an in-driver cumulative recount") {
    import org.apache.spark.sql.functions._
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        size(filter(graft.functions.TextFns.tokens(col("text")),
          t => t =!= "")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = perDoc.groupBy(_._1).map { case (src, docs) =>
      val sorted = docs.sortBy(d => (-d._3, d._2)).map(_._3)
      val tot = sorted.sum
      val cums = sorted.scanLeft(0L)(_ + _).tail
      val under = cums.count(c => c * 5 <= tot * 4)
      src -> ((docs.size.toLong, tot,
        math.min(under + 1L, docs.size.toLong)))
    }
    val got = CurationOps.q153ParetoConcentration(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == want && got.nonEmpty)
    got.foreach { case (_, (n, _, d80)) => assert(d80 >= 1 && d80 <= n) }
  }

  test("q154: projections equal an in-driver exact-integer recount") {
    import org.apache.spark.sql.functions._
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val m = SimilarityOps.rpMatrix
    val want = vecs.flatMap { case (id, emb) =>
      val q = emb.map(x => math.round(x.toDouble * 1000))
      (0 until 8).map { j =>
        (id, j.toLong, q.indices.map(i => q(i) * m(j)(i)).sum)
      }
    }.toSet
    val got = SimilarityOps.q154RandomProjection(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
    // JL sanity: projections are nondegenerate (not all zero per vector)
    assert(got.groupBy(_._1).values.forall(_.exists(_._3 != 0L)))
  }

  test("q155: source-centroid cosines equal an in-driver recount") {
    import org.apache.spark.sql.functions._
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sums = scala.collection.mutable.Map.empty[String, Array[Long]]
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().foreach { r =>
        src.get(r.getLong(0)).foreach { s =>
          val acc = sums.getOrElseUpdate(s, new Array[Long](64))
          val emb = r.getSeq[Float](1)
          emb.indices.foreach(i =>
            acc(i) += math.round(emb(i).toDouble * 1000))
        }
      }
    val n2 = sums.map { case (s, v) => s -> v.map(x => x * x).sum }
    val want = (for {
      a <- sums.keys; b <- sums.keys if a < b
      dot = (0 until 64).map(i => sums(a)(i) * sums(b)(i)).sum
    } yield (a, b) -> ((dot, n2(a), n2(b),
      dot.toDouble / math.sqrt(n2(a).toDouble * n2(b).toDouble)))).toMap
    val got = SimilarityOps.q155SourceAffinity(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("q156: synthetic draws are distribution-faithful and exactly systematic") {
    import org.apache.spark.sql.functions._
    val vs = Tables.documents(spark, sfDir)
      .select(size(filter(graft.functions.TextFns.tokens(col("text")),
        t => t =!= "")).cast("long").as("v"))
      .collect().map(_.getLong(0)).sorted
    val (vmin, vmax, n) = (vs.head, vs.last, vs.length.toLong)
    val rng = math.max(vmax - vmin, 1L)
    val got = StatsOps.q156SynthSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.length == 256)
    got.foreach { case (k, target, bin, synth) =>
      assert(target == (((2 * k - 1) * n) + 511) / 512)
      // the true order statistic at that rank falls inside the chosen bin
      val trueV = vs((target - 1).toInt)
      val trueBin = math.min((trueV - vmin) * 1000 / rng, 999L)
      assert(bin == trueBin, s"k=$k")
      assert(synth == vmin + bin * rng / 1000)
      // bin width bounds the synthesis error
      assert(math.abs(synth - trueV) <= rng / 1000 + 1)
    }
    // systematic grid → monotone nondecreasing draws
    val draws = got.map(_._4)
    assert(draws.zip(draws.tail).forall { case (a, b) => a <= b })
  }

  test("q157: Neyman weights equal the exact-moment identity, allocations split k") {
    import org.apache.spark.sql.functions._
    val xs = Tables.documents(spark, sfDir)
      .select(col("source"), size(filter(
        graft.functions.TextFns.tokens(col("text")), t => t =!= ""))
        .cast("long").as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = xs.groupBy(_._1).map { case (src, g) =>
      val n = g.length.toLong
      val sx = g.map(x => BigInt(x._2)).sum
      val sx2 = g.map(x => BigInt(x._2) * BigInt(x._2)).sum
      val under = (BigInt(n) * sx2 - sx * sx).toDouble
      src -> ((n, math.floor(math.sqrt(under) * 1000 + 0.5).toLong))
    }
    val totW = want.values.map(_._2).sum
    val got = CurationOps.q157NeymanAlloc(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (src, (n, iw, alloc, share)) =>
      assert(want(src) == ((n, iw)))
      assert(alloc == 1024L * iw / totW)
      assert(share == iw.toDouble / totW)
    }
    // floor split never exceeds the budget; remainder < #sources
    val a = got.values.map(_._3).sum
    assert(a <= 1024 && 1024 - a < got.size)
  }

  test("q158: quantile normalization preserves within-source order and global range") {
    import org.apache.spark.sql.functions._
    val got = CurationOps.q158QuantileNorm(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val global = got.map(_._3).sorted
    // every doc keeps a row, normalized values are actual corpus values
    assert(got.length == global.length)
    assert(got.forall(r => global.contains(r._4)))
    got.groupBy(_._2).values.foreach { g =>
      val byQ = g.sortBy(r => (r._3, r._1))
      // monotone: higher within-source quality never maps lower
      assert(byQ.map(_._4).zip(byQ.map(_._4).tail)
        .forall { case (a, b) => a <= b })
      // the within-source TOP doc maps to (near) the global top
      val n = global.length
      val topTarget = ((2L * g.length - 1) * n + 2L * g.length - 1) /
        (2L * g.length) - 1
      assert(byQ.last._4 == global(topTarget.toInt))
    }
  }

  test("gearChunks: boundaries tile the input and survive an insertion") {
    // deterministic pseudo-random payload (no global Random state)
    var seed = 0x9e3779b97f4a7c15L
    val bytes = Array.fill(4096) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 56).toByte
    }
    val chunks = multimodal.Multimodal.gearChunks(bytes)
    // exact tiling: consecutive offsets, lengths sum to the input
    assert(chunks.head._1 == 0)
    chunks.sliding(2).foreach {
      case Seq((o1, l1), (o2, _)) => assert(o1 + l1 == o2)
      case _ =>
    }
    assert(chunks.map(_._2).sum == bytes.length)
    // every chunk except the last respects the min/max bounds
    chunks.init.foreach { case (_, l) => assert(l >= 16 && l <= 256) }
    def hashes(bs: Array[Byte]) = multimodal.Multimodal.gearChunks(bs)
      .map { case (o, l) => java.util.Arrays.hashCode(bs.slice(o, o + l)) }
      .toSet
    // one byte inserted at the front: CDC re-syncs and keeps most chunks…
    val shifted = 0x42.toByte +: bytes
    val common = hashes(bytes).intersect(hashes(shifted))
    assert(common.size * 2 > chunks.size, s"${common.size} of ${chunks.size}")
    // …while fixed-size chunking keeps NONE (every boundary moved)
    def fixed(bs: Array[Byte]) =
      bs.grouped(64).map(java.util.Arrays.hashCode).toSet
    assert(fixed(bytes).intersect(fixed(shifted)).isEmpty)
  }

  test("q179: first-seen decomposition reconciles with distinct users") {
    import org.apache.spark.sql.functions._
    val rows = EventOps.q179CumulativeUniques(spark, sfDir)
      .orderBy("d").collect()
    assert(rows.nonEmpty)
    val distinctUsers = Tables.events(spark, sfDir)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    // each user counts once, on their first day — so new_users sums (and
    // the last cumulative value equals) the global distinct count
    assert(rows.map(_.getLong(1)).sum == distinctUsers)
    assert(rows.last.getLong(2) == distinctUsers)
    // prefix-sum invariant: cum is the running total of new
    assert(rows.scanLeft(0L)(_ + _.getLong(1)).tail
      .sameElements(rows.map(_.getLong(2))))
  }

  test("q180 MI: exact 0 under independence, exact NMI 1 under identity") {
    import spark.implicits._
    // perfectly independent 2x2 contingency (5 rows per cell): every
    // fixed-point term L(c)+L(n)-L(rx)-L(cy) cancels to exactly 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 5 }
      yield (x, y)).toDF("source", "lang")
    val mi0 = MiscOps.mutualInfoCore(indep, "source", "lang").head()
    assert(mi0.getDouble(1) == 0.0, s"mi=${mi0.getDouble(1)}")
    // y = x exactly: S_mi telescopes to the entropy numerator, NMI = 1.0
    // EXACTLY even in fixed point (same quantized terms on both sides)
    val ident = Seq.tabulate(30)(i => (s"s${i % 3}", s"s${i % 3}"))
      .toDF("source", "lang")
    val mi1 = MiscOps.mutualInfoCore(ident, "source", "lang").head()
    assert(mi1.getDouble(4) == 1.0, s"nmi=${mi1.getDouble(4)}")
    assert(mi1.getDouble(1) == mi1.getDouble(2)) // mi == h_x == h_y
  }

  test("q183: trimmed mean equals an in-driver exact recount") {
    import org.apache.spark.sql.functions._
    val got = StatsOps.q183TrimmedMean(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val byType = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) =>
        t -> rs.map(r => math.floor(r.getDouble(1) * 100 + 0.5).toLong).sorted
      }
    val want = byType.map { case (t, vs) =>
      val k = vs.length / 10
      val kept = vs.slice(k.toInt, vs.length - k.toInt)
      t -> ((vs.length.toLong, kept.length.toLong,
        kept.sum.toDouble / (kept.length.toDouble * 100.0)))
    }
    assert(got == want && got.nonEmpty)
  }

  test("q184: uniform domains give ESS = n exactly; skew shrinks it") {
    import spark.implicits._
    val uniform = Seq.tabulate(40)(i => (i.toLong, s"L${i % 4}"))
      .toDF("doc_id", "lang")
    val u = CurationOps.essCore(uniform).head()
    assert(u.getLong(0) == 40 && u.getDouble(1) == 40.0 &&
      u.getDouble(2) == 1.0, u.toString)
    // 90/10 split: temperature weights up the small domain -> ESS < n
    val skewed = Seq.tabulate(100)(i =>
      (i.toLong, if (i < 90) "big" else "small")).toDF("doc_id", "lang")
    val sk = CurationOps.essCore(skewed).head()
    assert(sk.getDouble(1) < 100.0 && sk.getDouble(1) > 0.0, sk.toString)
    val real = CurationOps.q184Ess(spark, sfDir).head()
    assert(real.getDouble(2) > 0.0 && real.getDouble(2) <= 1.0)
  }

  test("q201: quantile picks are exact order statistics of the lag set") {
    import org.apache.spark.sql.functions._
    val got = Relational.q201ShipLag(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val lags = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        Seq("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lag")).collect()
      .groupBy(_.getString(0))
    val want = lags.map { case (p, rs) =>
      val xs = rs.map(_.getLong(1)).sorted
      def pick(q: Int) = xs((q * xs.length + 99) / 100 - 1) // ceil rank
      p -> ((xs.length.toLong, pick(50), pick(90), pick(99)))
    }
    assert(got == want && got.nonEmpty)
  }

  test("q202: every customer lands in exactly one cell; scores in 1..5") {
    val grid = Relational.q202RfmSegments(spark, sfDir).collect()
    assert(grid.map(_.getLong(3)).sum ==
      Tables.orders(spark, sfDir).select("o_custkey").distinct().count())
    assert(grid.forall { r =>
      (0 to 2).forall(i => r.getLong(i) >= 1 && r.getLong(i) <= 5)
    })
    // quintile boundaries actually spread customers: at least 3 distinct
    // scores used on every axis at sf0.001
    (0 to 2).foreach { i =>
      assert(grid.map(_.getLong(i)).distinct.length >= 3, s"axis $i collapsed")
    }
  }

  test("q199/q200: star-join stats reconcile with the money identities") {
    import org.apache.spark.sql.functions._
    val el = StatsOps.q199DiscountElasticity(spark, sfDir).collect()
    assert(el.nonEmpty)
    el.foreach { r =>
      if (!r.isNullAt(2)) {
        val e = r.getDouble(2)
        assert(e >= -1.0 - 1e-12 && e <= 1.0 + 1e-12,
          s"${r.getString(0)}: $e")
      }
    }
    val bp = Relational.q200BrandPricing(spark, sfDir).collect()
    assert(bp.nonEmpty)
    bp.foreach { r =>
      val (g, n, d) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // net <= gross; effective rate within the discount domain; and the
      // identity net = gross * (1 - eff/1000) holds up to one double op
      assert(n <= g + 1e-9 && d >= 0.0 && d <= 1000.0)
      assert(math.abs(n - g * (1 - d / 1000.0)) <= 1e-6 * g, r.toString)
    }
    // line counts reconcile with the fact table
    assert(bp.map(_.getLong(1)).sum ==
      Tables.lineitem(spark, sfDir).count())
  }

  test("qm7: magic-byte shares reconcile and stay opaque-binary-shaped") {
    val rows = multimodal.Multimodal.qm7MagicBytes(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every magic is the hex of exactly two bytes (4 uppercase hex chars)
    assert(rows.forall(_.getString(0).matches("[0-9A-F]{4}")))
    assert(rows.map(_.getLong(1)).sum ==
      Tables.documents(spark, sfDir).count())
    val s = rows.map(_.getLong(2)).sum
    assert(s <= 1000 && s > 1000 - rows.length, s"shares sum $s")
  }

  test("q197/q198: entropies bounded by ln(branching); HHI by 1/#sources") {
    val ce = EventOps.q197CondEntropy(spark, sfDir).collect()
    assert(ce.nonEmpty)
    ce.foreach { r =>
      val h = r.getDouble(3); val b = r.getLong(2)
      // 0 <= H(next|prev) <= ln(branching), up to ln-quantization noise
      assert(h >= -1e-3 && h <= math.log(b.toDouble) + 1e-3,
        s"${r.getString(0)}: h=$h branching=$b")
    }
    // rows reconcile with q190's pair total
    assert(ce.map(_.getLong(1)).sum == EventOps.q190SeqMi(spark, sfDir)
      .head().getLong(0))
    val hhi = CurationOps.q198Hhi(spark, sfDir).head()
    val k = hhi.getLong(0)
    // perfect balance floor and monopoly ceiling
    assert(hhi.getDouble(2) >= 1.0 / k.toDouble - 1e-12 &&
      hhi.getDouble(2) <= 1.0, hhi.toString)
  }

  test("q195: integer Fano classification equals an in-driver recount") {
    import org.apache.spark.sql.functions._
    val r = EventOps.q195Burstiness(spark, sfDir).head()
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getLong(2)))
      .filter(_.length >= 2)
    val over = daily.count { cs =>
      val n = BigInt(cs.length); val s = cs.map(BigInt(_)).sum
      n * cs.map(c => BigInt(c) * c).sum - s * s > (n - 1) * s
    }
    val under = daily.count { cs =>
      val n = BigInt(cs.length); val s = cs.map(BigInt(_)).sum
      n * cs.map(c => BigInt(c) * c).sum - s * s < (n - 1) * s
    }
    assert(r.getLong(0) == daily.size && r.getLong(1) == over &&
      r.getLong(2) == under, r.toString)
    assert(r.getLong(3) == over * 1000L / daily.size)
  }

  test("q196: norm top-10 matches an in-driver extreme scan") {
    import org.apache.spark.sql.functions._
    val got = SimilarityOps.q196NormOutliers(spark, sfDir).collect()
    assert(got.length == 10)
    val norms = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val q = r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000))
        r.getLong(0) -> q.map(v => v * v).sum
      }
    val n = BigInt(norms.length)
    val sv = norms.map(x => BigInt(x._2)).sum
    val wantIds = norms
      .map { case (id, x) => (id, (n * x - sv).abs) }
      .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSeq
    assert(got.map(_.getLong(0)).toSeq == wantIds)
    // deviations are centered: they sum to zero over the full corpus
    assert(norms.map(x => n * BigInt(x._2) - sv).sum == 0)
  }

  test("q193/q194: confusion cells reconcile; template cut is bounded") {
    import org.apache.spark.sql.functions._
    val cells = TextOps.q193LangConfusion(spark, sfDir).collect()
    // cell counts sum back to the corpus; shares are per-mille of row totals
    assert(cells.map(_.getLong(2)).sum ==
      Tables.documents(spark, sfDir).count())
    cells.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val tot = rs.head.getLong(3)
      assert(rs.map(_.getLong(2)).sum == tot, s"$lang cells != total")
      val s = rs.map(_.getLong(4)).sum
      assert(s <= 1000 && s > 1000 - rs.length, s"$lang shares sum $s")
    }
    val tpl = TextOps.q194TemplatePrefix(spark, sfDir).collect()
    assert(tpl.length == 10)
    // descending by count, ties broken by prefix — deterministic cut
    val counts = tpl.map(_.getLong(1)).toSeq
    assert(counts == counts.sortBy(-_))
    assert(tpl.forall(r => r.getString(0).split(" ").length == 2))
  }

  test("q191: capture-recapture estimate sits between union and product") {
    val r = DedupOps.q191CaptureRecapture(spark, sfDir).head()
    val (na, nb, m) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(na > 0 && nb > 0)
    assert(m <= math.min(na, nb)) // overlap can't exceed either feed
    if (m > 0) {
      val est = r.getDouble(3)
      // the estimator never undershoots the observed union
      assert(est >= (na + nb - m).toDouble - 1e-9, s"est=$est")
      assert(est == na.toDouble * nb.toDouble / m.toDouble)
    }
  }

  test("q192: audience jaccard equals an in-driver set recount") {
    import org.apache.spark.sql.functions._
    val got = EventOps.q192AudienceOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val sets = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(1)).toSet }
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).intersect(sets(b)).size.toLong if inter > 0
    } yield (a, b) -> ((sets(a).size.toLong, sets(b).size.toLong, inter,
      inter.toDouble / (sets(a).size.toLong + sets(b).size - inter).toDouble)))
      .toMap
    assert(got == want && got.nonEmpty)
  }

  test("q188: lag-1 autocorrelation equals an in-driver moment recount") {
    import org.apache.spark.sql.functions._
    val got = EventOps.q188Autocorr(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getString(0))
    val want = daily.map { case (t, rs) =>
      val xs = rs.sortBy(_.getDate(1).toString).map(_.getLong(2))
      val (x, y) = (xs.init, xs.tail)
      val n = x.length.toLong
      def s(v: Array[Long]) = v.map(BigInt(_)).sum
      val num = BigInt(n) * x.zip(y).map { case (a, b) => BigInt(a) * b }.sum -
        s(x) * s(y)
      val a = BigInt(n) * x.map(v => BigInt(v) * v).sum - s(x) * s(x)
      val b = BigInt(n) * y.map(v => BigInt(v) * v).sum - s(y) * s(y)
      t -> ((n, num.toDouble / (math.sqrt(a.toDouble) * math.sqrt(b.toDouble))))
    }
    assert(got == want && got.nonEmpty)
    assert(got.values.forall { case (_, r) => r >= -1.0 && r <= 1.0 })
  }

  test("q189/q190: integer shares and bounded sequence MI") {
    import org.apache.spark.sql.functions._
    val prof = EventOps.q189DowProfile(spark, sfDir).collect()
    // per-type truncated shares sum to 1000 minus at most (#cells - 1)
    prof.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val s = rs.map(_.getLong(3)).sum
      assert(s <= 1000 && s > 1000 - rs.length, s"$t sums to $s")
    }
    // cell counts reconcile with the raw table
    assert(prof.map(_.getLong(2)).sum == Tables.events(spark, sfDir).count())
    val mi = EventOps.q190SeqMi(spark, sfDir).head()
    // fixed-point MI: non-negative up to ln-quantization noise, NMI <= 1
    assert(mi.getDouble(1) > -1e-3 && mi.getDouble(4) <= 1.0 + 1e-9,
      mi.toString)
    assert(mi.getDouble(2) > 0.0 && mi.getDouble(3) > 0.0)
  }

  test("q186: winsorized mean equals an in-driver clamp-and-average") {
    import org.apache.spark.sql.functions._
    val got = StatsOps.q186Winsorize(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val want = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) =>
        val vs = rs.map(r => math.floor(r.getDouble(1) * 100 + 0.5).toLong)
          .sorted
        val n = vs.length; val k = n / 10
        val lo = vs(k); val hi = vs(n - k - 1) // x_(k+1), x_(n-k) 0-based
        val clamped = vs.map(v => math.max(lo, math.min(hi, v)))
        t -> ((n.toLong, lo.toDouble / 100.0, hi.toDouble / 100.0,
          clamped.sum.toDouble / (n.toDouble * 100.0)))
      }
    assert(got == want && got.nonEmpty)
  }

  test("q187: digit shares are integer per-milles against Benford constants") {
    val rows = MiscOps.q187Benford(spark, sfDir).orderBy("digit").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 9L))
    val expWant = (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1000))
    assert(rows.map(_.getLong(3)).toSeq == expWant)
    // integer-truncated shares sum to 1000 minus at most 9
    val s = rows.map(_.getLong(2)).sum
    assert(s <= 1000 && s >= 991, s"sum obs_pm=$s")
    assert(rows.map(_.getLong(1)).sum ==
      Tables.orders(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 0).count())
  }

  test("q185: gini equals the sorted-rank formula recomputed in-driver") {
    import org.apache.spark.sql.functions._
    val got = StatsOps.q185Gini(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val want = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars")).collect()
      .groupBy(_.getString(0))
      .map { case (src, rs) =>
        val xs = rs.map(_.getLong(1)).sorted
        val n = xs.length.toLong
        val num = xs.zipWithIndex.map { case (x, i) =>
          BigInt(2L * (i + 1) - n - 1) * x }.sum
        val sv = xs.map(BigInt(_)).sum
        src -> ((n, sv.toLong,
          num.toDouble / (BigInt(n) * sv).toDouble))
      }
    assert(got == want && got.nonEmpty)
    // inequality is bounded: 0 <= gini < 1
    assert(got.values.forall { case (_, _, g) => g >= 0.0 && g < 1.0 })
  }

  test("q181 heaps / q182 chi2: bounded outputs with coherent stats") {
    import org.apache.spark.sql.functions._
    val h = TextOps.q181HeapsLaw(spark, sfDir).head()
    assert(h.getLong(0) == 20) // one point per source
    val beta = h.getDouble(1)
    // sublinear vocabulary growth on any natural-ish corpus
    assert(beta > 0.0 && beta < 1.0, s"beta=$beta")
    val cells = TextOps.q182TermChi2(spark, sfDir).collect()
    assert(cells.map(_.getString(0)).distinct.length <= 100)
    // lift and chi2 are coherent: lift far from 1 implies chi2 > 0;
    // observed counts are positive (zero cells omitted by contract)
    assert(cells.forall(_.getLong(2) > 0))
    assert(cells.forall(r => r.getDouble(4) >= 0.0))
    val n = cells.length
    assert(n > 100, s"cells=$n") // top terms spread over multiple sources
  }
}
