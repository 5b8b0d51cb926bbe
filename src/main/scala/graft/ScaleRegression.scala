package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-regression harness: materializes a `factor`× copy of
  * the sf0.1 fixtures and runs the heavy dedup/graph/text chain at 1×
  * and at `factor`×, recording wall-time, peak single-task execution
  * memory, and total spill per query. This is the measurement behind
  * the SCALING.md claim that the r6 self-join pair stage is task-memory
  * bounded: the plan-shape argument says peak task memory should stay
  * ~FLAT as the corpus grows (state is O(1) per join key, volume is
  * join output), and wall-time should grow ~linearly. Run it; don't
  * argue it.
  *
  * Two scaling modes (r8 — the r7 run had only the first):
  *
  *  - `tagged` (default): `factor` key-shifted, TOKEN-TAGGED replicas.
  *    Each replica's tokens get a distinct `r<k>_` prefix, so replicas
  *    share NO shingles/signatures with each other — the scaled corpus
  *    behaves as `factor` independent copies (outputs exactly
  *    `factor`×, dup structure preserved per replica, no cross-replica
  *    pair blow-up). CAVEAT this mode carries: the tag inflates the
  *    DISTINCT-TOKEN vocabulary `factor`× (a real corpus grows ~log),
  *    so per-distinct-token costs (q37's signature stage, q72's vocab
  *    aggregate) read WORSE than reality.
  *  - `shared-vocab`: ids shift, text is UNTOUCHED — the vocabulary
  *    stays exactly the base vocabulary (the faithful-vocab mode the
  *    r7 caveat asked for). The flip side is the workload semantics:
  *    every document now has `factor−1` exact cross-replica copies, so
  *    dup clusters grow `factor`× and pair outputs ~`factor`²× within
  *    each base cluster — a heavy-duplication corpus, measured as
  *    such. Both modes are honest; they bracket reality from opposite
  *    sides (vocabulary too big vs duplication too heavy).
  *  - `zipf` (r10): the MEGA-GROUP regime the two uniform modes never
  *    reach — the base corpus plus `factor` exact copies of ONE
  *    document (ids 10⁹+k, text untouched), i.e. one fingerprint group
  *    of multiplicity `factor`+1 while everything else stays
  *    singleton-ish. Real crawls have these (boilerplate pages, empty
  *    templates). This is the skew probe for the within-group
  *    expansion: C(m,2) pairs hang off ONE rep_id join key, and the
  *    per-task max-time column shows whether that output is
  *    distributed or single-task. `factor` here is the COPY COUNT
  *    (run 10⁴+), and only `documents` is scaled.
  *
  * Ids shift by `k·10¹⁰` (far below the 2⁴⁶ chunk-key domain);
  * documents/orders/lineitem/embeddings are scaled per the selected
  * chain's needs. Id-shifting orders+lineitem keeps the q101 trade
  * graph `factor` disjoint copies; id-shifting embeddings keeps vector
  * content identical (duplicate vectors — ANN over a dup-heavy corpus).
  *
  * Usage:
  *   runMain graft.ScaleRegression [baseDir] [factor] [workDir] [mode] [chainCsv]
  * (defaults /root/testdata/sf0.1, 10, /tmp/graft_scale, tagged, the
  * full chain). Prints a markdown table; paste into SCALING.md. When
  * the chain includes q101, the rank⋈edges JOIN-STRATEGY probe prints
  * the round-plan join operators at both scales — the broadcast→SMJ
  * flip observation (run factor 30+ to see it cross).
  */
object ScaleRegression {

  val chain: Seq[String] = Seq(
    "q35_ngram_jaccard", "q36_minhash_lsh", "q37_simhash",
    "q64_dedup_clusters", "q83_triangles", "q89_leakfree_split",
    "q101_pagerank", "q118_cluster_canonical", "q146_cluster_sizes",
    "q214_lsh_eval",
    // r8: the text/similarity heavies — plan-shape-only until now
    "q51_winnow_fingerprint", "q70_contamination", "q72_tfidf",
    "q111_rrf_hybrid", "q52_knn_ivf",
    // r9: the last unmeasured bench heavies
    "q145_containment", "q221_part_affinity", "q226_negative_samples")

  /** zipf mode's default selection: the standing mega-group regression
    * chain (r11: +q70's contamination dispatch, +q142's boundary salt —
    * the two adaptive branches previously measured only by ad-hoc
    * PerfAB). */
  val zipfChain: Seq[String] = Seq("q35_ngram_jaccard", "q36_minhash_lsh",
    "q37_simhash", "q214_lsh_eval", "q70_contamination",
    "q142_head_tail_overlap")

  /** Which scaled tables each chain query needs (everything else is
    * read from the base fixtures unscaled). */
  private val docQueries = Set("q35_ngram_jaccard", "q36_minhash_lsh",
    "q37_simhash", "q64_dedup_clusters", "q83_triangles",
    "q89_leakfree_split", "q118_cluster_canonical", "q146_cluster_sizes",
    "q214_lsh_eval", "q51_winnow_fingerprint", "q70_contamination",
    "q72_tfidf", "q111_rrf_hybrid", "q145_containment",
    "q142_head_tail_overlap")
  private val graphQueries = Set("q101_pagerank", "q221_part_affinity",
    "q226_negative_samples")
  private val embQueries = Set("q52_knn_ivf", "q111_rrf_hybrid",
    "q38_embedding_neardup", "q49_embedding_lsh_dedup",
    "q112_semantic_decontam")
  // the hot-ENTITY fixtures for the per-user/per-type fan-out bounds
  // (class #9 entries): zipf mode plants a bot user, the other modes
  // replicate the stream (tagged = disjoint users, shared-vocab = the
  // same users at factor x activity)
  private val eventQueries = Set("q141_assoc_rules",
    "q152_decay_attribution", "q172_trend_mk")
  // q226 anti-joins the scaled interaction set against customer — the
  // custkey shift must land on both sides or every replica's candidates
  // silently vanish from the measurement
  private val custQueries = Set("q226_negative_samples")

  private val Stride = 10000000000L // 10^10 id shift per replica

  private def replicate(df: DataFrame, factor: Int,
      shift: Seq[String], tagText: Boolean): DataFrame =
    (0 until factor).map { k =>
      val shifted = shift.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(k * Stride))
      }
      if (!tagText) shifted
      else shifted
        .withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit(s"r${k}_"), t))))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ union _)

  def generate(spark: SparkSession, baseDir: String, factor: Int,
      outDir: String, mode: String, selected: Seq[String]): Unit = {
    val tagged = mode == "tagged"
    val needDocs = selected.exists(docQueries)
    val needGraph = selected.exists(graphQueries)
    val needEmb = selected.exists(embQueries)
    val needCust = selected.exists(custQueries)
    val needEvents = selected.exists(eventQueries)
    // A prior run of the same workDir/factor/mode with a DIFFERENT query
    // selection leaves mixed state: symlinks where this run needs scaled
    // writes (the overwrite would land on a link into the read-only base
    // fixtures) and real scaled dirs where this run wants base symlinks
    // (silently measuring scaled data as "1x"). Reconcile the dir to the
    // CURRENT selection up front: drop symlinks on to-be-scaled tables,
    // drop stale scaled dirs on to-be-linked ones.
    val scaledTables =
      (if (needDocs) Set("documents") else Set.empty[String]) ++
      (if (needGraph) Set("orders", "lineitem") else Set.empty[String]) ++
      (if (needEmb) Set("embeddings") else Set.empty[String]) ++
      (if (needCust) Set("customer") else Set.empty[String]) ++
      (if (needEvents) Set("events") else Set.empty[String])
    new java.io.File(outDir).mkdirs()
    Seq("region", "nation", "customer", "supplier", "part", "events",
      "documents", "orders", "lineitem", "embeddings").foreach { t =>
      val p = java.nio.file.Paths.get(outDir, s"$t.parquet")
      val isLink = java.nio.file.Files.isSymbolicLink(p)
      if (scaledTables(t) && isLink) java.nio.file.Files.delete(p)
      else if (!scaledTables(t) && !isLink &&
          java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        // close the walk stream (r10, ADVICE): it holds directory
        // handles, and an unclosed stream per stale-dir delete leaks
        // file descriptors across the sweep
        scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
          st.iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.delete)
        }
      }
    }
    if (needDocs) {
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      val scaled =
        if (mode == "zipf") {
          // one mega fingerprint group: `factor` exact copies of the
          // smallest within-eligible doc (>= 3 tokens, so the group is
          // jaccard/minhash-within-eligible), everything else untouched.
          // Copy ids sit at 10^9+k — above the base id range, far below
          // the 2^46 chunk-key domain, and NOT stride-spaced (each copy
          // is one row; ranges need no disjointness).
          val mega = docs
            .filter(size(split(col("text"), " ")) >= 3)
            .orderBy(col("doc_id")).limit(1)
          val copies = spark.range(1, factor.toLong + 1)
            .crossJoin(broadcast(mega))
            .withColumn("doc_id", lit(1000000000L) + col("id"))
            .drop("id")
            .select(docs.columns.map(col).toIndexedSeq: _*)
          docs.unionByName(copies)
        } else replicate(docs, factor, Seq("doc_id"), tagText = tagged)
      scaled.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }
    if (needGraph) {
      val orders = spark.read.parquet(s"$baseDir/orders.parquet")
      replicate(orders, factor, Seq("o_orderkey", "o_custkey"),
        tagText = false)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
      replicate(li, factor, Seq("l_orderkey", "l_suppkey", "l_partkey"),
        tagText = false)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    }
    if (needEmb) {
      val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val scaled =
        if (mode == "zipf") {
          // one mega duplicate-vector group: `factor` exact copies of the
          // first non-zero-norm vector (ids 10^9+k, embedding/label
          // untouched) — the hot-bucket probe for the banded emb family
          // (q49/q112 band keys, q38 label blocks)
          val mega = emb
            .filter(aggregate(col("embedding"), lit(0.0d),
              (acc, x) => acc + x * x) > 0.0d)
            .orderBy(col("vec_id")).limit(1)
          val copies = spark.range(1, factor.toLong + 1)
            .crossJoin(broadcast(mega))
            .withColumn("vec_id", lit(1000000000L) + col("id"))
            .drop("id")
            .select(emb.columns.map(col).toIndexedSeq: _*)
          emb.unionByName(copies)
        } else replicate(emb, factor, Seq("vec_id"), tagText = false)
      scaled.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
    if (needEvents) {
      // read through Tables.events (ts normalization) so the scaled
      // write carries plain µs timestamps at any base encoding
      val ev = Tables.events(spark, baseDir)
      val scaled =
        if (mode == "zipf") {
          // BOT-USER fixture: `factor` synthetic events on ONE user id —
          // alternating purchase/click, timestamps spread over one day so
          // the q152 window join sees ~f²/8 in-window pairs on a single
          // user key (the per-user fan-out probe); q141/q172 must show
          // ×~1 (their declared bounds collapse the bot to ≤2 type rows /
          // ≤2·days daily cells — the zipf table is the witness)
          val base = ev.orderBy(col("event_id")).limit(1)
            .select(col("user_id").as("b_uid"), col("ts").as("b_ts"),
              col("value").as("b_value"), col("props").as("b_props"))
          val copies = spark.range(1, factor.toLong + 1)
            .crossJoin(broadcast(base))
            .select(
              (lit(1000000000L) + col("id")).as("event_id"),
              timestamp_micros(unix_micros(col("b_ts")) +
                pmod(col("id"), lit(86400L)) * 1000000L).as("ts"),
              col("b_uid").as("user_id"),
              when(pmod(col("id"), lit(2L)) === 0L, lit("purchase"))
                .otherwise(lit("click")).as("event_type"),
              col("b_value").as("value"), col("b_props").as("props"))
          ev.unionByName(copies)
        } else if (mode == "shared-vocab")
          // same users, factor x activity — the heavy-user regime
          replicate(ev, factor, Seq("event_id"), tagText = false)
        else replicate(ev, factor, Seq("event_id", "user_id"),
          tagText = false)
      scaled.write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
    if (needCust) {
      val cust = spark.read.parquet(s"$baseDir/customer.parquet")
      replicate(cust, factor, Seq("c_custkey"), tagText = false)
        .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    }
    // unscaled tables resolve from the base dir via symlink copies
    // (reconciliation above already removed any stale scaled dirs here)
    val out = new java.io.File(outDir)
    Seq("region", "nation", "customer", "supplier", "part", "events",
      "documents", "orders", "lineitem", "embeddings").foreach { t =>
      val target = new java.io.File(out, s"$t.parquet")
      if (!target.exists())
        java.nio.file.Files.createSymbolicLink(target.toPath,
          java.nio.file.Paths.get(s"$baseDir/$t.parquet"))
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val workDir = if (args.length > 2) args(2) else "/tmp/graft_scale"
    val mode = if (args.length > 3) args(3) else "tagged"
    require(mode == "tagged" || mode == "shared-vocab" || mode == "zipf",
      s"mode must be tagged|shared-vocab|zipf, got $mode")
    val selected =
      if (args.length > 4) args(4).split(",").toSeq
      else if (mode == "zipf") zipfChain
      else chain
    require(mode != "zipf" ||
      selected.forall(q => docQueries(q) || embQueries(q) || eventQueries(q)),
      "zipf mode scales documents/embeddings/events; selection must be " +
        "doc, embedding, or event queries")
    val spark = GraftSession()

    val scaledDir = s"$workDir/x$factor-$mode"
    println(s"[scale] generating ${factor}x $mode fixtures at $scaledDir ...")
    generate(spark, baseDir, factor, scaledDir, mode, selected)

    case class M(sec: Double, peakMb: Double, spillMb: Double,
      maxTaskSec: Double)
    // q101 as an at-scale caller would run it: auto-sized rank unit.
    // (The DECLARED q101 pins 10^12 for oracle-lattice stability, and at
    // 10x — 159,990 graph nodes — the r7 pinned-unit guard correctly
    // REFUSES that pin: first scale run of this harness proved the guard
    // fires outside the pin's 54,255-node domain.)
    def fn(name: String): (SparkSession, String) => DataFrame =
      if (name == "q101_pagerank")
        (s, d) => operators.GraphOps.q101PageRankWithUnit(s, d, 0L)
      else QueryTrace.lookup(name)
    // longest single task — the skew witness: a query whose wall time ≈
    // its max task time is single-task-bound no matter how many cores
    // sit idle (the zipf mega-group probe reads this column)
    def run(name: String, dir: String): M = {
      val w = QueryTrace.during(spark)(QueryTrace.force(fn(name)(spark, dir)))
      M(w.sec, w.peakBytes / 1048576.0, w.spillBytes / 1048576.0,
        w.maxTaskMs / 1e3)
    }

    // warm pass at 1x (codegen/JIT), then THREE measured passes of each
    // (query, scale), interleaved, reporting per-cell medians — the
    // Bench r6 lesson: this box has co-tenants, and a single sample can
    // land inside a noise burst (first run of this harness showed q36
    // "faster" at 10x than 1x — pure burst). Peak memory reports the
    // MAX across passes (the OOM-relevant bound, and stable anyway).
    selected.foreach(n => run(n, baseDir))
    val passes = 3
    val samples: Seq[Map[(String, String), M]] = (1 to passes).map { _ =>
      selected.flatMap { n =>
        Seq((n, "base") -> run(n, baseDir), (n, "scaled") -> run(n, scaledDir))
      }.toMap
    }
    import QueryTrace.median
    def agg(n: String, which: String): M = {
      val ms = samples.map(_((n, which)))
      // max-task reports the MEDIAN across passes of each pass's longest
      // task (r11): the old max-over-passes conflated co-tenant freezes
      // with skew — one frozen window printed "max-task 82 s" on an
      // 8.8 s-wall query, an impossible reading that cost triage time.
      // A real fat task repeats every pass and survives the median;
      // a one-pass freeze does not. Peak memory/spill keep max (the
      // OOM-relevant bound, and noise-stable anyway).
      M(median(ms.map(_.sec)), ms.map(_.peakMb).max, ms.map(_.spillMb).max,
        median(ms.map(_.maxTaskSec)))
    }
    val rows = selected.map { n =>
      val base = agg(n, "base")
      val scaled = agg(n, "scaled")
      println(f"[scale] $n%-24s 1x ${base.sec}%7.2fs peak ${base.peakMb}%7.1fMB " +
        f"spill ${base.spillMb}%8.1fMB | ${factor}x ${scaled.sec}%8.2fs " +
        f"peak ${scaled.peakMb}%7.1fMB spill ${scaled.spillMb}%8.1fMB " +
        f"maxtask ${scaled.maxTaskSec}%7.2fs " +
        f"| time x${scaled.sec / base.sec}%5.1f peak x${
          scaled.peakMb / math.max(base.peakMb, 0.1)}%5.2f")
      (n, base, scaled)
    }
    println(s"\n[scale] mode=$mode factor=$factor")
    println(s"\n| query | 1x sec | 1x peak-task MB | ${factor}x sec | ${factor}x peak-task MB | ${factor}x spill MB | ${factor}x max-task sec | time ratio | peak ratio |")
    println("|---|---|---|---|---|---|---|---|---|")
    rows.foreach { case (n, b, s) =>
      println(f"| $n | ${b.sec}%.2f | ${b.peakMb}%.0f | ${s.sec}%.2f | " +
        f"${s.peakMb}%.0f | ${s.spillMb}%.0f | ${s.maxTaskSec}%.2f | " +
        f"${s.sec / b.sec}%.1f | " +
        f"${s.peakMb / math.max(b.peakMb, 0.1)}%.2f |")
    }

    // rank⋈edges JOIN-STRATEGY probe: one un-checkpointed PageRank
    // round, forced through noop so AQE commits to a FINAL plan, then
    // the join operators it actually ran — the broadcast→SMJ flip
    // observation (SCALING.md's "self-corrects, no hint prevents it").
    if (selected.contains("q101_pagerank")) {
      def joinOps(dir: String): String = {
        val df = operators.GraphOps.q101RoundPlan(spark, dir)
        // execute through THIS QueryExecution (a write would plan a new
        // one) so the AQE plan below is the final, post-reopt one
        df.queryExecution.toRdd.count()
        val plan = df.queryExecution.executedPlan.toString
        // keep only the FINAL adaptive plan (toString appends the
        // "== Initial Plan ==" section) and only the rank⋈edges join —
        // the src-keyed one whose strategy the flip claim is about
        plan.split("== Initial Plan ==")(0).linesIterator
          .filter(_.contains("Join [src"))
          .map(_.trim.replaceAll("#\\d+L?", "").take(60))
          .mkString("; ")
      }
      println(s"\n[scale] q101 round-plan joins at 1x:       ${joinOps(baseDir)}")
      println(s"[scale] q101 round-plan joins at ${factor}x: ${joinOps(scaledDir)}")
    }
    spark.stop()
  }
}
