package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-regression harness: [[generate]] writes a `factor`× copy of
  * the base fixtures, then the selected queries run at 1× and at
  * `factor`× through [[QueryTrace.interleaved]] (one warm pass, three
  * passes interleaved by query and scale). It prints one markdown row
  * per query: median seconds, max peak task memory and spill, the
  * median longest task (the skew witness: a query whose wall ≈ its
  * longest task is single-task-bound), and the time and peak ratios.
  * SCALING.md keeps the readings and their history.
  *
  * What each mode writes to `<workDir>/x<factor>-<mode>` (only the
  * tables the selection reads are scaled; the others link to the base):
  *  - `tagged` (default): `factor` replicas, ids shifted by k·10¹⁰ and
  *    each replica's tokens prefixed `r<k>_`, so replicas share no
  *    shingles and outputs grow exactly `factor`×. The distinct-token
  *    vocabulary grows `factor`× too, so per-distinct-token costs (q37's
  *    signatures, q72's vocabulary) read worse than a real corpus.
  *    Events replicate with user ids shifted (disjoint users).
  *  - `shared-vocab`: the same replicas with text untouched. The
  *    vocabulary stays the base's, but every document gains `factor−1`
  *    exact copies: dup clusters grow `factor`× and pairs ~`factor`²×.
  *    Events replicate on the same users (`factor`× activity).
  *  - `zipf`: the base plus `factor` exact copies of ONE document and of
  *    ONE embedding vector (ids 10⁹+k, one group of multiplicity
  *    `factor`+1), and `factor` events of one bot user over one day.
  *    Only documents, embeddings and events are scaled; `factor` is the
  *    copy count (run 10⁴+).
  * Outside zipf, orders/lineitem (and customer) replicate id-shifted, so
  * the q101 trade graph is `factor` disjoint copies, and embeddings
  * replicate with identical vectors.
  *
  * Usage:
  *   runMain graft.ScaleRegression [baseDir] [factor] [workDir] [mode] [chainCsv]
  * (defaults /root/testdata/sf0.1, 10, /tmp/graft_scale, tagged, the
  * full chain; zipf defaults to [[zipfChain]]). A name is anything
  * [[QueryTrace.lookup]] resolves.
  */
object ScaleRegression {

  val chain: Seq[String] = Seq(
    "q35_ngram_jaccard", "q36_minhash_lsh", "q37_simhash",
    "q64_dedup_clusters", "q83_triangles", "q89_leakfree_split",
    "q101_pagerank_sized", "q118_cluster_canonical", "q146_cluster_sizes",
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
  private val graphQueries = Set("q101_pagerank", "q101_pagerank_sized",
    "q101_round", "q221_part_affinity", "q226_negative_samples")
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

    val builds = selected.flatMap { n =>
      val fn = QueryTrace.lookup(n)
      Seq(s"$n@1x" -> (() => fn(spark, baseDir)),
        s"$n@${factor}x" -> (() => fn(spark, scaledDir)))
    }
    val rows = QueryTrace.interleaved(spark, builds, 3)
      .map { case (label, runs) => label -> QueryTrace.summary(runs) }.toMap
    println(s"\n[scale] mode=$mode factor=$factor")
    println(s"\n| query | 1x sec | 1x peak-task MB | ${factor}x sec | ${factor}x peak-task MB | ${factor}x spill MB | ${factor}x max-task sec | time ratio | peak ratio |")
    println("|---|---|---|---|---|---|---|---|---|")
    def mb(bytes: Long): Double = bytes / 1048576.0
    selected.foreach { n =>
      (rows(s"$n@1x"), rows(s"$n@${factor}x")) match {
        case (Some(b), Some(s)) =>
          println(f"| $n | ${b.medianSec}%.2f | ${mb(b.peakBytes)}%.0f | ${s.medianSec}%.2f | " +
            f"${mb(s.peakBytes)}%.0f | ${mb(s.spillBytes)}%.0f | ${s.maxTaskMs / 1e3}%.2f | " +
            f"${s.medianSec / b.medianSec}%.1f | " +
            f"${mb(s.peakBytes) / math.max(mb(b.peakBytes), 0.1)}%.2f |")
        case _ => println(s"| $n | failed | | | | | | | |")
      }
    }
    spark.stop()
  }
}
