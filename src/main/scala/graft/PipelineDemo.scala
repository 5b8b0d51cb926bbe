package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline composed from the operator
  * library — the workflow a 100 TB corpus actually runs, demonstrating
  * that the pieces compose: ingest → per-domain quality percentile gate →
  * language filter → repetition filter → char-diversity gate →
  * fluency gate → corpus-wide
  * boilerplate-span gate → exact dedup → near-dup removal
  * (MinHash-LSH) → benchmark-contamination removal (lexical n-gram +
  * semantic embedding near-match) → temperature domain
  * mixture → per-source cap → cluster-aware leakage-free split → PII
  * redaction → token accounting → partitioned lake write →
  * training-window chunking → sequence packing (512-token budget) →
  * deterministic global shuffle manifest → raw-vs-curated drift monitor
  * (chi-square) → mergeable token-length quantile profile →
  * token-proportional PPS eval probe.
  *
  * Every stage is embarrassingly parallel or bucket-shuffled (see each
  * operator's scale notes); nothing collects to the driver. The final
  * write partitions by language — the downstream-read pruning key.
  *
  * Usage: `runMain graft.PipelineDemo <sfDir> <outDir>`; returns per-stage
  * surviving-row counts on stdout (also exposed via [[curate]] for the
  * spec).
  */
object PipelineDemo {

  /** Runs the curation flow; returns (stage name → surviving docs). */
  def curate(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def stage(name: String, df: DataFrame): DataFrame = {
      counts += name -> df.count()
      df
    }

    val docs = stage("ingest", Tables.documents(spark, sfDir))

    // 1. quality: PER-DOMAIN percentile gate (q91) — an absolute
    // threshold silently empties whichever language scores lower; the
    // percentile form keeps the top ~80% of every domain
    val scored = operators.TextOps.q91QualityGate(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    val quality = stage("quality_filter", docs.join(scored, Seq("doc_id")))

    // 2. language: keep docs whose predicted language matches the label
    val lang = operators.TextOps.q31LangId(spark, sfDir)
      .select(col("doc_id"), col("pred"))
    val langKept = stage("lang_filter",
      quality.join(lang, Seq("doc_id")).filter(col("pred") === col("lang")))

    // 3. repetition: drop degenerate high-duplication docs (Gopher-style)
    val rep = operators.CurationOps.q68Repetition(spark, sfDir)
      .select(col("doc_id"), col("dup3_frac"))
    val repKept = stage("repetition_filter",
      langKept.join(rep, Seq("doc_id")).filter(col("dup3_frac") <= 0.9)
        .drop("dup3_frac"))

    // 3.2 char-diversity gate (q143 core): drop low-entropy walls —
    // padding, ASCII art, key-mashing — via the one-pass Simpson
    // collision probability; zero exchanges, so the gate is free
    val diversity = operators.TextOps.q143CharDiversity(spark, sfDir)
      .select(col("doc_id"), col("coll_prob"), col("top_frac"))
    val divKept = stage("diversity_filter",
      repKept.join(diversity, Seq("doc_id"))
        .filter(col("coll_prob") <= 0.2 && col("top_frac") <= 0.5)
        .drop("coll_prob", "top_frac"))

    // 3.5 LM fluency gate (q129 core): drop documents built from word
    // transitions the corpus's own bigram LM has essentially never seen
    // (the CCNet perplexity-filter signal, log-free) — the
    // garbled/boilerplate text that per-doc repetition stats can't see
    val flu = operators.TextOps.q129BigramFluency(spark, sfDir)
      .select(col("doc_id"), col("common_frac"))
    val fluKept = stage("fluency_filter",
      divKept.join(flu, Seq("doc_id")).filter(col("common_frac") >= 0.2)
        .drop("common_frac"))

    // 3.6 boilerplate gate (q137 core): drop docs most of whose 10-token
    // spans repeat ELSEWHERE in the corpus — templated/syndicated text
    // that within-doc repetition (stage 3) cannot see and document-level
    // dedup (stages 4–5) only removes when whole documents match. Left
    // join: docs under 10 tokens have no spans and cannot be boilerplate.
    val spans = operators.TextOps.q137RepeatedSpans(spark, sfDir)
      .select(col("doc_id"), col("rep_frac"))
    val boilerKept = stage("boilerplate_filter",
      fluKept.join(spans, Seq("doc_id"), "left")
        .filter(coalesce(col("rep_frac"), lit(0.0)) <= 0.95)
        .drop("rep_frac"))

    // 4. exact dedup: keep the smallest doc_id per content fingerprint
    val keep = operators.DedupOps.q34DedupExact(spark, sfDir)
      .select(col("keep_id").as("doc_id"))
    val exactDeduped = stage("exact_dedup",
      boilerKept.join(keep, Seq("doc_id")))

    // 5. near-dup removal: drop the larger id of every MinHash-LSH pair
    val nearDupLosers = operators.DedupOps.q36MinhashLsh(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearDeduped = stage("near_dedup",
      exactDeduped.join(nearDupLosers, Seq("doc_id"), "left_anti"))

    // 6. benchmark-contamination removal: drop docs overlapping the
    // (deterministic stand-in) eval set
    val contaminated = operators.CurationOps.q70Contamination(spark, sfDir)
      .select(col("doc_id")).distinct()
    val clean = stage("decontaminated",
      nearDeduped.join(contaminated, Seq("doc_id"), "left_anti"))

    // 6.2 SEMANTIC decontamination (q112): embedding-space near-matches
    // of the eval set — paraphrased benchmark leakage the n-gram overlap
    // of stage 6 cannot see (vec_id keys the same doc_id space)
    val semContaminated = operators.SimilarityOps.q112SemanticDecontam(spark, sfDir)
      .select(col("vec_id").as("doc_id"))
    val semClean = stage("semantic_decontaminated",
      clean.join(semContaminated, Seq("doc_id"), "left_anti"))

    // 6.5 domain-mixture sampling (q88): temperature-flatten the
    // language mix before the split
    val mixKept = operators.CurationOps.q88DomainMixture(spark, sfDir)
      .select(col("doc_id"))
    val mixed = stage("mixture_sampled", semClean.join(mixKept, Seq("doc_id")))

    // 6.55 DSIR target-affinity selection (q130 core): drop the
    // bottom-20% most raw-like documents of the raw pool by mean
    // per-token target-vs-raw log-ratio — the same bottom-percentile
    // philosophy as the q91 quality gate (an absolute log-ratio cut
    // would empty or keep everything as the target prior shifts). The
    // rank rides the GlobalRank range-exchange operator; the inner join
    // also removes the target split itself from the train pool (eval
    // material must not be trainable)
    val dsirScored = operators.CurationOps.q130DsirWeights(spark, sfDir)
      .select(col("doc_id"),
        (col("w_sum").cast("double") / col("n_toks")).as("w_avg"))
    val nRaw = dsirScored.count()
    val dsirKept = stage("dsir_selected",
      mixed.join(plans.GlobalRank.withPosition(dsirScored,
        Seq("w_avg" -> false, "doc_id" -> false))
        .filter(col("pos") >= lit(nRaw / 5)).select("doc_id"),
        Seq("doc_id")))

    // 6.6 per-source cap (q96): bound any single source's contribution
    // (the over-represented-crawl pressure valve; salted-hash order keeps
    // the cut reproducible and ingest-order-independent)
    val capKept = operators.CurationOps.q96SourceCap(spark, sfDir)
      .select(col("doc_id"))
    val capped = stage("source_capped", dsirKept.join(capKept, Seq("doc_id")))

    // 7. deterministic holdout split — LEAKAGE-FREE (q89): assignment is
    // per near-dup CLUSTER, so surviving near-dups of a held-out doc can
    // never leak into train
    val split = operators.DedupOps.q89LeakFreeSplit(spark, sfDir)
      .select(col("doc_id"), col("split"))
    val train = stage("train_split",
      capped.join(split, Seq("doc_id")).filter(col("split") === "train")
        .drop("split"))

    // 8. PII redaction + token accounting for the budget report
    val tokens = operators.TextOps.q50BpeTokens(spark, sfDir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val curated = train.join(tokens, Seq("doc_id"))
      .withColumn("text", operators.CurationOps.redact(col("text")))
      .select("doc_id", "lang", "source", "text", "n_bpe_tokens")

    // 9. partitioned lake write (language = downstream pruning key)
    sources.Lake.writePartitioned(curated, s"$outDir/curated", Seq("lang"))
    counts += "written" -> spark.read.parquet(s"$outDir/curated").count()

    // 10. training-window chunking of the curated corpus (row count GROWS
    // here — one row per 64/48 token window — so it sits after the
    // monotone-attrition stages)
    val chunks = operators.CurationOps.chunkTokens(
      spark.read.parquet(s"$outDir/curated").select("doc_id", "text"))
    sources.Lake.writePlain(chunks, s"$outDir/chunks")
    counts += "chunks_written" -> spark.read.parquet(s"$outDir/chunks").count()

    // 11. sequence packing (q87 core): chunk windows → 512-token training
    // sequences, greedy per shard; bins is the number of sequences the
    // run will actually train on
    // packed-item id = doc_id ⋅ 2^20 + chunk_id: a 20-bit stride holds ~1M
    // chunk windows per document; the guard raises (rather than silently
    // colliding ids in the training manifest) if a pathological doc
    // exceeds it — *1000 arithmetic collided at ≥1000 chunks
    val packId = when(col("chunk_id") < lit(1L << 20),
      shiftleft(col("doc_id"), 20) + col("chunk_id"))
      .otherwise(raise_error(concat(
        lit("chunk_id overflows the 20-bit pack-id stride: "),
        col("chunk_id").cast("string"))))
    val chunkItems = spark.read.parquet(s"$outDir/chunks")
      .select(packId.as("doc_id"),
        pmod(col("doc_id"), lit(8L)).as("shard"),
        col("n_chunk_tokens").as("n_tok"))
    val packed = operators.CurationOps.packSequences(chunkItems, budget = 512L)
    sources.Lake.writePlain(packed, s"$outDir/packed")
    counts += "packed_sequences" ->
      spark.read.parquet(s"$outDir/packed")
        .select("shard", "bin").distinct().count()

    // 12. deterministic global shuffle (q90 core): a reproducible read
    // order over the packed items, written as the training manifest
    val manifest = operators.CurationOps.globalShuffleIndex(
      spark.read.parquet(s"$outDir/packed").select("doc_id"), "order:")
    sources.Lake.writePlain(manifest, s"$outDir/manifest")
    counts += "manifest_rows" -> spark.read.parquet(s"$outDir/manifest").count()

    // 13. drift monitor (q108 core): compare the CURATED corpus's length
    // distribution against the raw ingest — a curation run that skews
    // the histogram (e.g. a gate silently eating long docs) shows up as
    // chi-square mass here, the check a production pipeline alarms on
    val rawB = docs
      .select(operators.CurationOps.lenBucket(col("text")).as("bucket"),
        lit(0).as("side"))
    val curB = spark.read.parquet(s"$outDir/curated")
      .select(operators.CurationOps.lenBucket(col("text")).as("bucket"),
        lit(1).as("side"))
    val drift = operators.CurationOps.chiSquareBuckets(rawB.unionByName(curB))
    counts += "drift_buckets" -> drift.filter(col("chi_term") > 0d).count()

    // 13.5 token-length profile (q139 core): p50 of the curated corpus's
    // token counts via the mergeable histogram sketch — the length
    // profile a run sizes its packing budget against. Integer bin counts
    // merge across shards/days, so at 100 TB this is an incremental
    // aggregate, not a nightly global sort.
    val tokP50 = operators.StatsOps.histQuantile(
        spark.read.parquet(s"$outDir/curated")
          .select(col("n_bpe_tokens").as("v")))
      .filter(col("q_pct") === 50L)
      .collect()(0).getAs[Double]("est")
    counts += "token_p50" -> math.round(tokP50)

    // 13.6 context-length planning (q144 core): fraction of curated
    // tokens a 512-token training window keeps — read against token_p50
    // when sizing the packer; one pass over the curated lake copy
    val ctx = spark.read.parquet(s"$outDir/curated")
      .agg((sum(least(col("n_bpe_tokens"), lit(512L))).cast("double") * 100
        / sum(col("n_bpe_tokens"))).as("pct"))
      .collect()(0).getAs[Double]("pct")
    counts += "ctx512_kept_pct" -> math.round(ctx)

    // 13.7 split-document audit (q142 core): head–tail boundary pairs in
    // the RAW feed — records arriving as halves of one source document.
    // Reported, not auto-merged: merge policy is a human call, but the
    // count belongs in every ingest report because neither exact nor
    // near dedup can see these pairs.
    counts += "split_doc_pairs" ->
      operators.DedupOps.q142HeadTailOverlap(spark, sfDir).count()

    // 14. PPS eval probe (q110 core): a token-proportional ~64-doc probe
    // set drawn from the curated corpus — the deterministic "big docs
    // sampled more" slice an eval harness reads each run
    val probe = operators.CurationOps.ppsSample(
      spark.read.parquet(s"$outDir/curated")
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")), k = 64L)
    sources.Lake.writePlain(probe, s"$outDir/probe")
    counts += "probe_docs" -> spark.read.parquet(s"$outDir/probe").count()

    // 15. ANN index health (q136 core): recall of the LSH index against
    // exact brute-force ground truth on the probe queries — the
    // eval-harness metric a production retrieval deployment re-measures
    // and alarms on after every index rebuild
    val recall = operators.SimilarityOps.q136AnnRecall(spark, sfDir)
    counts += "ann_mean_recall_pct" ->
      math.round(recall.agg(avg(col("recall"))).collect()(0).getDouble(0) * 100)

    // 16. release privacy gate (q167 core): QI-group sizes of the SHIPPED
    // curated corpus — groups smaller than k = 10 are re-identifiable;
    // the count a release pipeline blocks on. One aggregate pass.
    counts += "k_anon_at_risk_groups" ->
      operators.MiscOps.kAnonymityCore(
          spark.read.parquet(s"$outDir/curated"),
          length(col("text")).cast("long"))
        .filter(col("at_risk")).count()

    // 17. corpus-health Zipf check (q168 core): OLS slope of the curated
    // corpus's term rank–frequency curve, in milli-units. Healthy natural
    // language sits near −1000; a flattened slope after curation means a
    // gate stripped the long tail (over-aggressive dedup/quality cut).
    counts += "zipf_slope_milli" ->
      math.round(operators.TextOps.zipfSlopeCore(
          spark.read.parquet(s"$outDir/curated"))
        .collect()(0).getAs[Double]("zipf_slope") * 1000)

    // 18. FD audit (q171 core): rows violating source→lang / lang→source
    // in the curated output — a curation bug that mislabels languages
    // (or a source that changed language mid-feed) surfaces here
    counts += "fd_violation_rows" ->
      operators.MiscOps.fdAuditCore(spark.read.parquet(s"$outDir/curated"))
        .agg(sum(col("violations"))).collect()(0).getLong(0)

    // 19. mixture planning number (q184 core): Kish effective sample size
    // of the temperature weights over the SHIPPED corpus, as a percent of
    // its row count — a collapsing ess_frac means one domain dominates
    // the gradient variance and the mixture needs retuning
    counts += "mixture_ess_frac_pct" ->
      math.round(operators.CurationOps.essCore(
          spark.read.parquet(s"$outDir/curated"))
        .collect()(0).getAs[Double]("ess_frac") * 100)

    // 20. shipped-corpus datasheet (q229 core): the release card —
    // sizes, vocabulary, dup fraction, unseen-bigram mass, domain
    // balance — written to the lake NEXT TO the data it describes, so
    // every downstream consumer reads provenance with the corpus
    val sheet = operators.CurationOps.datasheetCore(
      spark.read.parquet(s"$outDir/curated"))
    sources.Lake.writePlain(sheet, s"$outDir/datasheet")
    counts += "datasheet_metrics" ->
      spark.read.parquet(s"$outDir/datasheet").count()
    counts.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("curate").toString
    val spark = GraftSession()
    curate(spark, sfDir, outDir).foreach { case (k, n) =>
      println(s"[pipeline] $k: $n docs")
    }
    spark.stop()
  }
}
