package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Adversarial oracle-parity fuzz: the suite's standing corpus is
  * well-behaved TPC-H-ish text, so the cross-engine determinism contract
  * (normalization, hash grids, float casts, NULL propagation) has only
  * been proven on friendly inputs. This spec generates PATHOLOGICAL
  * document corpora — empty/whitespace/null texts, unicode (CJK, emoji,
  * combining marks, RTL), a giant doc, all-identical docs, kilotoken
  * single tokens, quote/backslash soup, near-dup pairs, repeated
  * phrases — from 10 deterministic seeds, runs the core dedup/text
  * queries over each, and diffs every result against the same DuckDB
  * oracle the driver uses (`tools/check.py`, byte-identical compare
  * path: columns sorted, rows sorted, stringified).
  *
  * Known divergence classes deliberately NOT generated (documented, not
  * hidden): locale-special casefolds where Java and utf8proc disagree
  * (e.g. U+0130 İ lowercases to "i"+combining-dot in Java, single "i" in
  * some libs) — the normalization contract is `lower()` parity on the
  * engines' shared casefold domain. Same treatment for edit-distance
  * UNITS (r8, caught live by the parts battery): Spark's
  * levenshtein/jaro count codepoints — the declared semantic — while
  * DuckDB's count UTF-8 bytes (jw("bolt", "bôlt") = 0.850 vs 0.805),
  * so the q160/q203 battery runs on an ASCII-names corpus variant
  * where the two unit systems coincide.
  *
  * Cost control: the DuckDB oracle side of the dedup queries is
  * all-pairs over string shingles (no prefix filter), so a full run is
  * minutes per seed. The spec defaults to 3 seeds to keep `sbt test`
  * bounded; `SPARK_GRAFT_FUZZ_SEEDS=10` runs the full battery (green on
  * 2026-08-14, round 7: 10 seeds × 18 queries, 0 diffs, 41 min).
  */
class OracleFuzzSpec extends SparkTestBase {

  // DEFAULT 1 SEED since r13 (VERDICT task 5): the driver runs a plain
  // `sbt test` under a wall-clock budget that the 3-seed default blew
  // twice (r11/r12 tests_ok=false, budget-kill signature) — at 3 seeds
  // the two pathological-corpora batteries alone are ~67 min of DuckDB
  // all-pairs. One seed keeps every battery EXERCISED on every run
  // (~22 min suite-critical-path); builder rounds that touch dedup/text
  // internals must export SPARK_GRAFT_FUZZ_SEEDS=3 (standard depth,
  // run green on this round's final code — SUITE_r13.txt) or 10 (the
  // r7 deep battery).
  private val nSeeds =
    sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEEDS", "1").toInt

  /** Queries under fuzz: the dedup/text core whose parity leans on
    * hashing + normalization (not joins against the TPC-H tables). */
  private val fuzzQueries = Seq(
    "q33_fingerprint", "q34_dedup_exact", "q35_ngram_jaccard",
    "q36_minhash_lsh", "q37_simhash", "q51_winnow_fingerprint",
    "q64_dedup_clusters", "q68_repetition", "q70_contamination",
    "q119_dup_gram_frac", "q123_source_novelty", "q128_source_overlap",
    "q137_repeated_spans", "q145_containment", "q207_good_turing",
    "q234_dup_spans", "q235_doc_chunks", "q58_hash_sample",
    // r8: triangles over the q36 near-dup graph — the ten identical
    // docs form a 10-clique, so the triangle join is actually exercised
    "q83_triangles",
    // r8 second wave: the functional-dependency audit is exactly the
    // kind of query a hostile corpus should exercise
    "q171_fd_audit",
    // r8 fourth wave: the cluster/eval layers ON TOP of the fuzzed
    // dedup cores (canonical argmax, sizes, span scrubbing, the
    // LSH-vs-prefix evaluator) — their oracles inline the all-pairs
    // q36/q64 SQL, so they live in this battery's cost budget
    "q118_cluster_canonical", "q146_cluster_sizes", "q165_block_scrub",
    "q214_lsh_eval")

  /** The multimodal family fuzzes on its own corpus variant: the fake
    * codec's DuckDB oracles model media bytes as text CHARACTERS, which
    * is exact only under the family's documented printable-ASCII
    * corpus contract (qm6's byte/char-equivalence note) — so the qm
    * battery keeps every pathology EXCEPT non-ASCII text (nulls, empty,
    * whitespace, the giant doc, kilotoken tokens, identical docs all
    * stay). The null rows are the ones that caught the decode-lambda
    * NPE this battery exists for. Real media blobs are bytes on BOTH
    * sides, so the chars-vs-bytes limitation is the test fixture's,
    * not the operators'. */
  private val mmFuzzQueries = Seq(
    "qm1_multimodal_features", "qm2_multimodal_frames", "qm3_frame_dedup",
    "qm4_audio_segments", "qm5_chunk_dedup", "qm6_frame_diversity",
    "qm7_magic_bytes")

  private def fuzzDocs(seed: Int): Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(seed * 1000003 + 17)
    val vocab = Vector.tabulate(100)(i => s"w${(i * 7 + seed) % 100}")
    def sent(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val phrase = sent(10)
    val base = sent(40)
    val docs = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    // pathological rows (every seed gets all classes; content varies)
    docs += (("", "en", "web"))
    docs += (("   \t\n  \r ", "en", "web"))
    docs += ((null, "en", "books"))
    docs += (("こんにちは 世界 🌍 🌍 éclair café naïve ß straße", "zh", "web"))
    docs += (("éclair éclair éclair", "fr", "books")) // NFC vs NFD
    docs += (("مرحبا بالعالم hello world", "ar", "web"))
    docs += (("x", null, "code"))
    docs += ((".", "en", null))
    docs += (("🙂", "en", "web"))
    docs += (("a" * 5000, "en", "code")) // one kilotoken token
    docs += (("!!! ??? ... --- ,,, ;;;", "en", "web"))
    docs += ((Seq.fill(50)(phrase).mkString(" "), "en", "books")) // repeated phrase
    docs += (("he said \"hi\" \\ {\"k\": 1} 'quoted' `tick`", "en", "code"))
    docs += (("0 00 000 0.0 -1 1e9 NaN null NULL None", "en", "code"))
    docs += (("  leading and trailing  ", "en", "web"))
    docs += ((sent(20000), "en", "books")) // the giant doc
    // ten identical docs
    val ident = sent(30)
    (1 to 10).foreach(_ => docs += ((ident, "en", "web")))
    // five near-dup pairs: one token appended
    (1 to 5).foreach { _ =>
      docs += ((base, "en", "web"))
      docs += ((base + " " + vocab(rnd.nextInt(vocab.size)), "en", "web"))
    }
    // r10 (orientation seams): two exact-dup groups that are near-dups
    // OF EACH OTHER — one rep pair expands through BOTH member maps —
    // with copy ids STRADDLING the other group's block, so the
    // expansion's least/greatest re-orientation, the both-sides-dup
    // cross join path, and the within/cross union all land under the
    // DuckDB diff (the unit parity spec covers this at mult 2-3;
    // this is the 10-seed oracle-side coverage)
    val gA = sent(25)
    val gB = gA + " " + vocab(rnd.nextInt(vocab.size))
    docs += ((gA, "en", "web"))
    docs += ((gB, "en", "web"))
    (1 to 3).foreach(_ => docs += ((gA, "en", "web")))
    (1 to 2).foreach(_ => docs += ((gB, "en", "web")))
    docs += ((gA, "en", "web"))
    // normal filler docs across langs/sources (nulls included)
    val langs = Vector("en", "fr", "zh", null)
    val sources = Vector("web", "books", "code", null)
    (1 to 30).foreach { _ =>
      docs += ((sent(20 + rnd.nextInt(180)),
        langs(rnd.nextInt(langs.size)), sources(rnd.nextInt(sources.size))))
    }
    docs.zipWithIndex.map { case ((t, l, src), i) =>
      ((i + 1).toLong, t, l, src)
    }.toSeq
  }

  /** Write a docs frame as a single parquet FILE (the layout check.py
    * and Tables expect), alongside copies of the other base tables.
    * `keep` filters the generated texts (the qm battery drops
    * non-ASCII, see [[mmFuzzQueries]]). */
  private def writeSeedDir(seed: Int, dir: String,
      keep: String => Boolean = _ => true): Unit = {
    import spark.implicits._
    val tmp = s"$dir/_tmp_documents"
    fuzzDocs(seed).filter(r => keep(r._2))
      .toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("pathological ASCII media corpora hash-match the DuckDB oracle on the multimodal core") {
    runBattery("mm", mmFuzzQueries, (seed, dir) =>
      writeSeedDir(seed, dir, keep = t => t == null || t.forall(_ < 128)))
  }

  /** Event-time core under fuzz: events-only queries whose parity leans
    * on timestamp truncation, JSON leniency, NULL grouping, and
    * window/session semantics. */
  private val eventsFuzzQueries = Seq(
    "q23_json_extract", "q24_tumbling_window", "q26_sessionize",
    "q27_time_dim", "q46_session_window", "q75_scd2", "q78_range_frame",
    "q94_salted_join", "q127_transitions", "q131_cohort_retention",
    "q141_assoc_rules", "q164_ewma", "q179_cumulative_uniques",
    "q188_autocorr", "q190_seq_mi", "q195_burstiness",
    // r8 second wave: sliding windows, funnel/attribution, per-user
    // gap statistics, count-based trimmed mean, rolling actives — all
    // ride the same unique-ts tiebreak contract the generator models
    "q25_sliding_window", "q76_funnel", "q134_last_touch",
    "q152_decay_attribution", "q183_trimmed_mean",
    "q213_rolling_actives", "q217_gap_burstiness",
    // r8 fourth wave: every remaining events-only query — reshaping
    // (pivot/unpivot/array_agg), temporal joins (as-of, interval,
    // gap-fill), sequence statistics (motifs, trend, conditional
    // entropy), and per-user profiles
    "q09_latest_per_user", "q28_pivot", "q41_asof_lookup",
    "q43_array_agg", "q53_unpivot", "q59_gap_fill", "q79_interval_join",
    "q82_conditional_aggs", "q113_drift_timeline", "q151_seq_motifs",
    "q172_trend_mk", "q186_winsorize", "q189_dow_profile",
    "q192_audience_overlap", "q197_cond_entropy")

  /** Pathological event stream, deterministic per seed. Respects the
    * DOCUMENTED input contracts (ts globally unique — determinism
    * contract #6; money values 2-decimal — the cents-exact contract);
    * hostile in everything else: NULL/empty/unicode/multiword event
    * types, NULL and negative user ids, NULL values and ±1e9 extremes,
    * props cycling through invalid JSON / empty / NULL / nested k /
    * float k / wrong-case key / unicode keys, and timestamps spanning
    * pre-1970 (negative epoch), epoch 0, and 2100 alongside the normal
    * 2024 cluster. */
  private def fuzzEvents(seed: Int): Seq[(Long, Long,
      java.lang.Long, String, java.lang.Double, String)] = {
    val rnd = new scala.util.Random(seed * 7777777 + 3)
    val types = Vector("view", "click", "purchase", "signup", "error",
      "", "购买", "a b", null)
    val users: Vector[java.lang.Long] =
      Vector(0L, 1L, 2L, 3L, 4L, 5L, -5L, null)
    def props(i: Int): String = (i % 10) match {
      case 0 => s"""{"k": ${rnd.nextInt(100)}}"""
      case 1 => null
      case 2 => ""
      case 3 => "not json"
      case 4 => """{"k": null}"""
      case 5 => """{"k": {"x": 1}}"""
      case 6 => """{"k": 1.5}"""
      case 7 => """{"K": 2}"""
      case 8 => s"""{"k": ${rnd.nextInt(100)}, "メモ": "ok"}"""
      case _ => s"""{"j": ${rnd.nextInt(9)}}"""
    }
    def value(i: Int): java.lang.Double = (i % 7) match {
      case 0 => null
      case 1 => 0.00
      case 2 => -999999.99
      case 3 => 1000000000.00
      case _ => math.floor(rnd.nextDouble() * 20000) / 100.0
    }
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    // unique-by-construction micros: normal cluster strides 61s + a
    // per-row sub-second jitter in [0, 1e6) from the row index
    val normal = (0 until 300).map { i =>
      base + i.toLong * 61000000L + (i * 997 % 1000000).toLong
    }
    val extremes = Seq(
      -86400000000L + 123456L,     // 1969-12-31, negative epoch micros
      0L,                          // epoch 0
      4102444800000000L,           // 2100-01-01
      -1L)                         // one microsecond before epoch
    val all = normal ++ extremes
    all.zipWithIndex.map { case (us, i) =>
      ((i + 1).toLong, us,
        users(rnd.nextInt(users.size)), types(rnd.nextInt(types.size)),
        value(i), props(i))
    }
  }

  private def writeEventsSeedDir(seed: Int, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val tmp = s"$dir/_tmp_events"
    fuzzEvents(seed)
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      // exact micros → TimestampType; negative epochs included, no
      // java.sql.Timestamp nanos-field pitfalls
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Relational/money core under fuzz: join/agg/set-op/scalar queries
    * over pathological customer/orders/lineitem — NULL and orphan join
    * keys, NULL/empty/unicode dimension strings, NULL dates and
    * negative-epoch/2100 extremes, money values at 0 / negative / 1e10
    * (2-decimal — the cents contract), NULL quantities and discounts,
    * a negative discount. Windowed per-row queries are excluded
    * (their ORDER BY tiebreak uniqueness is a documented input
    * contract this generator doesn't model); aggregates, joins, set
    * ops, grouping sets, subqueries, and scalar functions are in. */
  private val relFuzzQueries = Seq(
    "q01_pricing_summary", "q02_filter_project", "q03_join_agg",
    "q04_join_left", "q05_join_semi", "q06_join_anti", "q07_join_full",
    "q08_distinct", "q13_union", "q14_intersect", "q15_except",
    "q16_rollup", "q17_cube", "q18_above_avg", "q44_date_arith",
    "q47_math_funcs", "q55_moments", "q57_percentiles",
    "q61_misc_scalars", "q63_date_funcs", "q81_nullsafe_join",
    // r8 second wave: the data-quality audits — the generator's orphan
    // keys, NULL FKs, and negative money are exactly their subject
    "q102_constraints", "q162_fk_audit",
    // r8 fourth wave: every remaining relational/join-shaped query —
    // scalar/grouping surfaces, the specialty joins (range, bloom,
    // as-of snapshots, CDC), revenue analytics over hostile money, and
    // the label/eval join layer (PIT features, negative sampling)
    "q19_having", "q20_case_when", "q45_range_join", "q54_topk_custom",
    "q62_grouping_id", "q66_listagg", "q71_bloom_join", "q73_zorder",
    "q86_profile", "q97_correlated_subquery", "q105_cdc_merge",
    "q109_incremental_agg", "q117_snapshot_diff", "q187_benford",
    "q200_brand_pricing", "q201_ship_lag", "q204_local_supplier",
    "q205_market_share", "q211_open_orders", "q212_forecast_revenue",
    "q215_returned_items", "q221_part_affinity", "q225_pit_features",
    "q226_negative_samples")

  private def fuzzRelational(seed: Int): (Seq[(java.lang.Long, String,
      java.lang.Integer, java.lang.Double, String)],
      Seq[(java.lang.Long, java.lang.Long, String, java.lang.Double,
        java.lang.Long, String)],
      Seq[(java.lang.Long, java.lang.Long, java.lang.Long,
        java.lang.Integer, java.lang.Double, java.lang.Double,
        java.lang.Double, java.lang.Double, String, String,
        java.lang.Long)]) = {
    val rnd = new scala.util.Random(seed * 31337 + 11)
    // money extreme: the LARGEST value inside the documented domain —
    // DECIMAL(12,2) money and q55's cents² ≤ 2⁶³ bound (cents ≤ ~3e9).
    // A first fuzz draft used 1e10 and proved the domain edges fail
    // LOUD on both engines (Spark ANSI long-overflow in the moments
    // products, DuckDB DECIMAL(12,2) conversion error) — silent wrap is
    // impossible, which is the overflow contract working; the standing
    // fuzz stays inside the documented domain.
    def money(i: Int): java.lang.Double = (i % 8) match {
      case 0 => null
      case 1 => 0.00
      case 2 => -12345.67
      case 3 => 9999999.99
      case _ => math.floor(rnd.nextDouble() * 1000000) / 100.0
    }
    val names = Vector("Customer#1", "", null, "客户 一", "O'Brien \\ \"quoted\"")
    val segs = Vector("BUILDING", "AUTOMOBILE", "", null, "市场")
    val custs = (1 to 120).map { i =>
      (java.lang.Long.valueOf(i.toLong), names(rnd.nextInt(names.size)),
        (i % 9) match {
          case 7 => null
          case 8 => java.lang.Integer.valueOf(99) // no such nation
          case _ => java.lang.Integer.valueOf(rnd.nextInt(25))
        },
        money(i), segs(rnd.nextInt(segs.size)))
    } :+ ((null: java.lang.Long), "null-key customer",
      java.lang.Integer.valueOf(1), java.lang.Double.valueOf(0.0), "BUILDING")
    val statuses = Vector("O", "F", "P", "", null)
    val prios = Vector("1-URGENT", "5-LOW", "", null, "急")
    val day = 86400000000L
    def orderDate(i: Int): java.lang.Long = (i % 11) match {
      case 0 => null
      case 1 => -400L * day + 123L       // 1968, negative epoch
      case 2 => 4102444800000000L        // 2100-01-01
      case _ => 725846400000000L + (i.toLong * 37 % 2000) * day // 1993..
    }
    val orders = (1 to 250).map { i =>
      (java.lang.Long.valueOf(i.toLong),
        (i % 10) match {
          case 8 => null
          case 9 => java.lang.Long.valueOf(99999L) // orphan cust
          case _ => java.lang.Long.valueOf((rnd.nextInt(120) + 1).toLong)
        },
        statuses(rnd.nextInt(statuses.size)), money(i + 3),
        orderDate(i), prios(rnd.nextInt(prios.size)))
    } :+ ((null: java.lang.Long), java.lang.Long.valueOf(1L), "O",
      java.lang.Double.valueOf(1.00), java.lang.Long.valueOf(725846400000000L),
      "1-URGENT")
    val flags = Vector("A", "N", "R", "", null, "X")
    def disc(i: Int): java.lang.Double = (i % 9) match {
      case 0 => null
      case 1 => 0.00
      case 2 => 0.99
      case 3 => -0.25
      case _ => rnd.nextInt(11) / 100.0
    }
    val lines = (1 to 900).map { i =>
      ((i % 13) match {
        case 11 => null
        case 12 => java.lang.Long.valueOf(88888L) // orphan order
        case _ => java.lang.Long.valueOf((rnd.nextInt(250) + 1).toLong)
      },
        java.lang.Long.valueOf((rnd.nextInt(200) + 1).toLong),
        java.lang.Long.valueOf((rnd.nextInt(10) + 1).toLong),
        // duplicate (orderkey, linenumber) pairs are an EXISTING corpus
        // property (determinism note #6) — keep generating them
        java.lang.Integer.valueOf(rnd.nextInt(4) + 1),
        (i % 7) match {
          case 5 => null
          case 6 => java.lang.Double.valueOf(-3.00)
          case _ => java.lang.Double.valueOf((rnd.nextInt(50) + 1).toDouble)
        },
        money(i + 1), disc(i), disc(i + 4),
        flags(rnd.nextInt(flags.size)), flags(rnd.nextInt(flags.size)),
        orderDate(i + 5))
    }
    (custs, orders, lines)
  }

  private def writeRelSeedDir(seed: Int, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val (custs, orders, lines) = fuzzRelational(seed)
    def writeOne(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
      val tmp = s"$dir/_tmp_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(s"$dir/$table.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    writeOne(custs.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"), "customer")
    writeOne(orders.toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "ts_us", "o_orderpriority")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), timestamp_micros(col("ts_us")).as("o_orderdate"),
        col("o_orderpriority")), "orders")
    writeOne(lines.toDF("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "ts_us")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), timestamp_micros(col("ts_us")).as("l_shipdate")),
      "lineitem")
    Seq("region", "nation", "supplier", "part", "events", "documents",
      "embeddings").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Similarity core under fuzz: the cosine/ANN/covariance family over
    * pathological embeddings — the ZERO vector and a near-zero vector
    * that quantizes to zero norm (no direction: the divide-by-zero /
    * NULL-ordering hazard for every cosine), extreme ±1000 magnitudes,
    * one-hot, exact duplicates, a negated mirror pair (cosine −1), and
    * NULL labels. Dimension stays the fixed 64 and elements stay finite
    * non-null — both documented schema contracts of the embedding
    * column. The first 5 vec_ids are the retrieval probes by the
    * queries' own convention, so the pathological vectors are planted
    * THERE. */
  private val embFuzzQueries = Seq(
    "q38_embedding_neardup", "q39_knn_brute", "q40_knn_lsh",
    "q48_dim_stats", "q49_embedding_lsh_dedup", "q93_knn_int8",
    "q112_semantic_decontam", "q121_hard_negatives",
    "q132_embed_covariance", "q136_ann_recall", "q154_random_projection",
    "q155_source_affinity", "q166_mmr_rerank", "q196_norm_outliers",
    "q222_bucket_purity",
    // r8 fourth wave: the remaining embeddings-shaped queries — the
    // hybrid fusion, spectral iteration, and retrieval-metric layers
    // over the same zero-norm/NaN-adjacent hostile vectors
    "q111_rrf_hybrid", "q161_power_iteration", "q173_ndcg",
    "q178_rank_tau", "q220_quant_error", "q52_knn_ivf")

  private def fuzzEmbeddings(seed: Int): Seq[(Long, Array[Float],
      java.lang.Integer)] = {
    val rnd = new scala.util.Random(seed * 424243 + 7)
    val dim = 64
    def normal(): Array[Float] =
      Array.fill(dim)((rnd.nextFloat() * 2 - 1))
    def oneHot(i: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f); a(i % dim) = 1.0f; a
    }
    val dup = normal()
    val mirrorBase = normal()
    val rows = scala.collection.mutable.ArrayBuffer[(Array[Float],
      java.lang.Integer)]()
    rows += ((Array.fill(dim)(0.0f), 0))            // vec 0: zero vector
    rows += ((Array.fill(dim)(1e-8f), 1))           // vec 1: quantizes to 0
    rows += ((normal(), 2))                         // vec 2: normal probe
    rows += ((oneHot(seed), 3))                     // vec 3: one-hot probe
    rows += ((dup.clone(), 4))                      // vec 4: dup of vec 10
    rows += ((Array.fill(dim)(1000.0f), 5))
    rows += ((Array.fill(dim)(-1000.0f), 5))
    rows += ((mirrorBase, 6))
    rows += ((mirrorBase.map(-_), 6))               // exact mirror: cos −1
    rows += ((Array.fill(dim)(1.0f), 7))
    rows += ((dup.clone(), null))                   // dup with NULL label
    (0 until 6).foreach(i => rows += ((oneHot(i), 8)))
    (0 until 180).foreach { _ =>
      rows += ((normal(),
        if (rnd.nextInt(12) == 0) null else rnd.nextInt(10)))
    }
    rows.zipWithIndex.map { case ((v, l), i) => (i.toLong, v, l) }.toSeq
  }

  private def writeEmbSeedDir(seed: Int, dir: String): Unit = {
    import spark.implicits._
    val tmp = s"$dir/_tmp_embeddings"
    fuzzEmbeddings(seed).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("pathological embeddings hash-match the DuckDB oracle on the similarity core") {
    runBattery("emb", embFuzzQueries, writeEmbSeedDir)
  }

  test("pathological relational tables hash-match the DuckDB oracle on the join/agg core") {
    runBattery("rel", relFuzzQueries, writeRelSeedDir)
  }

  test("pathological event streams hash-match the DuckDB oracle on the event-time core") {
    runBattery("events", eventsFuzzQueries, writeEventsSeedDir)
  }

  test("pathological corpora hash-match the DuckDB oracle on the dedup/text core") {
    runBattery("docs", fuzzQueries, (seed, dir) => writeSeedDir(seed, dir))
  }

  // ------------------------------------------------------------------
  // r8 batteries: graph and stats/windows — the two families the r7
  // batteries left unfuzzed. Shared runner (same dump-then-check.py
  // diff path as the five r7 batteries above).
  // ------------------------------------------------------------------

  private def runBattery(label: String, queries: Seq[String],
      write: (Int, String) => Unit): Unit = {
    import scala.sys.process._
    assume(Process(Seq("python3", "-c", "import duckdb")).! == 0,
      "python3+duckdb unavailable — oracle fuzz runs only in the driver sandbox")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    (0 until nSeeds).foreach { seed =>
      val dir = s"/tmp/graft_fuzz/$label$seed"
      val outDir = s"/tmp/graft_fuzz/${label}_out$seed"
      new java.io.File(dir).mkdirs(); new java.io.File(outDir).mkdirs()
      write(seed, dir)
      queries.foreach { name =>
        try SparkEntry.queries(name)(spark, dir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failures += s"$label$seed $name: query failed: ${e.getMessage}"
        }
      }
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
        Verify.oracleJson(
          SparkEntry.oracleSql.view.filterKeys(queries.contains).toMap))
      val out = new StringBuilder
      // an oracle that dies (OOM kill, traceback) prints no FAIL line:
      // its exit code and stderr tail are the only record of the cause
      val errTail = scala.collection.mutable.Queue[String]()
      // the build's working directory: this checkout's check.py
      val code = Process(Seq("python3", "tools/check.py", dir, outDir),
        new java.io.File(sys.props("user.dir")))
        .!(ProcessLogger(l => out.append(l).append('\n'),
          l => errTail.synchronized {
            errTail.enqueue(l)
            if (errTail.size > 20) errTail.dequeue()
          }))
      // exit 128+N: killed by signal N (137 = SIGKILL, the OOM killer)
      val killed = if (code > 128) s", killed by signal ${code - 128}" else ""
      if (code != 0)
        failures += s"$label$seed oracle diff (check.py exit $code$killed):\n" +
          out.toString.linesIterator.filter(_.startsWith("FAIL")).mkString("\n") +
          "\ncheck.py stderr, last 20 lines:\n" + errTail.mkString("\n")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Single-parquet-file writer + base-table copier shared by the r8
    * generators (the writeOne/copy pattern of the r7 writers). */
  private def writeTables(dir: String,
      tables: Map[String, org.apache.spark.sql.DataFrame]): Unit = {
    tables.foreach { case (table, df) =>
      val tmp = s"$dir/_tmp_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(s"$dir/$table.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .filterNot(tables.contains).foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Graph core under fuzz: q101 pagerank / q169 k-core over
    * pathological customer–supplier trade graphs — a global hub
    * supplier, duplicate edges (many orders repeating one pair — the
    * DISTINCT must collapse them), a dense bipartite block, pendant
    * stars whose leaves peel in round 1 and cascade the center out in
    * round 2, a disconnected component, a degree-≤2 chain that peels
    * entirely, NULL customer/supplier keys, and orphan lineitem rows.
    * Self-loops and isolated nodes are impossible BY CONSTRUCTION
    * (even/odd node namespacing; nodes are defined by edges) — that is
    * the documented contract, not a generator gap. q83's triangle graph
    * is the q36 near-dup doc graph, fuzzed by the documents battery.
    * Node counts stay ~200, far inside the pinned 10¹² unit's ~5×10⁴
    * guard bound. */
  private val graphFuzzQueries = Seq("q101_pagerank", "q169_kcore")

  private def writeGraphSeedDir(seed: Int, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val rnd = new scala.util.Random(seed * 99991 + 5)
    val day = 86400000000L
    val t0 = 725846400000000L // 1993-01-01
    def money2(): Double = math.floor(rnd.nextDouble() * 100000) / 100.0
    // (custkey, suppkey) intents; null = the null-key pathology
    val pairs = scala.collection.mutable.ArrayBuffer[(java.lang.Long, java.lang.Long)]()
    // 1. hub: supplier 1 trades with customers 1..80
    (1 to 80).foreach(c => pairs += ((c.toLong, 1L)))
    // 2. duplicate edges: (cust 1, supp 1) repeated 30× more
    (1 to 30).foreach(_ => pairs += ((1L, 1L)))
    // 3. dense bipartite block: customers 1..10 × suppliers 2..11
    for (c <- 1 to 10; s <- 2 to 11) pairs += ((c.toLong, s.toLong))
    // 4. pendant star: customers 201..203 trade ONLY with supplier 50 —
    //    leaves have degree 1 (peel round 1), the center's degree drops
    //    3 → 0 (peel round 2): the k-core cascade case
    (201 to 203).foreach(c => pairs += ((c.toLong, 50L)))
    // 5. disconnected component: customers 300..305 × suppliers 60..63
    for (c <- 300 to 305; s <- 60 to 63) pairs += ((c.toLong, s.toLong))
    // 6. chain c400–s70–c401–s71–c402: degree ≤ 2 everywhere, peels out
    pairs += ((400L, 70L)); pairs += ((401L, 70L))
    pairs += ((401L, 71L)); pairs += ((402L, 71L))
    // 7. null keys
    pairs += ((null, 2L)); pairs += ((5L, null))
    // 8. random background
    (1 to 60).foreach(_ =>
      pairs += (((rnd.nextInt(80) + 1).toLong, (rnd.nextInt(30) + 1).toLong)))
    val statuses = Vector("O", "F", "P")
    val orders = pairs.zipWithIndex.map { case ((c, _), i) =>
      (java.lang.Long.valueOf((i + 1).toLong), c,
        statuses(rnd.nextInt(statuses.size)), money2(),
        t0 + (rnd.nextInt(2000).toLong * day), "1-URGENT")
    }.toSeq
    val lines = pairs.zipWithIndex.flatMap { case ((_, s), i) =>
      // 1–2 lines per order, SAME supplier — duplicate (order, supp)
      // lines must still collapse to one edge
      (1 to (1 + rnd.nextInt(2))).map { ln =>
        (java.lang.Long.valueOf((i + 1).toLong),
          (rnd.nextInt(200) + 1).toLong, s, ln,
          (rnd.nextInt(50) + 1).toDouble, money2(), 0.05, 0.02,
          "N", "O", t0 + (rnd.nextInt(2000).toLong * day))
      }
    }.toSeq :+ ((java.lang.Long.valueOf(999999L), 1L,
      java.lang.Long.valueOf(3L), 1, 1.0, 100.0, 0.0, 0.0, "N", "O", t0))
    writeTables(dir, Map(
      "orders" -> orders.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "ts_us", "o_orderpriority")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), timestamp_micros(col("ts_us")).as("o_orderdate"),
          col("o_orderpriority")),
      "lineitem" -> lines.toDF("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "ts_us")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber").cast("int").as("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"),
          timestamp_micros(col("ts_us")).as("l_shipdate"))))
  }

  test("pathological trade graphs hash-match the DuckDB oracle on the graph core") {
    runBattery("graph", graphFuzzQueries, writeGraphSeedDir)
  }

  /** Stats/window core under fuzz: degenerate DISTRIBUTIONS — the
    * blind spot the money-domain rel battery doesn't cover. Groups with
    * a single row, all-identical values (rank/dense_rank/ntile full
    * ties; MAD 0), exactly two values, an all-NULL-quantity group
    * (percentile of an empty non-null set), NULL group keys, a 12-way
    * tie across a global top-10 cut, 50 orders of one customer at one
    * price through a top-3-per-key window, heavy duplication AT the
    * median, and cents values pinned to q163's 65536-cent bin boundary
    * (±1), with even/odd total row counts alternating by seed.
    * Ordering columns (acctbal, totalprice, extendedprice, shipdate)
    * stay NON-NULL and keys stay unique: every window's documented
    * tiebreak contract — Spark's ASC-nulls-first vs DuckDB's
    * nulls-last makes NULL ordering keys an engine-semantics
    * difference, not an operator bug. */
  private val statsFuzzQueries = Seq(
    "q10_window_topn", "q11_window_running", "q12_topk",
    "q21_rank_battery", "q65_window_battery2", "q135_global_ntile",
    "q224_boxplot", "q55_moments", "q57_percentiles", "q77_mad",
    "q139_hist_quantile", "q163_exact_median",
    // r8 second wave: the orders/lineitem analytics no battery covered
    "q85_histogram", "q199_discount_elasticity", "q202_rfm_segments",
    "q218_custdist", "q223_yoy_growth",
    // r8 fourth wave: the label/eval scoring family — degenerate
    // distributions (one-class labels, mass ties, single-row segments)
    // are exactly where rank-sum AUC, gains curves, and risk banding
    // divide by things that can be zero
    "q228_churn_labels", "q230_label_auc", "q231_risk_bands",
    "q232_gains_curve", "q233_band_resolution")

  private def writeStatsSeedDir(seed: Int, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val rnd = new scala.util.Random(seed * 52361 + 29)
    val day = 86400000000L
    val t0 = 725846400000000L
    def money2(lo: Double, hi: Double): Double =
      math.floor((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    // customers: degenerate segment structure
    val custs = scala.collection.mutable.ArrayBuffer[(Long, String,
      Int, Double, String)]()
    custs += ((1L, "solo", 3, 9500.00, "ONE"))               // single-row segment
    (2 to 41).foreach(i =>                                    // 40-way full tie
      custs += ((i.toLong, s"tie$i", i % 25, 9123.45, "TIE")))
    (42 to 71).foreach(i =>                                    // two-valued segment
      custs += ((i.toLong, s"two$i", i % 25,
        if (i % 2 == 0) 100.00 else 200.00, "TWO")))
    (72 to 131).foreach(i =>
      custs += ((i.toLong, s"n$i", i % 25, money2(0, 10000), "NORM")))
    (132 to 137).foreach(i =>                                  // NULL segment key
      custs += ((i.toLong, s"x$i", i % 25, money2(8000, 10000), null)))
    (138 to 140).foreach(i =>                                  // empty-string segment
      custs += ((i.toLong, s"e$i", i % 25, money2(0, 100), "")))
    // orders: tie shapes for the ranking family
    val orders = scala.collection.mutable.ArrayBuffer[(Long, java.lang.Long,
      String, Double, Long, String)]()
    var ok = 0L
    def addOrder(c: java.lang.Long, price: Double): Unit = {
      ok += 1
      orders += ((ok, c, "O", price, t0 + (rnd.nextInt(2000).toLong * day),
        "1-URGENT"))
    }
    addOrder(1L, 5000.00)                                      // cust 1: one order
    (1 to 3).foreach(_ => addOrder(2L, 5000.00))               // cust 2: exactly 3, tied
    (1 to 50).foreach(_ => addOrder(3L, 777.77))               // cust 3: 50-way tie at the rn<=3 cut
    (1 to 12).foreach(_ =>                                     // 12-way tie across the global top-10 cut
      addOrder((rnd.nextInt(130) + 4).toLong, 99999.99))
    (1 to 150).foreach { i =>
      addOrder((rnd.nextInt(140) + 1).toLong,
        if (i % 3 == 0) 1234.56 else money2(1, 50000))         // heavy dup mass
    }
    addOrder(java.lang.Long.valueOf(99999L), 10.00)            // orphan custkey
    addOrder(null, 20.00)                                      // NULL custkey
    // lineitem: degenerate flag groups + bin-boundary cents
    val lines = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Int,
      java.lang.Double, Double, java.lang.Double, java.lang.Double,
      String, String, Long)]()
    var lk = 0L
    def addLine(supp: Long, flag: String, qty: java.lang.Double,
        price: Double, ship: Long): Unit = {
      lk += 1
      lines += ((lk % 400 + 1, (rnd.nextInt(200) + 1).toLong, supp,
        (lk / 400).toInt + 1, qty, price,
        if (lk % 9 == 0) null
        else java.lang.Double.valueOf(0.05),
        java.lang.Double.valueOf(0.02), flag, "O", ship))
    }
    addLine(7L, "S1", 13.0, 655.36, t0)                        // single-row flag group; supplier 7 single row
    (1 to 100).foreach(i =>                                    // all-identical qty; supplier 8: same shipdate, tie-broken by key
      addLine(8L, "ID", 7.0, 655.36, t0 + day))
    (1 to 40).foreach(i =>                                     // all-NULL-quantity group
      addLine((rnd.nextInt(5) + 1).toLong, "NQ", null,
        if (i % 2 == 0) 655.35 else 655.37, t0 + (i.toLong * day)))
    (1 to 30).foreach(i =>                                     // NULL flag group
      addLine((rnd.nextInt(5) + 1).toLong, null,
        (rnd.nextInt(50) + 1).toDouble, money2(1, 2000),
        t0 + (i.toLong * 2 * day)))
    (1 to 200).foreach { i =>
      addLine((rnd.nextInt(10) + 1).toLong, "N",
        (rnd.nextInt(50) + 1).toDouble,
        if (i % 2 == 0) 655.36 else money2(1, 2000),           // half the mass AT the bin boundary / median
        t0 + (rnd.nextInt(2000).toLong * day))
    }
    if (seed % 2 == 1)                                         // flip even/odd n for the median interpolation
      addLine(9L, "N", 3.0, 655.36, t0 + 3 * day)
    writeTables(dir, Map(
      "customer" -> custs.toSeq.toDF("c_custkey", "c_name", "c_nationkey",
        "c_acctbal", "c_mktsegment"),
      "orders" -> orders.toSeq.toDF("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "ts_us", "o_orderpriority")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), timestamp_micros(col("ts_us")).as("o_orderdate"),
          col("o_orderpriority")),
      "lineitem" -> lines.toSeq.toDF("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "ts_us")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), timestamp_micros(col("ts_us")).as("l_shipdate"))))
  }

  test("degenerate distributions hash-match the DuckDB oracle on the stats/window core") {
    runBattery("stats", statsFuzzQueries, writeStatsSeedDir)
  }

  // ------------------------------------------------------------------
  // r8 third wave: text-analysis and curation — the two remaining
  // documents-shaped families. Both ride the SAME pathological corpus
  // generator as the dedup battery (writeSeedDir): null/empty/
  // whitespace/unicode texts, a giant doc, kilotoken tokens, ten
  // identical docs (score TIES by construction), NULL langs and
  // sources. Unlike the dedup core these are linear group-by/window
  // pipelines, so the DuckDB oracle side is cheap — the cost per seed
  // is seconds, not minutes.
  // ------------------------------------------------------------------

  /** Text-analysis core under fuzz: n-gram statistics (PMI, Kneser-Ney,
    * skip-grams, BPE pairs), corpus-level score formulas whose parity
    * rides bit-identical double expression trees (BM25, TF-IDF, Zipf
    * slope, chi², conditional entropy, Heaps' law), language-id and
    * quality scoring over NULL/unicode/degenerate texts, and the
    * string-shaped scans (PII redaction, phrase search, template
    * prefixes). */
  private val textFuzzQueries = Seq(
    "q30_text_stats", "q31_lang_id", "q32_quality_score", "q50_bpe_tokens",
    "q67_pii_redact", "q69_chunk", "q72_tfidf", "q92_vocab_coverage",
    "q99_unigram_lm", "q103_pmi_bigrams", "q104_bm25",
    "q114_lang_top_bigrams", "q122_kneser_ney", "q129_bigram_fluency",
    "q133_novelty_decay", "q138_phrase_search", "q142_head_tail_overlap",
    "q143_char_diversity", "q147_bpe_pairs", "q148_skipgram",
    "q149_code_switch", "q168_zipf_slope", "q170_fertility",
    "q181_heaps_law", "q182_term_chi2", "q193_lang_confusion",
    "q194_template_prefix",
    // r8 fourth wave: the corpus-statistics layer — hypothesis tests,
    // association/effect sizes, sketches, and the array-function
    // surfaces, all over the same hostile corpus
    "q60_array_hofs", "q80_heavy_hitters", "q84_array_setops",
    "q108_drift", "q125_seq_poisson", "q126_group_regression",
    "q150_bootstrap", "q175_gate_kappa", "q176_ks_test",
    "q180_mutual_info", "q185_gini", "q191_capture_recapture",
    "q208_mann_whitney", "q209_cramers_v", "q210_count_min",
    "q219_wilson_rank", "q227_kruskal_wallis")

  test("pathological corpora hash-match the DuckDB oracle on the text-analysis core") {
    runBattery("text", textFuzzQueries, (seed, dir) => writeSeedDir(seed, dir))
  }

  /** Curation core under fuzz: deterministic salted sampling, grouped
    * prefix-sum packing/budgeting, mixture/curriculum weights, splits,
    * source caps, greedy cover, and the datasheet profile — the
    * pipeline family whose determinism leans on hash-salted ordering
    * and integer prefix sums rather than text normalization. The ten
    * identical docs make every score formula TIE, so each ordering's
    * documented unique-key tiebreak is actually load-bearing here. */
  private val curationFuzzQueries = Seq(
    "q74_stratified_sample", "q87_pack_sequences", "q88_domain_mixture",
    "q89_leakfree_split", "q90_global_shuffle", "q91_quality_gate",
    "q95_quality_tiers", "q96_source_cap", "q110_pps_sample",
    "q115_curriculum", "q116_token_budget", "q120_token_mixture",
    "q124_stratum_sample", "q130_dsir_weights", "q140_ingest_triage",
    "q144_context_budget", "q159_gate_sweep", "q174_shard_plan",
    "q177_greedy_cover", "q206_source_wjaccard", "q216_source_jsd",
    // r8 fourth wave: the remaining sampling/audit tooling — blocking,
    // allocation, anonymity, the datasheet profile, and the quantile
    // normalizer (whose scored seam the third wave just hardened)
    "q100_sorted_neighborhood", "q153_pareto", "q156_synth_sample",
    "q157_neyman_alloc", "q158_quantile_norm", "q167_k_anonymity",
    "q184_ess", "q198_hhi", "q229_datasheet")

  test("pathological corpora hash-match the DuckDB oracle on the curation core") {
    runBattery("cur", curationFuzzQueries, (seed, dir) => writeSeedDir(seed, dir))
  }

  // ------------------------------------------------------------------
  // r8 fourth wave: the part-catalog family — the only declared table no
  // battery fuzzed. Its queries are STRING-SHAPED (levenshtein linkage,
  // jaro-winkler blocking, regex extraction, case mapping), which is a
  // different divergence surface from the documents batteries: edit
  // distances and case folds can disagree between a JVM codepoint
  // implementation and a C++ byte/utf8proc one, so the generator leans
  // on unicode (combining vs precomposed accents, CJK, non-BMP emoji,
  // ß), NULL/empty/one-word names, duplicate names, and degenerate
  // brand price distributions (single-part brands, all-identical
  // prices, NULL prices/sizes for the skyline's NULL-dominance
  // semantics).
  // ------------------------------------------------------------------

  private val partsFuzzQueries = Seq(
    "q22_string_funcs", "q56_levenshtein", "q106_skyline",
    "q107_group_outliers")

  /** The edit-distance pair (levenshtein linkage, jaro-winkler
    * blocking) fuzzes on an ASCII-names variant: Spark's string metrics
    * count CODEPOINTS (the declared semantic) while DuckDB's count
    * BYTES, so on non-ASCII input the two engines measure different
    * strings — jw("bolt", "bôlt") is 0.850 by codepoints but 0.805 by
    * bytes (caught live by this battery's unicode corpus). Parity is
    * therefore asserted on the engines' SHARED domain (ASCII, where
    * bytes ≡ codepoints), with near-pair probes dense enough to
    * exercise every blocking/tie path; the unicode behavior is the
    * documented engine semantic, not an oracle-checkable one — the
    * same treatment as the lower() casefold domain in the header. */
  private val linkageFuzzQueries = Seq(
    "q160_fuzzy_linkage", "q203_jaro_linkage")

  private def writePartsSeedDir(seed: Int, dir: String,
      asciiNames: Boolean = false): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 88811 + 7)
    def money(lo: Double, hi: Double): Double =
      math.floor((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    val adjs = Seq("small", "big", "red", "blue", "heavy", "light")
    val nouns = Seq("bolt", "nut", "washer", "screw", "spring", "ring",
      "widget", "gear")
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String,
      String, java.lang.Integer, java.lang.Double)]()
    var k = 0L
    def add(name: String, brand: String, tpe: String,
        size: java.lang.Integer, price: java.lang.Double): Unit = {
      k += 1; rows += ((k, name, brand, tpe, size, price))
    }
    // near-miss first words for the q56 distance gate (<= 2), incl. a
    // unicode accent whose ASCII-only \w extraction keeps just "b"
    Seq("bol", "boltt", "nutt", "wash3r", "scre", "sprin",
      if (asciiNames) "bxlt nut" else "bôlt nut",
      "b0lt", "nu", "washerrr").foreach(n =>
      add(n + " unit", "Brand#1", "ECONOMY", rnd.nextInt(50), money(1, 100)))
    // unicode names (case-map/substr/regex probes) — or, for the
    // edit-distance battery, ASCII near-pairs that exercise the same
    // blocking/tie/gate paths on the byte≡codepoint shared domain
    (if (asciiNames)
      Seq("cafe bolt", "cafe bolt", "caffe bolt", "coffee bolt",
        "strasse screw", "strass screw", "naive spring", "nave spring")
    else
      Seq("caf\u00e9 bolt", "caf\u00e9 bolt", "\u87ba\u6813 bolt",
        "\ud83d\ude42 nut", "stra\u00dfe screw", "\u05e9\u05dc\u05d5\u05dd nut",
        "\u00dcber gear", "na\u00efve spring")).foreach(n =>
      add(n, "Brand#U", "UNICODE", rnd.nextInt(50), money(1, 100)))
    // structural edge names: NULL, empty, one word (split_part -> ''),
    // multi-space, leading/trailing space, kilochar
    add(null, "Brand#N", "NULLISH", 10, 50.0)
    add("", "Brand#N", "NULLISH", 11, 51.0)
    add("solo", "Brand#N", "NULLISH", 12, 52.0)
    add("a  b", "Brand#N", "NULLISH", 13, 53.0)
    add(" lead bolt", "Brand#N", "NULLISH", 14, 54.0)
    add("trail bolt ", "Brand#N", "NULLISH", 15, 55.0)
    add(("x" * 2000) + " bolt", "Brand#N", "NULLISH", 16, 56.0)
    // duplicate full names (q160 groups by name and multiplies counts)
    (1 to 4).foreach(_ => add("red bolt", "Brand#D", "DUP", 20, 42.0))
    (1 to 3).foreach(_ => add("red bol", "Brand#D", "DUP", 21, 43.0))
    // degenerate brands: single part; all-identical prices (MAD = 0 —
    // every non-median price is an "outlier" iff strictly off-median);
    // NULL prices/sizes (skyline NULL-dominance; quantiles skip NULLs)
    add("lone gear", "Brand#S", "SINGLE", 30, 777.77)
    (1 to 6).foreach(i => add(s"same$i part", "Brand#T", "TIED", 30 + i, 99.99))
    add("null price bolt", "Brand#Z", "NULLY", 40, null)
    add("null size nut", "Brand#Z", "NULLY", null, 60.0)
    add("null both", "Brand#Z", "NULLY", null, null)
    // bulk: random two-word names over a tight vocabulary so the
    // blocking joins and the skyline actually produce pairs/frontiers
    (1 to 120).foreach { _ =>
      add(s"${adjs(rnd.nextInt(adjs.size))} ${nouns(rnd.nextInt(nouns.size))}",
        s"Brand#${rnd.nextInt(6)}", if (rnd.nextBoolean()) "ECONOMY" else "SMALL",
        rnd.nextInt(50), money(1, 2000))
    }
    val tmp = s"$dir/_tmp_part"
    rows.toSeq.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/part.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("pathological part catalogs hash-match the DuckDB oracle on the linkage/string core") {
    runBattery("parts", partsFuzzQueries, (seed, dir) => writePartsSeedDir(seed, dir))
  }

  test("ASCII-domain part catalogs hash-match the DuckDB oracle on the edit-distance core") {
    runBattery("lk", linkageFuzzQueries,
      (seed, dir) => writePartsSeedDir(seed, dir, asciiNames = true))
  }

  // -------------------------------------------------------------------
  // Sketch-certification battery (r9): q42's HLL sketch and q52's IVF
  // index each certify an approximation bound in-query. The contract
  // under hostile inputs is pass-OR-loud-raise, asserted from the
  // results themselves: either the
  // dumped rows carry a bound that genuinely holds (re-checked here, row
  // by row), or the query raises ITS OWN bound/contract error (message
  // names the query) — never a silently-populated garbage row, and never
  // an unrelated internal crash.
  // -------------------------------------------------------------------

  /** Hostile lineitem for q42: per-group cardinality degeneracies —
    * cardinality-1, all-distinct, ALL-NULL keys (exact count 0 — the
    * division degeneracy), a NULL returnflag group, a single-row group,
    * keys at the int32/int64 boundaries, and a half-NULL group. */
  private def fuzzSketchLineitem(seed: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 90001 + 23)
    val rows = scala.collection.mutable
      .ArrayBuffer[(java.lang.Long, java.lang.Long, String)]()
    (1 to 400).foreach(i => rows += ((100000L + i, 7L, "A")))
    (1 to (1000 + 200 * (seed % 5))).foreach(i =>
      rows += ((200000L + i, 300000L + i, "B")))
    (1 to 200).foreach(_ => rows += ((null, null, "C")))
    (1 to 100).foreach(_ => rows += ((400000L + rnd.nextInt(50),
      500000L + rnd.nextInt(50), null)))
    rows += ((1L, 2L, "D"))
    Seq(0L, -1L, 1L, Int.MaxValue.toLong, Int.MaxValue + 1L,
      Int.MinValue.toLong, Long.MaxValue, Long.MinValue + 1)
      .foreach(v => rows += ((v, v, "E")))
    (1 to 300).foreach(i => rows += ((600000L + i,
      if (i % 2 == 0) null else 700000L + i, "F")))
    rows.toSeq.toDF("l_orderkey", "l_partkey", "l_returnflag")
  }

  /** Hostile embeddings for q52, one degeneracy class per seed (mod 4):
    * 0 = every vector zero-norm (nothing retrievable at all);
    * 1 = every vector IDENTICAL (one distinct point for 16
    *     centroids); 2 = three distinct vectors under a zero-norm
    *     majority (fewer distinct points than centroids AND a tiny
    *     retrievable corpus); 3 = every id duplicated (re-ingest shape:
    *     same id, same vector, twice). */
  private def fuzzSketchEmbeddings(seed: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 31337 + 5)
    val dim = 64
    def normal(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val rows = scala.collection.mutable
      .ArrayBuffer[(Long, Array[Float], java.lang.Integer)]()
    (seed % 4) match {
      case 0 =>
        (0 until 30).foreach(i =>
          rows += ((i.toLong, Array.fill(dim)(if (i % 2 == 0) 0.0f else 1e-8f),
            i % 3)))
      case 1 =>
        val one = normal()
        (0 until 100).foreach(i => rows += ((i.toLong, one.clone(), 1)))
      case 2 =>
        val distinct = Array(normal(), normal(), normal())
        (0 until 40).foreach { i =>
          if (i % 4 == 0) rows += ((i.toLong, distinct(i % 3).clone(), i % 3))
          else rows += ((i.toLong, Array.fill(dim)(0.0f), null))
        }
      case _ =>
        (0 until 60).foreach { i =>
          val v = normal()
          rows += ((i.toLong, v, i % 5))
          rows += ((i.toLong, v.clone(), i % 5))
        }
    }
    rows.toSeq.toDF("vec_id", "embedding", "label")
  }

  test("battery inventory matches the exported Evidence counts") {
    // the summary.json the driver diffs claims these numbers; a battery
    // added or removed without bumping Evidence fails here
    val batteries = testNames.count(n =>
      n.contains("hash-match the DuckDB oracle") || n.contains("raise loudly"))
    assert(batteries == Evidence.fuzzBatteries,
      s"$batteries batteries vs Evidence.fuzzBatteries=${Evidence.fuzzBatteries}")
  }

  test("degenerate sketch inputs certify their bounds or raise loudly (q42/q52)") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def rootMessages(e: Throwable): String = {
      val ms = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      ms
    }
    (0 until nSeeds).foreach { seed =>
      val dir = s"/tmp/graft_fuzz/sketch$seed"
      new java.io.File(dir).mkdirs()
      writeTables(dir, Map(
        "lineitem" -> fuzzSketchLineitem(seed),
        "embeddings" -> fuzzSketchEmbeddings(seed)))
      // q42 — rows must self-certify; a raise must be q42's own.
      // Bounds live on the internal full frame since r10; the declared
      // subset must run too, and must carry the NULL-returnflag group
      // (r10, ADVICE: the pre-null-safe join dropped it, making the
      // NULL-group raise contract dead code).
      try {
        val rows = operators.Relational.q42Full(spark, dir).collect()
        if (rows.isEmpty)
          failures += s"sketch$seed q42: EMPTY result on non-empty lineitem"
        rows.foreach { r =>
          val pct = r.getAs[Double]("est_within_pct")
          if (!(pct <= 5.0) || !r.getAs[Boolean]("within_bound"))
            failures += s"sketch$seed q42: dumped row violates its bound: $r"
        }
        val declared = SparkEntry.queries("q42_approx_distinct")(spark, dir).collect()
        if (!declared.exists(_.isNullAt(0)))
          failures += s"sketch$seed q42: NULL-returnflag group missing from declared output"
        if (declared.length != rows.length ||
            !declared.forall(_.getAs[Boolean]("within_bound")))
          failures += s"sketch$seed q42: declared subset disagrees with the full frame"
      } catch { case e: Throwable =>
        if (!rootMessages(e).contains("q42:"))
          failures += s"sketch$seed q42: non-contract crash: ${rootMessages(e).take(300)}"
      }
      // q52 — empty allowed ONLY for the nothing-retrievable class;
      // IVF rows must carry recall in [0, 1], one consistent certified
      // mean >= 0.3 on every row; a raise must be q52's own bound error.
      try {
        val rows = SparkEntry.queries("q52_knn_ivf")(spark, dir).collect()
        if (rows.isEmpty) {
          if (seed % 4 != 0)
            failures += s"sketch$seed q52: EMPTY result with retrievable vectors present"
        } else {
          val means = rows.map(_.getAs[Double]("mean_recall_at_10")).distinct
          if (means.length != 1 || !(means.head >= 0.3))
            failures += s"sketch$seed q52: inconsistent/violated certified mean ${means.mkString(",")}"
          rows.foreach { r =>
            val rec = r.getAs[Double]("recall_at_10")
            if (!(rec >= 0.0 && rec <= 1.0) || !r.getAs[Boolean]("recall_ok"))
              failures += s"sketch$seed q52: garbage bound row: $r"
          }
        }
      } catch { case e: Throwable =>
        if (!rootMessages(e).contains("q52:"))
          failures += s"sketch$seed q52: non-contract crash: ${rootMessages(e).take(300)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
