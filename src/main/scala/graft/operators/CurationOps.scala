package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.frevenue
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation surface beyond dedup/similarity: PII redaction,
  * repetition-based quality signals, training-window chunking, benchmark
  * contamination detection, TF-IDF keyword extraction, bloom-filter join
  * pruning, Z-order clustering keys, and stratified sampling.
  *
  * Everything is built-in/codegen column work (no UDFs); the iterative
  * shapes (chunk explode, shingle join) follow the same bucket-join
  * discipline as DedupOps — pairs are only generated inside a join key,
  * never all-pairs. Every query has an exact DuckDB oracle.
  */
object CurationOps {

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "[0-9]{3}-[0-9]{4}"

  /** Reusable redaction column: e-mails then phones → placeholder tags. */
  def redact(c: Column): Column =
    regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")


  /** PII redaction: e-mail and phone patterns scrubbed with placeholder
    * tags, plus pre-redaction match counts (the audit signal a curation
    * pipeline logs). The corpus text is synthetic and PII-free, so a
    * deterministic e-mail + phone suffix derived from doc_id is appended
    * first — the operator then provably redacts ≥ 1 of each per row.
    * Pure per-row regex work: embarrassingly parallel, no shuffle. */
  def q67PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val txt = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or call 555-01"),
      lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"))
    Tables.documents(s, dir)
      .select(col("doc_id"), txt.as("txt"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("txt"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        redact(col("txt")).as("redacted"))
  }

  val q67Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com or call 555-01'
       |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS txt
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(txt, '$emailRe')) AS n_emails,
       |  len(regexp_extract_all(txt, '$phoneRe')) AS n_phones,
       |  regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g') AS redacted
       |FROM t""".stripMargin

  /** Gopher-style repetition quality signals: duplicate word-trigram
    * fraction and distinct-token ratio inputs. All per-row array work on
    * a materialized token column (a lambda that captures the tokenizer
    * expression would re-tokenize per trigram). */
  def q68Repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        transform(sequence(lit(1), size(col("toks")) - 2), i =>
          concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))
          .as("g3"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        ((size(col("g3")) - size(array_distinct(col("g3")))).cast("double")
          / size(col("g3"))).as("dup3_frac"))

  val q68Sql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 3),
       |g AS (SELECT doc_id, n, toks, ${shinglesSql("toks", 3)} AS g3 FROM f)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       |  CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup3_frac
       |FROM g""".stripMargin

  /** Reusable chunking over any (doc_id, text) frame — see [[q69Chunk]].
    * NULL text emits NO chunks (r8, text fuzz battery): both engines'
    * greatest/least skip NULL args, so an unfiltered NULL doc planned one
    * phantom chunk whose text was '' in Spark (concat_ws never returns
    * NULL) but NULL in DuckDB (array_to_string propagates). Same
    * boundary as [[chunkDocs]]; empty text still chunks normally. */
  def chunkTokens(docs: DataFrame, W: Int = 64, S: Int = 48): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0),
          floor(greatest(col("n") - W + S - 1, lit(0)) / S).cast("int")))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("n").cast("long").as("n_tokens"),
        least(lit(W), col("n") - col("chunk_id") * S).cast("long")
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("chunk_id") * S + 1, lit(W)))
          .as("chunk_text"))

  /** Training-window chunking: token windows of 64 with stride 48
    * (overlap 16) — the context-window packing step of an LLM data
    * pipeline. One generate-series explode per doc; row count is bounded
    * by total tokens / stride, and the whole thing is a single narrow
    * pass (no shuffle). */
  def q69Chunk(s: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables.documents(s, dir))

  /** INGEST DOC-LENGTH CAP — the contract that turns every
    * "doc-length-bounded" buffer claim downstream (q35's prefix sets,
    * q165's block lists, q214's inherited sets) into a REAL number: no
    * document entering the dedup/text pipeline exceeds `maxTokens`
    * tokens, because oversize documents are split here, at ingest, into
    * disjoint consecutive chunks (stride = width = maxTokens — dedup
    * wants disjoint coverage, unlike [[chunkTokens]]'s overlapping
    * training windows). Every row — chunked or not — carries the
    * normalized token text (idempotent under the pipeline's own
    * [[graft.functions.TextFns.normText]]), a 0-based `chunk`, the
    * doc's `n_chunks`, and a packed `chunk_key = doc_id·2¹⁶ + chunk`
    * usable as the downstream doc identity; the packing guards its own
    * domain (doc_id < 2⁴⁶, chunk < 2¹⁶ — i.e. docs up to
    * maxTokens·65536 tokens) with raise_error, so an id overflow is a
    * loud failure, never a silent key collision. Per-row work only —
    * no shuffle; the explode fans out ⌈n/maxTokens⌉ rows. */
  def chunkDocs(docs: DataFrame, maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"chunkDocs: maxTokens $maxTokens must be >= 1")
    docs
      // ANSI-independence (r8, ADVICE): with ansi off, size(NULL) = -1,
      // so a null doc would plan n_chunks = 0 and sequence(0, -1) =
      // [0, -1] — TWO phantom rows, one with chunk = -1 whose packed key
      // collides into doc (doc_id-1)'s chunk-65535 slot. Null text is
      // dropped at the boundary (the asMediaTable pattern); the oracle
      // emits 0 rows for such docs either way, and under ANSI (the
      // default) the filter is a no-op.
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n"))
      .select(col("doc_id"), col("toks"), col("n"),
        ((col("n") + (maxTokens - 1)) / maxTokens).cast("long").as("n_chunks"))
      .select(col("doc_id"), col("toks"), col("n"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk"))
      .select(col("doc_id"), col("chunk"), col("n_chunks"),
        least(lit(maxTokens.toLong), col("n") - col("chunk") * maxTokens)
          .as("n_chunk_tokens"),
        when(col("doc_id").between(0L, (1L << 46) - 1)
            && col("chunk").between(0L, (1L << 16) - 1),
          col("doc_id") * 65536L + col("chunk"))
          .otherwise(raise_error(concat(
            lit("chunkDocs: chunk_key domain exceeded (doc_id "),
            col("doc_id").cast("string"), lit(", chunk "),
            col("chunk").cast("string"),
            lit(") — needs 0 <= doc_id < 2^46 and 0 <= chunk < 2^16"))))
          .as("chunk_key"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk") * maxTokens + 1).cast("int"),
            lit(maxTokens))).as("chunk_text"))
  }

  /** [[chunkDocs]] as a declared, oracle-checked query (maxTokens = 40
    * so the sf corpus actually chunks). */
  def q235DocChunks(s: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.documents(s, dir), maxTokens = 40)

  val q235Sql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |tp AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
       |        UNNEST(toks) AS tok, generate_subscripts(toks, 1) AS p FROM t),
       |c AS (SELECT doc_id, n, CAST((p - 1) // 40 AS BIGINT) AS chunk,
       |        string_agg(tok, ' ' ORDER BY p) AS chunk_text
       |      FROM tp GROUP BY doc_id, n, chunk)
       |SELECT doc_id, chunk, CAST((n + 39) // 40 AS BIGINT) AS n_chunks,
       |  CAST(least(40, n - chunk * 40) AS BIGINT) AS n_chunk_tokens,
       |  doc_id * 65536 + chunk AS chunk_key, chunk_text
       |FROM c""".stripMargin

  val q69Sql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
       |  WHERE text IS NOT NULL),
       |tp AS (SELECT doc_id, len(toks) AS n,
       |        UNNEST(toks) AS tok, generate_subscripts(toks, 1) AS p FROM t),
       |c AS (SELECT doc_id, n, tok, p, CAST((p - 1) // 48 - d AS BIGINT) AS cid
       |      FROM tp, UNNEST([0, 1]) AS u(d))
       |SELECT doc_id, cid AS chunk_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(least(64, n - cid * 48) AS BIGINT) AS n_chunk_tokens,
       |  string_agg(tok, ' ' ORDER BY p) AS chunk_text
       |FROM c
       |WHERE cid >= 0 AND p <= cid * 48 + 64
       |  AND cid < 1 + CAST(floor(greatest(n - 64 + 48 - 1, 0) / 48) AS BIGINT)
       |GROUP BY doc_id, n, cid""".stripMargin

  /** Benchmark-contamination detection: documents sharing ≥ 3 distinct
    * word 3-grams with any doc of a (deterministically chosen ~5%)
    * benchmark set — real pipelines use longer shingles (8–13 grams); the
    * synthetic corpus's tiny vocabulary needs short ones for overlap to
    * exist at all. The join key is the n-gram itself — candidate pairs
    * exist only inside a shared shingle, never all-pairs.
    *
    * Shape note (round-5 fix): the previous formulation aggregated a
    * `collect_list(doc_id)` posting list per shingle — unbounded on a
    * natural-language corpus, where a stop-gram ("one of the") appears in
    * a constant fraction of documents, so one aggregation buffer grows
    * O(corpus) → executor OOM. Now there are NO lists anywhere: the probe
    * shingle stream shuffle-JOINS the bench shingle stream on the gram
    * hash (the oracle's own formulation). Task memory stays O(1) — a hot
    * gram is join-output volume, not buffer growth. The bench filter
    * sits BELOW the tokenizer, so only the ~5% bench subset is tokenized
    * a second time — the join costs 1.05 corpus passes, not 2.
    *
    * Skew note (r10): AQE's skew-join split keys off INPUT partition
    * bytes, so it covers hot grams whose cost is proportional to their
    * input rows — NOT the copy×copy fan-out a duplicated document
    * injects (10⁴ copies of one page put every one of its grams in 10⁴
    * corpus rows × ~500 bench rows, all generated by whichever single
    * task owns the gram's partition). The DECLARED q70 therefore runs
    * [[contaminationCollapsed]]; this raw form remains the generic
    * two-frame entry point and the collapsed form's parity baseline.
    *
    * Generic form: contamination pairs between a corpus and a benchmark
    * frame (both `(doc_id, text)`; bench doc ids are reported as
    * `bench_id`). */
  def contaminationPairs(docs: DataFrame, bench: DataFrame,
      minShared: Long = 3L): DataFrame = {
    // fused long gram hashes (gram3_hash64: no gram string allocated,
    // longs shuffle ~3× cheaper; counts are hash-agnostic under 64-bit
    // injectivity — the oracle's string-gram counts match)
    // ingest cap as a boolean conjunct, not an array wrapper: capGuard
    // raises identically on oversize docs but keeps `toks` a plain
    // column, so the gram generator stays codegen-fused (cappedToks
    // here measured ×1.25 on this join, r11 A/B)
    def shingles(df: DataFrame) = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3 &&
        graft.functions.TextFns.capGuard(col("toks")))
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.HashExprs.gram3_hash64(col("toks")))).as("g"))
    shingles(docs)
      .join(shingles(bench).withColumnRenamed("doc_id", "bench_id"), "g")
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def q70Contamination(s: SparkSession, dir: String): DataFrame = {
    val isBench = pmod(hash60(concat(lit("bench:"),
      col("doc_id").cast("string"))), lit(100)) < 5
    contaminationAuto(
      Tables.widen(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), normText(col("text")).as("norm")),
      isBench)
  }

  /** Adaptive dispatch between the raw gram join and
    * [[contaminationCollapsed]]: the collapse prices two corpus
    * checkpoints plus expansion probes onto every call (measured ×2.4 at
    * sf0.1 on the near-dup-only bench corpus, PerfAB q70 pair), which is
    * pure cost unless real exact duplication exists for it to
    * neutralize. [[Skew.dupMass]] of the content fingerprint decides: at
    * or below [[Skew.FanoutPinThreshold]] the raw join runs — its
    * hot-gram exposure is then bounded by content diversity, not copy
    * count — and above it the collapsed form runs (measured ×2.8 at zipf
    * 3·10⁴ and growing quadratically for raw vs linearly for collapsed,
    * SCALING.md "q70 contamination"). The probe's error analysis is at
    * [[Skew.dupMass]]. Both paths emit identical rows (spec parity on
    * all expansion branches; raw is the oracle-gated form, so parity
    * transitively oracle-checks the collapsed one). `pinThreshold` is
    * the straddle specs' reference arm; declared callers take the
    * default. */
  private[graft] def contaminationAuto(normed: DataFrame,
      isBench: Column, minShared: Long = 3L,
      pinThreshold: Long = Skew.FanoutPinThreshold): DataFrame =
    if (Skew.dupMass("contamination_dup_mass",
        normed.filter(col("norm").isNotNull), xxhash64(col("norm"))) <= pinThreshold)
      // normText is idempotent, so the raw tokenizer re-normalizing
      // `norm` reproduces the exact gram stream of the original text
      contaminationPairs(normed.withColumnRenamed("norm", "text"),
        normed.withColumnRenamed("norm", "text").filter(isBench), minShared)
    else contaminationCollapsed(normed, isBench, minShared)

  /** [[contaminationPairs]] over an exact-dup-collapsed corpus — the
    * declared q70 and the at-scale consumer pattern (the
    * q35/q36/q37 idiom applied to decontamination): a boilerplate page
    * duplicated 10⁵ times tokenizes ONCE, its grams enter the join once
    * per distinct content instead of once per copy, and the copy×copy
    * pair volume moves from the gram join (where a hot gram's pairs are
    * generated by whichever single task owns the gram key — AQE's skew
    * split sizes by INPUT bytes and never fires on KBs of edge input)
    * into role-aware expansion joins that
    * bucket mega-groups B ways. Output is IDENTICAL to the raw form:
    * n_shared is a pure function of the two CONTENTS, so every member
    * pair scores its representatives' count, and within-group pairs
    * (identical contents) share all n_g distinct grams by construction.
    * Hot grams across genuinely-DISTINCT contents remain declared join
    * volume, as before.
    *
    * `normed` carries (doc_id, norm = normText(text)) — the same
    * normalization [[graft.functions.TextFns.tokens]] applies inside
    * the raw join, so collapsing by `norm` groups exactly the docs
    * whose gram sets are identical. `isBench` must be a deterministic
    * predicate over `doc_id` (benchmark membership is per-copy, not
    * per-content — two copies of one content can disagree on it). */
  private[graft] def contaminationCollapsed(normed: DataFrame,
      isBench: Column, minShared: Long = 3L): DataFrame = {
    val c = DedupOps.collapseExact(normed)
    // distinct gram hashes of a rep subset — the raw join's own
    // expression (tokens → cappedToks guard → fused 64-bit 3-gram
    // hashes), so counts are hash-identical. Both q70 branches enforce
    // the ingest cap at their tokenize boundary: this one here, the raw
    // dispatch branch inside contaminationPairs itself, so an oversize
    // doc fails loudly on either branch.
    def repSh(reps: DataFrame, as: String) = reps
      .select(col("doc_id"),
        graft.functions.TextFns.cappedToks(split(col("norm"), " ")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id").as(as), explode(array_distinct(
        graft.functions.HashExprs.gram3_hash64(col("toks")))).as("g"))
    val benchM = c.map.filter(isBench)
      .select(col("rep_id"), col("doc_id").as("bench_id"))
    val benchReps = benchM.select(col("rep_id")).distinct()
    // bench filter BELOW the tokenizer (the raw form's own shape): the
    // bench side re-tokenizes only the ~5% bench-containing reps
    val repPairs = repSh(c.reps, "rep_a")
      .join(repSh(c.reps.join(
          benchReps.withColumnRenamed("rep_id", "doc_id"),
          Seq("doc_id"), "left_semi"), "rep_b"), Seq("g"))
      .filter(col("rep_a") =!= col("rep_b"))
      .groupBy(col("rep_a"), col("rep_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // ----- role-aware expansion: rep_a → every member, rep_b → every
    // bench member. Pairs touching no fanning side pass through DIRECT
    // (the expandRepPairs singleton split): rep_a fans iff its group
    // has mult ≥ 2; rep_b fans iff its bench members are not exactly
    // {rep_b} (a mult ≥ 2 group's single bench member can be a NON-rep
    // copy, so identity is decided on the bench roster, not on mult).
    val dupA = c.groups.filter(col("mult") >= 2L).select(col("rep_id"))
    val fanB = benchM.groupBy(col("rep_id"))
      .agg(count(lit(1)).as("bm"), min(col("bench_id")).as("b0"))
      .filter(col("bm") >= 2L || col("b0") =!= col("rep_id"))
      .select(col("rep_id"))
    val flagged = repPairs
      .join(dupA.select(col("rep_id").as("rep_a"), lit(true).as("fa")),
        Seq("rep_a"), "left")
      .join(fanB.select(col("rep_id").as("rep_b"), lit(true).as("fb")),
        Seq("rep_b"), "left")
    val direct = flagged.filter(col("fa").isNull && col("fb").isNull)
      .select(col("rep_a").as("doc_id"), col("rep_b").as("bench_id"),
        col("n_shared"))
    val toExpand0 = flagged.filter(col("fa").isNotNull || col("fb").isNotNull)
      .select(col("rep_a"), col("rep_b"), col("n_shared"))
    // fan-out parallelism pin + mega-group salt, as in expandRepPairs.
    // The member rosters here are total, so the joins are inner (no
    // left-coalesce fallback).
    val plan = Skew.expansionPlan(c.groups)
    val toExpand = plan.pinned(toExpand0, "rep_a")
    val members = c.map.select(col("rep_id"), col("doc_id"))
    val benchMembers = benchM.withColumnRenamed("bench_id", "doc_id")
    val expanded = plan.join(
        plan.join(toExpand, members, "rep_a", "doc_id", "inner"),
        benchMembers, "rep_b", "bench_id", "inner")
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
    // ----- within-group pairs: identical contents share every gram, so
    // n_shared = the group's distinct-gram count, eligible at ≥ minShared;
    // volume is mult × bench-members per group, generated by the same
    // bucketed join when the group is mega-sized
    val ngDup = repSh(c.reps
        .join(dupA.withColumnRenamed("rep_id", "doc_id"),
          Seq("doc_id"), "left_semi"), "rep_id")
      .groupBy(col("rep_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val within = plan.join(members.join(ngDup, Seq("rep_id")),
        benchMembers, "rep_id", "bench_id", "inner")
      .filter(col("doc_id") =!= col("bench_id"))
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
    direct.unionByName(expanded).unionByName(within)
  }

  val q70Sql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS g FROM t),
       |b AS (SELECT doc_id AS bench_id, g FROM sh
       |      WHERE ${hash60Sql("'bench:' || doc_id")}
       |        % 100 < 5)
       |SELECT sh.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM sh JOIN b ON sh.g = b.g AND sh.doc_id <> b.bench_id
       |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin

  /** Dataset datasheet — the one-query corpus card ("Datasheets for
    * Datasets", Gebru et al. 2021): size, vocabulary, metadata
    * cardinalities, exact-duplicate fraction, Good–Turing unseen-bigram
    * mass, and the domain-balance ESS fraction, as a (metric, value)
    * long frame a release pipeline publishes next to the data. Each row
    * is an already-scale-audited single-row summary (q34/q207/q184's
    * shapes) unioned together — a handful of narrow corpus passes, every
    * value either an exact count or an oracle-matched fixed double
    * tree. */
  def q229Datasheet(s: SparkSession, dir: String): DataFrame =
    datasheetCore(Tables.documents(s, dir))

  /** See [[q229Datasheet]]: `docs` carries (doc_id, text, lang, source). */
  def datasheetCore(docs: DataFrame): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val tokStats = toks.agg(count(lit(1)).as("n_tokens"),
      countDistinct(col("w")).as("vocab"))
    val meta = docs.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(md5(normText(col("text")))).as("n_distinct_fp"))
    // one explode per source aggregate (r13, tail plan-depth pass): the
    // old per-metric unionAll re-planned `meta` four times and
    // `tokStats` twice — six extra corpus scans for a 8-row result.
    // Each aggregate now runs once and its metrics come out via explode
    // of (metric, value) structs; values are the same expressions.
    def metricRows(src: DataFrame,
        ms: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
      src.select(explode(array(ms.map { case (n, v) =>
        struct(lit(n).as("metric"), v.cast("double").as("value"))
      }: _*)).as("m"))
        .select(col("m.metric").as("metric"), col("m.value").as("value"))
    metricRows(meta, Seq(
      "n_docs" -> col("n_docs"), "n_langs" -> col("n_langs"),
      "n_sources" -> col("n_sources"),
      // empty-corpus guard: ANSI raises on 0.0/0.0, and an empty feed's
      // datasheet should report a NULL dup fraction, not kill the job
      "exact_dup_frac" -> when(col("n_docs") > 0L,
        lit(1.0) - col("n_distinct_fp").cast("double") /
          col("n_docs").cast("double"))))
      .unionAll(metricRows(tokStats, Seq(
        "n_tokens" -> col("n_tokens"), "vocab" -> col("vocab"))))
      .unionAll(metricRows(graft.operators.TextOps.goodTuringCore(docs),
        Seq("gt_missing_mass" -> col("gt_missing_mass"))))
      .unionAll(metricRows(essCore(docs), Seq("lang_ess_frac" -> col("ess_frac"))))
  }

  /** lazy: CurationOps and TextOps reference each other's SQL vals;
    * eager init would read TextOps.q207Sql before TextOps finishes
    * initializing (object-cycle NPE). */
  lazy val q229Sql: String =
    s"""WITH toks AS (
       |  SELECT w FROM (SELECT UNNEST(${tokensSql("text")}) AS w FROM documents)
       |  WHERE w <> ''),
       |meta AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |    CAST(count(DISTINCT md5(
       |      ${normSql("text")})) AS BIGINT)
       |      AS n_fp
       |  FROM documents)
       |SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM meta
       |UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM meta
       |UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM meta
       |UNION ALL SELECT 'exact_dup_frac',
       |  1.0 - CAST(n_fp AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM meta
       |UNION ALL SELECT 'n_tokens', CAST(count(*) AS DOUBLE) FROM toks
       |UNION ALL SELECT 'vocab', CAST(count(DISTINCT w) AS DOUBLE) FROM toks
       |UNION ALL SELECT 'gt_missing_mass',
       |  (SELECT gt_missing_mass FROM (
       |${TextOps.q207Sql.linesIterator.map("    " + _).mkString("\n")}
       |  ))
       |UNION ALL SELECT 'lang_ess_frac',
       |  (SELECT ess_frac FROM (
       |${q184Sql.linesIterator.map("    " + _).mkString("\n")}
       |  ))""".stripMargin

  /** Bloom-filter join pruning — the runtime-filter shape made explicit:
    * a bloom filter over the (filtered) orders keys is built DISTRIBUTED
    * with Spark's own `BloomFilterAggregate`, its ~MB serialization
    * collected once, and re-attached as a literal probe
    * (`BloomFilterMightContain`, codegen) on the lineitem scan — so the
    * big side discards non-joining rows BEFORE the shuffle. The exact
    * join then runs on survivors; because a bloom filter has no false
    * negatives, the result equals the plain join (the oracle). At 100 TB
    * this is the difference between shuffling 6e11 rows and shuffling
    * only the ~joinable fraction.
    *
    * The build is SIZE-GATED (like Spark's own
    * `runtime.bloomFilter.creationSideThreshold`): above
    * [[BloomMaxItems]] build keys the bloom step is skipped and the
    * plain join runs unchanged. At the default 3% fpp a filter costs
    * ~7.3 bits/key, so the 4M-key gate caps the collected literal at
    * ~3.6 MB; an ungated 1e9-key build side would collect a
    * ~1 GB filter into the driver AND ship it inside every task binary
    * — the exact failure mode the gate exists to prevent. The fallback
    * is also the right plan: once the build side stops being small
    * relative to the probe side's key space, the filter's selectivity
    * (and hence its shuffle savings) vanishes. */
  def q71BloomJoin(s: SparkSession, dir: String): DataFrame =
    q71BloomJoin(s, dir, BloomMaxItems)

  /** Build-key count above which [[q71BloomJoin]] skips the bloom step. */
  private[graft] val BloomMaxItems = 4000000L

  /** [[q71BloomJoin]] with the size gate injectable (the plan-shape
    * spec's oversized-build arm). */
  private[graft] def q71BloomJoin(s: SparkSession, dir: String,
      maxItems: Long): DataFrame = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val o = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    // size the filter to the ACTUAL build side (one cheap count of the
    // small side) instead of the 1M-item default — the serialized filter
    // rides inside the probe literal in every task, and a default-sized
    // one is ~1 MB vs a few KB here; fpp stays the conf default (3%)
    val buildCount = o.count()
    val fact = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val pruned = if (buildCount <= maxItems) {
      val bloomAgg = new BloomFilterAggregate(
        new XxHash64(Seq(GraftShims.toExpression(col("o_orderkey")))),
        Literal(math.max(1000L, buildCount)))
      val bytes = o.agg(GraftShims.toColumn(bloomAgg.toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]](0)
      val probe = GraftShims.toColumn(BloomFilterMightContain(
        Literal(bytes, org.apache.spark.sql.types.BinaryType),
        new XxHash64(Seq(GraftShims.toExpression(col("l_orderkey"))))))
      fact.filter(probe)
    } else fact
    pruned
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        frevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
  }

  val q71Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 150000
      |GROUP BY 1""".stripMargin

  /** TF-IDF keyword extraction: top-scoring term per document. The idf is
    * kept as the exact rational (N+1)/(df+1) times tf, evaluated with ONE
    * correctly-rounded double division so both engines produce identical
    * doubles (ln() is libm-dependent and deliberately avoided). Two
    * narrow aggregates + a per-doc top-1 window with a term tiebreak. */
  def q72Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // doc_freq: a VOCABULARY-sized aggregate joined back onto tf. The
    // previous `count().over(Window.partitionBy(term))` put every tf row
    // of a term into ONE WindowExec task — a stop word's partition is a
    // constant fraction of the corpus, and no AQE rule splits window
    // partitions. The join-back costs a second evaluation of the
    // tokenize→tf pipeline (no plan CSE), but a skewed JOIN key is what
    // AQE's skew split handles, and dfreq is bounded by vocabulary size
    // (AQE may broadcast it from measured size; not forced here)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        // factors to double BEFORE multiplying: tf·(N+1) is doc-length ×
        // corpus docs, which wraps int64 at the 100 TB regime
        (col("tf").cast("double") * (col("n_docs") + 1).cast("double"))
          / (col("doc_freq") + 1).cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("doc_freq"), col("score"))
  }

  val q72Sql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |terms AS (SELECT doc_id, term FROM (
       |            SELECT doc_id, UNNEST(toks) AS term FROM t)
       |          WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, doc_freq,
       |    (CAST(tf AS DOUBLE) * CAST(n_docs + 1 AS DOUBLE))
       |      / CAST(doc_freq + 1 AS DOUBLE) AS score
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd)
       |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       |  CAST(doc_freq AS BIGINT) AS doc_freq, score
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY doc_id ORDER BY score DESC, term) AS rn
       |      FROM scored)
       |WHERE rn = 1""".stripMargin

  /** Z-order (Morton) clustering key: 10+10-bit interleave of two key
    * dimensions — the multi-dimensional sort key a lake writer clusters
    * files by so min/max stats prune on EITHER dimension. Pure bitwise
    * codegen arithmetic (the lake writer's [[graft.sources.Lake.morton]]
    * magic-mask interleave, no UDF, no shuffle);
    * `zbucket` is the top 4 bits, i.e. the coarse file assignment. */
  def q73Zorder(s: SparkSession, dir: String): DataFrame = {
    val z = graft.sources.Lake.morton(pmod(col("o_custkey"), lit(1024L)),
      pmod(col("o_orderkey"), lit(1024L)))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), z.as("zval"))
      .select(col("o_orderkey"), col("o_custkey"), col("zval"),
        shiftright(col("zval"), 16).as("zbucket"))
  }

  val q73Sql: String = {
    val terms = (0 until 10).map { i =>
      s"(((o_custkey % 1024) >> $i) & 1) * ${1L << (2 * i)}" +
        s" + (((o_orderkey % 1024) >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    s"""SELECT o_orderkey, o_custkey,
       |  CAST($terms AS BIGINT) AS zval,
       |  CAST(($terms) >> 16 AS BIGINT) AS zbucket
       |FROM orders""".stripMargin
  }

  /** Stratified deterministic sampling: per-stratum keep rates applied
    * with a salted content hash, so the sample is reproducible across
    * runs/engines and needs no shuffle or state — the standard
    * class-balancing step before training-set assembly. */
  def q74StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val rate = when(col("event_type") === "view", 50)
      .when(col("event_type") === "purchase", 400)
      .otherwise(150)
    Tables.events(s, dir)
      .filter(pmod(hash60(concat(lit("strat:"), col("event_id").cast("string"))),
        lit(1000)) < rate)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
  }

  val q74Sql: String =
    s"""SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |FROM events
      |WHERE ${hash60Sql("'strat:' || event_id")} % 1000
      |  < CASE event_type WHEN 'view' THEN 50 WHEN 'purchase' THEN 400 ELSE 150 END""".stripMargin

  /** Exact-k per-stratum deterministic sample: the fixed-BUDGET
    * counterpart of q74's fixed-RATE sampler — "give me exactly 25
    * documents per language, reproducibly" (eval-set carving, per-domain
    * inspection pulls, labeling batches). Order within a stratum is a
    * salted content hash with a doc_id tiebreak, so the draw is uniform,
    * stable across runs/engines, and independent of input order.
    *
    * Scale shape: runs on the bounded-heap [[graft.plans.TopKPerKey]]
    * operator — the PARTIAL pass caps each stratum at k rows per map
    * task BEFORE the shuffle, so at 100 TB each task contributes at most
    * k·#langs rows and the final per-stratum merge touches
    * #partitions·k rows, not the corpus. The oracle's
    * `row_number() OVER (PARTITION BY lang ORDER BY hash)` form would
    * funnel each language's whole doc set through one window task —
    * exactly the q91-class funnel, avoided by construction. */
  def q124StratumSample(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        hash60(concat(lit("smp:"), col("doc_id").cast("string")))
          .as("smp_key"))
    graft.plans.TopKPerKey.perKey(keyed, keys = Seq("lang"),
      order = Seq("smp_key" -> false, "doc_id" -> false), k = 25)
  }

  val q124Sql: String =
    s"""SELECT doc_id, lang, smp_key FROM (
      |  SELECT doc_id, lang,
      |    ${hash60Sql("'smp:' || doc_id")}
      |      AS smp_key,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY ${hash60Sql("'smp:' || doc_id")},
      |               doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 25""".stripMargin

  /** Sequential Poisson sampling (Ohlsson 1998, the order-sampling PPS
    * estimator official statistics runs): each item draws a uniform key
    * from a salted content hash and is ranked by `key / weight` — the k
    * smallest win, giving inclusion probability ≈ proportional to
    * weight. The SHUFFLE-FREE counterpart of q110's systematic PPS: no
    * prefix pass, no range partition — ranking keys are pure per-row
    * arithmetic, so the whole draw is scan → project →
    * `TakeOrderedAndProject` (per-partition partial top-k, merged on
    * the driver; k rows per map task is the only memory). Use q110 when
    * the estimator must be EXACTLY systematic-PPS; use this when one
    * pass over 100 TB is the budget. The ranking key is ONE double
    * division of exact int64s (hash / tokens), bit-identical
    * cross-engine; doc_id breaks ties. */
  def q125SeqPoisson(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("n_tokens"),
        hash60(concat(lit("sps:"), col("doc_id").cast("string"))).as("h"))
      .filter(col("n_tokens") > 0L)
      .withColumn("skey", col("h").cast("double") / col("n_tokens"))
      .orderBy(col("skey").asc, col("doc_id").asc)
      .limit(50)
      .select(col("doc_id"), col("n_tokens"), col("skey"))

  val q125Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tokens,
      |    ${hash60Sql("'sps:' || doc_id")} AS h
      |  FROM documents)
      |SELECT doc_id, n_tokens, CAST(h AS DOUBLE) / n_tokens AS skey
      |FROM d WHERE n_tokens > 0
      |ORDER BY skey, doc_id
      |LIMIT 50""".stripMargin

  /** Generic greedy packer over `(doc_id, shard, n_tok)` — see
    * [[q87PackSequences]] for semantics and scale rationale. Reused by
    * `PipelineDemo` to pack chunk windows into training sequences. */
  def packSequences(items: DataFrame, budget: Long): DataFrame = {
    val s = items.sparkSession
    import s.implicits._
    items
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .select(col("doc_id").as[Long], col("shard").as[Long],
        least(col("n_tok"), lit(budget)).as[Long])
      .mapPartitions { it =>
        // several shards may share a partition (hash placement); the
        // sort makes each shard a contiguous run, so state resets on
        // the shard boundary
        var curShard = -1L; var fill = 0L; var bin = 0L
        it.map { case (id, shard, n) =>
          if (shard != curShard) { curShard = shard; fill = n; bin = 0L }
          else if (fill + n > budget) { bin += 1; fill = n }
          else fill += n
          (id, shard, bin, fill)
        }
      }
      .toDF("doc_id", "shard", "bin", "fill")
  }

  /** Documents → packed training sequences with an explicit shard count.
    * The shard count IS the parallelism knob: each shard packs
    * independently (greedy order within the shard's own doc_id sequence),
    * so callers size `shards` to the cluster — more shards = more
    * concurrent packing groups, and a shard's output depends only on its
    * own members (spec-asserted). Defaults to the width target
    * (`Tables.widthTarget`); the declared q87 pins 4 so the oracle's
    * recursive CTE stays stable. */
  def packDocuments(s: SparkSession, dir: String, shards: Long = -1L): DataFrame = {
    val n = if (shards > 0) shards else Tables.widthTarget(s).toLong
    packSequences(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(n)).as("shard"),
          size(tokens(col("text"))).cast("long").as("n_tok")),
      budget = 512L)
  }

  /** Sequence packing — the pre-training data-prep step that assembles
    * documents into fixed-token-budget training sequences: docs are
    * assigned to shards, ordered within each shard, and greedily packed —
    * a doc opens a new bin when adding it would overflow the budget
    * (oversize docs are capped at the budget; SPLITTING long docs is
    * q69's chunking job, upstream of packing).
    *
    * The shape is the one that survives 100 TB: one shuffle on shard +
    * a secondary sort (`repartition` + `sortWithinPartitions`), then a
    * single STREAMING pass per partition (`mapPartitions`) carrying
    * three longs of state — no `groupBy`+`collect_list` that would
    * materialize a whole shard's documents in one task's memory, and no
    * window function (the bin break is a running RESET, which prefix
    * sums can't express). Bin ids are deterministic functions of the
    * data alone, so the pack is reproducible run to run — which is what
    * makes a training run resumable. Oracle: per-shard linear recursion
    * as a recursive CTE. */
  def q87PackSequences(s: SparkSession, dir: String): DataFrame =
    packDocuments(s, dir, shards = 4L)

  val q87Sql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, doc_id % 4 AS shard,
       |    least(CAST(len(${tokensSql("text")}) AS BIGINT), 512) AS n_tok
       |  FROM documents),
       |ordered AS (
       |  SELECT doc_id, shard, n_tok,
       |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       |  FROM toks),
       |pack(doc_id, shard, n_tok, rn, bin, fill) AS (
       |  SELECT doc_id, shard, n_tok, rn, CAST(0 AS BIGINT), n_tok
       |  FROM ordered WHERE rn = 1
       |  UNION ALL
       |  SELECT o.doc_id, o.shard, o.n_tok, o.rn,
       |    CASE WHEN p.fill + o.n_tok > 512 THEN p.bin + 1 ELSE p.bin END,
       |    CASE WHEN p.fill + o.n_tok > 512 THEN o.n_tok ELSE p.fill + o.n_tok END
       |  FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)
       |SELECT doc_id, shard, bin, fill FROM pack""".stripMargin

  /** Domain-mixture (temperature) sampling — the data-mixing step of a
    * training pipeline: keep rates r_s ∝ n_s^(α-1) with α = 0.5, anchored
    * so the RAREST domain is kept whole — i.e. downsample common domains
    * ∝ 1/√n, which lands sample shares ∝ √n_s = n_s^α (the standard
    * multiplicative temperature flattening). The domain is the corpus's
    * `lang` column (skewed ~3.4× in the testdata; `source` is uniform,
    * which would degenerate to keep-all). Membership is the proven
    * deterministic salted-hash-permille recipe, so the sample is
    * reproducible and oracle-checkable.
    *
    * Cross-engine exactness: √n is correctly rounded in both engines, but
    * any SUM over per-source √ doubles would be addition-ORDER-dependent —
    * so weights are quantized to integers first (⌊√n·10⁶+0.5⌋) and the
    * mixture arithmetic (min anchor, permille rate) is exact integer
    * math. Scale shape: the mixture table is one tiny per-source
    * aggregate broadcast back onto the corpus scan — one pass, no fact
    * shuffle. */
  def q88DomainMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val bySrc = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("isq",
        floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5).cast("long"))
    val mn = bySrc.agg(min(col("isq")).as("isq_min"))
    val rates = bySrc.crossJoin(broadcast(mn))
      .withColumn("rate_pm", least(lit(1000L), expr("isq_min * 1000 div isq")))
      .select(col("lang"), col("rate_pm"))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(pmod(hash60(concat(lit("mix:"), col("doc_id").cast("string"))),
        lit(1000L)) < col("rate_pm"))
      .select(col("doc_id"), col("lang"), col("rate_pm"))
  }

  val q88Sql: String =
    s"""WITH bysrc AS (
      |  SELECT lang,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS isq
      |  FROM documents GROUP BY lang),
      |rates AS (
      |  SELECT lang,
      |    least(1000, (SELECT CAST(min(isq) AS BIGINT) FROM bysrc) * 1000 // isq)
      |      AS rate_pm
      |  FROM bysrc)
      |SELECT d.doc_id, d.lang, r.rate_pm
      |FROM documents d JOIN rates r ON d.lang = r.lang
      |WHERE ${hash60Sql("'mix:' || d.doc_id")} % 1000
      |  < r.rate_pm""".stripMargin

  /** Effective sample size of [[q88DomainMixture]]'s temperature
    * reweighting: ESS = (Σ n_d·w_d)² / (Σ n_d·w_d²) over per-language
    * doc counts n_d and the SAME integer per-mille rates q88 samples
    * with — the "how many IID samples is this weighted corpus worth"
    * planning number (Kish's formula; ess_frac near 1 means the
    * temperature barely distorts, near min(n_d)/n means one domain
    * dominates the variance).
    *
    * Determinism: rates are q88's exact integer per-milles; both ESS
    * terms are exact decimal(38,0) sums over the language-bounded
    * aggregate; ess and ess_frac are each ONE double division of exact
    * integers (num² ≤ (10³·n)² stays far under 10³⁸ at any plausible n).
    *
    * Scale shape: ONE corpus pass to per-language counts (map-side
    * combine); everything else — the min-rate broadcast and the 3-term
    * moment — runs on #languages rows. No window, no corpus join. */
  def q184Ess(s: SparkSession, dir: String): DataFrame =
    essCore(Tables.documents(s, dir))

  def essCore(docs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val bySrc = docs
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("isq",
        floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5).cast("long"))
    val mn = bySrc.agg(min(col("isq")).as("isq_min"))
    val m = bySrc.crossJoin(broadcast(mn))
      .withColumn("w", least(lit(1000L), expr("isq_min * 1000 div isq")))
      .agg(sum(col("n_docs")).as("n"),
        sum((col("n_docs").cast(d38) * col("w").cast(d38)).cast(d38))
          .as("num"),
        sum((col("n_docs").cast(d38) * col("w").cast(d38) * col("w").cast(d38))
          .cast(d38)).as("den"))
    m.select(col("n"),
      ((col("num") * col("num")).cast("double") / col("den").cast("double"))
        .as("ess"),
      ((col("num") * col("num")).cast("double") /
        (col("den") * col("n").cast(d38)).cast("double")).as("ess_frac"))
  }

  val q184Sql: String =
    """WITH bysrc AS MATERIALIZED (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS isq
      |  FROM documents GROUP BY lang),
      |r AS (
      |  SELECT n_docs,
      |    least(1000, (SELECT CAST(min(isq) AS BIGINT) FROM bysrc) * 1000 // isq)
      |      AS w
      |  FROM bysrc),
      |m AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS n,
      |    CAST(sum(CAST(n_docs AS HUGEINT) * w) AS HUGEINT) AS num,
      |    CAST(sum(CAST(n_docs AS HUGEINT) * w * w) AS HUGEINT) AS den
      |  FROM r)
      |SELECT n,
      |  CAST(num * num AS DOUBLE) / CAST(den AS DOUBLE) AS ess,
      |  CAST(num * num AS DOUBLE) / CAST(den * CAST(n AS HUGEINT) AS DOUBLE)
      |    AS ess_frac
      |FROM m""".stripMargin

  /** Generic two-pass global index over an id frame — see
    * [[q90GlobalShuffle]] for semantics and scale rationale. Runs on the
    * [[graft.plans.GlobalRank]] physical operator (the plan-level form of
    * the finalized-RDD `zipWithIndex` this helper originally hand-rolled;
    * the one-shuffle-dependency determinism guarantee now lives inside
    * the exec, and the plan stays in Dataset land — prunable, AQE-visible,
    * spec-proven equal to the RDD formulation in `GlobalRankSpec`). */
  def globalShuffleIndex(items: DataFrame, salt: String): DataFrame =
    graft.plans.GlobalRank.withPosition(
      items.select(col("doc_id"),
        hash60(concat(lit(salt), col("doc_id").cast("string"))).as("k")),
      order = Seq("k" -> false, "doc_id" -> false))
      .select(col("doc_id"), col("k"), col("pos"))

  /** Deterministic corpus shuffle with a contiguous GLOBAL index — the
    * "shuffle your training data once, reproducibly" step: every doc gets
    * a salted-hash sort key, and `pos` is its 0-based rank in the global
    * (key, doc_id) order.
    *
    * The naive formulation — `row_number() OVER (ORDER BY key)` — is a
    * single-partition window: the entire corpus funnels through ONE task.
    * The scale-correct shape used here is the two-pass textbook answer:
    * (1) range-partition + sort within partitions (a real distributed
    * sort; partition i's keys all precede partition i+1's), (2) count
    * rows per partition (a #partitions-long driver value) and stream each
    * partition once adding prefix-offset + local position. Crucially both
    * passes must run over ONE materialized partitioning: re-executing the
    * Dataset per pass would NOT guarantee identical partitioning
    * (RangePartitioner's sample seed incorporates the per-execution RDD
    * id, and AQE may coalesce the two executions differently), which
    * could leave duplicates/gaps in `pos`. That guarantee is now enforced
    * STRUCTURALLY by the [[graft.plans.GlobalRank]] physical operator
    * (both passes inside one exec over one shuffle dependency). */
  def q90GlobalShuffle(s: SparkSession, dir: String): DataFrame =
    globalShuffleIndex(Tables.documents(s, dir).select(col("doc_id")), "shuf:")

  val q90Sql: String =
    s"""SELECT doc_id,
      |  ${hash60Sql("'shuf:' || doc_id")} AS k,
      |  CAST(row_number() OVER (
      |    ORDER BY ${hash60Sql("'shuf:' || doc_id")},
      |      doc_id) - 1 AS BIGINT) AS pos
      |FROM documents""".stripMargin

  /** Per-source document cap — "at most k docs per domain", the standard
    * pressure valve against over-represented sources (crawl dumps,
    * boilerplate mills) before mixing. Selection order is a salted
    * content hash, so the kept subset is reproducible, uniform within
    * the source, and independent of ingest order. The cap runs on the
    * custom bounded-heap top-k operator: the PARTIAL pass caps each
    * source at k rows per map task BEFORE the shuffle, so a source with
    * a billion docs ships ~k·#tasks rows instead of its whole volume —
    * the shape a `row_number()` window (full sort + full shuffle of the
    * over-represented source into single-key tasks) cannot match. */
  def q96SourceCap(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        hash60(concat(lit("cap:"), col("doc_id").cast("string"))).as("hk"))
    graft.plans.TopKPerKey.perKey(keyed,
      keys = Seq("source"), order = Seq("hk" -> false, "doc_id" -> false),
      k = 64)
  }

  val q96Sql: String =
    s"""SELECT doc_id, source, hk FROM (
      |  SELECT doc_id, source, hk,
      |    row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
      |  FROM (SELECT doc_id, source,
      |          ${hash60Sql("'cap:' || doc_id")} AS hk
      |        FROM documents))
      |WHERE rn <= 64""".stripMargin

  /** Distribution-drift monitor: two-sample chi-square between a
    * reference corpus slice and a current slice over a 10-bucket
    * doc-length histogram — the "did my ingest distribution shift"
    * alarm every continuously-fed training pipeline needs. The slices
    * here are doc_id parity (deterministic, so the oracle reproduces
    * them); production feeds would be yesterday/today.
    *
    * Emits ONE ROW PER BUCKET with that bucket's chi-square
    * contribution rather than the summed statistic: the per-bucket
    * terms are each `(observed·total − side_total·bucket_total)² /
    * (total·side_total·bucket_total)` — the count products form in
    * decimal(38) with a FACTOR cast first (count×total is corpus² and
    * wraps int64 past ~3e9 docs, the q208 contract), the deviation is
    * cast to double and squared IN DOUBLE, and the denominator
    * multiplies as doubles; one division per side, fixed-order sum of
    * the two sides — while a cross-BUCKET sum of doubles would
    * accumulate in engine-dependent order and break the hash gate.
    * (Callers wanting the scalar χ² sum 10 exact terms however they
    * like.)
    *
    * Scale shape: one corpus pass → 10-bucket × 2-side aggregate
    * (map-side partial combine collapses everything before the
    * shuffle); totals are a second aggregate over the 10-row frame,
    * broadcast back. The totals branch shares the bucket-agg lineage,
    * and Spark's exchange reuse resolves it to a `ReusedExchange` of
    * the same shuffle at runtime (spec-locked), so the corpus is
    * physically scanned ONCE. */
  def q108Drift(s: SparkSession, dir: String): DataFrame =
    chiSquareBuckets(Tables.documents(s, dir)
      .select(lenBucket(col("text")).as("bucket"),
        (col("doc_id") % 2).as("side")))

  /** 10-bucket doc-length histogram key (token count div 20, capped at
    * 9) — the feature under [[q108Drift]] and PipelineDemo's drift
    * stage. Floor division of non-negative ints, identical to the
    * oracle's `// 20`. */
  def lenBucket(text: Column): Column = {
    val n = size(filter(tokens(text), t => t =!= "")).cast("long")
    least(floor(n / lit(20L)).cast("long"), lit(9L))
  }

  /** Chi-square core over a (bucket, side ∈ {0 ref, 1 cur}) frame — see
    * [[q108Drift]] for the exactness and scale rationale. */
  def chiSquareBuckets(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("bucket")).agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("c_ref"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("c_cur"))
    val totals = counts.agg(
      sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
    def term(c: Column, sideTotal: Column) = {
      val d38 = "decimal(38,0)"
      val total = col("n_ref") + col("n_cur")
      val bucketTotal = col("c_ref") + col("c_cur")
      val dev = (c.cast(d38) * total - sideTotal.cast(d38) * bucketTotal)
        .cast("double")
      (dev * dev) / (total.cast("double") * sideTotal.cast("double")
        * bucketTotal.cast("double"))
    }
    counts.crossJoin(broadcast(totals))
      .withColumn("chi_term",
        term(col("c_ref"), col("n_ref")) + term(col("c_cur"), col("n_cur")))
      .select(col("bucket"), col("c_ref"), col("c_cur"), col("chi_term"))
  }

  val q108Sql: String =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    least(CAST(len(${wordsSql("text")}) AS BIGINT) // 20, 9) AS bucket,
      |    doc_id % 2 AS side
      |  FROM documents),
      |counts AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
      |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
      |  FROM b GROUP BY bucket),
      |tot AS (
      |  SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
      |    CAST(sum(c_cur) AS BIGINT) AS n_cur
      |  FROM counts)
      |SELECT bucket, c_ref, c_cur,
      |  CAST(CAST(c_ref AS HUGEINT) * (n_ref + n_cur)
      |       - CAST(n_ref AS HUGEINT) * (c_ref + c_cur) AS DOUBLE)
      |    * CAST(CAST(c_ref AS HUGEINT) * (n_ref + n_cur)
      |           - CAST(n_ref AS HUGEINT) * (c_ref + c_cur) AS DOUBLE)
      |    / (CAST(n_ref + n_cur AS DOUBLE) * CAST(n_ref AS DOUBLE)
      |       * CAST(c_ref + c_cur AS DOUBLE))
      |  + CAST(CAST(c_cur AS HUGEINT) * (n_ref + n_cur)
      |         - CAST(n_cur AS HUGEINT) * (c_ref + c_cur) AS DOUBLE)
      |    * CAST(CAST(c_cur AS HUGEINT) * (n_ref + n_cur)
      |           - CAST(n_cur AS HUGEINT) * (c_ref + c_cur) AS DOUBLE)
      |    / (CAST(n_ref + n_cur AS DOUBLE) * CAST(n_cur AS DOUBLE)
      |       * CAST(c_ref + c_cur AS DOUBLE))
      |  AS chi_term
      |FROM counts, tot""".stripMargin

  /** DSIR-style data selection with importance resampling (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling", NeurIPS): score every raw-pool document by its
    * log-likelihood ratio under unigram bag-of-words models of a TARGET
    * distribution vs the RAW distribution, so resampling by the weight
    * shifts the pool toward the target domain. The target here is the
    * deterministic 5% hash split q70 uses as its benchmark stand-in;
    * Laplace +1 smoothing over the joint vocabulary on both sides.
    *
    * Cross-engine exactness: this is the suite's ONE transcendental.
    * Each per-WORD log-ratio ln((c_t+1)(R+V) / ((c_r+1)(T+V))) forms
    * its two products IN DOUBLE with every factor cast first (count ×
    * corpus-total is corpus² and wraps int64 past ~3e9 tokens — r6
    * fix; identical double trees stay bit-identical cross-engine),
    * goes through `ln` and is immediately quantized to a 2^-14 grid
    * (⌊ln·16384⌋, BIGINT); per-document weights are then pure integer
    * sums. A cross-engine mismatch needs the two engines' `ln` (both
    * ≤ 1 ulp from correctly rounded) to straddle a grid line — the
    * result must land within ~2^-52·|ln| of a multiple of 2^-14,
    * probability ~5e-12 per vocab word. The quantization lives on the
    * VOCAB-BOUNDED weight table, never on per-row math.
    *
    * Scale shape: the term-count table is vocabulary-bounded with
    * map-side combine (the raw token stream shuffles once as partial
    * counts); totals are a broadcast scalar row. The scoring join keys
    * on term — stop-word heat is AQE-splittable join skew, not a buffer
    * — and the per-doc rollup keys on doc_id (unbounded cardinality).
    * Weight sums ride DECIMAL(38,0) (|lw| ≤ ~3e5 per token ⇒ int64
    * would clip only past ~3e13 tokens per document, but decimal costs
    * nothing here). */
  def q130DsirWeights(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val isTarget = pmod(hash60(concat(lit("bench:"),
      col("doc_id").cast("string"))), lit(100)) < 5
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), isTarget.as("tgt"),
        explode(filter(tokens(col("text")), t => t =!= "")).as("term"))
    val counts = toks.groupBy(col("term")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).cast("long").as("ct"),
      sum(when(col("tgt"), 0L).otherwise(1L)).cast("long").as("cr"))
    val tot = counts.agg(
      sum(col("ct")).cast("long").as("t_tot"),
      sum(col("cr")).cast("long").as("r_tot"),
      count(lit(1)).as("v"))
    val weights = counts.crossJoin(broadcast(tot))
      .select(col("term"), floor(log(
        ((col("ct") + 1).cast("double")
          * (col("r_tot") + col("v")).cast("double")) /
          ((col("cr") + 1).cast("double")
            * (col("t_tot") + col("v")).cast("double"))) *
        16384).cast("long").as("lw"))
    toks.filter(!col("tgt"))
      .join(weights, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("lw").cast(d38)).cast("long").as("w_sum"))
      .withColumn("w_avg", col("w_sum").cast("double") / col("n_toks"))
  }

  val q130Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, tgt, term FROM (
       |    SELECT doc_id, ${hash60Sql("'bench:' || doc_id")} % 100 < 5 AS tgt,
       |      UNNEST(${tokensSql("text")}) AS term
       |    FROM documents)
       |  WHERE term <> ''),
       |c AS (
       |  SELECT term,
       |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
       |  FROM toks GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(ct) AS BIGINT) AS t_tot,
       |    CAST(sum(cr) AS BIGINT) AS r_tot,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM c),
       |w AS (
       |  SELECT term,
       |    CAST(floor(ln(
       |      (CAST(ct + 1 AS DOUBLE) * CAST(r_tot + v AS DOUBLE))
       |      / (CAST(cr + 1 AS DOUBLE) * CAST(t_tot + v AS DOUBLE)))
       |      * 16384) AS BIGINT) AS lw
       |  FROM c CROSS JOIN tot)
       |SELECT toks.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |  CAST(sum(w.lw) AS BIGINT) AS w_sum,
       |  CAST(sum(w.lw) AS DOUBLE) / count(*) AS w_avg
       |FROM toks JOIN w USING (term)
       |WHERE NOT tgt
       |GROUP BY toks.doc_id""".stripMargin

  /** Context-length planning: for each candidate training context length
    * (the packing budget), how much of the corpus survives truncation —
    * docs over budget, tokens kept (Σ min(n, B)), and the kept fraction.
    * This is the curve a pipeline owner reads BEFORE sizing q87's packer
    * or q69's chunker: pick the smallest context whose kept_frac clears
    * the target instead of paying attention-quadratic cost for tail
    * tokens that a larger window would barely add.
    *
    * Scale shape: ONE corpus pass; the 4 candidate budgets ride a
    * per-row literal-array explode (4× row fan-out of a 2-column
    * projection — no join, no second scan), then a partial-combining
    * aggregate onto 4 groups. Token sums travel as decimal(38,0) (exact
    * at any corpus size, immune to int64 overflow at 100 TB where
    * Σ tokens ≈ 2e13 is fine but a later ·10³ data growth is not). */
  def q144ContextBudget(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    Tables.documents(s, dir)
      .select(size(filter(tokens(col("text")), t => t =!= ""))
        .cast("long").as("n_tok"))
      .select(col("n_tok"),
        explode(array(Seq(256L, 512L, 1024L, 2048L).map(lit): _*)).as("budget"))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > col("budget"), 1L).otherwise(0L))
          .cast("long").as("docs_truncated"),
        sum(col("n_tok").cast(d38)).cast("long").as("tokens_total"),
        sum(least(col("n_tok"), col("budget")).cast(d38)).cast("long")
          .as("tokens_kept"))
      .withColumn("kept_frac",
        col("tokens_kept").cast("double") / col("tokens_total").cast("double"))
  }

  val q144Sql: String =
    s"""WITH t AS (
       |  SELECT len(${wordsSql("text")}) AS n_tok
       |  FROM documents),
       |b AS (
       |  SELECT n_tok, CAST(budget AS BIGINT) AS budget
       |  FROM t, UNNEST([256, 512, 1024, 2048]) AS u(budget))
       |SELECT budget,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_tok > budget THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_truncated,
       |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       |  CAST(sum(least(n_tok, budget)) AS BIGINT) AS tokens_kept,
       |  CAST(sum(least(n_tok, budget)) AS DOUBLE)
       |    / CAST(sum(n_tok) AS DOUBLE) AS kept_frac
       |FROM b GROUP BY budget""".stripMargin

  /** Per-source token concentration (Pareto / 80-20 profile): how many
    * of a source's documents carry 80% of its token mass. A source
    * whose mass sits in a handful of giant documents behaves very
    * differently under per-doc sampling, packing, and dedup than one
    * with uniform docs — this row set is the "which sources are
    * head-heavy" report that calibrates q96's per-source cap and q110's
    * PPS draws. The 80% cut is the exact integer test
    * 5·cumsum ≥ 4·total (no floating threshold).
    *
    * Scale shape: the per-doc token count aggregates to one row per
    * document; the ranking window partitions by SOURCE — at corpus
    * scale "source" is domain-grained (millions of keys), so a window
    * partition is one domain's docs, not a q91-style whole-corpus
    * funnel; the final rollup is #sources-bounded. Deterministic
    * ordering: tokens desc, doc_id asc. */
  def q153ParetoConcentration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val perDoc = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("n_tok"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tok").desc, col("doc_id").asc)
    perDoc
      .withColumn("cum", sum(col("n_tok").cast(d38)).over(w).cast("long"))
      .withColumn("tot", sum(col("n_tok").cast(d38))
        .over(Window.partitionBy(col("source"))).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("tot")).as("total_tokens"),
        // docs strictly under the 80% line, +1 for the one that crosses
        // it; least() guards the degenerate all-empty-source case
        least(sum(when(col("cum") * 5 <= col("tot") * 4, 1L)
          .otherwise(0L)) + 1L, count(lit(1)))
          .cast("long").as("docs_for_80pct"))
      .withColumn("concentration",
        col("docs_for_80pct").cast("double") / col("n_docs").cast("double"))
  }

  val q153Sql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY source
       |      ORDER BY n_tok DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(n_tok) OVER (PARTITION BY source) AS BIGINT) AS tot
       |  FROM d)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  max(tot) AS total_tokens,
       |  CAST(least(sum(CASE WHEN cum * 5 <= tot * 4 THEN 1 ELSE 0 END) + 1,
       |    count(*)) AS BIGINT) AS docs_for_80pct,
       |  CAST(least(sum(CASE WHEN cum * 5 <= tot * 4 THEN 1 ELSE 0 END) + 1,
       |    count(*)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS concentration
       |FROM c GROUP BY source""".stripMargin

  /** Neyman (variance-optimal) stratified-sampling allocation: split a
    * k = 1024 sampling budget across sources ∝ N_h·S_h — the allocation
    * that minimizes the estimator variance of a corpus mean (token
    * count here), the principled upgrade over q74's fixed-rate and
    * q124's fixed-k strata. The identity N_h·S_h = √(N_h·Σx² − (Σx)²)
    * keeps EVERYTHING under the radical an exact decimal(38,0) integer;
    * the √ result is quantized to a 1e-3 integer grid (the q88 move)
    * so the cross-source total is an exact int64 sum, never an
    * order-dependent double reduction. Allocations are the floor split
    * k·w_h div Σw (callers hand the ≤ #sources remainder to any
    * largest-remainder rule they like — that choice is policy, not
    * engine).
    *
    * Scale shape: ONE corpus pass for the per-source moment aggregate
    * (#sources rows), a 1-row broadcast total — allocation cost is
    * independent of corpus size. */
  def q157NeymanAlloc(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val perSrc = Tables.documents(s, dir)
      .select(col("source"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_h"),
        sum(col("x").cast(d38)).as("sx"),
        sum((col("x").cast(d38) * col("x").cast(d38))).as("sx2"))
      .withColumn("iw",
        floor(sqrt((col("n_h").cast(d38) * col("sx2") - col("sx") * col("sx"))
          .cast("double")) * 1000 + 0.5).cast("long"))
    val tot = perSrc.agg(sum(col("iw").cast(d38)).cast("long").as("iw_tot"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_h"), col("iw"),
        expr("(1024 * iw) div iw_tot").as("alloc"),
        (col("iw").cast("double") / col("iw_tot").cast("double"))
          .as("share"))
  }

  val q157Sql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS x
       |  FROM documents),
       |m AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
       |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
       |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
       |      AS sx2
       |  FROM d GROUP BY 1),
       |w AS (
       |  SELECT source, n_h,
       |    CAST(floor(sqrt(CAST(n_h * sx2 - sx * sx AS DOUBLE)) * 1000 + 0.5)
       |      AS BIGINT) AS iw
       |  FROM m),
       |t AS (SELECT CAST(sum(iw) AS BIGINT) AS iw_tot FROM w)
       |SELECT source, n_h, iw,
       |  (1024 * iw) // iw_tot AS alloc,
       |  CAST(iw AS DOUBLE) / CAST(iw_tot AS DOUBLE) AS share
       |FROM w, t""".stripMargin

  /** Cross-source QUANTILE NORMALIZATION of the quality score — the
    * batch-effect correction of bioinformatics applied to corpus
    * curation: each document's quality is replaced by the GLOBAL
    * quality value at the same within-source quantile, so a source
    * whose scorer runs hot/cold stops distorting corpus-wide gates
    * (q91 equalizes pass RATES per domain; this equalizes the score
    * DISTRIBUTIONS themselves). Mid-rank mapping
    * t = ⌈(2r−1)·N / 2n_h⌉ must stay EXACT (it is a join key): the
    * (2r−1)·N product is rank × corpus — corpus², wrapping int64 past
    * ~2e9 docs — so it forms in decimal(38) with a factor cast first
    * and the integral division returns the int64 index (r6 fix); the
    * looked-up value is an exact equi-join against the global rank
    * table.
    *
    * Scale shape: within-source ranks ride a source-keyed window
    * (domain-grained keys at corpus scale); the GLOBAL rank comes from
    * the [[graft.plans.GlobalRank]] range-exchange operator — never a
    * single-task `row_number() OVER (ORDER BY …)` window — and the
    * lookup is a plain long equi-join, AQE territory. */
  def q158QuantileNorm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextOps.scoredDocs(s, dir)
      .select(col("doc_id"), col("lang"), col("quality"))
    val n = scored.agg(count(lit(1)).as("n_total"))
    val globalRanks = graft.plans.GlobalRank.withPosition(
      scored.select(col("quality"), col("doc_id")),
      Seq("quality" -> false, "doc_id" -> false))
      .select(col("pos"), col("quality").as("norm_quality"))
    val wSrc = Window.partitionBy(col("lang"))
      .orderBy(col("quality").asc, col("doc_id").asc)
    scored
      .withColumn("r", row_number().over(wSrc).cast("long"))
      .withColumn("n_h", count(lit(1))
        .over(Window.partitionBy(col("lang"))))
      .crossJoin(broadcast(n))
      .withColumn("pos",
        expr("((2 * cast(r as decimal(38,0)) - 1) * n_total + 2 * n_h - 1)" +
          " div (2 * n_h)") - 1)
      .join(globalRanks, Seq("pos"))
      .select(col("doc_id"), col("lang"), col("quality"),
        col("norm_quality"))
  }

  val q158Sql: String =
    s"""WITH scored AS (${TextOps.scoredSql}),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM scored),
       |g AS (
       |  SELECT quality AS norm_quality,
       |    CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT) - 1
       |      AS pos
       |  FROM scored),
       |r AS (
       |  SELECT doc_id, lang, quality,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY quality, doc_id) AS BIGINT) AS r,
       |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_h
       |  FROM scored),
       |p AS (
       |  SELECT doc_id, lang, quality,
       |    CAST(((2 * CAST(r AS HUGEINT) - 1) * n_total + 2 * n_h - 1)
       |         // (2 * n_h) - 1 AS BIGINT) AS pos
       |  FROM r, n)
       |SELECT p.doc_id, p.lang, p.quality, g.norm_quality
       |FROM p JOIN g USING (pos)""".stripMargin

  /** Gate-calibration curve: for a grid of candidate quality thresholds,
    * what survives — docs kept, token mass kept, and the kept-token
    * fraction. This is the sweep a pipeline owner reads BEFORE fixing
    * any absolute quality gate (the complement of q91's fixed-rate
    * percentile form): the elbow of this curve IS the threshold
    * decision, and computing it for 8 thresholds costs one corpus
    * pass, not 8.
    *
    * Scale shape: per-doc (quality, n_tok) projection, thresholds ride
    * a per-row literal-array explode (the q144 move — no join, no
    * second scan), partial-combining aggregate onto 8 groups; token
    * sums in decimal(38,0). Threshold literals are exact halves/tenths
    * (binary-representable or consistently rounded the same way in
    * both engines' literal parsers). */
  def q159GateSweep(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val grid = Seq(0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65)
    TextOps.scoredDocs(s, dir)
      .select(col("quality"), col("n_tokens"))
      .select(col("quality"), col("n_tokens"),
        explode(array(grid.map(lit): _*)).as("thresh"))
      .groupBy(col("thresh"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= col("thresh"), 1L).otherwise(0L))
          .cast("long").as("docs_kept"),
        sum(col("n_tokens").cast(d38)).cast("long").as("tokens_total"),
        sum(when(col("quality") >= col("thresh"), col("n_tokens"))
          .otherwise(0L).cast(d38)).cast("long").as("tokens_kept"))
      .withColumn("kept_frac",
        col("tokens_kept").cast("double") / col("tokens_total").cast("double"))
  }

  val q159Sql: String =
    s"""WITH scored AS (${TextOps.scoredSql}),
       |g AS (
       |  SELECT quality, n_tokens, thresh
       |  FROM scored,
       |    UNNEST([0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65])
       |      AS u(thresh))
       |SELECT CAST(thresh AS DOUBLE) AS thresh,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN quality >= thresh THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_kept,
       |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       |  CAST(sum(CASE WHEN quality >= thresh THEN n_tokens ELSE 0 END)
       |    AS BIGINT) AS tokens_kept,
       |  CAST(sum(CASE WHEN quality >= thresh THEN n_tokens ELSE 0 END)
       |    AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS kept_frac
       |FROM g GROUP BY thresh""".stripMargin

  /** Token-balanced shard planner: split points for 8 output shards of
    * (approximately) equal TOKEN mass, derived from a 16-token-wide
    * histogram of per-doc token counts — how a 100 TB writer sizes its
    * range partitions before the shuffle, without sorting the corpus
    * (the planning half of q87's packing; q156 uses the same
    * inverse-CDF trick for sampling). A bin's shard is
    * ⌊cum_before·8 / total⌋ — exact integer arithmetic, so bins never
    * straddle and every engine plans the identical boundaries.
    *
    * Scale shape: ONE corpus pass collapses to the bin histogram
    * (map-side combine, bin-cardinality-bounded); the prefix-sum AND the
    * grand total are two frames of the SAME window spec over that
    * bounded table (one WindowExec, ≤ a few thousand rows regardless of
    * corpus size) — no second corpus scan, no join at all. */
  def q174ShardPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // coalesce+greatest: a NULL text carries ZERO token mass and belongs
    // in bin 0 — the writer still has to PLACE the empty doc somewhere
    // (r8, curation fuzz battery: an uncoalesced NULL formed its own
    // histogram bin, which sorts FIRST in Spark's prefix window but LAST
    // in DuckDB's, planning the phantom bin into shard 0 vs a spurious
    // shard 8). The greatest clamps non-ANSI's size(NULL) = -1 sentinel
    // (legacy.sizeOfNull defaults to !ansi), making the zero-mass
    // contract ANSI-independent like chunkDocs. Oracle mirrors the
    // coalesce (DuckDB len(NULL) is NULL, never -1).
    val pieces = greatest(coalesce(size(regexp_extract_all(normText(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))), lit(0)), lit(0)).cast("long")
    val w = Window.orderBy(col("b"))
    val hist = Tables.documents(s, dir)
      .select((pieces / 16L).cast("long").as("b"), pieces.as("t"))
      .groupBy(col("b")).agg(sum(col("t")).as("mass"), count(lit(1)).as("n_docs"))
    hist
      .withColumn("cum_before",
        coalesce(sum(col("mass")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("mass")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division, and a
      // truncated double misrounds once cum_before·8 exceeds 2^53.
      // nullif: a corpus of all-empty documents has total = 0 — NULL
      // shard, not the ANSI divide-by-zero error (oracle mirrors)
      .withColumn("shard", expr("cum_before * 8 div nullif(total, 0)"))
      .groupBy(col("shard")).agg(
        min(col("b")).as("lo_bin"), max(col("b")).as("hi_bin"),
        sum(col("mass")).as("shard_tokens"), sum(col("n_docs")).as("shard_docs"))
  }

  val q174Sql: String =
    s"""WITH toks AS (
      |  SELECT coalesce(CAST(len(regexp_extract_all(
      |      ${normSql("text")},
      |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT), 0) AS t
      |  FROM documents),
      |hist AS MATERIALIZED (
      |  SELECT t // 16 AS b, CAST(sum(t) AS BIGINT) AS mass,
      |    CAST(count(*) AS BIGINT) AS n_docs
      |  FROM toks GROUP BY 1),
      |cum AS (
      |  SELECT b, mass, n_docs,
      |    CAST(coalesce(sum(mass) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before,
      |    CAST(sum(mass) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS total
      |  FROM hist)
      |SELECT cum_before * 8 // nullif(total, 0) AS shard,
      |  min(b) AS lo_bin, max(b) AS hi_bin,
      |  CAST(sum(mass) AS BIGINT) AS shard_tokens,
      |  CAST(sum(n_docs) AS BIGINT) AS shard_docs
      |FROM cum GROUP BY 1""".stripMargin

  /** Herfindahl–Hirschman concentration of source shares — the
    * single-number "is this corpus one crawl in a trench coat" check
    * (HHI = Σ share², 1/#sources at perfect balance, → 1 as one feed
    * dominates), alongside each source's exact per-mille share. The
    * concentration companion to [[q184Ess]] (which weights by language)
    * and q153's top-share curve.
    *
    * Determinism: HHI = Σ n_s² / n² — both sums exact decimal(38,0),
    * ONE double division; shares are exact integer per-milles.
    *
    * Scale shape: one corpus pass to #sources rows; the global moment
    * re-aggregates those. No window over anything unbounded, no join. */
  def q198Hhi(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val bySrc = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    bySrc.agg(count(lit(1)).as("n_sources"),
        sum(col("n_s")).as("n"),
        sum((col("n_s").cast(d38) * col("n_s").cast(d38)).cast(d38))
          .as("sq"))
      .select(col("n_sources"), col("n"),
        (col("sq").cast("double") /
          (col("n").cast(d38) * col("n").cast(d38)).cast("double"))
          .as("hhi"))
  }

  val q198Sql: String =
    """WITH s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_s
      |  FROM documents GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_sources,
      |  CAST(sum(n_s) AS BIGINT) AS n,
      |  CAST(sum(CAST(n_s AS HUGEINT) * n_s) AS DOUBLE)
      |    / CAST(CAST(sum(n_s) AS HUGEINT) * CAST(sum(n_s) AS BIGINT)
      |        AS DOUBLE) AS hhi
      |FROM s""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q198_hhi", q198Hhi, Some(q198Sql)),
    QueryDef("q184_ess", q184Ess, Some(q184Sql)),
    QueryDef("q174_shard_plan", q174ShardPlan, Some(q174Sql)),
    QueryDef("q130_dsir_weights", q130DsirWeights, Some(q130Sql)),
    QueryDef("q144_context_budget", q144ContextBudget, Some(q144Sql)),
    QueryDef("q153_pareto", q153ParetoConcentration, Some(q153Sql)),
    QueryDef("q157_neyman_alloc", q157NeymanAlloc, Some(q157Sql)),
    QueryDef("q158_quantile_norm", q158QuantileNorm, Some(q158Sql)),
    QueryDef("q159_gate_sweep", q159GateSweep, Some(q159Sql)),
    QueryDef("q108_drift", q108Drift, Some(q108Sql)),
    QueryDef("q67_pii_redact", q67PiiRedact, Some(q67Sql)),
    QueryDef("q68_repetition", q68Repetition, Some(q68Sql)),
    QueryDef("q69_chunk", q69Chunk, Some(q69Sql)),
    QueryDef("q235_doc_chunks", q235DocChunks, Some(q235Sql)),
    QueryDef("q70_contamination", q70Contamination, Some(q70Sql)),
    QueryDef("q229_datasheet", q229Datasheet, Some(q229Sql)),
    QueryDef("q71_bloom_join", q71BloomJoin, Some(q71Sql)),
    QueryDef("q72_tfidf", q72Tfidf, Some(q72Sql)),
    QueryDef("q73_zorder", q73Zorder, Some(q73Sql)),
    QueryDef("q74_stratified_sample", q74StratifiedSample, Some(q74Sql)),
    QueryDef("q124_stratum_sample", q124StratumSample, Some(q124Sql)),
    QueryDef("q125_seq_poisson", q125SeqPoisson, Some(q125Sql)),
    QueryDef("q87_pack_sequences", q87PackSequences, Some(q87Sql)),
    QueryDef("q88_domain_mixture", q88DomainMixture, Some(q88Sql)),
    QueryDef("q90_global_shuffle", q90GlobalShuffle, Some(q90Sql)),
    QueryDef("q96_source_cap", q96SourceCap, Some(q96Sql)),
    QueryDef("q110_pps_sample", q110PpsSample, Some(q110Sql)),
    QueryDef("q115_curriculum", q115Curriculum, Some(q115Sql)),
    QueryDef("q116_token_budget", q116TokenBudget, Some(q116Sql)),
    QueryDef("q120_token_mixture", q120TokenMixture, Some(q120Sql)))

  /** Systematic PPS (probability-proportional-to-size) sampling: pick
    * ~k documents with inclusion probability proportional to token
    * count — the "sample big docs more" draw behind token-budgeted eval
    * sets and mixture probes. A document is selected iff the running
    * token total crosses a multiple of `step = W div k` inside it
    * (W = corpus tokens): every quantity is an exact int64, so the
    * selected set is deterministic and the DuckDB window-sum oracle
    * reproduces it bit-for-bit. Zero-weight docs can never be chosen.
    *
    * The naive cumulative sum — `sum(w) OVER (ORDER BY doc_id)` — is a
    * single-partition window funnel. This is the repo's finalized-RDD
    * two-pass prefix shape (q90/q91/q106): range-partition by doc_id,
    * per-partition weight sums (one tiny job, #partitions longs),
    * broadcast the prefix offsets, then stream each partition once
    * carrying the running total. The TOTAL W comes from the same
    * per-partition sums, so corpus-scan count stays at one. */
  def q110PpsSample(s: SparkSession, dir: String): DataFrame =
    // coalesce+greatest: a NULL text carries ZERO tokens (r8, curation
    // fuzz battery — size(NULL) is NULL under ANSI and crashed
    // ppsSample's typed two-long encoder; under non-ANSI it is the -1
    // sentinel, which would SUBTRACT from the running total — greatest
    // clamps both to 0). Weight 0 can never cross a step multiple, so
    // the doc is unselectable in both engines; the oracle needs no
    // change (its window sum skips the NULL weight — same running total).
    ppsSample(Tables.documents(s, dir)
      .select(col("doc_id"),
        greatest(coalesce(size(filter(tokens(col("text")), t => t =!= "")),
          lit(0)), lit(0)).cast("long").as("n_tokens")), k = 50L)

  /** PPS core over a (doc_id, n_tokens) frame — see [[q110PpsSample]]. */
  def ppsSample(weights: DataFrame, k: Long): DataFrame = {
    val s = weights.sparkSession
    import s.implicits._
    val sorted = weights
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .select(col("doc_id").as[Long], col("n_tokens").as[Long])
    val rdd = sorted.rdd // finalize ONCE (q90 lesson)
    val partSums = rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single(pid -> it.map(_._2).sum)
    }.collect().sortBy(_._1).map(_._2) // #partitions longs
    val total = partSums.sum
    val step = math.max(1L, total / k)
    val offsets = partSums.scanLeft(0L)(_ + _).init
    val bcOff = s.sparkContext.broadcast(offsets)
    rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = bcOff.value(pid)
      it.flatMap { case (id, w) =>
        val before = cum
        cum += w
        if (before / step < cum / step) Some((id, w, cum)) else None
      }
    }.toDF("doc_id", "n_tokens", "cum_tokens")
  }

  /** Curriculum interleave: a deterministic training order that
    * round-robins difficulty buckets — position `rank_in_bucket · B +
    * bucket` walks easy→hard repeatedly, the standard anti-"all the hard
    * docs land in one epoch stretch" curriculum shuffle. Difficulty here
    * is the 10-bucket length feature ([[lenBucket]]); `curriculum_pos`
    * is a strict total order (unique by construction: rank is unique
    * within a bucket and positions of different buckets differ mod B).
    *
    * The per-bucket rank is NOT `row_number() OVER (PARTITION BY
    * bucket)` — bucket count is FIXED at 10, so that window funnels a
    * tenth of the corpus through each of 10 tasks at 100 TB. It is the
    * q91 two-pass distributed-rank shape keyed by bucket: range-partition
    * + sort by (bucket, doc_id) — each bucket spans MANY ordered
    * partitions — finalize ONE RDD, count rows per (partition, bucket)
    * in a cheap first job, broadcast the per-bucket prefix offsets, and
    * stream each partition once emitting the running rank. */
  def q115Curriculum(s: SparkSession, dir: String): DataFrame =
    curriculumOrder(Tables.documents(s, dir)
      .select(col("doc_id"), lenBucket(col("text")).as("bucket")), buckets = 10)

  /** Curriculum core over a (doc_id, bucket) frame — see
    * [[q115Curriculum]]. The per-bucket rank rides the
    * [[graft.plans.GlobalRank]] exec (group reset per bucket); the
    * interleave position is then plain codegen arithmetic. */
  def curriculumOrder(items: DataFrame, buckets: Int): DataFrame =
    graft.plans.GlobalRank.withPosition(items,
      order = Seq("doc_id" -> false), group = Seq("bucket"),
      posName = "rank_in_bucket")
      .select(col("doc_id"), col("bucket"), col("rank_in_bucket"),
        (col("rank_in_bucket") * buckets + col("bucket"))
          .as("curriculum_pos"))

  val q115Sql: String =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    least(CAST(len(${wordsSql("text")}) AS BIGINT) // 20, 9) AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CAST(row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
      |    AS BIGINT) AS rank_in_bucket,
      |  CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) * 10
      |    + bucket AS BIGINT) AS curriculum_pos
      |FROM b""".stripMargin

  /** Token-budget corpus assembly: walk the deterministic shuffle order
    * (the q90 salted-hash key) and keep documents until the running
    * token total reaches the budget — "give me a reproducible ~1M-token
    * slice" for eval sets, ablations, and budget-matched comparisons.
    * A document is kept iff the total BEFORE it is under budget, so the
    * slice overshoots by at most one document (the standard contract);
    * zero-token docs inside the window are kept (they cost nothing).
    *
    * Same finalized-RDD two-pass prefix shape as q110: range-partition
    * by the shuffle key, per-partition token sums (one tiny job),
    * broadcast prefix offsets, one streaming pass carrying the running
    * total. The naive `sum() OVER (ORDER BY k)` is the single-partition
    * window funnel. */
  def q116TokenBudget(s: SparkSession, dir: String): DataFrame =
    tokenBudgetHead(Tables.documents(s, dir)
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("n_tokens")), budget = 5000L, salt = "shuf:")

  /** Budget-head core over a (doc_id, n_tokens) frame — see
    * [[q116TokenBudget]]. The running total rides the
    * [[graft.plans.GlobalRank]] exec; the keep-while-under-budget gate is
    * then a per-row filter on the inclusive sum (`cum − n < budget` ⟺
    * the total BEFORE this doc was under budget). */
  def tokenBudgetHead(weights: DataFrame, budget: Long,
      salt: String): DataFrame =
    graft.plans.GlobalRank.withPosition(
      weights.select(col("doc_id"),
        hash60(concat(lit(salt), col("doc_id").cast("string"))).as("k"),
        col("n_tokens")),
      order = Seq("k" -> false, "doc_id" -> false),
      sumCol = Some("n_tokens"), cumName = "cum_tokens")
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select(col("doc_id"), col("k"), col("n_tokens"), col("cum_tokens"))

  val q116Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id,
      |    ${hash60Sql("'shuf:' || doc_id")} AS k,
      |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, k, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY k, doc_id) AS BIGINT) AS cum_tokens
      |  FROM w)
      |SELECT doc_id, k, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens - n_tokens < 5000""".stripMargin

  /** Token-budgeted domain mixture: every language contributes AT MOST a
    * fixed token budget, drawn in the deterministic shuffle order — the
    * form mixtures are actually specified in (token shares, not doc
    * counts; a domain of long documents would otherwise dominate a
    * doc-count mixture like q88). Keep rule per domain = the q116 prefix
    * contract: a doc is kept iff its language's running total BEFORE it
    * is under budget, so each domain overshoots by at most one document.
    *
    * Scale shape: the grouped version of q116's two-pass prefix —
    * range-partition + sort by (lang, k, doc_id) so each language is a
    * contiguous ordered run ACROSS partitions, finalize ONE RDD,
    * per-(partition, lang) token sums in a cheap first job (driver
    * volume ≤ #partitions × #langs), broadcast per-lang prefix offsets,
    * stream each partition once carrying per-lang running totals. The
    * naive `sum() OVER (PARTITION BY lang ORDER BY k)` funnels each
    * whole language through one window task (the q91 finding). */
  def q120TokenMixture(s: SparkSession, dir: String): DataFrame =
    tokenBudgetMixture(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("n_tokens")), budgetPerDomain = 2000L,
      salt = "mixshuf:")

  /** Grouped budget-head core over a (doc_id, lang, n_tokens) frame —
    * see [[q120TokenMixture]]. The per-domain running total is the
    * [[graft.plans.GlobalRank]] exec's group-reset sum. */
  def tokenBudgetMixture(weights: DataFrame, budgetPerDomain: Long,
      salt: String): DataFrame =
    graft.plans.GlobalRank.withPosition(
      weights.select(col("doc_id"), col("lang"),
        hash60(concat(lit(salt), col("doc_id").cast("string"))).as("k"),
        col("n_tokens")),
      order = Seq("k" -> false, "doc_id" -> false), group = Seq("lang"),
      sumCol = Some("n_tokens"), cumName = "cum_tokens")
      .filter(col("cum_tokens") - col("n_tokens") < budgetPerDomain)
      .select(col("doc_id"), col("lang"), col("k"), col("n_tokens"),
        col("cum_tokens"))

  val q120Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id, lang,
      |    ${hash60Sql("'mixshuf:' || doc_id")} AS k,
      |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, k, n_tokens,
      |    CAST(sum(n_tokens) OVER (
      |      PARTITION BY lang ORDER BY k, doc_id) AS BIGINT) AS cum_tokens
      |  FROM w)
      |SELECT doc_id, lang, k, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens - n_tokens < 2000""".stripMargin

  val q110Sql: String =
    s"""WITH w AS (
      |  SELECT doc_id,
      |    CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
      |  FROM w),
      |t AS (SELECT greatest(1, CAST(sum(n_tokens) AS BIGINT) // 50) AS step FROM w)
      |SELECT doc_id, n_tokens, cum_tokens
      |FROM c, t
      |WHERE (cum_tokens - n_tokens) // step < cum_tokens // step""".stripMargin
}
