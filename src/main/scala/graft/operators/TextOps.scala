package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token statistics,
  * quality scoring, language-ID heuristic, document fingerprinting.
  * All pure column expressions (whole-stage codegen, no UDFs), embarrassingly
  * parallel per document — the shape that scales linearly to 100 TB.
  */
object TextOps {



  /** Token-count / length statistics per document. The average token
    * length is derived from exact integer counts (chars minus separators
    * over tokens), so the double division is bit-identical cross-engine. */
  def q30TextStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        normText(col("text")).as("norm"))
      .select(col("doc_id"), col("lang"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        size(split(col("norm"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("norm"), " "))).cast("long").as("n_distinct"))
      .withColumn("avg_token_len",
        (col("n_chars_norm") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))

  val q30Sql: String =
    s"""SELECT doc_id, lang,
      |  length(norm) AS n_chars_norm,
      |  len(string_split(norm, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(norm, ' '))) AS n_distinct,
      |  CAST(length(norm) - (len(string_split(norm, ' ')) - 1) AS DOUBLE)
      |    / len(string_split(norm, ' ')) AS avg_token_len
      |FROM (SELECT doc_id, lang,
      |        ${normSql("text")} AS norm
      |      FROM documents)""".stripMargin

  /** Stopword-overlap language-ID heuristic: score each candidate language
    * by distinct-marker hits, argmax with a fixed tie-break order. (The
    * synthetic corpus shares one vocabulary across langs, so this grades
    * the computation, not linguistic accuracy.) */
  def q31LangId(s: SparkSession, dir: String): DataFrame = {
    val en = Seq("the", "a", "fast", "slow", "small", "big")
    val es = Seq("data", "table", "row", "query", "line")
    val fr = Seq("join", "merge", "sort", "hash", "group")
    def score(words: Seq[String]) =
      size(array_intersect(array_distinct(tokens(col("text"))),
        array(words.map(lit): _*))).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        score(en).as("s_en"), score(es).as("s_es"), score(fr).as("s_fr"))
      .withColumn("pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
  }

  val q31Sql: String =
    s"""SELECT doc_id, lang, s_en, s_es, s_fr,
      |  CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred
      |FROM (
      |  SELECT doc_id, lang,
      |    len(list_intersect(toks, ['the','a','fast','slow','small','big'])) AS s_en,
      |    len(list_intersect(toks, ['data','table','row','query','line'])) AS s_es,
      |    len(list_intersect(toks, ['join','merge','sort','hash','group'])) AS s_fr
      |  FROM (SELECT doc_id, lang,
      |          list_distinct(${tokensSql("text")}) AS toks
      |        FROM documents))""".stripMargin

  /** Quality score: type-token ratio blended with a length bucket — the
    * double arithmetic has a fixed expression-tree order, identical in
    * both engines. */
  def q32Quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(normText(col("text")), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(normText(col("text")), " "))).cast("long").as("n_distinct"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("len_score",
        when(col("n_tokens") < 10, 0.2)
          .when(col("n_tokens") < 50, 1.0)
          .when(col("n_tokens") < 200, 0.8)
          .otherwise(0.5))
      .withColumn("quality", col("ttr") * 0.5 + col("len_score") * 0.5)

  /** (doc_id, lang, quality) per the q32 formula — the per-document
    * quality frame shared by q91's percentile gate, q95's tier cut,
    * q118's canonical argmax, and the q158/q159 gate tooling.
    *
    * NULL text is unscorable and excluded at this boundary (r8, text
    * fuzz battery): a NULL propagates to a NULL quality, which CRASHES
    * q91's typed three-column encoder and — worse — SORTS at opposite
    * ends across engines (Spark nulls-first vs DuckDB nulls-last), so
    * every rank/tier downstream shifts. The shared [[scoredSql]] CTE
    * mirrors the WHERE, keeping every consumer's oracle in lockstep;
    * no-op on the null-free driver corpus. */
  def scoredDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(split(normText(col("text")), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(normText(col("text")), " ")))
          .cast("long").as("n_distinct"))
      .withColumn("quality",
        (col("n_distinct").cast("double") / col("n_tokens")) * 0.5 +
          when(col("n_tokens") < 10, 0.2)
            .when(col("n_tokens") < 50, 1.0)
            .when(col("n_tokens") < 200, 0.8)
            .otherwise(0.5) * 0.5)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))

  /** The q91 oracle's `scored` CTE, shared with q95's oracle. */
  val scoredSql: String =
    s"""SELECT doc_id, lang, n_tokens,
      |    (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5 +
      |    (CASE WHEN n_tokens < 10 THEN 0.2 WHEN n_tokens < 50 THEN 1.0
      |          WHEN n_tokens < 200 THEN 0.8 ELSE 0.5 END) * 0.5 AS quality
      |  FROM (
      |    SELECT doc_id, lang,
      |      len(string_split(norm, ' ')) AS n_tokens,
      |      len(list_distinct(string_split(norm, ' '))) AS n_distinct
      |    FROM (SELECT doc_id, lang,
      |            ${normSql("text")} AS norm
      |          FROM documents WHERE text IS NOT NULL))""".stripMargin

  /** Per-domain quality gating: keep documents whose quality score (the
    * q32 formula) clears the bottom-20% PERCENTILE within their own
    * language — per-domain rather than global because a single absolute
    * threshold silently empties whichever domain scores systematically
    * lower (the classic mono-lingual-filter failure on multilingual
    * corpora). `percent_rank` is (rank-1)/(n-1) with a doc_id tiebreak:
    * one exact integer ratio per row, identical in both engines.
    *
    * NOT a `percent_rank().over(Window.partitionBy(lang))`: `WindowExec`
    * needs an entire window partition inside one task, `lang` is
    * low-cardinality by construction, and no AQE rule splits window
    * partitions (skew handling covers joins only) — so at 100 TB the
    * whole corpus would funnel through ~#languages tasks. Instead this is
    * q90's two-pass distributed-rank shape generalized to reset per lang:
    * range-partition + sort by (lang, quality, doc_id) — each lang spans
    * MANY ordered partitions — finalize ONE RDD, count rows per
    * (partition, lang) in a first cheap job, broadcast the per-lang
    * prefix offsets + totals, and stream each partition once emitting
    * rank/(n-1). The ordering key is unique (doc_id tiebreak), so
    * rank = row position; the ratio is one exact-integer double division,
    * bit-identical to the oracle's percent_rank. */
  def q91QualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = scoredDocs(s, dir)
      .select(col("doc_id").as[Long], col("lang").as[String],
        col("quality").as[Double])
    val sorted = scored
      .repartitionByRange(col("lang"), col("quality"), col("doc_id"))
      .sortWithinPartitions(col("lang"), col("quality"), col("doc_id"))
    // finalize the plan ONCE — both jobs below must see the same
    // partitioning (the q90 lesson: RangePartitioner's seed and AQE
    // coalescing are per-execution), and the range shuffle's map output
    // is reused between them, so the input is scanned once
    val rdd = sorted.rdd
    val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (_, lang, _) => m.update(lang, m.getOrElse(lang, 0L) + 1L) }
      m.iterator.map { case (lang, n) => (pid, lang, n) }
    }.collect() // ≤ #partitions × #langs rows — driver-bounded
    val totals = counts.groupBy(_._2).map { case (l, cs) => l -> cs.map(_._3).sum }
    val offsets = counts.groupBy(_._2).iterator.flatMap { case (l, cs) =>
      val byPid = cs.sortBy(_._1)
      byPid.map(_._1).zip(byPid.scanLeft(0L)(_ + _._3).init)
        .map { case (pid, off) => (pid, l) -> off }.iterator
    }.toMap
    val bcOff = s.sparkContext.broadcast(offsets)
    val bcTot = s.sparkContext.broadcast(totals)
    rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = bcOff.value; val tot = bcTot.value
      var curLang: String = null; var rank0 = 0L
      it.flatMap { case (id, lang, q) =>
        if (lang != curLang) {
          curLang = lang; rank0 = off.getOrElse((pid, lang), 0L)
        }
        val n = tot(lang)
        val pr = if (n > 1) rank0.toDouble / (n - 1) else 0.0
        rank0 += 1
        if (pr >= 0.2) Some((id, lang, q, pr)) else None
      }
    }.toDF("doc_id", "lang", "quality", "q_rank")
  }

  val q91Sql: String =
    s"""WITH scored AS (
      |  SELECT doc_id, lang,
      |    (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5 +
      |    (CASE WHEN n_tokens < 10 THEN 0.2 WHEN n_tokens < 50 THEN 1.0
      |          WHEN n_tokens < 200 THEN 0.8 ELSE 0.5 END) * 0.5 AS quality
      |  FROM (
      |    SELECT doc_id, lang,
      |      len(string_split(norm, ' ')) AS n_tokens,
      |      len(list_distinct(string_split(norm, ' '))) AS n_distinct
      |    FROM (SELECT doc_id, lang,
      |            ${normSql("text")} AS norm
      |          FROM documents WHERE text IS NOT NULL))),
      |ranked AS (
      |  SELECT doc_id, lang, quality,
      |    percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id)
      |      AS q_rank
      |  FROM scored)
      |SELECT doc_id, lang, quality, q_rank
      |FROM ranked WHERE q_rank >= 0.2""".stripMargin

  /** Vocabulary coverage (OOV-rate complement): the fraction of each
    * document's token OCCURRENCES that fall inside the corpus's top-100
    * vocabulary (by total frequency, term tiebreak). Real pipelines use
    * this as a fast quality/garbage signal — low coverage flags encoding
    * junk, boilerplate, or off-distribution text. One aggregate pass
    * builds the top-100 vocab; coverage is then ONE narrow corpus pass:
    * the vocab is collapsed to a single-row array, broadcast-cross-joined
    * onto the documents, and each row filters its own token array against
    * it — no second explode and no groupBy(doc_id) shuffle of the token
    * stream (which at 100 TB would re-shuffle O(total tokens) rows just
    * to undo the explode). The vocab is bounded by construction, so the
    * broadcast is safe at any corpus size — only the top-k cut must be
    * deterministic (frequency desc, term asc). */
  def q92VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    // top-k via orderBy+limit = TakeOrderedAndProject (per-partition
    // partial top-k, merged on the driver) — NOT a global row_number
    // window, which would funnel the whole vocabulary through one task
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(100)
    val vocabArr = vocab.agg(collect_list(col("term")).as("vocab"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(tokens(col("text")), t => t =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
      .crossJoin(broadcast(vocabArr))
      // codegen hash-set membership count: O(|vocab|+|toks|) per row,
      // where filter+array_contains would linear-scan the vocab per token
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.VectorExprs.count_in_array(col("toks"), col("vocab"))
          .as("n_in_vocab"))
      .withColumn("coverage",
        col("n_in_vocab").cast("double") / col("n_tokens"))
  }

  val q92Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, term FROM (
       |    SELECT doc_id, UNNEST(${tokensSql("text")}) AS term
       |    FROM documents)
       |  WHERE term <> ''),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS r
       |    FROM toks GROUP BY term)
       |  WHERE r <= 100)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_in_vocab,
       |  CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS coverage
       |FROM toks LEFT JOIN vocab v USING (term)
       |GROUP BY doc_id""".stripMargin

  val q32Sql: String =
    s"""SELECT doc_id, n_tokens, n_distinct,
      |  CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
      |  CASE WHEN n_tokens < 10 THEN 0.2 WHEN n_tokens < 50 THEN 1.0
      |       WHEN n_tokens < 200 THEN 0.8 ELSE 0.5 END AS len_score,
      |  (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5 +
      |  (CASE WHEN n_tokens < 10 THEN 0.2 WHEN n_tokens < 50 THEN 1.0
      |        WHEN n_tokens < 200 THEN 0.8 ELSE 0.5 END) * 0.5 AS quality
      |FROM (
      |  SELECT doc_id,
      |    len(string_split(norm, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(norm, ' '))) AS n_distinct
      |  FROM (SELECT doc_id, ${normSql("text")} AS norm
      |        FROM documents))""".stripMargin

  /** Unigram language-model familiarity scoring — the cheap LM-quality
    * signal real curation pipelines run before anything perplexity-shaped:
    * documents dominated by corpus-rare tokens (encoding junk, OCR noise,
    * off-distribution text) score near 0, boilerplate scores high. The
    * score is the mean corpus frequency of the document's tokens,
    * `hit_mass / (n_tokens · N)` with `hit_mass = Σ_t cnt_vocab(t)` —
    * deliberately NOT log-probability: every quantity stays an exact
    * integer until ONE final double division, so the result is
    * bit-identical cross-engine (a Σ log p formulation would sum doubles
    * in engine-dependent order).
    *
    * Scale shape: the vocabulary is capped at the top-64 terms (frequency
    * desc, term asc — a deterministic cut via `TakeOrderedAndProject`, not
    * a global window), collapsed to ONE map row and broadcast; scoring is
    * then a single narrow corpus pass with a per-row codegen'd hash lookup
    * ([[graft.functions.VectorExprs.MapSumLookup]]) — no token-stream
    * shuffle and no explode on the scoring side. OOV tokens contribute 0
    * by the `coalesce`-free contract of the lookup itself. */
  def q99UnigramLm(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).cast("long").as("n_corpus"))
    val vocabMap = tf
      .orderBy(col("tf").desc, col("term").asc).limit(64)
      .agg(map_from_entries(collect_list(struct(col("term"), col("tf"))))
        .as("vmap"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(tokens(col("text")), t => t =!= "").as("toks"))
      .filter(size(col("toks")) > 0)
      .crossJoin(broadcast(vocabMap))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.VectorExprs.map_sum_lookup(col("toks"), col("vmap"))
          .as("hit_mass"),
        col("n_corpus"))
      .withColumn("familiarity",
        // factors to double BEFORE multiplying: doc length × corpus
        // tokens passes 2^63 at the 100 TB regime (q208 contract)
        col("hit_mass").cast("double")
          / (col("n_tokens").cast("double") * col("n_corpus").cast("double")))
      .drop("n_corpus")
  }

  val q99Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, UNNEST(${tokensSql("text")}) AS term
      |    FROM documents)
      |  WHERE term <> ''),
      |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY term),
      |total AS (SELECT CAST(sum(tf) AS BIGINT) AS n_corpus FROM tf),
      |vocab AS (
      |  SELECT term, tf FROM (
      |    SELECT term, tf, row_number() OVER (ORDER BY tf DESC, term) AS r
      |    FROM tf)
      |  WHERE r <= 64)
      |SELECT t.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(coalesce(v.tf, 0)) AS BIGINT) AS hit_mass,
      |  CAST(sum(coalesce(v.tf, 0)) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE)
      |       * CAST((SELECT n_corpus FROM total) AS DOUBLE)) AS familiarity
      |FROM toks t LEFT JOIN vocab v USING (term)
      |GROUP BY t.doc_id""".stripMargin

  /** The shared `(doc_id, toks)` tokenizer of the multi-consumer text
    * queries (q103/q104/q111/q122/q148), MATERIALIZED when the scan is
    * narrow (r13, VERDICT task 6): each of these queries consumes the
    * tokenized frame from ≥ 2 independent plan branches, and a lazy
    * frame re-runs scan + regexp tokenize per branch (the r12
    * loader-widen A/B lost precisely because the repartition was not
    * materialized). One localCheckpoint pays tokenize once at bench
    * scale; at cluster width (wide scan) the frame stays LAZY —
    * re-computing a cheap-per-byte tokenize beats materializing a
    * corpus-sized token table, and the bench-scale checkpoint of a
    * narrow scan is small by construction. */
  private[graft] def sharedToks(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), filter(tokens(col("text")), t => t =!= "").as("toks"))
    if (Tables.narrowScan(Tables.documents(s, dir)))
      d.localCheckpoint(true)
    else d
  }

  /** Top-k collocations by pointwise mutual information: bigrams whose
    * joint count beats what their unigram frequencies predict. The score
    * is the PMI *odds ratio* `c_ab·N / (c_a·c_b)` rather than its log —
    * same ranking (log is monotone), and the value is one fixed double
    * tree with every count cast BEFORE its multiply (both products are
    * corpus² and wrap int64 past ~3e9 tokens — r6 fix); identical trees
    * of correctly-rounded IEEE ops are bit-identical cross-engine, where
    * `ln` outputs need not agree at the last ulp.
    *
    * Scale shape: bigram and unigram counting are partially-aggregated
    * shuffles bounded by vocabulary size (never a raw token-stream
    * shuffle); the min-count gate (≥ 5) prunes the hapax tail BEFORE the
    * two vocabulary-sized count joins; the final cut is frequency-ordered
    * top-50 via `TakeOrderedAndProject` (per-partition partial top-k, not
    * a single-task global sort). Bigrams are formed per-row with an
    * index-aware `transform` — no self-join of the corpus on position. */
  def q103PmiBigrams(s: SparkSession, dir: String): DataFrame = {
    val docs = sharedToks(s, dir)
    // checkpointed (r12, lint class #10): uni feeds the two bigram-leg
    // joins (shuffle) AND the broadcast total — the broadcast consumer
    // plans a DIFFERENT exchange type, so runtime stage reuse cannot
    // dedupe it and the scan+tokenize lineage ran once more (the q152
    // broadcast-vs-shuffle evidence). Vocab-bounded narrow frame.
    val uni = docs.select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val total = uni.agg(sum(col("c")).cast("long").as("n_uni"))
    val bigrams = docs.filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    bigrams
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("term").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("pmi_odds",
        // factors to double BEFORE multiplying: c_ab·N and c_a·c_b are
        // corpus² products — int64 wraps past ~3e9 tokens (q208 contract)
        (col("c_ab").cast("double") * col("n_uni").cast("double"))
          / (col("c_a").cast("double") * col("c_b").cast("double")))
      .orderBy(col("pmi_odds").desc, col("bg").asc)
      .limit(50)
      .select(col("bg"), col("c_ab"), col("c_a"), col("c_b"), col("pmi_odds"))
  }

  val q103Sql: String =
    // list_filter mirrors the Spark side's empty-token drop (r8, text
    // fuzz battery): trim strips only ' ' in BOTH engines, so a
    // tab-leading text keeps a leading separator after the whitespace
    // collapse and string_split emits a phantom '' term — without the
    // filter those inflate the oracle's n_uni (and shift its bigram
    // positions) while Spark's pre-filtered toks exclude them.
    s"""WITH t AS (
      |  SELECT doc_id,
      |    ${wordsSql("text")} AS toks
      |  FROM documents
      |  WHERE ${normSql("text")} <> ''),
      |tok AS (SELECT UNNEST(toks) AS term FROM t),
      |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
      |total AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
      |bg AS (
      |  SELECT UNNEST(${shinglesSql("toks", 2)}) AS bg FROM t),
      |cab AS (
      |  SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM bg GROUP BY bg HAVING count(*) >= 5)
      |SELECT c.bg, c.c_ab, u1.c AS c_a, u2.c AS c_b,
      |  (CAST(c.c_ab AS DOUBLE) * CAST((SELECT n_uni FROM total) AS DOUBLE))
      |    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))
      |    AS pmi_odds
      |FROM cab c
      |JOIN uni u1 ON u1.term = string_split(c.bg, ' ')[1]
      |JOIN uni u2 ON u2.term = string_split(c.bg, ' ')[2]
      |ORDER BY pmi_odds DESC, c.bg
      |LIMIT 50""".stripMargin

  /** BM25 retrieval over the corpus for a fixed 3-term query — the
    * lexical-retrieval primitive under RAG-style passage selection and
    * hard-negative mining. Uses the log-free "odds" idf
    * `(N - df + 0.5)/(df + 0.5)` (monotone in the standard
    * `ln`-idf, so the RANKING is BM25's) because `ln` outputs need not
    * agree between engines at the last ulp; with k1 = 1.2, b = 0.75 the
    * per-term score reduces to the exact integer rational
    *
    *   v_t = 22·S·tf·(2N − 2df + 1) / ((10·S·tf + 3·S + 9·dl·N)·(2df + 1))
    *
    * (S = total corpus tokens, N = docs, dl = doc length) — evaluated
    * ENTIRELY in double with every leaf cast first: the numerator scales
    * as S·N ≈ corpus², which wraps int64 at ~1e3× the sf0.1 corpus —
    * far below the 100 TB regime — so exact-int64-then-divide is not an
    * option here (r6 fix; the docstring previously claimed a 1e6×
    * margin, which mistook quadratic growth for linear). Both engines
    * apply the IDENTICAL double tree (same leaves, same association),
    * so correctly-rounded IEEE ops keep the hash contract without
    * integer exactness. tf = 0 zeroes the numerator, so absent terms
    * contribute exactly 0.0 with no special-casing.
    *
    * Scale shape: corpus stats (N, S, per-term df) are ONE aggregate row
    * broadcast back; per-doc tf is a per-row `filter(toks, …)` count —
    * the query's term set is tiny, so there is NO token-stream explode
    * and NO shuffle anywhere except the final top-20
    * `TakeOrderedAndProject` (per-partition partial top-k). Two linear
    * corpus scans total (stats, score). */
  def q104Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = sharedToks(s, dir)
    bm25(docs, Seq("query", "merge", "fast"), k = 20)
      .select(col("doc_id"), col("dl"),
        col("tf_0").as("tf_query"), col("tf_1").as("tf_merge"),
        col("tf_2").as("tf_fast"), col("score"))
  }

  /** BM25 core over a (doc_id, toks) frame — see [[q104Bm25]] for the
    * formula derivation and scale rationale. Emits tf_i columns in term
    * order plus dl and score; callers rename for presentation. */
  def bm25(docsIn: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val docs = docsIn.filter(size(col("toks")) > 0)
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("s_tokens") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
            .as(s"df_$i")
        }: _*)
    // tf/dl are per-row token-array scans independent of the corpus
    // stats: compute and GATE them below the cross join, so the arrays
    // are scanned once and non-matching docs never reach the join
    val withTf = terms.zipWithIndex.foldLeft(
      docs.withColumn("dl", size(col("toks")).cast("long"))) {
      case (df, (t, i)) =>
        df.withColumn(s"tf_$i",
          size(filter(col("toks"), x => x === lit(t))).cast("long"))
    }
    def v(i: Int) = {
      val sD = col("s_tokens").cast("double")
      val nD = col("n_docs").cast("double")
      val tfD = col(s"tf_$i").cast("double")
      val dfD = col(s"df_$i").cast("double")
      val dlD = col("dl").cast("double")
      (lit(22.0) * sD * tfD * (lit(2.0) * nD - lit(2.0) * dfD + lit(1.0))) /
        ((lit(10.0) * sD * tfD + lit(3.0) * sD + lit(9.0) * dlD * nD) *
          (lit(2.0) * dfD + lit(1.0)))
    }
    withTf
      // gate on the integer tf sum, not on score > 0: a score gate
      // would be pushed into the join condition and evaluate the whole
      // rational tree twice per row (condition + projection)
      .filter(terms.indices.map(i => col(s"tf_$i")).reduceLeft(_ + _) > 0L)
      .crossJoin(broadcast(stats))
      .withColumn("score",
        terms.indices.map(v).reduceLeft(_ + _))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id") +: col("dl") +:
        terms.indices.map(i => col(s"tf_$i")) :+ col("score"): _*)
  }

  val q104Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl
      |  FROM (
      |    SELECT doc_id,
      |      ${wordsSql("text")} AS toks
      |    FROM documents)
      |  WHERE len(toks) > 0),
      |st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS s_tokens,
      |    CAST(sum(CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
      |    CAST(sum(CASE WHEN list_contains(toks, 'merge') THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
      |    CAST(sum(CASE WHEN list_contains(toks, 'fast') THEN 1 ELSE 0 END) AS BIGINT) AS df_2
      |  FROM d),
      |tf AS (
      |  SELECT doc_id, dl,
      |    CAST(len(list_filter(toks, x -> x = 'query')) AS BIGINT) AS tf_0,
      |    CAST(len(list_filter(toks, x -> x = 'merge')) AS BIGINT) AS tf_1,
      |    CAST(len(list_filter(toks, x -> x = 'fast')) AS BIGINT) AS tf_2
      |  FROM d)
      |SELECT doc_id, dl, tf_0 AS tf_query, tf_1 AS tf_merge, tf_2 AS tf_fast,
      |  22 * CAST(s_tokens AS DOUBLE) * CAST(tf_0 AS DOUBLE)
      |      * (2 * CAST(n_docs AS DOUBLE) - 2 * CAST(df_0 AS DOUBLE) + 1)
      |    / ((10 * CAST(s_tokens AS DOUBLE) * CAST(tf_0 AS DOUBLE)
      |        + 3 * CAST(s_tokens AS DOUBLE)
      |        + 9 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
      |       * (2 * CAST(df_0 AS DOUBLE) + 1))
      |  +   22 * CAST(s_tokens AS DOUBLE) * CAST(tf_1 AS DOUBLE)
      |      * (2 * CAST(n_docs AS DOUBLE) - 2 * CAST(df_1 AS DOUBLE) + 1)
      |    / ((10 * CAST(s_tokens AS DOUBLE) * CAST(tf_1 AS DOUBLE)
      |        + 3 * CAST(s_tokens AS DOUBLE)
      |        + 9 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
      |       * (2 * CAST(df_1 AS DOUBLE) + 1))
      |  +   22 * CAST(s_tokens AS DOUBLE) * CAST(tf_2 AS DOUBLE)
      |      * (2 * CAST(n_docs AS DOUBLE) - 2 * CAST(df_2 AS DOUBLE) + 1)
      |    / ((10 * CAST(s_tokens AS DOUBLE) * CAST(tf_2 AS DOUBLE)
      |        + 3 * CAST(s_tokens AS DOUBLE)
      |        + 9 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
      |       * (2 * CAST(df_2 AS DOUBLE) + 1))
      |  AS score
      |FROM tf, st
      |WHERE tf_0 + tf_1 + tf_2 > 0
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Per-language top-5 bigrams by count — grouped heavy hitters over a
    * grouped corpus: the "what does each domain's text actually look
    * like" profile used to spot boilerplate and template drift per
    * slice. Runs on the custom bounded-heap top-k operator
    * ([[graft.plans.TopKPerKey]]): the PARTIAL pass caps each language
    * at k rows per map task BEFORE the shuffle, so the (lang, bigram)
    * count frame — vocabulary²-bounded but still large — never funnels
    * a whole language's count rows through one window task (the
    * `row_number() OVER (PARTITION BY lang)` plan the oracle uses would;
    * lang is low-cardinality by construction, the same funnel q91
    * eliminated). Bigram counting itself is a map-side-combining
    * aggregate of per-row array work — the token stream shuffles only
    * as (lang, bigram, partial count) rows. */
  def q114LangTopBigrams(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(col("lang"), filter(tokens(col("text")), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("lang"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("bg"))
      .groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("c"))
    graft.plans.TopKPerKey.perKey(counts, keys = Seq("lang"),
      order = Seq("c" -> true, "bg" -> false), k = 5)
  }

  val q114Sql: String =
    s"""WITH t AS (
      |  SELECT lang,
      |    ${wordsSql("text")} AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT lang, UNNEST(${shinglesSql("toks", 2)}) AS bg FROM t),
      |c AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2)
      |SELECT lang, bg, c FROM (
      |  SELECT lang, bg, c,
      |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, bg) AS rn
      |  FROM c)
      |WHERE rn <= 5""".stripMargin

  /** Duplicate n-gram fraction: per document, the share of its DISTINCT
    * word 3-grams that also occur in at least one OTHER document — the
    * RefinedWeb/Dolma-style cross-document repetition signal (q68 is the
    * WITHIN-document counterpart). High values flag boilerplate and
    * template families that per-doc quality scores miss.
    *
    * Scale shape: grams travel as fused 64-bit hashes (gram3_hash64 — no
    * gram strings allocated or shuffled; counts are hash-agnostic under
    * injectivity, the q70 contract). The df aggregate partial-combines
    * map-side and keys by gram hash; only df ≥ 2 grams survive into the
    * numerator join (the overwhelmingly-unique tail never re-shuffles),
    * and the join key's skew is AQE-splittable. The denominator is
    * per-row array work — no second gram-stream pass. One exact double
    * division per doc. */
  def q119DupGramFrac(s: SparkSession, dir: String): DataFrame = {
    // widened (r12): the tokenize+gram passes below ran single-core off
    // the one-row-group scan (measured ×0.72 with the spread)
    val docs = Tables.widen(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val grams = docs.select(col("doc_id"), explode(array_distinct(
      graft.functions.HashExprs.gram3_hash64(col("toks")))).as("g"))
    val shared = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    val num = grams.join(shared, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    docs
      .select(col("doc_id"), size(array_distinct(
        graft.functions.HashExprs.gram3_hash64(col("toks"))))
        .cast("long").as("n_grams"))
      .join(num, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dup_gram_frac",
        col("n_shared").cast("double") / col("n_grams"))
  }

  val q119Sql: String =
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS g FROM t),
       |shared AS (SELECT g FROM sh GROUP BY g HAVING count(*) >= 2),
       |num AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM sh JOIN shared USING (g) GROUP BY doc_id),
       |den AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
       |  FROM sh GROUP BY doc_id)
       |SELECT den.doc_id, den.n_grams,
       |  coalesce(num.n_shared, 0) AS n_shared,
       |  CAST(coalesce(num.n_shared, 0) AS DOUBLE) / den.n_grams
       |    AS dup_gram_frac
       |FROM den LEFT JOIN num ON num.doc_id = den.doc_id""".stripMargin

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995,
    * the standard n-gram smoothing) — the LM primitive under
    * perplexity-style corpus filters when no neural LM is in the loop.
    * With discount d = 3/4 and c_ab ≥ 1 the textbook form
    *
    *   P(w2|w1) = (c_ab − d)/cl_a + (d·n1r_a/cl_a)·(n1l_b/nbb)
    *
    * reduces to the exact integer rational
    *
    *   ((4·c_ab − 3)·nbb + 3·n1r_a·n1l_b) / (4·cl_a·nbb)
    *
    * — ONE division per bigram (the usual Σ log p form would sum
    * doubles in engine-dependent order; this is a fixed per-row tree).
    * cl_a = Σ_x c(w1,x) is the left-context mass, n1r_a = N1+(w1•) the
    * right-continuation count, n1l_b = N1+(•w2) the left-continuation
    * count, nbb = N1+(••) the distinct-bigram-type count. The rational
    * evaluates in DOUBLE with every leaf cast first (r6): its numerator
    * magnitude is c_ab·nbb ≈ max-count × bigram types, which wraps
    * int64 at ~1e9 × 1e9 — inside the 100 TB regime — and both engines
    * applying the identical double tree keeps the hash contract
    * without integer exactness.
    *
    * Scale shape: every aggregate is vocabulary-bounded with map-side
    * partial combine — the raw token stream shuffles ONCE as
    * (w1, w2, partial count) rows and never again. cl/n1r come from the
    * bigram-TYPE table in one grouped pass (not a second corpus scan);
    * the w1/w2 joins key on single words, so hot function words skew the
    * join — the AQE-splittable shape, not a posting-list buffer. Final
    * cut is `TakeOrderedAndProject` (per-partition partial top-k, no
    * global single-task sort). */
  def q122KneserNey(s: SparkSession, dir: String): DataFrame = {
    val docs = sharedToks(s, dir)
      .select(col("toks"))
      .filter(size(col("toks")) >= 2)
    val cab = docs
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val cl = cab.groupBy(col("w1"))
      .agg(sum(col("c_ab")).cast("long").as("cl_a"),
        count(lit(1)).as("n1r_a"))
    val n1l = cab.groupBy(col("w2")).agg(count(lit(1)).as("n1l_b"))
    val nbb = cab.agg(count(lit(1)).as("nbb"))
    cab.filter(col("c_ab") >= 5)
      .join(cl, Seq("w1"))
      .join(n1l, Seq("w2"))
      .crossJoin(broadcast(nbb))
      .withColumn("p_kn",
        ((lit(4.0) * col("c_ab").cast("double") - lit(3.0))
          * col("nbb").cast("double") +
          lit(3.0) * col("n1r_a").cast("double")
            * col("n1l_b").cast("double")) /
          (lit(4.0) * col("cl_a").cast("double")
            * col("nbb").cast("double")))
      .orderBy(col("p_kn").desc, col("w1").asc, col("w2").asc)
      .limit(50)
      .select(col("w1"), col("w2"), col("c_ab"), col("cl_a"),
        col("n1r_a"), col("n1l_b"), col("p_kn"))
  }

  val q122Sql: String =
    s"""WITH t AS (
      |  SELECT ${wordsSql("text")} AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT g[1] AS w1, g[2] AS w2
      |  FROM (SELECT UNNEST(${windowsSql("toks", 2)}) AS g FROM t)),
      |cab AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM bg GROUP BY 1, 2),
      |cl AS (
      |  SELECT w1, CAST(sum(c_ab) AS BIGINT) AS cl_a,
      |    CAST(count(*) AS BIGINT) AS n1r_a
      |  FROM cab GROUP BY 1),
      |n1l AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1l_b FROM cab GROUP BY 1),
      |nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM cab)
      |SELECT c.w1, c.w2, c.c_ab, cl.cl_a, cl.n1r_a, n1l.n1l_b,
      |  ((4 * CAST(c.c_ab AS DOUBLE) - 3) * CAST(nbb.nbb AS DOUBLE)
      |   + 3 * CAST(cl.n1r_a AS DOUBLE) * CAST(n1l.n1l_b AS DOUBLE))
      |    / (4 * CAST(cl.cl_a AS DOUBLE) * CAST(nbb.nbb AS DOUBLE)) AS p_kn
      |FROM cab c JOIN cl USING (w1) JOIN n1l USING (w2) CROSS JOIN nbb
      |WHERE c.c_ab >= 5
      |ORDER BY p_kn DESC, c.w1, c.w2
      |LIMIT 50""".stripMargin

  /** Per-document bigram fluency — the LM-based quality filter (the
    * CCNet / Wenzek et al. 2020 shape: score every document under a
    * corpus-level language model and gate the low-likelihood tail) with
    * q122's bigram table as the model. Per document it reports how much
    * of its bigram stream the corpus LM recognises: `mass` = Σ corpus
    * frequency of each bigram token, `common_frac` = fraction of bigram
    * tokens whose TYPE count clears the q122 support cut (c_ab ≥ 5), and
    * `mean_freq` = mass / n_bigrams. Low common_frac ⇒ the document is
    * built from word transitions the corpus has essentially never seen —
    * the perplexity-filter signal without a single transcendental: every
    * output is an exact int64 or ONE double division of int64s
    * (a Σ log p form would sum doubles in engine-dependent order; the
    * frequency-mass form is bit-identical cross-engine by construction).
    *
    * Scale shape: the bigram-TYPE table aggregates with map-side combine,
    * so ITS shuffle carries only per-task partial type counts
    * (vocabulary²-bounded per task, cheap); the full (doc_id, w1, w2)
    * stream shuffles exactly once, for the scoring join. (The two
    * exchanges can't be runtime-shared à la q123 — the aggregate's has a
    * partial-aggregate below it — so the corpus tokenizes twice; the
    * second pass is the price of keeping the type table an aggregate
    * rather than a per-partition posting structure.) Hot
    * function-word bigrams skew the join key — the AQE-splittable shape,
    * never an aggregation buffer. The per-doc rollup keys on doc_id
    * (unbounded cardinality — the anti-funnel). Every doc bigram appears
    * in the type table by construction, so the final join is inner. */
  def q129BigramFluency(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // widened (r12): single tokenize+bigram pass off the scan (×0.70)
    val bg = Tables.widen(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"),
        filter(tokens(col("text")), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cab = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    bg.join(cab, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c_ab").cast(d38)).cast("long").as("mass"),
        sum(when(col("c_ab") >= 5, 1L).otherwise(0L)).cast("long")
          .as("n_common"))
      .withColumn("mean_freq",
        col("mass").cast("double") / col("n_bigrams"))
      .withColumn("common_frac",
        col("n_common").cast("double") / col("n_bigrams"))
  }

  val q129Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${wordsSql("text")} AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, g[1] AS w1, g[2] AS w2
      |  FROM (SELECT doc_id, UNNEST(${windowsSql("toks", 2)}) AS g FROM t)),
      |cab AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM bg GROUP BY 1, 2)
      |SELECT bg.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(c.c_ab) AS BIGINT) AS mass,
      |  CAST(sum(CASE WHEN c.c_ab >= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_common,
      |  CAST(sum(c.c_ab) AS DOUBLE) / count(*) AS mean_freq,
      |  CAST(sum(CASE WHEN c.c_ab >= 5 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS common_frac
      |FROM bg JOIN cab c ON bg.w1 = c.w1 AND bg.w2 = c.w2
      |GROUP BY bg.doc_id""".stripMargin

  /** Deduplicated (source, gram-hash) stream — shared by q123 (novelty)
    * and q128 (overlap matrix). Grams travel as fused 64-bit hashes; the
    * dedup is a partial-combining aggregate, never a posting list. */
  def sourceGrams(s: SparkSession, dir: String): DataFrame =
    // widened (r12): single CPU-dense tokenize+gram pass off the scan —
    // measured ×0.76–0.79 on q123/q128 at bench scale, no-op on a wide
    // cluster scan (Tables.widen is conditional)
    Tables.widen(Tables.documents(s, dir), col("doc_id"))
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(array_distinct(
        graft.functions.HashExprs.gram3_hash64(col("toks")))).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("_n"))
      .select(col("source"), col("g"))

  /** Per-source content novelty: the fraction of each source's DISTINCT
    * word 3-grams that appear in NO other source — the source-value
    * signal behind "is this crawl slice adding anything the corpus
    * doesn't already have", the first question of acquisition triage.
    * Low exclusivity = the source is re-serving content already covered
    * elsewhere (mirrors, syndication); the complement of q119's
    * cross-DOCUMENT repetition, aggregated at provenance granularity.
    *
    * Scale shape: grams travel as fused 64-bit hashes (gram3_hash64 — no
    * gram strings shuffled; counts are hash-agnostic under injectivity,
    * the q70/q119 contract). The (source, g) dedup and the per-gram
    * source-count aggregate both partial-combine map-side, and the
    * per-gram buffer is bounded by #sources BY CONSTRUCTION (a count,
    * never a posting list — the q70 lesson). The exclusive-gram
    * attribution rides `min(source)` inside the same grouped pass (when
    * n_src = 1, min IS the owning source), so no join back onto the
    * gram stream; the only rows that re-shuffle are the df=1 winners.
    * Two passes over the deduped gram stream (totals, exclusives) —
    * each a narrow count shuffle, never the raw token stream. */
  def q123SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val grams = sourceGrams(s, dir)
    val perGram = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n_src"), min(col("source")).as("only_src"))
    val excl = perGram.filter(col("n_src") === 1L)
      .groupBy(col("only_src").as("source"))
      .agg(count(lit(1)).as("n_exclusive"))
    grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      .join(excl, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_exclusive"), lit(0L)).as("n_exclusive"))
      .withColumn("exclusive_frac",
        col("n_exclusive").cast("double") / col("n_grams"))
  }

  val q123Sql: String =
    s"""WITH t AS (SELECT source, ${tokensSql("text")} AS toks
       |  FROM documents),
       |sg AS (
       |  SELECT DISTINCT source, UNNEST(${shinglesSql("toks", 3)}) AS g FROM t),
       |pg AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS n_src, min(source) AS only_src
       |  FROM sg GROUP BY g),
       |ex AS (
       |  SELECT only_src AS source, CAST(count(*) AS BIGINT) AS n_exclusive
       |  FROM pg WHERE n_src = 1 GROUP BY 1),
       |tot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams
       |  FROM sg GROUP BY 1)
       |SELECT tot.source, tot.n_grams,
       |  coalesce(ex.n_exclusive, 0) AS n_exclusive,
       |  CAST(coalesce(ex.n_exclusive, 0) AS DOUBLE) / tot.n_grams
       |    AS exclusive_frac
       |FROM tot LEFT JOIN ex ON ex.source = tot.source""".stripMargin

  /** Ingest novelty decay: split the corpus into ingest shards and
    * report, per shard, how many of its distinct word 3-grams are NOVEL —
    * first claimed by that shard — versus already covered by earlier
    * shards, plus the cumulative distinct-gram curve. This is the
    * diminishing-returns curve of data acquisition ("how much does the
    * next crawl batch actually add?"), the over-TIME complement of q123's
    * per-source exclusivity. Shards here are the deterministic
    * `doc_id mod 10` (in production: the crawl/ingest date).
    *
    * Scale shape: grams ride fused 64-bit hashes; the (shard, g) dedup
    * and the per-gram `min(shard)` attribution are both partial-combining
    * aggregates whose per-gram state is ONE long (never a posting list —
    * the q70/q123 discipline). Catalyst makes the attribution branch
    * cheaper than written: `min` is duplicate-insensitive, so
    * `RemoveRedundantAggregates` elides the (shard, g) dedup under it —
    * that branch is ONE direct shuffle of partial mins keyed by g (which
    * is also why the two branches share no exchange: their subtrees
    * legitimately differ, unlike q123's count-based pair). The curve
    * itself is #shards rows, so the cumulative window runs on a bounded
    * single partition — the one place a global window is fine. */
  def q133NoveltyDecay(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(pmod(col("doc_id"), lit(10L)).as("shard"),
        tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("shard"), explode(array_distinct(
        graft.functions.HashExprs.gram3_hash64(col("toks")))).as("g"))
      .groupBy(col("shard"), col("g")).agg(count(lit(1)).as("_n"))
      .select(col("shard"), col("g"))
    val novel = grams.groupBy(col("g"))
      .agg(min(col("shard")).as("shard"))
      .groupBy(col("shard")).agg(count(lit(1)).as("n_novel"))
    val present = grams.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_gram_types"))
    import org.apache.spark.sql.expressions.Window
    present.join(novel, Seq("shard"), "left")
      .select(col("shard"), col("n_gram_types"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novel_frac",
        col("n_novel").cast("double") / col("n_gram_types"))
      .withColumn("cum_types",
        sum(col("n_novel")).over(
          Window.orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
  }

  val q133Sql: String =
    s"""WITH t AS (SELECT doc_id % 10 AS shard, ${tokensSql("text")} AS toks
       |  FROM documents),
       |sg AS (
       |  SELECT DISTINCT shard, UNNEST(${shinglesSql("toks", 3)}) AS g FROM t),
       |nv AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_novel FROM (
       |    SELECT g, min(shard) AS shard FROM sg GROUP BY g)
       |  GROUP BY shard),
       |pr AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_gram_types
       |  FROM sg GROUP BY shard)
       |SELECT pr.shard, pr.n_gram_types,
       |  coalesce(nv.n_novel, 0) AS n_novel,
       |  CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / pr.n_gram_types
       |    AS novel_frac,
       |  CAST(sum(coalesce(nv.n_novel, 0)) OVER (ORDER BY pr.shard
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_types
       |FROM pr LEFT JOIN nv ON nv.shard = pr.shard""".stripMargin

  /** Corpus-level repeated-span coverage — the exact-substring dedup
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better") at fixed span length: for every document,
    * the fraction of its 10-token windows whose exact span occurs at
    * least twice in the WHOLE corpus (within- or cross-document — a doc
    * repeating itself counts, matching the suffix-array formulation's
    * "any second occurrence"). High coverage marks boilerplate,
    * templated, or near-duplicated text that survives document-level
    * dedup; the 10-token span is long enough that chance collisions of
    * natural text are negligible. Complements q119 (3-gram, cross-doc
    * distinct) and q51 (winnowed fingerprints) as the long-span member
    * of the repetition family.
    *
    * Scale shape: spans ride [[graft.functions.HashExprs.GramKHash64]]
    * (k = 10) — one chained-XXH64 long per window start, no span string
    * allocated; counts are hash-agnostic under 64-bit injectivity, so
    * the string-span oracle matches. The span-count aggregate
    * partial-combines map-side (per-key state is ONE long); the scoring
    * join keys on the span hash — a viral span is AQE-splittable join
    * skew, never a buffer — and the per-doc rollup keys on doc_id. Same
    * two-pass-over-the-token-stream shape as q129, at span rather than
    * bigram granularity. */
  def q137RepeatedSpans(s: SparkSession, dir: String): DataFrame = {
    // widened (r12): single window-hash pass off the scan (×0.75)
    val wins = Tables.widen(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), graft.functions.HashExprs.gramk_hash64(
        filter(tokens(col("text")), t => t =!= ""), 10).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val counts = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
    wins.join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_repeated"))
      .withColumn("rep_frac",
        col("n_repeated").cast("double") / col("n_windows"))
  }

  val q137Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${wordsSql("text")} AS toks
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, UNNEST(${shinglesSql("toks", 10)}) AS g FROM t),
      |c AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY g)
      |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repeated,
      |  CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS rep_frac
      |FROM w JOIN c USING (g)
      |GROUP BY w.doc_id""".stripMargin

  /** Duplicate-span REMOVAL PLAN — the actionable companion to
    * [[q137RepeatedSpans]]: where q137 scores each document's repeated
    * coverage, this emits the actual token intervals to cut, as MERGED
    * spans (Lee et al. 2021's exact-substring dedup, materialized as a
    * cut list). Every 10-token window occurring ≥ 2 times in the corpus
    * (within- or cross-document, q137's "any second occurrence"
    * contract) marks tokens [pos, pos+10); overlapping and adjacent
    * marks coalesce into one `[span_start, span_end)` interval per run,
    * so a downstream rewriter deletes each region exactly once.
    *
    * Scale shape: same gram machinery as q137 — fused hash windows (no
    * span strings), a span-count aggregate with map-side combine (ONE
    * long of state per key), and a hash-keyed scoring join where a
    * viral boilerplate span is AQE-splittable join skew, never a
    * buffer. The interval merge is a gaps-and-islands pass over
    * doc_id-keyed windows: unbounded key cardinality (the anti-funnel),
    * per-doc frames bounded by the doc's own window count. Window order
    * is `pos` — unique within a doc, so island numbering is
    * deterministic.
    *
    * COLLISION CONTRACT — hash equality stands in for exact k-gram
    * string equality, and because this query's output is an ACTIONABLE
    * deletion list (unlike q137's coverage score, where a colliding
    * window is noise in a ratio), the key is the 128-bit
    * [[graft.functions.HashExprs.GramKHash128]] pair, not the 64-bit
    * single hash q137 rides: with n distinct windows the expected
    * number of colliding pairs is ~n²/2¹²⁹ — at 10¹² corpus windows
    * that is ~1.5e-15, i.e. zero false cut spans for any physical
    * corpus, vs ~2.7e7 colliding pairs at 64 bits (birthday past ~2³²
    * windows). If a collision DID occur, the failure mode is benign by
    * construction: both windows are counted as one key (c ≥ 2), so
    * each marks a spurious-but-well-formed `[pos, pos+k)` interval that
    * merges like any other — over-deletion of ≤ k tokens per colliding
    * window, never a malformed span (spec'd in GraphTextSpec by
    * injecting a synthetic collision through [[dupSpansFromWins]]).
    * ORACLE-PARITY PRECONDITION: the DuckDB oracle groups the exact
    * gram STRING, so hash-parity holds exactly when the corpus is
    * collision-free — guaranteed at test scale, expected ~always at
    * any scale under the 128-bit bound above. */
  def q234DupSpans(s: SparkSession, dir: String): DataFrame =
    // widened (r12): the gramk_hash128 window pass is the query's whole
    // CPU body and ran single-core off the scan (measured ×0.59). The
    // widen stays at THIS caller — dupSpansCore also serves streaming
    // frames, where plan inspection/repartition don't apply.
    dupSpansCore(Tables.widen(Tables.documents(s, dir), col("doc_id")),
      k = 10)

  /** See [[q234DupSpans]]: merged cut intervals over any
    * `(doc_id, text)` frame, span length `k`. */
  def dupSpansCore(docs: DataFrame, k: Int): DataFrame = {
    val wins = docs
      .select(col("doc_id"), graft.functions.HashExprs.gramk_hash128(
        filter(tokens(col("text")), t => t =!= ""), k).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
      .withColumn("pos", col("pos").cast("long"))
    dupSpansFromWins(wins, k)
  }

  /** The span-merge tail of [[dupSpansCore]] over a prebuilt
    * `(doc_id, pos, h)` window frame — `h` of any groupable type. Split
    * out so the collision contract is testable: a spec can inject two
    * distinct grams sharing `h` and assert the merged-span (not
    * corrupted-output) behavior. */
  private[graft] def dupSpansFromWins(wins: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val hits = wins.join(counts.filter(col("c") >= 2), Seq("h"))
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + k)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("brk",
        when(col("pos") > coalesce(prevMaxEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  val q234Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${wordsSql("text")} AS toks
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, UNNEST(gs) AS g,
      |    CAST(generate_subscripts(gs, 1) - 1 AS BIGINT) AS pos
      |  FROM (SELECT doc_id, ${shinglesSql("toks", 10)} AS gs FROM t)),
      |c AS (SELECT g FROM (SELECT g, count(*) AS c FROM w GROUP BY g)
      |      WHERE c >= 2),
      |h AS (SELECT doc_id, pos FROM w JOIN c USING (g)),
      |b AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 10) OVER (
      |        PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS brk
      |  FROM h),
      |i2 AS (
      |  SELECT doc_id, pos,
      |    CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
      |      AS island
      |  FROM b)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(max(pos) + 10 AS BIGINT) AS span_end,
      |  CAST(count(*) AS BIGINT) AS n_windows
      |FROM i2 GROUP BY doc_id, island""".stripMargin

  /** Exact phrase search: for each phrase in a (small, user-supplied)
    * list, every document containing it token-for-token, with the
    * occurrence count (overlapping occurrences each count — the windows
    * slide by one token). Matching is on the NORMALIZED token sequence
    * (same trim/lower/collapse as every text operator), so "Sort  Merge
    * JOIN" finds "sort merge join" — the semantics a `LIKE '%…%'` scan
    * cannot give without re-normalizing the whole corpus per query.
    *
    * Scale shape: the corpus side is ONE scan — per document the fused
    * [[graft.functions.HashExprs.GramKHash64]] windows for every
    * DISTINCT phrase length are emitted from a single projection (no
    * phrase-count-many passes), and the phrase side is a
    * #phrases-row broadcast, so the join is a map-side probe: corpus
    * rows never shuffle at all and the only exchange is the final
    * (phrase, doc_id) hit-count aggregate, whose cardinality is
    * matches, not windows. Phrase hashes are computed BY THE SAME
    * EXPRESSION on the normalized phrase text (a phrase of k tokens has
    * exactly one k-window), so corpus/query agreement is by
    * construction, not by reimplementation. 64-bit span-hash equality
    * stands in for string equality — the q137 injectivity contract. */
  def phraseSearch(docs: DataFrame, rawPhrases: Seq[String]): DataFrame = {
    import graft.functions.HashExprs.gramk_hash64
    val phrases = rawPhrases.distinct // a duplicate would double-count hits
    // Driver-side token COUNTS only (the hash never leaves the
    // expression): same whitespace split as normText.
    val lens: Seq[Int] = phrases
      .map(_.trim.toLowerCase.split("\\s+").count(_.nonEmpty))
      .filter(_ >= 1).distinct.sorted
    require(lens.nonEmpty, "phraseSearch needs at least one non-empty phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val pdf = phrases.toDF("phrase")
      .withColumn("ptoks", filter(tokens(col("phrase")), t => t =!= ""))
    val phraseKeys = lens.map { l =>
      pdf.filter(size(col("ptoks")) === l)
        .select(col("phrase"), lit(l.toLong).as("len"),
          element_at(gramk_hash64(col("ptoks"), l), 1).as("h"))
    }.reduce(_.union(_))
    val winCol = flatten(array(lens.map { l =>
      transform(gramk_hash64(col("toks"), l),
        h => struct(lit(l.toLong).as("len"), h.as("h")))
    }: _*))
    docs
      .select(col("doc_id"),
        filter(tokens(col("text")), t => t =!= "").as("toks"))
      .select(col("doc_id"), explode(winCol).as("w"))
      .select(col("doc_id"), col("w.len").as("len"), col("w.h").as("h"))
      .join(broadcast(phraseKeys), Seq("len", "h"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Declared phrase-search query: five fixed 3-token phrases over the
    * corpus (chosen to have hits at every test scale). */
  def q138PhraseSearch(s: SparkSession, dir: String): DataFrame =
    phraseSearch(Tables.documents(s, dir), Seq(
      "table scan merge", "big order scan", "stream spark window",
      "sort merge join", "hash join order"))

  val q138Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${wordsSql("text")} AS toks
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, UNNEST(${shinglesSql("toks", 3)}) AS g FROM t),
      |p(phrase) AS (VALUES ('table scan merge'), ('big order scan'),
      |  ('stream spark window'), ('sort merge join'), ('hash join order'))
      |SELECT p.phrase, w.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      |FROM w JOIN p ON w.g = p.phrase
      |GROUP BY p.phrase, w.doc_id""".stripMargin

  /** Pairwise source-overlap matrix: for every source pair, how many
    * distinct word 3-grams they share and what fraction of EACH side's
    * gram set that is — the mirror/syndication detector at provenance
    * granularity (q123 says "source X adds little new"; this says WHERE
    * its content already lives: a high asymmetric fraction means X is
    * largely contained in Y). Containment is directional, so both
    * fractions are emitted.
    *
    * Scale shape: rides [[sourceGrams]] (hashed, deduped,
    * partial-combined). The pair stage is a self-EQUI-join on the gram
    * hash — per-gram fan-out is `n_src choose 2`, bounded by source
    * CARDINALITY squared (sources are a curated registry, tens to
    * hundreds — never corpus-scale), and the hot-gram join key is
    * AQE-skew-splittable. The pair aggregate emits ≤ #sources² rows;
    * totals join back as a broadcast. No posting lists, no cartesian. */
  def q128SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // checkpointed (r12, lint class #10): the deduped gram stream feeds
    // the self-join (shuffle, exchange-reusable) AND the broadcast
    // per-source totals — the broadcast leg re-planned the whole
    // tokenize+dedup lineage (different exchange type, no stage reuse).
    // |source × distinct grams| rows of two narrow columns.
    val grams = sourceGrams(s, dir).localCheckpoint(true)
    val tot = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    grams.select(col("g"), col("source").as("source_a"))
      .join(grams.select(col("g"), col("source").as("source_b")), Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(tot.select(col("source").as("source_a"),
        col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(tot.select(col("source").as("source_b"),
        col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") / col("n_a")).as("frac_a"),
        (col("n_shared").cast("double") / col("n_b")).as("frac_b"))
  }

  val q128Sql: String =
    s"""WITH t AS (SELECT source, ${tokensSql("text")} AS toks
       |  FROM documents),
       |sg AS (
       |  SELECT DISTINCT source, UNNEST(${shinglesSql("toks", 3)}) AS g FROM t),
       |tot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY 1)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_shared, ta.n AS n_a, tb.n AS n_b,
       |  CAST(count(*) AS DOUBLE) / ta.n AS frac_a,
       |  CAST(count(*) AS DOUBLE) / tb.n AS frac_b
       |FROM sg a
       |JOIN sg b ON a.g = b.g AND a.source < b.source
       |JOIN tot ta ON ta.source = a.source
       |JOIN tot tb ON tb.source = b.source
       |GROUP BY 1, 2, ta.n, tb.n""".stripMargin

  /** Content fingerprint: md5 of the normalized text, plus a 60-bit
    * integer form — the primitive under exact dedup. */
  def q33Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(normText(col("text"))).as("fp"),
        hash60(normText(col("text"))).as("fp60"))

  val q33Sql: String =
    s"""SELECT doc_id, md5(norm) AS fp,
      |  ${hash60Sql("norm")} AS fp60
      |FROM (SELECT doc_id, ${normSql("text")} AS norm
      |      FROM documents)""".stripMargin

  /** BPE-ish regex token counting: word / number / punctuation pieces via
    * `regexp_extract_all` (pattern restricted to ASCII classes so the
    * Java and RE2 dialects agree). */
  def q50BpeTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"),
        regexp_extract_all(col("norm"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_bpe"))

  val q50Sql: String =
    s"""SELECT doc_id,
      |  len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
      |  len(list_distinct(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS n_distinct_bpe
      |FROM (SELECT doc_id, ${normSql("text")} AS norm
      |      FROM documents)""".stripMargin

  /** Winnowing-style rolling-hash fingerprints: char 8-gram hashes, min
    * over each 16-wide sliding window, distinct mins per doc; documents
    * sharing >= 5 fingerprints are near-dup candidates. Robust to
    * word-boundary shifts, unlike word-shingle Jaccard. */
  def q51WinnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    // Fully per-row until the (tiny) fingerprint stage: the fused
    // WinnowFingerprints expression (graft.functions.HashExprs) computes
    // gram hashes + O(n) monotonic-deque sliding minima + per-doc DISTINCT
    // in one pass inside the row, so nothing is exploded or shuffled until
    // the deduplicated fingerprints. Replaces the previous explode → full
    // shuffle+sort → window-min pipeline — at 100 TB that removes a
    // sort-shuffle of the whole gram stream (O(total chars) rows).
    val fp = Tables.widen(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"),
        explode(graft.functions.HashExprs.winnow_fingerprints(
          col("norm"), gram = 8, window = 16)).as("mh"))
    // MOSS-style: fingerprints present in too many documents carry no
    // signal and quadratically explode the pair stage — cap document
    // frequency at 20 (mirrored in the oracle). The cap is enforced
    // INSIDE the aggregation buffer (BoundedDocList truncates at cap+1,
    // overflow groups finish empty): a boilerplate fingerprint shared by
    // a constant fraction of the corpus costs O(cap) memory, where
    // collect_list + post-filter would first materialize the whole
    // O(corpus) posting list in one buffer
    import s.implicits._
    val grouped = fp
      .select(col("mh").as[Long], col("doc_id").as[Long])
      .groupByKey(_._1)
      .agg(new TypedOps.BoundedDocList(cap = 20, minSize = 2)
        .toColumn.name("docs"))
      .toDF("mh", "docs")
      .filter(size(col("docs")) > 0)
    grouped.select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
  }

  val q51Sql: String =
    s"""WITH nd AS (
      |  SELECT doc_id, ${normSql("text")} AS norm
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, generate_subscripts(gs, 1) AS i,
      |    ${hash60Sql("UNNEST(gs)")} AS h
      |  FROM (SELECT doc_id, ${shinglesSql("cs", 8, "")} AS gs
      |        FROM (SELECT doc_id, string_split(norm, '') AS cs FROM nd))),
      |wins AS (
      |  SELECT doc_id,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                 ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mh
      |  FROM grams),
      |fp AS (SELECT DISTINCT doc_id, mh FROM wins),
      |rare AS (SELECT mh FROM fp GROUP BY mh HAVING count(*) BETWEEN 2 AND 20)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |FROM fp a JOIN fp b ON a.mh = b.mh AND a.doc_id < b.doc_id
      |JOIN rare r ON r.mh = a.mh
      |GROUP BY 1, 2
      |HAVING count(*) >= 5""".stripMargin

  /** Per-document character-diversity moments — the low-entropy/spam
    * gate: collision probability Σc²/n² (Simpson index over the char
    * distribution; a monotone transform of Rényi-2 entropy, so it ranks
    * documents exactly like an entropy filter with NO transcendental —
    * every column is an exact int64 or a division of exact int64s, the
    * cross-engine determinism contract) and top-char fraction max(c)/n.
    * High coll_prob / top_frac = the same few characters over and over:
    * padding, ASCII art, base64 walls, key-mashing.
    *
    * Scale shape: the moments come from the one-pass [[TextExprs.CharStats]]
    * codegen expression, so the whole query is scan → project → done:
    * ZERO exchanges (plan-locked). The relational formulation the oracle
    * uses — explode one row per CHARACTER, shuffle that stream on
    * (doc_id, ch), aggregate twice — moves O(total chars) rows through
    * the cluster fabric to compute a row-local quantity; at 100 TB that
    * is the difference between a map-only pass and a corpus-sized
    * shuffle. The division pair n·n is formed in DOUBLE on both engines
    * (n² overflows int64 at ~3 G chars/doc; the double product is
    * correctly rounded and engine-identical). */
  def q143CharDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExprs.char_stats(col("text")).as("cs"))
      .select(col("doc_id"),
        element_at(col("cs"), 1).as("n_chars"),
        element_at(col("cs"), 2).as("distinct_chars"),
        element_at(col("cs"), 3).as("sum_sq"),
        element_at(col("cs"), 4).as("top_count"))
      .withColumn("coll_prob", col("sum_sq").cast("double") /
        (col("n_chars").cast("double") * col("n_chars").cast("double")))
      .withColumn("top_frac",
        col("top_count").cast("double") / col("n_chars").cast("double"))

  val q143Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, UNNEST(string_split(text, '')) AS ch
      |  FROM documents WHERE length(text) > 0),
      |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_chars,
      |  CAST(count(*) AS BIGINT) AS distinct_chars,
      |  CAST(sum(c * c) AS BIGINT) AS sum_sq,
      |  CAST(max(c) AS BIGINT) AS top_count,
      |  CAST(sum(c * c) AS DOUBLE)
      |    / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS coll_prob,
      |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac
      |FROM c GROUP BY doc_id""".stripMargin

  /** One iteration of BPE tokenizer TRAINING (Sennrich et al. 2016):
    * adjacent-symbol-pair counts over the word-frequency table, at merge
    * step 0 where every word is its characters plus an end-of-word
    * marker. The top pair is the next merge rule; a training driver
    * applies it and re-runs — at corpus scale each iteration is exactly
    * this query, which is why tokenizer training belongs in the engine
    * (the 100 TB corpus never leaves the cluster; only the ≤50-row merge
    * table comes back). `pair_count` is the Σ word-freq BPE objective;
    * `n_occurrences` counts occurrences across word TYPES (a pair can
    * repeat inside one word: "aaa" → (a,a) twice).
    *
    * Scale shape: the word-frequency aggregate is vocabulary-bounded
    * with map-side combine (the token stream's only shuffle); pairs are
    * generated per-ROW from the word string (explode of a transform —
    * no position self-join) and re-aggregate onto the symbol-pair
    * vocabulary (tiny); the final cut is `TakeOrderedAndProject`
    * (partial per-partition top-k, plan-locked — not a global sort). */
  def q147BpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(filter(tokens(col("text")), t => t =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // symbols at merge step 0: characters plus the end-of-word marker
    val syms = concat(split(col("w"), ""), array(lit("</w>")))
    words
      .select(col("freq"), syms.as("cs"))
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("cs")) - 1),
        i => struct(element_at(col("cs"), i).as("a"),
          element_at(col("cs"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("left_sym"), col("p.b").as("right_sym"))
      .agg(sum(col("freq")).cast("long").as("pair_count"),
        count(lit(1)).as("n_occurrences"))
      .orderBy(col("pair_count").desc, col("left_sym").asc,
        col("right_sym").asc)
      .limit(50)
  }

  val q147Sql: String =
    s"""WITH w AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT UNNEST(${wordsSql("text")}) AS w FROM documents)
       |  GROUP BY 1),
       |p AS (
       |  SELECT freq, g[1] AS a, g[2] AS b FROM (
       |    SELECT freq, UNNEST(${windowsSql("cs", 2)}) AS g
       |    FROM (SELECT freq, list_append(string_split(w, ''), '</w>') AS cs
       |          FROM w)))
       |SELECT a AS left_sym, b AS right_sym,
       |  CAST(sum(freq) AS BIGINT) AS pair_count,
       |  CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM p GROUP BY 1, 2
       |ORDER BY pair_count DESC, left_sym, right_sym
       |LIMIT 50""".stripMargin

  /** Skip-gram co-occurrence table with window 2 — the word2vec/GloVe
    * statistic: ordered (word, context) pairs where the context follows
    * within 2 positions, scored by the PMI odds ratio
    * `c_wc·N / (c_w·c_ctx)` (log-free per the q103 convention — same
    * ranking as PMI; a fixed double tree with leaves cast before the
    * corpus² multiplies, identical cross-engine). q103's adjacent-bigram
    * PMI is the phrase/collocation signal; the windowed table is the
    * distributional-semantics signal (what trains embeddings), and its
    * marginals are the CO-OCCURRENCE marginals (row/column sums of the
    * unfiltered table), not unigram counts — so lift is a calibrated
    * odds ratio over the pair distribution.
    *
    * Scale shape: pairs are generated per-ROW by a nested index
    * `transform` (2n−3 pairs per doc — never a corpus self-join on
    * position); they aggregate straight onto the vocabulary²-bounded
    * co-occurrence table with map-side combine. N comes from closed
    * form Σ(2n−3) (one narrow aggregate — no second pass over the pair
    * stream), marginals from the cooc table itself (tiny re-aggregates;
    * the repeated subtree shares its shuffle via exchange reuse). Final
    * cut = `TakeOrderedAndProject`. Hot function words skew the pair
    * JOIN keys — AQE-splittable, never an aggregation buffer. */
  def q148SkipGram(s: SparkSession, dir: String): DataFrame = {
    val docs = sharedToks(s, dir)
      .select(col("toks"))
      .filter(size(col("toks")) >= 2)
    val pairs = docs
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => transform(
          sequence(i + 1, least(i + lit(2), size(col("toks")))),
          j => struct(element_at(col("toks"), i).as("w"),
            element_at(col("toks"), j).as("ctx")))))).as("p"))
      .select(col("p.w").as("w"), col("p.ctx").as("ctx"))
    val cooc = pairs.groupBy(col("w"), col("ctx"))
      .agg(count(lit(1)).as("c_wc"))
    val nPairs = docs
      .agg(sum(size(col("toks")).cast("long") * 2 - 3).cast("long")
        .as("n_pairs"))
    val cw = cooc.groupBy(col("w")).agg(sum(col("c_wc")).cast("long").as("c_w"))
    val cc = cooc.groupBy(col("ctx"))
      .agg(sum(col("c_wc")).cast("long").as("c_ctx"))
    cooc.filter(col("c_wc") >= 5)
      .join(cw, Seq("w")).join(cc, Seq("ctx"))
      .crossJoin(broadcast(nPairs))
      .select(col("w"), col("ctx"), col("c_wc"), col("c_w"), col("c_ctx"),
        // factors to double BEFORE multiplying: c_wc·n_pairs and
        // c_w·c_ctx are corpus² products — int64 wraps past ~3e9 pairs
        // (q208 overflow contract)
        ((col("c_wc").cast("double") * col("n_pairs").cast("double"))
          / (col("c_w").cast("double") * col("c_ctx").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("w").asc, col("ctx").asc)
      .limit(100)
  }

  val q148Sql: String =
    s"""WITH t AS (
       |  SELECT ${wordsSql("text")} AS toks FROM documents),
       |f AS (SELECT toks FROM t WHERE len(toks) >= 2),
       |p AS (
       |  SELECT g[1] AS w, g[2] AS ctx
       |  FROM (SELECT UNNEST(${windowsSql("toks", 2)}) AS g FROM f)
       |  UNION ALL
       |  SELECT g[1], g[3]
       |  FROM (SELECT UNNEST(${windowsSql("toks", 3)}) AS g FROM f)),
       |n AS (SELECT CAST(sum(2 * len(toks) - 3) AS BIGINT) AS n_pairs FROM f),
       |cooc AS (
       |  SELECT w, ctx, CAST(count(*) AS BIGINT) AS c_wc FROM p GROUP BY 1, 2),
       |cw AS (SELECT w, CAST(sum(c_wc) AS BIGINT) AS c_w FROM cooc GROUP BY 1),
       |cc AS (SELECT ctx, CAST(sum(c_wc) AS BIGINT) AS c_ctx
       |       FROM cooc GROUP BY 1)
       |SELECT co.w, co.ctx, co.c_wc, cw.c_w, cc.c_ctx,
       |  (CAST(co.c_wc AS DOUBLE) * CAST(n.n_pairs AS DOUBLE))
       |    / (CAST(cw.c_w AS DOUBLE) * CAST(cc.c_ctx AS DOUBLE)) AS lift
       |FROM cooc co JOIN cw USING (w) JOIN cc USING (ctx) CROSS JOIN n
       |WHERE co.c_wc >= 5
       |ORDER BY lift DESC, co.w, co.ctx
       |LIMIT 100""".stripMargin

  /** Code-switching / language-mixture detection at TOKEN granularity —
    * the signal q31's document-level vote hides: a half-en half-es doc
    * gets one confident doc label but is low-value for monolingual
    * training. Marker-token OCCURRENCES (not distinct types — a doc
    * that says "the" 40 times is more en-anchored than one that says it
    * once) are counted per language list; `switch_frac` is the marked
    * mass NOT explained by the dominant language. The 0.3 flag is the
    * curation gate; the raw counts ride along for recalibration.
    *
    * Scale shape: pure per-row array work against three tiny literal
    * lists — zero exchanges, same class as q143 (the oracle recounts
    * relationally; the engine never leaves the scan stage). */
  def q149CodeSwitch(s: SparkSession, dir: String): DataFrame = {
    val en = Seq("the", "a", "fast", "slow", "small", "big")
    val es = Seq("data", "table", "row", "query", "line")
    val fr = Seq("join", "merge", "sort", "hash", "group")
    def hits(words: Seq[String]) =
      size(filter(tokens(col("text")),
        t => array_contains(array(words.map(lit): _*), t))).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        hits(en).as("s_en"), hits(es).as("s_es"), hits(fr).as("s_fr"))
      .withColumn("n_marked", col("s_en") + col("s_es") + col("s_fr"))
      .withColumn("switch_frac",
        when(col("n_marked") === 0, lit(0.0)).otherwise(
          (col("n_marked") - greatest(col("s_en"), col("s_es"), col("s_fr")))
            .cast("double") / col("n_marked").cast("double")))
      .withColumn("is_mixed", col("switch_frac") >= 0.3)
  }

  val q149Sql: String =
    s"""WITH t AS (SELECT doc_id, ${wordsSql("text")} AS toks FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(toks, x -> list_contains(
       |      ['the','a','fast','slow','small','big'], x))) AS BIGINT) AS s_en,
       |    CAST(len(list_filter(toks, x -> list_contains(
       |      ['data','table','row','query','line'], x))) AS BIGINT) AS s_es,
       |    CAST(len(list_filter(toks, x -> list_contains(
       |      ['join','merge','sort','hash','group'], x))) AS BIGINT) AS s_fr
       |  FROM t)
       |SELECT doc_id, s_en, s_es, s_fr,
       |  s_en + s_es + s_fr AS n_marked,
       |  CASE WHEN s_en + s_es + s_fr = 0 THEN 0.0
       |       ELSE CAST(s_en + s_es + s_fr - greatest(s_en, s_es, s_fr)
       |                 AS DOUBLE)
       |            / CAST(s_en + s_es + s_fr AS DOUBLE) END AS switch_frac,
       |  CASE WHEN s_en + s_es + s_fr = 0 THEN 0.0
       |       ELSE CAST(s_en + s_es + s_fr - greatest(s_en, s_es, s_fr)
       |                 AS DOUBLE)
       |            / CAST(s_en + s_es + s_fr AS DOUBLE) END >= 0.3
       |    AS is_mixed
       |FROM h""".stripMargin

  /** Inter-document repeated-block SCRUB — the cleaning counterpart of
    * the detection family (q137 finds repeated spans, q70/q112 flag
    * contamination; this one REWRITES the corpus). The unit is the
    * non-overlapping 8-token block; a block appearing in ≥2 distinct
    * documents is boilerplate (headers, licence stanzas, injected ads) —
    * it survives only in the lowest-doc_id document and is cut from
    * every other one, and each doc is re-assembled from its kept blocks
    * in position order. Emitting the rebuilt text makes the hash check
    * byte-strength.
    *
    * Scale shape: explode → one hash aggregate (block → min doc_id;
    * counts only, never a posting list — the q70 lesson) → plain shuffle
    * join back on the block key (hot boilerplate keys are exactly what
    * AQE's skew split handles) → per-doc rebuild whose buffer is bounded
    * by document length (same bound as q69's chunker). Three corpus
    * passes of narrow columns, no window, no driver state. */
  def q165BlockScrub(s: SparkSession, dir: String): DataFrame =
    blockScrubCore(Tables.widen(Tables.documents(s, dir), col("doc_id")))

  /** The q165 scrub over an arbitrary `(doc_id, text)` frame. The
    * per-doc rebuild buffer is doc-length-bounded, and that bound is
    * ENFORCED (r8) by tokenizing through [[TextFns.cappedToks]] — an
    * uncapped oversize document fails loudly with a pointer to
    * [[CurationOps.chunkDocs]] instead of growing an unbounded
    * kept-block list in one task. */
  private[graft] def blockScrubCore(docs: DataFrame): DataFrame = {
    val blocks = docs
      .select(col("doc_id"),
        graft.functions.TextFns.cappedToks(tokens(col("text"))).as("toks"))
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0L), ceil(size(col("toks")) / lit(8.0)).cast("long") - 1),
          i => array_join(
            slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " ")))
        .as(Seq("i", "blk")))
    val canon = blocks.groupBy(col("blk")).agg(min(col("doc_id")).as("canon"))
    blocks.join(canon, Seq("blk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blk"),
        sum(when(col("doc_id") === col("canon"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(sort_array(collect_list(
          when(col("doc_id") === col("canon"),
            struct(col("i"), col("blk"))))),
          x => x.getField("blk")), " ").as("clean_text"))
  }

  val q165Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${tokensSql("text")} AS toks
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, (pos - 1) // 8 AS i,
      |    string_agg(tok, ' ' ORDER BY pos) AS blk
      |  FROM (SELECT doc_id, UNNEST(toks) AS tok,
      |          generate_subscripts(toks, 1) AS pos FROM t)
      |  GROUP BY doc_id, i),
      |c AS (SELECT blk, min(doc_id) AS canon FROM b GROUP BY blk)
      |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_blk,
      |  CAST(sum(CASE WHEN b.doc_id = c.canon THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  coalesce(string_agg(CASE WHEN b.doc_id = c.canon THEN b.blk END,
      |    ' ' ORDER BY b.i), '') AS clean_text
      |FROM b JOIN c USING (blk) GROUP BY b.doc_id""".stripMargin

  /** Zipf goodness-of-fit: OLS slope of ln(freq) on ln(rank) over the
    * top-1000 corpus terms — the canonical "does this corpus look like
    * natural language?" health check (a healthy corpus fits ≈ −1;
    * boilerplate- or spam-dominated corpora flatten or kink the curve).
    *
    * Determinism: the regression rides q126's exact-moment machinery.
    * ln values are quantized to integers (⌊ln·10⁶ + ½⌋ — the q161
    * fixed-point idiom; ln of the same integer input is correctly
    * rounded on both engines' libm, and a quantization flip would need a
    * sub-ULP landing within 10⁻⁹ of a bucket edge), all moments are
    * DECIMAL(38,0) sums of exact integer products, and the slope is one
    * double division of exactly-computed integers.
    *
    * Scale shape: term counting is the vocabulary-bounded aggregate;
    * the top-1000 cut is `TakeOrderedAndProject` (per-partition partial
    * top-k, q92's locked pattern); the rank window runs on the ≤1000-row
    * cut only — bounded, never corpus-sized. */
  def q168ZipfSlope(s: SparkSession, dir: String): DataFrame =
    zipfSlopeCore(Tables.documents(s, dir))

  def zipfSlopeCore(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = "decimal(38,0)"
    val top = docs
      .select(explode(filter(tokens(col("text")), t => t =!= "")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc)
      .limit(1000)
    val pts = top
      .withColumn("r", row_number()
        .over(Window.orderBy(col("c").desc, col("term").asc)))
      .select(
        floor(log(col("r").cast("double")) * 1e6 + 0.5).cast("long").as("x"),
        floor(log(col("c").cast("double")) * 1e6 + 0.5).cast("long").as("y"))
    val m = pts.agg(
      count(lit(1)).as("n_terms"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x").cast(d38) * col("y")).cast(d38)).as("sxy"),
      sum((col("x").cast(d38) * col("x")).cast(d38)).as("sxx"))
    // den = 0 ⇔ fewer than 2 distinct terms: the fit is undefined — emit
    // NULL rather than the ANSI divide-by-zero error a worst-partition
    // corpus would otherwise throw (mirrored in the oracle's nullif)
    val den = nullif(
      (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"),
      lit(0.0))
    m.select(col("n_terms"),
      ((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") / den)
        .as("zipf_slope"),
      ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") / den)
        .as("zipf_intercept"))
  }

  val q168Sql: String =
    s"""WITH freq AS MATERIALIZED (
       |  SELECT term, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT UNNEST(${wordsSql("text")}) AS term FROM documents)
       |  GROUP BY term ORDER BY c DESC, term LIMIT 1000),
       |pts AS (
       |  SELECT CAST(floor(ln(CAST(row_number()
       |      OVER (ORDER BY c DESC, term) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
       |  FROM freq),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM pts)
       |SELECT n_terms,
       |  CAST(CAST(n_terms * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       |    / nullif(CAST(CAST(n_terms * sxx - sx * sx AS VARCHAR) AS DOUBLE),
       |        0.0) AS zipf_slope,
       |  CAST(CAST(sy * sxx - sx * sxy AS VARCHAR) AS DOUBLE)
       |    / nullif(CAST(CAST(n_terms * sxx - sx * sx AS VARCHAR) AS DOUBLE),
       |        0.0) AS zipf_intercept
       |FROM m""".stripMargin
  // ^ the VARCHAR hop (r8, caught only at fuzz seeds 4/8/9): q168's
  // 1e6-scaled log moments make these differences ~2^55 — past 2^53,
  // DuckDB's HUGEINT→DOUBLE cast is NOT correctly rounded (its
  // BIGINT→DOUBLE and VARCHAR→DOUBLE are, and Spark's decimal→double
  // is), so the direct cast drifts one ulp from the engine value.
  // HUGEINT→VARCHAR→DOUBLE is exact-decimal then strtod — correctly
  // rounded at any magnitude.

  /** Per-language tokenizer fertility: BPE-ish pieces per whitespace
    * word and characters per piece — the "how expensive is this language
    * to tokenize" table that drives per-language token budgeting (cf.
    * q116's corpus-level budget; this is its per-lang rate card).
    * Fertility > 1 means words split into multiple pieces.
    *
    * Determinism: per-row piece/word/char counts are exact integers
    * (q50's ASCII-class regex, shared verbatim with the oracle); the
    * per-lang sums are long additions and the two rates are single
    * double divisions of those exact sums.
    *
    * Scale shape: ONE corpus pass, all counting inside the row (regex
    * extract + array lengths, whole-stage codegen, nothing exploded),
    * then a lang-cardinality hash aggregate with map-side combine. */
  def q170Fertility(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("lang"),
        size(regexp_extract_all(normText(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("pieces"),
        size(filter(tokens(col("text")), t => t =!= ""))
          .cast("long").as("words"),
        col("n_chars").as("chars"))
    base.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("pieces")).as("n_pieces"),
      sum(col("words")).as("n_words"),
      (sum(col("pieces")).cast("double") / sum(col("words")))
        .as("fertility"),
      (sum(col("chars")).cast("double") / sum(col("pieces")))
        .as("chars_per_piece"))
  }

  val q170Sql: String =
    s"""WITH b AS (
       |  SELECT lang,
       |    CAST(len(regexp_extract_all(
       |      ${normSql("text")},
       |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS pieces,
       |    CAST(len(${wordsSql("text")}) AS BIGINT) AS words,
       |    n_chars AS chars
       |  FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(pieces) AS BIGINT) AS n_pieces,
       |  CAST(sum(words) AS BIGINT) AS n_words,
       |  CAST(sum(pieces) AS DOUBLE) / CAST(sum(words) AS BIGINT) AS fertility,
       |  CAST(sum(chars) AS DOUBLE) / CAST(sum(pieces) AS BIGINT) AS chars_per_piece
       |FROM b GROUP BY lang""".stripMargin

  /** Greedy submodular source selection by marginal 3-gram coverage —
    * the data-valuation primitive under "which feeds are worth
    * ingesting next?": 4 rounds, each picking the source whose grams
    * cover the most STILL-UNCOVERED vocabulary (ties by source name).
    * Greedy is the canonical (1−1/e)-approximation for coverage; fixed
    * rounds keep the oracle an unrolled CTE chain (the q169 pattern).
    *
    * Scale shape: the corpus collapses ONCE to the distinct
    * (source, gram) pair table ([[sourceGrams]], hashed grams — counts
    * match the oracle's string grams by gram3_hash64's spec'd
    * injectivity), localCheckpoint'ed and released after the loop; each
    * round is one anti-join + source-cardinality aggregate over that
    * bounded table, and the per-round driver collect is ONE row. */
  def q177GreedyCover(s: SparkSession, dir: String): DataFrame = {
    // A NULL source is not selectable: the pick travels by VALUE (the
    // driver-side pick list feeds each round's isin predicate, and
    // `source IN (NULL)` is NULL-semantics poison in both engines), so
    // cover selection requires an attributable source. Mirrored in the
    // oracle's sg CTE (r8, curation fuzz battery).
    val sg = sourceGrams(s, dir).filter(col("source").isNotNull)
      .localCheckpoint(true)
    val out = greedyCoverRounds(s, sg, rounds = 4)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(sg)
    out
  }

  /** The greedy loop of [[q177GreedyCover]] over any distinct
    * `(source, g)` pair table; stops early when sources run out.
    *
    * DRIVER-STATE BOUND: each round collects exactly ONE row, and the
    * accumulated pick list (which also feeds each round's `isin`
    * predicate) is `rounds` entries — so driver state and predicate
    * size are caller-bounded by `rounds`, never by data. Capped at 1000
    * rounds so a runaway caller fails loudly instead of growing an
    * unbounded isin list; selecting more sources than that calls for a
    * join against a picks TABLE, not a literal predicate. */
  def greedyCoverRounds(s: SparkSession, sg: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds <= 1000,
      s"greedyCoverRounds: $rounds rounds — the per-round isin predicate " +
        "and driver pick list grow with rounds; past 1000 use a join " +
        "against a materialized picks table instead")
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    for (t <- 1 to rounds) {
      val selSrcs = picks.map(_._2).toSeq
      val remaining =
        if (selSrcs.isEmpty) sg else sg.filter(!col("source").isin(selSrcs: _*))
      val uncovered =
        if (selSrcs.isEmpty) remaining
        else remaining.join(
          sg.filter(col("source").isin(selSrcs: _*)).select(col("g")).distinct(),
          Seq("g"), "left_anti")
      val top = uncovered.groupBy(col("source")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("source").asc).limit(1).collect()
      if (top.nonEmpty)
        picks += ((t.toLong, top(0).getString(0), top(0).getLong(1)))
    }
    import s.implicits._
    picks.toSeq.toDF("step", "source", "gain")
  }

  lazy val q177Sql: String = {
    val steps = (2 to 4).map { t =>
      val prevSel = (1 until t).map(i => s"SELECT source FROM s$i")
        .mkString(" UNION ALL ")
      s"""cov${t - 1} AS MATERIALIZED (
         |  SELECT DISTINCT g FROM sg WHERE source IN ($prevSel)),
         |gain$t AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS c FROM sg
         |  WHERE source NOT IN ($prevSel)
         |    AND NOT EXISTS (SELECT 1 FROM cov${t - 1} c WHERE c.g = sg.g)
         |  GROUP BY 1),
         |s$t AS MATERIALIZED (
         |  SELECT source, c FROM (SELECT source, c,
         |    row_number() OVER (ORDER BY c DESC, source) AS rn FROM gain$t)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT source, ${tokensSql("text")} AS toks
       |  FROM documents),
       |sg AS MATERIALIZED (
       |  SELECT DISTINCT source, UNNEST(${shinglesSql("toks", 3)}) AS g
       |  FROM t WHERE source IS NOT NULL),
       |gain1 AS (SELECT source, CAST(count(*) AS BIGINT) AS c
       |  FROM sg GROUP BY 1),
       |s1 AS MATERIALIZED (
       |  SELECT source, c FROM (SELECT source, c,
       |    row_number() OVER (ORDER BY c DESC, source) AS rn FROM gain1)
       |  WHERE rn = 1),
       |$steps
       |SELECT CAST(1 AS BIGINT) AS step, source, c AS gain FROM s1
       |UNION ALL SELECT 2, source, c FROM s2
       |UNION ALL SELECT 3, source, c FROM s3
       |UNION ALL SELECT 4, source, c FROM s4""".stripMargin
  }

  /** Heaps'-law coefficient: OLS of ln(vocabulary) on ln(tokens) across
    * sources — vocabulary growth V ≈ K·N^β (natural language sits near
    * β ≈ 0.5; β → 1 means near-unique text (ids/noise), β → 0 means a
    * closed template vocabulary). The companion health check to
    * [[q168ZipfSlope]]: Zipf looks at one corpus's rank curve, Heaps at
    * how vocabulary scales with volume across feeds.
    *
    * Determinism: q168's exact-moment OLS verbatim — ln of integer
    * counts quantized to ⌊ln·10⁶ + ½⌋, decimal(38,0) moment sums, two
    * double divisions at the end (nullif-guarded for < 2 sources).
    *
    * Scale shape: one corpus pass collapses to the (source × term)
    * count table (map-side combine, vocab-bounded); per-source (V, N)
    * re-aggregates that to #sources rows; the OLS moments are one
    * aggregate over ≤ #sources points. No window, no join. */
  def q181HeapsLaw(s: SparkSession, dir: String): DataFrame =
    heapsLawCore(Tables.documents(s, dir))

  def heapsLawCore(docs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    def lfp(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val sv = docs
      .select(col("source"),
        explode(filter(tokens(col("text")), t => t =!= "")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("v"), sum(col("c")).as("ntok"))
    val pts = sv.select(lfp(col("ntok")).as("x"), lfp(col("v")).as("y"))
    val m = pts.agg(
      count(lit(1)).as("n_sources"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x").cast(d38) * col("y").cast(d38)).cast(d38)).as("sxy"),
      sum((col("x").cast(d38) * col("x").cast(d38)).cast(d38)).as("sxx"))
    val den = nullif(
      (col("n_sources") * col("sxx") - col("sx") * col("sx")).cast("double"),
      lit(0.0))
    m.select(col("n_sources"),
      ((col("n_sources") * col("sxy") - col("sx") * col("sy")).cast("double")
        / den).as("heaps_beta"),
      ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") / den
        / lit(1e6)).as("heaps_lnk"))
  }

  val q181Sql: String =
    s"""WITH sv AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS v,
       |    CAST(sum(c) AS BIGINT) AS ntok
       |  FROM (
       |    SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |    FROM (SELECT source, UNNEST(${wordsSql("text")}) AS term
       |          FROM documents)
       |    GROUP BY 1, 2)
       |  GROUP BY source),
       |pts AS (
       |  SELECT CAST(floor(ln(CAST(ntok AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
       |  FROM sv),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_sources,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM pts)
       |SELECT n_sources,
       |  CAST(CAST(n_sources * sxy - sx * sy AS VARCHAR) AS DOUBLE)
       |    / nullif(CAST(CAST(n_sources * sxx - sx * sx AS VARCHAR) AS DOUBLE),
       |        0.0) AS heaps_beta,
       |  CAST(CAST(sy * sxx - sx * sxy AS VARCHAR) AS DOUBLE)
       |    / nullif(CAST(CAST(n_sources * sxx - sx * sx AS VARCHAR) AS DOUBLE),
       |        0.0)
       |    / 1e6 AS heaps_lnk
       |FROM m""".stripMargin
  // ^ same VARCHAR hop as q168 (structural twin): the 1e6-scaled log
  // moments put these differences past 2^53 within one corpus doubling,
  // where DuckDB's HUGEINT→DOUBLE cast stops rounding correctly.

  /** Distinctive-term extraction: per-cell chi²/lift association between
    * the top-100 corpus terms and their sources — the keyword/topic-
    * signature primitive ("which terms over-index in which feed"), and
    * the per-term drill-down under [[q180MutualInfo]]'s single corpus-
    * level association number. Cells with zero observed count are
    * omitted (their lift is 0 by definition).
    *
    * Determinism: o·n − r·c is EXACT decimal(38,0) integer arithmetic
    * (safe: both products ≤ n² ≈ 10²⁷ at 100 TB) cast once to double;
    * lift and chi² are straight-line per-row double expressions with
    * identical shape in both engines — no cross-row double summation
    * anywhere (a per-TERM chi² total would be an order-dependent double
    * sum; consumers re-aggregate the exact cells instead).
    *
    * Scale shape: one corpus pass to the (source × term) count table
    * (map-side combine); the top-100 cut is `TakeOrderedAndProject` on
    * term totals (q92's locked pattern); marginals re-aggregate the
    * checkpointed count table; the final join runs on ≤ 100·#sources
    * rows with both small sides broadcast. The corpus is scanned once. */
  def q182TermChi2(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val st = Tables.documents(s, dir)
      .select(col("source"),
        explode(filter(tokens(col("text")), t => t =!= "")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    val top = st.groupBy(col("term")).agg(sum(col("o")).as("r"))
      .orderBy(col("r").desc, col("term").asc).limit(100)
    val srcTot = st.groupBy(col("source")).agg(sum(col("o")).as("c_src"))
    val tot = st.agg(sum(col("o")).as("n"))
    val d = (col("o").cast(d38) * col("n").cast(d38) -
      col("r").cast(d38) * col("c_src").cast(d38)).cast("double")
    val out = st.join(broadcast(top), "term")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .select(col("term"), col("source"), col("o"),
        (col("o").cast("double") * col("n").cast("double") /
          (col("r").cast("double") * col("c_src").cast("double"))).as("lift"),
        (d * d / (col("n").cast("double") * col("r").cast("double") *
          col("c_src").cast("double"))).as("chi2_cell"))
      .localCheckpoint(true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(st)
    out
  }

  val q182Sql: String =
    s"""WITH st AS MATERIALIZED (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS o
       |  FROM (SELECT source, UNNEST(${wordsSql("text")}) AS term
       |        FROM documents)
       |  GROUP BY 1, 2),
       |top AS MATERIALIZED (
       |  SELECT term, CAST(sum(o) AS BIGINT) AS r FROM st GROUP BY 1
       |  ORDER BY r DESC, term LIMIT 100),
       |ss AS (SELECT source, CAST(sum(o) AS BIGINT) AS c_src FROM st GROUP BY 1),
       |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM st)
       |SELECT st.term, st.source, o,
       |  CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
       |    / (CAST(r AS DOUBLE) * CAST(c_src AS DOUBLE)) AS lift,
       |  CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c_src AS DOUBLE)
       |    * CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c_src AS DOUBLE)
       |    / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c_src AS DOUBLE))
       |    AS chi2_cell
       |FROM st JOIN top USING (term) JOIN ss USING (source) CROSS JOIN nn""".stripMargin

  /** Label-noise audit: confusion matrix between the declared `lang`
    * column and [[q31LangId]]'s content-based prediction, with per-cell
    * per-mille shares of the declared language's row count — the "is the
    * metadata lying about the content" check a pipeline runs before
    * trusting `lang` for stratification (q180's MI quantifies the
    * dependence; this localizes WHERE the disagreement sits).
    *
    * Scale shape: one corpus pass (the per-doc predictor is pure column
    * arithmetic) collapsing to the ≤ |langs|·3 confusion cells
    * (map-side combine); row totals are a window over that tiny table.
    * All-integer output. */
  def q193LangConfusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = q31LangId(s, dir)
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
    cells
      .withColumn("lang_total", sum(col("n")).over(
        Window.partitionBy(col("lang"))))
      .withColumn("share_pm", expr("n * 1000 div lang_total"))
  }

  val q193Sql: String =
    s"""WITH p AS (
      |  SELECT lang,
      |    CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
      |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred
      |  FROM (
      |    SELECT lang,
      |      len(list_intersect(toks, ['the','a','fast','slow','small','big'])) AS s_en,
      |      len(list_intersect(toks, ['data','table','row','query','line'])) AS s_es,
      |      len(list_intersect(toks, ['join','merge','sort','hash','group'])) AS s_fr
      |    FROM (SELECT lang,
      |            list_distinct(${tokensSql("text")}) AS toks
      |          FROM documents))),
      |cells AS (
      |  SELECT lang, pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2)
      |SELECT lang, pred, n,
      |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
      |  CAST(n * 1000 // sum(n) OVER (PARTITION BY lang) AS BIGINT)
      |    AS share_pm
      |FROM cells""".stripMargin

  /** Boilerplate-template detection: the 10 most common document
    * openings (shared leading-token prefix) with doc/source counts — the
    * scraped-site header/license-stub signature that exact dedup misses
    * (bodies differ) and [[q165BlockScrub]] doesn't localize (it removes
    * any repeated interior block; this reports WHICH templates dominate
    * and where they come from, the human-review queue for a
    * strip-the-header rule). Production corpora use 8+-token prefixes;
    * the synthetic corpus's random openings need a 2-token key for any
    * collision to exist at all (the q35 shingle-length note).
    *
    * Scale shape: one corpus pass to a prefix-keyed aggregate — buffers
    * are three scalars (count, distinct-source partial, min id), never a
    * doc list; the top-10 cut is `TakeOrderedAndProject` (per-partition
    * partial top-k, q92's locked pattern), so output stays tiny however
    * templated the corpus is. A hot template key is counts, not buffer
    * growth. */
  def q194TemplatePrefix(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        filter(tokens(col("text")), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"),
        array_join(slice(col("toks"), 1, 2), " ").as("prefix"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("example_doc"))
      .orderBy(col("n_docs").desc, col("prefix").asc)
      .limit(10)

  val q194Sql: String =
    s"""WITH p AS (
       |  SELECT doc_id, source, array_to_string(toks[1:2], ' ') AS prefix
       |  FROM (SELECT doc_id, source, ${wordsSql("text")} AS toks
       |        FROM documents)
       |  WHERE len(toks) >= 2)
       |SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |  min(doc_id) AS example_doc
       |FROM p GROUP BY 1
       |ORDER BY n_docs DESC, prefix LIMIT 10""".stripMargin

  /** Pairwise weighted-Jaccard similarity between sources' term
    * DISTRIBUTIONS — Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b) over the
    * term union. Where q128's overlap matrix counts shared DOCUMENTS and
    * q182's χ² flags individually skewed terms, this scores whole-corpus
    * lexical closeness between feeds — the "are these two crawls the
    * same distribution" signal that decides whether a new source adds
    * diversity or duplicates an existing one.
    *
    * Exactness: tf's are exact counts; Σ max is NOT computed directly —
    * the identity Σ max = T_a + T_b − Σ min (T = source token total)
    * turns the union-aggregate into an INNER join on shared terms plus
    * two broadcast totals, and keeps everything integer until one final
    * double division per pair.
    *
    * Scale shape: one corpus pass → (source, term) aggregate (map-side
    * combine, vocab·S-bounded by Heaps' law); the pair space is S², so
    * the operator's contract is a bounded source PANEL (same contract as
    * q128's matrix — for open-world domains, block pairs through LSH on
    * tf sketches first); the term-keyed self-join is skew-safe (a term
    * present in all S sources contributes S² rows, AQE-splittable, never
    * an aggregation buffer). */
  def q206SourceWJaccard(s: SparkSession, dir: String): DataFrame =
    wJaccardCore(Tables.documents(s, dir))

  /** See [[q206SourceWJaccard]]. */
  def wJaccardCore(docs: DataFrame): DataFrame = {
    // checkpointed (r12, lint class #10): tf feeds the term self-join
    // (shuffle) and the broadcast per-source totals — the broadcast leg
    // re-planned the tokenize lineage (no stage reuse across exchange
    // types). Vocab × sources narrow frame.
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val tot = tf.groupBy(col("source")).agg(sum(col("tf")).as("t"))
    val a = tf.select(col("source").as("src_a"), col("term"),
      col("tf").as("tf_a"))
    val b = tf.select(col("source").as("src_b"), col("term"),
      col("tf").as("tf_b"))
    a.join(b, Seq("term"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(least(col("tf_a"), col("tf_b"))).as("sum_min"))
      .join(broadcast(tot.select(col("source").as("src_a"), col("t").as("t_a"))),
        Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"), col("t").as("t_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("sum_min"),
        (col("sum_min").cast("double") /
          (col("t_a") + col("t_b") - col("sum_min")).cast("double"))
          .as("w_jaccard"))
  }

  val q206Sql: String =
    s"""WITH tf AS (
       |  SELECT source, w AS term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT source, unnest(${tokensSql("text")}) AS w FROM documents)
       |  WHERE w <> '' GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(tf) AS BIGINT) AS t FROM tf GROUP BY 1),
       |shared AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS sum_min
       |  FROM tf a JOIN tf b ON a.term = b.term AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, sum_min,
       |  CAST(sum_min AS DOUBLE) / CAST(ta.t + tb.t - sum_min AS DOUBLE)
       |    AS w_jaccard
       |FROM shared
       |JOIN tot ta ON ta.source = src_a
       |JOIN tot tb ON tb.source = src_b""".stripMargin

  /** Jensen–Shannon divergence between two sources' term distributions —
    * the symmetric, bounded (≤ ln 2) probabilistic counterpart of q206's
    * multiset weighted Jaccard: where wJaccard scores shared MASS, JSD
    * scores distributional SHAPE difference (a half-size exact copy of a
    * feed has wJaccard ≈ 0.5 but JSD ≈ 0 — different questions, both
    * asked before admitting a new crawl).
    *
    * Cross-engine exactness (the q130 idiom): per-term log-ratios
    * ln(2aT_b/(aT_b+bT_a)) take exact-integer-derived doubles through
    * `ln` and quantize to a 2^-14 grid immediately, ON THE VOCAB-BOUNDED
    * TABLE; the divergence is then two exact DECIMAL(38) integer sums
    * Σa·⌊ln·2¹⁴⌋ and two final double divisions. A mismatch needs both
    * engines' ≤1-ulp `ln` to straddle a grid line (~5e-12/term).
    *
    * Scale: one pass over the two feeds → term-keyed (a,b) count pairs
    * (map-side combine, Heaps-bounded), broadcast totals, single-row
    * close. Zero-count sides contribute exactly 0 (guarded — their
    * branch is never evaluated, so no ln(0)). */
  def q216SourceJsd(s: SparkSession, dir: String): DataFrame =
    jsdCore(Tables.documents(s, dir), "src0", "src1")

  /** See [[q216SourceJsd]]. */
  def jsdCore(docs: DataFrame, sa: String, sb: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // checkpointed (r12, lint class #10): tf feeds the main divergence
    // pass and the broadcast totals — the broadcast leg re-planned the
    // tokenize lineage (no stage reuse across exchange types).
    // Vocab-bounded narrow frame.
    val tf = docs.filter(col("source").isin(sa, sb))
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(sum(when(col("source") === sa, 1L).otherwise(0L)).cast("long").as("a"),
        sum(when(col("source") === sb, 1L).otherwise(0L)).cast("long").as("b"))
      .localCheckpoint(true)
    val tot = tf.agg(sum(col("a")).cast("long").as("ta"),
      sum(col("b")).cast("long").as("tb"),
      count(lit(1)).as("n_terms"))
    val x = col("a").cast("double") * col("tb").cast("double")
    val y = col("b").cast("double") * col("ta").cast("double")
    val lqp = floor(log(lit(2.0) * x / (x + y)) * 16384).cast("long")
    val lqq = floor(log(lit(2.0) * y / (x + y)) * 16384).cast("long")
    // the tb/ta > 0 legs guard the one-sided degenerate (either feed
    // empty): x + y would be 0 and the log-ratio division would raise
    // under ANSI before the outer NULL guard is reached
    // the count FACTOR casts to decimal(38) before the multiply (q208
    // overflow contract: a stop-term's count × the 2^-14 log grid can
    // pass 2^63 at extreme corpus counts)
    val sums = tf.crossJoin(broadcast(tot))
      .select(
        when(col("a") > 0 && col("tb") > 0, col("a").cast(d38) * lqp)
          .otherwise(lit(0L).cast(d38)).as("sa"),
        when(col("b") > 0 && col("ta") > 0, col("b").cast(d38) * lqq)
          .otherwise(lit(0L).cast(d38)).as("sb"))
      .agg(sum(col("sa")).as("ssa"), sum(col("sb")).as("ssb"))
    // a one-sided comparison (either feed empty) has no divergence to
    // report: NULL, not an ANSI divide-by-zero failure
    sums.crossJoin(broadcast(tot))
      .select(col("n_terms"), col("ta"), col("tb"),
        when(col("ta") > 0L && col("tb") > 0L,
          (col("ssa").cast("double") / col("ta").cast("double") +
            col("ssb").cast("double") / col("tb").cast("double"))
            / lit(2.0) / lit(16384.0)).as("jsd"))
      // ln 2 as the correctly-rounded LITERAL on both sides — the two
      // engines' ln(2) calls need not agree to the last ulp
      .withColumn("jsd_bits", col("jsd") / lit(0.6931471805599453))
  }

  val q216Sql: String =
    s"""WITH tf AS (
       |  SELECT w AS term,
       |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS b
       |  FROM (SELECT source, UNNEST(${tokensSql("text")}) AS w FROM documents
       |        WHERE source IN ('src0', 'src1'))
       |  WHERE w <> '' GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
       |    CAST(count(*) AS BIGINT) AS n_terms FROM tf),
       |s AS (
       |  SELECT
       |    CAST(sum(CASE WHEN a > 0 THEN CAST(a AS HUGEINT) * CAST(floor(ln(
       |      2 * (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE))
       |        / (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
       |           + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE))) * 16384)
       |      AS BIGINT) ELSE 0 END) AS HUGEINT) AS ssa,
       |    CAST(sum(CASE WHEN b > 0 THEN CAST(b AS HUGEINT) * CAST(floor(ln(
       |      2 * (CAST(b AS DOUBLE) * CAST(ta AS DOUBLE))
       |        / (CAST(a AS DOUBLE) * CAST(tb AS DOUBLE)
       |           + CAST(b AS DOUBLE) * CAST(ta AS DOUBLE))) * 16384)
       |      AS BIGINT) ELSE 0 END) AS HUGEINT) AS ssb
       |  FROM tf CROSS JOIN tot)
       |SELECT n_terms, ta, tb,
       |  (CAST(ssa AS DOUBLE) / CAST(ta AS DOUBLE)
       |   + CAST(ssb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2 / 16384 AS jsd,
       |  (CAST(ssa AS DOUBLE) / CAST(ta AS DOUBLE)
       |   + CAST(ssb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2 / 16384
       |    / 0.6931471805599453 AS jsd_bits
       |FROM s CROSS JOIN tot""".stripMargin

  /** Source ranking by Wilson lower confidence bound on a quality-gate
    * pass rate — the correct way to rank feeds when sample sizes differ
    * wildly: a source with 3/3 passing docs must NOT outrank one with
    * 970/1000, which a raw pass-rate sort does. The 95% Wilson score
    * interval's lower bound (the classic "how not to sort by average
    * rating" answer) shrinks toward 0 for small n.
    *
    * Gate: token count ≥ 48 (the corpus median-ish length floor — any
    * deterministic per-row predicate slots in). Exactness: passes/n are
    * exact counts; the bound is one fixed double tree per source with
    * every literal double-cast identically on both engines (DuckDB
    * would otherwise read `1.96` as DECIMAL and square it exactly,
    * diverging from the double product). Scale: one corpus pass →
    * source-keyed 2-counter aggregate; #sources output. */
  def q219WilsonRank(s: SparkSession, dir: String): DataFrame =
    wilsonRankCore(Tables.documents(s, dir)
      .select(col("source"),
        (size(filter(tokens(col("text")), t => t =!= "")) >= 48).as("pass")))

  /** See [[q219WilsonRank]]: `docs` carries (source, pass). */
  def wilsonRankCore(docs: DataFrame): DataFrame = {
    val z = lit(1.96)
    val m = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), count_if(col("pass")).as("passes"))
    val nd = col("n").cast("double")
    val z2 = z * z
    val ph = col("passes").cast("double") / nd
    val lb = (ph + z2 / (lit(2.0) * nd) -
      z * sqrt(ph * (lit(1.0) - ph) / nd + z2 / (lit(4.0) * nd * nd))) /
      (lit(1.0) + z2 / nd)
    m.select(col("source"), col("n"), col("passes"),
      ph.as("pass_rate"), lb.as("wilson_lb"))
  }

  val q219Sql: String =
    s"""WITH m AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count_if(len(${wordsSql("text")}) >= 48)
       |      AS BIGINT) AS passes
       |  FROM documents GROUP BY 1)
       |SELECT source, n, passes,
       |  CAST(passes AS DOUBLE) / CAST(n AS DOUBLE) AS pass_rate,
       |  (CAST(passes AS DOUBLE) / CAST(n AS DOUBLE)
       |    + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |      / (2.0 * CAST(n AS DOUBLE))
       |    - CAST(1.96 AS DOUBLE) * sqrt(
       |        CAST(passes AS DOUBLE) / CAST(n AS DOUBLE)
       |          * (1.0 - CAST(passes AS DOUBLE) / CAST(n AS DOUBLE))
       |          / CAST(n AS DOUBLE)
       |        + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |          / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
       |  / (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |       / CAST(n AS DOUBLE)) AS wilson_lb
       |FROM m""".stripMargin

  /** Good–Turing missing mass over word bigrams — the classic estimate
    * of how much probability the corpus has NOT yet seen: the fraction
    * of bigram occurrences that are singletons (n₁/N) estimates the
    * probability that the next sampled bigram is novel. The "is more
    * crawling still buying new n-grams" saturation check, complementing
    * q181's Heaps exponent (vocabulary GROWTH rate) with an absolute
    * unseen-mass number; bigrams rather than unigrams because the
    * closed synthetic unigram vocab saturates immediately (n₁ = 0).
    *
    * Exactness: all counts exact integers off one bigram aggregate; the
    * mass is one double division. Scale: one corpus pass → bigram-keyed
    * count (map-side combine) → single-row moment; no joins, no windows,
    * no lists. */
  def q207GoodTuring(s: SparkSession, dir: String): DataFrame =
    goodTuringCore(Tables.documents(s, dir))

  /** See [[q207GoodTuring]]. */
  def goodTuringCore(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("tf"))
    bg.agg(sum(col("tf")).cast("long").as("n_bigrams"),
        count(lit(1)).as("vocab"),
        count_if(col("tf") === 1L).as("n1"),
        count_if(col("tf") === 2L).as("n2"))
      .withColumn("gt_missing_mass",
        col("n1").cast("double") / col("n_bigrams").cast("double"))
  }

  val q207Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
       |bg AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT UNNEST(${shinglesSql("toks", 2)}) AS g FROM t)
       |  GROUP BY 1)
       |SELECT CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |  CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(count_if(tf = 1) AS BIGINT) AS n1,
       |  CAST(count_if(tf = 2) AS BIGINT) AS n2,
       |  CAST(count_if(tf = 1) AS DOUBLE) / CAST(sum(tf) AS DOUBLE)
       |    AS gt_missing_mass
       |FROM bg""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q206_source_wjaccard", q206SourceWJaccard, Some(q206Sql)),
    QueryDef("q216_source_jsd", q216SourceJsd, Some(q216Sql)),
    QueryDef("q219_wilson_rank", q219WilsonRank, Some(q219Sql)),
    QueryDef("q207_good_turing", q207GoodTuring, Some(q207Sql)),
    QueryDef("q194_template_prefix", q194TemplatePrefix, Some(q194Sql)),
    QueryDef("q193_lang_confusion", q193LangConfusion, Some(q193Sql)),
    QueryDef("q181_heaps_law", q181HeapsLaw, Some(q181Sql)),
    QueryDef("q182_term_chi2", q182TermChi2, Some(q182Sql)),
    QueryDef("q177_greedy_cover", q177GreedyCover, Some(q177Sql)),
    QueryDef("q168_zipf_slope", q168ZipfSlope, Some(q168Sql)),
    QueryDef("q170_fertility", q170Fertility, Some(q170Sql)),
    QueryDef("q165_block_scrub", q165BlockScrub, Some(q165Sql)),
    QueryDef("q30_text_stats", q30TextStats, Some(q30Sql)),
    QueryDef("q143_char_diversity", q143CharDiversity, Some(q143Sql)),
    QueryDef("q147_bpe_pairs", q147BpePairs, Some(q147Sql)),
    QueryDef("q148_skipgram", q148SkipGram, Some(q148Sql)),
    QueryDef("q149_code_switch", q149CodeSwitch, Some(q149Sql)),
    QueryDef("q31_lang_id", q31LangId, Some(q31Sql)),
    QueryDef("q32_quality_score", q32Quality, Some(q32Sql)),
    QueryDef("q91_quality_gate", q91QualityGate, Some(q91Sql)),
    QueryDef("q92_vocab_coverage", q92VocabCoverage, Some(q92Sql)),
    QueryDef("q99_unigram_lm", q99UnigramLm, Some(q99Sql)),
    QueryDef("q103_pmi_bigrams", q103PmiBigrams, Some(q103Sql)),
    QueryDef("q114_lang_top_bigrams", q114LangTopBigrams, Some(q114Sql)),
    QueryDef("q119_dup_gram_frac", q119DupGramFrac, Some(q119Sql)),
    QueryDef("q122_kneser_ney", q122KneserNey, Some(q122Sql)),
    QueryDef("q129_bigram_fluency", q129BigramFluency, Some(q129Sql)),
    QueryDef("q133_novelty_decay", q133NoveltyDecay, Some(q133Sql)),
    QueryDef("q137_repeated_spans", q137RepeatedSpans, Some(q137Sql)),
    QueryDef("q234_dup_spans", q234DupSpans, Some(q234Sql)),
    QueryDef("q138_phrase_search", q138PhraseSearch, Some(q138Sql)),
    QueryDef("q123_source_novelty", q123SourceNovelty, Some(q123Sql)),
    QueryDef("q128_source_overlap", q128SourceOverlap, Some(q128Sql)),
    QueryDef("q104_bm25", q104Bm25, Some(q104Sql)),
    QueryDef("q33_fingerprint", q33Fingerprint, Some(q33Sql)),
    QueryDef("q50_bpe_tokens", q50BpeTokens, Some(q50Sql)),
    QueryDef("q51_winnow_fingerprint", q51WinnowFingerprint, Some(q51Sql)))
}
