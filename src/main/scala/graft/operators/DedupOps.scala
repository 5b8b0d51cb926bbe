package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash-groupBy), n-gram Jaccard,
  * MinHash+LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every variant is blocked so no O(n²) pair set is ever
  * materialized globally —
  *   - exact: one hash aggregate (map-side combine);
  *   - Jaccard / MinHash: pairs only generated inside an inverted-index
  *     bucket (shared shingle / shared LSH band), i.e., a shuffle on the
  *     bucket key, never a cross join;
  *   - SimHash: pairs only inside a 4-bit band block;
  *   - embedding: pairs only inside a cluster-label block.
  * At 100 TB the bucket key is the shuffle key, buckets are tiny, and AQE
  * skew-split handles hot buckets (e.g. a very common shingle).
  */
object DedupOps {

  /** The documents file is a single parquet row-group, i.e. one input
    * partition; without an explicit repartition every md5/shingle pass
    * would run on one core. At 100 TB the scan is already wide, but
    * repartitioning a compact input before a CPU-heavy fan-out is the
    * same pattern (measured 7× on the dedup trio). */
  private def docsNorm(s: SparkSession, dir: String): DataFrame =
    Tables.widen(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), normText(col("text")).as("norm"))

  /** Tokens materialized as a column BEFORE any higher-order function
    * touches them: a lambda that captures a complex expression (e.g.
    * `split(regexp_replace(...))`) re-evaluates that whole subtree on
    * every lambda invocation — measured 15× on shingle generation. An
    * attribute reference is evaluated once per row.
    *
    * Tokenizes through [[TextFns.cappedToks]]: this is the shared
    * tokenize boundary of q35/q36/q214's per-doc-buffer pipelines, so
    * the ingest-cap contract ([[graft.functions.TextFns.DocTokenCap]];
    * pre-chunk with [[CurationOps.chunkDocs]]) is ENFORCED here — an
    * oversize document is a loud error, never an unbounded shingle
    * buffer. */
  private def docToks(s: SparkSession, dir: String): DataFrame =
    docsNorm(s, dir).select(col("doc_id"),
      graft.functions.TextFns.cappedToks(split(col("norm"), " ")).as("toks"))

  // ---------------------------------------------------------------------
  // Exact-duplicate pre-collapse (r9) — the standard composition in front
  // of near-dup candidate generation. A real crawl is 30–50% exact
  // duplicates, and every signature/candidate stage below is a pure
  // function of the NORMALIZED TEXT: ten copies of a document have
  // identical shingle sets, MinHash signatures, and SimHashes, so running
  // candidate generation per copy multiplies every band/prefix bucket's
  // membership by the copy count and the emitted candidate volume by its
  // SQUARE (measured: q37 ×11.6 wall-time at shared-vocab 10×, r8
  // SCALING.md). The fix is q34's own hash family applied as a
  // composition: collapse identical docs to one representative (min
  // doc_id — md5 keys, the same 128-bit exact-dup fingerprint contract
  // q34 declares), run the candidate+verify stages on representatives
  // only, then re-expand pair output through the member map (or, where
  // the query only COUNTS pairs — q214 — weight by multiplicity and
  // never expand at all). Declared semantics and hashes are UNCHANGED:
  // a cross-group member pair scores exactly its representatives' score,
  // and a within-group pair is always emitted (J = n/n = 1.0 exactly,
  // Hamming = 0, band keys identical) whenever the group participates
  // (≥ 3 tokens for the shingle family; any non-NULL text for SimHash).
  // ---------------------------------------------------------------------

  /** The collapse product: `reps` (doc_id = representative id, norm) is
    * the candidate-stage input; `map` (doc_id, rep_id) re-expands rep
    * pairs to member pairs; `groups` (rep_id, mult, n_toks) carries the
    * multiplicity weights and the within-group eligibility token count.
    * NULL-norm docs are excluded outright — they generate no tokens, no
    * shingles, and therefore no pairs in any consumer. */
  private[graft] case class Collapsed(reps: DataFrame, map: DataFrame,
      groups: DataFrame)

  /** The internal 128-bit collapse fingerprint: two INDEPENDENT-seed
    * xxhash64 passes over the norm. The leading literal matters — it is
    * hashed FIRST, so the second component hashes the norm under a
    * different seed; chained the other way (`xxhash64(norm, lit(1))`)
    * the literal mixes into the norm's own hash and the second
    * component becomes a pure function of the first, silently dropping
    * the pair to 64 effective bits (≈27k expected group collisions at
    * 10¹² docs — vs ~n²/2¹²⁹ ≈ 0 for the true pair, the same class as
    * md5's 128 bits). Switched from md5 in r10: integer hashing beats
    * the hex-string digest by 5–18% at 1× (SCALING.md r10). The
    * key never leaves any plan — q34 separately DECLARES md5 as its
    * own fingerprint contract and computes it itself. */
  private val xxhashPairFp: Column =
    struct(xxhash64(col("norm")), xxhash64(lit(1), col("norm")))

  /** Collapse a `(doc_id, norm)` frame by exact normalized content. One
    * fingerprint-keyed aggregate (map-side combine — a hot boilerplate
    * group is a partial-agg cell, never a buffer) plus one fp-keyed join
    * for the member map (hot groups are join skew, AQE-splittable).
    *
    * Both products are `localCheckpoint(true)`-materialized (the
    * connectedComponents idiom): the map feeds FOUR join sides of the
    * expansion and the groups frame feeds the candidate pipeline (whose
    * docsets stage alone has three consumers) — left lazy, every
    * consumer re-ran the scan + md5 + aggregate upstream (measured: 14
    * scans in q35's plan, 19 in q214's — a non-starter at 100 TB, where
    * the checkpoint trades two corpus scans total for O(consumers) of
    * them; the map is two longs per doc, the groups frame is the
    * DEDUPED corpus, both spill-capable MEMORY_AND_DISK blocks). */
  private[graft] def collapseExact(normed: DataFrame): Collapsed = {
    val fped = normed.filter(col("norm").isNotNull)
      .select(col("doc_id"), col("norm"), xxhashPairFp.as("fp"))
    val groups = fped.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_id"),
        // every value in the group is identical by construction, so
        // `first` is deterministic here despite its general marking
        first(col("norm")).as("norm"),
        count(lit(1)).as("mult"))
      .withColumn("n_toks", size(split(col("norm"), " ")).cast("long"))
      .localCheckpoint(true)
    // CPU-WIDTH SPREAD of the candidate-stage input (r12, guide §2):
    // every consumer of `reps` runs the family's CPU-dense work on it
    // (tokenize → shingle → minhash/simhash/winnow), but the
    // checkpoint's layout is whatever AQE left the fingerprint
    // aggregate — BYTES-sized, so at bench scale the deduped corpus
    // lands on 1–5 partitions and the signature stages run on 1–5 of
    // 32 cores (q64's heaviest stage = 565 ms × 1 task over 4992
    // reps). `Tables.widen` reads the checkpoint's partition count (plan
    // metadata, no job): a cluster whose agg output is already at least
    // half as wide as the target skips the spread — on big inputs AQE's
    // own sizing wins and the extra shuffle would be a gratuitous corpus
    // move. Hash on doc_id: deterministic under retry (guide §2.5), and
    // signatures / pair generation are order-independent (min/count
    // aggregates over exact integers), so declared outputs are unchanged.
    Collapsed(
      reps = Tables.widen(
        groups.select(col("rep_id").as("doc_id"), col("norm")), col("doc_id")),
      map = fped.select(col("doc_id"), col("fp"))
        .join(groups.select(col("fp"), col("rep_id")), Seq("fp"))
        .select(col("doc_id"), col("rep_id"))
        .localCheckpoint(true),
      groups = groups.select(col("rep_id"), col("mult"), col("n_toks")))
  }

  private[graft] def collapsedDocs(s: SparkSession, dir: String): Collapsed =
    collapseExact(docsNorm(s, dir))

  /** Capped tokens of the representatives — the same ingest-cap boundary
    * as [[docToks]] (an oversize doc's representative carries its norm,
    * so the [[graft.functions.TextFns.DocTokenCap]] contract still fails
    * loudly per oversize CONTENT, once instead of per copy). */
  private def repToks(reps: DataFrame): DataFrame =
    reps.select(col("doc_id"),
      graft.functions.TextFns.cappedToks(split(col("norm"), " ")).as("toks"))

  /** Distinct (rep doc_id, shingle) pairs over word 3-grams. */
  private def repShingles(c: Collapsed): DataFrame =
    repToks(c.reps)
      .select(col("doc_id"), explode(shingles(col("toks"), 3)).as("sh"))
      .distinct()

  /** Re-expand representative-level pairs to member pairs.
    *
    * The expansion only does WORK proportional to duplication: every
    * join side below is restricted to members of groups with mult ≥ 2
    * (`dm`), so a pair of two singleton reps expands through two LEFT
    * joins whose probe misses — NULLs coalesce back to the rep ids and
    * the pair passes through untouched. On a low-duplication corpus the
    * dup-member map is small (AQE broadcasts it) and the huge rep-pair
    * stream never shuffles (an unconditional two-join form shuffled
    * q37's 33M-pair stream twice for an IDENTITY expansion, ×19 wall at
    * 10× with zero duplicates). On a dup-heavy corpus the joins carry
    * exactly the pairs that genuinely multiply. Within-group pairs come
    * from a dup-member self-join restricted to groups satisfying
    * `withinEligible` (they score `withinCols` — J = 1.0 / Hamming = 0
    * — by construction). The quadratic-in-multiplicity pair volume that
    * remains is the declared OUTPUT, not candidate-stage work.
    *
    * The bar parameters exist for the straddle specs, which swing each
    * around a fixed corpus's probed value; `forceBuckets` pins the salt
    * count to prove the within-group self-join's parity across B.
    * Production callers take the defaults ([[Skew.expansionPlan]]). */
  private[graft] def expandRepPairs(repPairs: DataFrame, c: Collapsed,
      withinCols: Seq[Column], withinEligible: Column,
      saltThreshold: Long = Skew.WithinSaltThreshold,
      pinThreshold: Long = Skew.FanoutPinThreshold,
      forceBuckets: Long = 0L): DataFrame = {
    val mults = Set("mult_a", "mult_b")
    val hasMults = mults.subsetOf(repPairs.columns.toSet)
    val extras = repPairs.columns.toSeq
      .filterNot(Set("doc_a", "doc_b") ++ mults)
    val dupIds = c.groups.filter(col("mult") >= 2L).select(col("rep_id"))
    val dm = c.map.join(dupIds, Seq("rep_id"), "left_semi")
    // Only pairs TOUCHING a duplicated group join the dup-member map;
    // when the pipeline carries per-side multiplicities (q37, whose pair
    // stream is corpus-dense), the singleton-singleton majority splits
    // off MAP-SIDE as a filter and is emitted verbatim — on a
    // low-duplication corpus the expansion then shuffles (almost)
    // nothing, instead of shuffling the whole pair stream against a
    // near-empty build side. Pipelines without mult columns (q35/q36 —
    // small verified/banded pair sets) take the join path for every
    // pair; their streams are near-dup-sized, not corpus-dense.
    val (direct, toJoin0): (Option[DataFrame], DataFrame) =
      if (hasMults)
        (Some(repPairs.filter(col("mult_a") === 1L && col("mult_b") === 1L)
          .select((Seq("doc_a", "doc_b") ++ extras).map(col): _*)),
          repPairs.filter(col("mult_a") > 1L || col("mult_b") > 1L)
            .select((Seq("doc_a", "doc_b") ++ extras).map(col): _*))
      else (None, repPairs)
    // The fan-out pin and the mega-group salt, from one probe of the
    // materialized groups frame. The pin applies to corpus-dense streams
    // only: on the others the expansion multiplies nothing it could
    // spread. On a corpus with no group past the within bar the joins
    // below are the plain single-key plan: planning the salted form
    // unconditionally cost +8–49% across the expansion consumers.
    val plan = Skew.expansionPlan(c.groups, pinThreshold, saltThreshold,
      forceBuckets)
    val toJoin = if (hasMults) plan.pinned(toJoin0, "doc_a") else toJoin0
    // One expansion join per pair side. LEFT + coalesce: a pair whose
    // side is a singleton misses the dup-member map and falls back to
    // its own rep id.
    def expandSide(stream: DataFrame, rep: String, out: String): DataFrame =
      plan.join(stream, dm, rep, out, "left")
    val cross = expandSide(expandSide(
        toJoin.withColumnRenamed("doc_a", "rep_a")
          .withColumnRenamed("doc_b", "rep_b"),
        "rep_a", "xa"), "rep_b", "xb")
      // member ids are not ordered like their representatives' min ids
      .select(Seq(
        least(coalesce(col("xa"), col("rep_a")),
          coalesce(col("xb"), col("rep_b"))).as("doc_a"),
        greatest(coalesce(col("xa"), col("rep_a")),
          coalesce(col("xb"), col("rep_b"))).as("doc_b")) ++ extras.map(col): _*)
    val em = dm.join(c.groups.filter(withinEligible).select(col("rep_id")),
      Seq("rep_id"), "left_semi")
    // MEGA-GROUP SALT: a group of 10⁵ exact copies (boilerplate pages —
    // real crawls have them) emits C(m,2) ≈ 5·10⁹ within pairs under ONE
    // rep_id join key, and AQE's skew split never fires — the join's
    // INPUT partition is tiny (m rows of two longs); the quadratic lives
    // in the OUTPUT (zipf mode at 10⁴ copies ran the whole expansion in
    // one 2.5–4 s task while 15 cores idled). Groups past the within bar
    // take a bucket-pair self-join: members hash into B buckets, the
    // left side explodes to every target bucket ≥ its own, and the join
    // keys on (rep_id, bucket) — B keys per mega group, the largest
    // carrying 2/(B+1) of the pairs. Each unordered pair {a,b} is
    // emitted EXACTLY once: for bkt_a < bkt_b only a's explode reaches
    // b's bucket; within a bucket the doc_id order keeps one side (the
    // disjunction below).
    def withinPairs(m: DataFrame): DataFrame =
      m.as("x").join(m.as("y"),
          col("x.rep_id") === col("y.rep_id")
            && col("x.doc_id") < col("y.doc_id"))
        .select(Seq(col("x.doc_id").as("doc_a"),
          col("y.doc_id").as("doc_b")) ++ withinCols: _*)
    val within = plan.big match {
      case None => withinPairs(em)
      case Some(bigIds) =>
        val B = plan.buckets
        val embk = em.join(bigIds, Seq("rep_id"), "left_semi")
          .withColumn("bkt", pmod(xxhash64(col("doc_id")), lit(B)))
        // spread the member slice to FULL WIDTH before the ×(B−bkt)
        // explode: the slice arrives on the collapse map's partitioning —
        // ONE partition when the mega fp's member join ran on a single
        // key — and the explode's row multiplication plus its shuffle
        // WRITE would run map-side on that layout (8.2 s on one core at
        // zipf 10⁵). A round-robin shuffle of the NARROW pre-explode rows
        // is three orders of magnitude cheaper.
        val exploded = Tables.spread(embk)
          .withColumn("tb", explode(sequence(col("bkt"), lit(B - 1))))
        // the exploded member stream is tiny in bytes but each
        // (rep, bucket) key emits ~C(m,2)·2(j+1)/(B(B+1)) pairs — pin
        // the join's parallelism so the output streams at full width;
        // shuffle_hash on the bucketed side, as in Skew.hotKeyJoin
        val withinBig = Tables.spread(exploded, col("rep_id"), col("tb"))
          .as("x").join(embk.hint("shuffle_hash").as("y"),
            col("x.rep_id") === col("y.rep_id")
              && col("x.tb") === col("y.bkt")
              && (col("x.bkt") < col("y.bkt")
                || col("x.doc_id") < col("y.doc_id")))
          .select(Seq(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
            ++ withinCols: _*)
        withinPairs(em.join(bigIds, Seq("rep_id"), "left_anti"))
          .union(withinBig)
    }
    // name-checked union: unionByName would still accept a
    // type-compatible permutation of withinCols, so the order itself is
    // asserted first.
    require(within.columns.sameElements(cross.columns),
      s"expandRepPairs: withinCols name [${within.columns.drop(2).mkString(", ")}] " +
        s"but the pair stream carries extras [${extras.mkString(", ")}] — " +
        "each withinCol must alias the same-named extra in the same order")
    val expanded = cross.unionByName(within)
    direct.map(_.unionByName(expanded)).getOrElse(expanded)
  }

  /** Exact dedup: group by content fingerprint, keep the smallest id. */
  def q34DedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .groupBy(md5(col("norm")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val q34Sql: String =
    s"""SELECT md5(norm) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT doc_id, ${normSql("text")} AS norm
      |      FROM documents)
      |GROUP BY md5(norm)""".stripMargin

  /** Near-dup pairs by word-3-gram Jaccard >= 0.6 — EXACT, via prefix
    * filtering (the PPJoin family): under a global total order of shingles
    * (rarest first: df asc, hash asc), any pair with J >= t MUST share a
    * shingle inside each side's first `n - ⌈t·n⌉ + 1` shingles (if overlap
    * o >= ⌈t·n⌉, the shared shingles cannot all hide in the ⌈t·n⌉ - 1
    * suffix). So only prefix entries are indexed: candidate pairs from
    * common high-df background shingles never form, and survivors are
    * verified with an exact intersection count. At 100 TB this is the
    * difference between pairs ∝ (docs sharing ANY shingle) and pairs ∝
    * (near-duplicates) — measured 822k candidate pairs → ~2k at sf0.1,
    * same 25 result rows.
    *
    * On top of the prefix filter sits PPJoin's POSITIONAL filter (the
    * PPJoin → PPJoin+ step): both shingle lists are sorted by the same
    * global (df, hash) order, so for a pair's earliest shared prefix
    * token at 1-based positions (i, j) every other shared token lies in
    * both suffixes, giving overlap ≤ 1 + min(n_a - i, n_b - j); J ≥ 0.6
    * needs overlap ≥ ⌈3(n_a+n_b)/8⌉, so pairs whose bound falls short are
    * pruned BEFORE the shingle-set join — exact, never drops a true
    * pair. Because sorting is identical on both sides, min(pos_a) and
    * min(pos_b) over a pair's shared buckets both come from that same
    * earliest token, so the per-pair aggregate that replaced the old
    * DISTINCT computes the bound for free. */
  def q35NgramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardCollapsed(collapsedDocs(s, dir))

  /** The collapsed q35 pipeline: PPJoin+ candidates + exact verification
    * over REPRESENTATIVES (df counted over reps — still a consistent
    * global shingle order shared by both sides, which is all the prefix
    * and positional bounds need; verification is exact either way), then
    * member re-expansion. Within-group pairs need ≥ 3 tokens (≥ 1
    * shingle — exactly when the uncollapsed pipeline pairs identical
    * docs) and score J = n/n = 1.0 exactly in both engines. */
  private def jaccardCollapsed(c: Collapsed): DataFrame =
    expandRepPairs(repPairsJaccard(c),
      c, Seq(lit(1.0).as("jaccard")), col("n_toks") >= 3L)

  /** Rep-level (uncollapsed-id) verified pairs — q214's weighted-count
    * input. The docsets window and the verification stage are spread
    * when the collapse checkpoint is narrow (`Tables.narrowScan` on the
    * groups frame — the same test as the collapse-input spread; the
    * reps themselves are already spread by then, so the test cannot be
    * re-taken downstream). At cluster width neither spread fires. */
  private[graft] def repPairsJaccard(c: Collapsed): DataFrame = {
    val narrow = Tables.narrowScan(c.groups)
    verifiedCore(docSetsCore(repToks(c.reps), spread = narrow),
      positional = true, spread = narrow)
  }

  /** The q35 pipeline over an arbitrary `(doc_id, text)` frame — the
    * seam the ingest chunking contract ([[CurationOps.chunkDocs]]) plugs
    * into: the per-doc shingle buffers here are doc-length-bounded, and
    * that bound is ENFORCED (r8) by tokenizing through
    * [[TextFns.cappedToks]] — a document past
    * [[graft.functions.TextFns.DocTokenCap]] tokens fails loudly with a
    * pointer to `chunkDocs`, so the bound is a real number instead of
    * "the largest document anyone uploads". */
  private[graft] def ngramJaccardCore(docs: DataFrame): DataFrame =
    jaccardCollapsed(collapseExact(
      docs.select(col("doc_id"), normText(col("text")).as("norm"))))

  /** Per-doc df-sorted shingle-hash set + prefix (shared by candidate
    * generation and verification). */
  private def q35DocSets(s: SparkSession, dir: String): DataFrame =
    docSetsCore(docToks(s, dir))

  /** [[q35DocSets]] over a prebuilt `(doc_id, toks)` frame. `spread`
    * (r13): sticky width for the shingle-df WINDOW stage — its
    * hashpartitioning(shh) exchange is AQE-coalescible by compressed
    * bytes, and at bench scale the whole df count ran 3 tasks × ~740 ms
    * (q214). A `Tables.spread` on shh satisfies the window's required
    * distribution, so this REPLACES the implicit exchange rather than
    * adding one. */
  private[graft] def docSetsCore(toksDf: DataFrame,
      spread: Boolean = false): DataFrame = {
    // Shingles are hashed to longs before anything shuffles: the value is
    // only ever a join/group key, longs shuffle ~3× cheaper than strings,
    // and a 64-bit collision across ~10^5 distinct shingles is ~2^-30 —
    // the oracle compares final pairs, which hashing leaves untouched.
    // The fused gram3_hash64 produces the gram hashes straight from the
    // token array (chained XXH64 per gram) so no gram string is ever
    // allocated, concatenated, or copied.
    val sh = toksDf
      .select(col("doc_id"),
        explode(graft.functions.HashExprs.gram3_hash64(col("toks"))).as("shh"))
      .distinct()
    // one chained lineage: df via window over shh, then one groupBy packs
    // each doc's full (df-sorted) shingle set AND its prefix into arrays —
    // no self-joins against sh, no broadcast hints (everything per-doc /
    // per-shingle is unbounded at 100 TB; AQE decides join strategies).
    // ⌈0.6·n⌉ = (3n+4)/5 in exact integer math; sort_array on the
    // (df, shh) structs gives the rarest-first total order.
    val wsh = org.apache.spark.sql.expressions.Window.partitionBy(col("shh"))
    // deliberately NOT materialized although three consumers follow
    // (prefix index + both verification sides): each consumer prunes a
    // DIFFERENT column subset (the prefix branch never computes `set`),
    // so the three partial evaluations beat one full materialization —
    // measured 2.4s lazy vs 3.2s with localCheckpoint at sf0.1. At
    // cluster scale the same pruning argument holds per consumer; if the
    // corpus scan itself dominated, a checkpoint AFTER dropping `set`
    // (re-deriving it on the verify side) would be the switch to flip.
    // Known skew bound on the df window: a stop-gram's partition runs in
    // one task (WindowExec spills, so it degrades to slow, not OOM); df
    // only ORDERS the prefix cut, and hot grams sort last and never
    // enter prefixes, so the at-scale switch is df-by-join on the
    // checkpointed sh stream — paired with the checkpoint flip above,
    // not worth two extra shuffles while the lineage stays lazy.
    (if (spread) Tables.spread(sh, col("shh")) else sh)
      .withColumn("df", count(lit(1)).over(wsh))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shh")))).as("entries"))
      .select(col("doc_id"),
        size(col("entries")).cast("long").as("n_sh"),
        transform(col("entries"), e => e.getField("shh")).as("set"),
        transform(slice(col("entries"), lit(1),
          size(col("entries")) - (size(col("entries")) * 3 + 4) / 5 + 1),
          e => e.getField("shh")).as("prefix"))
  }

  /** Candidate pairs after prefix filtering; `positional` toggles the
    * PPJoin+ positional bound (spec compares candidate counts). */
  private[graft] def q35Candidates(s: SparkSession, dir: String,
      positional: Boolean): DataFrame =
    candidatesCore(q35DocSets(s, dir), positional)

  private[graft] def candidatesCore(docsets: DataFrame,
      positional: Boolean): DataFrame = {
    // candidates: pairs sharing a PREFIX shingle, size-ratio pruned
    // (J <= min/max < 0.6 is exact, so pruned pairs could never pass);
    // prefix entries carry their 0-based position for the PPJoin+ bound.
    //
    // Pairs form as a bucket SELF-JOIN of the prefix-entry stream on the
    // shingle hash — the q36 r6 reshape, applied here in r8 after the
    // shared-vocab scale run CAUGHT the previous collect_list(docs)-per-
    // bucket buffer growing linearly with exact-duplication multiplicity
    // (65 → 674 MB peak task memory at 10x dup-heavy data): a hot prefix
    // bucket is now JOIN VOLUME, never an aggregation buffer, and both
    // join sides are the same frame so ReuseExchange runs the prefix
    // pipeline once. Identical pair output (the old form enumerated the
    // same a<b combinations from its per-bucket list).
    val pre = docsets
      .select(col("doc_id"), col("n_sh"),
        posexplode(col("prefix")).as(Seq("pos", "shh")))
    val perBucket = pre
      .select(col("shh"), col("doc_id").as("doc_a"),
        col("n_sh").as("n_a"), col("pos").as("pa"))
      .join(pre.select(col("shh"), col("doc_id").as("doc_b"),
        col("n_sh").as("n_b"), col("pos").as("pb")), Seq("shh"))
      .filter(col("doc_a") < col("doc_b")
        && col("n_a") * 3 <= col("n_b") * 5 && col("n_b") * 3 <= col("n_a") * 5)
      .select(col("doc_a"), col("n_a"), col("pa"), col("doc_b"),
        col("n_b"), col("pb"))
    // one pair-keyed aggregate replaces the old DISTINCT (same shuffle);
    // min(pa)/min(pb) = positions of the pair's earliest shared prefix
    // token (identical sort order on both sides ⇒ both minima come from
    // that one token)
    val paired = perBucket
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        min(col("pa")).as("pa"), min(col("pb")).as("pb"))
    if (!positional) paired.select("doc_a", "n_a", "doc_b", "n_b")
    else paired
      // overlap ≥ ⌈3(n_a+n_b)/8⌉ is necessary for J ≥ 0.6; the earliest
      // shared token caps overlap at 1 + min(remaining_a, remaining_b)
      // (pa/pb are 0-based: remaining = n - pos - 1); shiftright(x,3) is
      // exact ⌊x/8⌋ for the non-negative operand
      .filter(lit(1L) + least(col("n_a") - col("pa") - 1, col("n_b") - col("pb") - 1)
        >= shiftright((col("n_a") + col("n_b")) * 3 + 7, 3))
      .select("doc_a", "n_a", "doc_b", "n_b")
  }

  private[graft] def q35Verified(s: SparkSession, dir: String,
      positional: Boolean): DataFrame =
    verifiedCore(q35DocSets(s, dir), positional)

  /** `spread` (r13): the candidate⋈set join's output stage evaluates
    * `array_intersect` over the full shingle sets, but AQE sizes the
    * post-join partitions by compressed BYTES — at bench scale the whole
    * exact-verification pass landed on ~4 of 32 cores (q214's 4-task
    * ~0.9 s stage). A `Tables.spread` on the pair key right before the
    * per-pair set intersection fixes that width; deterministic key,
    * exact math downstream. */
  private[graft] def verifiedCore(docsets: DataFrame,
      positional: Boolean, spread: Boolean = false): DataFrame = {
    val cands = candidatesCore(docsets, positional)
    // exact verification: set-intersection size over the candidates only
    val sa = docsets.select(col("doc_id").as("doc_a"), col("set").as("set_a"))
    val sb = docsets.select(col("doc_id").as("doc_b"), col("set").as("set_b"))
    val attached = cands.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
    (if (spread) Tables.spread(attached, col("doc_a"), col("doc_b")) else attached)
      .withColumn("n_inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= 0.6)
      .select("doc_a", "doc_b", "jaccard")
  }

  val q35Sql: String =
    s"""WITH sh AS (
      |  SELECT DISTINCT doc_id, UNNEST(${shinglesSql("w", 3)}) AS sh
      |  FROM (SELECT doc_id, ${tokensSql("text")} AS w FROM documents)),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6""".stripMargin

  /** MinHash signatures (6 md5-seeded permutations) + LSH banding (2 bands
    * of 3): candidate pairs agree on at least one full band.
    *
    * Pairs form by a bucket SELF-JOIN on (band, key) — join-output
    * volume, which AQE can skew-split, with O(1) task memory; the
    * round-5 bucket-and-explode kept a `collect_list` member buffer
    * whose size tracked the largest near-dup cluster (closed in r6, the
    * q70 reshape). Both join sides are the SAME frame, so the two
    * bucket-key shuffles canonicalize identically and ReuseExchange runs
    * the expensive md5 signature pipeline ONCE (plan-locked in
    * PlanShapeSpec). A pair agreeing in BOTH bands is emitted only from
    * band 1 (each side carries its band-1 key, one map-side predicate) —
    * no DISTINCT shuffle. */
  def q36MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val c = collapsedDocs(s, dir)
    // identical docs have identical signatures, hence identical band
    // keys: every within-group pair of a shingle-bearing (≥ 3 tokens)
    // group is in the uncollapsed output unconditionally, and every
    // cross-group member pair is present iff its representatives pair
    expandRepPairs(repPairsMinhash(c), c, Seq.empty, col("n_toks") >= 3L)
  }

  /** Rep-level MinHash-LSH banded pairs — the signature and band-join
    * stages, now over exact-dup representatives only. */
  private[graft] def repPairsMinhash(c: Collapsed): DataFrame = {
    val sh = repShingles(c)
    val mins = (1 to 6).map(i => min(hash60Seeded(i, col("sh"))).as(s"m$i"))
    val sig = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val keyed = sig.select(col("doc_id"),
      md5(concat_ws(",", col("m1"), col("m2"), col("m3"))).as("k1"),
      md5(concat_ws(",", col("m4"), col("m5"), col("m6"))).as("k2"))
    val banded = keyed.select(col("doc_id"), col("k1"),
      explode(array(
        struct(lit(1L).as("band"), col("k1").as("key")),
        struct(lit(2L).as("band"), col("k2").as("key")))).as("b"))
      .select(col("doc_id"), col("k1"), col("b.band").as("band"),
        col("b.key").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.band") === 1L || col("a.k1") =!= col("b.k1"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  val q36Sql: String =
    s"""WITH sh AS (
      |  SELECT DISTINCT doc_id, UNNEST(${shinglesSql("w", 3)}) AS sh
      |  FROM (SELECT doc_id, ${tokensSql("text")} AS w FROM documents)),
      |sig AS (
      |  SELECT doc_id,
      |    min(${hash60SeededSql(1, "sh")}) AS m1,
      |    min(${hash60SeededSql(2, "sh")}) AS m2,
      |    min(${hash60SeededSql(3, "sh")}) AS m3,
      |    min(${hash60SeededSql(4, "sh")}) AS m4,
      |    min(${hash60SeededSql(5, "sh")}) AS m5,
      |    min(${hash60SeededSql(6, "sh")}) AS m6
      |  FROM sh GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, 1 AS band, md5(m1 || ',' || m2 || ',' || m3) AS key FROM sig
      |  UNION ALL
      |  SELECT doc_id, 2 AS band, md5(m4 || ',' || m5 || ',' || m6) AS key FROM sig)
      |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |FROM banded x JOIN banded y
      |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id""".stripMargin

  /** 16-bit SimHash from per-token md5 nibble votes; near-dup pairs are
    * generated per 4-bit band block and kept when Hamming distance <= 3. */
  def q37Simhash(s: SparkSession, dir: String): DataFrame = {
    val c = collapsedDocs(s, dir)
    // a SimHash is a pure function of the token multiset, so identical
    // docs pair at Hamming 0 from their first band unconditionally —
    // every non-NULL-text group is within-eligible (even an empty norm
    // tokenizes to [""] and gets a simhash)
    expandRepPairs(repPairsSimhash(c), c,
      Seq(lit(0L).as("hamming")), lit(true))
  }

  /** Rep-level SimHash banded pairs (votes, banding, and the bucket
    * self-join over exact-dup representatives only). */
  private[graft] def repPairsSimhash(c: Collapsed): DataFrame = {
    // one fused md5-sign-mask per token row (graft.functions.HashExprs):
    // bit b of the mask == "b-th md5 hex digit >= 8", so the 16 per-bit
    // vote aggregates become codegen'd bit tests instead of 16
    // conv(substring(hex)) string evaluations (Spark does not CSE across
    // aggregate expressions; measured ~2× on the whole query)
    val toks = c.reps
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("tok"))
      .select(col("doc_id"),
        graft.functions.HashExprs.md5_signmask16(col("tok")).as("m"))
    val votes = (1 to 16).map { b =>
      sum(when(shiftright(col("m"), b - 1).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    val sim = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (1 to 16).map(b => when(col(s"v$b") > 0, 1L).otherwise(0L) * (1L << (b - 1)))
          .reduce(_ + _).as("simhash"))
      // each side's exact-dup multiplicity rides the per-doc frame from
      // here (one doc-level join of two pruned longs — the checkpointed
      // groups frame — reusing sim's own doc_id partitioning), so the
      // pair stream below can split on dup-ness MAP-SIDE: q37's pair
      // stream is corpus-dense, and expansion must never shuffle the
      // singleton-only majority (r9 tagged probe: two SMJs of a 33M-pair
      // stream against an EMPTY dup map)
      .join(c.groups.select(col("rep_id").as("doc_id"), col("mult")),
        Seq("doc_id"))
    val banded = sim.select(col("doc_id"), col("simhash"), col("mult"),
      explode(array((0 until 4).map(k =>
        struct(lit(k.toLong).as("band"),
          shiftright(col("simhash"), k * 4).bitwiseAND(15L).as("key"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("mult"),
        col("b.band").as("band"), col("b.key").as("key"))
    // pairs form by a bucket SELF-JOIN on (band, key) — join-output
    // volume (AQE-skew-splittable, O(1) task memory) instead of the
    // round-5 collect_list member buffer (closed in r6, the q70
    // reshape). Both sides are the SAME frame, so ReuseExchange runs the
    // token-vote aggregation once. A pair matching in several bands is
    // emitted only from its FIRST matching band (each side carries its
    // full simhash, so earlier-band agreement is one map-side
    // predicate) — no multi-million-row DISTINCT shuffle.
    def nibble(c: Column, j: Int): Column =
      shiftright(c, j * 4).bitwiseAND(15L)
    val firstBandOnly = (0 until 4).map { j =>
      when(col("a.band") > j,
        nibble(col("a.simhash"), j) =!= nibble(col("b.simhash"), j))
        .otherwise(lit(true))
    }.reduce(_ && _)
    // hint("merge"): the (band, key) domain is FIXED at 4×16 = 64
    // values, so a hash join degenerates into 64 chains each holding
    // n/64 of the corpus — probing is one pointer-chased cache miss per
    // chain entry, measured 8–11× slower than the sort-merge run
    // product on identical data (48 s vs 4.4–6.1 s at 10×; the r9
    // collapse checkpoint's accurate small stats is what flipped the
    // planner to broadcast-hash here). SMJ is the right physical shape
    // for a low-cardinality high-fanout self-join at EVERY scale — at
    // 100 TB the sides exceed any broadcast threshold and SMJ is chosen
    // anyway; the hint only pins the small-stats regime to the same
    // plan. (A strategy hint, not a broadcast of unbounded data — the
    // forced-broadcast lint class is about the opposite flip.)
    banded.as("a").hint("merge").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .filter(firstBandOnly)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"),
        col("a.mult").as("mult_a"), col("b.mult").as("mult_b"))
      .filter(col("hamming") <= 3)
  }

  val q37Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, md5(tok) AS h
      |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok FROM documents)),
      |sim AS (
      |  SELECT doc_id,
      |""".stripMargin +
      (1 to 16).map { b =>
        s"    sum(CASE WHEN substr(h, $b, 1) >= '8' THEN 1 ELSE -1 END)"
      }.zipWithIndex.map { case (v, i) =>
        s"(CASE WHEN $v > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("", " +\n", s" AS simhash\n") +
      """  FROM toks GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, simhash, g.band, (simhash >> (g.band * 4)) & 15 AS key
      |  FROM sim, UNNEST([0, 1, 2, 3]) AS g(band))
      |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |  bit_count(xor(x.simhash, y.simhash)) AS hamming
      |FROM banded x JOIN banded y
      |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin

  /** Embedding near-dup: cosine over 1e-3-quantized integer vectors inside
    * cluster-label blocks. All arithmetic up to the final sqrt/division is
    * exact integer math, so the cosine double is bit-identical to DuckDB
    * and the 0.4 threshold is safe. */
  def q38EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("q"))
      .withColumn("n2", graft.functions.VectorExprs.quantized_norm2(col("q")))
      // zero-norm contract (SimilarityOps.quantized): no direction, no
      // cosine — excluded on both engines
      .filter(col("n2") > 0)
    q38Auto(e)
  }

  /** The within-label all-pairs core (the declared q38 semantics),
    * runnable on the raw frame or on collapsed representatives. */
  private def q38Core(e: DataFrame): DataFrame = {
    val a = e.select(col("label"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("n2").as("na2"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("n2").as("nb2"))
    a.join(b, Seq("label")).filter(col("vec_a") < col("vec_b"))
      .withColumn("dot",
        graft.functions.VectorExprs.quantized_dot(col("qa"), col("qb")))
      .withColumn("cos",
        col("dot").cast("double")
          / sqrt(col("na2").cast("double") * col("nb2").cast("double")))
      .filter(col("cos") >= 0.4)
      .select("label", "vec_a", "vec_b", "cos")
  }

  /** Adaptive q38: at or below [[Skew.FanoutPinThreshold]] dup vectors
    * ([[Skew.dupMass]] of the (label, q) fingerprint) the raw
    * within-label join runs; above it, pairs form on (label, q)
    * collapsed representatives and expand to members — a duplicated
    * vector's copies otherwise enumerate C(m,2) pairs inside one label
    * block (zipf 3000 copies measured ×14.8, 94% single-task). The
    * label rides the member map as expansion payload so within-group
    * pairs re-emit it; their cosine is the group's n2 pushed through
    * the raw branch's own FP sequence (see [[withinCos]]). Output
    * identical, straddle-spec'd. */
  private[graft] def q38Auto(e: DataFrame,
      pinThreshold: Long = Skew.FanoutPinThreshold): DataFrame = {
    // NULL-label rows can never pair in the raw form (the equi-join
    // drops them: null ≠ null) — but a collapsed null-label GROUP
    // would emit its within pairs, a silent null-semantics parity
    // break. Excluded before the collapse; straddle-fuzz seeds a
    // null-label dup group to keep it that way. The probe runs on the
    // same filtered frame: duplication in null-label rows gives the
    // collapse nothing to merge, so it must not buy the collapse
    // checkpoints.
    val nn = e.filter(col("label").isNotNull)
    if (Skew.dupMass("vector_dup_mass", nn, xxhash64(col("label"), col("q")))
        <= pinThreshold) q38Core(e)
    else {
      val c = collapseVectors(nn, Seq("label"), Seq("label", "n2"))
      val repPairs = q38Core(c.reps)
        .withColumnRenamed("vec_a", "doc_a")
        .withColumnRenamed("vec_b", "doc_b")
      expandRepPairs(repPairs, c,
        Seq(col("x.label").as("label"), withinCos), lit(true))
        .select(col("label"), col("doc_a").as("vec_a"),
          col("doc_b").as("vec_b"), col("cos"))
    }
  }

  /** Within-group cosine for the collapsed branches: the group's copies
    * are IDENTICAL vectors, so the raw join would compute
    * `dot(q,q).cast(double) / sqrt(n2.cast(double) * n2.cast(double))`
    * — and `dot(q,q)` bit-equals `n2` (both are the same exact-int64
    * accumulation, [[graft.functions.VectorExprs]]). Re-emitting that
    * EXACT floating-point sequence from the carried group n2 makes the
    * collapsed output bit-identical to the raw branch at ANY norm: a
    * `lit(1.0)` (the r11 form) is exact only while n2² < 2⁵³
    * (n2 ≤ 94 906 265 — NOT n2 < 2⁵³ as the r11 scaladoc claimed;
    * a 64-dim |x|≈1.2 corpus quantized at 1e-3 already crosses it),
    * above which `sqrt(fl(n2²))` can land an ulp off n2 and the raw
    * branch's cos ≠ 1.0. The reconstruction closes that seam instead
    * of guarding it: identical casts, identical multiply, identical
    * sqrt, identical divide — no magnitude precondition at all. The
    * value is within an ulp of 1.0 either way, so the ≥ 0.4 acceptance
    * filter never disagrees. */
  private def withinCos: Column = {
    val n2d = col("x.n2").cast("double")
    (n2d / sqrt(n2d * n2d)).as("cos")
  }

  val q38Sql: String =
    """WITH q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, q,
      |    list_sum(list_transform(q, x -> x * x)) AS n2
      |  FROM q WHERE n2 > 0)
      |SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
      |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
      |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= 0.4""".stripMargin

  /** Label-free embedding near-dup: LSH hyperplane buckets (no cluster
    * column assumed — the true 100 TB path) then exact cosine inside each
    * bucket.
    *
    * SIZE THE BAND STRUCTURE TO THE CORPUS — that is the whole scale
    * contract of hyperplane LSH. Expected bucket size is N / 2^bits, so
    * pick `bitsPerBand` ≈ log2(N / targetBucketSize); a pair whose
    * per-plane agreement probability is s survives with
    * 1 − (1 − s^bits)^bands, so raising bits for a bigger corpus means
    * adding bands to hold recall. A CONSTANT structure is the trap: the
    * declared q49 pins 2 bands × 4 bits for the 2k-vector testdata
    * (16 buckets/band ≈ 125 vectors each), and that same structure at
    * 1e9 vectors would put ~6e7 vectors in one bucket — a pair stage
    * degenerating toward all-pairs/16. With buckets held at a constant
    * target size the bucket² pair volume stays bounded regardless of N
    * (and since r6 pairs form as join output, not from a collected
    * member list, even a mis-sized bucket costs volume, not task
    * memory). */
  def embeddingLshPairs(e: DataFrame, bandsN: Int, bitsPerBand: Int,
      minCos: Double): DataFrame = {
    import graft.functions.VectorExprs.quantized_dot
    val planes = SimilarityOps.planesFor(bandsN * bitsPerBand)
    val bands = (0 until bandsN).map { bnd =>
      val key = (0 until bitsPerBand).map { p =>
        val plane = array(
          planes(bnd * bitsPerBand + p).toIndexedSeq.map(c => lit(c.toFloat)): _*)
        when(quantized_dot(col("q"), plane) > 0, 1L << p).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(bnd.toLong).as("band"), key.as("key"))
    }
    // all band keys ride each row (keys array) so (1) the expensive
    // hyperplane-dot key pass runs once per vector and (2) a pair
    // agreeing in several bands is emitted only from its FIRST matching
    // band — a map-side predicate over the two key arrays, no DISTINCT.
    // Pairs form by a bucket SELF-JOIN on (band, key): join-output
    // volume (AQE-skew-splittable, O(1) task memory) instead of the
    // round-5 collect_list bucket buffer (closed in r6, the q70
    // reshape); both sides are the SAME frame, so ReuseExchange runs the
    // key pass once.
    val banded = e.select(col("vec_id"), col("q"), col("n2"),
      array((0 until bandsN).map(bnd => bands(bnd).getField("key")): _*)
        .as("keys"))
      .select(col("vec_id"), col("q"), col("n2"), col("keys"),
        explode(array((0 until bandsN).map(bnd =>
          struct(lit(bnd.toLong).as("band"),
            col("keys").getItem(bnd).as("key"))): _*)).as("b"))
      .select(col("vec_id"), col("q"), col("n2"), col("keys"),
        col("b.band").as("band"), col("b.key").as("key"))
    val firstBandOnly = (0 until bandsN).map { j =>
      when(col("a.band") > j,
        col("a.keys").getItem(j) =!= col("b.keys").getItem(j))
        .otherwise(lit(true))
    }.reduce(_ && _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.vec_id") < col("b.vec_id"))
      .filter(firstBandOnly)
      .withColumn("cos", quantized_dot(col("a.q"), col("b.q")).cast("double")
        / sqrt(col("a.n2").cast("double") * col("b.n2").cast("double")))
      .filter(col("cos") >= minCos)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("cos"))
  }

  def q49EmbeddingLshDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs.quantized_norm2
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("q"))
      .withColumn("n2", quantized_norm2(col("q")))
      .filter(col("n2") > 0) // zero-norm contract (SimilarityOps.quantized)
    embeddingLshAuto(e)
  }

  /** Collapse a quantized-vector frame by exact content — the q35/q70
    * idiom carried to the embedding family (r11, after the zipf
    * duplicate-vector fixture measured q38 ×14.8 / q49 ×10.9 / q112
    * ×19.2 at 3000 copies, each ~95% single-task: duplicate vectors
    * pile one LSH bucket / label block exactly like duplicate documents
    * pile a gram key, and AQE cannot see the pair OUTPUT). `keyCols`
    * join the fingerprint (q38 collapses per (label, q) — equal vectors
    * under different labels must NOT merge); `payload` columns ride the
    * member map for the within-branch of [[expandRepPairs]] to re-emit
    * (the label of a within pair is its group's label). */
  private[graft] def collapseVectors(e: DataFrame, keyCols: Seq[String],
      payload: Seq[String]): Collapsed = {
    val fp = struct(keyCols.map(col) ++ Seq(
      xxhash64(col("q")), xxhash64(lit(1), col("q"))): _*)
    val fped = e.withColumn("fp", fp)
    val carried = (keyCols ++ Seq("q", "n2")).distinct
    val groups = fped.groupBy(col("fp"))
      .agg(min(col("vec_id")).as("rep_id"),
        // identical within a group by construction (fp covers them)
        carried.map(c => first(col(c)).as(c)) :+ count(lit(1)).as("mult"): _*)
      .localCheckpoint(true)
    Collapsed(
      reps = groups.select(col("rep_id").as("vec_id") +: carried.map(col): _*),
      map = fped.select(Seq(col("vec_id").as("doc_id"), col("fp")) ++
          payload.map(col): _*)
        .join(groups.select(col("fp"), col("rep_id")), Seq("fp"))
        .select(Seq(col("doc_id"), col("rep_id")) ++ payload.map(col): _*)
        .localCheckpoint(true),
      groups = groups.select(col("rep_id"), col("mult")))
  }

  /** Adaptive q49: raw banded join at or below
    * [[Skew.FanoutPinThreshold]] dup vectors ([[Skew.dupMass]] of the q
    * fingerprint), collapse + expansion above. Identical output:
    * identical vectors share every band key, so within-group pairs are
    * emitted with the raw join's own cosine FP sequence reconstructed
    * from the group n2 ([[withinCos]], exact at any norm); cross pairs
    * score their representatives' vectors, which equal every member's.
    * Parity + branch witness straddle-spec'd (DispatchStraddleSpec). */
  private[graft] def embeddingLshAuto(e: DataFrame,
      pinThreshold: Long = Skew.FanoutPinThreshold): DataFrame =
    if (Skew.dupMass("vector_dup_mass", e, xxhash64(col("q"))) <= pinThreshold)
      embeddingLshPairs(e, bandsN = 2, bitsPerBand = 4, minCos = 0.4)
    else {
      val c = collapseVectors(e, Seq.empty, Seq("n2"))
      val repPairs = embeddingLshPairs(c.reps, bandsN = 2, bitsPerBand = 4,
          minCos = 0.4)
        .withColumnRenamed("vec_a", "doc_a")
        .withColumnRenamed("vec_b", "doc_b")
      expandRepPairs(repPairs, c, Seq(withinCos), lit(true))
        .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
          col("cos"))
    }

  val q49Sql: String = {
    val planes = SimilarityOps.planes
    def keyExpr(bnd: Int, qcol: String) = (0 until 4).map { p =>
      val lits = planes(bnd * 4 + p).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip($qcol, $lits), p -> p[1] * p[2])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM qv WHERE n2 > 0),
       |banded AS (
       |  SELECT vec_id, q, n2, 0 AS band, ${keyExpr(0, "q")} AS key FROM n
       |  UNION ALL
       |  SELECT vec_id, q, n2, 1 AS band, ${keyExpr(1, "q")} AS key FROM n)
       |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
       |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
       |    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) >= 0.4""".stripMargin
  }

  /** Connected components over an undirected edge list `(doc_a, doc_b)`:
    * iterative min-label propagation — each round every node adopts the
    * minimum label in its closed neighborhood; converges in O(diameter)
    * rounds (near-dup components are LSH-bucket cliques, diameter ≤ ~2, so
    * 2–3 rounds in practice; `maxIter` caps pathological chains). Each
    * round is one shuffle on node id; the only driver-side value is the
    * one-row convergence count. At 100 TB this is the standard
    * pairs→clusters step of a dedup pipeline (GraphX-free). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the edge list once — it is consumed every round, and
    // without truncation each round would re-run the upstream pair
    // pipeline (e.g. the whole MinHash index) per join.
    // PRE-PARTITIONED on the round-join key (r12, guide §2.4): every
    // round joins `bidir` on `dst`, so checkpointing it hash(dst) means
    // the loop's joins never exchange the EDGE side again — the label
    // frame is the only thing that moves per round (locally the labels
    // broadcast and the BHJ preserves this layout for the groupBy;
    // at scale the SMJ/SHJ reuses it outright). One narrow shuffle at
    // build time replaces an O(rounds) × |E| exchange stream.
    val bidir = Tables.spread(
        edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
        col("dst"))
      .localCheckpoint(true)
    // ROUND 1 FUSED INTO INITIALIZATION (r12): the old init
    // (labels = distinct nodes, label = self) spent a full round —
    // join + checkpoint + convergence probe, two driver job
    // round-trips — computing exactly `min(self, neighbors)`, which is
    // one exchange-free aggregate over the dst-partitioned checkpoint
    // (the graph is symmetric, so grouping by dst enumerates every
    // node's closed neighborhood). Same fixpoint, one round fewer:
    // near-dup components are diameter ≤ ~2, so this is 1 of ~3 rounds.
    var labels = bidir.groupBy(col("dst").as("node"))
      .agg(min(col("src")).as("nbr"))
      .select(col("node"), least(col("node"), col("nbr")).as("label"))
    var prevRound: DataFrame = null
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      val neighborMin = bidir
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("label")).as("nbr_label"))
      // one materialization per round AND one driver job per round
      // (r13): the convergence probe rides the checkpoint job itself —
      // `observe` plants a CollectMetrics node whose changed-label count
      // accumulates WHILE the eager localCheckpoint materializes the
      // round (both run under the same action), so the old follow-up
      // `filter(label =!= old).isEmpty` job — one ~60 ms driver
      // round-trip per round on a degraded-latency box — disappears.
      // The checkpoint still truncates lineage so round n+1 never
      // re-runs round n's join (a naive count-then-checkpoint sequence
      // evaluates the round THREE times).
      val probe = org.apache.spark.sql.Observation(s"cc_round_$i")
      val next = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .observe(probe,
          sum(when(col("label") =!= col("old"), 1L).otherwise(0L)).as("changed"))
        .localCheckpoint(true)
      // `next` is materialized, so round n-1's checkpoint is now dead —
      // release it, or executor storage grows O(rounds)
      if (prevRound != null) {
        org.apache.spark.sql.GraftShims.unpersistCheckpoint(prevRound)
      }
      prevRound = next
      // sum() over an empty frame is null — an empty label set has
      // nothing left to propagate, i.e. converged
      converged = probe.get.get("changed") match {
        case Some(n: Long) => n == 0L
        case _ => true
      }
      labels = next.select("node", "label")
      i += 1
    }
    // after ≥1 checkpointed round `labels` is rooted at the final
    // round's checkpoint, so the edge-list checkpoint is dead too (keep
    // it in the degenerate maxIter ≤ 1 case, where the fused-init
    // labels still read `bidir`)
    if (prevRound != null)
      org.apache.spark.sql.GraftShims.unpersistCheckpoint(bidir)
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Near-dup clusters: components of the MinHash-LSH pair graph, cluster
    * id = smallest member. Only docs appearing in at least one pair are
    * emitted (singletons are trivially their own cluster).
    *
    * Connected components over the q36 near-dup pair graph — but fed a
    * CONNECTIVITY-EQUIVALENT edge set instead of the expanded member
    * pairs (r12): rep-level LSH pairs ∪ one member→rep STAR edge per
    * member of a within-eligible (≥ 3 tokens, mult ≥ 2) dup group.
    * Equivalence is exact, both ways:
    *
    *  - components: an expanded within pair (a, b) of group g is
    *    connected via a–rep(g)–b; an expanded cross pair (a, b) with
    *    reps (ra, rb) is connected via a–ra–rb–b (the rep pair exists
    *    iff the cross pairs do, and a cross-participating group always
    *    has ≥ 3 tokens — no signature, no pair — so its star exists);
    *    conversely every star/rep edge connects nodes the expanded
    *    graph also connects.
    *  - node domain: expanded-graph nodes are exactly members of
    *    eligible dup groups (within pairs) plus reps in rep pairs
    *    (cross pairs, singletons included via the left-coalesce
    *    fallback) — the star contributes precisely the former, the rep
    *    pairs precisely the latter.
    *  - labels: cluster_id = min doc_id of the component, and rep_id
    *    IS its group's min doc_id, so the min over a component is the
    *    same either way. Output bit-identical (spec'd on a mega corpus
    *    against the expanded form, OperatorSpec).
    *
    * Why it matters at scale: CC is ITERATIVE — every round joins the
    * label frame to the edge list, so edge count is the multiplier the
    * whole loop pays. A 3·10⁴-member boilerplate group expands to
    * C(M,2) ≈ 4.5·10⁸ member pairs that carry ZERO connectivity
    * information beyond their group's M-edge star: the substitution
    * cuts the mega group's CC edges by a factor of (M−1)/2 (measured:
    * the member-pair form ran the q64 zipf 3·10⁴ fixture into the
    * tens-of-minutes regime; the star form holds the q36-family's
    * seconds — SCALING.md r12). Consumers of the DECLARED pair set
    * (q83 triangles — triangle counts are NOT connectivity-invariant)
    * keep the expanded graph. */
  def q64DedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersFromCollapsed(collapsedDocs(s, dir))

  /** r12: the ITERATIVE loop now runs on the REP graph alone; the star
    * edges never enter it. [[ccEdgesMinhash]]'s member→rep star edges
    * are connectivity-inert pendants — every member's component is its
    * rep's component, and the component minimum is always a rep id
    * (rep_id = group min, members ≥ their rep) — so propagating labels
    * through them inside the loop costs O(members) join rows per round
    * (plus one extra round for the pendant hop) to compute what ONE
    * post-loop join can attach. CC(repPairs) + star attachment:
    *
    *  - members of within-eligible dup groups take their rep's
    *    component label, falling back to rep_id when the rep is in no
    *    rep pair (the isolated-star component, labelled by its rep
    *    = group min);
    *  - reps appearing in rep pairs but not in any eligible group
    *    (mult = 1 content) come straight from the rep CC.
    *
    * Node domain and labels are exactly [[ccEdgesMinhash]]'s — spec'd
    * both against the expanded member-pair CC and against the star CC
    * (OperatorSpec). The loop's per-round join shrinks from
    * O(members + rep pairs) to O(rep pairs), and converges one round
    * earlier (the member pendants added a hop of eccentricity). */
  private[graft] def clustersFromCollapsed(c: Collapsed): DataFrame = {
    val repLabels = connectedComponents(repPairsMinhash(c))
    val eligible = c.groups.filter(col("n_toks") >= 3L && col("mult") >= 2L)
      .select(col("rep_id"))
    // all members of eligible groups, the rep's own row included
    val members = c.map.join(eligible, Seq("rep_id"), "left_semi")
    val starSide = members.join(
        repLabels.select(col("doc_id").as("rep_id"),
          col("cluster_id").as("rep_label")),
        Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_label"), col("rep_id")).as("cluster_id"))
    val pairOnly = repLabels
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
    starSide.unionByName(pairOnly)
  }

  /** The connectivity-equivalent edge set of [[q64DedupClusters]]'
    * scaladoc: rep-level LSH pairs ∪ member→rep stars of
    * within-eligible dup groups. Factored out so the equivalence is a
    * SPEC (OperatorSpec compares components against the expanded
    * member-pair graph on a mega corpus), not just an argument. */
  private[graft] def ccEdgesMinhash(c: Collapsed): DataFrame = {
    val star = c.map.join(
        c.groups.filter(col("n_toks") >= 3L && col("mult") >= 2L)
          .select(col("rep_id")),
        Seq("rep_id"), "left_semi")
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id").as("doc_a"), col("rep_id").as("doc_b"))
    repPairsMinhash(c).unionByName(star)
  }

  val q64Sql: String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT doc_a, doc_b FROM (
       |${q36Sql.linesIterator.map("    " + _).mkString("\n")}
       |  ) p),
       |bidir AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION SELECT doc_b, doc_a FROM edges),
       |reach(src, dst) AS (
       |  SELECT src, src FROM bidir
       |  UNION
       |  SELECT r.src, b.dst FROM reach r JOIN bidir b ON r.dst = b.src)
       |SELECT src AS doc_id, min(dst) AS cluster_id
       |FROM reach GROUP BY src""".stripMargin

  /** Cluster canonical selection: from every near-dup cluster keep its
    * BEST member — argmax quality with a doc_id tiebreak — not an
    * arbitrary one (the q36 "drop the larger id" convention loses the
    * better copy whenever the cleaner rewrite has the higher id; real
    * curation keeps the highest-quality representative). Emits each
    * cluster's canonical doc with the cluster size for audit.
    *
    * Scale shape: the cluster map is PAIRS-bounded (near-dups only, from
    * the bucket-bounded q36→q64 pipeline), the quality join is key-keyed,
    * and the per-cluster argmax runs on the bounded-heap TopKPerKey
    * operator (partial pass caps each cluster at 1 row per map task
    * BEFORE the shuffle — a giant boilerplate cluster ships #tasks rows,
    * not its membership). Cluster sizes are a second tiny aggregate of
    * the same map. Quality doubles are the engine-identical q32 formula,
    * so the argmax (and hence the hash) is deterministic cross-engine. */
  def q118ClusterCanonical(s: SparkSession, dir: String): DataFrame = {
    val clusters = q64DedupClusters(s, dir)
    val quality = TextOps.scoredDocs(s, dir)
      .select(col("doc_id"), col("quality"))
    val best = graft.plans.TopKPerKey.perKey(
      clusters.join(quality, Seq("doc_id")),
      keys = Seq("cluster_id"),
      order = Seq("quality" -> true, "doc_id" -> false), k = 1)
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    best.join(sizes, Seq("cluster_id"))
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("quality"), col("n_members"))
  }

  val q118Sql: String =
    s"""WITH clusters AS (
       |${q64Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |scored AS (${TextOps.scoredSql}),
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, s.quality,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |                       ORDER BY s.quality DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN scored s ON s.doc_id = c.doc_id),
       |sizes AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
       |  FROM clusters GROUP BY cluster_id)
       |SELECT r.cluster_id, r.doc_id AS keep_id, r.quality, z.n_members
       |FROM ranked r JOIN sizes z ON z.cluster_id = r.cluster_id
       |WHERE r.rn = 1""".stripMargin

  /** Leakage-free train/eval split: assignment is decided per NEAR-DUP
    * CLUSTER (q64's components; unpaired docs are their own singleton
    * cluster), so two near-duplicate documents can never land on opposite
    * sides of the split — the contamination mode that silently inflates
    * eval scores when splitting per-document. The 90/10 membership is the
    * deterministic salted-hash recipe on the cluster id, so the split is
    * reproducible and shard-order independent. One broadcast-sized join
    * of the (tiny) pair-cluster map onto the corpus; everything upstream
    * is the bucket-bounded q36→q64 pipeline. */
  def q89LeakFreeSplit(s: SparkSession, dir: String): DataFrame = {
    val clusters = q64DedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(pmod(graft.functions.TextFns.hash60(
          concat(lit("split:"), col("cluster_id").cast("string"))),
          lit(100L)) < 90, "train").otherwise("eval"))
  }

  val q89Sql: String =
    s"""WITH clusters AS (
       |${q64Sql.linesIterator.map("  " + _).mkString("\n")}
       |)
       |SELECT d.doc_id,
       |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |  CASE WHEN ${hash60Sql("'split:' || coalesce(c.cluster_id, d.doc_id)")} % 100 < 90
       |    THEN 'train' ELSE 'eval' END AS split
       |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id""".stripMargin

  /** Triangle counts over an ORIENTED edge list (`doc_a < doc_b`), rooted
    * at each triangle's minimum-ID vertex. Two enumeration branches,
    * dispatched by a skew probe: the naive id-ordered
    * e1(a,b)⋈e2(b,c)⋈e3(a,c) node-iterator, and DEGREE-ORDERED
    * enumeration (Suri & Vassilvitskii, "Counting Triangles and the
    * Curse of the Last Reducer", WWW 2011): re-orient every edge from
    * its lower-(degree, id) endpoint to the higher, enumerate wedges as
    * out-neighbor pairs of the LOW-degree endpoint, then close each
    * wedge against the canonical edge list. The triangle set (and the
    * min-id rooting of the output) is identical in both — what changes
    * is WHERE the wedge volume lands.
    *
    * Why not id-ordering always (the r1–r10 form, still reachable as
    * `trianglesAdaptive(e, Long.MaxValue)`): a degree-d hub with ids on
    * both sides emits in(hub)·out(hub) ≈ d²/4 wedge rows under ONE join
    * key, and AQE cannot split it — skew handling sizes partitions by INPUT
    * bytes (a hub's d edge rows are KBs) and is blind to join fan-out,
    * the exact q37-expansion blindness SCALING.md r10 measured. One
    * task then generates the whole wedge stream while the rest of the
    * cluster idles. Degree-ordering bounds every node's out-degree by
    * O(√E) on bounded-arboricity graphs (a star hub emits ZERO wedges:
    * all its edges point IN), so total wedge work is the theoretical
    * O(E^1.5) and no single key carries a quadratic share.
    *
    * Why not degree-ordering always: it prices a degree aggregate plus
    * two degree joins onto EVERY call, measured +17% on the hub-free
    * q36 graph at sf0.1 (PerfAB q83 pair) — the q37 fan-out-pin lesson
    * again: an unconditional skew defense is pure cost on the corpora
    * that don't need it. So the dispatch is ADAPTIVE, the repo's
    * standing idiom: one probe aggregate over the already-checkpointed
    * edge list computes the id-ordered plan's worst single-key wedge
    * output max_b in(b)·out(b); below [[Skew.SingleTaskRows]] the probe
    * says no task can stall and the cheap id-ordered form runs, above
    * it the degree-ordered form spreads the hub. Both enumerate the
    * SAME rooted counts (spec-asserted on star and K4 graphs, corpus-
    * asserted in OperatorSpec), so the dispatch is invisible to the
    * oracle.
    *
    * Run it on a SPARSE verified graph: clique-shaped inputs (e.g. the
    * raw simhash band graph, whose 16-bit keys collapse this corpus
    * into huge near-cliques: 3.3M edges / 218 s at sf0.1) are quadratic
    * in the TRIANGLE OUTPUT itself — the Jaccard-VERIFIED q36 graph is
    * the right input, as for q64. */
  def triangles(edges: DataFrame): DataFrame =
    trianglesAdaptive(edges, Skew.SingleTaskRows)

  /** Rooted triangle counts `(doc_id, n_triangles)` with the orientation
    * bar injectable: `Long.MaxValue` forces the id-ordered arm (the
    * PerfAB baseline), `1` the degree-ordered arm. */
  private[graft] def trianglesAdaptive(edges: DataFrame,
      threshold: Long): DataFrame =
    enumerateTriangles(edges, threshold, "wedge_product")(
      _.groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("n_triangles")),
      _.groupBy(least(col("u"), col("x"), col("y")).as("doc_id"))
        .agg(count(lit(1)).as("n_triangles")))

  /** The one triangle enumeration behind [[trianglesAdaptive]] and
    * [[triangleTriples]]. Checkpoints the canonical edge list, probes the
    * id-ordered plan's worst single-key wedge output max_b in(b)·out(b)
    * ([[Skew.maxFan]] as `probe`), and hands the closed wedges of
    * the chosen orientation to that arm's consumer: `idArm` sees
    * id-ordered triples `(a < b < c)`, `degArm` sees degree-ordered
    * wedges `(u, x, y)` (u the lowest-(degree, id) corner). Returns the
    * consumer's output checkpointed; the degree arm checkpoints its
    * oriented frame too (consumed twice by the wedge self-join) and
    * releases it, so it runs one job more than the id arm. */
  private def enumerateTriangles(edges: DataFrame, threshold: Long,
      probe: String)(idArm: DataFrame => DataFrame,
      degArm: DataFrame => DataFrame): DataFrame = {
    val e = edges.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    // the id-ordered wedge stage joins in-edges (doc_b = b) to
    // out-edges (doc_a = b): two node-count-sized aggregates over the
    // checkpointed edges
    val maxWedge = Skew.maxFan(probe,
      e.groupBy(col("doc_b").as("v")).agg(count(lit(1)).as("i"))
        .join(e.groupBy(col("doc_a").as("v")).agg(count(lit(1)).as("o")), Seq("v")),
      "i", "o")
    val out =
      if (maxWedge <= threshold.toDouble) {
        val e1 = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
        val e2 = e.select(col("doc_a").as("b2"), col("doc_b").as("c"))
        val e3 = e.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
        idArm(e1.join(e2, col("b") === col("b2"))
          .join(e3, col("a") === col("a3") && col("c") === col("c3")))
          .localCheckpoint(true)
      } else {
        val oriented = degreeOriented(e).localCheckpoint(true)
        // wedges = ordered out-neighbor pairs of u; (deg, id) is a strict
        // total order (ids are unique), so each unordered pair appears once
        val wedges = oriented.select(col("u"), col("w").as("x"), col("dw").as("dx"))
          .join(oriented.select(col("u"), col("w").as("y"), col("dw").as("dy")),
            Seq("u"))
          .filter(col("dx") < col("dy") ||
            (col("dx") === col("dy") && col("x") < col("y")))
        val out0 = degArm(wedges.join(e,
            least(col("x"), col("y")) === col("doc_a") &&
              greatest(col("x"), col("y")) === col("doc_b")))
          .localCheckpoint(true)
        org.apache.spark.sql.GraftShims.unpersistCheckpoint(oriented)
        out0
      }
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(e)
    out
  }

  /** Re-orient an id-ordered edge list `(doc_a, doc_b)` from the
    * lower-(degree, id) endpoint `u` to the higher `w`, carrying `w`'s
    * degree as `dw` (the wedge stage's ordering key). (deg, id) is a
    * strict total order because ids are unique. Lazy — [[triangles]]
    * checkpoints the result; the hub-skew spec reads out-degree
    * distributions off it directly. */
  private[graft] def degreeOriented(e: DataFrame): DataFrame = {
    // undirected degree per node (each pair row touches two nodes)
    val deg = e.select(col("doc_a").as("v"))
      .union(e.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dv"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    e.join(deg.select(col("v").as("doc_a"), col("dv").as("da")), Seq("doc_a"))
      .join(deg.select(col("v").as("doc_b"), col("dv").as("db")), Seq("doc_b"))
      .select(
        when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("u"),
        when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("w"),
        when(aFirst, col("db")).otherwise(col("da")).as("dw"))
  }

  /** q83: triangle counts over the q36 near-dup graph, with a BLOW-UP
    * dispatch in front of the enumeration (r12). The q36 graph is a
    * blow-up of the rep graph: each exact-dup group is a clique (when
    * `n_toks >= 3`) and each rep pair expands to the complete bipartite
    * graph on its member sets — so a mega-dup group of M copies turns
    * into a K_M whose triangle ENUMERATION is Θ(M³) wedges no matter
    * how the edges are oriented (degree-ordering only relocates the
    * volume: a clique's out-degrees are uniform), while the DECLARED
    * output is M rows. Measured: zipf 2000× ran the enumerated form to
    * 345 s wall / 280 s max-task / 29 GB spill, ×64.8 for ×2 input over
    * the 1000× point — a wall that grows with the CUBE of multiplicity
    * is not a salt candidate, it needs a combinatorial escape
    * (SCALING.md r12 "q83 blow-up triangles").
    *
    * The escape ([[trianglesBlowup]]): count rooted triangles in the
    * blow-up CLOSED-FORM from group ranks and per-edge cross-ranks,
    * enumerating wedges only on the REP graph (whose triangles are
    * member-count-free). Cost is linear in Σ members over incident rep
    * edges plus the rep graph's own O(E^1.5) — vs Θ(M³) enumerated.
    *
    * Dispatch: one probe computes the blow-up triangle mass the
    * enumerated plan would have to generate beyond the rep graph's own
    * — Σ_g C(m_g,3) (clique interiors) + Σ_(g,h) [C(m_g,2)·m_h +
    * C(m_h,2)·m_g] (two-in-one-group triangles) — from the collapsed
    * groups frame and the rep pair list, never expanding anything.
    * Below [[Skew.SingleTaskRows]] the enumerated path runs unchanged
    * (same `trianglesAdaptive` orientation dispatch as r10/r11); above
    * it the closed form takes over. Both count the SAME rooted
    * triangles (spec'd: worked K5 blow-up example, corpus parity, and
    * a straddle battery one unit around the probed mass). */
  def q83Triangles(s: SparkSession, dir: String): DataFrame =
    q83Core(collapsedDocs(s, dir), Skew.SingleTaskRows)

  /** [[q83Triangles]] with the dispatch threshold injectable — the
    * straddle fuzz swings it one unit around the probed mass and
    * asserts hash-identical output plus the intended branch.
    *
    * The production bar is [[Skew.SingleTaskRows]]: a clique's wedge
    * volume lands on O(B²) salt keys at best, so the blow-up mass IS
    * task-concentrated in the enumerated plan. Measured brackets, zipf
    * documents fixture (SCALING.md r12): 500 copies ≈ C(500,3) = 2.1·10⁷
    * sits just above the bar — enumerated measured 7.6 s there (the
    * flat-crossover regime) — while 1000 copies (1.7·10⁸) measured 39 s
    * and 2000 copies (1.3·10⁹) 345 s with 29 GB of spill: the switch
    * exists for the cubic regime. */
  private[graft] def q83Core(c: Collapsed, blowupThreshold: Long): DataFrame = {
    // the rep pair list feeds the probe and BOTH branches (the
    // enumerated branch's expansion consumes it on two join sides) —
    // one checkpoint, released after the winning branch materializes
    val rp = repPairsMinhash(c).localCheckpoint(true)
    val mass = graft.ProbeCost.timed("blowup_tri_mass") {
      val gw = c.groups.filter(col("n_toks") >= 3L)
        .select(col("rep_id"), col("mult").cast("double").as("m"))
      // double math end-to-end: C(10⁷,3) overflows a long and the probe
      // only needs magnitude, not exactness.
      // ONE driver job for both terms (r13, latency class): the clique
      // and cross aggregates are independent one-row frames — crossJoin
      // folds them into a single action instead of two ~60 ms-latency
      // round-trips per q83 run.
      val row = gw
        .agg(sum(col("m") * (col("m") - 1) * (col("m") - 2) / 6).as("clique"))
        .crossJoin(rp
          .join(gw.select(col("rep_id").as("doc_a"), col("m").as("ma")), Seq("doc_a"))
          .join(gw.select(col("rep_id").as("doc_b"), col("m").as("mb")), Seq("doc_b"))
          .agg(sum(col("ma") * (col("ma") - 1) / 2 * col("mb") +
            col("mb") * (col("mb") - 1) / 2 * col("ma")).as("cross")))
        .head()
      val clique = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      val cross = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
      clique + cross
    }
    val out =
      if (mass <= blowupThreshold.toDouble)
        trianglesAdaptive(
          expandRepPairs(rp, c, Seq.empty, col("n_toks") >= 3L),
          Skew.SingleTaskRows)
      else trianglesBlowup(c, rp)
    // both branches return a localCheckpoint'd frame, so rp is dead
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(rp)
    out
  }

  /** Closed-form rooted triangle counts of the q36 BLOW-UP graph,
    * computed from the collapsed structure without expanding it. With
    * S_g the member set of group g (clique iff `n_toks >= 3`, which
    * every rep-pair participant satisfies — no shingles otherwise),
    * k_d = |{y ∈ S_g(d) : y > d}| (within-group higher-id count) and
    * c_h(d) = |{z ∈ S_h : z > d}| (cross-rank toward an adjacent
    * group), the triangles rooted at d partition by where the other
    * two vertices live:
    *
    *   T(d) = C(k_d, 2)                             (both in d's group)
    *        + k_d · Σ_{h ∈ A(g)} c_h(d)             (one in g, one in h)
    *        + Σ_{h ∈ A(g)} C(c_h(d), 2)             (both in one h)
    *        + Σ_{(h,k) rep-triangle through g} c_h(d)·c_k(d)
    *
    * (every cross edge of the blow-up exists group-wise, so membership
    * counts are exact, and a rep-edge participant's interior clique
    * always exists when two of its members are counted — `n_toks >= 3`
    * holds and c ≥ 2 implies mult ≥ 2). Verified: the worked K5 example
    * (groups {1,4},{2,5},{3} on a rep triangle → rooted 6/3/1/0/0) and
    * corpus parity against the enumerated form, EdgeCaseSpec/OperatorSpec.
    *
    * Scale shape: within-ranks are one window over the group key;
    * cross-ranks are one window per REP EDGE over the merged member
    * ids of its two endpoint groups (two running side-counts, ordered
    * desc — each member row reads the opposite side's prefix), sized
    * m_g + m_h per partition; the rep-triangle term joins the triangle
    * corner list to the cross-rank table on (group, adjacent-group).
    * Everything is LINEAR in Σ_edges (m_g + m_h) — the single-key
    * frontier is deg_R(g)·m_g rows (a mega group's members replicated
    * once per incident rep edge), the linear shadow of the quadratic
    * C(m,2)·deg this branch exists to avoid; rep-graph wedges ride the
    * same orientation dispatch as the enumerated branch
    * ([[triangleTriples]]). */
  private[graft] def trianglesBlowup(c: Collapsed, repEdges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gw = c.groups.filter(col("n_toks") >= 3L)
      .select(col("rep_id"), col("mult"))
    // node domain of the blow-up: members of shingle-eligible groups
    // (three consumers: within ranks + two cross-rank sides)
    val mem = c.map
      .join(gw.select(col("rep_id")), Seq("rep_id"), "left_semi")
      .localCheckpoint(true)
    // k_d = mult − rank: within-group higher-id count (clique groups only)
    val winG = Window.partitionBy(col("rep_id")).orderBy(col("doc_id"))
    val kd = mem.withColumn("rn", row_number().over(winG).cast("long"))
      .join(gw.filter(col("mult") >= 2L), Seq("rep_id"))
      .select(col("doc_id"), (col("mult") - col("rn")).as("k"))
    // cross-ranks: one row per (member, incident rep edge). Merge both
    // endpoint member sets per edge, order by id desc, and read the
    // OPPOSITE side's strict prefix count — both running counts are
    // computed so each row picks its opposite.
    val sideA = repEdges
      .join(mem.select(col("rep_id").as("doc_a"), col("doc_id")), Seq("doc_a"))
      .select(col("doc_a").as("ea"), col("doc_b").as("eb"),
        col("doc_id"), lit(0).as("side"))
    val sideB = repEdges
      .join(mem.select(col("rep_id").as("doc_b"), col("doc_id")), Seq("doc_b"))
      .select(col("doc_a").as("ea"), col("doc_b").as("eb"),
        col("doc_id"), lit(1).as("side"))
    val winE = Window.partitionBy(col("ea"), col("eb"))
      .orderBy(col("doc_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val crossCnt = sideA.unionByName(sideB)
      .withColumn("pa",
        coalesce(sum(when(col("side") === 0, 1L).otherwise(0L)).over(winE), lit(0L)))
      .withColumn("pb",
        coalesce(sum(when(col("side") === 1, 1L).otherwise(0L)).over(winE), lit(0L)))
      .select(col("doc_id"),
        when(col("side") === 0, col("ea")).otherwise(col("eb")).as("g"),
        when(col("side") === 0, col("eb")).otherwise(col("ea")).as("h"),
        when(col("side") === 0, col("pb")).otherwise(col("pa")).as("c"))
      .localCheckpoint(true) // three consumers: per-doc sums + two corner joins
    val perDoc = crossCnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("cs"),
        // SQL `/` is double division — shiftright keeps C(c,2) integral
        // (c·(c−1) is even, so the shift is exact)
        sum(shiftright(col("c") * (col("c") - 1), 1)).as("t3"))
    // rep-graph triangles → per-corner member products c_h·c_k
    val tri = triangleTriples(repEdges)
    val corners = tri
      .select(col("ta").as("g"), col("tb").as("h1"), col("tc").as("h2"))
      .unionByName(tri.select(col("tb").as("g"), col("ta").as("h1"), col("tc").as("h2")))
      .unionByName(tri.select(col("tc").as("g"), col("ta").as("h1"), col("tb").as("h2")))
    val t4 = corners
      .join(crossCnt.select(col("g"), col("h").as("h1"),
        col("doc_id"), col("c").as("c1")), Seq("g", "h1"))
      // doc_id determines the member's group, so (doc_id, h2) is the
      // unique cross-rank row toward the triangle's other corner
      .join(crossCnt.select(col("doc_id"), col("h").as("h2"),
        col("c").as("c2")), Seq("doc_id", "h2"))
      .groupBy(col("doc_id")).agg(sum(col("c1") * col("c2")).as("t4"))
    val contrib = kd
      .select(col("doc_id"),
        shiftright(col("k") * (col("k") - 1), 1).as("tri"))
      .unionByName(kd.join(perDoc, Seq("doc_id"))
        .select(col("doc_id"), (col("k") * col("cs")).as("tri")))
      .unionByName(perDoc.select(col("doc_id"), col("t3").as("tri")))
      .unionByName(t4.select(col("doc_id"), col("t4").as("tri")))
    val out = contrib.groupBy(col("doc_id"))
      .agg(sum(col("tri")).as("n_triangles"))
      .filter(col("n_triangles") > 0L)
      .localCheckpoint(true)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(mem)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(crossCnt)
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(tri)
    out
  }

  /** Rooted triangle TRIPLES `(ta < tb < tc)` over an id-ordered edge
    * list — the list-valued sibling of [[trianglesAdaptive]], for the
    * rep graph inside [[trianglesBlowup]] (the rep-triangle term needs
    * the actual corners, not a count). Same wedge-skew probe and
    * orientation dispatch, same exactly-once guarantees; returns a
    * localCheckpoint'd frame the caller releases. */
  private[graft] def triangleTriples(edges: DataFrame): DataFrame = {
    // distinct ProbeCost name: this probe only fires on the blow-up
    // branch's REP graph, so the registry itself witnesses the branch
    // (DispatchStraddleSpec keys on it)
    val sorted = array_sort(array(col("u"), col("x"), col("y")))
    enumerateTriangles(edges, Skew.SingleTaskRows, "rep_wedge_product")(
      // id-ordered: a < b (e1), b < c (e2), so the triple is sorted
      _.select(col("a").as("ta"), col("b").as("tb"), col("c").as("tc")),
      _.select(sorted.getItem(0).as("ta"), sorted.getItem(1).as("tb"),
        sorted.getItem(2).as("tc")))
  }

  val q83Sql: String =
    s"""WITH eg AS (
       |  SELECT doc_a, doc_b FROM (
       |${q36Sql.linesIterator.map("    " + _).mkString("\n")}
       |  ) p)
       |SELECT e1.doc_a AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM eg e1
       |JOIN eg e2 ON e1.doc_b = e2.doc_a
       |JOIN eg e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b
       |GROUP BY 1""".stripMargin

  /** Generic core over a `(doc_id, norm)` frame — `prefixLen` sizes the
    * blocks (longer prefix = more, smaller blocks), `w` is the neighbor
    * horizon. Pairs are unique by construction: each doc lives in exactly
    * one block and each (position, position+i) combination is generated
    * once. */
  def sortedNeighborhoodPairs(docsNormed: DataFrame, prefixLen: Int,
      w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("blk")).orderBy(col("norm"), col("doc_id"))
    val base = docsNormed
      .withColumn("blk", substring(col("norm"), 1, prefixLen))
      .withColumn("tset", array_distinct(split(col("norm"), " ")))
    val nbrs = base.select(
      Seq(col("doc_id"), col("tset")) ++ (1 to w).flatMap(i => Seq(
        lead(col("doc_id"), i).over(win).as(s"nid$i"),
        lead(col("tset"), i).over(win).as(s"nset$i"))): _*)
    val pairs = (1 to w).map { i =>
      nbrs.filter(col(s"nid$i").isNotNull)
        .select(col("doc_id").as("id_a"), col("tset").as("set_a"),
          col(s"nid$i").as("id_b"), col(s"nset$i").as("set_b"))
    }.reduce(_ union _)
    pairs
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("un",
        (size(col("set_a")) + size(col("set_b"))).cast("long") - col("inter"))
      .filter(col("inter") * 2 >= col("un"))
      .select(
        least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"),
        (col("inter").cast("double") / col("un")).as("jaccard"))
  }

  /** Blocked sorted-neighborhood near-dup detection — the sort-based
    * classic that complements the hash/LSH family: records are blocked,
    * sorted within each block on a similarity-preserving key, and each
    * record is compared only to its next `w = 2` neighbors in that order
    * (a `lead` window, NOT a self-join). Candidate pairs with token-set
    * Jaccard ≥ 0.5 are emitted. The acceptance test compares exact
    * integers (`2·|∩| ≥ |∪|`), and the reported Jaccard is one double
    * division — bit-identical cross-engine.
    *
    * Scale shape: the window partitions by the block key (a prefix of the
    * normalized text), whose cardinality GROWS with the corpus — blocks
    * stay small and parallel at 100 TB, unlike a low-cardinality window
    * funnel. The standard SNM trade-off applies and is the contract:
    * near-dups whose sort keys land in different blocks (or > w apart)
    * are missed; the LSH operators (q35–q37) cover those. */
  def q100SortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(docsNorm(s, dir), prefixLen = 3, w = 2)

  val q100Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id, norm, substr(norm, 1, 3) AS blk,
      |    list_distinct(string_split(norm, ' ')) AS tset
      |  FROM (SELECT doc_id,
      |          ${normSql("text")} AS norm
      |        FROM documents)),
      |nb AS (
      |  SELECT doc_id, tset,
      |    lead(doc_id, 1) OVER w AS nid1, lead(tset, 1) OVER w AS nset1,
      |    lead(doc_id, 2) OVER w AS nid2, lead(tset, 2) OVER w AS nset2
      |  FROM base
      |  WINDOW w AS (PARTITION BY blk ORDER BY norm, doc_id)),
      |pairs AS (
      |  SELECT doc_id AS id_a, tset AS set_a, nid1 AS id_b, nset1 AS set_b
      |  FROM nb WHERE nid1 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, tset, nid2, nset2 FROM nb WHERE nid2 IS NOT NULL),
      |sc AS (
      |  SELECT least(id_a, id_b) AS doc_a, greatest(id_a, id_b) AS doc_b,
      |    CAST(len(list_intersect(set_a, set_b)) AS BIGINT) AS inter,
      |    CAST(len(set_a) + len(set_b) AS BIGINT)
      |      - len(list_intersect(set_a, set_b)) AS un
      |  FROM pairs)
      |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / un AS jaccard
      |FROM sc WHERE inter * 2 >= un""".stripMargin

  /** Generic form: `fps` is (doc_id, fp, is_old). */
  def ingestTriage(fps: DataFrame): DataFrame = {
    val corpus = fps.filter(col("is_old")).select(col("fp")).distinct()
    val feed = fps.filter(!col("is_old")).select(col("doc_id"), col("fp"))
    val feedMin = feed.groupBy(col("fp")).agg(min(col("doc_id")).as("min_id"))
    feed.join(feedMin, Seq("fp"))
      .join(corpus.withColumn("in_corpus", lit(1)), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        when(col("in_corpus").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("min_id"), lit("dup_in_feed"))
          .otherwise(lit("admitted")).as("status"))
  }

  /** Incremental-ingest triage — the PRODUCTION dedup shape: a new feed
    * arrives against an EXISTING corpus and every feed document gets a
    * disposition, not just membership in a survivors list: `admitted`
    * (first sighting of the content), `dup_of_corpus` (content already
    * in the corpus — the corpus copy wins unconditionally), or
    * `dup_in_feed` (another feed doc with the same fingerprint and a
    * smaller doc_id wins — q34's within-batch tiebreak applied only
    * among new docs). The existing/new split here is a deterministic
    * 70/30 hash of doc_id (the testdata has no ingest-day column; a
    * real deployment keys the split on arrival time).
    *
    * Scale shape: ONE fingerprint-keyed aggregate over the feed (min
    * doc_id) and ONE shuffle join of feed fingerprints against corpus
    * fingerprints — md5 keys are uniform so neither shuffle skews, and
    * the corpus side is projected to (fp) before the join: at 100 TB
    * the probe reads a column-pruned fingerprint index, never corpus
    * text. No windows, no broadcast of either unbounded side. */
  def q140IngestTriage(s: SparkSession, dir: String): DataFrame =
    ingestTriage(docsNorm(s, dir)
      .select(col("doc_id"), md5(col("norm")).as("fp"),
        (pmod(graft.functions.TextFns.hash60(
          concat(lit("old:"), col("doc_id").cast("string"))),
          lit(10L)) < 7L).as("is_old")))

  val q140Sql: String =
    s"""WITH n AS (
      |  SELECT doc_id,
      |    md5(${normSql("text")}) AS fp,
      |    ${hash60Sql("'old:' || doc_id")}
      |      % 10 < 7 AS is_old
      |  FROM documents),
      |corpus AS (SELECT DISTINCT fp FROM n WHERE is_old),
      |feed AS (SELECT doc_id, fp FROM n WHERE NOT is_old),
      |fm AS (SELECT fp, min(doc_id) AS min_id FROM feed GROUP BY fp)
      |SELECT feed.doc_id, feed.fp,
      |  CASE WHEN corpus.fp IS NOT NULL THEN 'dup_of_corpus'
      |       WHEN feed.doc_id <> fm.min_id THEN 'dup_in_feed'
      |       ELSE 'admitted' END AS status
      |FROM feed JOIN fm ON feed.fp = fm.fp
      |LEFT JOIN corpus ON feed.fp = corpus.fp""".stripMargin

  /** Head–tail overlap pairs — the SPLIT-DOCUMENT reconstruction signal:
    * doc A's trailing k tokens equal doc B's leading k tokens, the
    * boundary fingerprint left when one source document was sharded into
    * two records (crawler pagination, chunked exports, log rotation).
    * Matched pairs are merge candidates BEFORE dedup: two halves of one
    * document look like neither an exact nor a near dup, so every other
    * member of this family misses them. The declared query uses k = 3
    * (the testdata's docs are short); production corpora would use the
    * q137 span length.
    *
    * Scale shape: per document exactly TWO fused span hashes (the first
    * and last k-token windows, each hashed directly via GramKHash64 on a
    * k-token slice — no window stream, no explode), then ONE self-join
    * keyed on the 64-bit hash, over a CHECKPOINTED 3-long-per-doc
    * boundary index (one tokenize pass).
    *
    * Skew: a VIRAL boundary (boilerplate opening/closing shared by m
    * docs, or m exact copies of a short doc whose head window equals
    * its tail window) emits m_tail(h)·m_head(h) pairs under ONE join
    * key from KBs of input, and AQE's skew split keys off INPUT
    * partition bytes, so it never fires here. The join therefore runs
    * through [[Skew.fanJoin]] on the index's per-hash tail/head counts:
    * at or below [[Skew.SingleTaskRows]] the plain join runs, above it
    * the HOT KEYS ONLY take the bucket salt (tails bucketed by doc,
    * heads replicated to every bucket); cold keys keep the plain join.
    * Parity + branch-witness spec'd across the bar (GraphTextSpec);
    * measured on zipf head==tail copies in SCALING.md ("The fixes, one
    * idiom, four shapes"). */
  def headTailPairs(docs: DataFrame, k: Int,
      fanThreshold: Long = Skew.SingleTaskRows): DataFrame = {
    import graft.functions.HashExprs.gramk_hash64
    val base = docs
      .select(col("doc_id"), filter(tokens(col("text")), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        element_at(gramk_hash64(slice(col("toks"), 1, k), k), 1).as("head_h"),
        element_at(gramk_hash64(slice(col("toks"), -k, k), k), 1).as("tail_h"))
      .localCheckpoint(true)
    val tails = base.select(col("doc_id").as("doc_a"), col("tail_h").as("h"))
    val heads = base.select(col("doc_id").as("doc_b"), col("head_h").as("h"))
    val keyCounts = base.groupBy(col("tail_h").as("h"))
      .agg(count(lit(1)).as("mt"))
      .join(base.groupBy(col("head_h").as("h"))
        .agg(count(lit(1)).as("mh")), Seq("h"))
    Skew.fanJoin(tails, heads, xxhash64(col("doc_a")), Seq("h"), keyCounts,
        "mt", "mh", "boundary_fan", fanThreshold)
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
  }

  def q142HeadTailOverlap(s: SparkSession, dir: String): DataFrame =
    headTailPairs(Tables.documents(s, dir), 3)

  val q142Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${wordsSql("text")} AS toks
      |  FROM documents),
      |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 3),
      |h AS (SELECT doc_id, array_to_string(toks[1:3], ' ') AS head,
      |        array_to_string(toks[n-2:n], ' ') AS tail
      |      FROM f)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM h a JOIN h b ON a.tail = b.head AND a.doc_id <> b.doc_id""".stripMargin

  /** Asymmetric CONTAINMENT pairs — "doc A is (mostly) inside doc B":
    * Broder's containment measure |fp(A) ∩ fp(B)| / |fp(A)| over q51's
    * winnowing fingerprints. Jaccard-family dedup misses exactly this
    * case: a short document quoted whole inside a long one has tiny
    * Jaccard (the union is dominated by B) but containment ≈ 1. This is
    * the quote/wrapper-page/excerpt signal — the member of the dedup
    * family that is deliberately NOT symmetric (both directions are
    * emitted and scored by their own denominator).
    *
    * The shared count uses RARE fingerprints only (document frequency
    * 2–20, enforced inside the aggregation buffer exactly as q51 — a
    * boilerplate fingerprint costs O(cap), never O(corpus)); the
    * denominator is ALL of A's fingerprints, so boilerplate-only overlap
    * scores low by construction. Threshold 0.3 — candidates for a
    * verify pass, like q36's band matches.
    *
    * Scale shape: STRICTLY one corpus pass — the winnowing expression
    * evaluates once per doc, the denominator n_a = size(fingerprints) is
    * computed per-ROW and rides every exploded fingerprint into the
    * bucket aggregate ([[TypedOps.BoundedDocPayloadList]] keeps it next
    * to the doc id), so scoring needs NO second winnow pass and NO count
    * join (the first cut of this operator had both: a second full
    * winnow evaluation doubled its bench time — measured 4.8 s → this
    * shape, see SCALING.md). Bucket bounding and the pair-keyed
    * aggregate are exactly q51's. */
  def q145Containment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.widen(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.HashExprs.winnow_fingerprints(
          normText(col("text")), gram = 8, window = 16).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_a"),
        explode(col("fps")).as("mh"))
    val grouped = base
      .select(col("mh").as[Long], col("doc_id").as[Long], col("n_a").as[Long])
      .groupByKey(_._1)
      .agg(new TypedOps.BoundedDocPayloadList(cap = 20, minSize = 2)
        .toColumn.name("flat"))
      .toDF("mh", "flat")
      .filter(size(col("flat")) > 0)
      // un-flatten the stride-2 (doc_id, n_a) buffer into struct pairs.
      // The empty-buffer guard must live INSIDE the expression: filters
      // inferred from the downstream explode get pushed past the
      // size>0 filter and would evaluate the transform on empty
      // buffers, where the un-guarded sequence(0, -1) DESCENDS.
      .select(when(size(col("flat")) < 2,
          array().cast("array<struct<_1:bigint,_2:bigint>>"))
        .otherwise(transform(
          sequence(lit(0), (size(col("flat")) / 2).cast("int") - 1),
          k => struct(element_at(col("flat"), k * 2 + 1).as("_1"),
            element_at(col("flat"), k * 2 + 2).as("_2")))).as("docs"))
    grouped
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a._1") < col("b._1"))
      .groupBy(col("a._1").as("doc_lo"), col("b._1").as("doc_hi"),
        col("a._2").as("n_lo"), col("b._2").as("n_hi"))
      .agg(count(lit(1)).as("n_shared"))
      // the shared count is symmetric: aggregate each unordered pair ONCE
      // (half the pair-shuffle), then emit both directed rows, each
      // scored by its own denominator
      .select(explode(array(
        struct(col("doc_lo").as("doc_a"), col("doc_hi").as("doc_b"),
          col("n_shared"), col("n_lo").as("n_a")),
        struct(col("doc_hi").as("doc_a"), col("doc_lo").as("doc_b"),
          col("n_shared"), col("n_hi").as("n_a")))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.n_shared"),
        col("p.n_a"))
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= 0.3)
  }

  val q145Sql: String =
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
      |nfp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_a FROM fp GROUP BY 1),
      |rare AS (SELECT mh FROM fp GROUP BY mh HAVING count(*) BETWEEN 2 AND 20),
      |sh AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM fp a JOIN fp b ON a.mh = b.mh AND a.doc_id <> b.doc_id
      |  JOIN rare r ON r.mh = a.mh
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared, na.n_a,
      |  CAST(n_shared AS DOUBLE) / CAST(na.n_a AS DOUBLE) AS containment
      |FROM sh JOIN nfp na ON na.doc_id = sh.doc_a
      |WHERE CAST(n_shared AS DOUBLE) / CAST(na.n_a AS DOUBLE) >= 0.3""".stripMargin

  /** Duplicate-cluster size profile — the curation REPORT over q64's
    * near-dup clusters: how many clusters of each size, how many
    * documents they tie up, and what corpus fraction that is. This row
    * set is what decides dedup policy (a corpus whose duplication lives
    * in two giant clusters needs boilerplate handling; one with many
    * pairs needs canonical selection), and it is the number quoted in
    * every dataset card ("X% of documents had a near duplicate").
    *
    * Scale shape: two nested tiny aggregates over the pairs-bounded
    * cluster map (clusters ≤ near-dup docs ≪ corpus), plus ONE
    * broadcast of the 1-row corpus count — nothing here scales with
    * corpus size except the already-bounded q64 input. Singleton docs
    * (no near-dup edge) are by construction absent from q64's map, so
    * sizes start at 2. */
  def q146ClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_corpus"))
    q64DedupClusters(s, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(total))
      .withColumn("corpus_frac",
        col("n_docs").cast("double") / col("n_corpus").cast("double"))
      .drop("n_corpus")
  }

  val q146Sql: String =
    s"""WITH c AS (
       |${q64Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |s AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM c GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents)
       |SELECT cluster_size,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       |  CAST(cluster_size * count(*) AS DOUBLE) / CAST(n_corpus AS DOUBLE)
       |    AS corpus_frac
       |FROM s, t GROUP BY cluster_size, n_corpus""".stripMargin

  /** Blocked fuzzy record linkage — near-matching entity NAMES across
    * records (typos, variant spellings), the classic record-linkage /
    * entity-resolution operator, distinct from the document-dedup
    * family (those hash content; this edit-distances identifiers).
    *
    * Scale design: NEVER fuzzy-join records. Canonicalize to the
    * distinct-name DICTIONARY first (vocab-bounded — entity-name
    * dictionaries grow ~log of record count), self-join the dictionary
    * within blocks (here the name's head noun; blocking bounds the
    * pair space exactly like LSH bands bound document pairs), apply
    * `levenshtein` — codegen'd builtin — to the variant token only,
    * and report record counts per matched pair: n_a·n_b is the linkage
    * workload a record-level resolve would materialize via one
    * broadcast map-back. Distance 0 (identical names) is exact-dedup
    * territory (q34); the gate keeps 1 ≤ dist ≤ 2. */
  def q160FuzzyLinkage(s: SparkSession, dir: String): DataFrame = {
    // OOB-safe extraction (r8, parts battery): getItem under ANSI
    // throws INVALID_ARRAY_INDEX on a one-word name, where DuckDB's
    // split_part returns '' — get() + coalesce mirrors split_part
    // exactly, and the isNotNull guard keeps a NULL name's block NULL
    // (split_part(NULL) is NULL) instead of coalescing it to ''.
    val names = Tables.part(s, dir)
      .select(col("p_name"),
        when(col("p_name").isNotNull,
          coalesce(get(split(col("p_name"), " "), lit(1)), lit("")))
          .as("blk"),
        when(col("p_name").isNotNull,
          coalesce(get(split(col("p_name"), " "), lit(0)), lit("")))
          .as("adj"))
      .groupBy(col("p_name"), col("blk"), col("adj"))
      .agg(count(lit(1)).as("n"))
    val a = names.select(col("p_name").as("name_a"), col("blk"),
      col("adj").as("adj_a"), col("n").as("n_a"))
    val b = names.select(col("p_name").as("name_b"), col("blk"),
      col("adj").as("adj_b"), col("n").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist",
        levenshtein(col("adj_a"), col("adj_b")).cast("long"))
      .filter(col("dist").between(1L, 2L))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_a"), col("n_b"),
        // decimal multiply, then a long cast that fails LOUDLY under
        // ANSI if duplicate counts ever make the pair count pass 2^63
        // (a raw int64 product would wrap silently)
        (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("long")
          .as("n_pairs"))
  }

  val q160Sql: String =
    """WITH n AS (
      |  SELECT p_name, split_part(p_name, ' ', 2) AS blk,
      |    split_part(p_name, ' ', 1) AS adj,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM part GROUP BY 1, 2, 3)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.adj, b.adj) AS BIGINT) AS dist,
      |  a.n AS n_a, b.n AS n_b,
      |  CAST(CAST(a.n AS HUGEINT) * b.n AS BIGINT) AS n_pairs
      |FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.adj, b.adj) BETWEEN 1 AND 2""".stripMargin

  /** Jaro–Winkler token linkage — the OTHER classic record-linkage
    * similarity, complementing q160's Levenshtein: Winkler's
    * prefix-boosted Jaro score is the standard measure for short
    * identifiers where edit distance over-penalizes transposed typos
    * ("rod"/"row" vs "cold"/"column"). Spark has no Jaro family builtin;
    * [[graft.functions.StringSimExprs.JaroWinkler]] is a codegen'd
    * Catalyst expression pinned bit-exactly to the RapidFuzz arithmetic
    * DuckDB embeds (20k-pair fuzz parity), so the DOUBLE scores here
    * hash-match the oracle — not just the pair set.
    *
    * Scale design mirrors q160: never fuzzy-join records. Collapse both
    * corpora to the distinct-token DICTIONARY first (Heaps' law — vocab
    * grows sublinearly in corpus size), then block the dictionary
    * self-join on (first char, ±2 length band) — the classic
    * edit-distance blocking key; JW < 0.75 is impossible outside the
    * band only heuristically, but the gate is part of the operator's
    * declared contract (mirrored in the oracle), exactly like an LSH
    * band bound. Occurrence counts n_a·n_b give the record-level linkage
    * workload a broadcast map-back would materialize. */
  def q203JaroLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringSimExprs.jaro_winkler
    val toks = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .unionAll(Tables.part(s, dir)
        .select(explode(split(lower(col("p_name")), " ")).as("w")))
    val dict = toks.filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .withColumn("blk", substring(col("w"), 1, 1))
    val a = dict.select(col("w").as("word_a"), col("blk"),
      length(col("w")).as("la"), col("n").as("n_a"))
    val b = dict.select(col("w").as("word_b"), col("blk"),
      length(col("w")).as("lb"), col("n").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("word_a") < col("word_b") &&
        abs(col("la") - col("lb")) <= 2)
      .withColumn("jw", jaro_winkler(col("word_a"), col("word_b")))
      .filter(col("jw") >= 0.75)
      .select(col("word_a"), col("word_b"), col("jw"),
        col("n_a"), col("n_b"))
  }

  val q203Sql: String =
    s"""WITH toks AS (
      |  SELECT unnest(${tokensSql("text")}) AS w
      |  FROM documents
      |  UNION ALL
      |  SELECT unnest(string_split(lower(p_name), ' ')) FROM part),
      |d AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks
      |      WHERE w <> '' GROUP BY 1),
      |n AS (SELECT w, n, substr(w, 1, 1) AS blk FROM d)
      |SELECT a.w AS word_a, b.w AS word_b,
      |  jaro_winkler_similarity(a.w, b.w) AS jw, a.n AS n_a, b.n AS n_b
      |FROM n a JOIN n b ON a.blk = b.blk AND a.w < b.w
      |  AND abs(length(a.w) - length(b.w)) <= 2
      |WHERE jaro_winkler_similarity(a.w, b.w) >= 0.75""".stripMargin

  /** LSH candidate-quality evaluation — the dedup-pipeline tuning
    * harness: MinHash-LSH (q36's banded candidates) scored against the
    * EXACT 3-gram-Jaccard ≥ 0.6 pair set (q35's PPJoin+ output) as
    * precision / recall / F1. This is how band/row geometry gets chosen
    * in practice: sweep (b, r), read this one-row report, pick the knee.
    * Sibling of q136 (ANN recall@k) for the retrieval side.
    *
    * Both inputs are the engine's own bucket-bounded pipelines (never
    * all-pairs); the eval itself is one join on the two SMALL pair sets
    * (near-dup pairs, orders of magnitude below corpus size) plus three
    * counts. Ratios are single divisions of exact counts; F1 re-derives
    * from the same counts in one fixed tree. Empty pair sets yield NULL
    * ratios (ANSI-safe), not failures. */
  def q214LshEval(s: SparkSession, dir: String): DataFrame = {
    // The eval only COUNTS pairs, so the exact-dup collapse never needs
    // to re-expand at all (r9): a rep pair (A, B) stands for
    // mult_A · mult_B member pairs, and every within-eligible group of
    // multiplicity m contributes C(m, 2) pairs to BOTH sides (identical
    // docs are J = 1.0 exact pairs AND band-identical LSH pairs) — so
    // the same within term adds to n_exact, n_approx, and n_both. Counts
    // are therefore multiplicity-LINEAR work while remaining exactly
    // count(*) of the declared (expanded) pair sets.
    val c = collapsedDocs(s, dir)
    val e = repPairsJaccard(c).select(col("doc_a"), col("doc_b"))
    val a = repPairsMinhash(c).select(col("doc_a"), col("doc_b"))
    // multiplicities to decimal BEFORE any product: two data-derived
    // counts multiplied in int64 wrap silently at scale (q208 contract)
    val w = c.groups.select(col("rep_id"),
      col("mult").cast("decimal(38,0)").as("m"))
    // overflow-loud (r10, ADVICE): a decimal(38,0) overflow in a product
    // or in sum() yields NULL under non-ANSI, and the old bare
    // coalesce(sum, 0) silently read that as ZERO pairs. The operands
    // are non-null by construction (multiplicities of joined groups), so
    // a NULL product IS overflow, and a NULL sum over a non-empty input
    // likewise; only the genuinely-empty input coalesces to 0.
    def loudSum(df: DataFrame, prod: Column, what: String): DataFrame = df
      .agg(sum(when(prod.isNotNull, prod).otherwise(raise_error(
          lit(s"q214: decimal overflow in a $what product")))).as("s"),
        count(lit(1)).as("c"))
      .select(when(col("c") === 0L, lit(0).cast("decimal(38,0)"))
        .when(col("s").isNull, raise_error(
          lit(s"q214: decimal overflow summing $what products")))
        .otherwise(col("s")).as("s"))
    def wsum(pairs: DataFrame, name: String): DataFrame = loudSum(
      pairs
        .join(w.select(col("rep_id").as("doc_a"), col("m").as("ma")), Seq("doc_a"))
        .join(w.select(col("rep_id").as("doc_b"), col("m").as("mb")), Seq("doc_b")),
      col("ma") * col("mb"), s"$name pair-weight")
      .select(col("s").as(name))
    val within = loudSum(c.groups.filter(col("n_toks") >= 3L),
      col("mult").cast("decimal(38,0)") * (col("mult") - 1L),
      "within-group m(m-1)")
      .select(col("s").as("w2"))
      // Σ m(m−1) is even, so the halving is exact in decimal
      .select((col("w2") / 2).as("n_within"))
    val m = wsum(e, "xe").crossJoin(wsum(a, "xa"))
      .crossJoin(wsum(e.join(a, Seq("doc_a", "doc_b")), "xb"))
      .crossJoin(within)
      .select(
        (col("xe") + col("n_within")).cast("long").as("n_exact"),
        (col("xa") + col("n_within")).cast("long").as("n_approx"),
        (col("xb") + col("n_within")).cast("long").as("n_both"))
    val prec = col("n_both").cast("double") / col("n_approx").cast("double")
    val rec = col("n_both").cast("double") / col("n_exact").cast("double")
    m.select(col("n_exact"), col("n_approx"), col("n_both"),
      when(col("n_approx") =!= 0L, prec).as("prec"),
      when(col("n_exact") =!= 0L, rec).as("rec"),
      when(col("n_approx") =!= 0L && col("n_exact") =!= 0L &&
          col("n_both") =!= 0L,
        lit(2.0) * prec * rec / (prec + rec)).as("f1"))
  }

  val q214Sql: String =
    s"""WITH e AS (
       |${q35Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |a AS (
       |${q36Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |m AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_exact,
       |    (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_approx,
       |    (SELECT CAST(count(*) AS BIGINT) FROM e
       |     JOIN a USING (doc_a, doc_b)) AS n_both)
       |SELECT n_exact, n_approx, n_both,
       |  CAST(n_both AS DOUBLE) / CAST(n_approx AS DOUBLE) AS prec,
       |  CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE) AS rec,
       |  2.0 * (CAST(n_both AS DOUBLE) / CAST(n_approx AS DOUBLE))
       |      * (CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE))
       |    / (CAST(n_both AS DOUBLE) / CAST(n_approx AS DOUBLE)
       |       + CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE)) AS f1
       |FROM m""".stripMargin

  /** Capture–recapture (Lincoln–Petersen) corpus-size estimate from two
    * overlapping feeds: if src0 holds n_a distinct fingerprints, src1
    * n_b, and they share m, the underlying population is ≈ n_a·n_b/m —
    * the "how big is the real corpus behind these partial crawls"
    * planning number a dedup pipeline wants BEFORE committing to ingest
    * (the same estimator ecologists mark-recapture animals with).
    *
    * Exactness: fingerprints are the q33 md5-hash60; n_a, n_b, m are
    * exact integers off one fingerprint-keyed aggregate; the estimate is
    * ONE double division of exact integer products (nullif-guarded when
    * the feeds don't overlap — then the estimator is undefined).
    *
    * Scale shape: one pass over the two feeds → fingerprint-keyed
    * presence aggregate (map-side combine; a fingerprint's buffer is two
    * booleans, never a posting list — the q70 lesson) → single-row
    * moment. No join, no window. */
  def q191CaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(s, dir)
      .filter(col("source").isin("src0", "src1"))
      .select(hash60(normText(col("text"))).as("f"), col("source"))
      .groupBy(col("f"))
      .agg(max(when(col("source") === "src0", 1L).otherwise(0L)).as("a"),
        max(when(col("source") === "src1", 1L).otherwise(0L)).as("b"))
    fp.agg(sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        sum(col("a") * col("b")).as("m"))
      .withColumn("est_population",
        // factors to double BEFORE the multiply: feed sizes past ~3e9
        // wrap the int64 product (q208 overflow contract)
        (col("n_a").cast("double") * col("n_b").cast("double")) /
          nullif(col("m").cast("double"), lit(0.0)))
  }

  val q191Sql: String =
    s"""WITH fp AS (
      |  SELECT ${hash60Sql(normSql("text"))} AS f,
      |    max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
      |    max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b
      |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1)
      |SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b,
      |  CAST(sum(a * b) AS BIGINT) AS m,
      |  (CAST(CAST(sum(a) AS BIGINT) AS DOUBLE)
      |     * CAST(CAST(sum(b) AS BIGINT) AS DOUBLE))
      |    / nullif(CAST(sum(a * b) AS DOUBLE), 0.0) AS est_population
      |FROM fp""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q191_capture_recapture", q191CaptureRecapture, Some(q191Sql)),
    QueryDef("q160_fuzzy_linkage", q160FuzzyLinkage, Some(q160Sql)),
    QueryDef("q203_jaro_linkage", q203JaroLinkage, Some(q203Sql)),
    QueryDef("q214_lsh_eval", q214LshEval, Some(q214Sql)),
    QueryDef("q34_dedup_exact", q34DedupExact, Some(q34Sql)),
    QueryDef("q145_containment", q145Containment, Some(q145Sql)),
    QueryDef("q146_cluster_sizes", q146ClusterSizes, Some(q146Sql)),
    QueryDef("q140_ingest_triage", q140IngestTriage, Some(q140Sql)),
    QueryDef("q142_head_tail_overlap", q142HeadTailOverlap, Some(q142Sql)),
    QueryDef("q100_sorted_neighborhood", q100SortedNeighborhood, Some(q100Sql)),
    QueryDef("q64_dedup_clusters", q64DedupClusters, Some(q64Sql)),
    QueryDef("q118_cluster_canonical", q118ClusterCanonical, Some(q118Sql)),
    QueryDef("q89_leakfree_split", q89LeakFreeSplit, Some(q89Sql)),
    QueryDef("q83_triangles", q83Triangles, Some(q83Sql)),
    QueryDef("q35_ngram_jaccard", q35NgramJaccard, Some(q35Sql)),
    QueryDef("q36_minhash_lsh", q36MinhashLsh, Some(q36Sql)),
    QueryDef("q37_simhash", q37Simhash, Some(q37Sql)),
    QueryDef("q38_embedding_neardup", q38EmbeddingNearDup, Some(q38Sql)),
    QueryDef("q49_embedding_lsh_dedup", q49EmbeddingLshDedup, Some(q49Sql)))
}
