package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text/hash column builders for the LLM-data-pipeline operators.
  *
  * Everything here is a codegen'd Spark built-in composition (no UDFs),
  * and each primitive has its DuckDB twin beside it (`normSql`,
  * `tokensSql`, `wordsSql`, `shinglesSql`, `hash60Sql`,
  * `hash60SeededSql`). Every oracle string composes those twins, so the
  * rule for how DuckDB mirrors the engine's tokenization, k-grams and
  * hashes lives here and nowhere else:
  *   - md5 produces identical lowercase hex in both engines;
  *   - the 60-bit integer hash is `conv(substr(md5(x),1,15),16,10)` here and
  *     `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` in DuckDB;
  *   - normalization is the same trim/lower/collapse-whitespace on both;
  *   - k-grams are `list_zip` of k slices of one list, so DuckDB's cost
  *     stays linear in document length. A lateral `FROM t, UNNEST(...)`
  *     over a per-row list, or a lambda that captures one, copies the
  *     whole list into every emitted element: quadratic in DuckDB 1.0.
  *
  * At 100 TB one would swap md5 for xxhash64 (cheaper, also built-in); md5
  * is kept because cross-engine reproducibility is part of the contract.
  */
object TextFns {

  /** lower, trim, collapse runs of whitespace to single spaces. */
  def normText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** DuckDB twin of [[normText]] over the SQL expression `x`. */
  def normSql(x: String): String =
    s"regexp_replace(trim(lower($x)), '\\s+', ' ', 'g')"

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** DuckDB twin of [[tokens]]. */
  def tokensSql(x: String): String = s"string_split(${normSql(x)}, ' ')"

  /** The non-empty tokens: DuckDB twin of `filter(tokens(c), _ =!= "")`
    * (an empty or blank text has the one token `""`). */
  def wordsSql(x: String): String =
    s"list_filter(${tokensSql(x)}, x -> x <> '')"

  /** INGEST-CAP CONTRACT (r8). The per-document buffers inside the
    * dedup/scrub pipelines (q35's df-sorted shingle sets, q165's kept-
    * block lists, q214's inherited prefix sets) are O(doc tokens); that
    * bound is a REAL number only if no document longer than this may
    * enter. [[CurationOps.chunkDocs]] is the sanctioned capper (its
    * packed chunk key supports chunks up to 2¹⁶, hence this value);
    * [[cappedToks]] is the matching ENFORCEMENT at the pipelines'
    * tokenize boundary — an uncapped oversize document fails loudly
    * there instead of growing an unbounded task buffer. */
  val DocTokenCap: Int = 1 << 16

  /** `toks` verified against [[DocTokenCap]] — the guard the declared
    * per-doc-buffer pipelines tokenize through. Per-row, no shuffle;
    * codegen subexpression elimination evaluates the token array once.
    * Oversize input is a LOUD error directing callers to pre-chunk
    * with [[graft.operators.CurationOps.chunkDocs]], never a silent
    * task-memory hazard. A no-op on any corpus that respected the
    * ingest cap (the sf corpora and every oracle do). */
  def cappedToks(toks: Column): Column = underCap(toks, toks)

  /** Boolean form of the same guard, for pipelines that already filter
    * on the token array: `filter(... && capGuard(toks))` raises on an
    * oversize doc and passes everything else, WITHOUT wrapping the
    * array expression itself — [[cappedToks]]' CaseWhen-of-arrays
    * blocks codegen fusing on the downstream gram generator (measured
    * ×1.25 on q70's raw gram join at sf0.1, r11 A/B), while a boolean
    * conjunct in an existing Filter is ~free. NULL tokens yield NULL
    * (the surrounding size(...) ≥ k conjunct already drops them), so
    * null-text docs keep the pre-guard behavior. */
  def capGuard(toks: Column): Column = underCap(toks, lit(true))

  /** `pass` when `toks` fits [[DocTokenCap]], else the ingest-cap error —
    * the one message both guards raise. Guarded on the VIOLATION branch:
    * size(NULL) is NULL, whose comparison is never true, so a null-text
    * doc passes through as null tokens (contributing no shingles
    * downstream — the pre-guard behavior) instead of tripping a
    * null-message raise_error. The documents fuzz battery caught exactly
    * that on this guard's first suite run. */
  private def underCap(toks: Column, pass: Column): Column =
    when(size(toks) > DocTokenCap,
      raise_error(concat(
        lit(s"doc exceeds the $DocTokenCap-token ingest cap ("),
        size(toks).cast("string"),
        lit(" tokens) — pre-chunk with CurationOps.chunkDocs before dedup/scrub"))))
      .otherwise(pass)

  /** Deterministic 60-bit non-negative hash from the md5 hex prefix —
    * the fused [[HashExprs.Md5Long60]] expression (value identical to
    * `conv(substring(md5(c),1,15),16,10)`, spec-asserted; ~3× faster). */
  def hash60(c: Column): Column = HashExprs.md5long60(c)

  /** DuckDB twin of [[hash60]]. */
  def hash60Sql(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** Seeded variant: independent-ish hash family for minhash permutations.
    * The seed is hashed as a digest prefix — no per-row string concat. */
  def hash60Seeded(seed: Int, c: Column): Column =
    HashExprs.md5long60(c, s"$seed:")

  /** DuckDB twin of [[hash60Seeded]]. */
  def hash60SeededSql(seed: Int, x: String): String = hash60Sql(s"'$seed:' || $x")

  /** Word n-gram shingles (array of strings); empty array when there are
    * fewer than n tokens. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
      .otherwise(array())

  /** DuckDB twin of [[shingles]]: the k-grams of the list column `list`,
    * each its elements joined by `sep`; `[]` below k elements. With
    * `sep = ""` over `string_split(x, '')` these are x's character k-grams
    * (`substr(x, i, k)` for every i). */
  def shinglesSql(list: String, k: Int, sep: String = " "): String = {
    val join = if (sep.isEmpty) " || " else s" || '$sep' || "
    s"list_transform(${windowsSql(list, k)}, " +
      s"g -> ${(1 to k).map(i => s"g[$i]").mkString(join)})"
  }

  /** The k-windows of the list column `list` as one list of k-field
    * structs (`g[1]` … `g[k]`): a `list_zip` of k slices, truncated to the
    * shortest, so `[]` below k elements and for a NULL list. A character
    * window is the same over `string_split(x, '')`. `list` is spelled k
    * times, so pass a column, not an expression to evaluate. */
  def windowsSql(list: String, k: Int): String =
    s"list_zip($list, ${(2 to k).map(i => s"$list[$i:], ").mkString}true)"
}
