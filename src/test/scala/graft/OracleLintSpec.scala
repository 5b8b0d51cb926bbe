package graft

import org.scalatest.funsuite.AnyFunSuite

/** Oracle lint: no declared oracle expands a per-row list or text through
  * a lateral `FROM t, UNNEST(...)`. DuckDB carries the row's whole list or
  * text into every row the lateral emits, so memory grows with the square
  * of document length — the oracle, not the engine, then runs out of
  * memory on a long document. Per-row expansions are a select-list
  * `UNNEST(...)` (with `generate_subscripts` for positions) or the
  * `list_zip` slices of `graft.functions.TextFns.windowsSql`.
  *
  * A lateral over a constant list or range emits a fixed number of rows
  * per input row, so it stays linear; each one an oracle keeps is listed
  * here by query name.
  */
class OracleLintSpec extends AnyFunSuite {

  /** The constant lateral expansions the oracles keep, per query. */
  private val constantLaterals: Map[String, Set[String]] = Map(
    "q37_simhash" -> Set("[0, 1, 2, 3]"),
    "q40_knn_lsh" -> Set("[0, 1, 2, 4, 8, 16, 32, 64, 128]"),
    "q59_gap_fill" -> Set(
      "generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)"),
    "q69_chunk" -> Set("[0, 1]"),
    "q132_embed_covariance" -> Set("range(0, 64)"),
    "q136_ann_recall" -> Set("[0, 1, 2, 4, 8, 16, 32, 64, 128]"),
    "q144_context_budget" -> Set("[256, 512, 1024, 2048]"),
    "q150_bootstrap" -> Set("generate_series(1, 32)"),
    "q159_gate_sweep" -> Set("[0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65]"),
    "q161_power_iteration" -> Set("range(0, 64)"),
    "q210_count_min" -> Set("[0, 1, 2, 3]"),
    "q213_rolling_actives" -> Set("range(0, 7)"),
    "qm1_multimodal_features" -> Set("generate_series(0, 7)"))

  /** The argument of every lateral `, UNNEST(...)` in `sql`, whitespace
    * collapsed. A comma-joined UNNEST is lateral when the nearest clause
    * keyword at its nesting depth is FROM or JOIN; after SELECT it is a
    * select-list UNNEST. */
  private def lateralUnnests(sql: String): Seq[String] = {
    val s = sql.replaceAll("\\s+", " ")
    def clause(at: Int): Option[String] = {
      var depth = 0
      var i = at
      while (i > 0) {
        i -= 1
        s(i) match {
          case ')' => depth += 1
          case '(' => if (depth == 0) return None else depth -= 1
          case _ if depth == 0 =>
            val kw = Seq("FROM", "JOIN", "SELECT").find { k =>
              s.regionMatches(true, i, k, 0, k.length) &&
                !(i > 0 && (s(i - 1).isLetterOrDigit || s(i - 1) == '_')) &&
                !(i + k.length < s.length && s(i + k.length).isLetterOrDigit)
            }
            if (kw.nonEmpty) return kw
          case _ =>
        }
      }
      None
    }
    def argument(open: Int): String = {
      var depth = 0
      var j = open
      while (j < s.length) {
        if (s(j) == '(') depth += 1
        else if (s(j) == ')') {
          depth -= 1
          if (depth == 0) return s.substring(open + 1, j).trim
        }
        j += 1
      }
      s.substring(open + 1).trim
    }
    "(?i),\\s*UNNEST\\s*\\(".r.findAllMatchIn(s).toSeq
      .filter(m => clause(m.start).exists(k => k.equalsIgnoreCase("FROM") ||
        k.equalsIgnoreCase("JOIN")))
      .map(m => argument(m.end - 1))
  }

  test("no oracle expands a per-row list or text through a lateral join") {
    val found = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (q, sql) => lateralUnnests(sql).map(q -> _)
    }
    val bad = found.filterNot { case (q, a) =>
      constantLaterals.getOrElse(q, Set.empty[String]).contains(a)
    }
    assert(bad.isEmpty, "lateral UNNEST over a per-row value (use a select-list " +
      "UNNEST or TextFns.windowsSql):\n" +
      bad.map { case (q, a) => s"  $q: UNNEST($a)" }.mkString("\n"))
    val stale = constantLaterals.keySet -- found.map(_._1)
    assert(stale.isEmpty, s"allowlisted queries with no lateral: $stale")
  }

  test("the lateral lint flags per-row expansions and spares select-list ones") {
    assert(lateralUnnests(
      "SELECT u.term FROM t, UNNEST(toks) AS u(term)") == Seq("toks"))
    assert(lateralUnnests(
      "SELECT toks[i] FROM f,\n  UNNEST(generate_series(1, len(toks) - 1)) AS g(i)")
      == Seq("generate_series(1, len(toks) - 1)"))
    assert(lateralUnnests(
      "SELECT 1 FROM documents d JOIN e ON d.k = e.k, UNNEST(range(0, length(text))) u(i)")
      == Seq("range(0, length(text))"))
    assert(lateralUnnests(
      "SELECT doc_id, UNNEST(toks) AS w, generate_subscripts(toks, 1) AS i FROM t")
      .isEmpty)
    assert(lateralUnnests(
      "SELECT g FROM (SELECT doc_id, UNNEST(gs) AS g FROM f), w").isEmpty)
  }
}
