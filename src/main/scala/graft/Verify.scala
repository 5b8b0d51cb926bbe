package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (comma-separated name list); the driver never
    // sets it, so its runs always dump the full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val dumpFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        dumpFailures += name
      }
    }
    // oracle set mirrors the dump selection (the driver never sets ONLY,
    // so its gate always carries the full map; local ONLY runs stop
    // reporting the undumped remainder as failures)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql
        .filter { case (k, _) => only.forall(_.contains(k)) }))
    // r8: export the MEASURED self-certified bounds of the sketch
    // queries alongside the dump — the measured VALUE (worst HLL error
    // %, certified mean recall@10) goes to bounds.json. The declared
    // q42 output carries only deterministic columns, so its value is
    // re-derived here from the internal full frame (q42Full); q52's
    // declared rows carry the certified mean themselves. Either way the
    // bound entry reads the plan whose in-query raise_error the dumped
    // rows passed, so both certify the same assertion. An empty/NULL
    // aggregate is exactly the case where the per-row raise never
    // evaluated, so it must surface as a FAILING entry (ok:false,
    // value:null), never as silence; a non-finite aggregate would render
    // invalid JSON and disable every bound downstream, so it fails the
    // same way.
    val boundLines = selfCertifiedBounds.flatMap {
      case (name, (desc, frame, limit, op)) =>
        if (!only.forall(_.contains(name))) None
        else {
          val entry = scala.util.Try {
            val df = frame(spark, sfDir)
            if (df.isEmpty) """null, "note": "empty internal frame", "ok": false"""
            else {
              val row = df.head
              if (row.isNullAt(0))
                """null, "note": "null aggregate", "ok": false"""
              else {
                val v = row.getDouble(0)
                if (!java.lang.Double.isFinite(v))
                  s"""null, "note": "non-finite aggregate $v", "ok": false"""
                else {
                  val ok = if (op == "<=") v <= limit else v >= limit
                  s"""$v, "ok": $ok"""
                }
              }
            }
          }.recover { case e =>
            val msg = e.getMessage match {
              case null => e.getClass.getSimpleName
              case m => m.takeWhile(_ != '\n').take(120)
                .replaceAll("[\"\\\\\\p{Cntrl}]", " ")
            }
            s"""null, "note": "$msg", "ok": false"""
          }.get
          Some(s""""$name": {"bound": "$desc", "value": $entry, "limit": $limit, "op": "$op"}""")
        }
    }
    Files.writeString(Paths.get(s"$outDir/bounds.json"),
      boundLines.mkString("{", ",\n ", "}"))
    // r9: machine-readable round summary (the VERDICT's narrative claims
    // as diffable counts). check.py merges the oracle gate's ok/fail
    // into the same file after comparing.
    val declared = SparkEntry.queries.size
    val rowsOnly = SparkEntry.queries.keys
      .filterNot(SparkEntry.oracleSql.contains).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failures = dumpFailures.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/summary.json"),
      s"""{"declared_queries": $declared,""" +
        s""" "oracle_checked": ${SparkEntry.oracleSql.size},""" +
        s""" "selected": ${selected.size},""" +
        s""" "rows_only": $rowsOnly, "dump_failures": $failures,""" +
        s""" ${Evidence.json}}""")
    spark.stop()
  }

  /** The sketch queries' self-certification, as (description, a
    * 1-row/1-column double frame over the certifying pipeline, spec
    * limit, direction). The aggregate re-derives the same number the
    * in-query assertion checked: q42's worst per-row sketch error,
    * q52's certified full-probe-set mean recall (constant on every row
    * by construction). */
  private[graft] val selfCertifiedBounds: Map[String,
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame,
        Double, String)] = {
    import org.apache.spark.sql.functions.{col, max, min}
    Map(
      "q42_approx_distinct" ->
        ("max est_within_pct",
          (s: SparkSession, d: String) => operators.Relational.q42Full(s, d)
            .agg(max(col("est_within_pct")).cast("double")),
          5.0, "<="),
      "q52_knn_ivf" ->
        ("mean recall_at_10 over the probe set",
          (s: SparkSession, d: String) => operators.SimilarityOps
            .q52KnnIvf(s, d)
            .agg(min(col("mean_recall_at_10")).cast("double")),
          0.3, ">="))
  }

  /** JSON for an oracle-SQL map. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. Shared with the oracle-fuzz spec. */
  private[graft] def oracleJson(m: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
