package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every declared query against
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line
  * `{"metric":"total","value":sec,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Measurement: [[QueryTrace.interleaved]] with THREE passes — one
  * untimed warm pass, then pass 1 of all queries in name order, then
  * pass 2, then pass 3, each query forced by a `noop` write. Each query
  * reports its per-pass MEDIAN (`queries`), best-of-3 (`queries_min`,
  * the low-noise floor) and median job count (`queries_jobs`). This box
  * has co-tenants: rounds 2 and 3 each produced a phantom "regression
  * cluster" of consecutive queries (r2 q59–q64, r3 q24–q31) that was
  * nothing but a noisy ~10 s window landing on whichever queries ran
  * inside it; interleaving lets a burst corrupt at most one of three
  * samples, which the median discards.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = 3
    val spark = GraftSession()

    // Local-iteration filter (comma-separated names, Verify's contract);
    // the driver never sets it, so driver benches always cover the suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val declared = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // POSITION CANARY (r9): PerfAB's `canary_range_sum` interleaved every
    // 25 suite positions. Suite context (GC pressure, codegen-cache state
    // accumulated from the queries before it) adds a reproducible
    // position-dependent overhead — q111 measured ~1.7 s suite-position
    // cost on a 1.1 s query and burned two rounds of attribution
    // (SCALING.md r7/r8). The canary makes that overhead a MEASURED curve
    // per bench run ("canary" in the JSON, name-keyed by position), so a
    // >20% mover on an untouched sub-second query is adjudicated against
    // the curve first. TRIAGE RULE: isolate before bisecting — any
    // remaining suspect goes through graft.PerfAB, never suite-to-suite
    // diffs. The canary is SF-independent and is excluded from `value`
    // and `queries`.
    // JOB-LATENCY CANARY (r12): PerfAB's `job_latency_x5`, beside each
    // compute canary. The compute canary measures CORE speed (one fat
    // job) and is BLIND to per-job round-trip latency, which drifts
    // independently on this box (driver-thread co-tenancy): the r11
    // final-window "unattributed movers" (q52/q83/q86/q192/q202/q222)
    // were precisely the HIGH-JOB-COUNT queries, and their ratios
    // tracked the LATENCY thermometer, not the compute one (SCALING.md
    // r12).
    val canaryFn = PerfAB.variants("canary_range_sum")
    val jobCanaryFn = PerfAB.variants("job_latency_x5")
    val canaryEvery = 25
    val ordered: Seq[(String, (SparkSession, String) => DataFrame)] =
      declared.zipWithIndex.flatMap { case (q, i) =>
        if (i % canaryEvery == 0)
          Seq(f"_canary_$i%03d" -> canaryFn,
            f"_jobcanary_$i%03d" -> jobCanaryFn, q)
        else Seq(q)
      } ++ Seq(f"_canary_${declared.size}%03d" -> canaryFn,
        f"_jobcanary_${declared.size}%03d" -> jobCanaryFn)

    // PROBE-COST BUDGET (r12): the loop resets ProbeCost after its warm
    // pass, so `probe_cost_est` below is the premium the TIMED passes
    // paid for the adaptive dispatchers' eager plan-time probes.
    // A failed query records null, never its time-to-failure.
    val allResults: Seq[(String, Option[QueryTrace.Summary])] =
      QueryTrace.interleaved(spark,
        ordered.map { case (name, fn) => name -> (() => fn(spark, sfDir)) }, passes)
        .map { case (name, runs) => name -> QueryTrace.summary(runs) }
    val (jobCanaries, nonJob) =
      allResults.partition(_._1.startsWith("_jobcanary_"))
    val (canaries, results) = nonJob.partition(_._1.startsWith("_canary_"))
    type Row = (String, Option[QueryTrace.Summary])
    def jsonMap(rs: Seq[Row])(f: QueryTrace.Summary => Double) =
      rs.map(r => "\"" + r._1 + "\":" + r._2.map(f).fold("null")(_.toString))
        .mkString("{", ",", "}")
    val qs = jsonMap(results)(_.medianSec)
    val qsMin = jsonMap(results)(_.minSec)
    val canary = jsonMap(canaries)(_.medianSec)
    val jobCanary = jsonMap(jobCanaries)(_.medianSec)
    val total = results.flatMap(_._2).map(_.medianSec).sum
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    def meanOf(rs: Seq[Row]): Option[Double] = {
      val cs = rs.flatMap(_._2).map(_.medianSec)
      if (cs.isEmpty) None else Some(cs.sum / cs.size)
    }
    // MOVER AUTO-ADJUDICATION (r10): diff this run's medians against the
    // last committed round's bench_full_r<N>.json and write per-mover
    // verdicts INTO the artifact, so round-over-round movers are
    // machine-adjudicated instead of prose-triaged. The rule is the
    // canary-curve triage rule, automated: a >20% mover that is
    // sub-second on BOTH sides is suite-position jitter at the canary's
    // measured overhead scale ("jitter-by-canary"); anything bigger
    // must be attributed by an ISOLATED graft.PerfAB run
    // ("needs-perfab") — never by suite-to-suite bisection.
    // SPARK_GRAFT_BENCH_PREV overrides the reference file.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val outName = new java.io.File(outPath).getName
    val prevPath = sys.env.get("SPARK_GRAFT_BENCH_PREV").orElse {
      // exclude this run's own output file: a re-run inside the same
      // round must still diff against the last COMMITTED round, not
      // against its own first attempt
      Option(new java.io.File(".").listFiles()).flatMap(
        _.filter(f => f.getName.matches("bench_full_r\\d+\\.json") &&
            f.getName != outName)
          .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
          .lastOption.map(_.getPath))
    }
    val movers: String = prevPath.flatMap { p =>
      scala.util.Try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(p))
        val prev = root.get("queries")
        // canary-RATIO drift tier (r11): the box drifts ×1.5–2.5
        // between windows on identical code (BASELINE.md), so a mover
        // whose ratio tracks the canary-mean ratio within ±25% is the
        // WHOLE SUITE moving — machine-adjudicated as drift instead of
        // flooding needs-perfab (r11's run had 50 such entries, all
        // clustered at the ×1.43 canary ratio)
        def prevMean(field: String): Double = Option(root.get(field)).map { c =>
          val it = c.elements()
          var s = 0.0; var n = 0
          while (it.hasNext) { val v = it.next(); if (v.isNumber) { s += v.asDouble; n += 1 } }
          if (n == 0) 0.0 else s / n
        }.getOrElse(0.0)
        val curCanary = meanOf(canaries).getOrElse(0.0)
        val prevCanary = prevMean("canary")
        val canaryRatio =
          if (curCanary > 0 && prevCanary > 0) curCanary / prevCanary else 1.0
        // second thermometer (r12): per-job round-trip latency drift.
        // Falls back to the compute ratio while the previous artifact
        // predates the job canary (first r12 run) — the blend tier then
        // degenerates to the r11 single-canary rule.
        val curJobCanary = meanOf(jobCanaries).getOrElse(0.0)
        val prevJobCanary = prevMean("job_canary")
        val jobCanaryRatio =
          if (curJobCanary > 0 && prevJobCanary > 0) curJobCanary / prevJobCanary
          else canaryRatio
        val entries = results.flatMap { case (name, row) =>
          row.map(_.medianSec).flatMap { c =>
            Option(prev.get(name)).filter(_.isNumber).map(_.asDouble)
              .collect {
                case pv if pv > 0 && (c / pv > 1.2 || c / pv < 1.0 / 1.2) =>
                  val r = c / pv
                  // a query's window ratio is a mix of compute drift and
                  // job-latency drift (weights = its compute/job-count
                  // profile), so anything inside the two thermometers'
                  // band (±25%) is box, not code
                  val verdict =
                    if (math.max(pv, c) < 1.0) "jitter-by-canary"
                    else if (r / canaryRatio < 1.25 && canaryRatio / r < 1.25)
                      "drift-by-canary"
                    else if (r <= math.max(canaryRatio, jobCanaryRatio) * 1.25 &&
                        r >= math.min(canaryRatio, jobCanaryRatio) / 1.25)
                      "drift-by-canary-blend"
                    else "needs-perfab"
                  f""""$name":{"prev":$pv%.3f,"cur":$c%.3f,""" +
                    f""""ratio":$r%.2f,"verdict":"$verdict"}"""
              }
          }
        }
        f""""prev_bench":"$p","canary_ratio":$canaryRatio%.2f,"job_canary_ratio":$jobCanaryRatio%.2f,"movers":{${entries.mkString(",")}}"""
      }.toOption
    }.getOrElse(""""movers":{}""")
    // per-pass probe premium: total driver wall inside dispatch probes
    // across the suite, divided by passes (each pass re-probes), plus
    // the per-probe breakdown (n = invocations per pass)
    val probeSnap = ProbeCost.snapshot()
    val probeCostEst = probeSnap.values.map(_._2).sum / passes
    val probeBreakdown = probeSnap.toSeq.sortBy(_._1).map { case (k, (n, s)) =>
      f""""$k":{"n_per_pass":${n.toDouble / passes}%.1f,"sec_per_pass":${s / passes}%.4f}"""
    }.mkString("{", ",", "}")
    // median over the timed passes: AQE runs a timing-dependent number
    // of query-stage jobs inside eager actions, so one pass's count is
    // not the query's (-1 marks a failed query)
    val queriesJobs = results.map(r =>
        "\"" + r._1 + "\":" + r._2.fold(-1L)(s => math.round(s.jobs)))
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"canary":$canary,"job_canary":$jobCanary,"queries_jobs":$queriesJobs,"passes":$passes,"failed":$failed,$movers,"probe_cost_est":${f"$probeCostEst%.4f"},"probe_cost":$probeBreakdown,"sf":"$sfDir"}"""
    println(line)
    // COMPACT FINAL LINE (r11): the driver keeps only the last 2000
    // chars of stdout and tries to parse a JSON line out of them — the
    // full artifact line above has never fit (BENCH_r01..r10 all read
    // "parsed": null). The LAST stdout line is therefore a summary
    // guaranteed to fit the tail: suite total, failure list, canary
    // mean (the cross-run comparability key — box speed drifts ×1.5
    // between boots, BASELINE.md), and a pointer to the full on-disk
    // artifact. Per-query medians live in the artifact, not here.
    def meanStr(rs: Seq[Row]): String = meanOf(rs).fold("null")(m => f"$m%.4f")
    val canaryMean = meanStr(canaries)
    val jobCanaryMean = meanStr(jobCanaries)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failed,"canary_mean":$canaryMean,"job_canary_mean":$jobCanaryMean,"probe_cost_est":${f"$probeCostEst%.4f"},"passes":$passes,"sf":"$sfDir","full_artifact":"$outPath"}""")
    // the driver truncates its BENCH_r*.json artifact to the tail of this
    // line, losing most per-query medians; persist the full JSON in the
    // repo so round-over-round comparison keeps the whole suite
    // (overridable for ad-hoc runs via SPARK_GRAFT_BENCH_OUT)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    if (results.exists(_._2.isEmpty)) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
