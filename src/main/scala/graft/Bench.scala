package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query against
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line
  * `{"metric":"total","value":sec,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Measurement notes:
  *  - a warm-up pass (session + codegen + parquet reader init) runs before
  *    any timing so the first query doesn't absorb JVM start-up;
  *  - each query is forced with a `noop` datasource write — unlike
  *    `count()`, this evaluates every projected column (count() lets
  *    Catalyst prune the projection entirely);
  *  - THREE timed passes run, INTERLEAVED (pass 1 of all queries in name
  *    order, then pass 2, then pass 3), and each query reports its
  *    per-pass MEDIAN. This box has co-tenants: rounds 2 and 3 each
  *    produced a phantom "regression cluster" of consecutive queries
  *    (r2 q59–q64, r3 q24–q31) that was nothing but a noisy ~10 s window
  *    landing on whichever queries ran inside it. A noise burst is local
  *    in TIME; interleaving makes each query's three samples land in
  *    three widely separated windows, so a burst can corrupt at most one
  *    of three samples — which the median discards. `queries_min` is also
  *    emitted (per-query best-of-3) as the low-noise floor.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = 3
    val spark = GraftSession()
    import QueryTrace.{force, median}

    // Local-iteration filter (comma-separated names, Verify's contract);
    // the driver never sets it, so driver benches always cover the suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val declared = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // POSITION CANARY (r9): a constant fixed-plan probe interleaved every
    // 25 suite positions. Suite context (GC pressure, codegen-cache state
    // accumulated from the queries before it) adds a reproducible
    // position-dependent overhead — q111 measured ~1.7 s suite-position
    // cost on a 1.1 s query and burned two rounds of attribution
    // (SCALING.md r7/r8). The canary makes that overhead a MEASURED curve
    // per bench run ("canary" in the JSON, name-keyed by position), so a
    // >20% mover on an untouched sub-second query is adjudicated against
    // the curve first. TRIAGE RULE: isolate before bisecting — any
    // remaining suspect goes through graft.PerfAB, never suite-to-suite
    // diffs. The canary itself is SF-independent (a range sum) and is
    // excluded from `value` and `queries`.
    val canaryFn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(0, 4000000L, 1, 8)
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("id") % 7).as("s"))
    // JOB-LATENCY CANARY (r12): the compute canary measures CORE speed
    // (one fat job) and is BLIND to per-job round-trip latency, which
    // drifts independently on this box (driver-thread co-tenancy): the
    // r11 final-window "unattributed movers" (q52/q83/q86/q192/q202/
    // q222) were precisely the HIGH-JOB-COUNT queries (45/32/13/…
    // driver-side jobs from fixed-round fits, CC rounds, probe
    // aggregates, multi-scan unions), in a window where an isolated
    // 41-trivial-job probe measured ~67 ms/job vs the ~10 ms the r10
    // totals imply — their ratios tracked the LATENCY thermometer, not
    // the compute one (PerfAB job_latency_x20 decomposition, SCALING.md
    // r12). Five eager 32-tiny-task aggregates at construction time
    // ≈ 10 job round-trips with negligible compute.
    val jobCanaryFn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => {
        import org.apache.spark.sql.functions._
        (1 to 5).foreach { _ =>
          s.range(0, 32L, 1, 32).agg(count(lit(1))).head()
        }
        s.range(0, 1L).toDF()
      }
    val canaryEvery = 25
    val ordered: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      declared.zipWithIndex.flatMap { case (q, i) =>
        if (i % canaryEvery == 0)
          Seq(f"_canary_$i%03d" -> canaryFn,
            f"_jobcanary_$i%03d" -> jobCanaryFn, q)
        else Seq(q)
      } ++ Seq(f"_canary_${declared.size}%03d" -> canaryFn,
        f"_jobcanary_${declared.size}%03d" -> jobCanaryFn)

    // untimed warm pass: JIT/codegen/file-index costs land here, so the
    // timed passes below measure steady-state throughput (the regime a
    // long-running cluster job actually operates in)
    ordered.foreach { case (_, fn) =>
      try force(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // PROBE-COST BUDGET (r12): the adaptive dispatchers each pay an
    // eager plan-time probe (ProbeCost-instrumented at every site);
    // reset after the warm pass so `probe_cost_est` below is the
    // premium the TIMED passes actually paid, reported per pass.
    ProbeCost.reset()

    // a failed query records null, never its time-to-failure — a broken
    // query must not masquerade as a fast one. Timing includes DataFrame
    // CONSTRUCTION: eager iterative operators (connected components) do
    // their work before any action.
    // per-query Spark-job counts (r12): captured on pass 1 only — job
    // counts are code-determined and pass-stable; the count marks which
    // queries sit in the LATENCY class (many driver round-trips) vs the
    // compute class, the split the two canaries adjudicate between
    val queryJobs = scala.collection.mutable.Map.empty[String, Int]
    val samples: Seq[Seq[(String, Option[Double])]] =
      (1 to passes).map { pass =>
        ordered.map { case (name, fn) =>
          val elapsed =
            try {
              val w = QueryTrace.during(spark)(force(fn(spark, sfDir)))
              if (pass == 1) queryJobs(name) = w.jobs
              Some(w.sec)
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              None
            }
          name -> elapsed
        }
      }
    // a query is failed if ANY pass failed (flaky ≠ healthy)
    val allResults: Seq[(String, Option[Double], Option[Double])] =
      ordered.map { case (name, _) =>
        val runs = samples.map(_.find(_._1 == name).get._2)
        if (runs.exists(_.isEmpty)) (name, None, None)
        else (name, Some(median(runs.flatten)), Some(runs.flatten.min))
      }
    val (jobCanaries, nonJob) =
      allResults.partition(_._1.startsWith("_jobcanary_"))
    val (canaries, results) = nonJob.partition(_._1.startsWith("_canary_"))
    def jsonMap(rs: Seq[(String, Option[Double], Option[Double])])(
        f: ((String, Option[Double], Option[Double])) => Option[Double]) =
      rs.map(r => "\"" + r._1 + "\":" + f(r).fold("null")(_.toString))
        .mkString("{", ",", "}")
    val qs = jsonMap(results)(_._2)
    val qsMin = jsonMap(results)(_._3)
    val canary = jsonMap(canaries)(_._2)
    val jobCanary = jsonMap(jobCanaries)(_._2)
    val total = results.flatMap(_._2).sum
    val failed = results.collect { case (k, None, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
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
        def meanOf(rs: Seq[(String, Option[Double], Option[Double])]): Double = {
          val cs = rs.flatMap(_._2)
          if (cs.isEmpty) 0.0 else cs.sum / cs.size
        }
        def prevMean(field: String): Double = Option(root.get(field)).map { c =>
          val it = c.elements()
          var s = 0.0; var n = 0
          while (it.hasNext) { val v = it.next(); if (v.isNumber) { s += v.asDouble; n += 1 } }
          if (n == 0) 0.0 else s / n
        }.getOrElse(0.0)
        val curCanary = meanOf(canaries)
        val prevCanary = prevMean("canary")
        val canaryRatio =
          if (curCanary > 0 && prevCanary > 0) curCanary / prevCanary else 1.0
        // second thermometer (r12): per-job round-trip latency drift.
        // Falls back to the compute ratio while the previous artifact
        // predates the job canary (first r12 run) — the blend tier then
        // degenerates to the r11 single-canary rule.
        val curJobCanary = meanOf(jobCanaries)
        val prevJobCanary = prevMean("job_canary")
        val jobCanaryRatio =
          if (curJobCanary > 0 && prevJobCanary > 0) curJobCanary / prevJobCanary
          else canaryRatio
        val entries = results.flatMap { case (name, med, _) =>
          med.flatMap { c =>
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
    val queriesJobs = results.map(r =>
        "\"" + r._1 + "\":" + queryJobs.getOrElse(r._1, -1))
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
    def meanStr(rs: Seq[(String, Option[Double], Option[Double])]): String = {
      val cs = rs.flatMap(_._2)
      if (cs.isEmpty) "null" else f"${cs.sum / cs.size}%.4f"
    }
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
