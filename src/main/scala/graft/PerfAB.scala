package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Isolated A/B attribution harness — the q111 lesson turned into a
  * tool: a query's SUITE-position time carries ~1.7 s of GC/codegen
  * context (SCALING.md r8), so a bench-to-bench mover must be
  * adjudicated by an ISOLATED interleaved A/B of the two variants, not
  * by bisecting suite runs. Runs the names through
  * [[QueryTrace.interleaved]] (one warm pass, then `passes` interleaved
  * passes) and prints per name the median and min seconds (min ≈ the
  * noise floor on a co-tenant box), the median jobs and longest task,
  * the max peak task memory and spill, then the last pass's stage/task
  * table: each stage's wall, task count and longest task, and the top
  * tasks with the records they read. The table is what separates a
  * genuine single fat task (the skew the adaptive dispatches exist for)
  * from a uniformly busy stage, and shows plan pathologies a wall time
  * hides (r11 fan-out forensics, SCALING.md). A name that fails in any
  * pass prints how many passes it failed; the others still run.
  *
  * Usage: runMain graft.PerfAB [sfDir] [passes] [nameCsv]
  * (defaults /root/testdata/sf0.1, 5, all registered variants).
  * A name is a declared query or a variant key ([[QueryTrace.lookup]]).
  */
object PerfAB {

  /** Variant registry: only rows that time production code a declared
    * query does not already reach by name — the two window canaries,
    * q101's at-scale forms and the adaptive dispatchers forced to either
    * arm on synthetic fixtures. Settled A/B pairs are retired once their
    * verdict is in (SCALING.md "retired A/B variants"). */
  val variants: Map[String, (SparkSession, String) => DataFrame] = Map(
    // triangle orientation on the q36 graph: the degree branch forced,
    // and the id branch forced (the unconditional r1–r10 form the
    // adaptive dispatch replaced)
    "q83_deg_forced" -> ((s, d) => operators.DedupOps.trianglesAdaptive(
      operators.DedupOps.q36MinhashLsh(s, d), 1L)),
    "q83_id_oriented" -> ((s, d) => operators.DedupOps.trianglesAdaptive(
      operators.DedupOps.q36MinhashLsh(s, d), Long.MaxValue)),
    // q70 contamination's two arms: raw gram join vs collapse +
    // role-aware expansion (the declared form picks one by an HLL
    // dup-mass probe)
    "q70_raw" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val isBench = pmod(graft.functions.TextFns.hash60(concat(lit("bench:"),
        col("doc_id").cast("string"))), lit(100)) < 5
      operators.CurationOps.contaminationPairs(
        Tables.documents(s, d), Tables.documents(s, d).filter(isBench))
    }),
    "q70_collapsed" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val isBench = pmod(graft.functions.TextFns.hash60(concat(lit("bench:"),
        col("doc_id").cast("string"))), lit(100)) < 5
      operators.CurationOps.contaminationCollapsed(
        Tables.widen(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"),
            graft.functions.TextFns.normText(col("text")).as("norm")),
        isBench)
    }),
    "tri_hub_deg" -> ((s, _) => operators.DedupOps.triangles(hubGraph(s))),
    "tri_hub_id" -> ((s, _) =>
      operators.DedupOps.trianglesAdaptive(hubGraph(s), Long.MaxValue)),
    // the regime the adaptive dispatch exists for: a 40001-node hub
    // parks 4x10^8 wedges on ONE id-ordered join key
    "tri_hub40k_deg" -> ((s, _) => operators.DedupOps.triangles(hubGraph(s, 40001L))),
    "tri_hub40k_id" -> ((s, _) =>
      operators.DedupOps.trianglesAdaptive(hubGraph(s, 40001L), Long.MaxValue)),
    // r11 THRESHOLD-SENSITIVITY rows (VERDICT task 3): the hub-8001
    // graph sits just under Skew.SingleTaskRows (16M of 16.7M wedges);
    // halving the threshold flips it to the degree branch, doubling
    // keeps the id branch — the pair measures the crossover's flatness
    // (≈ parity expected; the constant's placement is uncritical ±2×)
    "tri_hub_thr_half" -> ((s, _) => operators.DedupOps.trianglesAdaptive(
      hubGraph(s), operators.Skew.SingleTaskRows / 2)),
    "tri_hub_thr_double" -> ((s, _) => operators.DedupOps.trianglesAdaptive(
      hubGraph(s), operators.Skew.SingleTaskRows * 2)),
    // same for the boundary bar: a synthetic viral boundary of
    // m=5000 head==tail docs probes maxFan = 2.5e7, 1.5x the 2^24 bar —
    // half the threshold salts it, double runs it plain; the 1.5M-doc
    // filler keeps the join naturally in the SMJ regime (the bar's own
    // regime — a broadcastable index with a spread stream has no fat
    // task, see the Skew.SingleTaskRows calibration record)
    "ht_viral_thr_half" -> ((s, _) => operators.DedupOps.headTailPairs(
      viralDocs(s), 3, operators.Skew.SingleTaskRows / 2)),
    "ht_viral_thr_double" -> ((s, _) => operators.DedupOps.headTailPairs(
      viralDocs(s), 3, operators.Skew.SingleTaskRows * 2)),
    // the before/after pair for the r11 boundary salt itself: default
    // threshold salts the m=5000 viral key (2.5e7 pairs spread 64
    // ways); MaxValue forces the r10 single-key plan
    "ht_viral_salted" -> ((s, _) =>
      operators.DedupOps.headTailPairs(viralDocs(s), 3)),
    "ht_viral_plain" -> ((s, _) => operators.DedupOps.headTailPairs(
      viralDocs(s), 3, Long.MaxValue)),
    // r11 q152 window-join salt: run against the bot-user zipf fixture
    // dir (ScaleRegression zipf events, e.g. /tmp/graft_scale/x20000-zipf)
    // next to the declared q152_decay_attribution, which dispatches the
    // salt there; this row forces the r10 single-key plan
    "q152_plain_forced" -> ((s, d) => operators.EventOps.decayAttribution(
      Tables.events(s, d), Long.MaxValue)),
    // COMPUTE canary (r12): a fixed range aggregate with no I/O. Run
    // next to suspect queries (by declared name) in the same window, it
    // tells "the window is slow" from "the code got slower".
    "canary_range_sum" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.range(0, 4000000L, 1, 8).agg(sum(col("id") % 7).as("s"))
    }),
    // JOB-LATENCY canary (r12): 5 eager one-aggregate jobs of 32 tiny
    // tasks run at CONSTRUCTION time — times ~10 driver/scheduler job
    // round-trips with negligible compute, the component a fixed-round
    // iterative query (q52: ~dozens of tiny jobs) or a many-stage small
    // union (q86) is exposed to and a one-fat-stage query is not. The
    // compute canary (canary_range_sum) and this pair decompose a
    // window's slowness into "cores are slow" vs "job round-trips are
    // slow" — the r11 final-window movers were all in the second class.
    // Bench interleaves both; the r12–r13 `job_latency_x20` readings
    // (20 jobs) are about ×4 this row's.
    "job_latency_x5" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      (1 to 5).foreach { _ =>
        s.range(0, 32L, 1, 32).agg(count(lit(1))).head()
      }
      s.range(0, 1L).select(col("id"))
    }),
    // q101 as an at-scale caller runs it: the graph-sized rank unit (the
    // declared q101's pinned 10¹² refuses past ~5·10⁴ nodes, e.g. at
    // ScaleRegression's 10×), and one un-checkpointed round of it — the
    // plan that shows the rank⋈edges join strategy at a given scale
    "q101_pagerank_sized" -> ((s, d) =>
      operators.GraphOps.q101PageRankWithUnit(s, d, 0L)),
    "q101_round" -> ((s, d) => operators.GraphOps.q101RoundPlan(s, d)))

  /** 5000 copies of one 3-token doc (head window == tail window, ONE
    * boundary hash carrying 2.5·10⁷ pair outputs, 1.5× the 2²⁴ bar)
    * over a 1.5M-doc filler corpus. The filler size matters: it keeps
    * the boundary index past the broadcast bar so the pair join runs
    * as the SMJ the threshold is calibrated for — with a broadcastable
    * index this fixture's stream side is SPREAD (range-generated), the
    * BHJ parallelizes the fan map-side, and the salt can only lose
    * (the r11 calibration detour, see Skew.SingleTaskRows). */
  private def viralDocs(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val viral = s.range(0, 5000L)
      .select(col("id").as("doc_id"), lit("alpha beta gamma").as("text"))
    val filler = s.range(100000L, 1600000L)
      .select(col("id").as("doc_id"),
        concat(lit("w"), col("id").cast("string"), lit(" x"),
          col("id").cast("string"), lit(" y"), col("id").cast("string"),
          lit(" z"), col("id").cast("string")).as("text"))
    viral.unionByName(filler)
  }

  /** Star hub with ids on BOTH sides (node N/2 joined to every other
    * node) plus a ring for graph body — the id-ordered wedge stage's
    * worst case: the hub key receives (N/2)² wedge rows from KBs of
    * input, below every AQE skew threshold. */
  private def hubGraph(s: SparkSession, n: Long = 8001L): DataFrame = {
    import org.apache.spark.sql.functions._
    val hub = n / 2
    val ids = s.range(0, n).select(col("id"))
    val star = ids.filter(col("id") =!= hub).select(
      least(col("id"), lit(hub)).as("doc_a"),
      greatest(col("id"), lit(hub)).as("doc_b"))
    val ring = ids.filter(col("id") < n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      // ring edges touching the hub already exist in the star
      .filter(col("doc_a") =!= hub && col("doc_b") =!= hub)
    star.union(ring)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 5
    // any DECLARED query is measurable by its SparkEntry name without
    // hand-registering a variant (r12: mover attribution needs CONTROL
    // queries from untouched files in the same window as the suspects)
    val names =
      if (args.length > 2) args(2).split(",").toSeq else variants.keys.toSeq.sorted
    val spark = GraftSession()
    // a variant's wall divides into compute and #jobs × round-trip
    // latency (r12); its last pass also keeps the stage/task table that
    // tells one fat task (skew) from a uniformly busy stage
    val runs = QueryTrace.interleaved(spark,
      names.map(n => n -> (() => QueryTrace.lookup(n)(spark, sfDir))), passes)
    println(f"\n[perfab] $passes%d interleaved passes at $sfDir%s")
    runs.foreach { case (n, ws) =>
      QueryTrace.summary(ws) match {
        case None =>
          println(f"[perfab] $n%-24s failed in ${ws.count(_.isEmpty)}%d of $passes%d passes")
        case Some(m) =>
          println(f"[perfab] $n%-24s median ${m.medianSec}%6.3fs  min ${m.minSec}%6.3fs  " +
            f"jobs ${m.jobs}%5.1f  max-task ${m.maxTaskMs}%6.0f ms  " +
            f"peak ${m.peakBytes / 1048576.0}%7.1f MB  spill ${m.spillBytes / 1048576.0}%7.1f MB  " +
            m.secs.map(x => f"$x%.3f").mkString("[", ", ", "]"))
          val w = ws.last.get
          val byStage = w.tasks.groupBy(_.stage)
          w.stages.sortBy(-_.wallMs).take(8).foreach { st =>
            val top = byStage.getOrElse(st.id, Seq.empty).maxByOption(_.ms)
              .fold("")(t => f"  top idx=${t.index}%d recsIn=${t.recordsIn}%d")
            println(f"[perfab]   stage ${st.id}%5d wall ${st.wallMs}%7d ms  tasks ${st.tasks}%4d  " +
              f"max-task ${st.maxTaskMs}%7d ms$top")
          }
          w.tasks.sortBy(-_.ms).take(6).foreach { t =>
            println(f"[perfab]   task stage=${t.stage}%d idx=${t.index}%d  ${t.ms}%7d ms  recsIn=${t.recordsIn}%d")
          }
      }
    }
    spark.stop()
  }
}
