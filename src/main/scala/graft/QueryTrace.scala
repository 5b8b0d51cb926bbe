package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.drainListenerBus

/** The measurement core the tool mains (Bench, PerfAB, PlanAudit,
  * LintSweep, ScaleRegression) and the job-counting specs share: one
  * listener installed for one window, the one timing loop and its
  * summary, the name lookup, the forcing write and the median. */
object QueryTrace {

  /** A completed stage: submission-to-completion wall, task count and
    * its longest task. */
  final case class Stage(id: Int, wallMs: Long, tasks: Int, maxTaskMs: Long)

  /** A finished task with the records it read (input + shuffle) — a
    * one-task stage is only identifiable by what it read. */
  final case class Task(stage: Int, index: Int, ms: Long, recordsIn: Long)

  /** What ran inside one [[during]] window. `sec` times the body alone;
    * peak is the largest single-task execution memory, spill the total
    * memory + disk spill. */
  final case class Window[A](value: A, sec: Double, jobs: Int,
      stages: Seq[Stage], tasks: Seq[Task], peakBytes: Long, spillBytes: Long) {
    def maxTaskMs: Long = tasks.map(_.ms).maxOption.getOrElse(0L)
  }

  /** Runs `body` with a listener attached for its window only. The bus
    * is drained before the listener is added (queued events from
    * earlier work would reach it) and before it is read, both outside
    * the timed interval, so the counts are exact. */
  def during[A](spark: SparkSession)(body: => A): Window[A] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val stages = new ConcurrentLinkedQueue[(Int, Long, Int)]()
    val tasks = new ConcurrentLinkedQueue[Task]()
    val peak = new AtomicLong(0L)
    val spill = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        stages.add((si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
        if (t.taskInfo != null)
          tasks.add(Task(t.stageId, t.taskInfo.index, t.taskInfo.duration,
            if (m == null) -1L
            else m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
      }
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val value = body
      val sec = (System.nanoTime() - t0) / 1e9
      drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      val ts = tasks.asScala.toSeq
      val maxByStage = ts.groupMapReduce(_.stage)(_.ms)(math.max)
      Window(value, sec, jobs.get(),
        stages.asScala.toSeq.map { case (id, ms, n) =>
          Stage(id, ms, n, maxByStage.getOrElse(id, 0L)) },
        ts, peak.get(), spill.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The one timing loop. An untimed warm pass forces every build once
    * (JIT, codegen, file index and checkpoint costs land there; its
    * failures are ignored), then [[ProbeCost]] is reset and `passes`
    * interleaved passes force each build in order through [[during]]:
    * a noise burst is local in time, so interleaving spreads a build's
    * samples over separate windows and a median discards the one a
    * burst hits. Timing includes construction (eager iterative
    * operators work while the frame is built). A build that throws
    * records `None` for that pass, never its time-to-failure, and the
    * others keep running. Returns each label with its per-pass windows,
    * in build order. */
  def interleaved(spark: SparkSession, builds: Seq[(String, () => DataFrame)],
      passes: Int): Seq[(String, Seq[Option[Window[Unit]]])] = {
    builds.foreach { case (_, build) =>
      try force(build()) catch { case _: Throwable => () }
    }
    ProbeCost.reset()
    val runs = (1 to passes).map { _ =>
      builds.map { case (label, build) =>
        try Some(during(spark)(force(build())))
        catch { case e: Throwable =>
          System.err.println(s"[trace] $label FAILED: ${e.getMessage}")
          None
        }
      }
    }
    builds.map(_._1).zip(runs.transpose)
  }

  /** A build's passes in one row: median and min seconds, the max of
    * peak task memory and of spill (the OOM-relevant bounds), and the
    * medians of the longest task and of the job count. Both vary by
    * pass: a co-tenant freeze inflates one pass's longest task, and AQE
    * runs a timing-dependent number of query-stage jobs inside eager
    * actions; a real fat task repeats and survives the median. `None`
    * when any pass failed (flaky is not healthy). */
  final case class Summary(medianSec: Double, minSec: Double, peakBytes: Long,
      spillBytes: Long, maxTaskMs: Double, jobs: Double, secs: Seq[Double])

  def summary(runs: Seq[Option[Window[Unit]]]): Option[Summary] =
    if (runs.isEmpty || runs.exists(_.isEmpty)) None
    else {
      val ws = runs.flatten
      val secs = ws.map(_.sec)
      Some(Summary(median(secs), secs.min, ws.map(_.peakBytes).max,
        ws.map(_.spillBytes).max, median(ws.map(_.maxTaskMs.toDouble)),
        median(ws.map(_.jobs.toDouble)), secs))
    }

  /** A declared query by name, else a PerfAB variant. PropertySpec keeps
    * the two name sets disjoint, so the order cannot change a result. */
  def lookup(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, PerfAB.variants.getOrElse(name,
      sys.error(s"unknown query/variant: $name")))

  /** Evaluates every projected column — unlike `count()`, which lets
    * Catalyst prune the projection entirely. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
