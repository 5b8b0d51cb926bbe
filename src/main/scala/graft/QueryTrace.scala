package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftShims.drainListenerBus

/** The measurement core the tool mains (Bench, PerfAB, PlanAudit,
  * LintSweep, ScaleRegression) and the job-counting specs share: one
  * listener installed for one window, the name lookup, the forcing
  * write and the median. */
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
