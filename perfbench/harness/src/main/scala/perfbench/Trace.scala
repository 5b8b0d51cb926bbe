package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SQLExecution, WriteTarget}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Scheduler counters per span and SQL execution. A span is a label the
  * harness puts on the driver thread (a Spark local property) around one
  * call into the program; every job started under it, and every stage and
  * task of that job, is charged to the span and to the SQL execution the
  * job ran for. Jobs started outside a span are not recorded. The listener
  * is only registered for traced runs. */
final class Trace extends SparkListener {
  private type Key = (String, Long)

  private val accs = new ConcurrentHashMap[Key, Trace.Acc]()
  private val jobKey = new ConcurrentHashMap[Int, Key]()
  private val stageKey = new ConcurrentHashMap[Int, Key]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execRoot = new ConcurrentHashMap[Long, Long]()
  private val execEnd = new ConcurrentHashMap[Long, (Long, Option[String])]()

  private def acc(key: Key): Trace.Acc =
    accs.computeIfAbsent(key, _ => new Trace.Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Trace.Key))).foreach { span =>
      val exec = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(_.toLong).getOrElse(-1L)
      val key = (span, exec)
      jobKey.put(e.jobId, key)
      jobStart.put(e.jobId, e.time)
      e.stageInfos.foreach(s => stageKey.put(s.stageId, key))
      val a = acc(key)
      a.synchronized(a.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val key = jobKey.remove(e.jobId)
    if (key != null) {
      val a = acc(key)
      a.synchronized(a.jobIntervals += ((jobStart.remove(e.jobId), e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val key = stageKey.get(e.stageInfo.stageId)
    if (key != null) {
      val a = acc(key)
      a.synchronized(a.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = stageKey.get(e.stageId)
    if (key != null) {
      val a = acc(key)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.tasksFailed += 1
        a.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
        if (m != null) {
          a.busyMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, s.time)
      s.rootExecutionId.foreach(r => execRoot.put(s.executionId, r.asInstanceOf[Long]))
    case s: SparkListenerSQLExecutionEnd => execEnd.put(s.executionId, (s.time, WriteTarget(s)))
    case _ =>
  }

  /** Counters of the spans whose label satisfies `p`, after the bus has
    * delivered every event posted so far: merged, and split by the
    * top-level SQL executions their jobs ran for (a nested execution, such
    * as the query under a write command, counts to its root). The spans
    * and every recorded SQL execution are cleared. */
  def take(sc: SparkContext, p: String => Boolean): (Trace.Acc, Seq[Trace.Exec]) = {
    org.apache.spark.BusDrain(sc)
    val total = new Trace.Acc
    val byRoot = scala.collection.mutable.Map.empty[Long, Trace.Acc]
    accs.keySet().asScala.toSeq.filter(k => p(k._1)).foreach { k =>
      val a = accs.remove(k)
      total.merge(a)
      if (k._2 >= 0) {
        val root = execRoot.getOrDefault(k._2, k._2)
        byRoot.getOrElseUpdate(root, new Trace.Acc).merge(a)
      }
    }
    val execs = byRoot.toSeq.flatMap { case (id, a) =>
      Option(execEnd.get(id)).map { case (end, target) =>
        Trace.Exec(execStart.get(id), end, target, a)
      }
    }
    execStart.clear()
    execRoot.clear()
    execEnd.clear()
    (total, execs)
  }
}

object Trace {
  val Key = "perfbench.span"

  /** One SQL execution of a span: its window in epoch ms, the directory it
    * wrote (for file writes) and the counters of its jobs. */
  final case class Exec(startMs: Long, endMs: Long, target: Option[String], acc: Acc)

  final class Acc {
    var jobs, stages, tasks, tasksFailed = 0L
    var busyMs, gcMs, shuffleWrite, shuffleRead, spill, input, output, peakMem = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    val stageTasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

    def merge(o: Acc): Unit = if (o != null) o.synchronized {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      tasksFailed += o.tasksFailed; busyMs += o.busyMs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input; output += o.output
      peakMem = math.max(peakMem, o.peakMem)
      jobIntervals ++= o.jobIntervals
      o.stageTasks.foreach { case (s, ts) =>
        stageTasks.getOrElseUpdate(s, ArrayBuffer.empty[Long]) ++= ts }
    }

    /** Milliseconds of [from, to] during which at least one job ran. */
    def jobCoverMs(from: Long, to: Long): Long = {
      val iv = jobIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      covered
    }

    def maxTaskMs: Long =
      if (stageTasks.isEmpty) 0L else stageTasks.values.map(_.max).max

    /** Largest max/median task-time ratio among stages with at least
      * `minTasks` tasks; 0 when no stage is that wide. */
    def skew(minTasks: Int): Double = {
      val ratios = stageTasks.values.filter(_.size >= minTasks).map { ts =>
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        s.last.toDouble / med
      }
      if (ratios.isEmpty) 0.0 else ratios.max
    }
  }

  /** Runs `body` with every job it starts charged to `span`. */
  def span[T](sc: SparkContext, span: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, span)
    try body finally sc.setLocalProperty(Key, prev)
  }
}
