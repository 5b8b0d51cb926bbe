package graft

import org.apache.spark.scheduler._

/** Per-stage decomposition of a declared query or PerfAB variant — the
  * tool behind the r11 fan-out forensics (committed so the SCALING.md
  * "stage decomposition" claims are re-runnable, not ad-hoc): prints
  * each stage's wall, task count, and LONGEST task, plus the top task
  * rows with their shuffle/input record counts. This is how the r11
  * session distinguished (a) a genuine single fat task (the skew the
  * adaptive dispatches exist for), (b) a uniformly-parallel stage whose
  * every task is busy (NOT skew — ScaleRegression's max-task column
  * alone cannot tell these apart), and (c) plan pathologies invisible
  * to wall-clock: the duplicate crossJoin(total) subtree in r10's q152
  * and AQE broadcasting a salted join's exploded side.
  *
  * Usage: runMain graft.StageProfile <sfDir> <name> [passes]
  * where <name> is a SparkEntry.queries key or a PerfAB.variants key.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProfile <sfDir> <queryOrVariant> [passes]")
    val sfDir = args(0)
    val name = args(1)
    val passes = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession()
    val fn = SparkEntry.queries.get(name)
      .orElse(PerfAB.variants.get(name))
      .getOrElse(sys.error(s"unknown query/variant: $name"))

    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, Long)]()
    val tasks =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long)]()
    val maxTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) {
          maxTask.compute(t.stageId,
            (_: Int, v: Long) =>
              if (v == null.asInstanceOf[Long]) t.taskInfo.duration
              else math.max(v, t.taskInfo.duration))
          val m = t.taskMetrics
          tasks.add((t.stageId, t.taskInfo.index, t.taskInfo.duration,
            if (m != null)
              m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
            else -1L))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.add((si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks, maxTask.getOrDefault(si.stageId, 0L)))
      }
    })
    def force(): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    force() // warm: codegen + file index + checkpoint builds
    import scala.jdk.CollectionConverters._
    (1 to passes).foreach { p =>
      stages.clear(); tasks.clear(); maxTask.clear()
      org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
      val sec = force()
      org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
      println(f"[profile] $name pass $p total $sec%.2f s")
      val byStage = tasks.asScala.toSeq.groupBy(_._1)
      stages.asScala.toSeq.sortBy(-_._2).take(8).foreach {
        case (id, ms, nt, mt) =>
          // the stage's own longest task with its input records — a
          // 1-task stage is only identifiable by what it READ (r12)
          val top = byStage.getOrElse(id, Seq.empty).sortBy(-_._3).headOption
          val detail = top.map { case (_, idx, tms, recs) =>
            f"  top idx=$idx%d recsIn=$recs%d" }.getOrElse("")
          println(f"[profile]   stage $id%5d wall $ms%7d ms  tasks $nt%4d  max-task $mt%7d ms$detail")
      }
      tasks.asScala.toSeq.sortBy(-_._3).take(6).foreach {
        case (sid, idx, ms, recs) =>
          println(f"[profile]   task stage=$sid%d idx=$idx%d  $ms%7d ms  recsIn=$recs%d")
      }
    }
    spark.stop()
  }
}
