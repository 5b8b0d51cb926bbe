package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sparkify.{EtlMain, Pipelines}

/** One benchmark run in one JVM: set up (from JVM start through the Spark
  * session and `WarmPasses` untimed warm passes, to the first timed pass),
  * then run timed passes in a closed loop with one client until `seconds`
  * have passed, then write the raw samples as JSON to `out`. Output checks
  * run afterwards, in `perfbench/run.py`, against the files this run
  * leaves behind.
  *
  * Arguments are `key=value`; keys starting with `spark.` are Spark
  * settings applied verbatim to the session.
  *
  * Pass kinds: `U` untraced; `T` traced (the whole pass in one span); `C`
  * compute (ETL only: each `Pipelines` builder forced into `noop`). A
  * traced run registers the listener, cycles through all kinds and reports
  * per-layer medians.
  */
object Harness {
  /** Untimed passes before the first timed one, so that timed passes run
    * compiled code rather than the JIT's first attempts. */
  val WarmPasses = 3

  def now(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val trace = new Trace
    val out = Paths.get(opt("out"))

    val jvmAge = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = now() - jvmAge
    val w: Workload = opt("mode") match {
      case "etl" => new EtlWorkload(opt, trace, cores)
      case "queries" => new QueryWorkload(opt, trace, cores)
      case m => sys.error(s"unknown mode $m")
    }
    val b = SparkSession.builder().master(s"local[$cores]")
    opt.filter(_._1.startsWith("spark.")).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) spark.sparkContext.addSparkListener(trace)
    for (_ <- 1 to WarmPasses) w.warm(spark)
    val setupS = now() - t0

    val kinds = if (traced) w.tracedKinds else Seq("U")
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val p0 = now()
    var i = 0
    // at least three passes: the median then drops one disturbed pass, and
    // the heap is always sampled at the same points
    while (now() - p0 < seconds || i < math.max(3, kinds.size)) {
      val kind = kinds(i % kinds.size)
      val p = w.pass(spark, kind)
      // a second collection after the ContextCleaner has dropped the blocks
      // of broadcasts the first one freed, so the reading is the live set
      System.gc(); Thread.sleep(200); System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      passes += (p + ("kind" -> kind) + ("heap_mb" -> heapMb))
      i += 1
    }
    val measuredS = now() - p0
    val layer = if (traced) w.layerMetrics(passes.toSeq) +
      ("trace.overhead_s" -> (kindWall(passes.toSeq, "T") - kindWall(passes.toSeq, "U")))
      else Map.empty
    w.verify(spark)
    Files.write(out, Json(Map[String, Any](
      "setup_s" -> setupS,
      "measured_s" -> measuredS,
      "passes" -> passes.toSeq,
      "layer" -> layer)).getBytes("UTF-8"))
    spark.stop()
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Scheduler metrics of one traced span set over a pass of `wall` s. */
  def sparkMetrics(a: Trace.Acc, wall: Double, fromMs: Long, toMs: Long,
      cores: Int): Map[String, Double] = {
    val mb = 1048576.0
    Map(
      "spark.jobs" -> a.jobs.toDouble,
      "spark.stages" -> a.stages.toDouble,
      "spark.tasks" -> a.tasks.toDouble,
      "spark.tasks_failed" -> a.tasksFailed.toDouble,
      "spark.task_busy_s" -> a.busyMs / 1e3,
      "spark.core_util" -> a.busyMs / 1e3 / (wall * cores),
      "spark.driver_s" -> math.max(0.0, wall - a.jobCoverMs(fromMs, toMs) / 1e3),
      "spark.skew" -> a.skew(cores),
      "spark.shuffle_write_mb" -> a.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> a.shuffleRead / mb,
      "spark.spill_mb" -> a.spill / mb,
      "spark.gc_s" -> a.gcMs / 1e3,
      "spark.input_mb" -> a.input / mb,
      "spark.output_mb" -> a.output / mb,
      "spark.peak_task_mem_mb" -> a.peakMem / mb)
  }

  def kindWall(passes: Seq[Map[String, Any]], kind: String): Double =
    median(passes.filter(_("kind") == kind).map(_("wall_s").asInstanceOf[Double]))

  /** Per-metric medians over the passes that carry a `metrics` map. */
  def medians(passes: Seq[Map[String, Any]]): Map[String, Double] = {
    val ms = passes.flatMap(_.get("metrics")).map(_.asInstanceOf[Map[String, Double]])
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap
  }

  /** (data files, bytes, partition directories holding data files) under
    * `dir`. */
  def dataFiles(dir: String): (Int, Long, Int) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0, 0L, 0) else {
      val files = Files.walk(p).iterator().asScala.toSeq
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      (files.size, files.map(Files.size).sum, files.map(_.getParent).distinct.count(_ != p))
    }
  }
}

trait Workload {
  def warm(spark: SparkSession): Unit
  def tracedKinds: Seq[String]
  /** One timed pass; returns `wall_s`, `ok`, `error` and kind-specific samples. */
  def pass(spark: SparkSession, kind: String): Map[String, Any]
  /** Leaves checkable outputs on disk. */
  def verify(spark: SparkSession): Unit
  def layerMetrics(passes: Seq[Map[String, Any]]): Map[String, Double]
}

/** The Sparkify ETL through `EtlMain.run`: JSON logs and songs to five
  * partitioned lake tables, then the read-back. */
final class EtlWorkload(opt: Map[String, String], trace: Trace, cores: Int)
    extends Workload {
  import Harness._

  private val log = opt("log")
  private val song = opt("song")
  private val lake = opt("lake")
  private val conf = Map("io.log_data" -> log, "io.song_data" -> song, "io.output" -> lake)
  private val tables = Seq("songs", "artists", "users", "songplays", "time")
  /** Staging directory per input, as written by the last traced pass. */
  private var staged = Map.empty[String, String]

  def warm(spark: SparkSession): Unit = EtlMain.run(spark, conf)

  def tracedKinds: Seq[String] = Seq("U", "T", "C")

  private def timedRun(spark: SparkSession): (Double, Map[String, Any]) = {
    val t0 = now()
    try {
      val counts = EtlMain.run(spark, conf)
      (now() - t0, Map("ok" -> true, "counts" -> counts.toMap))
    } catch {
      case NonFatal(e) => (now() - t0, Map("ok" -> false, "error" -> e.toString))
    }
  }

  def pass(spark: SparkSession, kind: String): Map[String, Any] = kind match {
    case "U" =>
      val (wall, r) = timedRun(spark)
      r + ("wall_s" -> wall)
    case "T" => tracedPass(spark)
    case "C" => computePass(spark)
  }

  /** `EtlMain.run` in one span. Each write is the SQL execution that wrote
    * a directory named after the table (or the staged input); its wall
    * time, tasks and commit time (wall time minus the time its jobs ran)
    * come from that execution's window and jobs. */
  private def tracedPass(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    val from = System.currentTimeMillis()
    val (wall, r) = Trace.span(sc, "pass")(timedRun(spark))
    val to = System.currentTimeMillis()
    val (total, execs) = trace.take(sc, _ == "pass")
    val m = scala.collection.mutable.Map.empty[String, Double]
    m ++= sparkMetrics(total, wall, from, to, cores)
    val writes = execs.filter(_.target.isDefined)
      .groupBy(e => Paths.get(e.target.get).getFileName.toString)
    def wallS(es: Seq[Trace.Exec]): Double = es.map(e => e.endMs - e.startMs).sum / 1e3
    Seq("log_data", "song_data").foreach { d =>
      writes.get(d).foreach { es =>
        m(s"lake.stage_s.$d") = wallS(es)
        staged += d -> es.last.target.get
      }
    }
    tables.foreach { t =>
      writes.get(t).foreach { es =>
        val a = new Trace.Acc
        es.foreach(e => a.merge(e.acc))
        m(s"lake.write_s.$t") = wallS(es)
        m(s"lake.write_tasks.$t") = a.tasks.toDouble
        m(s"lake.write_task_max_s.$t") = a.maxTaskMs / 1e3
        m(s"lake.commit_s.$t") = es.map(e =>
          e.endMs - e.startMs - e.acc.jobCoverMs(e.startMs, e.endMs)).sum / 1e3
        val (files, bytes, dirs) = dataFiles(es.last.target.get)
        m(s"lake.files.$t") = files.toDouble
        m(s"lake.mb.$t") = bytes / 1048576.0
        if (dirs > 0) m(s"lake.partition_dirs.$t") = dirs.toDouble
      }
    }
    // everything after the last table write: the read-back
    val lastWrite = tables.flatMap(writes.get).flatten.map(_.endMs)
    if (lastWrite.nonEmpty) m("lake.readback_s") = (to - lastWrite.max) / 1e3
    r.get("counts").foreach(_.asInstanceOf[Map[String, Long]].foreach { case (t, n) =>
      m(s"sparkify.rows.$t") = n.toDouble
    })
    r + ("wall_s" -> wall) + ("metrics" -> m.toMap)
  }

  /** Each `Pipelines` builder forced into `noop` over the staged data the
    * last traced pass wrote, so that write cost = `lake.write_s` −
    * `compute_s`. Without staged data the compute metrics stay absent. */
  private def computePass(spark: SparkSession): Map[String, Any] = {
    val t0 = now()
    val m = scala.collection.mutable.Map.empty[String, Double]
    try {
      for (l <- staged.get("log_data"); s <- staged.get("song_data")) {
        val logs = spark.read.parquet(l)
        val songs = spark.read.parquet(s)
        Seq("songs" -> Pipelines.songsTable(songs),
          "artists" -> Pipelines.artistsTable(songs),
          "users" -> Pipelines.usersTable(logs),
          "songplays" -> Pipelines.songplaysTable(logs, songs),
          "time" -> Pipelines.timeTable(logs)).foreach { case (t, df) =>
          val q0 = now()
          force(df)
          m(s"sparkify.compute_s.$t") = now() - q0
        }
      }
      m("sparkify.next_song") = Pipelines.readLogData(spark, log)
        .filter(col("page") === "NextSong").count().toDouble
      Map("ok" -> true, "wall_s" -> (now() - t0), "metrics" -> m.toMap)
    } catch {
      case NonFatal(e) => Map("ok" -> false, "error" -> e.toString, "wall_s" -> (now() - t0))
    }
  }

  def verify(spark: SparkSession): Unit = ()

  def layerMetrics(passes: Seq[Map[String, Any]]): Map[String, Double] = {
    val (inFiles, inBytes) = Seq(log, song).map { d =>
      val fs = Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size, fs.map(Files.size).sum)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val med = medians(passes)
    val fanout = for (rows <- med.get("sparkify.rows.songplays"); plays <- med.get("sparkify.next_song"))
      yield "sparkify.songplays_fanout" -> rows / math.max(1.0, plays)
    med - "sparkify.next_song" ++ fanout ++ Map(
      "lake.input_files" -> inFiles.toDouble,
      "lake.input_mb" -> inBytes / 1048576.0)
  }
}

/** A frozen list of declared queries, each built with `fn(spark, dir)`
  * and forced through the `noop` sink. */
final class QueryWorkload(opt: Map[String, String], trace: Trace, cores: Int)
    extends Workload {
  import Harness._

  private val data = opt("data")
  private val results = opt("results")
  private val modules: Map[String, String] =
    (graft.operators.Relational.defs.map(_.name -> "Relational") ++
      graft.operators.DedupOps.defs.map(_.name -> "DedupOps") ++
      graft.operators.GraphOps.defs.map(_.name -> "GraphOps")).toMap
  private val all = graft.SparkEntry.queries
  private val members: Seq[String] = opt("members").split(",").toSeq
  members.foreach(q => require(all.contains(q) && modules.contains(q), s"unknown member $q"))

  def warm(spark: SparkSession): Unit =
    members.foreach(q => try force(all(q)(spark, data)) catch { case NonFatal(_) => () })

  def tracedKinds: Seq[String] = Seq("U", "T")

  def pass(spark: SparkSession, kind: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val traced = kind == "T"
    def span[T](label: String)(body: => T): T =
      if (traced) Trace.span(sc, label)(body) else body
    val lat = ArrayBuffer.empty[(String, Double)]
    val errors = ArrayBuffer.empty[String]
    val construct = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val execute = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var probeN = 0L
    var probeS = 0.0
    val from = System.currentTimeMillis()
    val t0 = now()
    members.foreach { q =>
      val mod = modules(q)
      val p0 = graft.ProbeCost.snapshot()
      val q0 = now()
      try {
        val df = span(s"construct.$mod")(all(q)(spark, data))
        val q1 = now()
        span(s"execute.$mod")(force(df))
        construct(mod) += q1 - q0
        execute(mod) += now() - q1
        lat += q -> (now() - q0)
      } catch {
        case NonFatal(e) => errors += s"$q: ${e.toString.take(300)}"
      }
      val p1 = graft.ProbeCost.snapshot()
      probeN += p1.values.map(_._1).sum - p0.values.map(_._1).sum
      probeS += p1.values.map(_._2).sum - p0.values.map(_._2).sum
    }
    val wall = now() - t0
    val to = System.currentTimeMillis()
    val base = Map[String, Any]("wall_s" -> wall, "ok" -> errors.isEmpty,
      "error" -> errors.mkString("; "), "errors" -> errors.toSeq,
      "latencies" -> lat.map { case (q, s) => Seq(q, s) }.toSeq)
    if (!traced) base else {
      val perModule = Seq("Relational", "DedupOps", "GraphOps").map { mod =>
        mod -> trace.take(sc, _.endsWith(s".$mod"))._1
      }
      val total = new Trace.Acc
      perModule.foreach { case (_, a) => total.merge(a) }
      val m = perModule.flatMap { case (mod, a) => Seq(
        s"$mod.construct_s" -> construct(mod),
        s"$mod.execute_s" -> execute(mod),
        s"$mod.jobs" -> a.jobs.toDouble) }.toMap ++ Map(
        "probe.count" -> probeN.toDouble, "probe.s" -> probeS) ++
        sparkMetrics(total, wall, from, to, cores)
      base + ("metrics" -> m)
    }
  }

  /** Dumps each member's result and the oracle SQL with `graft.Verify`
    * (members and width come from `SPARK_GRAFT_ONLY` and
    * `SPARK_GRAFT_CPUS`), for the DuckDB comparison in run.py. */
  def verify(spark: SparkSession): Unit = graft.Verify.main(Array(data, results))

  def layerMetrics(passes: Seq[Map[String, Any]]): Map[String, Double] = medians(passes)
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
