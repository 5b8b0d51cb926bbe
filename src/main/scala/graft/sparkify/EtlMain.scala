package graft.sparkify

import java.nio.file.{Files, Paths}

import graft.sources.Lake
import org.apache.spark.sql.{GraftShims, SparkSession}

import scala.jdk.CollectionConverters._

/** Config-driven CLI entry point for the Sparkify ETL — the analogue of the
  * reference's `main()` (`/root/reference/etl.py:263-279`): read an
  * INI-style config (`/root/reference/cong.cfg.template` shape), run the
  * staged pipeline end-to-end, then do the read-back check
  * (`etl.py:253-260`'s `datalake_read_test`).
  *
  * Usage: `runMain graft.sparkify.EtlMain <conf.cfg>`
  *
  * Config keys (INI sections, all lowercase):
  * {{{
  * [io]                       ; or the reference's [S3] names
  * log_data  = /path/or/s3a://bucket/log_data
  * song_data = /path/or/s3a://bucket/song_data
  * output    = /path/or/s3a://bucket/lake
  * [aws]                      ; optional — only needed for s3a:// paths
  * key = ... / secret = ... / region = ...
  * }}}
  * Paths are generic Hadoop-FS URIs: a local run and an S3 run differ only
  * by the `s3a://` prefix (credentials land in `fs.s3a.*` conf, committer
  * handled by Spark — no shell-out sync like the reference's `aws s3 cp`).
  */
object EtlMain {

  /** Minimal INI parse: `[section]` headers + `key = value` lines →
    * `"section.key" -> value`. Comments (`#`/`;`) and blanks skipped. */
  def parseConf(lines: Seq[String]): Map[String, String] = {
    var section = ""
    lines.flatMap { raw =>
      val line = raw.trim
      if (line.isEmpty || line.startsWith("#") || line.startsWith(";")) None
      else if (line.startsWith("[") && line.endsWith("]")) {
        section = line.substring(1, line.length - 1).trim.toLowerCase
        None
      } else line.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty =>
          Some(s"$section.${k.trim.toLowerCase}" -> v.trim)
        case _ => None
      }
    }.toMap
  }

  /** First present key among aliases (supports both our `[io]` names and
    * the reference template's `[S3]` names). */
  private def get(conf: Map[String, String], aliases: String*): Option[String] =
    aliases.collectFirst { case a if conf.get(a).exists(_.nonEmpty) => conf(a) }

  /** Read-back check over the five lake tables — `datalake_read_test`
    * (`etl.py:253-260`): prints each table's show(10) preview and returns
    * its row count so callers can assert on it. The five read-backs run
    * as concurrent Spark jobs (`Lake.concurrently`); their previews print
    * in table order once all five are done. */
  def readBackTest(spark: SparkSession, outDir: String): Seq[(String, Long)] =
    Lake.concurrently(spark)(
      Seq("songs", "artists", "users", "songplays", "time").map { t => () =>
        val df = spark.read.parquet(s"$outDir/$t")
        (t, GraftShims.showString(df, 10), df.count())
      }: _*
    ).map { case (t, preview, n) =>
      println(preview)
      t -> n
    }

  def run(spark: SparkSession, conf: Map[String, String]): Seq[(String, Long)] = {
    val logData = get(conf, "io.log_data", "s3.log_data").getOrElse(
      sys.error("config missing io.log_data"))
    val songData = get(conf, "io.song_data", "s3.song_data").getOrElse(
      sys.error("config missing io.song_data"))
    val output = get(conf, "io.output", "s3.output_bucket").getOrElse(
      sys.error("config missing io.output"))
    // optional S3 credentials → s3a conf (reference spark_setup.py:20-23)
    get(conf, "aws.key").foreach(
      spark.sparkContext.hadoopConfiguration.set("fs.s3a.access.key", _))
    get(conf, "aws.secret").foreach(
      spark.sparkContext.hadoopConfiguration.set("fs.s3a.secret.key", _))
    get(conf, "aws.region").foreach(
      spark.sparkContext.hadoopConfiguration.set("fs.s3a.endpoint.region", _))
    Pipelines.runAll(spark, logData, songData, output)
    readBackTest(spark, output)
  }

  def main(args: Array[String]): Unit = {
    val confPath = args.headOption.getOrElse("conf.cfg")
    val conf = parseConf(Files.readAllLines(Paths.get(confPath)).asScala.toSeq)
    val spark = graft.GraftSession()
    val counts = run(spark, conf)
    counts.foreach { case (t, n) => println(s"[etl] $t: $n rows") }
    spark.stop()
  }
}
