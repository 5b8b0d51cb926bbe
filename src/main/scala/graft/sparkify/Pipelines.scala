package graft.sparkify

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's five star-schema table builders, re-expressed as pure
  * `DataFrame => DataFrame` pipelines (SURVEY.md §2.8). Semantics are
  * replicated exactly — including the deliberate oddballs:
  *
  *  - `users` keeps the greatest-n-per-group JOIN form (reference
  *    `etl.py:134-147`), which retains **ties** (same user, same max ts ⇒
  *    multiple rows) and the empty-string anonymous `userId`;
  *  - `songplays` joins on title only (`etl.py:176`), preserving the
  *    fan-out (one event × all same-titled songs) and ~all-NULL ids;
  *    no surrogate `songplay_id` is added;
  *  - `time` is built from **all** log rows, not just NextSong
  *    (`etl.py:198-208`), `start_time` stays raw epoch-millis, and
  *    `weekday` is re-based to Monday=1 (`etl.py:216`);
  *  - `artists` keeps the `artist_`-prefixed names, `users` keeps
  *    camelCase — no renames (`etl.py:119-120`, `etl.py:135-140`).
  *
  * All calendar fields are UTC (session timezone pinned).
  */
object Pipelines {

  /** JSON-lines staging read with fixed schema, no inference — reference
    * `etl.py:83-86` / `etl.py:93-95`. Delegates to the generic lake IO
    * surface (`graft.sources.Lake`). */
  def readLogData(spark: SparkSession, path: String): DataFrame =
    Lake.readJson(spark, path, Schemas.logData)

  def readSongData(spark: SparkSession, path: String): DataFrame =
    Lake.readJson(spark, path, Schemas.songData)

  /** songs: select 5 → distinct (`etl.py:98-111`). */
  def songsTable(songData: DataFrame): DataFrame =
    songData.select("song_id", "title", "artist_id", "year", "duration").distinct()

  /** artists: select 5 → distinct, names kept as-is (`etl.py:113-122`). */
  def artistsTable(songData: DataFrame): DataFrame =
    songData.select("artist_id", "artist_name", "artist_location",
      "artist_latitude", "artist_longitude").distinct()

  /** users: latest event per user via the tie-keeping self-join against a
    * MAX(ts) subquery (`etl.py:134-147`). */
  def usersTable(logData: DataFrame): DataFrame = {
    val latest = logData.groupBy("userId").agg(max("ts").as("ts"))
    logData.join(latest, Seq("userId", "ts"), "inner")
      .select("userId", "firstName", "lastName", "gender", "level")
  }

  /** songplays: NextSong events left-joined to songs on title only, with
    * UTC year/month for partitioning (`etl.py:151-184`). */
  def songplaysTable(logData: DataFrame, songs: DataFrame): DataFrame = {
    val ts = timestamp_seconds(col("ts") / 1000)
    logData.filter(col("page") === "NextSong")
      .join(songs.select("song_id", "artist_id", "title"),
        songs("title") === logData("song"), "left")
      .select(col("ts"),
        year(ts).as("year"),
        month(ts).as("month"),
        col("userId"), col("level"), col("song_id"), col("artist_id"),
        col("sessionId"), col("location"), col("userAgent"))
  }

  /** time: distinct calendar dimension over ALL log events; raw
    * epoch-millis `start_time`, Monday=1 `weekday` (`etl.py:186-223`). */
  def timeTable(logData: DataFrame): DataFrame = {
    val ts = timestamp_seconds(col("ts") / 1000)
    logData
      .select(col("ts").as("start_time"),
        hour(ts).as("hour"),
        dayofmonth(ts).as("day"),
        weekofyear(ts).as("week"),
        month(ts).as("month"),
        year(ts).as("year"),
        (((dayofweek(to_date(ts)) + 5) % 7) + 1).as("weekday"))
      .distinct()
  }

  // ---- SQL-string entry point -------------------------------------------
  //
  // The reference builds users/songplays/time as Spark SQL text over temp
  // views (`etl.py:132`, `etl.py:160-162`, `etl.py:197`) — that IS its
  // primary query API. These mirrors expose the same surface here; they
  // compile to the same Catalyst plans as the DSL forms above and are
  // spec-asserted equal on the reference sample data.

  /** `users` via SQL over a temp view (reference `etl.py:134-147`). */
  def usersTableSql(spark: SparkSession, logData: DataFrame): DataFrame = {
    logData.createOrReplaceTempView("logs")
    spark.sql(
      """SELECT l.userId, l.firstName, l.lastName, l.gender, l.level
        |FROM logs l
        |JOIN (SELECT userId, max(ts) AS ts FROM logs GROUP BY userId) m
        |  ON l.userId = m.userId AND l.ts = m.ts""".stripMargin)
  }

  /** `songplays` via SQL (reference `etl.py:151-184`): title-only join,
    * fan-out and NULL ids preserved. */
  def songplaysTableSql(spark: SparkSession, logData: DataFrame,
      songs: DataFrame): DataFrame = {
    logData.createOrReplaceTempView("logs")
    songs.createOrReplaceTempView("song_stage")
    spark.sql(
      """SELECT l.ts,
        |  year(timestamp_seconds(l.ts / 1000)) AS year,
        |  month(timestamp_seconds(l.ts / 1000)) AS month,
        |  l.userId, l.level, s.song_id, s.artist_id,
        |  l.sessionId, l.location, l.userAgent
        |FROM logs l LEFT JOIN song_stage s ON s.title = l.song
        |WHERE l.page = 'NextSong'""".stripMargin)
  }

  /** `time` via SQL (reference `etl.py:186-223`): all rows, raw
    * epoch-millis start_time, Monday=1 weekday. */
  def timeTableSql(spark: SparkSession, logData: DataFrame): DataFrame = {
    logData.createOrReplaceTempView("logs")
    spark.sql(
      """SELECT DISTINCT ts AS start_time,
        |  hour(timestamp_seconds(ts / 1000)) AS hour,
        |  day(timestamp_seconds(ts / 1000)) AS day,
        |  weekofyear(timestamp_seconds(ts / 1000)) AS week,
        |  month(timestamp_seconds(ts / 1000)) AS month,
        |  year(timestamp_seconds(ts / 1000)) AS year,
        |  ((dayofweek(to_date(timestamp_seconds(ts / 1000))) + 5) % 7) + 1
        |    AS weekday
        |FROM logs""".stripMargin)
  }

  /** Full ETL: stage JSON → build all five tables → data-lake layout.
    * Stages communicate through the filesystem, like the reference
    * (`etl.py:263-279`), but S3 sync is a direct Spark write, not a
    * shell-out. Independent sinks run as concurrent Spark jobs
    * (`Lake.concurrently`), in two barriered phases: the two staging
    * writes, each followed by the parquet re-read of what it wrote, then
    * the five table writes, which read only the staged data and never
    * each other's output. */
  def runAll(spark: SparkSession, logPath: String, songPath: String,
      outDir: String): Unit = {
    def stage(read: => DataFrame, dir: String): () => DataFrame = () => {
      Lake.writePlain(read, dir)
      spark.read.parquet(dir)
    }
    val Seq(stagedLogs, stagedSongs) = Lake.concurrently(spark)(
      stage(readLogData(spark, logPath), s"$outDir/staging/log_data"),
      stage(readSongData(spark, songPath), s"$outDir/staging/song_data"))

    Lake.concurrently(spark)(
      () => Lake.writePartitioned(songsTable(stagedSongs), s"$outDir/songs",
        Seq("year", "artist_id")),
      () => Lake.writePlain(artistsTable(stagedSongs), s"$outDir/artists"),
      () => Lake.writePlain(usersTable(stagedLogs), s"$outDir/users"),
      // the reference joins songplays against the *staged* song data, not
      // the deduplicated songs table (`etl.py:159-161`)
      () => Lake.writePartitioned(songplaysTable(stagedLogs, stagedSongs),
        s"$outDir/songplays", Seq("year", "month")),
      () => Lake.writePartitioned(timeTable(stagedLogs), s"$outDir/time",
        Seq("year", "month")))
  }
}
