package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.sparkify.{EtlMain, Pipelines, Schemas}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Parity tests for the five Sparkify table builders against the
  * reference's documented semantics (SURVEY.md §2.8, §5): J1 tie-keeping,
  * empty-userId retention, J2 title-only fan-out with NULL ids, NextSong
  * filtering, Monday=1 weekday re-basing, UTC calendar fields, and the
  * golden time-table row derived from the committed preview
  * (`output_preview/time_table.png`, start_time=1543505457796). Note: the
  * preview's hour column reflects the reference's *unpinned* session
  * timezone; our engine pins UTC, where 1543505457796 ms is
  * 2018-11-29T15:30:57Z — hour 15, day 29, week 48, weekday 4 (Thursday).
  */
class SparkifySpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  // ts 1543505457796 = 2018-11-29 15:30:57 UTC (Thursday)
  private val T0 = 1543505457796L
  private val T1 = 1541106106796L // 2018-11-01 (Thursday)

  private def logRow(userId: String, ts: Long, level: String, page: String,
      song: String): Row =
    Row(null, "Logged In", "F" + userId, "F", 0, "L" + userId, null, level,
      "Loc", "PUT", page, null, 42, song, 200, ts, "UA", userId)

  private lazy val logs = spark.createDataFrame(
    Seq(
      logRow("1", T1, "free", "NextSong", "SongA"),
      logRow("1", T0, "paid", "NextSong", "SongA"),
      logRow("2", T0, "free", "Home", null),
      // tie on max ts for user 3: BOTH rows must survive (J1 join form)
      logRow("3", T0, "free", "NextSong", "SongB"),
      logRow("3", T0, "paid", "NextSong", "Nope"),
      // anonymous user: empty-string userId must be retained
      logRow("", T1, "free", "Home", null)
    ).asJava, Schemas.logData)

  private def songRow(songId: String, artistId: String, title: String): Row =
    Row(1, artistId, null, null, "", "Artist " + artistId, songId, title,
      200.5f, 2018)

  private lazy val songData = spark.createDataFrame(
    Seq(
      songRow("S1", "A1", "SongA"),
      songRow("S2", "A2", "SongA"), // shared title → fan-out
      songRow("S3", "A3", "SongC")
    ).asJava, Schemas.songData)

  test("users keeps ties on max ts and the empty-string userId") {
    val users = Pipelines.usersTable(logs).collect()
    assert(users.length == 5) // u1 latest, u2, u3 ×2 (tie), anonymous
    val u1 = users.filter(_.getString(0) == "1")
    assert(u1.length == 1 && u1.head.getString(4) == "paid") // latest level wins
    assert(users.count(_.getString(0) == "3") == 2) // tie kept
    assert(users.exists(_.getString(0) == ""))      // anonymous kept
    assert(users.head.schema.fieldNames.toSeq ==
      Seq("userId", "firstName", "lastName", "gender", "level"))
  }

  test("songplays filters NextSong, fans out on shared titles, keeps NULL ids") {
    val sp = Pipelines.songplaysTable(logs, songData).collect()
    // 4 NextSong events; SongA rows fan out ×2 (S1, S2); SongB/Nope unmatched
    assert(sp.length == 2 + 2 + 1 + 1)
    val songA = sp.filter(r => r.getLong(0) == T0 && r.getString(3) == "1")
    assert(songA.length == 2 &&
      songA.map(_.getString(5)).toSet == Set("S1", "S2"))
    val unmatched = sp.filter(_.getString(3) == "3")
    assert(unmatched.length == 2 && unmatched.forall(_.isNullAt(5)))
    val r = sp.head
    assert(r.schema.fieldNames.toSeq == Seq("ts", "year", "month", "userId",
      "level", "song_id", "artist_id", "sessionId", "location", "userAgent"))
    assert(sp.forall(r => r.getInt(1) == 2018 && r.getInt(2) == 11))
  }

  test("time derives UTC fields from ALL rows with Monday=1 weekday") {
    val time = Pipelines.timeTable(logs).collect()
    assert(time.length == 2) // two distinct timestamps, non-NextSong included
    val t0 = time.find(_.getLong(0) == T0).get
    // golden row from the reference preview, hour re-derived for UTC
    assert(t0.getInt(1) == 15 && t0.getInt(2) == 29 && t0.getInt(3) == 48 &&
      t0.getInt(4) == 11 && t0.getInt(5) == 2018 && t0.getInt(6) == 4)
  }

  test("SQL-string builders equal the DSL forms on the fixture rows") {
    // the fixture's max-ts tie, empty-string userId, shared song title and
    // non-NextSong pages, plus a NULL-userId event that neither users
    // form may join and NULL song/artist ids from unmatched titles
    val withNullId = logs.union(spark.createDataFrame(
      Seq(logRow(null, T0, "free", "NextSong", "SongA")).asJava, Schemas.logData))
    def same(sql: org.apache.spark.sql.DataFrame, dsl: org.apache.spark.sql.DataFrame,
        rows: Long): Unit = {
      assert(sql.columns.toSeq == dsl.columns.toSeq && sql.schema == dsl.schema)
      assert(sql.exceptAll(dsl).isEmpty && dsl.exceptAll(sql).isEmpty)
      assert(dsl.count() == rows)
    }
    same(Pipelines.usersTableSql(spark, withNullId), Pipelines.usersTable(withNullId), 5L)
    same(Pipelines.songplaysTableSql(spark, withNullId, songData),
      Pipelines.songplaysTable(withNullId, songData), 8L)
    same(Pipelines.timeTableSql(spark, withNullId), Pipelines.timeTable(withNullId), 2L)
  }

  test("songs/artists dedup and keep reference column names") {
    val songs = Pipelines.songsTable(songData.union(songData))
    assert(songs.count() == 3)
    val artists = Pipelines.artistsTable(songData)
    assert(artists.columns.toSeq == Seq("artist_id", "artist_name",
      "artist_location", "artist_latitude", "artist_longitude"))
    assert(artists.schema("artist_latitude").dataType.typeName == "float")
  }

  test("JSON staging read applies the fixed schema; partitioned write round-trips") {
    val dir = Files.createTempDirectory("sparkify").toFile.getAbsolutePath
    val json = Seq(
      """{"artist":"X","auth":"Logged In","firstName":"K","gender":"F","itemInSession":1,"lastName":"S","length":246.30812,"level":"free","location":"AZ","method":"PUT","page":"NextSong","registration":1540344794796.0,"sessionId":139,"song":"You Gotta Be","status":200,"ts":1541106106796,"userAgent":"M","userId":"8"}""")
    Files.write(java.nio.file.Paths.get(s"$dir/2018-11-01-events.json"),
      json.mkString("\n").getBytes)
    val staged = Pipelines.readLogData(spark, dir)
    assert(staged.schema == Schemas.logData)
    assert(staged.count() == 1)
    assert(staged.head().getAs[Float]("length") == 246.30812f)

    graft.sources.Lake.writePartitioned(Pipelines.timeTable(logs), s"$dir/time",
      Seq("year", "month"))
    val back = spark.read.parquet(s"$dir/time")
    assert(back.count() == 2)
    // hive-style partition directories exist
    assert(new java.io.File(s"$dir/time/year=2018/month=11").exists())
  }

  test("EtlMain.run turns JSON fixtures into the five lake tables and reads them back") {
    val dir = Files.createTempDirectory("sparkify-etl").toFile.getAbsolutePath
    def write(path: String, lines: Seq[String]): Unit = {
      Files.createDirectories(Paths.get(path).getParent)
      Files.write(Paths.get(path), lines.mkString("\n").getBytes("UTF-8"))
    }
    // the reference's input layout: daily JSON-lines log files, and one
    // JSON object per song file under nested song_data/X/Y/Z/ directories
    logs.select(
        date_format(timestamp_seconds(col("ts") / 1000), "yyyy-MM-dd"),
        to_json(struct(logs.columns.map(col).toSeq: _*)))
      .collect().groupBy(_.getString(0)).foreach { case (day, rows) =>
        write(s"$dir/log_data/$day-events.json", rows.map(_.getString(1)).toSeq)
      }
    songData.select(col("song_id"), to_json(struct(songData.columns.map(col).toSeq: _*)))
      .collect().zipWithIndex.foreach { case (r, i) =>
        write(s"$dir/song_data/A/${('A' + i).toChar}/B/${r.getString(0)}.json",
          Seq(r.getString(1)))
      }

    val out = s"$dir/lake"
    val counts = EtlMain.run(spark, Map("io.log_data" -> s"$dir/log_data",
      "io.song_data" -> s"$dir/song_data", "io.output" -> out))
    val tables = Seq("songs", "artists", "users", "songplays", "time")
    assert(counts.map(_._1) == tables)

    val stagedLogs = spark.read.parquet(s"$out/staging/log_data")
    val stagedSongs = spark.read.parquet(s"$out/staging/song_data")
    assert(stagedLogs.exceptAll(logs).isEmpty && logs.exceptAll(stagedLogs).isEmpty)
    assert(stagedSongs.exceptAll(songData).isEmpty && songData.exceptAll(stagedSongs).isEmpty)
    val built = Map(
      "songs" -> Pipelines.songsTable(stagedSongs),
      "artists" -> Pipelines.artistsTable(stagedSongs),
      "users" -> Pipelines.usersTable(stagedLogs),
      "songplays" -> Pipelines.songplaysTable(stagedLogs, stagedSongs),
      "time" -> Pipelines.timeTable(stagedLogs))
    val expectedRows = Map("songs" -> 3L, "artists" -> 3L, "users" -> 5L,
      "songplays" -> 6L, "time" -> 2L)
    counts.foreach { case (t, n) =>
      val want = built(t)
      // partition columns read back last and with inferred types
      val got = spark.read.parquet(s"$out/$t")
        .select(want.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, t)
      assert(got.count() == expectedRows(t) && want.count() == expectedRows(t), t)
      assert(n == expectedRows(t), t)
    }
    assert(new File(s"$out/songs/year=2018/artist_id=A1").isDirectory)
    assert(new File(s"$out/songplays/year=2018/month=11").isDirectory)
    assert(new File(s"$out/time/year=2018/month=11").isDirectory)
  }
}
