package graft.multimodal

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, plus decode / feature-extract / frame-sample stages.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic fake ([[fakeDecode]]); everything Spark-side
  * is real and scale-shaped: binary columns stay opaque through the scan
  * (no row-size surprises for Tungsten), per-batch processing runs through
  * `mapPartitions` over an iterator (the Scala analogue of `mapInPandas` —
  * one pass, no per-row JVM boundary), and the output schema is explicit.
  * On a real cluster the decode body is the only thing to swap out.
  */
object Multimodal {

  /** Output row of the feature-extraction stage. */
  case class MediaFeatures(
      doc_id: Long,
      format: String,
      n_bytes: Long,
      features: Array[Float])

  /** STUB — stands in for an image/audio decoder, which this container
    * cannot ship. Deterministic: derives an 8-dim "embedding" from byte
    * histogram moments so tests are reproducible. */
  def fakeDecode(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Long](8)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) >>> 5) += 1
      i += 1
    }
    val n = math.max(bytes.length, 1).toFloat
    hist.map(_ / n)
  }

  /** Wrap a text table as a fake media table: (doc_id, media binary, meta
    * struct) — the schema/partitioning shape a real image corpus has.
    *
    * NULL-media boundary (r7, found by the fuzz): a row whose blob is
    * NULL is not a media row — it is dropped HERE, at the table
    * boundary, so every downstream `mapPartitions` decode lambda can
    * assume non-null bytes (they take primitive `Array[Byte]` and would
    * NPE otherwise). Every qm oracle mirrors with
    * `WHERE text IS NOT NULL` (or a `text <> ''` / `length(text)`
    * filter, false on NULL). */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        lit("txt").as("format"),
        length(col("text")).cast("long").as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** Batch feature extraction: one `mapPartitions` pass over the binary
    * column (iterator-to-iterator, constant memory per partition). */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("media"), col("meta.format").as("format"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, fmt) =>
        MediaFeatures(id, fmt, bytes.length.toLong, fakeDecode(bytes))
      })
      .toDF()
  }

  /** STUB — stands in for an image resize. Deterministic byte-level
    * downsample: keep every `factor`-th byte. Real codecs swap in here;
    * the Spark-side shape (mapPartitions over binary, explicit output
    * schema) is what carries to a cluster. */
  def fakeResize(bytes: Array[Byte], factor: Int): Array[Byte] = {
    val out = new Array[Byte]((bytes.length + factor - 1) / factor)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
    out
  }

  /** Batch resize stage over the binary column. */
  def resizeMedia(spark: SparkSession, media: DataFrame, factor: Int = 4): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, bytes.length.toLong, fakeResize(bytes, factor))
      })
      .toDF("doc_id", "orig_bytes", "resized")
  }

  /** "Frame sampling" for byte-stream media: take every k-th fixed-size
    * chunk — the partition/batch shape of video frame extraction. */
  def sampleFrames(spark: SparkSession, media: DataFrame,
      frameBytes: Int = 32, every: Int = 4): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nFrames = bytes.length / frameBytes
        (0 until nFrames by every).map { f =>
          (id, f.toLong, bytes.slice(f * frameBytes, (f + 1) * frameBytes))
        }
      }
      .toDF("doc_id", "frame_no", "frame")
  }

  /** Feature-extraction query, flattened to hashable scalar columns:
    * `(doc_id, format, n_bytes, pos, value)` via posexplode — array cells
    * don't survive the driver's pandas-based compare. `value` is the float
    * histogram ratio widened to double (exact), and the fake decode is a
    * byte histogram over UTF-8 text, so a DuckDB oracle CAN reproduce it:
    * the corpus is printable ASCII (verified), so char count == byte count
    * and `unicode(ch) // 32` == `(byte & 0xff) >>> 5`. Both engines do the
    * count/length division in FLOAT (correctly rounded) → identical bits. */
  def qm1Features(s: SparkSession, dir: String): DataFrame =
    extractFeatures(s, asMediaTable(Tables.documents(s, dir)))
      .select(col("doc_id"), col("format"), col("n_bytes"),
        posexplode(col("features")).as(Seq("pos", "value")))
      .select(col("doc_id"), col("format"), col("n_bytes"),
        col("pos").cast("long").as("pos"),
        col("value").cast("double").as("value"))

  val qm1Sql: String =
    """WITH b AS (
      |  SELECT doc_id, unicode(c) // 32 AS bucket
      |  FROM (SELECT doc_id, UNNEST(string_split(text, '')) AS c
      |        FROM documents WHERE text <> '')),
      |h AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
      |grid AS (
      |  SELECT doc_id, length(text) AS n, g.pos
      |  FROM documents, UNNEST(generate_series(0, 7)) AS g(pos)
      |  WHERE text IS NOT NULL)
      |SELECT grid.doc_id, 'txt' AS format, CAST(grid.n AS BIGINT) AS n_bytes,
      |  CAST(grid.pos AS BIGINT) AS pos,
      |  CAST(CAST(coalesce(h.cnt, 0) AS FLOAT) / CAST(greatest(grid.n, 1) AS FLOAT) AS DOUBLE) AS value
      |FROM grid LEFT JOIN h ON h.doc_id = grid.doc_id AND h.bucket = grid.pos""".stripMargin

  /** Sampled frames with per-frame md5. Oracle-checkable because the fake
    * media is UTF-8 of ASCII text: frame bytes = char slices, so DuckDB
    * reproduces each frame's digest with `md5(substr(text, ...))` over the
    * same 32-char windows. */
  def qm2Frames(s: SparkSession, dir: String): DataFrame =
    sampleFrames(s, asMediaTable(Tables.documents(s, dir)))
      .select(col("doc_id"), col("frame_no"), md5(col("frame")).as("frame_md5"))

  val qm2Sql: String =
    """SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
      |  md5(substr(text, CAST(f AS INT) * 32 + 1, 32)) AS frame_md5
      |FROM (SELECT doc_id, text,
      |        UNNEST(generate_series(0, length(text) // 32 - 1, 4)) AS f
      |      FROM documents WHERE text IS NOT NULL)""".stripMargin

  /** Keyframe-hash near-dup detection over the media column — the video
    * dedup shape: two media items are near-dup candidates when ≥ 2 of
    * their SAMPLED frames collide byte-for-byte (frame md5) — robust to
    * appended/trimmed content, which whole-file hashing (q34-style)
    * misses. Runs on qm2's frame-sampling plumbing, so the only
    * stub is the codec; the candidate structure is real.
    *
    * Scale shape: the join key is the frame digest — pairs exist only
    * inside a shared frame, never all-pairs. A BOILERPLATE frame (intro
    * card, silence, test pattern) shared by a constant fraction of the
    * corpus is the hot-key hazard, so frame document-frequency is capped
    * at 20 (computed on a frame-cardinality aggregate; such frames carry
    * no dedup signal — the q51/q70 contract, mirrored in the oracle).
    * After the cap the per-frame fan-out is ≤ cap², and the pair
    * aggregate is the same pair-keyed count shape as q35 — no posting
    * lists anywhere. */
  def qm3FrameDedup(s: SparkSession, dir: String): DataFrame =
    frameDedupPairs(s, asMediaTable(Tables.documents(s, dir)))

  /** Generic core over a media table — see [[qm3FrameDedup]]. `dfCap`
    * bounds the hot-frame fan-out; `minShared` is the match evidence
    * threshold. */
  def frameDedupPairs(s: SparkSession, media: DataFrame,
      minShared: Long = 2L, dfCap: Long = 20L): DataFrame = {
    val fr = sampleFrames(s, media)
      .select(col("doc_id"), md5(col("frame")).as("fmd5"))
      .distinct()
    val rare = fr.groupBy(col("fmd5")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= dfCap)
      .select(col("fmd5"))
    val fd = fr.join(rare, Seq("fmd5"))
    // SYMMETRIC self-join sides (r12, lint class #10): the r11 form
    // projected doc_a on one side and doc_b on the other, so the two
    // shuffle exchanges canonicalized DIFFERENTLY and the whole
    // frame-sample + distinct + df-cap lineage executed twice (exchange
    // reuse only deduplicates identical exchanges). Identical sides
    // renamed AFTER the join plan one lineage, reused.
    fd.as("a").join(fd.as("b"),
        col("a.fmd5") === col("b.fmd5") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_frames"))
      .filter(col("n_shared_frames") >= minShared)
  }

  val qm3Sql: String =
    """WITH fr AS (
      |  SELECT DISTINCT doc_id,
      |    md5(substr(text, CAST(f AS INT) * 32 + 1, 32)) AS fmd5
      |  FROM (SELECT doc_id, text,
      |          UNNEST(generate_series(0, length(text) // 32 - 1, 4)) AS f
      |        FROM documents WHERE text IS NOT NULL)),
      |rare AS (
      |  SELECT fmd5 FROM fr GROUP BY fmd5
      |  HAVING count(*) BETWEEN 2 AND 20)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(count(*) AS BIGINT) AS n_shared_frames
      |FROM fr a JOIN fr b ON a.fmd5 = b.fmd5 AND a.doc_id < b.doc_id
      |JOIN rare r ON r.fmd5 = a.fmd5
      |GROUP BY 1, 2
      |HAVING count(*) >= 2""".stripMargin

  /** STUB — stands in for an audio frame-energy computation (RMS over
    * decoded PCM). Deterministic: sum of unsigned byte values, so the
    * DuckDB oracle reproduces it from character codes on ASCII text. */
  def fakeEnergy(bytes: Array[Byte], from: Int, until: Int): Long = {
    var e = 0L
    var i = from
    while (i < until) { e += (bytes(i) & 0xff); i += 1 }
    e
  }

  /** Per-frame energies at stride 1 (every fixed-size frame, unlike
    * [[sampleFrames]]'s every-k-th): one `flatMap` pass over the binary
    * column, constant memory per partition. */
  def frameEnergies(spark: SparkSession, media: DataFrame,
      frameBytes: Int = 32): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        (0 until bytes.length / frameBytes).map { f =>
          (id, f.toLong, fakeEnergy(bytes, f * frameBytes, (f + 1) * frameBytes))
        }
      }
      .toDF("doc_id", "frame_no", "energy")
  }

  /** Activity segmentation over the media byte stream — the
    * voice-activity-detection shape of audio curation: frames above an
    * energy threshold are "active", and maximal runs of consecutive
    * active frames become segments (the units later stages transcribe,
    * embed, or cut on). Classic gaps-and-islands: group key is
    * `frame_no − row_number()` within each doc, constant along a
    * consecutive run. Only the codec is stubbed ([[fakeEnergy]]); the
    * segmentation plumbing — frame explode, threshold gate, island
    * window, per-segment aggregate — is the real pipeline.
    *
    * Scale shape: the window partitions by `doc_id` — unbounded
    * cardinality, so partitions stay ≤ frames-per-media-item at any
    * corpus size (never the q91-class low-cardinality funnel), and the
    * threshold gate drops inactive frames BEFORE the shuffle. */
  def qm4AudioSegments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val en = frameEnergies(s, asMediaTable(Tables.documents(s, dir)))
      .filter(col("energy") >= 3050L)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_no"))
    en.withColumn("grp", col("frame_no") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("frame_no")).as("seg_start"),
        max(col("frame_no")).as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).cast("long").as("seg_energy"))
      .drop("grp")
  }

  val qm4Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, (i - 1) // 32 AS f, unicode(c) AS v
      |  FROM (SELECT doc_id, len(cs) AS n, UNNEST(cs) AS c,
      |          generate_subscripts(cs, 1) AS i
      |        FROM (SELECT doc_id, string_split(text, '') AS cs
      |              FROM documents WHERE text IS NOT NULL))
      |  WHERE i <= (n // 32) * 32),
      |en AS (
      |  SELECT doc_id, f, CAST(sum(v) AS BIGINT) AS energy
      |  FROM ch GROUP BY 1, 2),
      |act AS (
      |  SELECT doc_id, f, energy,
      |    f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
      |  FROM en WHERE energy >= 3050)
      |SELECT doc_id, CAST(min(f) AS BIGINT) AS seg_start,
      |  CAST(max(f) AS BIGINT) AS seg_end,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(sum(energy) AS BIGINT) AS seg_energy
      |FROM act GROUP BY doc_id, grp""".stripMargin

  /** Chunk-level storage dedup over the media byte stream — the
    * content-addressed-store shape (restic/casync/VAST-style): blobs are
    * cut into fixed 64-byte chunks, chunks are addressed by hash, and a
    * chunk stored once serves every blob that contains it. Per source:
    * chunk instances, distinct chunk addresses, bytes before/after
    * dedup, and the saving fraction — the capacity-planning row for a
    * media lake where the same asset arrives via N crawls.
    *
    * Scale shape: chunks explode from the binary column (bounded per
    * blob by size/64 — no cross-row state), hash addresses are uniform
    * (md5 — no aggregation skew), and the dedup is two partial-combining
    * aggregates keyed on (source, hash) then source. Nothing pairwise:
    * a blob duplicated a million times costs one hash group, not 10¹²
    * comparisons. `bytes_stored` sums max(len) per address — same hash
    * = same bytes, so max is just "count each address once".
    *
    * Fixed-size chunking is the declared query because a SQL oracle can
    * reproduce it; real stores use content-defined boundaries so an
    * INSERTION only re-chunks one neighborhood — that variant is
    * [[gearChunks]], spec-verified for exactly that shift resilience
    * (fixed chunking loses every boundary after an insert; CDC keeps
    * most). */
  def qm5ChunkDedup(s: SparkSession, dir: String): DataFrame =
    chunkDedup(asMediaTable(Tables.documents(s, dir)))

  /** The (source, chunk-hash, chunk-len) instance stream both dedup
    * tiers aggregate — pure per-row select/explode, so it runs
    * identically over a batch frame and a streaming micro-batch (the
    * by-construction agreement `chunkDedupStream`'s spec relies on). */
  def chunkStream(media: DataFrame): DataFrame = {
    val idx = sequence(lit(0L),
      floor((length(col("media")) - lit(1)) / lit(64)).cast("long"))
    media.filter(length(col("media")) > 0)
      .select(col("meta.origin").as("source"), col("media"),
        explode(idx).as("i"))
      .select(col("source"),
        md5(col("media").substr((col("i") * 64 + 1).cast("int"), lit(64)))
          .as("h"),
        least(lit(64L), length(col("media")) - col("i") * 64).as("len"))
  }

  /** See [[qm5ChunkDedup]]; operates on any (media binary, meta) table. */
  def chunkDedup(media: DataFrame): DataFrame = {
    chunkStream(media)
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("c"), max(col("len")).as("len"))
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("len")).cast("long").as("bytes_total"),
        sum(col("len")).cast("long").as("bytes_stored"))
      .withColumn("saving_frac", lit(1.0) -
        col("bytes_stored").cast("double") / col("bytes_total").cast("double"))
  }

  val qm5Sql: String =
    """WITH ch AS (
      |  SELECT source,
      |    md5(substring(text, CAST((i - 1) * 64 + 1 AS INT), 64)) AS h,
      |    least(64, length(text) - (i - 1) * 64) AS len
      |  FROM (SELECT source, text,
      |          UNNEST(generate_series(1, (length(text) - 1) // 64 + 1)) AS i
      |        FROM documents WHERE length(text) > 0)),
      |g AS (
      |  SELECT source, h, count(*) AS c, max(len) AS len
      |  FROM ch GROUP BY 1, 2)
      |SELECT source,
      |  CAST(sum(c) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(c * len) AS BIGINT) AS bytes_total,
      |  CAST(sum(len) AS BIGINT) AS bytes_stored,
      |  1.0 - CAST(sum(len) AS DOUBLE) / CAST(sum(c * len) AS DOUBLE)
      |    AS saving_frac
      |FROM g GROUP BY source""".stripMargin

  /** Content-defined chunk boundaries via a Gear rolling hash (the
    * FastCDC family): the boundary test consults only the last 8 bytes
    * of state, so an edit re-chunks just its own neighborhood — the
    * property fixed-size chunking lacks (one inserted byte shifts every
    * later boundary and kills all dedup downstream of the edit).
    * Deterministic gear table (md5 of the byte value), min/max bounds
    * cap chunk-size variance. Returns (offset, length) pairs that
    * exactly tile the input. Not SQL-expressible → spec-verified
    * (tiling + shift resilience) rather than oracle-checked; runs
    * per-row inside `mapPartitions` in a real ingest, same as the other
    * codec stages here. */
  def gearChunks(bytes: Array[Byte], mask: Long = 0x3fL,
      min: Int = 16, max: Int = 256): Seq[(Int, Int)] = {
    if (bytes.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + gearTable(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= min && (h & mask) == 0L) || len >= max) {
        out += ((start, len))
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length) out += ((start, bytes.length - start))
    out.toSeq
  }

  /** 256-entry gear table: first 8 bytes of md5 of the byte value —
    * deterministic across JVMs (no Random seed to disagree on). */
  private lazy val gearTable: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(256) { b =>
      md.reset()
      val d = md.digest(Array(b.toByte))
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    }
  }

  /** Per-frame compressibility profile of the media byte stream — the
    * storage/transcode planner's signal: frames with few distinct byte
    * values are redundant (compress/delta-encode them; in audio terms,
    * silence/tones), frames near the entropy ceiling are already-coded
    * payload (recompressing wastes CPU). Frame = 64 consecutive bytes
    * (full frames only); diversity = distinct byte values per frame via
    * the same [[graft.functions.TextExprs.CharStats]] one-pass
    * expression q143 uses — here applied INSIDE a per-row `transform`
    * over the frame index, so a blob's whole profile (frame count, low-
    * diversity count, min/total diversity) is computed row-locally:
    * ZERO exchanges before the final per-doc projection (plan-locked).
    * The low threshold (≤ 17 distinct of 64) sits at the corpus's ~10th
    * percentile — the "flag the redundant tail" calibration.
    *
    * Byte/char equivalence on this corpus is the qm1-verified printable-
    * ASCII contract; on real binary media the same plumbing runs over
    * `binary` frames with a byte-histogram expression. */
  def qm6FrameDiversity(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextExprs.char_stats
    val nFrames = floor(length(col("text")) / lit(64)).cast("long")
    val divs = transform(sequence(lit(0L), nFrames - 1),
      f => element_at(
        char_stats(col("text").substr((f * 64 + 1).cast("int"), lit(64))), 2))
    Tables.documents(s, dir)
      .filter(length(col("text")) >= 64)
      .select(col("doc_id"), divs.as("d"))
      .select(col("doc_id"),
        size(col("d")).cast("long").as("n_frames"),
        size(filter(col("d"), x => x <= 17)).cast("long").as("n_low"),
        array_min(col("d")).as("min_distinct"),
        aggregate(col("d"), lit(0L), (acc, x) => acc + x).as("sum_distinct"))
      .withColumn("low_frac",
        col("n_low").cast("double") / col("n_frames").cast("double"))
      .withColumn("mean_distinct",
        col("sum_distinct").cast("double") / col("n_frames").cast("double"))
  }

  val qm6Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, (i - 1) // 64 AS f, c
      |  FROM (SELECT doc_id, len(cs) AS n, UNNEST(cs) AS c,
      |          generate_subscripts(cs, 1) AS i
      |        FROM (SELECT doc_id, string_split(text, '') AS cs
      |              FROM documents WHERE length(text) >= 64))
      |  WHERE i <= (n // 64) * 64),
      |d AS (
      |  SELECT doc_id, f, CAST(count(DISTINCT c) AS BIGINT) AS nd
      |  FROM ch GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(sum(CASE WHEN nd <= 17 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(min(nd) AS BIGINT) AS min_distinct,
      |  CAST(sum(nd) AS BIGINT) AS sum_distinct,
      |  CAST(sum(CASE WHEN nd <= 17 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS low_frac,
      |  CAST(sum(nd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_distinct
      |FROM d GROUP BY doc_id""".stripMargin

  /** Magic-byte format sniffing over the opaque media column — the
    * container-format audit a multimodal ingest runs BEFORE any decode
    * (mismatched magic vs declared format = corrupt or mislabeled
    * media; JPEG is FFD8, PNG 8950, …). The point is the Spark shape:
    * a 2-byte `substring` on the BINARY column reads nothing else —
    * media stays opaque end to end, no codec, no mapPartitions.
    *
    * On the synthetic corpus media bytes are UTF-8 text (the documented
    * qm contract), so the oracle reproduces the prefix with `substr` on
    * the text itself. All-integer output; shares are exact per-milles
    * over a window on the ≤ 2¹⁶-cardinality magic table. */
  def qm7MagicBytes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    asMediaTable(Tables.documents(s, dir))
      .select(hex(substring(col("media"), 1, 2)).as("magic"))
      .groupBy(col("magic")).agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
      .select(col("magic"), col("n"),
        expr("n * 1000 div tot").as("share_pm"))
  }

  val qm7Sql: String =
    """WITH m AS (
      |  SELECT upper(hex(substr(text, 1, 2))) AS magic,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM documents WHERE text IS NOT NULL GROUP BY 1)
      |SELECT magic, n,
      |  CAST(n * 1000 // sum(n) OVER () AS BIGINT) AS share_pm
      |FROM m""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("qm7_magic_bytes", qm7MagicBytes, Some(qm7Sql)),
    QueryDef("qm1_multimodal_features", qm1Features, Some(qm1Sql)),
    QueryDef("qm2_multimodal_frames", qm2Frames, Some(qm2Sql)),
    QueryDef("qm3_frame_dedup", qm3FrameDedup, Some(qm3Sql)),
    QueryDef("qm4_audio_segments", qm4AudioSegments, Some(qm4Sql)),
    QueryDef("qm5_chunk_dedup", qm5ChunkDedup, Some(qm5Sql)),
    QueryDef("qm6_frame_diversity", qm6FrameDiversity, Some(qm6Sql)))
}
