package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming forms of the event-time operators: the same
  * tumbling-window aggregation as `EventOps.q24Tumbling`, plus streaming
  * dedup — `readStream` → transform → `writeStream`, watermark-bounded
  * state. SURVEY §2.7: the reference is batch-only; this is the extension
  * surface, kept to built-in stateful operators so state lives in the
  * HDFS-backed state store and scales with executors, not the driver.
  */
object StreamingOps {

  /** Parquet-directory stream of the events table (schema pinned from a
    * batch read — streaming sources require an explicit schema). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource wants a directory; select just the events file
    graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Tumbling 1-hour event-time aggregation with a 2-hour watermark —
    * late rows beyond the watermark are dropped, state is bounded. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("ts_hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup on (user_id, event_id) within the watermark. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("user_id", "event_id")

  /** Custom stateful operator: running per-user event counts via
    * `flatMapGroupsWithState` — the escape hatch for state machines the
    * built-in windowed aggregates can't express. State is per-key in the
    * state store (scales with executors); emits one update per user per
    * micro-batch. */
  def runningUserCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id").as[Long], col("event_id").as[Long])
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val next = prev + rows.size
          state.update(next)
          Iterator((userId, next))
      }
      .toDF("user_id", "n_events")
  }

  /** Streaming first-seen feed — the ONLINE tier of the batch q179
    * cumulative-uniques decomposition: emits each user exactly once, on
    * the day of their first arriving event (min event-date within the
    * first micro-batch that contains them). Downstream, daily new-user
    * counts are a stateless per-day aggregate of this feed and the
    * cumulative curve is its prefix sum — neither ever re-scans events.
    *
    * State is ONE boolean per distinct user — the inherent floor for
    * EXACT lifetime distinct (a batch engine shuffles the same key set);
    * it grows with user cardinality, never event volume. When approximate
    * suffices at 100 TB, the sketch alternative is q42's HLL. */
  def newUsersStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("user_id").as[Long], to_date(col("ts")).as[java.sql.Date])
      .as[(Long, java.sql.Date)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, java.sql.Date)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Date)],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator((uid, rows.map(_._2).minBy(_.getTime)))
          }
      }
      .toDF("user_id", "d")
  }

  /** Stream-stream interval join: each purchase joined to the same user's
    * views in the preceding hour. Both sides carry watermarks and the join
    * condition bounds event-time distance, so the state store retains only
    * one hour of each side per key — the state-bounded shape that holds on
    * an unbounded stream. */
  def purchaseViewJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    p.join(v, expr(
      """p_user = v_user AND
        |v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("p_ts"), col("v_ts"))
  }

  /** Streaming session windows (30-min gap): the streaming form of the
    * batch q46 `session_window` aggregation, watermark-bounded. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** `foreachBatch` lake sink with merge-on-write partition overwrite.
    *
    * In update output mode a micro-batch carries only the GROUPS that
    * changed in that trigger — not every group sharing a hive partition —
    * so naively overwriting the touched partitions with the batch would
    * delete previously-written rows of the partition's other groups
    * (e.g. partitioning hourly counts by hour while grouping by
    * (hour, event_type): a late batch updating one event_type would wipe
    * the hour's others). Each batch therefore does a read-modify-write:
    * existing rows of the touched partitions are read back, the groups
    * this batch replaces are anti-joined out on `keyCols`, and the union
    * is rewritten with DYNAMIC partition overwrite — untouched partitions
    * are never rewritten, and replaying a batch after a failure converges
    * to the same lake state (idempotent upsert ⇒ effectively exactly-once).
    *
    * The overwrite mode is passed as a per-writer option so the session
    * conf is left untouched. The merged batch is `localCheckpoint`ed
    * before the write (micro-batch-sized data) because Spark refuses a
    * plan that reads from the path it overwrites.
    *
    * `keyCols` must be the full aggregation group key and must include
    * enough to identify a row uniquely within its partition; and
    * `partitionCol` must be a FUNCTION of the group key (e.g. the
    * window's hour) — a group whose partition value could change between
    * batches would strand its old row in the previous partition.
    * Returns the number of non-empty micro-batches committed. */
  def runToLake(spark: SparkSession, frame: DataFrame, outDir: String,
      partitionCol: String, keyCols: Seq[String],
      checkpoint: Option[String] = None): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val writer = frame.writeStream
      .outputMode("update")
    // with a checkpoint location the query RESUMES: offsets already
    // committed are not reprocessed across restarts, and a batch replayed
    // after a mid-commit failure overwrites its own partitions to the
    // same state (merge-on-write is idempotent) — together, exactly-once
    // lake contents
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    val q = writer
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          batches.incrementAndGet()
          val existing = scala.util.Try(
            spark.read.schema(batch.schema).parquet(outDir)).toOption
          val merged = existing match {
            case None => batch
            case Some(lake) =>
              val touched = batch.select(partitionCol).distinct()
              val kept = lake
                .join(touched, Seq(partitionCol), "left_semi")
                .join(batch, keyCols, "left_anti")
              batch.unionByName(kept)
          }
          merged.localCheckpoint(true).write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol)
            .option("compression", "snappy")
            .parquet(outDir)
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    batches.get()
  }

  /** Streaming curation: the batch PipelineDemo stages that are
    * per-row/stateless (PII redaction, token-count quality floor) plus
    * streaming EXACT dedup by content fingerprint. Dedup state is keyed
    * by md5 fingerprint; with no event-time column the state is
    * UNBOUNDED — correct only for bounded backfills. A continuous feed
    * must use [[curatedDocsStreamWatermarked]], whose state evicts. */
  def curatedDocsStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 2): DataFrame = {
    import graft.functions.TextFns
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .withColumn("text", graft.operators.CurationOps.redact(col("text")))
      .filter(size(TextFns.tokens(col("text"))) >= 3)
      // char-diversity spam gate (q143's thresholds) — per-row, stateless,
      // so the stream gets it for free like the batch pipeline does
      .withColumn("cs", graft.functions.TextExprs.char_stats(col("text")))
      .filter(element_at(col("cs"), 3).cast("double") <=
        lit(0.2) * element_at(col("cs"), 1).cast("double")
          * element_at(col("cs"), 1).cast("double"))
      .drop("cs")
      .withColumn("fp", md5(TextFns.normText(col("text"))))
      .dropDuplicates("fp")
      .select("doc_id", "fp", "text", "lang", "source")
  }

  /** Streaming form of [[graft.operators.CurationOps.chunkDocs]] — the
    * ingest doc-length cap applied AT the stream source, where it
    * belongs: tokenize/explode/pack are per-row and stateless, so the
    * micro-batch output is row-for-row the batch operator's output
    * (spec'd), and the cap is enforced BEFORE any stateful stage
    * (dedup state, watermark buffers) ever sees an oversize document —
    * the streaming tier inherits the same hard per-doc buffer bound as
    * the batch dedup pipeline. */
  def chunkDocsStream(spark: SparkSession, srcDir: String, maxTokens: Int,
      filesPerTrigger: Int = 2): DataFrame = {
    val schema = spark.read.parquet(srcDir).schema
    graft.operators.CurationOps.chunkDocs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(srcDir),
      maxTokens)
  }

  /** Ingest-time-watermarked streaming curation — the production variant
    * of [[curatedDocsStream]] for a CONTINUOUS feed. `ingestTs` supplies
    * the event-time column (a feed's arrival timestamp; the spec derives
    * one from a data column), and dedup runs through
    * `dropDuplicatesWithinWatermark`: a fingerprint's state lives only
    * until the watermark passes its first arrival + `horizon`, so state
    * size tracks the horizon's ingest volume instead of all history.
    * The contract changes accordingly — a re-post of old content AFTER
    * the horizon is re-admitted (dedup against deep history is the batch
    * pipeline's job; the stream's job is bounding near-real-time dups). */
  def curatedDocsStreamWatermarked(spark: SparkSession, srcDir: String,
      ingestTs: org.apache.spark.sql.Column, horizon: String = "2 hours",
      filesPerTrigger: Int = 2): DataFrame = {
    import graft.functions.TextFns
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .withColumn("ingest_ts", ingestTs)
      .withColumn("text", graft.operators.CurationOps.redact(col("text")))
      .filter(size(TextFns.tokens(col("text"))) >= 3)
      .withColumn("fp", md5(TextFns.normText(col("text"))))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "fp", "ingest_ts", "text", "lang", "source")
  }

  /** Stream–static join: a live document feed sampled against the
    * (batch-computed) q88 domain-mixture rate table. The static side is
    * re-read per micro-batch by Spark, planned as a broadcast-sized
    * lookup — the standard "enrich a stream from a dim table" shape; no
    * streaming state is required because the join is stateless per row.
    * The kept stream is provably the streaming image of the batch q88
    * result (spec-asserted). */
  def mixtureSampledStream(spark: SparkSession, srcDir: String,
      sfDir: String, filesPerTrigger: Int = 2): DataFrame = {
    val rates = graft.operators.CurationOps.q88DomainMixture(spark, sfDir)
      .select(col("lang"), col("rate_pm")).distinct()
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(col("doc_id"), col("lang"))
      .join(broadcast(rates), Seq("lang"))
      .filter(pmod(graft.functions.TextFns.hash60(
        concat(lit("mix:"), col("doc_id").cast("string"))),
        lit(1000L)) < col("rate_pm"))
      .select(col("doc_id"), col("lang"), col("rate_pm"))
  }

  /** Streaming phrase search — the ONLINE tier of batch
    * [[graft.operators.TextOps.phraseSearch]], with ZERO streaming
    * state. Batch phraseSearch's (phrase, doc_id) hit count is row-local
    * (every window of a document lives in its one row), so the streaming
    * form needs no aggregate at all: phrase hashes are computed ONCE by
    * the same GramKHash64 expression over a #phrases-row local frame
    * (one bounded collect — the q71-gate pattern) and inlined as
    * literals, and each micro-batch row counts its own matching windows
    * with a pure column expression. No join, no shuffle, no state;
    * append-mode output. The spec asserts the streamed hits are exactly
    * the batch phraseSearch rows. */
  def phraseMatchStream(spark: SparkSession, srcDir: String,
      rawPhrases: Seq[String], filesPerTrigger: Int = 2): DataFrame = {
    import graft.functions.TextFns
    import graft.functions.HashExprs.gramk_hash64
    import spark.implicits._
    val phrases = rawPhrases.distinct
    val lens: Seq[Int] = phrases
      .map(_.trim.toLowerCase.split("\\s+").count(_.nonEmpty))
      .filter(_ >= 1).distinct.sorted
    require(lens.nonEmpty, "phraseMatchStream needs a non-empty phrase")
    val pdf = phrases.toDF("phrase")
      .withColumn("ptoks",
        filter(TextFns.tokens(col("phrase")), t => t =!= ""))
    val keys: Seq[(String, Int, Long)] = lens.flatMap { l =>
      pdf.filter(size(col("ptoks")) === l)
        .select(col("phrase"), element_at(gramk_hash64(col("ptoks"), l), 1))
        .collect().map(r => (r.getString(0), l, r.getLong(1)))
    }
    val schema = spark.read.parquet(srcDir).schema
    val base = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(col("doc_id"),
        filter(TextFns.tokens(col("text")), t => t =!= "").as("toks"))
    val withWins = lens.foldLeft(base) { (df, l) =>
      df.withColumn(s"w$l", gramk_hash64(col("toks"), l))
    }
    val hitCols = keys.map { case (p, l, h) =>
      struct(lit(p).as("phrase"),
        size(filter(col(s"w$l"), x => x === lit(h))).cast("long")
          .as("n_hits"))
    }
    withWins
      .select(col("doc_id"), explode(array(hitCols: _*)).as("m"))
      .select(col("m.phrase").as("phrase"), col("doc_id"),
        col("m.n_hits").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** Streaming ingest triage — the ONLINE tier of batch
    * [[graft.operators.DedupOps.ingestTriage]]: a live document feed is
    * labeled against a STATIC corpus fingerprint set (stream–static
    * left join, re-planned per micro-batch) plus per-fingerprint
    * first-seen state for within-feed duplicates
    * (`flatMapGroupsWithState`, ONE boolean per fingerprint ever seen).
    * The online contract is necessarily FIRST-ARRIVAL-wins where the
    * batch form is min-doc_id-wins — a stream cannot know a smaller id
    * is coming; the spec feeds docs in id order, where the two
    * contracts coincide. Within one micro-batch the group iterator is
    * ordered by doc_id so replays are deterministic. */
  def triageStream(spark: SparkSession, srcDir: String,
      corpusFps: DataFrame, filesPerTrigger: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.TextFns
    val schema = spark.read.parquet(srcDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(col("doc_id"), md5(TextFns.normText(col("text"))).as("fp"))
      .join(corpusFps.select(col("fp")).distinct()
        .withColumn("in_corpus", lit(true)), Seq("fp"), "left")
      .select(col("doc_id").as[Long], col("fp").as[String],
        coalesce(col("in_corpus"), lit(false)).as[Boolean])
    feed.groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[(Long, String, Boolean)],
            state: GroupState[Boolean]) =>
          val sorted = rows.toSeq.sortBy(_._1)
          val out = sorted.zipWithIndex.map { case ((id, _, inCorpus), i) =>
            val status =
              if (inCorpus) "dup_of_corpus"
              else if (state.getOption.getOrElse(false) || i > 0) "dup_in_feed"
              else "admitted"
            (id, fp, status)
          }
          if (sorted.exists(!_._3)) state.update(true)
          out.iterator
      }
      .toDF("doc_id", "fp", "status")
  }

  /** Streaming chunk-registry dedup — the ONLINE tier of batch
    * [[graft.multimodal.Multimodal.qm5ChunkDedup]]: media blobs arrive
    * in micro-batches, are cut into the SAME fixed 64-byte chunk stream
    * (shared builder — agreement by construction), and a per-
    * (source, chunk-address) boolean carried across triggers marks
    * addresses already stored. One row per chunk INSTANCE with its
    * `stored` verdict: exactly the first instance of each address in
    * each source stores, every later one dedups — so per-batch write
    * accounting (bytes actually written vs saved) is a plain aggregate
    * of the output. State is one boolean per distinct address — the
    * content-addressed store's index, the irreducible state of the
    * operator (the index IS what makes a store deduplicating). */
  def chunkDedupStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 2): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
    val chunks = graft.multimodal.Multimodal
      .chunkStream(graft.multimodal.Multimodal.asMediaTable(feed))
      .select(col("source").as[String], col("h").as[String],
        col("len").as[Long])
    chunks.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Boolean, (String, String, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Long)],
            state: GroupState[Boolean]) =>
          val seen = state.getOption.getOrElse(false)
          val out = rows.zipWithIndex.map { case ((src, h, len), i) =>
            (src, h, len, !seen && i == 0)
          }.toVector
          if (!seen) state.update(true)
          out.iterator
      }
      .toDF("source", "h", "len", "stored")
  }

  /** Streaming JL projection — the online tier of batch q154: embedding
    * rows arriving in micro-batches project through the SAME constant
    * Rademacher matrix (per-row exact-int64 arithmetic, zero state,
    * zero shuffle — the stateless-enrichment class). This is how a live
    * ingest keeps its ANN index fed with reduced vectors without a
    * nightly batch projection; spec: streamed rows ≡ batch q154. */
  def projectionStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 2): DataFrame = {
    val schema = spark.read.parquet(srcDir).schema
    graft.operators.SimilarityOps.projectTo8(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(srcDir))
  }

  /** Streaming Count–Min sketch over a live document feed — the q210
    * sketch maintained incrementally. This is the mergeable-sketch
    * property expressed as a streaming AGGREGATE: the state is exactly
    * the d·w = 64 cells (bounded regardless of feed volume — the whole
    * point of sketching), each micro-batch's token counts ADD into the
    * cells, and any point-in-time snapshot is the true sketch of every
    * row seen so far (spec: final snapshot ≡ the batch [[graft.operators.MiscOps.cmsCells]]
    * on the same corpus). Run in complete/update mode; probing
    * estimates off a snapshot is the batch q210 probe join. */
  def countMinStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 2): DataFrame = {
    import graft.functions.TextFns
    val schema = spark.read.parquet(srcDir).schema
    graft.operators.MiscOps.cmsCells(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .filter(col("term") =!= ""))
  }

  /** Streaming KS drift monitor — the ONLINE tier of batch q176: a live
    * document feed's length distribution compared per trigger against a
    * STATIC reference. Monitor state is a MERGEABLE per-length count
    * histogram persisted in the lake (the q139 merge story): each
    * micro-batch folds its own value counts into the state table
    * (value-cardinality-bounded — lengths, not documents), recomputes
    * the exact integer-cross-product D over state-vs-reference with the
    * batch [[graft.operators.StatsOps.ksFromCounts]] plan, and appends
    * one `(batch_id, n_ref, n_stream, ks_d)` row to the monitor log.
    *
    * Every stage is distributed and bounded: the raw feed is never
    * funneled through a single task (the per-batch collapse is a hash
    * aggregate), the state table is value-sized, and a restart re-reads
    * the state table — replaying a batch converges to the same counts
    * only if offsets are tracked, so production callers pass a streaming
    * checkpoint via the returned frame's own query; here the contract is
    * the drift VALUE, which the spec pins to the batch operator. Returns
    * the number of non-empty batches committed. */
  def ksMonitorStream(spark: SparkSession, srcDir: String,
      reference: DataFrame, stateDir: String, logDir: String,
      filesPerTrigger: Int = 2): Long = {
    import org.apache.spark.sql.functions._
    val refCounts = reference
      .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("rc"))
      .localCheckpoint(true)
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          batches.incrementAndGet()
          val bCounts = batch.groupBy(col("n_chars").as("v"))
            .agg(count(lit(1)).as("sc"))
          val existing = scala.util.Try(
            spark.read.schema("v LONG, sc LONG").parquet(stateDir)).toOption
          val merged = existing.fold(bCounts)(old =>
            bCounts.unionByName(old).groupBy(col("v"))
              .agg(sum(col("sc")).as("sc")))
            .localCheckpoint(true) // plan must not read the path it overwrites
          merged.write.mode("overwrite").parquet(stateDir)
          val vals = refCounts.withColumnRenamed("rc", "c1")
            .join(merged.withColumnRenamed("sc", "c2"), Seq("v"), "full_outer")
            .select(col("v"), coalesce(col("c1"), lit(0L)).as("c1"),
              coalesce(col("c2"), lit(0L)).as("c2"))
          graft.operators.StatsOps.ksFromCounts(vals)
            .select(lit(id).as("batch_id"), col("n1").as("n_ref"),
              col("n2").as("n_stream"), col("ks_d"))
            .write.mode("append").parquet(logDir)
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(refCounts)
    batches.get()
  }

  /** Online robust-metric monitor — the streaming tier of batch q183:
    * the per-(type, cents) count histogram is the MERGEABLE state
    * (counts add, so the fold is exact — the ksMonitor/q139 pattern),
    * persisted in the lake; each micro-batch folds its counts in and
    * recomputes the exact trimmed mean per event type from the merged
    * histogram, appending one log row per type. After the last trigger
    * the monitor's values equal batch q183 EXACTLY — integer cents all
    * the way, no double drift across the batch/stream split.
    *
    * State is value-cardinality-bounded (never event-volume): the same
    * contract as the batch ecdf family. */
  def trimmedMeanMonitorStream(spark: SparkSession, srcDir: String,
      stateDir: String, logDir: String, filesPerTrigger: Int = 2): Long = {
    import org.apache.spark.sql.functions._
    import graft.functions.Exact.cents
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          batches.incrementAndGet()
          val bCounts = graft.Tables.normalizeTs(batch)
            .groupBy(col("event_type"), cents(col("value")).as("v"))
            .agg(count(lit(1)).as("c"))
          val existing = scala.util.Try(
            spark.read.schema("event_type STRING, v LONG, c LONG")
              .parquet(stateDir)).toOption
          val merged = existing.fold(bCounts)(old =>
            bCounts.unionByName(old).groupBy(col("event_type"), col("v"))
              .agg(sum(col("c")).as("c")))
            .localCheckpoint(true) // plan must not read the path it overwrites
          merged.write.mode("overwrite").parquet(stateDir)
          graft.operators.StatsOps.trimmedFromCounts(merged)
            .select(lit(id).as("batch_id"), col("event_type"), col("n"),
              col("trimmed_n"), col("trimmed_mean"))
            .write.mode("append").parquet(logDir)
        }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    batches.get()
  }

  /** Streaming multi-touch attribution — the online tier of batch q152:
    * per-user touch history (click/view/signup) is carried in
    * `flatMapGroupsWithState`, and each arriving purchase emits one
    * weighted row per touch inside its 24 h window (the same exact
    * integer hour-decay weights). State is HORIZON-BOUNDED by
    * construction: with per-user ts-ordered arrival, a touch older
    * than (latest seen ts − 24 h) can never enter a future purchase's
    * window, so it evicts — state per user is one day of touches, not
    * all history (the q140-family design rule: the stream's state is
    * the operator's irreducible working set, nothing more). Spec:
    * per-channel (count, weight-mass) aggregates of the emitted rows
    * equal batch q152 exactly across multi-file arrival. */
  def attributionStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 2): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val horizon = 86400000000L
    val schema = spark.read.parquet(srcDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        col("event_type").as[String])
    feed.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, String)],
        (Long, Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String)],
            state: GroupState[List[(Long, String)]]) =>
          var touches = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, String, Long)]
          rows.toSeq.sortBy(_._2).foreach { case (_, us, typ) =>
            if (typ == "purchase") {
              touches.foreach { case (tUs, ch) =>
                if (tUs < us && us - tUs < horizon)
                  out += ((uid, us, ch, 24L - (us - tUs) / 3600000000L))
              }
            } else if (typ == "click" || typ == "view" || typ == "signup")
              touches = touches :+ ((us, typ))
            touches = touches.filter(_._1 > us - horizon)
          }
          state.update(touches)
          out.iterator
      }
      .toDF("user_id", "p_us", "channel", "w")
  }

  /** One packed item of the incremental sequence packer. */
  final case class PackItem(doc_id: Long, shard: Long, n_tok: Long)
  final case class PackedItem(doc_id: Long, shard: Long, bin: Long, fill: Long)

  /** Incremental sequence packing — the streaming continuation of batch
    * q87: documents arrive in micro-batches, and each shard's greedy
    * packer state (current fill, current bin) is carried across triggers
    * in `flatMapGroupsWithState`, so bins keep filling exactly where the
    * previous trigger stopped. With in-order delivery per shard the
    * emitted (bin, fill) assignments are IDENTICAL to the batch packer's
    * (spec-asserted); state is two longs per shard regardless of stream
    * length. This is how a continuously-ingesting corpus feed keeps
    * producing training sequences without re-packing history. */
  def packingStream(spark: SparkSession, srcDir: String, budget: Long = 512L,
      filesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .as[PackItem]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[PackItem],
            state: GroupState[(Long, Long)]) =>
          // batch-group iterators carry no ordering promise: restore the
          // per-shard doc_id order inside the trigger (cross-trigger
          // order is the file delivery order)
          val sorted = it.toArray.sortBy(_.doc_id)
          var (fill, bin) = state.getOption.getOrElse((-1L, -1L))
          val out = sorted.map { d =>
            val n = math.min(d.n_tok, budget)
            if (bin == -1L) { bin = 0L; fill = n }
            else if (fill + n > budget) { bin += 1; fill = n }
            else fill += n
            PackedItem(d.doc_id, shard, bin, fill)
          }
          state.update((fill, bin))
          out.iterator
      }
      .toDF()
  }

  /** Streaming per-source ingest cap — the streaming tier of the q96
    * pressure valve: at most `k` documents per source admitted over the
    * stream's lifetime, with ONE counter of state per source (bounded by
    * #sources, not by volume). A stream must decide admission ONLINE, so
    * unlike batch q96's salted-hash cut the semantics are
    * first-k-in-arrival-order; within a trigger the batch iterator
    * carries no ordering promise, so doc_id order is restored per
    * trigger (cross-trigger order is the file delivery order) — the
    * admitted set is then a deterministic function of the feed. */
  def sourceCapStream(spark: SparkSession, srcDir: String, k: Long,
      filesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(col("doc_id").as[Long], col("source").as[String])
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[(Long, String)],
            state: GroupState[Long]) =>
          var admitted = state.getOption.getOrElse(0L)
          val out = it.map(_._1).toArray.sorted.flatMap { id =>
            if (admitted < k) { admitted += 1; Some((id, source)) }
            else None
          }
          state.update(admitted)
          out.iterator
      }
      .toDF("doc_id", "source")
  }

  /** Streaming per-domain token budget — the ONLINE tier of the batch
    * q120 mixture: each language's admitted token total is ONE counter
    * of state (bounded by #domains, not volume), and a document is
    * admitted iff its language's total BEFORE it is under budget (the
    * q116/q120 prefix contract, so each domain overshoots by at most
    * one doc). A stream must decide online, so order is
    * first-in-arrival (per trigger restored to doc_id order — batch
    * iterators carry no ordering promise), where batch q120 uses the
    * salted-hash order. */
  def tokenBudgetStream(spark: SparkSession, srcDir: String,
      budgetPerDomain: Long, filesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(col("doc_id").as[Long], col("lang").as[String],
        col("n_tokens").as[Long])
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang: String, it: Iterator[(Long, String, Long)],
            state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = it.toArray.sortBy(_._1).flatMap { case (id, _, n) =>
            val before = cum
            cum += n
            if (before < budgetPerDomain) Some((id, lang, n, cum)) else None
          }
          state.update(cum)
          out.iterator
      }
      .toDF("doc_id", "lang", "n_tokens", "cum_tokens")
  }

  /** One change of the streaming CDC feed; `seq` is the change's
    * total-order position (a log offset / commit LSN in production). */
  final case class CdcChange(k: Long, seq: Long, op: String, payload: String)
  /** Current materialized row for a key after applying a change. */
  final case class CdcState(k: Long, seq: Long, deleted: Boolean,
      payload: String)

  /** Streaming CDC upsert view — the ONLINE tier of the batch q105
    * MERGE: a change feed of (key, seq, op ∈ I/U/D, payload) folds into
    * a continuously-current keyed view. State per key is ONE (seq,
    * deleted, payload) record — bounded by live key cardinality, not
    * feed length. Last-write-wins by `seq`: within a trigger changes
    * apply in seq order (batch iterators carry no ordering promise, so
    * the trigger's changes are sorted); ACROSS triggers a stale change
    * (seq ≤ state's) is DROPPED rather than applied — the out-of-order
    * delivery guard replication consumers need. Deletes tombstone the
    * key (retained so a late stale update cannot resurrect it; eviction
    * of old tombstones would ride a watermark in production).
    *
    * Emits the key's state after each trigger that changed it
    * (update-mode semantics); the latest emission per key IS the
    * materialized view, which the spec proves equal to the batch fold
    * of the same change set. */
  def upsertStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .as[CdcChange]
      .groupByKey(_.k)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: Long, it: Iterator[CdcChange], state: GroupState[CdcState]) =>
          var cur = state.getOption.getOrElse(CdcState(k, Long.MinValue,
            deleted = true, payload = null))
          val before = cur.seq
          it.toArray.sortBy(_.seq).foreach { c =>
            if (c.seq > cur.seq) // stale changes dropped, never applied
              cur = CdcState(k, c.seq, c.op == "D",
                if (c.op == "D") null else c.payload)
          }
          state.update(cur)
          if (cur.seq != before) Iterator.single(cur) else Iterator.empty
      }
      .toDF()
  }

  /** Append-mode parquet lake sink (stateless/dedup streams): files
    * accumulate per micro-batch; exactly-once via the sink's own
    * checkpoint-coordinated file manifest. */
  def runAppendToLake(spark: SparkSession, frame: DataFrame, outDir: String,
      checkpoint: String): Unit = {
    val q = frame.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .option("compression", "snappy")
      .format("parquet")
      .start(outDir)
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming per-user transition feed — the ONLINE tier of the batch
    * q127 Markov matrix: each user's state is the single latest event
    * `(ts_us, event_id, event_type)` (one record per live user, never a
    * history), and every arriving event emits the `(from, to)` edge
    * from the stored predecessor — including across trigger boundaries,
    * which is what the state exists for. Within a trigger the batch
    * iterator carries no ordering promise, so events are restored to
    * `(ts_us, event_id)` order; a LATE arrival (older than the stored
    * state) is dropped without emitting or rewinding — the
    * `upsertStream` stale-drop contract, since re-emitting history
    * would double-count edges downstream. Downstream aggregation of the
    * emitted pairs reproduces q127's counts when the feed is in order
    * per user. */
  def transitionStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(col("user_id").as[Long], col("ts_us").as[Long],
        col("event_id").as[Long], col("event_type").as[String])
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, Long, String)],
            state: GroupState[(Long, Long, String)]) =>
          var last = state.getOption
          val out = it.toArray.sortBy(e => (e._2, e._3))
            .flatMap { case (_, ts, eid, et) =>
              val newer = last.forall { case (lts, leid, _) =>
                ts > lts || (ts == lts && eid > leid)
              }
              if (newer) {
                val edge = last.map { case (_, _, ltype) => (uid, ltype, et) }
                last = Some((ts, eid, et))
                edge
              } else None // late arrival: dropped, state not rewound
            }
          last.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "from_type", "to_type")
  }

  /** Streaming covariance moments — the online tier of batch q132: as
    * embedding vectors arrive, maintain the exact (n, Σ q_i·q_j) moment
    * table the covariance matrix derives from. Each micro-batch runs the
    * same codegen'd [[graft.functions.VectorExprs.CovPairProducts]]
    * expansion + posexplode, and the complete-mode aggregate keeps ONE
    * row of state per flat position — 2 144 (count, decimal sum) pairs
    * for 64 dims, O(d²) state INDEPENDENT of stream length. Because
    * integer/decimal sums are associative, the moments after consuming a
    * bounded feed are bit-identical to the batch aggregate
    * (spec-asserted); the final centering divisions are a consumer-side
    * projection, exactly as in q132. */
  def covarianceStream(spark: SparkSession, srcDir: String,
      filesPerTrigger: Int = 1): DataFrame = {
    val schema = spark.read.parquet(srcDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      .select(posexplode(
        graft.functions.VectorExprs.cov_pair_products(col("embedding")))
        .as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(38, 0))).as("sv"))
  }

  /** Run a streaming frame to completion against the (static) parquet
    * input via the in-memory sink; returns the materialized result. */
  def runToMemory(spark: SparkSession, frame: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val q: StreamingQuery = frame.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
