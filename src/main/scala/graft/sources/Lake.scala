package graft.sources

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Generic data-lake ingestion/egress surface (SURVEY §2.1 generalized).
  *
  * Readers always take an explicit schema — at 100 TB, schema inference
  * is a full extra pass over the data and a correctness hazard (a single
  * malformed file flips a column to string). Writers are the reference's
  * two sink shapes: plain and hive-partitioned snappy parquet; an S3 lake
  * differs only by an `s3a://` path prefix (credentials via
  * `spark.hadoop.fs.s3a.*` session conf, committer handled by Spark —
  * no shell-out sync like the reference's `aws s3 cp`).
  */
object Lake {

  def readJson(spark: SparkSession, path: String, schema: StructType,
      recursive: Boolean = true): DataFrame =
    spark.read
      .option("recursiveFileLookup", recursive.toString)
      .schema(schema).json(path)

  /** JSON read that QUARANTINES malformed lines instead of silently
    * nulling them (PERMISSIVE + corrupt-record column): at 100 TB a bad
    * shard is a certainty, and a `_corrupt_record` you can count/route is
    * the difference between a data-quality report and silent nulls.
    * Callers split on `_corrupt_record IS NULL`. */
  def readJsonQuarantine(spark: SparkSession, path: String,
      schema: StructType, recursive: Boolean = true): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    spark.read
      .option("recursiveFileLookup", recursive.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).json(path)
  }

  /** Parquet read across files whose schemas evolved (columns added over
    * time): per-file footers are merged, missing columns read as null.
    * Off by default in Spark because footer-merge costs a listing pass —
    * turn it on only for evolved tables. */
  def readParquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .schema(schema).csv(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Small-files compaction — the lake maintenance pass that keeps scan
    * planning cheap: a directory that accumulated many tiny files (e.g.
    * from streaming micro-batches) is rewritten into
    * ⌈rows / maxRecordsPerFile⌉ files. The data is materialized
    * (`localCheckpoint`) before the overwrite because Spark refuses a
    * plan that reads the path it writes; at micro-batch/partition scale
    * that is executor-storage-sized. Returns per-side (files, bytes)
    * stats. NOT atomic for concurrent readers — run it like any table
    * maintenance job, during a write-quiesced window. Point it at a
    * single directory of plain parquet files (for a hive-partitioned
    * table, compact each leaf partition directory — compacting the root
    * would flatten the partition layout).
    *
    * File listing goes through the Hadoop `FileSystem` resolved from the
    * path + session `hadoopConfiguration` — NOT `java.io.File` — so the
    * counts are right on `s3a://`/`hdfs://` lakes, where a local-FS walk
    * would silently report 0 files while still rewriting the data. */
  final case class CompactStats(filesBefore: Int, bytesBefore: Long,
      filesAfter: Int, bytesAfter: Long)

  def compact(spark: SparkSession, path: String,
      maxRecordsPerFile: Long = 5000000L): CompactStats = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetStats: (Int, Long) = {
      val it = fs.listFiles(p, /* recursive = */ true)
      var n = 0; var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          n += 1; bytes += st.getLen
        }
      }
      (n, bytes)
    }
    val (nBefore, bBefore) = parquetStats
    val df = spark.read.parquet(path).localCheckpoint(true)
    val rows = df.count()
    val target = math.max(1L, (rows + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt
    df.repartition(target).write.mode("overwrite")
      .option("compression", "snappy").parquet(path)
    val (nAfter, bAfter) = parquetStats
    CompactStats(nBefore, bBefore, nAfter, bAfter)
  }

  /** ORC source/sink — same vectorized-scan + predicate-pushdown story as
    * parquet (Spark's built-in `orc` format), for lakes standardized on
    * ORC. Round-trip equality is spec-asserted in LakeSpec. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").orc(path)

  /** Runs independent actions as concurrent Spark jobs, one thread per
    * action, and returns their results in argument order. Each thread
    * carries the caller's active session and local properties (job group,
    * scheduler pool, listener labels) through
    * `SQLExecution.withThreadLocalCaptured`, minus the caller's SQL
    * execution ids (which that method would copy too), so every action's
    * queries are top-level SQL executions. Every action is waited for
    * before the first failure (in argument order) is rethrown as the
    * action threw it: a failed phase never leaves a write running behind
    * the caller. */
  def concurrently[T](spark: SparkSession)(actions: (() => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val pool = Executors.newFixedThreadPool(actions.size)
    try {
      val futures = actions.map { action =>
        SQLExecution.withThreadLocalCaptured(
            spark.asInstanceOf[classic.SparkSession], pool) {
          sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
          sc.setLocalProperty(SQLExecution.EXECUTION_ROOT_ID_KEY, null)
          action()
        }
      }
      futures.map(f => Try(f.get())).map {
        case Failure(e: ExecutionException) => throw e.getCause
        case outcome => outcome.get
      }
    } finally pool.shutdown()
  }

  /** Unpartitioned snappy-parquet sink (reference `etl.py:225-237`). */
  def writePlain(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)

  /** Partitioned snappy-parquet sink (reference `etl.py:106-110` etc.). */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.partitionBy(cols: _*).mode("overwrite")
      .option("compression", "snappy").parquet(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** Bucketed (hash-clustered) table write: rows are hash-distributed
    * into `buckets` files per partition by `bucketCols` and sorted by
    * `sortCols` within each bucket. When BOTH sides of an equi join are
    * bucketed the same way on the join key, Spark plans the join with NO
    * shuffle on either side (bucket i joins bucket i directly) — at
    * 100 TB this converts every repeated fact⋈fact / fact⋈dim join on
    * the bucket key from a full-data shuffle into a local merge, which
    * is why warehouses pre-bucket their largest tables. Requires the
    * table catalog (`saveAsTable`): bucketing metadata lives in the
    * catalog, not the files. Plan shape is spec-asserted
    * (`LakeSpec`: zero exchanges on a bucketed⋈bucketed join). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Manifest-based snapshot versioning (time travel) — the minimal core
    * of what table formats (Iceberg/Delta) provide. Each
    * `writeVersion` writes its data files under `root/v=<n>/`, then —
    * only after the data write completes — commits a tiny manifest
    * `root/_manifests/<n>.json` recording the data path and row count.
    * Readers resolve versions through MANIFESTS, never by listing data
    * directories, so a torn write (data present, manifest absent) is
    * invisible and concurrent readers of older versions are undisturbed
    * (old data files are never touched). The manifest write is the
    * commit point: one small file created on close — atomic on HDFS,
    * last-writer-wins on S3, which is exactly the guarantee level a
    * single-writer maintenance job needs. All FS access goes through the
    * Hadoop `FileSystem` resolved from the path, so the scheme may be
    * `file://`, `hdfs://` or `s3a://`. */
  def writeVersion(df: DataFrame, root: String): Long = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = versions(spark, root).lastOption.getOrElse(0L) + 1L
    val dataPath = s"$root/v=$next"
    df.write.mode("overwrite").option("compression", "snappy").parquet(dataPath)
    val rows = spark.read.parquet(dataPath).count()
    val manifest = s"""{"version": $next, "path": "v=$next", "rows": $rows}"""
    val mdir = new Path(s"$root/_manifests")
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    val out = fs.create(new Path(mdir, s"$next.json"), /* overwrite = */ false)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    next
  }

  /** Committed versions in ascending order (manifest listing only). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val mdir = new Path(s"$root/_manifests")
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  /** Read a committed snapshot: the given version, or the latest when
    * `version < 0`. Fails fast on an uncommitted/unknown version rather
    * than falling back to a directory listing. */
  def readVersion(spark: SparkSession, root: String,
      version: Long = -1L): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions under $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not committed under $root (have $vs)")
    spark.read.parquet(s"$root/v=$v")
  }

  /** FILE-level min/max data skipping — the second half of what
    * `writeClustered` sets up. Parquet row-group stats only help once a
    * file is already opened; at 100 TB the win is never SCHEDULING most
    * files at all, which is why every table format (Iceberg/Delta)
    * keeps per-file column ranges in its manifest. `writeWithStats`
    * range-partitions the frame on a long-typed column (so file ranges
    * are disjoint by construction — the layout that makes skipping
    * maximally selective), writes, then records per-file min/max in a
    * `_skipstats` side table with ONE metadata-cheap pass over the
    * written files (`input_file_name()` aggregate — no driver loop over
    * footers). Underscore-prefixed, so plain readers of the table never
    * see it.
    *
    * [[skippingFiles]] resolves a range predicate against the manifest
    * (tiny: one row per FILE); [[readSkipping]] reads only the
    * surviving files and re-applies the exact predicate (stats prune
    * conservatively; the residual filter keeps semantics exact). */
  def writeWithStats(df: DataFrame, path: String, statsCol: String,
      numFiles: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    df.repartitionByRange(numFiles, col(statsCol))
      .sortWithinPartitions(statsCol)
      .write.mode("overwrite").option("compression", "snappy").parquet(path)
    writeFileRanges(df.sparkSession, path, "_skipstats",
      Seq("" -> col(statsCol).cast("long")))
  }

  /** (files whose [lo, hi] intersects [lo, hi], total data files). */
  def skippingFiles(spark: SparkSession, path: String,
      lo: Long, hi: Long): (Seq[String], Int) =
    intersectingFiles(spark, path, "_skipstats", Seq((lo, hi)))

  /** Range read through the skip manifest: only intersecting files are
    * ever scheduled; the residual filter restores exactness. */
  def readSkipping(spark: SparkSession, path: String, statsCol: String,
      lo: Long, hi: Long): DataFrame =
    readFiles(spark, path, skippingFiles(spark, path, lo, hi)._1,
      org.apache.spark.sql.functions.col(statsCol).between(lo, hi))

  /** The per-file range manifest behind both skipping layouts: one row
    * per data file of `path` — its name, then the min and max of each
    * long-valued column in `ranges` (named `<prefix>lo`, `<prefix>hi`) —
    * from ONE `input_file_name()` aggregate over the written files,
    * coalesced into one manifest file at `path/manifest`. */
  private def writeFileRanges(spark: SparkSession, path: String,
      manifest: String, ranges: Seq[(String, Column)]): Unit = {
    import org.apache.spark.sql.functions._
    val bounds = ranges.flatMap { case (p, c) =>
      Seq(min(c).as(s"${p}lo"), max(c).as(s"${p}hi")) }
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(bounds.head, bounds.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$manifest")
  }

  /** (files whose ranges all intersect `box` — one (lo, hi) per manifest
    * column pair, in order — total data files). */
  private def intersectingFiles(spark: SparkSession, path: String,
      manifest: String, box: Seq[(Long, Long)]): (Seq[String], Int) = {
    val st = spark.read.parquet(s"$path/$manifest").collect()
    (st.filter(r => box.zipWithIndex.forall { case ((lo, hi), i) =>
      r.getLong(2 * i + 2) >= lo && r.getLong(2 * i + 1) <= hi
    }).map(_.getString(0)).toSeq, st.length)
  }

  /** `files` of the table at `path` with the exact `residual` predicate
    * re-applied (the manifest prunes conservatively); an empty frame of
    * the table's schema when no file survives. */
  private def readFiles(spark: SparkSession, path: String,
      files: Seq[String], residual: Column): DataFrame =
    if (files.isEmpty)
      spark.read.parquet(path).filter(org.apache.spark.sql.functions.lit(false))
    else spark.read.parquet(files: _*).filter(residual)

  /** MERGE-ON-READ deletes (deletion vectors) — the other half of the
    * lakehouse mutation story next to [[writeVersion]]'s copy-on-write
    * snapshots. A delete appends the matching KEYS to an underscore
    * `_deletes` side table instead of rewriting data files (at 100 TB a
    * 0.1% GDPR delete must not rewrite 100 TB); readers anti-join the
    * (small) vector, writers eventually fold it in with [[compactDeletes]]
    * — exactly Iceberg v2 / Delta DV semantics, expressed relationally.
    * Delete files are append-only and idempotent to re-apply (anti-join
    * semantics make duplicate keys harmless), so a retried delete job
    * cannot corrupt the table. */
  def deleteWhere(spark: SparkSession, path: String, keyCol: String,
      pred: org.apache.spark.sql.Column): Unit =
    spark.read.parquet(path).filter(pred).select(keyCol)
      .write.mode("append").parquet(s"$path/_deletes")

  /** Read with deletion vectors applied: a LEFT ANTI join against the
    * key set — broadcast-sized as long as deletes are a small fraction,
    * which is the regime MoR exists for. Falls back to the plain table
    * when no delete file exists. */
  def readWithDeletes(spark: SparkSession, path: String,
      keyCol: String): DataFrame = {
    val base = spark.read.parquet(path)
    val dv = scala.util.Try(spark.read.parquet(s"$path/_deletes")).toOption
    dv.fold(base)(d => base.join(
      org.apache.spark.sql.functions.broadcast(d.distinct()),
      Seq(keyCol), "left_anti"))
  }

  /** Fold the deletion vector into the data files (the compaction a
    * maintenance job runs when the vector grows past its broadcast
    * budget): rewrite the table minus deleted keys, drop the vector.
    * Returns the surviving row count. */
  def compactDeletes(spark: SparkSession, path: String,
      keyCol: String): Long = {
    import org.apache.hadoop.fs.Path
    val survived = readWithDeletes(spark, path, keyCol).localCheckpoint(true)
    val n = survived.count()
    survived.write.mode("overwrite")
      .option("compression", "snappy").parquet(path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$path/_deletes"), true)
    n
  }

  /** Partitioned write with rows CLUSTERED by `sortCols` inside each file
    * (`sortWithinPartitions` — a local sort, no extra shuffle): parquet
    * min/max page stats become selective, so later range predicates on the
    * sort key skip row groups. `maxRecordsPerFile` bounds file size so a
    * hot partition cannot produce one giant file. */
  def writeClustered(df: DataFrame, path: String, partCols: Seq[String],
      sortCols: Seq[String], maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions((partCols ++ sortCols)
        .map(org.apache.spark.sql.functions.col): _*)
      .write.partitionBy(partCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite").option("compression", "snappy").parquet(path)

  /** Morton (z-order) key of two non-negative 16-bit values: the bits of
    * `a` at the even positions, those of `b` at the odd ones. */
  private[graft] def morton(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    spread16(a).bitwiseOR(org.apache.spark.sql.functions.shiftleft(spread16(b), 1))

  /** 16-bit Morton spread — interleave a zero between each bit of a
    * 16-bit value, as pure Column arithmetic (4 shift/mask steps, all
    * codegen'd builtins; the classic magic-mask form, e.g. "Bit
    * Twiddling Hacks" / Morton 1966). */
  private def spread16(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L),
      (1, 0x55555555L)).foldLeft(c) { case (x, (s, m)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }
  }

  /** Z-ORDER clustered write over TWO long columns — the multi-column
    * half of the data-skipping story. [[writeWithStats]]'s range layout
    * makes file ranges disjoint on ONE column; a predicate on any other
    * column intersects every file. Interleaving the bits of both
    * (rank-quantized) columns into one Morton key and range-partitioning
    * on THAT gives every file a bounded box in (a, b) space, so a range
    * predicate on EITHER column prunes files — the layout
    * Delta/Iceberg `OPTIMIZE ZORDER BY` exists for. Cost is identical
    * to any clustered rewrite: one stats pass + one range shuffle.
    *
    * Each column is linearly quantized to 16 bits from its global
    * min/max (one metadata-cheap agg pass; exact integer arithmetic —
    * requires column range < 2^47 so the scale multiply stays in
    * int64). The per-file manifest `_skipstats2` records min/max of
    * BOTH raw columns per file (the z-curve guarantees they are tight
    * boxes). [[boxSkippingFiles]] prunes against the box,
    * [[readBoxSkipping]] re-applies the exact predicate — stats prune
    * conservatively, the residual filter keeps semantics exact. */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
      colB: String, numFiles: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    val a = col(colA).cast("long"); val b = col(colB).cast("long")
    val stats = df.agg(min(a).as("amin"), max(a).as("amax"),
        min(b).as("bmin"), max(b).as("bmax"))
      .select(col("amin"), col("bmin"),
        greatest(col("amax") - col("amin"), lit(1L)).as("arng"),
        greatest(col("bmax") - col("bmin"), lit(1L)).as("brng"))
    val qa = expr(s"((cast($colA as bigint) - amin) * 65535) div arng")
    val qb = expr(s"((cast($colB as bigint) - bmin) * 65535) div brng")
    val z = morton(qa, qb).as("_z")
    df.crossJoin(broadcast(stats))
      .withColumn("_z", z)
      .drop("amin", "bmin", "arng", "brng")
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").option("compression", "snappy").parquet(path)
    writeFileRanges(df.sparkSession, path, "_skipstats2", Seq("a" -> a, "b" -> b))
  }

  /** (files whose (a, b) box intersects the probe box, total files).
    * Pass Long.MinValue/MaxValue bounds to leave a side unconstrained. */
  def boxSkippingFiles(spark: SparkSession, path: String,
      aLo: Long, aHi: Long, bLo: Long, bHi: Long): (Seq[String], Int) =
    intersectingFiles(spark, path, "_skipstats2", Seq((aLo, aHi), (bLo, bHi)))

  /** Box read through the z-order manifest: only intersecting files are
    * scheduled; the residual filter restores exactness. */
  def readBoxSkipping(spark: SparkSession, path: String,
      colA: String, colB: String,
      aLo: Long, aHi: Long, bLo: Long, bHi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    readFiles(spark, path, boxSkippingFiles(spark, path, aLo, aHi, bLo, bHi)._1,
      col(colA).cast("long").between(aLo, aHi) &&
        col(colB).cast("long").between(bLo, bHi))
  }
}
