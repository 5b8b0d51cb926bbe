package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed table loaders for the driver's synthetic star schema
  * (see TESTDATA.md). Mirrors the reference's data-lake access pattern —
  * `spark.read.format("parquet").load(path)` (reference `etl.py:103`) — as
  * plain vectorized parquet scans. Column pruning + filter pushdown happen
  * in Catalyst; callers select only what they need so `ReadSchema` stays
  * narrow at 100 TB.
  */
object Tables {
  /** Per-path schema cache (r10): Spark 4 runs a footer-inference Spark
    * job on EVERY schemaless `spark.read.parquet` call, so a suite that
    * builds thousands of frames pays thousands of driver-side job
    * dispatches — and the eager-action lint could not tell a reader's
    * one-time footer job from a builder's hidden collect. Inference
    * runs once per path per JVM; a path's schema is assumed stable
    * within a process (true for every caller: fixtures and the scale
    * harness rewrite paths with identical schemas). At 100 TB the
    * explicit-schema read is also simply the production idiom — the
    * footer probe adds nothing once the catalog knows the layout. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** `events.ts` normalization, robust to how the generator wrote it:
    * parquet TIMESTAMP(NANOS) (Spark 4 refuses it unless read as a long —
    * truncate to µs with integer `div`, the same truncation DuckDB applies
    * pulling ns into its µs TIMESTAMP) or TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (inferred TIMESTAMP_NTZ — cast to the session
    * type; the session TZ is pinned UTC, so the instant is unchanged and
    * equals DuckDB's naive read). Either way downstream sees µs-precision
    * `TimestampType` with identical values on both engines. The NANOS
    * read relies on `spark.sql.legacy.parquet.nanosAsLong`, which
    * [[GraftSession]] sets (parquet has no per-read option for it). */
  def events(s: SparkSession, d: String): DataFrame = {
    normalizeTs(t(s, d, "events"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** See [[events]]. Shared with the streaming reader, which pins the
    * same batch schema. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  /** NOT widened at the loader (r12, measured): an A/B over the text
    * family showed widening here wins ~25–40% on SINGLE-PASS CPU-dense
    * consumers (q234 ×0.59, q119/q123/q128/q129/q137/q165 ×0.7–0.8) but
    * LOSES 15–40% on multi-consumer tokenizers (q103/q111/q122/q148) —
    * a repartition is not materialized, so every consumer subtree
    * re-pays the full-text shuffle write. Widen therefore stays a
    * CALL-SITE decision at the single-pass boundaries. */
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  // ---- the width policy -------------------------------------------------
  //
  // Every explicit width decision in the engine goes through the three
  // members below: the parallelism TARGET, the NARROW test and the
  // explicit-count SPREAD. `spark.graft.widen.target` therefore moves
  // every width arm at once (the bench-width and cluster-width plans of
  // the same query differ only through these calls). One fixed count
  // is not a width decision and stays literal: `Lake.compact`'s
  // file-count target.

  /** The parallelism target: `spark.graft.widen.target`, else the
    * driver-time `defaultParallelism`. Pin it for dynamic-allocation
    * clusters, where the submit-time executor count undercounts the
    * eventual width. */
  private[graft] def widthTarget(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.widen.target").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** True when `df`'s planned width is under half the [[widthTarget]] —
    * the bench-scale signal the conditional spreads and materializations
    * key off (plan metadata only, no job). At cluster width this is
    * false and every conditional keyed on it no-ops. */
  def narrowScan(df: DataFrame): Boolean = {
    val target = widthTarget(df.sparkSession)
    plannedWidth(df, target) * 2 < target
  }

  /** Repartition to [[widthTarget]] partitions: hashed on `keys`, or
    * round-robin when none are given. EXPLICIT COUNT (r12): a bare
    * `repartition(key)` is fair game for AQE partition coalescing, which
    * sizes by COMPRESSED shuffle bytes — the widened corpus re-coalesced
    * to 1–5 partitions and the CPU-dense pass it existed to spread ran
    * on 1–5 cores anyway (q51's whole winnow pass, 1.9 s on ONE task of
    * 32). `repartition(n, …)` is REPARTITION_BY_NUM — exempt from
    * coalescing — so the width this promises is the width the stage
    * actually runs at. */
  private[graft] def spread(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = widthTarget(df.sparkSession)
    if (keys.isEmpty) df.repartition(target) else df.repartition(target, keys: _*)
  }

  /** [[spread]] by `key` before a CPU-heavy fan-out (md5/explode
    * passes) — but ONLY when [[narrowScan]]. Locally a single-row-group
    * parquet file arrives as ONE partition and would pin the whole pass
    * to one core (measured 7× on the dedup trio); on a cluster the same
    * scan is already thousands of partitions wide and an unconditional
    * repartition would be a gratuitous extra shuffle. */
  def widen(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    if (narrowScan(df)) spread(df, key) else df

  /** The width `df` will run at, from the compiled physical plan's
    * leaves and WITHOUT converting to an RDD (`df.rdd` would build and
    * register the full RDD lineage per call): file bytes over
    * `spark.sql.files.maxPartitionBytes` (the scan's own split sizing),
    * a range's slices, a checkpoint's partition count. A plan that
    * already contains a shuffle is `spark.sql.shuffle.partitions` wide
    * no matter how small its leaves. */
  private def plannedWidth(df: DataFrame, target: Int): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RangeExec, RDDScanExec}
    val spark = df.sparkSession
    val plan = df.queryExecution.sparkPlan
    val hasShuffle = plan.exists {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    }
    if (hasShuffle) spark.conf.get("spark.sql.shuffle.partitions").toInt
    else {
      val maxSplit = math.max(1L,
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes")))
      plan.collect {
        case s: FileSourceScanExec =>
          math.max(1L, s.relation.location.sizeInBytes / maxSplit)
        case r: RangeExec => r.range.numSlices.getOrElse(target).toLong
        case r: RDDScanExec => r.rdd.getNumPartitions.toLong
      }.sum.min(Int.MaxValue).toInt
    }
  }
}
