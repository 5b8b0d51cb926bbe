package graft

import org.apache.spark.sql.SparkSession

/** The engine's Spark session: the one place that sets its config and
  * the only code that adds anything to a session. `GraftExtensions`
  * installs the engine's planner strategies, optimizer rules and SQL
  * functions when the session is built; no query builder changes a live
  * session, so a query's plan does not depend on what ran before it.
  * Every main and the test base call it, so a setting cannot drift
  * between the benchmark, the correctness dump and the specs.
  * Idempotent — `getOrCreate` hands back the running session with the
  * runtime settings re-applied, so a main called from another program
  * (the benchmark harness runs `Verify.main`) reuses that program's
  * session. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      // AQE's coalesce floor stays at Spark's 1 MB default: a 64 kB
      // floor slowed the iterative graph queries (r12, SCALING.md)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        // InferFiltersFromGenerate re-evaluates EXPENSIVE generator
        // children (fused winnow/gram expressions) twice in synthesized
        // pre-filters that inner Generate makes redundant — measured
        // q145 4.9 -> 3.2 s at sf0.1, neutral elsewhere (SCALING.md)
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // static: applies when the session is first built
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // TIMESTAMP(NANOS) parquet columns read as LONG epoch-nanos
      // instead of failing the read (Tables.events normalizes them)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
