package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._
import scala.util.Random

/** The GlobalRank physical operator: distributed global rank / running
  * sum with a declared range distribution — correctness against window
  * references, plan shape (range exchange, no single-task window), and
  * equality with the RDD-level machinery it formalizes (q90).
  */
class GlobalRankSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new Random(7)

  /** A sibling session built without the extensions: the built-in,
    * unrewritten reference for the window cases. */
  private lazy val plain =
    org.apache.spark.sql.GraftShims.plainSession(spark)

  test("pos equals the single-partition row_number reference on random data") {
    val df = Seq.fill(500)((rnd.nextInt(1000).toLong, rnd.nextLong()))
      .toDF("k", "v").repartition(7)
    val got = plans.GlobalRank.withPosition(df, Seq("k" -> false, "v" -> false))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = Window.orderBy(col("k"), col("v"))
    val want = plain.createDataFrame(df.collect().toSeq.asJava, df.schema)
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("group reset and running sum equal their window references") {
    val df = Seq.fill(400)((rnd.nextInt(5).toLong, rnd.nextInt(100).toLong,
      rnd.nextInt(20).toLong)).toDF("g", "k", "w")
      .distinct().repartition(6)
    val got = plans.GlobalRank.withPosition(df,
      order = Seq("k" -> false), group = Seq("g"), sumCol = Some("w"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    val win = Window.partitionBy(col("g")).orderBy(col("k"), col("w"))
    val want = df
      .withColumn("pos", row_number().over(win).cast("long") - 1)
      .withColumn("cum", sum(col("w")).over(win))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == want)
  }

  test("descending order and duplicate order keys still produce a dense 0..n-1 pos") {
    val df = Seq.fill(300)((rnd.nextInt(10).toLong, rnd.nextInt(4).toLong))
      .toDF("a", "b").repartition(5)
    val got = plans.GlobalRank.withPosition(df,
      Seq("a" -> true, "b" -> false)).collect()
    assert(got.map(_.getLong(2)).sorted.toSeq == (0L until got.length.toLong))
    // pos order agrees with (a desc, b asc) up to tie permutation: the
    // (a, b) sequence read in pos order must be sorted under that order
    val inPos = got.sortBy(_.getLong(2)).map(r => (-r.getLong(0), r.getLong(1)))
    assert(inPos.toSeq == inPos.sorted.toSeq)
  }

  test("matches the RDD-level q90 machinery exactly (same keys, same order)") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val keyed = docs.select(col("doc_id"),
      graft.functions.TextFns.hash60(concat(lit("shuf:"),
        col("doc_id").cast("string"))).as("k"))
    val viaExec = plans.GlobalRank.withPosition(keyed,
      Seq("k" -> false, "doc_id" -> false))
      .select(col("doc_id"), col("k"), col("pos"))
    val viaRdd = operators.CurationOps.q90GlobalShuffle(spark, sfDir)
    assert(viaExec.exceptAll(viaRdd).isEmpty && viaRdd.exceptAll(viaExec).isEmpty)
  }

  test("plan: range exchange feeds the exec; no Window, no single-partition funnel") {
    val df = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    val ranked = plans.GlobalRank.withPosition(df,
      Seq("n_chars" -> false, "doc_id" -> false))
    ranked.collect()
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRank"), plan)
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("extensions session: column pruning reaches the scan under the exec") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
    val ranked = plans.GlobalRank.withPosition(df,
      Seq("doc_id" -> false)).select("doc_id", "pos")
    val scans = ranked.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }.flatMap(_.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    })
    assert(scans.nonEmpty)
    assert(scans.head.schema.fieldNames.toSet == Set("doc_id"),
      scans.head.schema.fieldNames.mkString(","))
    assert(ranked.collect().length == df.count().toInt)
  }

  test("extensions session compiles a naive global row_number to the exec") {
    def frame(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("rn", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
        .select(col("doc_id"), col("rn"))
    val rewritten = frame(spark)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRank"), plan)
    assert(!plan.contains("Window"), plan) // no single-task funnel left
    // values identical to the built-in path, schema included (int rn)
    val got = rewritten.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = frame(plain).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("rank-bounded global windows are NOT rewritten (top-k path wins)") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rn") <= 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalRank"), plan)
    assert(df.collect().length == 5)
  }

  test("a rank-bounded global window over a rewritten one is still left alone") {
    // the q111 shape: the inner naive rank is rewritten first, which
    // changes the bounded window's subtree; the bound must still hold it
    // back, so Spark's own top-k limit applies instead of a full rank
    val inner = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("r1", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
    val df = inner
      .withColumn("rn", row_number().over(
        Window.orderBy(col("r1").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= 5)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case g: plans.GlobalRank.GlobalRankPlan => g }.size == 1, plan)
    assert(df.collect().map(_.getAs[Long]("rn")).sorted.toSeq == (1L to 5L))
  }

  test("a global window over a limit-bounded input stays on the built-in path") {
    val top = spark.read.parquet(s"$sfDir/documents.parquet")
      .orderBy(col("n_chars").desc, col("doc_id")).limit(50)
    val df = top.withColumn("rn", row_number().over(
      Window.orderBy(col("n_chars").desc, col("doc_id"))))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalRank"), plan)
    assert(df.collect().map(_.getInt(df.columns.indexOf("rn"))).sorted.toSeq == (1 to 50))
  }

  test("mixed global window functions stay on the built-in path") {
    val w = Window.orderBy(col("n_chars").desc, col("doc_id"))
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("rn", row_number().over(w))
      .withColumn("pr", percent_rank().over(w))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalRank"), plan)
    assert(df.count() > 0)
  }

  test("empty and single-row inputs") {
    val e = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    assert(plans.GlobalRank.withPosition(e, Seq("a" -> false)).count() == 0L)
    val one = Seq((5L, 9L)).toDF("a", "b")
    val got = plans.GlobalRank.withPosition(one, Seq("a" -> false),
      sumCol = Some("b")).collect().head
    assert(got.getLong(2) == 0L && got.getLong(3) == 9L)
  }

  test("group-cardinality breach fails loudly instead of OOMing the driver") {
    // 200 distinct groups over a tiny cap: the driver offsets map would
    // hold #partitions x #groups entries, so the guard must reject it
    // with the per-key-window re-shape in the message
    val key = "spark.graft.globalrank.maxGroupRuns"
    spark.conf.set(key, "50")
    try {
      val df = spark.range(200).selectExpr("id AS g", "id AS k")
      val e = intercept[Exception] {
        plans.GlobalRank.withPosition(df, Seq("k" -> false), group = Seq("g"))
          .count()
      }
      def root(t: Throwable): Throwable =
        if (t.getCause == null) t else root(t.getCause)
      assert(root(e).getMessage.contains("maxGroupRuns"), e.getMessage)
    } finally spark.conf.unset(key)
    // and the same shape passes under the default cap
    val ok = spark.range(200).selectExpr("id AS g", "id AS k")
    assert(plans.GlobalRank.withPosition(ok, Seq("k" -> false),
      group = Seq("g")).count() == 200L)
  }

  test("greedyCoverRounds rejects an unbounded round count") {
    val sg = Seq(("s1", 1L)).toDF("source", "g")
    intercept[IllegalArgumentException] {
      operators.TextOps.greedyCoverRounds(spark, sg, rounds = 1001)
    }
  }
}
