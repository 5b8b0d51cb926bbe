package graft

import java.nio.file.Files

import graft.sparkify.Pipelines
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Property-style tests (seeded generators — the offline environment has
  * no scalatest-scalacheck bridge): calendar-field round-trips vs
  * java.time, dedup idempotence, partitioned write/read equality, and
  * exact-decimal aggregation vs BigDecimal ground truth.
  */
class PropertySpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private val rnd = new Random(42)

  test("time table calendar fields agree with java.time for random epochs") {
    // epoch millis across 2015-2030, including day boundaries
    val tss = Seq.fill(300)(1420070400000L + (rnd.nextDouble() * 4.7e11).toLong)
    val rows = tss.map(ts => Row(null, null, null, null, null, null, null,
      null, null, null, "Home", null, null, null, null, ts, null, "u"))
    val logs = spark.createDataFrame(rows.asJava, sparkify.Schemas.logData)
    val got = Pipelines.timeTable(logs).collect()
      .map(r => r.getLong(0) -> r).toMap
    tss.distinct.foreach { ts =>
      val t = java.time.Instant.ofEpochMilli(ts).atZone(java.time.ZoneOffset.UTC)
      val r = got(ts)
      assert(r.getInt(1) == t.getHour, s"hour for $ts")
      assert(r.getInt(2) == t.getDayOfMonth, s"day for $ts")
      assert(r.getInt(3) == t.get(java.time.temporal.WeekFields.ISO.weekOfWeekBasedYear()), s"week for $ts")
      assert(r.getInt(4) == t.getMonthValue, s"month for $ts")
      assert(r.getInt(5) == t.getYear, s"year for $ts")
      assert(r.getInt(6) == t.getDayOfWeek.getValue, s"weekday for $ts") // Monday=1
    }
  }

  test("tie-keeping top-k modes equal the window rank filters on random data") {
    import spark.implicits._
    // heavy ties by construction: ord drawn from only 6 values over 40
    // keys × ~30 rows, so boundary ties occur in almost every group
    val rows = Seq.fill(1200)(
      (rnd.nextInt(40).toLong, rnd.nextInt(6).toLong, rnd.nextLong()))
    val df = rows.toDF("key", "ord", "id").repartition(9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ord").desc)
    for (k <- Seq(1, 2, 3)) {
      val wantRank = df.withColumn("r", rank().over(w))
        .filter(col("r") <= k).select("key", "ord", "id")
      val gotRank = plans.TopKPerKey.perKey(df, Seq("key"),
        Seq("ord" -> true), k, plans.TopKPerKey.RankTies)
        .select("key", "ord", "id")
      assert(gotRank.exceptAll(wantRank).isEmpty
        && wantRank.exceptAll(gotRank).isEmpty, s"rank k=$k diverged")
      val wantDense = df.withColumn("r", dense_rank().over(w))
        .filter(col("r") <= k).select("key", "ord", "id")
      val gotDense = plans.TopKPerKey.perKey(df, Seq("key"),
        Seq("ord" -> true), k, plans.TopKPerKey.DenseTies)
        .select("key", "ord", "id")
      assert(gotDense.exceptAll(wantDense).isEmpty
        && wantDense.exceptAll(gotDense).isEmpty, s"dense k=$k diverged")
    }
  }

  test("streaming CDC upsert equals the batch fold on random change feeds") {
    import spark.implicits._
    // random feed over 12 keys with out-of-order/stale sequence numbers
    // and random deletes, delivered as 4 files; (k, seq) is unique — a
    // replication log never assigns one offset twice, and an in-trigger
    // seq tie would be a nondeterministic apply order by construction
    val changes = Seq.fill(120) {
      (rnd.nextInt(12).toLong, rnd.nextInt(40).toLong,
        Seq("I", "U", "D")(rnd.nextInt(3)),
        "p" + rnd.nextInt(100))
    }.groupBy(c => (c._1, c._2)).map(_._2.head).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("supsert_prop").toString
    val src = s"$tmp/src"
    changes.grouped((changes.size + 3) / 4).foreach { rows =>
      rows.toDF("k", "seq", "op", "payload").coalesce(1)
        .write.mode("append").parquet(src)
      Thread.sleep(5)
    }
    val emitted = streaming.StreamingOps.runToMemory(spark,
      streaming.StreamingOps.upsertStream(spark, src), "upsert_prop", "update")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) null else r.getString(3)))
    val view = emitted.groupBy(_._1).map { case (_, es) => es.maxBy(_._2) }
      .filterNot(_._3).map(e => e._1 -> e._4).toMap
    // batch fold: the max-seq change wins outright (seqs unique per key)
    val ref = changes.groupBy(_._1).flatMap { case (k, cs) =>
      val last = cs.maxBy(_._2)
      if (last._3 == "D") None else Some(k -> last._4)
    }
    assert(view == ref, s"view=$view ref=$ref")
  }

  test("distinct is idempotent and order-insensitive") {
    import spark.implicits._
    val xs = Seq.fill(500)(rnd.nextInt(50)).toDF("x")
    val once = xs.distinct()
    assert(once.distinct().count() == once.count())
    val shuffled = xs.repartition(7).distinct()
    assert(shuffled.collect().map(_.getInt(0)).sorted.toSeq ==
      once.collect().map(_.getInt(0)).sorted.toSeq)
  }

  test("partitioned write then read returns exactly the input rows") {
    import spark.implicits._
    val df = Seq.tabulate(200)(i =>
      (i.toLong, 2018 + rnd.nextInt(3), 1 + rnd.nextInt(12), rnd.nextDouble()))
      .toDF("id", "year", "month", "v")
    val dir = Files.createTempDirectory("pw").toFile.getAbsolutePath
    graft.sources.Lake.writePartitioned(df, s"$dir/t", Seq("year", "month"))
    val back = spark.read.parquet(s"$dir/t")
      .select("id", "year", "month", "v")
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("Exact.dsum matches BigDecimal ground truth at any partitioning") {
    import spark.implicits._
    val vals = Seq.fill(2000)(BigDecimal(rnd.nextInt(20000000)) / 100)
    val want = vals.sum.toDouble
    for (parts <- Seq(1, 7, 32)) {
      val got = vals.map(_.toDouble).toDF("x").repartition(parts)
        .agg(functions.Exact.dsum(col("x")).as("s"))
        .head().getDouble(0)
      assert(got == want, s"parts=$parts")
    }
  }

  test("Exact.cents/lsum fast path is bit-identical to the decimal path") {
    // the per-row floor(x*100+0.5) rounding must agree with the decimal
    // HALF_UP cast on every real data row (q01's oracle depends on it)
    val li = Tables.lineitem(spark, sfDir)
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")) {
      val mism = li.filter(
        functions.Exact.cents(col(c)) =!=
          (col(c).cast(DecimalType(18, 2)) * 100).cast("long")).count()
      assert(mism == 0L, s"cents($c) diverges from decimal cast on $mism rows")
    }
    val got = li.agg(
      functions.Exact.lsum(functions.Exact.cents(col("l_extendedprice")), 2).as("l"),
      functions.Exact.dsum(col("l_extendedprice")).as("d")).head()
    assert(got.getDouble(0) == got.getDouble(1))
  }

  test("Exact.lsum split recombination is exact for signed longs") {
    import spark.implicits._
    val xs = Seq.fill(2000)(rnd.nextLong() % 1000000000L) // mixed signs
    val want = xs.sum.toDouble // |Σ| < 2^53, exactly representable
    for (parts <- Seq(1, 7, 32)) {
      val got = xs.toDF("x").repartition(parts)
        .agg(functions.Exact.lsum(col("x"), 0).as("s")).head().getDouble(0)
      assert(got == want, s"parts=$parts")
    }
  }

  test("Exact.lsumDec is exact at moment-column magnitudes past the 2-chunk bound") {
    import spark.implicits._
    // squared-cents moments at 100 TB: ~1e14 per row, Σ past 9.7e24 — the
    // regime where a 2^20 hi/lo split silently overflows its hi half. The
    // 21-bit 3-chunk split's bound is row-count-only (n < 2^42), so these
    // sums must match BigInt ground truth exactly.
    val magnitudes = Seq(1L << 46, (1L << 61) + 12345L, -(1L << 60), 99999999999999L)
    for (m <- magnitudes) {
      val xs = Seq.fill(3000)(
        (m + rnd.nextInt(1 << 20)) * (if (rnd.nextBoolean()) 1L else -1L))
      val want = xs.foldLeft(BigInt(0))(_ + _)
      val got = xs.toDF("x").repartition(13)
        .agg(functions.Exact.lsumDec(col("x")).as("s"))
        .head().getDecimal(0)
      assert(BigInt(got.toBigInteger) == want, s"magnitude=$m")
    }
  }

  test("Md5Long60 equals the conv(substr(md5)) built-in chain on real text") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("text"), explode(functions.TextFns.tokens(col("text"))).as("tok"))
    def oldHash(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val mism = docs.filter(
      functions.TextFns.hash60(col("tok")) =!= oldHash(col("tok")) ||
        functions.TextFns.hash60Seeded(3, col("tok")) =!=
          oldHash(concat(lit("3:"), col("tok"))) ||
        functions.TextFns.hash60(col("text")) =!= oldHash(col("text"))).count()
    assert(mism == 0L)
  }

  test("every codegen'd custom expression gives the same result interpreted as generated and as its kernel") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.unsafe.types.UTF8String
    import functions.{HashExprs, StringSimExprs, TextExprs, VectorExprs}
    val r = new Random(7)
    def maybe(p: Int)(v: => Any): Any = if (r.nextInt(p) == 0) null else v
    def arr(el: => Any): Any = maybe(10)(new GenericArrayData(Array.fill(r.nextInt(7))(el)))
    val edges = Seq(0.0005f, -0.0005f, 0.0015f, -0.0025f, 0f, -0f, 1e-31f)
    def float: Any = maybe(8)(
      if (r.nextBoolean()) edges(r.nextInt(edges.size)) else r.nextFloat() * 4 - 2)
    def long: Any = maybe(8)((r.nextInt(255) - 127).toLong)
    val words = Seq("a", "b", "ab", "", "é", "dup")
    def word: UTF8String = UTF8String.fromString(words(r.nextInt(words.size)))
    def tok: Any = maybe(8)(word)
    // keys drawn with replacement from six words: duplicate keys are common
    def map: Any = maybe(10) {
      val n = r.nextInt(6)
      new ArrayBasedMapData(new GenericArrayData(Array.fill[Any](n)(word)),
        new GenericArrayData(Array.fill(n)(maybe(5)((r.nextInt(100) - 50).toLong))))
    }
    val names = Seq("martha", "marhta", "dixon", "dicksonx", "", "漢字é", "jellyfish")
    def str: Any = maybe(10)(UTF8String.fromString(
      if (r.nextBoolean()) names(r.nextInt(names.size))
      else Seq.fill(r.nextInt(9))("abcé漢 ".charAt(r.nextInt(6))).mkString))
    val rows: Seq[InternalRow] = (0 until 300).map(i => new GenericInternalRow(Array[Any](
      i, arr(float), arr(float), arr(long), arr(long), arr(tok), arr(tok), map, str, str)))
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false)) ++
      Seq("fa", "fb").map(StructField(_, ArrayType(FloatType))) ++
      Seq("la", "lb").map(StructField(_, ArrayType(LongType))) ++
      Seq("ta", "tb").map(StructField(_, ArrayType(StringType))) ++
      Seq(StructField("m", MapType(StringType, LongType)),
        StructField("sa", StringType), StructField("sb", StringType)))
    val attrs = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    // through a shuffle, so the projection is planned over a real scan
    // (a Project directly on a LocalRelation is folded by the optimizer)
    val input = org.apache.spark.sql.GraftShims.ofRows(spark, LocalRelation(attrs, rows))
      .repartition(3)
    // (name, the input columns it reads, the expression, the direct kernel
    // call on those inputs when none is NULL)
    val cases: Seq[(String, Seq[Int], org.apache.spark.sql.Column, InternalRow => Any)] = Seq(
      ("quantized_dot", Seq(1, 2), VectorExprs.quantized_dot(col("fa"), col("fb")),
        x => VectorExprs.quantizedDot(x.getArray(1), x.getArray(2))),
      ("quantized_norm2", Seq(1), VectorExprs.quantized_norm2(col("fa")),
        x => VectorExprs.quantizedNorm2(x.getArray(1))),
      ("long_dot", Seq(3, 4), VectorExprs.long_dot(col("la"), col("lb")),
        x => VectorExprs.longDot(x.getArray(3), x.getArray(4))),
      ("int8_codes", Seq(1), VectorExprs.int8_codes(col("fa")),
        x => VectorExprs.int8Codes(x.getArray(1))),
      ("count_in_array", Seq(5, 6), VectorExprs.count_in_array(col("ta"), col("tb")),
        x => VectorExprs.countInArray(x.getArray(5), x.getArray(6))),
      ("map_sum_lookup", Seq(5, 7), VectorExprs.map_sum_lookup(col("ta"), col("m")),
        x => VectorExprs.mapSumLookup(x.getArray(5), x.getMap(7))),
      ("cov_pair_products", Seq(1), VectorExprs.cov_pair_products(col("fa")),
        x => VectorExprs.covPairProducts(x.getArray(1))),
      ("md5long60", Seq(8), HashExprs.md5long60(col("sa")),
        x => HashExprs.md5Long60(Array.emptyByteArray, x.getUTF8String(8))),
      ("md5long60 prefixed", Seq(8), HashExprs.md5long60(col("sa"), "7:"),
        x => HashExprs.md5Long60("7:".getBytes("UTF-8"), x.getUTF8String(8))),
      ("md5_signmask16", Seq(8), HashExprs.md5_signmask16(col("sa")),
        x => HashExprs.md5SignMask16(x.getUTF8String(8))),
      ("char_stats", Seq(8), TextExprs.char_stats(col("sa")),
        x => TextExprs.charStats(x.getUTF8String(8))),
      ("jaro_winkler", Seq(8, 9), StringSimExprs.jaro_winkler(col("sa"), col("sb")),
        x => StringSimExprs.jaroWinkler(x.getUTF8String(8), x.getUTF8String(9))))
    def norm(v: Any): Any = v match {
      case d: ArrayData => d.toLongArray().toList
      case s: scala.collection.Seq[_] => s.toList
      case o => o
    }
    val expected = rows.map(x => cases.map { case (_, ix, _, kernel) =>
      if (ix.exists(x.isNullAt)) null else norm(kernel(x)) })
    def evaluate(): (Seq[Seq[Any]], Seq[WholeStageCodegenExec]) = {
      val out = input.select(col("id") +: cases.map(_._3): _*)
      val got = out.collect().sortBy(_.getInt(0)).map(_.toSeq.tail.map(norm)).toSeq
      // the helper's collect descends into AQE query stages
      (got, new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec if w.child.isInstanceOf[ProjectExec] => w })
    }
    val (generated, stages) = evaluate()
    assert(stages.size == 1)
    // the generated source compiles: a failure would otherwise fall back
    // to interpreted evaluation silently and this comparison would prove nothing
    CodeGenerator.compile(stages.head.doCodeGen()._2)
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val (got, noStages) = evaluate()
      assert(noStages.isEmpty)
      got
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    for ((name, i) <- cases.map(_._1).zipWithIndex;
         (mode, got) <- Seq("generated" -> generated, "interpreted" -> interpreted)) {
      rows.indices.find(r => got(r)(i) != expected(r)(i)).foreach(r =>
        fail(s"$name $mode vs kernel, row $r: ${got(r)(i)} != ${expected(r)(i)}"))
    }
    // the generators reach the edges they exist for
    assert(expected.map(_(5)).count(v => v != null && v != 0L) > 20) // map lookups hit
    assert(rows.count(x => !x.isNullAt(7) && {
      val keys = x.getMap(7).keyArray()
      keys.toSeq[UTF8String](StringType).distinct.size < keys.numElements()
    }) > 20)
    assert(rows.count(x => !x.isNullAt(1) && !x.isNullAt(2) &&
      x.getArray(1).numElements() != x.getArray(2).numElements()) > 50)
  }

  test("Tables.widen repartitions narrow inputs and passes wide ones through") {
    import spark.implicits._
    // local[4] => defaultParallelism 4: a 1-partition input must widen...
    val narrow = spark.range(0, 100, 1, 1).toDF("doc_id")
    // a repartition is inserted (AQE may still coalesce tiny test data)
    val widened = Tables.widen(narrow, col("doc_id"))
    assert(widened ne narrow)
    assert(widened.queryExecution.logical.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }.nonEmpty)
    // ...and an already-wide input must come back untouched (same plan, no
    // gratuitous Exchange at cluster scale)
    val wide = spark.range(0, 100, 1, 8).toDF("doc_id")
    assert(Tables.widen(wide, col("doc_id")) eq wide)
  }

  test("spark.graft.widen.target sets every width arm; a checkpoint is as narrow as its partition count") {
    import org.apache.spark.sql.GraftShims.unpersistCheckpoint
    import org.apache.spark.sql.execution.RDDScanExec
    import spark.implicits._
    def checkpointWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.sparkPlan.collect { case r: RDDScanExec => r.rdd.getNumPartitions }
    spark.conf.set("spark.graft.widen.target", "8")
    try {
      // local[4] session, target 8: the edge checkpoints follow the target
      val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
      // maxIter = 1: the labels still read the edge checkpoint
      val cc = operators.DedupOps.connectedComponents(edges, 1)
      try assert(checkpointWidths(cc) == Seq(8))
      finally unpersistCheckpoint(cc)
      val (e0, _) = operators.GraphOps.kCoreLazy(spark, sfDir)
      try assert(checkpointWidths(e0) == Seq(8))
      finally unpersistCheckpoint(e0)
      // ...and so does the hot-key salt's (keys, _bkt) pin
      val plan = operators.Skew.hotKeyJoin(Seq((1L, "r")).toDF("k", "rv"),
        Seq((1L, 0L)).toDF("k", "bv"), xxhash64(col("bv")), Seq("k"),
        Seq(1L).toDF("k"), 7L, "inner").queryExecution.optimizedPlan
      assert(plan.exists {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.partitionExpressions.size == 2 && r.optNumPartitions.contains(8)
        case _ => false
      }, plan.toString)
      val one = spark.range(0, 100, 1, 1).toDF().localCheckpoint(true)
      val eight = spark.range(0, 100, 1, 8).toDF().localCheckpoint(true)
      try {
        assert(Tables.narrowScan(one))
        // a checkpoint is as wide as its partitions, not width 0
        spark.conf.set("spark.graft.widen.target", "4")
        assert(!Tables.narrowScan(eight))
      } finally Seq(one, eight).foreach(unpersistCheckpoint)
    } finally spark.conf.unset("spark.graft.widen.target")
  }

  test("GraftSession is one idempotent session carrying the engine config") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    val a = GraftSession(4)
    assert(a eq GraftSession(4))
    assert(a eq spark)
    assert(a.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(a.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(a.conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
    // a filtered explode of a nullable array: InferFiltersFromGenerate
    // would synthesize an isnotnull/size > 0 filter under the Generate
    def preFilters = spark.range(0, 20)
      .select(when(col("id") % 2 === 0, array(col("id"), col("id") + 1)).as("xs"))
      .select(explode(col("xs")).as("x")).filter(col("x") > 3)
      .queryExecution.optimizedPlan
      .collect { case g: Generate => g.child.collect { case f: Filter => f } }
      .flatten
    assert(preFilters.isEmpty)
    // control: the same plan with the rule back in does get one, so the
    // check above can fail
    val excluded = a.conf.get("spark.sql.optimizer.excludedRules")
    a.conf.set("spark.sql.optimizer.excludedRules", "")
    try assert(preFilters.nonEmpty)
    finally a.conf.set("spark.sql.optimizer.excludedRules", excluded)

    // GraftExtensions is installed at build time: all 15 SQL functions
    // resolve from SQL text with no registration call
    val f = "array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT))"
    val sqlFns = a.sql(
      s"""SELECT quantized_dot($f, $f), quantized_norm2($f),
         |  long_dot(array(1L, 2L), array(3L, 4L)), int8_codes($f),
         |  count_in_array(array('a', 'b'), array('b')),
         |  jaro_winkler('martha', 'marhta'), md5long60('abc'),
         |  md5_signmask16('abc'), gram3_hash64(array('a', 'b', 'c')),
         |  gramk_hash64(array('a', 'b', 'c'), 2),
         |  gramk_hash128(array('a', 'b', 'c'), 2), cov_pair_products($f),
         |  map_sum_lookup(array('x'), map('x', 5L)),
         |  winnow_fingerprints('abcdefghijklmnopqrstuvwxyz'),
         |  char_stats('hello')""".stripMargin)
    assert(sqlFns.columns.length == 15)
    assert(sqlFns.collect().length == 1)
    // a q10-shaped rank filter compiles to the two-phase heap top-k, and
    // Spark's WindowGroupLimit over it plans away
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val topK = initialPlan(Tables.orders(a, sfDir)
      .withColumn("rn", row_number().over(byKey)).filter(col("rn") <= 3))
    assert("TopKPerKey".r.findAllIn(topK).size == 2, topK)
    assert(!topK.contains("WindowGroupLimit"), topK)
    // a naive global row_number() compiles to the range-exchange operator
    val global = initialPlan(Tables.orders(a, sfDir).withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("o_totalprice").desc, col("o_orderkey")))))
    assert(global.contains("GlobalRank"), global)
  }

  test("perKey and withPosition name the fix on a session without the extensions") {
    val plain = org.apache.spark.sql.GraftShims.plainSession(spark)
    val df = plain.range(10).toDF("id")
    val errs = Seq(
      intercept[IllegalStateException](
        plans.TopKPerKey.perKey(df, Seq("id"), Seq("id" -> false), 1)),
      intercept[IllegalStateException](
        plans.GlobalRank.withPosition(df, Seq("id" -> false))))
    errs.foreach { e =>
      assert(e.getMessage.contains("graft.GraftSession"), e.getMessage)
      assert(e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"),
        e.getMessage)
    }
    // the same calls plan on the engine's session
    assert(plans.TopKPerKey.perKey(spark.range(10).toDF("id"), Seq("id"),
      Seq("id" -> false), 1).count() == 10L)
  }

  test("salted join equals plain join") {
    val e = Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    val dim = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    val plain = e.join(dim, Seq("user_id"))
    val salted = operators.Skew.saltedJoin(e, dim, "user_id", 8)
      .select(plain.columns.map(col).toIndexedSeq: _*)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted join is salt-count invariant (pinned 3, pinned 8, parallelism default)") {
    // replication meets every match exactly once regardless of n, so the
    // declared q94 (pinned 8 for a stable oracle plan) and a production
    // call on the parallelism-sized default must agree row-for-row
    val e = Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    val dim = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    val at8 = operators.Skew.saltedJoin(e, dim, "user_id", 8)
    val at3 = operators.Skew.saltedJoin(e, dim, "user_id", 3)
      .select(at8.columns.map(col).toIndexedSeq: _*)
    val auto = operators.Skew.saltedJoin(e, dim, "user_id")
      .select(at8.columns.map(col).toIndexedSeq: _*)
    assert(at3.exceptAll(at8).isEmpty && at8.exceptAll(at3).isEmpty)
    assert(auto.exceptAll(at8).isEmpty && at8.exceptAll(auto).isEmpty)
  }

  test("hot-key join equals the plain join for B in {1, 3, 7, 64}, both cold join types, empty roster, NULL keys") {
    import spark.implicits._
    // key 1 is hot (40 x 30 pairs); keys 2 and 4 are cold, key 3 and
    // key 5 miss the bucketed side (left-join fallbacks), and NULL keys
    // sit on both sides (kept by `left`, dropped by `inner`)
    val rep = ((0 until 40).map(i => (Option(1L), s"r$i")) ++ Seq(
      (Option(2L), "a"), (Option(3L), "b"), (Option(5L), "c"),
      (None: Option[Long], "n"))).toDF("k", "rv")
    val buck = ((0 until 30).map(i => (Option(1L), i.toLong)) ++ Seq(
      (Option(2L), 100L), (Option(2L), 101L), (Option(4L), 102L),
      (None: Option[Long], 103L))).toDF("k", "bv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "rv", "bv").collect().map(_.toString).toSeq.sorted
    val hot = Seq(1L).toDF("k")
    for (jt <- Seq("inner", "left"); roster <- Seq(hot, hot.filter(lit(false)));
         b <- Seq(1L, 3L, 7L, 64L)) {
      val got = operators.Skew.hotKeyJoin(rep, buck, xxhash64(col("bv")),
        Seq("k"), roster, b, jt)
      assert(rows(got) == rows(rep.join(buck, Seq("k"), jt)),
        s"$jt join, B = $b, ${roster.count()} hot keys")
    }
    // the one salt policy is planned: bucket explode, width pin sized
    // from the cluster, shuffle_hash on the bucketed side
    val plan = operators.Skew.hotKeyJoin(rep, buck, xxhash64(col("bv")),
      Seq("k"), hot, 7L, "inner").queryExecution.optimizedPlan
    assert(plan.toString.contains("Generate explode") &&
      plan.toString.contains("shuffle_hash"), plan.toString)
    assert(plan.exists {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.partitionExpressions.size == 2 &&
          r.optNumPartitions.contains(spark.sparkContext.defaultParallelism)
      case _ => false
    }, "no (key, bucket) width pin")
    // fanJoin over random skewed key distributions (key i drawn with
    // weight 2^-i, NULL keys on both sides), bars one below, at and one
    // above the probed max fan: the plain join's multiset every time,
    // and the salted arm — its hot roster is a checkpoint, the only
    // LogicalRDD leaf these local frames can plan — iff maxFan > bar
    def hasRoster(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val rnd = new scala.util.Random(15)
    def key(nKeys: Int): Option[Long] =
      if (rnd.nextInt(10) == 0) None
      else Some((0 until nKeys).find(_ => rnd.nextBoolean()).getOrElse(nKeys).toLong)
    for (trial <- 0 until 6) {
      val nKeys = 1 + rnd.nextInt(5)
      val b = (0 until 5 + rnd.nextInt(40)).map(i => (key(nKeys), i.toLong))
        .toDF("k", "bv")
      val r = (0 until 5 + rnd.nextInt(40)).map(i => (key(nKeys), s"r$i"))
        .toDF("k", "rv")
      val counts = b.groupBy("k").agg(count(lit(1)).as("nb"))
        .join(r.groupBy("k").agg(count(lit(1)).as("nr")), Seq("k"))
      val maxFan = operators.Skew.maxFan("fan_join_spec", counts, "nb", "nr").toLong
      for (bar <- Seq(maxFan - 1, maxFan, maxFan + 1)) {
        val got = operators.Skew.fanJoin(b, r, xxhash64(col("bv")), Seq("k"),
          counts, "nb", "nr", "fan_join_spec", bar)
        assert(rows(got) == rows(b.join(r, Seq("k"))),
          s"trial $trial, max fan $maxFan, bar $bar")
        assert(hasRoster(got) == maxFan > bar,
          s"trial $trial, max fan $maxFan, bar $bar: wrong arm")
      }
    }
  }

  test("stateful streaming running counts end at the batch totals") {
    val stream = streaming.StreamingOps.eventsStream(spark, sfDir)
    val got = streaming.StreamingOps.runToMemory(spark,
      streaming.StreamingOps.runningUserCounts(spark, stream), "running_counts")
    // last update per user == total events for that user
    val finalCounts = got.groupBy("user_id").agg(max("n_events").as("n_events"))
    val want = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    assert(finalCounts.exceptAll(want).isEmpty && want.exceptAll(finalCounts).isEmpty)
  }

  test("QueryTrace windows count exactly; every tool name resolves through one lookup") {
    val n = 3
    val collects = QueryTrace.during(spark)(
      (1 to n).foreach(_ => spark.range(0, 10).collect()))
    assert(collects.jobs == n)
    val k = 5
    val w = QueryTrace.during(spark)(QueryTrace.force(spark.range(0, 1000, 1, k).toDF()))
    assert(w.jobs == 1 && w.tasks.size == k && w.stages.map(_.tasks).sum == k)
    assert(w.peakBytes >= 0 && w.spillBytes >= 0)
    // the one timing loop: a warm call per build, then the passes
    // interleaved in build order; a throwing build records None per
    // pass while the others keep running
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    def build(label: String, fails: Boolean): () => org.apache.spark.sql.DataFrame = () => {
      calls += label
      if (fails) sys.error(s"$label throws")
      spark.range(0, 10).toDF()
    }
    val runs = QueryTrace.interleaved(spark,
      Seq("a" -> build("a", false), "b" -> build("b", true), "c" -> build("c", false)), 2)
    assert(calls.toSeq == Seq("a", "b", "c", "a", "b", "c", "a", "b", "c"))
    assert(runs.map(_._1) == Seq("a", "b", "c"))
    val byLabel = runs.toMap
    assert(byLabel("b") == Seq(None, None))
    assert(Seq("a", "c").forall(l => byLabel(l).size == 2 && byLabel(l).forall(_.exists(_.jobs == 1))))
    assert(QueryTrace.summary(byLabel("b")).isEmpty)
    assert(QueryTrace.summary(byLabel("a")).exists(m => m.jobs == 1.0 && m.secs.size == 2))
    val names = PerfAB.variants.keys ++ ScaleRegression.chain ++ ScaleRegression.zipfChain
    val unresolved = names.filter(nm => scala.util.Try(QueryTrace.lookup(nm)).isFailure)
    assert(unresolved.isEmpty, s"unresolved tool names: $unresolved")
    // lookup takes declared queries first: a variant under a declared
    // name would be silently unreachable
    val shadowed = PerfAB.variants.keySet intersect SparkEntry.queries.keySet
    assert(shadowed.isEmpty, s"PerfAB keys shadow declared queries: $shadowed")
  }
}
