package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.sources.Lake
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-trip specs for the generic lake IO surface: schema-pinned
  * JSON/CSV readers and plain/partitioned parquet + CSV writers. */
class LakeSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("JSON and CSV reads apply the pinned schema; writes round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("lake").toFile.getAbsolutePath
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "score")

    // json
    Files.write(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id":1,"name":"a","score":1.5}
        |{"id":2,"name":"b","score":2.5}
        |{"id":3,"name":"c","score":3.5}""".stripMargin.getBytes)
    val fromJson = Lake.readJson(spark, dir, schema)
    assert(fromJson.schema == schema)
    assert(fromJson.exceptAll(df).isEmpty && df.exceptAll(fromJson).isEmpty)

    // csv (writer then reader)
    Lake.writeCsv(df, s"$dir/csv")
    val fromCsv = Lake.readCsv(spark, s"$dir/csv", schema)
    assert(fromCsv.schema == schema)
    assert(fromCsv.exceptAll(df).isEmpty && df.exceptAll(fromCsv).isEmpty)

    // plain + partitioned parquet
    Lake.writePlain(df, s"$dir/plain")
    assert(Lake.readParquet(spark, s"$dir/plain").count() == 3)
    Lake.writePartitioned(df.withColumn("part", col("id") % 2), s"$dir/part", Seq("part"))
    assert(new java.io.File(s"$dir/part/part=1").isDirectory)
    assert(Lake.readParquet(spark, s"$dir/part").count() == 3)
  }

  test("ORC write/read round-trips exactly (types and values)") {
    val dir = java.nio.file.Files.createTempDirectory("orc").toString
    val df = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    sources.Lake.writeOrc(df, s"$dir/orders_orc")
    val back = sources.Lake.readOrc(spark, s"$dir/orders_orc")
    assert(back.schema == df.schema)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("corpusgen DSv2 source: exact row count, declared width, deterministic") {
    import org.apache.spark.sql.functions._
    def read(parts: Int) = spark.read.format("corpusgen")
      .option("rows", "5000").option("partitions", parts.toString)
      .option("seed", "7").load()
    val a = read(8)
    assert(a.count() == 5000L)
    assert(a.rdd.getNumPartitions == 8)
    assert(a.select(countDistinct(col("doc_id"))).head().getLong(0) == 5000L)
    // content is a pure function of (doc_id, seed): partitioning-invariant
    val b = read(3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // different seed -> different corpus
    val c = spark.read.format("corpusgen").option("rows", "5000")
      .option("partitions", "8").option("seed", "8").load()
    assert(a.join(c, Seq("doc_id"))
      .filter(a("text") === c("text")).count() < 50)
    // and the curation operators compose directly over it
    val chunks = operators.CurationOps.chunkTokens(read(8))
    assert(chunks.count() >= 5000L)
    // column pruning reaches the source: an id-only scan never plans text
    val pruned = a.select("doc_id")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.output.map(_.name) == Seq("doc_id")),
      pruned.queryExecution.executedPlan.toString)
    // doc_id range filters push into the generator: out-of-range rows are
    // never produced (scan output-rows metric == selected rows)
    val ranged = read(8).filter(col("doc_id") >= 4900 && col("doc_id") < 4950)
    assert(ranged.collect().length == 50)
    // metrics of the SAME execution: the scan must have produced exactly
    // the selected rows, i.e. the range reached the generator
    val scan = ranged.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.metrics("numOutputRows").value == 50L,
      s"generator produced ${scan.metrics("numOutputRows").value} rows")
  }

  test("compact rewrites many small files into few, preserving every row") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = spark.range(0, 1000).toDF("id")
    df.repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
    val stats = sources.Lake.compact(spark, dir, maxRecordsPerFile = 500L)
    assert(stats.filesBefore >= 40 && stats.filesAfter <= 4,
      s"${stats.filesBefore} -> ${stats.filesAfter}")
    // byte counts come from the Hadoop FileSystem listing and must agree
    // with what's physically on disk (the java.io.File ground truth here)
    def diskBytes = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    }
    assert(stats.bytesAfter == diskBytes && stats.bytesAfter > 0,
      s"${stats.bytesAfter} vs $diskBytes")
    assert(stats.bytesBefore > stats.bytesAfter, // 40 footers vs 2
      s"${stats.bytesBefore} !> ${stats.bytesAfter}")
    val after = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
    assert(after.toSeq == before.toSeq)
  }

  test("readJsonQuarantine routes malformed lines to _corrupt_record") {
    val dir = Files.createTempDirectory("jsonq").toFile
    val f = new java.io.File(dir, "data.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"id": 1, "name": "ok", "score": 1.0}""")
    w.println("""{"id": 2, "name": "also ok", "score": 2.0}""")
    w.println("""{"id": 3, "name": BROKEN""")
    w.close()
    val df = Lake.readJsonQuarantine(spark, f.getAbsolutePath, schema)
      .cache() // corrupt-record column requires referencing the raw row
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2 && bad.count() == 1)
    assert(good.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(bad.head().getAs[String]("_corrupt_record").contains("BROKEN"))
    df.unpersist()
  }

  test("readParquetMerged unions evolved schemas, nulling missing columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("merge").toFile.getAbsolutePath
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/t")
    Seq((2L, "b", 9L)).toDF("id", "v1", "v2")
      .write.mode("append").parquet(s"$dir/t")
    val df = Lake.readParquetMerged(spark, s"$dir/t")
    assert(df.columns.toSet == Set("id", "v1", "v2"))
    assert(df.count() == 2)
    assert(df.filter(col("id") === 1L).head()
      .isNullAt(df.columns.indexOf("v2")))
  }

  test("writeClustered produces hive layout with rows sorted inside files") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = Seq.tabulate(1000)(i => (rnd.nextInt(3), rnd.nextLong(), i.toLong))
      .toDF("part", "key", "payload")
    val dir = Files.createTempDirectory("clustered").toFile.getAbsolutePath
    Lake.writeClustered(df, s"$dir/t", Seq("part"), Seq("key"))
    assert(new java.io.File(s"$dir/t").listFiles()
      .exists(_.getName.startsWith("part=")))
    // parquet preserves row order within a file: reading one file back,
    // the key column must be non-decreasing
    val files = new java.io.File(s"$dir/t").listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { pf =>
      val keys = spark.read.parquet(pf.getAbsolutePath)
        .select("key").collect().map(_.getLong(0))
      assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
        s"unsorted file ${pf.getName}")
    }
    assert(spark.read.parquet(s"$dir/t").count() == 1000L)
  }

  test("versioned snapshots: time travel through manifests, torn writes invisible") {
    import spark.implicits._
    val root = Files.createTempDirectory("tt").toFile.getAbsolutePath + "/t"
    val v1data = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v2data = Seq((1L, "a2"), (3L, "c")).toDF("id", "v")
    assert(Lake.writeVersion(v1data, root) == 1L)
    assert(Lake.writeVersion(v2data, root) == 2L)
    assert(Lake.versions(spark, root) == Seq(1L, 2L))
    // latest = v2; explicit = v1 — old snapshot untouched by the new write
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(Lake.readVersion(spark, root)) == Set((1L, "a2"), (3L, "c")))
    assert(rows(Lake.readVersion(spark, root, 1L)) == Set((1L, "a"), (2L, "b")))
    // torn write: data directory exists but no manifest — invisible
    Seq((9L, "x")).toDF("id", "v").write.parquet(s"$root/v=3")
    assert(Lake.versions(spark, root) == Seq(1L, 2L))
    assert(rows(Lake.readVersion(spark, root)) == Set((1L, "a2"), (3L, "c")))
    intercept[IllegalArgumentException](Lake.readVersion(spark, root, 3L))
    // the NEXT commit must not collide with the torn directory... it does
    // land as v=3's manifest only after a fresh data write there
    val v4 = Lake.writeVersion(Seq((4L, "d")).toDF("id", "v"), root)
    assert(v4 == 3L)
    assert(rows(Lake.readVersion(spark, root)) == Set((4L, "d")))
  }

  test("snapshotDiff over two committed versions reports exactly the churn") {
    import spark.implicits._
    val root = Files.createTempDirectory("ttdiff").toFile.getAbsolutePath + "/t"
    Lake.writeVersion(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "seg", "bal"), root)
    Lake.writeVersion(Seq((1L, "a", 1.0), (2L, "b", 9.0), (4L, "d", 4.0))
      .toDF("id", "seg", "bal"), root)
    val got = graft.operators.MiscOps.snapshotDiff(
      Lake.readVersion(spark, root, 1L), Lake.readVersion(spark, root, 2L),
      "id", Seq("seg", "bal"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 4L -> "added"), got)
  }

  test("deletion vectors: merge-on-read hides keys, re-delete is idempotent, compaction folds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = Files.createTempDirectory("dv").toFile.getAbsolutePath + "/t"
    (1L to 100L).map(i => (i, s"row$i")).toDF("id", "v")
      .coalesce(2).write.parquet(path)
    Lake.deleteWhere(spark, path, "id", col("id") % 10 === 0)
    val afterDv = Lake.readWithDeletes(spark, path, "id")
    assert(afterDv.count() == 90)
    assert(afterDv.filter(col("id") % 10 === 0).count() == 0)
    // the data files were NOT rewritten: the raw table still has 100 rows
    assert(spark.read.parquet(path).count() == 100)
    // re-applying the same delete (a retried job) changes nothing
    Lake.deleteWhere(spark, path, "id", col("id") % 10 === 0)
    assert(Lake.readWithDeletes(spark, path, "id").count() == 90)
    // a second, overlapping delete composes
    Lake.deleteWhere(spark, path, "id", col("id") <= 5)
    assert(Lake.readWithDeletes(spark, path, "id").count() == 85)
    // compaction folds the vector in: plain readers now see the deletes
    assert(Lake.compactDeletes(spark, path, "id") == 85)
    assert(spark.read.parquet(path).count() == 85)
    assert(Lake.readWithDeletes(spark, path, "id").count() == 85)
  }

  test("file-skipping manifest prunes most files on a narrow range, exactly") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("skip").toFile.getAbsolutePath + "/t"
    val orders = graft.Tables.orders(spark, sfDir)
    Lake.writeWithStats(orders, path, "o_orderkey", numFiles = 8)
    val keys = orders.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (loAll, hiAll) = (keys.getLong(0), keys.getLong(1))
    // a narrow slice near the low end: only ~1 of 8 range files overlaps
    val hi = loAll + (hiAll - loAll) / 10
    val (files, total) = Lake.skippingFiles(spark, path, loAll, hi)
    assert(total == 8, s"expected 8 data files, manifest has $total")
    assert(files.nonEmpty && files.size <= 2, s"${files.size} of $total")
    // pruned read ≡ full-scan filter
    val got = Lake.readSkipping(spark, path, "o_orderkey", loAll, hi)
    val want = spark.read.parquet(path)
      .filter(col("o_orderkey").between(loAll, hi))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0)
    // an out-of-range probe schedules zero files and returns empty
    val (none, _) = Lake.skippingFiles(spark, path, hiAll + 1, hiAll + 100)
    assert(none.isEmpty)
    assert(Lake.readSkipping(spark, path, "o_orderkey",
      hiAll + 1, hiAll + 100).count() == 0)
  }

  test("z-order layout prunes on the SECOND column where linear sort cannot") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("zord").toFile.getAbsolutePath
    val li = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val s = li.agg(min("l_partkey"), max("l_partkey")).collect()(0)
    val (pLo, pHi) = (s.getLong(0), s.getLong(1))
    // a ±2% box on l_partkey only (l_orderkey unconstrained), centered
    // at 3/8 of the range — inside a z-quartile, not on its boundary
    val w = math.max((pHi - pLo) / 25, 1L)
    val mid = pLo + (pHi - pLo) * 3 / 8
    val (bLo, bHi) = (mid - w / 2, mid + w / 2)
    // linear layout: range-partitioned by l_orderkey — partkey is
    // uncorrelated, so EVERY file's partkey range covers the probe
    Lake.writeWithStats(li, s"$tmp/lin", "l_orderkey", numFiles = 8)
    val linCand = spark.read.parquet(s"$tmp/lin")
      .groupBy(input_file_name().as("f"))
      .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"))
      .collect().count(r => r.getLong(2) >= bLo && r.getLong(1) <= bHi)
    // z-order layout: every file is a bounded (orderkey, partkey) box
    Lake.writeZOrdered(li, s"$tmp/z", "l_orderkey", "l_partkey", numFiles = 8)
    val (zFiles, zTotal) = Lake.boxSkippingFiles(spark, s"$tmp/z",
      Long.MinValue, Long.MaxValue, bLo, bHi)
    assert(zTotal == 8, s"manifest has $zTotal files")
    assert(zFiles.size < linCand,
      s"z-order scheduled ${zFiles.size} files, linear $linCand")
    assert(zFiles.size <= 4, s"${zFiles.size} of $zTotal")
    // pruned read ≡ full-scan filter, exactly
    val got = Lake.readBoxSkipping(spark, s"$tmp/z", "l_orderkey",
      "l_partkey", Long.MinValue, Long.MaxValue, bLo, bHi)
    val want = spark.read.parquet(s"$tmp/z")
      .filter(col("l_partkey").between(bLo, bHi))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() > 0 && got.count() == want.count())
  }

  test("concurrently overlaps actions, keeps argument order and waits out failures") {
    // all three actions are in flight at once: each waits for the others
    val started = new CountDownLatch(3)
    val ordered = Lake.concurrently(spark)((1 to 3).map { i => () =>
      started.countDown()
      assert(started.await(60, TimeUnit.SECONDS))
      Thread.sleep(100L * (3 - i)) // the first action finishes last
      spark.range(i * 10).count()
    }: _*)
    assert(ordered == Seq(10L, 20L, 30L))

    // a failure surfaces as thrown, only after the slower sibling is done
    val siblingDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Lake.concurrently(spark)(
        () => throw new IllegalStateException("staging failed"),
        () => { Thread.sleep(500); siblingDone.set(true) })
    }
    assert(err.getMessage == "staging failed")
    assert(siblingDone.get)

    // the caller's local properties and session travel; its SQL execution
    // id does not, so each action's queries are top-level executions
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.label", "phase-2")
    sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, "4242")
    sc.setLocalProperty(SQLExecution.EXECUTION_ROOT_ID_KEY, "4242")
    try {
      val Seq((label, execId, rootId, active)) = Lake.concurrently(spark)(() =>
        (sc.getLocalProperty("graft.test.label"),
          sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
          sc.getLocalProperty(SQLExecution.EXECUTION_ROOT_ID_KEY),
          org.apache.spark.sql.SparkSession.active))
      assert(label == "phase-2")
      assert(execId == null && rootId == null)
      assert(active eq spark)
    } finally {
      Seq("graft.test.label", SQLExecution.EXECUTION_ID_KEY,
        SQLExecution.EXECUTION_ROOT_ID_KEY).foreach(sc.setLocalProperty(_, null))
    }
  }
}
