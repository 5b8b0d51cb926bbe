package graft.operators

import graft.Tables
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.TextFns.tokensSql

/** Typed `Dataset[T]` surface: case-class rows, compile-time-checked
  * transformations, and a custom typed [[Aggregator]] — the API tier for
  * pipelines where schema mistakes should fail at compile time, not at
  * analysis time. The physical plans are identical to the DataFrame forms
  * (Catalyst sees through the encoders for column-based operations), so
  * nothing here trades performance for safety; the spec pins the typed
  * results to the untyped q01/q19 queries.
  */
object TypedOps {

  /** Typed projection of the lineitem columns the pricing summary needs. */
  final case class LineItem(
      l_returnflag: String,
      l_linestatus: String,
      l_quantity: Double,
      l_extendedprice: Double,
      l_discount: Double)

  final case class PricingRow(
      l_returnflag: String,
      l_linestatus: String,
      sum_qty: Double,
      n: Long)

  def lineitems(s: SparkSession, dir: String): Dataset[LineItem] = {
    implicit val enc: Encoder[LineItem] = Encoders.product[LineItem]
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount")
      .as[LineItem]
  }

  /** Custom typed Aggregator: exact sum of a money field via long cents —
    * the typed twin of [[graft.functions.Exact.fsum]]. The buffer is a
    * primitive Long (exact, associative, partition-order independent);
    * the result converts once at the end. */
  final class CentsSum(get: LineItem => Double)
      extends Aggregator[LineItem, Long, Double] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: LineItem): Long =
      b + math.floor(get(a) * 100.0 + 0.5).toLong
    override def merge(b1: Long, b2: Long): Long = b1 + b2
    override def finish(r: Long): Double = r / 100.0
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Typed pricing summary: filter/groupByKey/agg with case classes and
    * the custom Aggregator — compile-time checked end to end. */
  def pricingTyped(s: SparkSession, dir: String): Dataset[PricingRow] = {
    implicit val tupleEnc: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val outEnc: Encoder[PricingRow] = Encoders.product[PricingRow]
    lineitems(s, dir)
      .filter(li => li.l_quantity > 0)
      .groupByKey(li => (li.l_returnflag, li.l_linestatus))
      .agg(
        new CentsSum(_.l_quantity).toColumn.name("sum_qty"),
        count(lit(1)).as("n").as[Long](Encoders.scalaLong))
      .map { case ((flag, status), sumQty, n) =>
        PricingRow(flag, status, sumQty, n)
      }
  }

  /** SpaceSaving heavy-hitters sketch as a typed [[Aggregator]]: a
    * capacity-bounded count map; when full, inserting a new key evicts
    * the current minimum and inherits its count (the classic
    * Metwally/Agrawal/El Abbadi scheme — over-estimates by at most the
    * evicted min, never under-counts a retained key). With capacity ≥
    * distinct keys NO eviction happens and counts are EXACT — which is
    * how q80 stays oracle-checkable while the operator itself is the
    * bounded-memory shape a 100 TB stream needs (buffer is O(capacity),
    * independent of input size; merge is associative map-union with
    * the same eviction rule).
    *
    * The buffer is a MUTABLE HashMap updated in place: the aggregator's
    * reduce runs once per input row, and a persistent-map `updated` there
    * churns ~log32(n) allocated nodes per row where the mutable table
    * writes one slot. Encoders serialize any `scala.collection.Map` to
    * Catalyst MapData identically, so the on-wire shape (partial-merge
    * shuffles) is unchanged. */
  final class SpaceSaving(capacity: Int)(implicit enc: Encoder[Map[String, Long]])
      extends Aggregator[String,
        scala.collection.mutable.HashMap[String, Long], Map[String, Long]] {
    import scala.collection.mutable
    override def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty
    private def add(b: mutable.HashMap[String, Long], k: String,
        n: Long): mutable.HashMap[String, Long] = {
      b.get(k) match {
        case Some(c) => b.update(k, c + n)
        case None if b.size < capacity => b.update(k, n)
        case None =>
          val (mk, mc) = b.minBy { case (key, c) => (c, key) }
          b.remove(mk); b.update(k, mc + n)
      }
      b
    }
    override def reduce(b: mutable.HashMap[String, Long],
        a: String): mutable.HashMap[String, Long] = add(b, a, 1L)
    override def merge(b1: mutable.HashMap[String, Long],
        b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] =
      b2.foldLeft(b1) { case (b, (k, n)) => add(b, k, n) }
    override def finish(r: mutable.HashMap[String, Long]): Map[String, Long] =
      r.toMap
    override def bufferEncoder: Encoder[mutable.HashMap[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Map[String, Long]] = enc
  }

  /** Capacity-bounded posting-list aggregate: collects value ids up to
    * `cap`+1 elements and stops growing there; groups that exceed `cap`
    * (or fall short of `minSize`) finish as EMPTY — the caller's df-cap
    * contract, evaluated WITHOUT ever materializing the hot group. The
    * aggregation buffer is O(cap) no matter how hot the key is, where
    * `collect_list` + post-filter grows an O(group) buffer first (the
    * stop-gram/boilerplate OOM shape q70 was rewritten to avoid). Merge
    * is associative: concatenate-truncate at cap+1 — a group over the cap
    * ends over the cap under any merge order, and kept (≤ cap) groups
    * retain every element, so the result is order-independent. */
  final class BoundedDocList(cap: Int, minSize: Int)
      extends Aggregator[(Long, Long),
        scala.collection.mutable.ArrayBuffer[Long], Seq[Long]] {
    import scala.collection.mutable
    override def zero: mutable.ArrayBuffer[Long] =
      mutable.ArrayBuffer.empty[Long]
    override def reduce(b: mutable.ArrayBuffer[Long],
        a: (Long, Long)): mutable.ArrayBuffer[Long] = {
      if (b.size <= cap) b += a._2
      b
    }
    override def merge(b1: mutable.ArrayBuffer[Long],
        b2: mutable.ArrayBuffer[Long]): mutable.ArrayBuffer[Long] = {
      val need = (cap + 1) - b1.size
      if (need > 0) b1 ++= b2.take(need)
      b1
    }
    override def finish(r: mutable.ArrayBuffer[Long]): Seq[Long] =
      if (r.size >= minSize && r.size <= cap) r.toSeq else Seq.empty
    override def bufferEncoder: Encoder[mutable.ArrayBuffer[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** [[BoundedDocList]] carrying a per-doc PAYLOAD long (q145: the doc's
    * total fingerprint count) through the bucket, so downstream scoring
    * needs no second corpus pass and no count join — input rows are
    * (bucket key, doc_id, payload), buckets keep at most cap+1 entries
    * and overflow/undersized buckets finish empty, exactly as
    * [[BoundedDocList]]. */
  final class BoundedDocPayloadList(cap: Int, minSize: Int)
      extends Aggregator[(Long, Long, Long),
        scala.collection.mutable.ArrayBuffer[Long], Seq[Long]] {
    import scala.collection.mutable
    // (doc_id, payload) pairs FLATTENED at stride 2: the buffer stays a
    // primitive-long array through serde — a tuple buffer boxes every
    // element and measured ~2 s slower on q145's fingerprint stream
    override def zero: mutable.ArrayBuffer[Long] =
      mutable.ArrayBuffer.empty[Long]
    override def reduce(b: mutable.ArrayBuffer[Long],
        a: (Long, Long, Long)): mutable.ArrayBuffer[Long] = {
      if (b.size <= 2 * cap) { b += a._2; b += a._3 }
      b
    }
    override def merge(b1: mutable.ArrayBuffer[Long],
        b2: mutable.ArrayBuffer[Long]): mutable.ArrayBuffer[Long] = {
      val need = 2 * (cap + 1) - b1.size
      if (need > 0) b1 ++= b2.take(need)
      b1
    }
    override def finish(r: mutable.ArrayBuffer[Long]): Seq[Long] =
      if (r.size >= 2 * minSize && r.size <= 2 * cap) r.toSeq else Seq.empty
    override def bufferEncoder: Encoder[mutable.ArrayBuffer[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Corpus-wide top-10 tokens via the SpaceSaving aggregator. Capacity
    * 256 exceeds the fixture vocabulary, so the sketch is exact here and
    * the DuckDB GROUP BY oracle matches bit-for-bit; at real scale one
    * sizes capacity ≪ distinct keys and accepts the documented error
    * bound. */
  def q80HeavyHitters(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val terms = Tables.documents(s, dir)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .select(col("term").as[String])
    terms.select(new SpaceSaving(256).toColumn.name("hh"))
      .select(explode(col("hh")).as(Seq("term", "n")))
      .orderBy(col("n").desc, col("term").asc)
      .limit(10)
  }

  val q80Sql: String =
    s"""SELECT term, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT UNNEST(${tokensSql("text")}) AS term FROM documents)
      |WHERE term <> ''
      |GROUP BY term ORDER BY n DESC, term LIMIT 10""".stripMargin

  def defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("q80_heavy_hitters", q80HeavyHitters, Some(q80Sql)))

  /** Typed twin of q19 (HAVING): object-level filter AFTER a typed agg. */
  final case class CustOrders(o_custkey: Long, n_orders: Long)

  def bigCustomersTyped(s: SparkSession, dir: String): Dataset[CustOrders] = {
    implicit val enc: Encoder[CustOrders] = Encoders.product[CustOrders]
    implicit val l: Encoder[Long] = Encoders.scalaLong
    Tables.orders(s, dir).select(col("o_custkey").as[Long](l))
      .groupByKey(identity)
      .count()
      .map { case (k, n) => CustOrders(k, n) }
      .filter(_.n_orders >= 10)
  }
}
