package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, CurrentRow, DenseRank, Descending, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, PredicateHelper, Rank, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.execution.SparkStrategy

import scala.collection.mutable

/** Per-key top-k as a first-class operator (logical node + strategy +
  * physical exec + optimizer rewrite), installed on a session by
  * [[graft.GraftExtensions]] (which [[graft.GraftSession]] sets).
  *
  * Why custom: Spark expresses "top k rows per key" as
  * `row_number().over(Window.partitionBy(key).orderBy(...)) <= k` and since
  * 3.5 prunes it with `WindowGroupLimit` — but that operator still FULLY
  * SORTS every input partition (requiredChildOrdering) on both sides of
  * the shuffle. This operator keeps a bounded k-heap per key instead and
  * runs in two phases like an aggregate — a partial pass before the
  * shuffle (at most k rows per key per input partition leave the map side)
  * and a final pass after clustering by key. At 100 TB with small k this
  * replaces two O(n log n) sorts of the fact table with one O(n log k)
  * streaming pass, and the shuffle carries only ~k·|keys| rows.
  *
  * [[TopKRewrite]] makes SQL/DataFrame users get this for free: it
  * matches the `Filter(rank <= k, Window(...))` shape of a rank-bounded
  * window and slides [[TopKPerKeyPlan]] under the Window when every
  * key/order expression resolves against the child — otherwise the plan
  * is left to Spark's built-in `WindowGroupLimit` untouched.
  */
object TopKPerKey {

  /** How the k-boundary treats ties in the order key. `RowNum` cuts
    * strictly at k rows; `RankTies` keeps every row whose competition
    * rank ≤ k (all boundary ties); `DenseTies` keeps the first k DISTINCT
    * order-key tiers. The tie modes are still bounded: state is at most
    * the (data-inherent) filter output plus one tier. */
  sealed trait RankMode extends Serializable
  case object RowNum extends RankMode
  case object RankTies extends RankMode
  case object DenseTies extends RankMode

  /** The rank-like window function a mode prunes for, if supported. */
  def modeOf(fn: Expression): Option[RankMode] = fn match {
    case RowNumber() => Some(RowNum)
    case _: Rank => Some(RankTies)
    case _: DenseRank => Some(DenseTies)
    case _ => None
  }

  case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder],
      k: Int, child: LogicalPlan, mode: RankMode = RowNum) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyPlan =
      copy(child = c)
  }

  case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
      k: Int, partial: Boolean, child: SparkPlan,
      mode: RankMode = RowNum) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def requiredChildDistribution: Seq[Distribution] =
      if (partial) Seq(UnspecifiedDistribution)
      else Seq(ClusteredDistribution(keys))

    // rows come out in the child's partitioning (the heap pass is
    // per-partition, 1:1) — without this override the default
    // UnknownPartitioning would make EnsureRequirements insert a redundant
    // second Exchange for any downstream key-clustered operator (e.g. the
    // Window that TopKRewrite leaves above this node)
    override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
      child.outputPartitioning

    override lazy val metrics: Map[String, SQLMetric] = Map(
      "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "numKeys" -> SQLMetrics.createMetric(sparkContext, "number of distinct keys"))

    override protected def doExecute(): RDD[InternalRow] = {
      val orderExprs = order
      val keyExprs = keys
      val childOutput = child.output
      val limit = k
      val inRows = longMetric("numInputRows")
      val outRows = longMetric("numOutputRows")
      val nKeys = longMetric("numKeys")
      val rankMode = mode
      child.execute().mapPartitions({ iter =>
        val ordering = GenerateOrdering.generate(orderExprs, childOutput)
        val keyProj = UnsafeProjection.create(keyExprs, childOutput)
        rankMode match {
          case RowNum =>
            // max-heap under `ordering`: the worst retained row sits on top
            val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
            iter.foreach { row =>
              inRows += 1
              val key = keyProj(row)
              val heap = heaps.get(key) match {
                case Some(h) => h
                case None =>
                  val h = mutable.PriorityQueue.empty[UnsafeRow](
                    ordering.asInstanceOf[Ordering[InternalRow]]
                      .asInstanceOf[Ordering[UnsafeRow]])
                  heaps.put(key.copy(), h)
                  h
              }
              if (heap.size < limit) {
                heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
              } else if (ordering.compare(row, heap.head) < 0) {
                heap.dequeue()
                heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
              }
            }
            nKeys += heaps.size
            heaps.valuesIterator.flatMap { h => outRows += h.size; h.iterator }

          case _ =>
            // tie-keeping modes: rows grouped into order-key TIERS in a
            // TreeMap; eviction only ever drops a whole trailing tier, so
            // boundary ties survive. RankTies invariant: rows strictly
            // preceding the last tier < k (else that tier's rank > k);
            // DenseTies invariant: at most k tiers. State is bounded by
            // the filter's own output plus one tier.
            final class Tiers {
              val map = new java.util.TreeMap[UnsafeRow, mutable.ArrayBuffer[UnsafeRow]](
                ordering.asInstanceOf[Ordering[InternalRow]]
                  .asInstanceOf[java.util.Comparator[UnsafeRow]])
              var total = 0L
            }
            def evict(st: Tiers): Unit = rankMode match {
              case RankTies =>
                while (st.map.size > 1 &&
                    st.total - st.map.lastEntry.getValue.size >= limit) {
                  st.total -= st.map.pollLastEntry().getValue.size
                }
              case _ =>
                while (st.map.size > limit) {
                  st.total -= st.map.pollLastEntry().getValue.size
                }
            }
            val byKey = mutable.HashMap.empty[UnsafeRow, Tiers]
            iter.foreach { row =>
              inRows += 1
              val u = row.asInstanceOf[UnsafeRow]
              val key = keyProj(row)
              val st = byKey.get(key) match {
                case Some(t) => t
                case None =>
                  val t = new Tiers; byKey.put(key.copy(), t); t
              }
              val tier = st.map.get(u)
              if (tier != null) {
                // ties with a retained tier always join it (same rank)
                tier += u.copy(); st.total += 1; evict(st)
              } else {
                val full = rankMode match {
                  case RankTies => st.total >= limit
                  case _ => st.map.size >= limit
                }
                // a row strictly after the last tier of a full state has
                // rank > k already — skip without touching the map
                if (!(full && !st.map.isEmpty &&
                    ordering.compare(u, st.map.lastKey) > 0)) {
                  val c = u.copy()
                  st.map.put(c, mutable.ArrayBuffer(c))
                  st.total += 1
                  evict(st)
                }
              }
            }
            nKeys += byKey.size
            import scala.jdk.CollectionConverters._
            byKey.valuesIterator.flatMap { st =>
              outRows += st.total
              st.map.values.asScala.iterator.flatten
            }
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
      copy(child = c)
  }

  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      // Spark's InferWindowGroupLimit, which runs after TopKRewrite, puts
      // a WindowGroupLimit on top of our node. When it bounds the same
      // keys, order and rank mode by at least k it keeps every row the
      // heap pass emits (and the Filter and Window above re-apply the
      // bound anyway), so it plans as the child alone: no extra sort.
      case WindowGroupLimit(part, order, rankFn, limit, t: TopKPerKeyPlan)
          if limit >= t.k && modeOf(rankFn).contains(t.mode) &&
            sameExprs(part, t.keys) && sameExprs(order, t.order) =>
        planLater(t) :: Nil
      case TopKPerKeyPlan(keys, order, k, child, mode) =>
        // defensive: every key/order expression must evaluate against the
        // child's row — a violation here means a buggy construction path
        // (perKey and TopKRewrite both pre-check), so fail loudly rather
        // than at codegen depth
        val refs = (keys ++ order).flatMap(_.references).toSet
        require(refs.subsetOf(child.outputSet.toSet[Attribute]),
          s"TopKPerKey keys/order reference non-child attributes: " +
            s"${(refs -- child.outputSet).mkString(", ")}")
        TopKPerKeyExec(keys, order, k, partial = false,
          TopKPerKeyExec(keys, order, k, partial = true, planLater(child), mode),
          mode) :: Nil
      case _ => Nil
    }

    private def sameExprs(a: Seq[Expression], b: Seq[Expression]): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) => x.semanticEquals(y) }
  }

  /** Optimizer rewrite to [[TopKPerKeyPlan]]. [[graft.GraftExtensions]]
    * injects it into the operator-optimization batch, which runs BEFORE
    * Spark's `InferWindowGroupLimit` has created any `WindowGroupLimit`,
    * so the pattern is the raw `Filter(rn <= k, Window(row_number))`
    * (same conjunct extraction as Spark's own rule). Spark's later batch
    * then puts a `WindowGroupLimit` above our node, which [[TopKStrategy]]
    * plans away.
    *
    * The surrounding Window/Filter stay and recompute the rank over the
    * pruned rows, so output columns and values are unchanged; the two
    * full sorts of the fact table disappear. `rank()` and `dense_rank()`
    * filters compile to the tie-keeping modes; other rank-like functions
    * fall back to the built-in operator. */
  object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

    /** Strongest supported (mode, bound) pair in `cond`'s conjuncts
      * (`r <= k`, `r < k`, `r = k`, and the literal-first mirror forms),
      * where `r` aliases row_number/rank/dense_rank over the standard
      * running frame. When several rank functions are bounded, the
      * strictest prune wins (row_number ⊆ rank ⊆ dense_rank keep-sets);
      * the Filter above re-applies every conjunct regardless. */
    private def rankLimit(cond: Expression,
        windowExprs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]): Option[(RankMode, Int)] = {
      def attrsOf(mode: RankMode) = windowExprs.collect {
        case a @ Alias(WindowExpression(fn, WindowSpecDefinition(_, _,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)
            if modeOf(fn).contains(mode) =>
          a.toAttribute
      }
      val conjuncts = splitConjunctivePredicates(cond)
      def limitFor(mode: RankMode): Option[Int] = {
        val attrs = attrsOf(mode)
        if (attrs.isEmpty) None
        else {
          val limits = conjuncts.collect {
            case LessThan(e, IntegerLiteral(n)) if attrs.exists(e.semanticEquals) => n - 1
            case GreaterThan(IntegerLiteral(n), e) if attrs.exists(e.semanticEquals) => n - 1
            case LessThanOrEqual(e, IntegerLiteral(n)) if attrs.exists(e.semanticEquals) => n
            case GreaterThanOrEqual(IntegerLiteral(n), e) if attrs.exists(e.semanticEquals) => n
            case EqualTo(e, IntegerLiteral(n)) if attrs.exists(e.semanticEquals) => n
            case EqualTo(IntegerLiteral(n), e) if attrs.exists(e.semanticEquals) => n
          }
          if (limits.isEmpty) None else Some(limits.min)
        }
      }
      Seq(RowNum, RankTies, DenseTies).view
        .flatMap(m => limitFor(m).filter(_ > 0).map(m -> _)).headOption
    }

    /** Pruning rows below the Window is only sound when EVERY window
      * expression is prefix-determined — its value on a retained row
      * cannot depend on the pruned (strictly-later) rows. Rank-like
      * functions over the running frame qualify; size-based functions
      * (ntile, percent_rank, cume_dist) and whole-partition frames do
      * NOT — recomputing them over pruned rows changes their values.
      * Mirrors the `support` check in Spark's own InferWindowGroupLimit. */
    private def prefixSafe(
        e: org.apache.spark.sql.catalyst.expressions.NamedExpression): Boolean = e match {
      case Alias(WindowExpression(fn, WindowSpecDefinition(_, _,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _) =>
        modeOf(fn).isDefined
      case _ => false
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case f @ Filter(cond, w @ Window(windowExprs, part, order, child, _))
          if part.nonEmpty && order.nonEmpty &&
            windowExprs.forall(prefixSafe) &&
            !child.isInstanceOf[TopKPerKeyPlan] &&
            !child.isInstanceOf[WindowGroupLimit] &&
            (part ++ order).flatMap(_.references)
              .forall(child.outputSet.contains) =>
        rankLimit(cond, windowExprs) match {
          case Some((mode, k)) =>
            f.copy(child = w.copy(child = TopKPerKeyPlan(part, order, k, child, mode)))
          case _ => f
        }
    }
  }

  /** User-facing entry point: top `k` rows per `keys` under `order`
    * ((name, descending?) pairs; include a unique tiebreak column for
    * determinism — except in the tie-keeping modes, where order-key ties
    * are the point). Columns are resolved here against the input's
    * analyzed output — Spark 4's lazy Column bridge doesn't resolve
    * inside custom logical nodes. Fails with an `IllegalStateException`
    * on a session built without [[graft.GraftExtensions]]. */
  def perKey(df: DataFrame, keys: Seq[String], order: Seq[(String, Boolean)],
      k: Int, mode: RankMode = RowNum): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.requireInstalled(spark, TopKStrategy, "TopKPerKey.perKey")
    val child = GraftShims.logicalPlan(df)
    def attr(n: String): Attribute = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    GraftShims.ofRows(spark,
      TopKPerKeyPlan(keys.map(attr), sortOrders, k, child, mode))
  }
}
