package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, BoundReference, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.GraftShims

/** Distributed global rank / running sum as a first-class physical
  * operator — the plan-level form of the two-pass prefix shape the
  * operator library proved by hand (q90 global shuffle, q91 per-lang
  * percentile, q110 PPS, q115 curriculum, q116/q120 budget heads).
  *
  * Why custom: Spark's only built-in for "0-based position in the global
  * order" or "running total over the whole relation" is a window with an
  * EMPTY partition spec — `row_number().over(Window.orderBy(...))` —
  * which `WindowExec` executes by funneling the ENTIRE relation through
  * one task (it requires `AllTuples`). This operator instead declares
  * `OrderedDistribution(order)`, so `EnsureRequirements` plans a RANGE
  * exchange (partition i's keys all precede partition i+1's, the same
  * machinery as a distributed sort), and computes positions in two
  * passes over that one exchange: a per-partition (group → count/sum)
  * job whose result is broadcast as prefix offsets, then one streaming
  * pass emitting positions. Nothing single-task anywhere; driver state
  * is #partitions × #group-runs longs.
  *
  * The two passes run over the SAME child RDD instance, so they share
  * one shuffle dependency and therefore one set of range bounds — the
  * determinism hazard of re-executing a `repartitionByRange` lineage
  * per pass (RangePartitioner seeds incorporate per-execution RDD ids)
  * is structurally impossible here, not merely avoided by convention.
  *
  * With `group` non-empty the position resets on each group boundary
  * (groups are sorted as the ordering prefix, so each group is one
  * contiguous run across the partition range). With `sumCol` set, a
  * second column carries the running INCLUSIVE sum of that long column.
  *
  * [[graft.GraftExtensions]] (set by [[graft.GraftSession]]) installs the
  * strategy and both rules; [[GlobalRankPruning]] and
  * [[GlobalWindowRewrite]] run in the operator-optimization batch, so the
  * Project the pruning inserts folds into the scan.
  */
object GlobalRank {

  /** `posAttr`/`cumAttr` are CONSTRUCTOR state, not derived per instance:
    * optimizer transforms copy the node, and fresh exprIds on copy would
    * orphan downstream references to the emitted columns. */
  case class GlobalRankPlan(order: Seq[SortOrder], group: Seq[Expression],
      sumCol: Option[Expression], posAttr: Attribute, cumAttr: Option[Attribute],
      child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] =
      child.output ++ (posAttr +: cumAttr.toSeq)
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(posAttr +: cumAttr.toSeq)
    override protected def withNewChildInternal(c: LogicalPlan): GlobalRankPlan =
      copy(child = c)
  }

  case class GlobalRankExec(order: Seq[SortOrder], group: Seq[Expression],
      sumCol: Option[Expression], output: Seq[Attribute],
      child: SparkPlan) extends UnaryExecNode {

    // group columns lead the required ordering so each group is a
    // contiguous run; OrderedDistribution makes EnsureRequirements plan a
    // range exchange over the same keys
    private def fullOrder: Seq[SortOrder] =
      group.map(SortOrder(_, Ascending)) ++ order

    override def requiredChildDistribution: Seq[Distribution] =
      Seq(OrderedDistribution(fullOrder))
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(fullOrder)
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = child.outputOrdering

    override lazy val metrics: Map[String, SQLMetric] = Map(
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "numGroupRuns" -> SQLMetrics.createMetric(sparkContext, "group runs across partitions"))

    override protected def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val groupExprs = group
      val sumExpr = sumCol
      val outRows = longMetric("numOutputRows")
      val groupRuns = longMetric("numGroupRuns")
      val childRDD = child.execute()

      // pass 0: GUARD — per-partition run COUNTS only (one long each), so
      // the maxGroupRuns bound is checked BEFORE any run-key array exists
      // anywhere. Guarding after the run-array collect would be too late:
      // for an unbounded group key the driver blow-up IS that collect.
      // Costs one extra traversal of the sorted child (shuffle files are
      // reused across the jobs; only the reduce-side sort re-runs) —
      // cheap for every legitimate caller, and the price of failing
      // loudly instead of OOMing the driver.
      val maxRuns = org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.globalrank.maxGroupRuns", "1000000").toLong
      val runCounts: Array[Long] = childRDD.mapPartitions { it =>
        val keyProj = UnsafeProjection.create(groupExprs, childOutput)
        var curKey: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
        var runs = 0L
        it.foreach { row =>
          val k = keyProj(row)
          if (curKey == null || k != curKey) { curKey = k.copy(); runs += 1 }
        }
        Iterator.single(runs)
      }.collect()
      val totalRuns = runCounts.sum
      require(totalRuns <= maxRuns,
        s"GlobalRank: $totalRuns (partition, group) runs exceed " +
          s"spark.graft.globalrank.maxGroupRuns=$maxRuns — the group key's " +
          "cardinality is too high for the broadcast-offsets two-pass plan; " +
          "use a per-key window (partitionBy the group) instead, which " +
          "needs no global offsets")

      // pass 1: per-(partition, group-run) row counts and weight sums, in
      // run order. All passes map over childRDD — ONE shuffle dependency,
      // one set of range bounds.
      val perPart: Array[(Int, Array[(InternalRow, Long, Long)])] =
        childRDD.mapPartitionsWithIndex { (pid, it) =>
          val keyProj = UnsafeProjection.create(groupExprs, childOutput)
          val sumEval = sumExpr.map(e =>
            org.apache.spark.sql.catalyst.expressions.BindReferences
              .bindReference(e, childOutput))
          val runs = scala.collection.mutable.ArrayBuffer
            .empty[(InternalRow, Long, Long)]
          var curKey: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
          var n = 0L; var s = 0L
          it.foreach { row =>
            val k = keyProj(row)
            if (curKey == null || k != curKey) {
              if (curKey != null) runs += ((curKey, n, s))
              curKey = k.copy(); n = 0L; s = 0L
            }
            n += 1
            sumEval.foreach { e =>
              val v = e.eval(row)
              if (v != null) s += v.asInstanceOf[Long]
            }
          }
          if (curKey != null) runs += ((curKey, n, s))
          Iterator.single(pid -> runs.toArray)
        }.collect()

      // prefix offsets per (partition, group): group runs are contiguous
      // across the partition range, so a group's offset in partition p is
      // the sum of its runs in partitions < p.
      // DRIVER-STATE BOUND: the offsets map is #partitions × #groups
      // entries — fine for every in-repo caller (langs, buckets,
      // histogram bins). Unbounded group keys were already rejected by
      // the pass-0 counts-only guard above, BEFORE the run arrays were
      // built or collected.
      val offsets = scala.collection.mutable.HashMap
        .empty[(Int, InternalRow), (Long, Long)]
      val running = scala.collection.mutable.HashMap
        .empty[InternalRow, (Long, Long)]
      perPart.sortBy(_._1).foreach { case (pid, runs) =>
        groupRuns += runs.length
        runs.foreach { case (k, n, s) =>
          val (pn, ps) = running.getOrElse(k, (0L, 0L))
          offsets.put((pid, k), (pn, ps))
          running.put(k, (pn + n, ps + s))
        }
      }
      val bcOff = sparkContext.broadcast(offsets.toMap)

      // pass 2: stream each partition once, carrying (rank, cumsum)
      val emitCum = sumExpr.isDefined
      val resultOutput = output
      childRDD.mapPartitionsWithIndex({ (pid, it) =>
        val keyProj = UnsafeProjection.create(groupExprs, childOutput)
        val sumEval = sumExpr.map(e =>
          org.apache.spark.sql.catalyst.expressions.BindReferences
            .bindReference(e, childOutput))
        val off = bcOff.value
        val extra = new GenericInternalRow(if (emitCum) 2 else 1)
        val join = new JoinedRow
        val proj = UnsafeProjection.create(
          resultOutput.zipWithIndex.map { case (a, i) =>
            BoundReference(i, a.dataType, a.nullable)
          })
        var curKey: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
        var pos = 0L; var cum = 0L
        it.map { row =>
          val k = keyProj(row)
          if (curKey == null || k != curKey) {
            curKey = k.copy()
            val (pn, ps) = off.getOrElse((pid, curKey: InternalRow), (0L, 0L))
            pos = pn; cum = ps
          }
          extra.update(0, pos)
          pos += 1
          sumEval.foreach { e =>
            val v = e.eval(row)
            if (v != null) cum += v.asInstanceOf[Long]
          }
          if (emitCum) extra.update(1, cum)
          outRows += 1
          proj(join(row, extra))
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(c: SparkPlan): GlobalRankExec =
      copy(child = c)
  }

  object GlobalRankStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p @ GlobalRankPlan(order, group, sumCol, _, _, child) =>
        val refs = (order ++ group ++ sumCol.toSeq).flatMap(_.references).toSet
        require(refs.subsetOf(child.outputSet.toSet[Attribute]),
          s"GlobalRank order/group/sum reference non-child attributes: " +
            s"${(refs -- child.outputSet).mkString(", ")}")
        GlobalRankExec(order, group, sumCol, p.output, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Column pruning stops at this node by default (the optimizer doesn't
    * know custom nodes); without this rule the child keeps every column.
    * Prunes the child to (referenced ∪ downstream-required) columns. */
  object GlobalRankPruning extends Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    import org.apache.spark.sql.catalyst.plans.logical.Project
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
      case proj @ Project(projList, g: GlobalRankPlan)
          if (AttributeSet(projList.flatMap(_.references)) ++ g.references)
            .intersect(g.child.outputSet) != g.child.outputSet =>
        val needed = (AttributeSet(projList.flatMap(_.references)) ++
          g.references).intersect(g.child.outputSet)
        proj.copy(child = g.copy(
          child = Project(g.child.output.filter(needed.contains), g.child)))
    }
  }

  /** Optimizer rewrite: a Window node computing ONLY `row_number()` with
    * an EMPTY partition spec — the plan shape of user-written
    * `row_number().over(Window.orderBy(...))` / SQL
    * `row_number() OVER (ORDER BY …)` — compiles to [[GlobalRankPlan]]
    * plus a projection that rebuilds each window alias as
    * `cast(pos + 1 as int)` UNDER ITS ORIGINAL exprId, so downstream
    * references are untouched and the output schema (row_number is
    * IntegerType, overflowing at 2³¹ exactly like the built-in) is
    * byte-identical. The user writes the naive single-task funnel;
    * the session plans the range-exchange two-pass operator.
    *
    * Three deliberate non-rewrites:
    *  - windows over an input with a row bound (`maxRows`, e.g. a
    *    top-1000 cut): one task ranks such a cut without the operator's
    *    range exchange and extra jobs (q111's 20-row and q168's
    *    1000-row cuts at sf0.1: 4 and 2 jobs fewer, about half the
    *    time). The cut size at which the operator would win back is
    *    unmeasured;
    *  - windows directly under a rank-BOUNDING Filter
    *    (`row_number() <= k`): those belong to the top-k machinery
    *    (Spark's InferWindowGroupLimit; TopKRewrite for the grouped
    *    form), where a partial per-partition limit beats materializing
    *    the full global rank;
    *  - any other window function in the node (rank/dense_rank differ on
    *    ties; size-based functions need the whole relation) — the node
    *    stays on the built-in path. */
  object GlobalWindowRewrite extends Rule[LogicalPlan]
      with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Cast, CurrentRow, IntegerLiteral, Literal, NamedExpression, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window}
    import org.apache.spark.sql.types.IntegerType

    /** All window expressions iff every one is a global row_number over
      * the standard running frame. */
    private def rowNumAliases(exprs: Seq[NamedExpression]): Option[Seq[Alias]] = {
      val as = exprs.collect {
        case a @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(Seq(), _,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
            _) => a
      }
      if (as.nonEmpty && as.length == exprs.length) Some(as) else None
    }

    /** The row_number aliases of windows sitting directly under a Filter
      * that bounds them by an integer literal — the top-k shape, left
      * alone. Kept by exprId, not by node: rewriting a global window
      * further down changes this window's subtree, so the node itself
      * would no longer compare equal. */
    private def boundedWindows(plan: LogicalPlan)
        : Set[org.apache.spark.sql.catalyst.expressions.ExprId] =
      plan.collect {
        case Filter(cond, w: Window)
            if rowNumAliases(w.windowExpressions).exists { as =>
              val attrs = as.map(_.toAttribute)
              splitConjunctivePredicates(cond).exists {
                case LessThan(e, IntegerLiteral(_)) => attrs.exists(e.semanticEquals)
                case LessThanOrEqual(e, IntegerLiteral(_)) => attrs.exists(e.semanticEquals)
                case EqualTo(e, IntegerLiteral(_)) => attrs.exists(e.semanticEquals)
                case GreaterThan(IntegerLiteral(_), e) => attrs.exists(e.semanticEquals)
                case GreaterThanOrEqual(IntegerLiteral(_), e) => attrs.exists(e.semanticEquals)
                case EqualTo(IntegerLiteral(_), e) => attrs.exists(e.semanticEquals)
                case _ => false
              }
            } => w.windowExpressions.map(_.exprId)
      }.flatten.toSet

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val skip = boundedWindows(plan)
      plan.transformUp {
        case w @ Window(exprs, Seq(), order, child, _)
            if order.nonEmpty && child.maxRows.isEmpty &&
              !exprs.exists(e => skip.contains(e.exprId)) &&
              order.flatMap(_.references).forall(child.outputSet.contains) =>
          rowNumAliases(exprs) match {
            case Some(aliases) =>
              val pos = AttributeReference("_grank_pos", LongType,
                nullable = false)()
              val rebuilt = aliases.map { a =>
                Alias(Cast(Add(pos, Literal(1L)), IntegerType), a.name)(
                  a.exprId, a.qualifier, None)
              }
              Project(child.output ++ rebuilt,
                GlobalRankPlan(order, Nil, None, pos, None, child))
            case None => w
          }
      }
    }
  }

  /** User-facing entry point: append a 0-based `pos` column (global rank
    * in `order`, resetting per `group` when given) and, when `sumCol` is
    * set, an inclusive running-sum `cum` column of that LONG column, in
    * the same order. Include a unique tiebreak in `order` for
    * determinism. Fails with an `IllegalStateException` on a session
    * built without [[graft.GraftExtensions]]. */
  def withPosition(df: DataFrame, order: Seq[(String, Boolean)],
      group: Seq[String] = Nil, sumCol: Option[String] = None,
      posName: String = "pos", cumName: String = "cum"): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.requireInstalled(spark, GlobalRankStrategy,
      "GlobalRank.withPosition")
    val child = GraftShims.logicalPlan(df)
    def attr(n: String): Attribute = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    require(sumCol.forall(c => attr(c).dataType == LongType),
      "sumCol must be a LONG column")
    val posAttr = AttributeReference(posName, LongType, nullable = false)()
    val cumAttr = sumCol.map(_ =>
      AttributeReference(cumName, LongType, nullable = false)())
    GraftShims.ofRows(spark, GlobalRankPlan(sortOrders, group.map(attr),
      sumCol.map(attr), posAttr, cumAttr, child))
  }
}
