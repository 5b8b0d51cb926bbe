package graft

/** Calibration main for the plan lints [[FanoutAudit]] (class #9) and
  * [[SubtreeAudit]] (class #10): builds each query once and prints its
  * flagged fan-out sites (`[fanout]`) and maximal duplicated expensive
  * subtrees (`[dupsub]`), so the ScaleLintSpec allowlists are seeded
  * from a full-surface run rather than guesses. Plan-only: nothing is
  * executed beyond the eager work a query does while it is built.
  *
  * It also prints one `[plan] <query> <fingerprint>` line per query: a
  * hash of the initial physical plan with expression ids, plan ids,
  * object hashes, lambda names, RDD ids and temp paths normalized,
  * followed by two widths the plan text does not print: each
  * checkpointed leaf's (`RDDScanExec`) partition count, and the distinct
  * task counts of the stages the query ran while it was built (its eager
  * checkpoints and probes, including checkpoints it released before
  * returning, such as q101's and q169's edge frames). Distinct, not
  * every stage: how many query-stage jobs AQE runs inside one eager
  * action depends on which of its concurrent stages finishes first (a
  * PageRank round re-plans a join to a broadcast in some runs and not
  * in others, one more 1-task stage), and the first read of a table in
  * a JVM runs a schema job; neither is the query's plan. Two builds whose
  * lines match plan every query the same way, checkpoint widths
  * included — the plan-identity check for a change that claims no plan
  * effect. q42,
  * q209 and q229 are order-unstable: Spark's `RewriteDistinctAggregates`
  * orders their distinct aggregates' Expand projections by expression
  * id, so their fingerprints move whenever an earlier query's plan
  * allocates a different number of ids. Compare them planned alone
  * (`LintSweep <sfDir> q229_datasheet`).
  *
  * Usage: runMain graft.LintSweep <sfDir> [query ...]
  */
object LintSweep {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LintSweep <sfDir> [query ...]")
    val sfDir = args(0)
    val names = if (args.length > 1) args.tail.toSeq else QueryDef.all.map(_.name)
    val spark = GraftSession()
    val audits = Seq("fanout" -> FanoutAudit.audit _, "dupsub" -> SubtreeAudit.audit _)
    val flagged = Array.fill(audits.size)(0)
    names.foreach { name =>
      val built = scala.util.Try(QueryTrace.during(spark)(QueryTrace.lookup(name)(spark, sfDir)))
      val df = built.map(_.value)
      println(s"[plan] $name " + built.map(w => fingerprint(w.value, w.stages.map(_.tasks)))
        .fold(e => s"BUILD FAILED ${e.getMessage}", identity))
      audits.zipWithIndex.foreach { case ((tag, audit), i) =>
        df.map(d => audit(d.queryExecution.optimizedPlan)).fold(
          e => println(s"[$tag] $name: BUILD FAILED ${e.getMessage}"),
          hits => if (hits.nonEmpty) {
            flagged(i) += 1
            println(s"[$tag] $name:")
            hits.foreach(h => println(s"[$tag]   $h"))
          })
      }
    }
    audits.zipWithIndex.foreach { case ((tag, _), i) =>
      println(s"[$tag] ${flagged(i)}/${names.size} queries flagged")
    }
    spark.stop()
  }

  private val volatile = Seq(
    "#\\d+" -> "#",                             // expression ids
    "plan_id=\\d+" -> "plan_id=",
    "Lambda\\$\\d+/0x[0-9a-f]+" -> "Lambda",     // lambda class names
    "@[0-9a-f]+\\b" -> "@",                      // object hashes
    "(\\w*RDD)\\[\\d+\\]" -> "$1[]",
    "(lambda \\w+?)_\\d+" -> "$1_",             // lambda variables
    "(file:)?/tmp/[^\\s,\\]\\)]*" -> "<tmp>")

  /** 16 hex digits of the SHA-256 of the normalized initial physical plan
    * followed by its widths: the partition count of every `RDDScanExec`
    * leaf, which the RDD already knows (no job runs, as in
    * `Tables.plannedWidth`), and the distinct task counts of the stages
    * its build ran, sorted. */
  private def fingerprint(df: org.apache.spark.sql.DataFrame, buildTasks: Seq[Int]): String = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val widths = plan.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd.getNumPartitions
    }
    val text = volatile.foldLeft(plan.toString) { case (t, (re, to)) =>
      t.replaceAll(re, to) } + widths.mkString("\nRDDScanExec partitions: ", ",", "") +
      buildTasks.distinct.sorted.mkString("\nbuild stage widths: ", ",", "")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}
