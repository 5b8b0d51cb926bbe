package graft

/** Calibration main for the plan lints [[FanoutAudit]] (class #9) and
  * [[SubtreeAudit]] (class #10): builds each query once and prints its
  * flagged fan-out sites (`[fanout]`) and maximal duplicated expensive
  * subtrees (`[dupsub]`), so the ScaleLintSpec allowlists are seeded
  * from a full-surface run rather than guesses. Plan-only: nothing is
  * executed beyond the eager work a query does while it is built.
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
      val plan = scala.util.Try(
        QueryTrace.lookup(name)(spark, sfDir).queryExecution.optimizedPlan)
      audits.zipWithIndex.foreach { case ((tag, audit), i) =>
        plan.map(audit).fold(
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
}
