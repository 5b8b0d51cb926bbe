package graft

/** Calibration main for [[SubtreeAudit]] (lint class #10): prints every
  * declared query's maximal duplicated expensive subtrees, so the
  * ScaleLintSpec allowlist is seeded from a full-surface run rather
  * than guesses — the same protocol as [[FanoutSweep]] for class #9.
  *
  * Usage: runMain graft.SubtreeSweep [sfDir] [query ...]
  */
object SubtreeSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else QueryDef.all.map(_.name)
    val spark = GraftSession()
    var flagged = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val hits = SubtreeAudit.audit(df.queryExecution.optimizedPlan)
        if (hits.nonEmpty) {
          flagged += 1
          println(s"[dupsub] $name:")
          hits.foreach(h => println(s"[dupsub]   $h"))
        }
      } catch {
        case e: Throwable =>
          println(s"[dupsub] $name: BUILD FAILED ${e.getMessage}")
      }
    }
    println(s"[dupsub] $flagged/${names.size} queries flagged")
    spark.stop()
  }
}
