package graft

/** Calibration main for [[FanoutAudit]] (lint class #9): prints every
  * declared query's flagged fan-out sites, so the ScaleLintSpec
  * allowlist is seeded from a full-surface run rather than guesses.
  *
  * Usage: runMain graft.FanoutSweep [sfDir] [query ...]
  */
object FanoutSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else QueryDef.all.map(_.name)
    val spark = GraftSession()
    var flagged = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val hits = FanoutAudit.audit(df.queryExecution.optimizedPlan)
        if (hits.nonEmpty) {
          flagged += 1
          println(s"[fanout] $name:")
          hits.foreach(h => println(s"[fanout]   $h"))
        }
      } catch {
        case e: Throwable =>
          println(s"[fanout] $name: BUILD FAILED ${e.getMessage}")
      }
    }
    println(s"[fanout] $flagged/${names.size} queries flagged")
    spark.stop()
  }
}
