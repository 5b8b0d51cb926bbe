package graft

/** Plan-audit utility: prints the formatted physical plan and wall time
  * for the named queries (or all). Used to keep pushdown/broadcast/codegen
  * properties honest — see ARCHITECTURE.md "plan audit" notes. The plan
  * is printed after one run through its own QueryExecution, so it shows
  * AQE's final plan above the initial one (e.g. `q101_round`'s
  * rank⋈edges join: broadcast at 1×, sort-merge past the threshold).
  *
  * Usage: runMain graft.PlanAudit <sfDir> [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else QueryDef.all.map(_.name)
    val spark = GraftSession()
    names.foreach { name =>
      // a declared query, or a PerfAB row (e.g. q83_id_oriented vs the
      // declared q83, or q101_round) — both dumped from ONE code state
      val fn = QueryTrace.lookup(name)
      println(s"\n===== $name =====")
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.count() // a write would plan a new QueryExecution
      df.explain("formatted")
      // one warm and one timed pass, construction included like Bench
      val w = QueryTrace.interleaved(spark,
        Seq(name -> (() => fn(spark, sfDir))), 1).head._2.head
      println(w.fold(s"[time] $name FAILED")(w => f"[time] $name ${w.sec}%.2f s"))
    }
    spark.stop()
  }
}
