package graft

/** Plan-audit utility: prints the formatted physical plan and wall time
  * for the named queries (or all). Used to keep pushdown/broadcast/codegen
  * properties honest — see ARCHITECTURE.md "plan audit" notes.
  *
  * Usage: runMain graft.PlanAudit <sfDir> [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else QueryDef.all.map(_.name)
    val spark = GraftSession()
    names.foreach { name =>
      // a declared query, or a dispatcher's forced arm from the PerfAB
      // registry (e.g. q83_id_oriented vs the declared q83) — both
      // dumped from ONE code state
      val fn = QueryTrace.lookup(name)
      val df = fn(spark, sfDir)
      println(s"\n===== $name =====")
      df.explain("formatted")
      QueryTrace.force(df) // warm: codegen + file index
      // timed like Bench: construction INCLUDED — iterative operators
      // (connected components) do eager work while building the frame
      val sec = QueryTrace.during(spark)(QueryTrace.force(fn(spark, sfDir))).sec
      println(f"[time] $name $sec%.2f s")
    }
    spark.stop()
  }
}
