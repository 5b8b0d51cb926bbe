package graft

import org.apache.spark.sql.SparkSession

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
    // declared queries first; fall back to the PerfAB variant registry so
    // a dispatcher's forced arm (e.g. q83_id_oriented vs the declared
    // q83) can be dumped from ONE code state
    def queries(name: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
      SparkEntry.queries.getOrElse(name, PerfAB.variants.getOrElse(name,
        sys.error(s"unknown query/variant: $name")))
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      val df = queries(name)(spark, sfDir)
      println(s"\n===== $name =====")
      df.explain("formatted")
      force(df) // warm: codegen + file index
      // timed like Bench: construction INCLUDED — iterative operators
      // (connected components) do eager work while building the frame
      val t0 = System.nanoTime()
      force(queries(name)(spark, sfDir))
      println(f"[time] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
