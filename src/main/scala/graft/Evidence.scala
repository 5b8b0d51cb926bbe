package graft

/** Machine-readable counts of the round's evidence program — the single
  * source the specs ASSERT against and [[Verify]] exports (summary.json),
  * so the round-over-round claims ("N queries, M fuzz batteries, K lint
  * classes") are diffable artifacts instead of prose re-verified by hand.
  * A spec that adds a battery or a lint class without bumping the
  * constant here fails its own structure assertion.
  */
object Evidence {
  /** Allowlisted scale-killer shape classes machine-checked by
    * ScaleLintSpec (global window, collect buffer, cartesian, UDF,
    * forced broadcast, long×long product, unpushed scan predicate,
    * eager plan-build driver action, fan-out blindness). */
  val lintClasses: Int = 10

  /** Oracle-fuzz battery tests in OracleFuzzSpec (hostile generated
    * corpora hash-checked against DuckDB per seed). */
  val fuzzBatteries: Int = 12

  /** Queries measured 1× vs N× by the ScaleRegression harness. */
  def scaleChainSize: Int = ScaleRegression.chain.size

  /** JSON fragment for Verify's summary.json. */
  def json: String =
    s""""lint_classes": $lintClasses, "fuzz_batteries": $fuzzBatteries,""" +
      s""" "scale_chain": $scaleChainSize"""
}
