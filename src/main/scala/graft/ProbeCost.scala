package graft

/** Process-wide accumulator for the wall cost of adaptive-dispatch
  * PROBES — the eager one-row aggregates each skew dispatcher runs at
  * plan-build time (dup-mass HLL, wedge/pair products, boundary fan,
  * expansion group probes). The probes live in `operators.Skew` (plus
  * q83's blow-up mass) and wrap their action in [[timed]], so the
  * "insurance premium" the adaptive family charges a run is a
  * MEASURED per-round artifact field (`probe_cost_est` in
  * bench_full_r*.json) instead of a number re-derived from isolated
  * PerfAB rows whenever a new dispatcher lands (r11 priced five probes
  * at ~1.1% of the suite by hand; this automates that audit).
  *
  * Deliberately trivial: a ConcurrentHashMap of name → (count, sec).
  * The registry measures DRIVER wall inside the probe action — exactly
  * the quantity the dispatch pays, since probes are synchronous
  * Spark actions on one-row aggregates. */
object ProbeCost {
  private final case class Cell(n: Long, sec: Double)
  private val acc = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      acc.merge(name, Cell(1L, dt),
        (a: Cell, b: Cell) => Cell(a.n + b.n, a.sec + b.sec))
    }
  }

  def reset(): Unit = acc.clear()

  /** name → (invocations, total seconds) since the last [[reset]]. */
  def snapshot(): Map[String, (Long, Double)] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toMap.map { case (k, c) => k -> ((c.n, c.sec)) }
  }
}
