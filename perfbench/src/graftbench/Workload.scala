package graftbench

/** One workload: set-up (repeated and timed by [[Main]]), an untimed
  * warm-up, the closed loop's steps, and an end-of-run check.
  */
trait Workload {
  /** Build the state ops run against, at a fresh place per `attempt`.
    * Only the last attempt's state is kept.
    */
  def setup(attempt: Int): Unit
  /** Release an earlier attempt's state, before the next attempt starts. */
  def dropSetup(attempt: Int): Unit
  def warmup(): Unit
  /** One step of the closed loop; steps run until `--seconds` is up. */
  def step(r: Int): Unit
  /** Steps that always run, even past `--seconds`: the fixed part of
    * the schedule (one pass over the scan predicates; the index writes
    * and two cycles).
    */
  def minSteps: Int
  /** The loop ends on a multiple of this many steps past [[minSteps]], so
    * every run asks each input of a cycle equally often and the medians
    * do not depend on where the time ran out.
    */
  def cycle: Int
  def finish(): Unit = ()
  /** The op kind `op_p50_ms` reports. */
  def headline: String
  /** Samples behind `op2_p50_ms`. */
  def second: Seq[Double]
  /** The workload's own metrics, by the names the documentation uses. */
  def summary: Seq[(String, Double, String)]
  /** Per-layer counts the workload measures itself (set-up spans). */
  def layers: Map[String, Double] = Map.empty
}
