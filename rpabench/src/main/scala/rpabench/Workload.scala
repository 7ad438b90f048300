package rpabench

import org.apache.spark.sql.SparkSession

/** What one workload's measured phase produced. */
final case class Measured(
    /** per timed iteration: (wall seconds, documents completed) */
    iterations: Seq[(Double, Long)],
    /** per-layer metrics from the workload's own timers (traced runs) */
    layers: Map[String, Double],
    /** the iterations' wall-clock windows, for listener attribution */
    windows: Windows)

/** Output-check tally: operations attempted and how many were wrong. */
final case class Checked(attempted: Long, failed: Long, notes: Seq[String]) {
  def +(o: Checked): Checked = Checked(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

/** Everything a workload needs from the run: the session, its private
  * scratch directory and the seed its inputs derive from. */
final case class Ctx(spark: SparkSession, dir: String, seed: Long, cores: Int) {
  def sub(name: String): Ctx = copy(dir = s"$dir/$name")
}

trait Workload {
  /** Generate inputs and run the untimed warm-up. */
  def prepare(): Unit
  /** Run timed iterations until `seconds` have passed (at least
    * `minIterations`). With a trace, also fill the per-layer timers. */
  def measure(seconds: Double, minIterations: Int, trace: Option[Trace]): Measured
  /** Compare every output against the generator's expectations. */
  def check(): Checked
}

object Clock {
  def ms: Long = System.currentTimeMillis()
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
