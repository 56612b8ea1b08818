package graft.tools

import org.apache.spark.sql.SparkSession

/** A concurrent phase for [[KillSoak]]: runs its own verify loop until
  * `stop()` turns true and reports (iterations, green).
  */
trait SoakPhase {
  /** Phase name for the soak JSON (e.g. "stage"). */
  def name: String
  /** Run until `stop()`; return (iterations, green). Must swallow its
    * own exceptions into non-green iterations — a phase crash must
    * not take the soak down.
    */
  def run(spark: SparkSession, stop: () => Boolean): (Int, Int)

  /** Extra per-phase counters for the soak JSON, read after [[run]]
    * returns (e.g. the staging phase's publish-leg split). Every
    * `<k> -> v` lands as `"<name>_<k>":v`; keys ending in
    * `_iterations` are gated green like the primary pair by
    * [[KillSoak]] (their `_green` twin must match).
    */
  def detail: Map[String, Int] = Map.empty
}

