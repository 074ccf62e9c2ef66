package graft

import org.apache.spark.sql.SparkSession

/** The one place a [[SparkSession]] is built. The mains (Bench, Verify,
  * Smoke, Explain, ScaleFixture) and the test session start from
  * [[builder]] and add only the confs that are their own before
  * `getOrCreate()`, so a main launched outside sbt carries the same
  * session confs as under it.
  */
object Sessions {

  /** The confs every session carries on `cores` local cores. */
  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // AQE may re-partition cached-plan output (round 18, guide §2): pinned
    // grid-sized frames (Caching.temp) otherwise materialize at
    // shuffle.partitions (= cores) near-empty partitions and every consumer
    // stage launches that many tasks — the 32-core anti-scaling of the
    // pin-heavy paths. Coalescing only merges SMALL partitions, so at lake
    // scale the conf is inert; values are partitioning-independent
    // (spec-enforced across the suite).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** A `local[cores]` builder named `appName` with [[confs]] applied. */
  def builder(appName: String, cores: Int): SparkSession.Builder =
    confs(cores).foldLeft(
      SparkSession.builder().master(s"local[$cores]").appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
