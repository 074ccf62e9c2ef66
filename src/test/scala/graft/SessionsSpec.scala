package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every session the repo builds goes through [[Sessions]], and so carries
  * its confs whether or not the JVM was launched with the `-Dspark.*`
  * options of `build.sbt`.
  */
class SessionsSpec extends AnyFunSuite {
  private val cachedPlanConf =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  test("src/main/scala builds a SparkSession in exactly one place") {
    val sites = MainSources.sitesOf("""SparkSession\s*\.\s*builder\b""".r)
    assert(sites == Seq("graft/Sessions.scala"),
      s"SparkSession.builder() outside graft.Sessions: $sites")
  }

  test("Sessions applies the cached-plan conf itself, not via -D") {
    val applied = Sessions.confs(8).toMap
    assert(applied.get(cachedPlanConf).contains("true"))
    assert(applied.get("spark.sql.session.timeZone").contains("UTC"))
    assert(applied.get("spark.sql.shuffle.partitions").contains("8"))
    assert(applied.get("spark.ui.enabled").contains("false"))
  }

  test("the suite's session carries the Sessions confs") {
    val conf = SparkTestSession.spark.conf
    assert(conf.get(cachedPlanConf) == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
  }
}
