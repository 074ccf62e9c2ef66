package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (getOrCreate → same JVM-wide
  * session; suites must not stop() it).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("graft-tests", 8).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
