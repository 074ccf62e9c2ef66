package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry and
  * prints the row count (driver requires > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.builder("graft-smoke", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
