package graft

/** Diagnostic: time queries individually and dump their formatted physical
  * plans. Usage: runMain graft.Explain <sfDir> [queryName ...]
  * With no names, times every query (alphabetical). Set GRAFT_EXPLAIN=1 to
  * print .explain("formatted") per query.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder("graft-explain", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StageLog.attachIfEnabled(spark.sparkContext)
    // warm the session so the first query isn't charged JVM/codegen startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    val times = names.map { name =>
      // construction is inside the timed window: iterative queries (e.g.
      // dedup_clusters' component loop) do their work eagerly at build time.
      // The explain print is NOT — it runs after t1 so GRAFT_EXPLAIN=1
      // doesn't inflate the reported times with plan formatting.
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.mode("overwrite").format("noop").save()
      val t1 = System.nanoTime()
      val sec = (t1 - t0) / 1e9
      println(f"[time] $name%-28s $sec%8.2f s")
      if (sys.env.contains("GRAFT_EXPLAIN")) {
        println(s"===== $name plan =====")
        df.explain("formatted")
      }
      sec
    }
    println(f"[time] TOTAL ${times.sum}%.2f s over ${names.size} queries")
    spark.stop()
  }
}
