package graft
import org.apache.spark.sql.SparkSession

/** Index-build PHASE profiler: times the numeric/temporal quantile pipeline
  * and the categorical embedding pipeline separately, so a train_index
  * regression can be pinned to a phase instead of adjudicated on the total.
  * `PHASEPROF_BUCKETS` overrides the cumsum bucket count (default: the
  * session shuffle parallelism, i.e. what numericTemporal uses; 1 = the
  * single-window-per-column path) — same binary, so A/B runs compare plans,
  * not builds.
  */
object PhaseProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StageLog.attachIfEnabled(spark.sparkContext)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val buckets = sys.env.get("PHASEPROF_BUCKETS").map(_.toInt)
      .getOrElse(spark.sessionState.conf.numShufflePartitions)
    def t(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(s"PHASEPROF $name: " + (System.nanoTime() - t0) / 1e9)
      Caching.release()
    }
    for (run <- 1 to 3) {
      t(s"numericTemporal buckets=$buckets run=$run") {
        // the production shape (Sketches.numericTemporal) at a chosen
        // bucket count
        ingest.Profiler.quantileSketches(Tables.sketchTables.map { tb =>
          tb -> ingest.Profiler.spreadSketchCols(Tables.load(spark, sfDir, tb))
        }, cumsumBuckets = buckets)
          .write.mode("overwrite").format("noop").save()
      }
      t(s"categorical run=$run") {
        search.Sketches.categorical(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
