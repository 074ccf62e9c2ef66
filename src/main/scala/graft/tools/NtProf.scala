package graft.tools

import graft.Tables
import graft.ingest.Profiler
import org.apache.spark.sql.functions._

/** numericTemporal hotspot isolator (round 17): times the sketch value
  * stream + histogram-quantile pipeline (the dominant train_index phase)
  * with the shared stack sampler, so per-task slowness can be attributed
  * to a frame (compute vs GC vs shuffle) instead of adjudicated on wall.
  * Usage: runMain graft.tools.NtProf [sfDir]
  */
object NtProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Prof.session("ntprof")
    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    spark.range(1000000).selectExpr("sum(id)").collect()
    // dense column ids across the tables, as Profiler.quantileSketches
    // assigns them
    def withIds(loaded: Seq[(String, org.apache.spark.sql.DataFrame)]) = {
      var next = -1
      loaded.map { case (_, df) =>
        df -> Profiler.sketchCols(df).map { case (c, t) => next += 1; (c, t, next) }
      }
    }
    for (run <- 1 to 3) {
      val g0 = gcMs
      val smp = if (run == 2) Some(Prof.sampler(60)) else None
      Prof.time(s"valueStream+hist(spread) run=$run") {
        val loaded = Tables.sketchTables.map(t => t -> Tables.load(spark, dir, t))
        val stream = withIds(loaded).map { case (df, cols) =>
          Profiler.valueStreamById(Profiler.spreadSketchCols(df), cols)
        }.reduce(_.unionAll(_))
        stream.groupBy("cid", "v")
          .agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").format("noop").save()
      }
      Prof.time(s"valueStream+hist(no spread) run=$run") {
        // A/B: columnar-scan-fused explode+agg straight off the parquet
        // tasks vs the repartitioned form above
        val loaded = Tables.sketchTables.map(t => t -> Tables.load(spark, dir, t))
        val stream = withIds(loaded).map { case (df, cols) =>
          Profiler.valueStreamById(df, cols)
        }.reduce(_.unionAll(_))
        stream.groupBy("cid", "v")
          .agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").format("noop").save()
      }
      println(s"== gc run=$run: ${(gcMs - g0) / 1e3}s")
      smp.foreach(_.join(70000))
    }
    spark.stop()
  }
}
