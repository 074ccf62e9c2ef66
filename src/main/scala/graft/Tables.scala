package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loader. The data lake "datasets" are the driver's parquet
  * tables (TESTDATA.md); each table plays the role of one danae dataset
  * descriptor (reference: ingest/publishing/eodp_publisher.py:16-38).
  */
object Tables {
  /** Star-schema tables that act as profiled "datasets" in the lake. */
  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val all: Seq[String] = star ++ Seq("events", "documents", "embeddings")

  // Plan memo per (session, dir, table): every spark.read.parquet call runs
  // a ~40ms schema-inference (footer) JOB before the plan even exists, and a
  // bench/verify pass re-loads the same 10 fixture tables hundreds of times
  // (33 such jobs in one train_index build alone, measured via StageLog).
  // A DataFrame is an immutable plan, so sharing one per table is free;
  // file CONTENT is still re-read per action as always.
  private val loadCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadCache.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, name), load0(spark, dir, name))

  /** Drop the memoized plan for one table — REQUIRED when its underlying
    * files changed: the memo captures the file listing and schema at first
    * load, so a mutation path that skips this serves FAILED_READ_FILE from
    * deleted files (or silently misses new ones). `Sketches.refreshDataset`
    * — the declared "this dataset's data changed" entry point — calls this;
    * session-artifact resets deliberately do NOT (the lake is unchanged
    * there, and re-listing would re-pay the ~40ms footer job per table the
    * memo exists to avoid).
    */
  def invalidate(spark: SparkSession, dir: String, name: String): Unit =
    loadCache.remove((spark.sparkContext.applicationId, dir, name))

  private def load0(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet timestamp[ns]; depending on the session config
    // Spark either refuses it or surfaces it as a nanosecond long. Normalize
    // to TimestampType (microseconds, truncated like DuckDB does) so the
    // schema-driven type mapping and the oracle agree.
    if (name == "events")
      try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => () } // read-only conf in some harnesses
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // parquet timestamp[us] with isAdjustedToUTC=false surfaces as NTZ
        // under Spark's default inferTimestampNTZ; watermarks and epoch
        // functions require TIMESTAMP. Session tz is UTC everywhere, so the
        // cast is value-identical to what DuckDB reads.
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Tables used for the column-sketch pipeline (star schema + events). */
  val sketchTables: Seq[String] = star :+ "events"

  /** Spread `df` across the session parallelism when its current plan
    * yields fewer than half that many partitions — for shuffle-free
    * per-row-HEAVY pipelines (codec decode, multi-gate scoring, banding
    * key generation, A×B cosine streams) over single-row-group inputs,
    * which otherwise run the whole pipeline on ONE core (guide §2: an
    * unsplittable file caps the scan, and everything fused behind it, at
    * one task; round-17 stage logs showed 2–7s single-task stages in
    * corpus_build/bitext_mine/train_media at sf0.1). Identity when the
    * source is already parallel (a well-laid-out lake), so no extra
    * exchange appears at scale. Gate on PARALLELISM, not bytes: per-row
    * cost at these call sites dwarfs any size estimate (a 600 KB
    * single-file corpus is seconds of single-core work). Callers pass a
    * near-scan frame projected to the columns they need, so the exchange
    * carries only those.
    */
  def spreadForCpu(df: DataFrame): DataFrame = {
    // The parallelism probe is df.rdd.getNumPartitions, which forces
    // physical planning — and under AQE, on a plan containing exchanges,
    // EAGERLY MATERIALIZES the upstream query stages, so a shuffled input
    // would execute those stages twice (ADVICE r17). Enforce the
    // near-scan contract instead of trusting the comment: reject plans
    // with shuffle-introducing operators. A repartition counts only when
    // it shuffles: `coalesce(n)` (Repartition with shuffle = false) adds
    // no exchange, so the probe runs nothing twice.
    import org.apache.spark.sql.catalyst.plans.logical._
    val offenders = df.queryExecution.optimizedPlan.collect {
      case n @ (_: Join | _: Aggregate | _: Window | _: Sort) => n.nodeName
      case n: RepartitionOperation if n.shuffle => n.nodeName
    }
    require(offenders.isEmpty,
      s"spreadForCpu expects a near-scan (shuffle-free) frame; got " +
        s"operators ${offenders.mkString(", ")} — the .rdd parallelism " +
        "probe would materialize those stages eagerly and the consumer " +
        "would run them twice")
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions * 2 >= want) df else df.repartition(want)
  }
}
