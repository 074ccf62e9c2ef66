package graft.ingest

import graft.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The lake catalogue: one descriptor row per dataset, replacing danae's ES
  * index (ingest/publishing/publishing_api.py:8-49) — and the poll-based
  * profiling work queue over it (ingest/profiling/profiler.py:9-41,
  * profiler_tfidf.py:9-68: fetch batch of status=pending, process, mark
  * done/error).
  *
  * Spark-first shape: the catalogue is a parquet table; "publish" appends
  * descriptors with status=pending; the work queue is an INCREMENTAL BATCH
  * job — filter pending, profile those datasets, upsert statuses. No
  * watermarks or session state are needed (SURVEY.md §2.10): the reference's
  * only streaming is this status poll. The same `profilePending` body can be
  * dropped into `foreachBatch` of a streaming source unchanged.
  */
object Catalog {

  /** Descriptor columns (publishing_api.py:8-17, FIXTURES.md §B.1). */
  val descriptorCols: Seq[String] = Seq(
    "dataset_id", "title", "path", "dtype", "description", "keywords",
    "status", "freqs_status", "time_created")

  /** Publish: append descriptors (status=pending) to the catalogue table
    * (S2; replaces the ES POST of publishing_api.py:33-49).
    */
  def publish(descriptors: DataFrame, catalogDir: String): Unit =
    descriptors.write.mode(SaveMode.Append).parquet(catalogDir)

  /** Build pending descriptors for the fixture tables (eodp_publisher.py:21-38
    * builds them from the catalogue CSV; here the lake IS the fixture dir).
    */
  def fixtureDescriptors(spark: SparkSession, lakeDir: String,
                         tables: Seq[String] = Tables.sketchTables): DataFrame = {
    import spark.implicits._
    tables.map { t =>
      val cols = Tables.load(spark, lakeDir, t).columns.mkString(" ")
      (t, t, s"$lakeDir/$t.parquet", "TABULAR", cols, t, "pending", "pending")
    }.toDF("dataset_id", "title", "path", "dtype", "description", "keywords",
        "status", "freqs_status")
      .withColumn("time_created", current_timestamp())
  }

  /** Descriptors from a metadata catalogue CSV — the reference's publisher
    * walks a `;`-separated catalogue and registers one pending descriptor
    * per row (eodp_publisher.py:16-38: title/notes/tags columns; dataset
    * files live beside the catalogue as `<id>.csv.gz`). Columns missing from
    * the catalogue become nulls; dtype is always TABULAR.
    */
  def fromCatalogueCsv(spark: SparkSession, csvPath: String, dataDir: String): DataFrame = {
    val cat = CsvIngest.read(spark, csvPath)
    def colOr(name: String) =
      if (cat.columns.contains(name)) col(name).cast("string") else lit(null).cast("string")
    cat.select(
      colOr("id").as("dataset_id"),
      colOr("title").as("title"),
      concat(lit(s"$dataDir/"), colOr("id"), lit(".csv.gz")).as("path"),
      lit("TABULAR").as("dtype"),
      colOr("notes").as("description"),
      colOr("tags").as("keywords"),
      lit("pending").as("status"),
      lit("pending").as("freqs_status"),
      current_timestamp().as("time_created"))
  }

  /** Status predicate (P2: profiler.py:18-31's `match status: pending`). */
  def pending(spark: SparkSession, catalogDir: String,
              statusCol: String = "status"): DataFrame =
    spark.read.parquet(catalogDir).filter(col(statusCol) === "pending")

  /** Schema-only pre-validation: loadable + predicate over the schema. This
    * partitions the error domain BEFORE the batch job (parquet footer reads,
    * no Spark jobs), so per-dataset try/catch granularity survives without
    * per-dataset jobs: invalid datasets go straight to status=error, valid
    * ones share one job.
    */
  private def validatePending(spark: SparkSession, lakeDir: String,
                              todo: Seq[String])
                             (ok: DataFrame => Boolean): (Seq[(String, DataFrame)], Seq[String]) = {
    val checked = todo.map { id =>
      try {
        val df = Tables.load(spark, lakeDir, id)
        if (ok(df)) Left(id -> df) else Right(id)
      } catch { case _: Exception => Right(id) }
    }
    (checked.collect { case Left(x) => x }, checked.collect { case Right(x) => x })
  }

  /** Atomic catalogue replacement: write to a staging dir, then swap by
    * rename. The read of the old catalogue completes into staging BEFORE the
    * target is touched, so an executor loss mid-write can never truncate or
    * corrupt the live catalogue (single-writer; concurrent writers need a
    * transactional table format).
    */
  private def atomicOverwrite(spark: SparkSession, updated: DataFrame,
                              dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(dir + ".staging")
    val old = new Path(dir + ".old")
    updated.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    if (fs.exists(old)) fs.delete(old, true)
    fs.rename(target, old)
    fs.rename(staging, target)
    fs.delete(old, true)
  }

  private def applyStatuses(spark: SparkSession, catalogDir: String,
                            statusCol: String, done: Seq[String],
                            error: Seq[String]): DataFrame = {
    import spark.implicits._
    val statusDf = (done.map(_ -> "done") ++ error.map(_ -> "error"))
      .toDF("dataset_id", "new_status")
    val updated = spark.read.parquet(catalogDir)
      .join(broadcast(statusDf), Seq("dataset_id"), "left")
      .withColumn(statusCol, coalesce(col("new_status"), col(statusCol)))
      .drop("new_status")
    atomicOverwrite(spark, updated, catalogDir)
    spark.read.parquet(catalogDir).select("dataset_id", statusCol)
  }

  /** One incremental profiling pass (ST1): profile every pending dataset
    * into the sketch table, then flip its status to done (error on failure).
    * Returns the new statuses.
    *
    * Batched by design: ALL pending datasets feed the shared dense-cid
    * (cid, v) value stream, so a million-dataset backlog is
    * ONE Spark job (one shuffle through the histogram-quantile pipeline, one
    * dynamic-partition write), not a million serial jobs — the reference
    * processes its queue one ES doc at a time (profiler.py:9-41); a batch
    * engine must not. At scale this runs on a schedule or inside
    * `foreachBatch`; each pass only touches pending work.
    */
  /** Datasets per unioned sub-plan in the work queues: the value stream is a
    * UNION of per-dataset reads, so Catalyst's analysis/optimization cost is
    * O(union width) — unbounded backlog must not become an unbounded logical
    * plan. Chunks write independently (dynamic partition overwrite touches
    * only each chunk's dataset partitions) and statuses still flip once,
    * atomically, for the whole pass.
    */
  val defaultUnionChunk: Int = 256

  /** Driver-pull bound for the work queues: each drain iteration collects at
    * most this many PENDING ids (ids only — a slim string column), processes
    * them, flips their statuses, and re-reads the queue; the loop exits when
    * a pull comes back empty. Driver memory is therefore O(maxIdsPerPull)
    * regardless of backlog depth — the catalogue can hold 10⁸ pending
    * datasets without an unbounded `collect()`. The per-dataset dispatch
    * itself is inherently driver-side (each dataset is its own parquet
    * source whose path must reach `spark.read`), which is why the bound is
    * on the pull, not a DataFrame-side dispatch.
    *
    * I/O amplification caveat: each drain iteration flips its pulled ids via
    * [[applyStatuses]], which rewrites the WHOLE catalogue (plain parquet has
    * no row-level update) — draining a backlog of B ids costs B/pullBound
    * full catalogue rewrites, O(N·B/P) I/O. The bound therefore protects
    * DRIVER MEMORY at any depth, but a deployment expecting deep backlogs
    * should raise it (the pull is a slim id column; 10⁶ ids ≈ tens of MB) or
    * keep the catalogue in a row-level-update table format (Delta/Iceberg),
    * where the flip is a merge instead of a rewrite.
    */
  val maxIdsPerPull: Int = 4096

  private def pullPending(spark: SparkSession, catalogDir: String,
                          statusCol: String, bound: Int): Seq[String] = {
    import spark.implicits._
    pending(spark, catalogDir, statusCol).select("dataset_id")
      .sort("dataset_id").limit(bound).as[String].collect().toSeq
  }

  def profilePending(spark: SparkSession, catalogDir: String, lakeDir: String,
                     sketchDir: String,
                     unionChunk: Int = defaultUnionChunk,
                     pullBound: Int = maxIdsPerPull): DataFrame = {
    var todo = pullPending(spark, catalogDir, "status", pullBound)
    while (todo.nonEmpty) {
      val (ok, bad) = validatePending(spark, lakeDir, todo)(
        df => Profiler.sketchCols(df).nonEmpty)
      ok.grouped(unionChunk).foreach { chunk =>
        // the index build's and refresh's pipeline (Profiler.quantileSketches)
        Profiler.quantileSketches(chunk)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("dataset_id").parquet(sketchDir)
      }
      applyStatuses(spark, catalogDir, "status", ok.map(_._1), bad)
      // every pulled id flipped to done/error above, so the next pull is
      // the next slice of the backlog; empty pull = drained
      todo = pullPending(spark, catalogDir, "status", pullBound)
    }
    spark.read.parquet(catalogDir).select("dataset_id", "status")
  }

  /** The second work queue (ST2, profiler_tfidf.py:9-68): for every dataset
    * with freqs_status=pending, compute top-10 TF terms per categorical
    * column into the freqs table and flip freqs_status. Batched like
    * [[profilePending]]: every (dataset, column) token stream unions into
    * one aggregation + one dynamic-partition write.
    */
  def enrichFreqsPending(spark: SparkSession, catalogDir: String, lakeDir: String,
                         freqsDir: String, k: Int = 10,
                         unionChunk: Int = defaultUnionChunk,
                         pullBound: Int = maxIdsPerPull): DataFrame = {
    var todo = pullPending(spark, catalogDir, "freqs_status", pullBound)
    while (todo.nonEmpty) {
      val (ok, bad) = validatePending(spark, lakeDir, todo)(_ => true)
      // chunked like profilePending — the per-(dataset, column) TF ranking is
      // dataset-local, so chunk boundaries cannot change any result
      ok.grouped(unionChunk).foreach { chunk =>
        val tokenStreams = chunk.flatMap { case (id, df) =>
          Profiler.typedColumns(df, "Categorical").map { c =>
            df.select(lit(id).as("dataset_id"), lit(c).as("col_name"),
                explode(graft.functions.TextTokens.lowerSpaceTokens(col(c)))
                  .as("term"))
          }
        }
        tokenStreams.reduceOption(_.unionAll(_)).foreach { tokens =>
          val tf = tokens.groupBy("dataset_id", "col_name", "term")
            .agg(count(lit(1)).as("tf"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("dataset_id", "col_name")
            .orderBy(col("tf").desc, col("term").asc)
          tf.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
            .write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dataset_id").parquet(freqsDir)
        }
      }
      applyStatuses(spark, catalogDir, "freqs_status", ok.map(_._1), bad)
      todo = pullPending(spark, catalogDir, "freqs_status", pullBound)
    }
    spark.read.parquet(catalogDir).select("dataset_id", "freqs_status")
  }
}
