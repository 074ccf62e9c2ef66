package graft.search

import graft.Tables
import graft.ingest.{Embedder, Profiler, TermStats}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the central column-sketch table — the Spark replacement for both
  * danae's ES profile documents and its four R-tree indexes
  * (search/content_search.py:29-34,129-184; search/index.py:6-43).
  *
  * Schema: (dataset_id, col_name, col_type, vector array<double>).
  *  - Numeric / Temporal: 7-dim percentile vector [min,5%,25%,50%,75%,95%,max]
  *  - Categorical: mean-pooled embedding of the column's top-10 TF terms
  *    (word_aggregator.py:13-24), embeddings drawn from the fixture
  *    `embeddings` table via a deterministic term hash.
  *
  * The sketch table IS the index: one parquet scan replaces danae's ES
  * scroll + per-id fetch "train" step (content_search.py:215-253). At scale
  * it is tiny relative to the lake (rows = #datasets × #columns), so search
  * joins against it broadcast.
  */
object Sketches {

  /** Numeric + temporal percentile sketches for the fixture tables. All
    * tables feed ONE (dataset, col, value) stream, so the histogram-quantile
    * pipeline runs as a single shuffle instead of one per table.
    *
    * The cumulative pass is SIZE-ADAPTIVE (same Catalyst-estimate gate as
    * [[Profiler.spreadCols]]): under 64 MB of compressed profiled-column
    * bytes it uses one window partition per column — the cheapest plan, and
    * each task holds at most one fixture column's distinct values; past
    * that, the two-level bucketed cumsum at the session's shuffle
    * parallelism, where no task ever materializes a whole column (the
    * near-unique price column of a 100 TB lineitem would otherwise
    * serialize into one sort). Both paths are deterministic and
    * bucket-count-invariant (ProfilerSpec) — measured at sf0.1 the
    * single-window plan wins by ~2.5s (7.4s vs 4.9s warm, PLANS.md round 9),
    * which is exactly why the gate exists.
    */
  def numericTemporal(spark: SparkSession, dir: String,
                      tables: Seq[String] = Tables.sketchTables): DataFrame = {
    val loaded = tables.map(t => t -> Tables.load(spark, dir, t))
    val sketchBytes = loaded.map { case (_, df) =>
      val cols = Profiler.sketchCols(df).map(_._1)
      if (cols.isEmpty) BigInt(0)
      else df.select(cols.map(col): _*)
        .queryExecution.optimizedPlan.stats.sizeInBytes
    }.sum
    val buckets =
      if (sketchBytes < (64L << 20)) 1
      else spark.sessionState.conf.numShufflePartitions
    // single-row-group parquet caps each table's scan at ONE task, which
    // serializes the 7× explode + histogram partial agg behind it; spread
    // the (narrow, sketch-columns-only) rows across the cluster first —
    // the shuffle carries just the profiled columns, the agg parallelism
    // gain is #cores/table (needless for well-rowgrouped data, harmless:
    // one compact exchange)
    // Dense INT column ids through the corpus-sized histogram pipeline
    // (round 17, guide §2.3): the per-value rows and the histogram
    // aggregation/cumsum keys are a 4-byte cid instead of two strings —
    // the sampled hot frame of the build was UTF8String hashing inside the
    // agg fast-map. The spread keeps exactly the sketch columns, so the
    // ids and values match an unspread build.
    Profiler.quantileSketches(
      loaded.map { case (t, df) => t -> Profiler.spreadSketchCols(df) },
      cumsumBuckets = buckets)
  }

  /** Categorical sketches: per string column, top-10 TF terms of the cell
    * values, mapped to embedding vectors and mean-pooled (profiler.py:113-122
    * column concat → filters.py:137-158 top terms → word_aggregator pooling).
    */
  def categorical(spark: SparkSession, dir: String,
                  tables: Seq[String] = Tables.sketchTables,
                  dim: Int = 64): DataFrame = {
    val embeddings = Tables.load(spark, dir, "embeddings")
    // one scan per table: all categorical columns tokenized via a single
    // explode(array(struct...)) instead of a per-column scan+union
    val tokens = tables.flatMap { t =>
      val df = Tables.load(spark, dir, t)
      val cats = Profiler.typedColumns(df, "Categorical")
      if (cats.isEmpty) None
      else {
        // single-row-group parquet caps the scan at ONE task, which would
        // serialize the ×cats explode + tokenize of the biggest tables on a
        // single core; spread the (categorical-columns-only) projection
        // first. NOT shared with numericTemporal's scan: columnar input
        // means the two sketch families read DISJOINT byte sets, and
        // pinning a combined projection for both was measured 40% SLOWER
        // at sf0.1 (the cache materializes the wide string columns; the
        // "duplicate" scan it saves is footer + task-launch overhead only).
        val spread = Profiler.spreadCols(df, cats)
        Some(spread
          .select(explode(array(cats.map(c =>
            struct(lit(s"$t/$c").as("doc_id"),
              graft.functions.TextTokens.lowerSpaceTokens(col(c))
                .as("toks"))): _*)).as("e"))
          .select(col("e.doc_id").as("doc_id"), explode(col("e.toks")).as("term")))
      }
    }.reduce(_.unionAll(_))
    val topTerms = TermStats.tfTopK(tokens, 10)
    val withVecs = Embedder.termVectors(topTerms, embeddings, "term")
      .withColumn("vec", transform(col("embedding"), _.cast("double")))
    // pooled components rounded to 6 decimals, exactly like the percentile
    // sketches: the mean of <=10 doubles is summation-order-dependent in the
    // last ulp, and rounding both engines' results pins the sketch (and every
    // distance computed from it) to one shared value
    Embedder.meanPoolVec(withVecs, "doc_id", "vec", dim)
      .select(
        split(col("doc_id"), "/").getItem(0).as("dataset_id"),
        split(col("doc_id"), "/").getItem(1).as("col_name"),
        lit("Categorical").as("col_type"),
        transform(col("mean_vec"), v => round(v, 6)).as("vector"))
  }

  /** Spatial bbox sketches for tables with a (long, lat) column pair — the
    * merged 4-d "location" variable (profiler.py:101-111). None when no
    * table in the lake is spatial (the fixture star schema is not).
    */
  def spatial(spark: SparkSession, dir: String,
              tables: Seq[String] = Tables.sketchTables): Option[DataFrame] =
    tables.flatMap { t =>
      val df = Tables.load(spark, dir, t)
      Profiler.spatialPair(df).map { case (x, y) =>
        Profiler.bboxSketch(df, t, x, y)
          .select(col("dataset_id"), lit("location").as("col_name"),
            lit("Spatial").as("col_type"),
            transform(col("vector"), _.cast("double")).as("vector"))
      }
    }.reduceOption(_.unionAll(_))

  /** Full sketch table across column types (Spatial included when present). */
  def all(spark: SparkSession, dir: String): DataFrame = {
    val base = numericTemporal(spark, dir).unionAll(categorical(spark, dir))
    spatial(spark, dir).fold(base)(base.unionAll)
  }

  /** Sketch rows for one ad-hoc dataset (e.g. a freshly ingested CSV):
    * numeric/temporal percentile vectors plus — when a (long, lat) column
    * pair exists — the merged 4-d Spatial bbox variable named "location"
    * (profiler.py:101-111). Output schema matches the sketch table, so the
    * result unions straight into the index and is searchable by knn
    * (Spatial distance is euclidean on the bbox vector,
    * content_search.py:58-70).
    */
  def forDataFrame(df: org.apache.spark.sql.DataFrame, datasetId: String): DataFrame = {
    val base =
      if (Profiler.sketchCols(df).nonEmpty) Profiler.quantileSketch(df, datasetId)
      else df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("dataset_id", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("col_name", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("col_type", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("vector",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))
    Profiler.spatialPair(df) match {
      case Some((x, y)) =>
        val bbox = Profiler.bboxSketch(df, datasetId, x, y)
          .select(col("dataset_id"), lit("location").as("col_name"),
            lit("Spatial").as("col_type"),
            transform(col("vector"), _.cast("double")).as("vector"))
        base.unionAll(bbox)
      case None => base
    }
  }

  // The sketch table is the INDEX: danae builds it once at service startup
  // ("train", content_search.py:215-253) and serves every query from it.
  // Mirror that: build + persist once per (session, dir), reuse across
  // queries. In production this is a parquet/Delta table refreshed by the
  // incremental profiling job, not a per-query computation.
  private val cache = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Explicit "train" step (danae trains at service startup,
    * content_search.py:215-253): build the sketch index and pin it hot.
    * Queries that follow measure SEARCH, not index construction. Returns the
    * pinned index; repeated calls are no-ops for the same (session, dir).
    */
  def train(spark: SparkSession, dir: String): DataFrame = cachedAll(spark, dir)

  def cachedAll(spark: SparkSession, dir: String): DataFrame =
    // first build under the per-(session, dir) lock — shared with
    // refreshDataset, so a concurrent refresh can't interleave with the
    // initial build, and racing first builds can't both run the full train
    // and orphan a checkpointed index (graft.Caching.memoLocked)
    graft.Caching.memoLocked(cache, refreshLocks,
      (spark.sparkContext.applicationId, dir)) {
      // The built sketch is a union over dozens of shuffles — hundreds of
      // near-empty partitions, so every downstream scan would pay hundreds
      // of task launches. It is tiny (#datasets × #columns rows), so pin it
      // as a single-partition cached table — the in-memory index, exactly
      // like danae holds its R-trees in RAM after "train". The pin stays
      // executor-side (no collect/parallelize): at lake scale the sketch
      // table is ~10^8 rows and a driver round-trip would OOM. repartition,
      // NOT coalesce: coalesce(1) collapses the whole final aggregation
      // stage into one task (measured 4s of the build), while repartition
      // keeps it parallel and only the ~100-row result crosses the shuffle.
      // Checkpoint (Caching.pinArtifact), not persist: the index embeds in
      // EVERY search plan, and with full lineage (a union over dozens of
      // shuffles) each query's analysis re-canonicalizes that whole subtree
      // per cache lookup — measured ~2s of driver time per warm
      // similarity_search. A checkpoint's LogicalRDD makes the index
      // plan-size O(1), exactly what refreshDataset already does for
      // refreshed entries. pinArtifact picks RELIABLE checkpoint when the
      // session has a checkpoint dir (cluster: blocks survive executor
      // loss) and localCheckpoint otherwise (single-node bench).
      Prepared.open(graft.Caching.pinArtifact(all(spark, dir).repartition(1)))
    }

  /** Persist the pinned sketch index for (session, dir) to `path` via the
    * crash-safe snapshot protocol ([[graft.Snapshots]]) — the SERVING-side
    * restart story: at lake scale the index is a full-lake profile (the
    * expensive "train"), so a restarted serving session must [[load]] it,
    * not re-profile the lake. Returns false when no index is live. Shares
    * the (session, dir) lock with train/refresh, so a snapshot can't
    * capture a half-spliced refresh.
    */
  def save(spark: SparkSession, dir: String, path: String): Boolean = {
    val k = (spark.sparkContext.applicationId, dir)
    refreshLocks.getOrElseUpdate(k, new Object).synchronized {
      cache.get(k) match {
        case None => false
        case Some(df) =>
          graft.Snapshots.write(spark, path, Seq("sketch" -> df))
          true
      }
    }
  }

  /** Restore a [[save]] snapshot as the pinned index for (session, dir):
    * serving proceeds exactly as after [[train]] (same pin discipline,
    * single partition, O(1) plan embedding), and [[refreshDataset]] keeps
    * maintaining the loaded index. Refuses to shadow a live index — reset
    * first if replacement is intended.
    */
  def load(spark: SparkSession, path: String, dir: String): DataFrame = {
    val k = (spark.sparkContext.applicationId, dir)
    refreshLocks.getOrElseUpdate(k, new Object).synchronized {
      require(!cache.contains(k),
        s"sketch index for '$dir' already live in this session — reset it " +
          "before loading a snapshot over it")
      val pinned = Prepared.open(graft.Caching.pinArtifact(
        spark.read.parquet(
          s"${graft.Snapshots.resolveDir(spark, path)}/sketch")
          .repartition(1)))
      cache.put(k, pinned)
      pinned
    }
  }

  /** Drop the pinned index for (session, dir), with its prepared plans
    * ([[Prepared]]) — the explicit inverse of
    * [[train]], so a benchmark can time a TRUE rebuild (and a test can
    * force a cold path) instead of the memo hit a second [[train]] call is
    * by design. Safe on a refreshed (checkpointed) entry too: the entry is
    * removed from the cache first, so nothing can re-reference its blocks.
    */
  def reset(spark: SparkSession, dir: String): Unit = {
    val appId = spark.sparkContext.applicationId
    memoSwap.synchronized {
      cache.remove((appId, dir)).foreach { index =>
        Prepared.drop(index)
        index.unpersist(blocking = false)
      }
      queryRowsCache.keys.filter(k => k._1 == appId && k._2 == dir)
        .foreach(queryRowsCache.remove)
    }
  }

  private val queryRowsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Seq[Row]]

  /** Orders index swaps and [[queryRowsCache]] updates (see [[queryRows]]). */
  private val memoSwap = new Object

  /** ONE dataset's sketch rows as driver values, memoized per (session,
    * dir, dataset) — the query side of every search. Request-bounded by
    * construction: one dataset's columns, the same rows the reference loads
    * into memory per query (content_search.py:72-96). The memo is
    * demand-filled, so its footprint is bounded by the QUERIED working set
    * (never #datasets — at lake scale the index has ~10^8 rows).
    *
    * A fill publishes its rows only if the index it read is still the live
    * one, checked under the lock [[refreshDataset]] swaps the index and
    * drops the refreshed dataset's entry under ([[memoSwap]]; held for a
    * reference check and a map update, never for a Spark job, so a fill
    * does not wait for a running refresh). Without the check, a
    * request that read the index just before a refresh would re-insert
    * the old version's rows just after the refresh dropped them, and every
    * later request would search with the old version as its query.
    */
  def queryRows(spark: SparkSession, dir: String, datasetId: String): Seq[Row] = {
    val key = (spark.sparkContext.applicationId, dir)
    val k = (key._1, dir, datasetId)
    queryRowsCache.getOrElse(k, {
      val index = cachedAll(spark, dir)
      val rows = index
        .filter(org.apache.spark.sql.functions.col("dataset_id") === datasetId)
        .collect().toSeq
      memoSwap.synchronized {
        if (cache.get(key).exists(_ eq index)) queryRowsCache.putIfAbsent(k, rows)
      }
      rows
    })
  }

  /** [[queryRows]] as a LocalRelation (sketch-table schema). */
  def queryLocal(spark: SparkSession, dir: String, datasetId: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(queryRows(spark, dir, datasetId): _*),
      cachedAll(spark, dir).schema)

  def cachedNumericTemporal(spark: SparkSession, dir: String): DataFrame =
    cachedAll(spark, dir).filter(org.apache.spark.sql.functions.col("col_type")
      .isin("Numeric", "Temporal"))

  private val refreshLocks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  /** Incrementally refresh the pinned index for ONE dataset — the in-memory
    * half of the incremental profiling story (the work queue keeps the
    * durable sketch store current, Catalog.profilePending; this keeps the
    * SERVING index current without the full rebuild): recompute the
    * dataset's sketch rows through the same pipelines as the batch build,
    * splice them in place of the old rows, and atomically swap the cache
    * entry; the old index's prepared plans ([[Prepared]]) are dropped in
    * the same swap. The new index is localCheckpoint'd (lineage cut) BEFORE the
    * swap, so a reader never observes a half-built index.
    *
    * Old-snapshot lifecycle: the ORIGINAL build is a persist() with full
    * lineage — safe to unpersist (a straggling reader recomputes). Snapshots
    * from earlier refreshes are lineage-truncated checkpoints: explicitly
    * unpersisting one would strand any reader still holding it (its blocks
    * cannot recompute), so they are left to Spark's ContextCleaner, which
    * reclaims checkpoint blocks once the last reference is dropped.
    * Refreshes for the same (session, dir) are serialized on a per-key lock
    * so concurrent refreshes cannot interleave their read-modify-swap.
    * Cost is O(one dataset's profile + index size), not O(lake).
    */
  def refreshDataset(spark: SparkSession, dir: String, datasetId: String): DataFrame = {
    val key = (spark.sparkContext.applicationId, dir)
    val lock = refreshLocks.getOrElseUpdate(key, new Object)
    lock.synchronized {
      // The load memo captures the file listing at first read; refresh is
      // the declared "this dataset's files changed" path, so drop it first —
      // a stale plan here serves FAILED_READ_FILE from replaced files.
      Tables.invalidate(spark, dir, datasetId)
      val df = Tables.load(spark, dir, datasetId)
      val ntSp = forDataFrame(df, datasetId)
      val fresh =
        if (Profiler.typedColumns(df, "Categorical").nonEmpty)
          ntSp.unionAll(categorical(spark, dir, Seq(datasetId)))
        else ntSp
      val old = cachedAll(spark, dir)
      val updated = old
        .filter(org.apache.spark.sql.functions.col("dataset_id") =!= datasetId)
        .unionAll(fresh.select(old.columns.map(org.apache.spark.sql.functions.col): _*))
        .repartition(1)
      val updatedPinned = Prepared.open(graft.Caching.pinArtifact(updated))
      memoSwap.synchronized {
        cache.put(key, updatedPinned)
        Prepared.drop(old)
        queryRowsCache.remove((key._1, dir, datasetId))
      }
      val oldIsCheckpoint = old.queryExecution.analyzed.collectFirst {
        case _: org.apache.spark.sql.execution.LogicalRDD => ()
      }.isDefined
      if (!oldIsCheckpoint) old.unpersist(blocking = false)
      // the metadata corpus is derived from table schemas: its BM25
      // artifacts rebuild on next use only if this version's columns differ
      CombinedScorer.refreshMetadata(spark, dir, datasetId, df.columns.toSeq)
      // same family: the table's TF artifact is derived from its rows
      graft.ingest.TermStats.resetTermFreqs(spark, s"$dir#tf:$datasetId")
      // ... as are the dedup-family artifacts built over the table under
      // the `$dir#<family>:<table>` key convention: the admission index
      // (band signatures + token arrays) and gram index under
      // #dedup_idx:<table>, and the near-dup pair artifacts under
      // #pairs:<table> / #pairs_lsh:<table>. A refresh rewrites the
      // table's rows, so every derived index must rebuild on next use —
      // serving pre-refresh pairs/signatures would silently disagree with
      // the refreshed corpus (the TF-artifact rule, applied family-wide).
      graft.extra.Dedup.resetIndex(spark, s"$dir#dedup_idx:$datasetId")
      graft.extra.Dedup.resetPairs(spark, s"$dir#pairs:$datasetId")
      graft.extra.Dedup.resetPairs(spark, s"$dir#pairs_lsh:$datasetId")
      updatedPinned
    }
  }
}
