package graft

import graft.extra.Dedup
import graft.search.{Bm25, CombinedScorer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Locks the round-13 warm-serving-path equivalences: every per-request
  * shortcut (stored BM25 stats adjusted for the excluded query document,
  * the union+aggregate combine, the memoized pair artifact) must be
  * VALUE-IDENTICAL to the inline derivation it replaces — the shortcuts buy
  * driver latency, never different answers.
  */
class ServingPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def asMap(df: DataFrame): Map[String, Seq[Any]] =
    df.collect().map(r => r.getString(0) ->
      (1 until r.length).map(r.get)).toMap

  test("multiFieldWithStats over driver-adjusted stats ≡ multiFieldWithTf " +
    "over the filtered corpus (bit-identical scores)") {
    val docs = Seq(
      ("d1", "alpha beta", "alpha gamma delta", "alpha alpha beta beta"),
      ("d2", "beta gamma", "beta beta", "gamma delta epsilon"),
      ("d3", "alpha delta", "delta", "alpha beta gamma delta"),
      ("d4", "epsilon", "alpha epsilon", "epsilon beta"),
      ("d5", "gamma gamma beta", "gamma", "delta delta")
    ).toDF("doc_id", "title", "keywords", "description")
    val fieldNames = Seq("title", "keywords", "description")
    val tf = Bm25.fieldTermFreqs(docs, "doc_id", fieldNames)
    // query = d3's own field text, corpus = everyone else (the search shape)
    val queryId = "d3"
    val fields = Seq(
      ("title", 1.0 / 3, Seq("alpha", "delta")),
      ("keywords", 1.0 / 3, Seq("delta")),
      ("description", 1.0 / 3, Seq("alpha", "beta", "gamma", "delta")))
    val corpusTf = tf.filter(col("doc_id") =!= queryId)
    val inline = asMap(Bm25.multiFieldWithTf(corpusTf, fields))

    // stored-stats route: full-corpus dl/df, adjusted for the excluded doc
    // exactly as CombinedScorer.metaStatsFor does
    val dlAll = tf.groupBy("doc_id", "field")
      .agg(sum("tf").cast("long").as("dl")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val dfAll = tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val qSet = tf.filter(col("doc_id") === queryId)
      .select("field", "term").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val dl = dlAll.filter(_._1 != queryId).toSeq
    val corpus = dl.groupBy(_._2).toSeq.map { case (f, rows) =>
      (f, rows.size.toLong, rows.map(_._3).sum.toDouble / rows.size) }
    val dfreq = fields.flatMap { case (f, _, ts) => ts.distinct.flatMap { t =>
      val d = dfAll.getOrElse((f, t), 0L) - (if (qSet((f, t))) 1L else 0L)
      if (d > 0) Some((f, t, d)) else None } }
    val stats = asMap(Bm25.multiFieldWithStats(
      corpusTf.filter(Bm25.isQueryTerm(fields)),
      dl.toDF("doc_id", "field", "dl"),
      corpus.toDF("field", "n_docs", "avgdl"),
      dfreq.toDF("field", "term", "df"), fields))
    assert(stats == inline,
      "stored-stats scoring must be bit-identical to the inline derivation")
  }

  test("multiFieldServed (literal-map stats + driver tail) ≡ " +
    "multiFieldWithStats, and returns a LocalRelation") {
    val docs = Seq(
      ("d1", "alpha beta", "alpha gamma delta", "alpha alpha beta beta"),
      ("d2", "beta gamma", "beta beta", "gamma delta epsilon"),
      ("d3", "alpha delta", "delta", "alpha beta gamma delta"),
      ("d4", "epsilon", "alpha epsilon", "epsilon beta"),
      ("d5", "gamma gamma beta", "gamma", "delta delta")
    ).toDF("doc_id", "title", "keywords", "description")
    val fieldNames = Seq("title", "keywords", "description")
    val tf = Bm25.fieldTermFreqs(docs, "doc_id", fieldNames)
    for (queryId <- Seq("d1", "d3", "d5")) {
      val (qt, qk, qd) = docs.filter(col("doc_id") === queryId)
        .select("title", "keywords", "description").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).head
      def terms(s: String) =
        s.toLowerCase.split(" ").filter(_.nonEmpty).distinct.toSeq
      val fields = Seq(("title", 1.0 / 3, terms(qt)),
        ("keywords", 1.0 / 3, terms(qk)), ("description", 1.0 / 3, terms(qd)))
      val corpusTf = tf.filter(col("doc_id") =!= queryId)
      val dlAll = tf.groupBy("doc_id", "field")
        .agg(sum("tf").cast("long").as("dl")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val dfAll = tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val qSet = tf.filter(col("doc_id") === queryId)
        .select("field", "term").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val dl = dlAll.filter(_._1 != queryId).toSeq
      val corpus = dl.groupBy(_._2).toSeq.map { case (f, rows) =>
        (f, rows.size.toLong, rows.map(_._3).sum.toDouble / rows.size) }
      val dfreq = fields.flatMap { case (f, _, ts) => ts.distinct.flatMap { t =>
        val d = dfAll.getOrElse((f, t), 0L) - (if (qSet((f, t))) 1L else 0L)
        if (d > 0) Some((f, t, d)) else None } }
      val qtf = corpusTf.filter(Bm25.isQueryTerm(fields))
      val viaStats = Bm25.multiFieldWithStats(qtf,
        dl.toDF("doc_id", "field", "dl"),
        corpus.toDF("field", "n_docs", "avgdl"),
        dfreq.toDF("field", "term", "df"), fields)
      // row layout: doc_id, one score per field in field order, score
      val served = Bm25.multiFieldServedRows(qtf, dl, corpus, dfreq, fields)
      assert(viaStats.columns.toSeq ==
        "doc_id" +: fields.map(_._1 + "_score") :+ "score")
      // ORDERED equality: the driver tail must reproduce the Spark tail's
      // (score desc, doc_id asc) ranking bit-for-bit, not just the set
      assert(served.map(_.toSeq) ==
        viaStats.collect().map(_.toSeq).toSeq,
        s"served BM25 diverged from the stats path for query $queryId")
    }
  }

  test("candidateEdges via driver candidate ids ≡ the DF semi-join path") {
    val dir = SparkTestSession.sf0001
    val queryId = "customer"
    val sketch = graft.search.Sketches.cachedAll(spark, dir)
    val qRows = graft.search.Sketches.queryRows(spark, dir, queryId)
    val served = graft.search.DistanceJoin.knnLocal(sketch, queryId, qRows, 100, 50)
    val rankedRows = served.collect().toSeq
    val ranked = spark.createDataFrame(java.util.Arrays.asList(rankedRows: _*),
      served.schema)
    val extraIds = Seq("orders", "supplier") // stand-in metadata candidates
    val viaDf = graft.search.DistanceJoin.candidateEdges(sketch, queryId,
      ranked, extraCandidates = Some(extraIds.toDF("dataset_id")))
    val viaIds = graft.search.DistanceJoin.candidateEdgesLocal(sketch, queryId,
      rankedRows, extraIds, qRows)
    def keyed(df: DataFrame) = df.collect().map { r =>
      (r.getAs[String]("c_dataset"), r.getAs[String]("c_col"),
        r.getAs[String]("q_col")) ->
        (r.getAs[Double]("dist"), r.getAs[Double]("kth"),
          r.getAs[Double]("sim"))
    }.toMap
    assert(keyed(viaIds) == keyed(viaDf),
      "driver-id candidate path diverged from the DF semi-join path")
    graft.Caching.release()
  }

  test("metaStatsFor serves LocalRelations whose values equal the inline " +
    "aggregates on the fixture metadata corpus") {
    val dir = SparkTestSession.sf0001
    val queryId = "customer"
    val (t, k, d) = CombinedScorer.queryMetaRow(spark, dir, queryId)
    def terms(s: String) = s.toLowerCase.split(" ").filter(_.nonEmpty).distinct.toSeq
    val fields = Seq(("title", 1.0 / 3, terms(t)),
      ("keywords", 1.0 / 3, terms(k)), ("description", 1.0 / 3, terms(d)))
    val tf = CombinedScorer.metaTermFreqs(spark, dir)
      .filter(col("doc_id") =!= queryId)
    val (dl, corpus, dfreq) = CombinedScorer.metaStatsFor(spark, dir, queryId, fields)
    // each stat table must equal its inline twin row-for-row
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(dl) == rows(tf.groupBy("doc_id", "field")
      .agg(sum("tf").cast("long").as("dl"))))
    assert(rows(corpus) == rows(tf.groupBy("doc_id", "field")
      .agg(sum("tf").as("dl")).groupBy("field")
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))))
    assert(rows(dfreq) == rows(tf.filter(Bm25.isQueryTerm(fields))
      .groupBy("field", "term").agg(count(lit(1)).as("df"))))
    // and the stat frames must be LocalRelations (jobless broadcasts)
    for (f <- Seq(dl, corpus, dfreq))
      assert(f.queryExecution.optimizedPlan.collectLeaves().forall {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _ => false
      }, "per-request stat tables must be LocalRelations")
  }

  test("metaStats driver budget: past the gate the DF-backed fallback " +
    "serves value-identical search results") {
    val dir = SparkTestSession.sf0001
    val qid = "customer"
    def run(): Seq[Seq[Any]] =
      try CombinedScorer.search(spark, dir, qid).collect().map(_.toSeq).toSeq
      finally Caching.release()
    val viaDriver = run()
    assert(viaDriver.nonEmpty)
    // zero budget + invalidate: the mode memo re-decides and flips to the
    // DF-backed inline aggregates (VERDICT r13 What's wrong #3 gate)
    spark.conf.set("spark.graft.metaStats.maxDriverDatasets", "0")
    CombinedScorer.invalidateMetadata(spark, dir)
    try {
      val viaDf = run()
      assert(viaDf == viaDriver,
        "DF-backed stats must be value-identical to the driver-held copy")
    } finally {
      spark.conf.unset("spark.graft.metaStats.maxDriverDatasets")
      CombinedScorer.invalidateMetadata(spark, dir)
    }
  }

  test("served literal-map budget: past the dl-entries gate the search " +
    "falls back to the DF-broadcast stats with value-identical results") {
    val dir = SparkTestSession.sf0001
    val qid = "customer"
    def run(): Seq[Seq[Any]] =
      try CombinedScorer.search(spark, dir, qid).collect().map(_.toSeq).toSeq
      finally Caching.release()
    val viaServed = run() // fixture catalogue ≪ the default 30k dl entries
    assert(viaServed.nonEmpty)
    // zero entry budget: metaStatsLocal returns None while the DRIVER
    // budget still holds, so search takes metaStatsFor's LocalRelation
    // broadcast branch — the intermediate tier VERDICT r15 asked for
    // (literal-map ≤ servedBudget < LocalRelation-broadcast ≤ driverBudget
    // < DF-aggregate). No invalidate needed: the entries gate is evaluated
    // per request, never memoized.
    spark.conf.set("spark.graft.metaStats.maxServedDlEntries", "0")
    try {
      assert(CombinedScorer.metaStatsLocal(spark, dir, qid,
        Seq(("title", 1.0, Seq("customer")))).isEmpty,
        "zero entry budget must close the served literal-map path")
      assert(run() == viaServed,
        "DF-broadcast fallback must be value-identical to the served path")
    } finally spark.conf.unset("spark.graft.metaStats.maxServedDlEntries")
  }

  test("outerScores union+aggregate ≡ full-outer join with zero fill") {
    val content = Seq(
      ("A", 0.81, Seq(("qa", "ca", 0.4))),
      ("B", 0.52, Seq.empty[(String, String, Double)]),
      ("D", 0.11, Seq(("qb", "cd", 0.1)))
    ).toDF("c_dataset", "content_score", "matching")
    val meta = Seq(("B", 1.0), ("C", 0.93)).toDF("c_dataset", "metadata_score")
    val got = CombinedScorer.combine(content, meta, 0.7, 0.3, 10)
    val want = content.join(meta, Seq("c_dataset"), "full_outer")
      .na.fill(0.0, Seq("content_score", "metadata_score"))
      .withColumn("overall_score",
        round(lit(0.7) * col("content_score") + lit(0.3) * col("metadata_score"), 6))
      .orderBy(col("overall_score").desc, col("c_dataset").asc)
    assert(got.select("c_dataset", "content_score", "metadata_score",
        "overall_score").collect().map(_.toSeq).toSeq
      == want.select("c_dataset", "content_score", "metadata_score",
        "overall_score").collect().map(_.toSeq).toSeq)
    // the matching payload survives for content-side rows, null for meta-only
    val m = got.select("c_dataset", "matching").collect()
      .map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(!m("A") && !m("B") && m("C"))
  }

  test("trainedPairs memoizes per key, serves identical pairs, resets cleanly") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .filter(col("doc_id") < 150)
    val key = "spec#pairs"
    Dedup.resetPairs(spark, key)
    val p1 = Dedup.trainedPairs(docs, "doc_id", "text", 0.9, key)
    val p2 = Dedup.trainedPairs(docs, "doc_id", "text", 0.9, key)
    assert(p1 eq p2, "second call must be the memo hit, not a rebuild")
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(p1) == pairs(Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)),
      "memoized pairs must equal the direct operator")
    // LSH variant is its own artifact under a different key
    val pl = Dedup.trainedPairs(docs, "doc_id", "text", 0.9, key + "_lsh",
      lsh = true)
    assert(pairs(pl) == pairs(Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9)))
    Dedup.resetPairs(spark, key)
    val p3 = Dedup.trainedPairs(docs, "doc_id", "text", 0.9, key)
    assert(!(p3 eq p1), "reset must force a true rebuild")
    assert(pairs(p3) == pairs(p1))
    Dedup.resetPairs(spark, key)
  }

  // canonical per-request answer: deterministic row order (combineExact
  // breaks overall-score ties on c_dataset) with the matching payload
  // canonicalized (its within-row entry order is an argmax artifact)
  private def canonSearch(dir: String)(id: String): Seq[String] =
    CombinedScorer.search(spark, dir, id, k = 10)
      .withColumn("matching", sort_array(col("matching")))
      .collect().map(_.mkString("|")).toSeq

  test("concurrent serving: 8 simultaneous requests ≡ the sequential " +
    "answers (per-thread pin registries, shared warm artifacts)") {
    val dir = SparkTestSession.sf0001
    val ids = Tables.sketchTables
    val run = canonSearch(dir) _
    // one warm request builds every shared session artifact up front so the
    // concurrent batch exercises the steady serving path, not racing builds
    // (those have their own memoLocked spec in CheckpointPinSpec)
    run(ids.head); graft.Caching.release()
    val sequential = ids.map(id => id -> run(id)).toMap
    graft.Caching.release()
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(ids.size)
    try {
      val futs = ids.map(id => id -> pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] =
          try run(id) finally graft.Caching.release()
      }))
      futs.foreach { case (id, f) =>
        assert(f.get(180, TimeUnit.SECONDS) == sequential(id),
          s"concurrent result for $id diverged from sequential")
      }
    } finally pool.shutdownNow()
  }

  test("serving during an index refresh: concurrent searches equal the " +
    "sequential answers when the refreshed data is unchanged") {
    val dir = SparkTestSession.sf0001
    val ids = Tables.sketchTables
    val run = canonSearch(dir) _
    run(ids.head); graft.Caching.release()
    val sequential = ids.map(id => id -> run(id)).toMap
    graft.Caching.release()
    // refreshDataset on UNCHANGED files is refresh ≡ rebuild (SearchSpec),
    // so every search racing the swap must return the same rows whether it
    // reads the pre- or post-refresh index — the atomic cache.put plus the
    // pinned old frame staying readable are what this locks.
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(5)
    try {
      val refresher = pool.submit(new Callable[Unit] {
        def call(): Unit =
          try Seq("customer", "orders").foreach { t =>
            graft.search.Sketches.refreshDataset(spark, dir, t)
          } finally graft.Caching.release()
      })
      val searches = (0 until 12).map { i =>
        val id = ids(i % ids.size)
        id -> pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] =
            try run(id) finally graft.Caching.release()
        })
      }
      searches.foreach { case (id, f) =>
        assert(f.get(300, TimeUnit.SECONDS) == sequential(id),
          s"search for $id racing the refresh diverged")
      }
      refresher.get(300, TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    // and the post-refresh steady state still serves the same answers
    ids.foreach { id =>
      assert(run(id) == sequential(id), s"post-refresh answer for $id moved")
    }
    graft.Caching.release()
  }

  test("sketch-index save → reset → load serves identical search answers " +
    "and still accepts refreshDataset") {
    val dir = SparkTestSession.sf0001
    val ids = Tables.sketchTables
    val run = canonSearch(dir) _
    run(ids.head); graft.Caching.release()
    val baseline = ids.map(id => id -> run(id)).toMap
    graft.Caching.release()
    val path = java.nio.file.Files
      .createTempDirectory("sketchsave").toString
    assert(graft.search.Sketches.save(spark, dir, path))
    // simulated serving restart: the trained index is gone, the snapshot
    // restores it without re-profiling the lake
    graft.search.Sketches.reset(spark, dir)
    intercept[IllegalArgumentException] {
      // loading over a live index must refuse — train first, then load
      graft.search.Sketches.train(spark, dir)
      graft.search.Sketches.load(spark, path, dir)
    }
    graft.search.Sketches.reset(spark, dir)
    graft.search.Sketches.load(spark, path, dir)
    ids.foreach { id =>
      assert(run(id) == baseline(id),
        s"post-load answer for $id diverged from the trained index")
    }
    graft.Caching.release()
    // the loaded index keeps accepting incremental maintenance
    graft.search.Sketches.refreshDataset(spark, dir, "customer")
    ids.foreach { id =>
      assert(run(id) == baseline(id),
        s"refresh on the loaded index moved the answer for $id")
    }
    graft.Caching.release()
  }

  test("serving answers are conf-independent: AQE off + 2 static shuffle " +
    "partitions (the dedicated serving conf) ≡ the default conf") {
    val dir = SparkTestSession.sf0001
    val ids = Tables.sketchTables
    val run = canonSearch(dir) _
    run(ids.head); graft.Caching.release()
    val baseline = ids.map(id => id -> run(id)).toMap
    graft.Caching.release()
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      ids.foreach { id =>
        assert(run(id) == baseline(id),
          s"serving-conf answer for $id diverged from the default conf")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
      graft.Caching.release()
    }
  }

  // ---- compile-stable serving path ----

  /** A private copy of the sf0.001 lake: its own (session, dir) artifacts,
    * so a spec can build them cold and replace files without touching the
    * shared fixture's.
    */
  private def lakeCopy(prefix: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    java.nio.file.Files.list(java.nio.file.Paths.get(SparkTestSession.sf0001))
      .forEach { p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(tmp, p.getFileName.toString))
      }
    tmp
  }

  /** Replace `table` of `lake` with `df`, the way a publisher does: write a
    * new file, move it over the old one, drop the load memo.
    */
  private def replaceTable(lake: String, table: String, df: DataFrame): Unit = {
    val out = java.nio.file.Files.createTempDirectory("version").toString + "/v"
    df.coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(lake, s"$table.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Tables.invalidate(spark, lake, table)
  }

  private def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def answer(df: => DataFrame): Seq[Seq[Any]] =
    try df.collect().map(_.toSeq).toSeq finally Caching.release()

  test("compile budget: after one warm request, ui, api and weighted " +
    "requests over every dataset and split compile no new classes") {
    val lake = lakeCopy("compile-budget")
    val cols = graft.search.Sketches.cachedAll(spark, lake)
      .select("dataset_id", "col_name").collect()
      .groupBy(_.getString(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).sorted }
    // the session artifacts first, as a serving session's set-up builds
    // them: their one-off build classes would otherwise share the codegen
    // cache's segments (four LRU segments of 25) with the warm request's
    CombinedScorer.metaStats(spark, lake)
    answer(CombinedScorer.search(spark, lake, "customer"))
    val compiledBy = for (d <- Tables.sketchTables;
         (wc, wm) <- Seq((1.0, 1.0), (2.0, 1.0), (1.0, 3.0), (3.0, 2.0));
         (kind, request) <- Seq[(String, () => DataFrame)](
           "ui" -> (() => CombinedScorer.search(spark, lake, d, 100, 50, 15, wc, wm)),
           "api" -> (() => CombinedScorer.search(spark, lake, d, 30, 10, 5, wc, wm)),
           "weighted" -> (() => Engine.search(spark, lake, Engine.SearchRequest(d,
             Engine.ContentSpec(cols(d).take(3).zipWithIndex
               .map { case (c, i) => c -> (i + 1.0) }.toMap, wc),
             Engine.MetadataSpec(Map("title" -> 2.0, "description" -> wc), wm)))))) yield {
      val before = compiledClasses
      answer(request())
      s"$kind $d $wc:$wm" -> (compiledClasses - before)
    }
    assert(compiledBy.forall(_._2 == 0),
      "warm requests compiled classes of their own (a request value reached " +
        s"generated code): ${compiledBy.filter(_._2 != 0).mkString(", ")}")
  }

  test("the served kNN keeps Spark's window group limit with a held m " +
    "and answers as the literal-bound kNN") {
    val dir = SparkTestSession.sf0001
    val sketch = graft.search.Sketches.cachedAll(spark, dir)
    val qRows = graft.search.Sketches.queryRows(spark, dir, "customer")
    for ((m, l) <- Seq((100, 50), (30, 10))) {
      val served = graft.search.DistanceJoin.knnLocal(sketch, "customer", qRows, m, l)
      assert(served.queryExecution.optimizedPlan.find(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit]).nonEmpty,
        s"M$m/L$l: the served rank filter lost its pre-shuffle group limit")
      def rows(df: DataFrame) =
        df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).toSet
      assert(rows(served) == rows(graft.search.DistanceJoin.knn(sketch, "customer", m, l)))
    }
  }

  test("action budget: a warm request runs at most 4 Spark actions, " +
    "its caller's collect included") {
    val dir = SparkTestSession.sf0001
    answer(CombinedScorer.search(spark, dir, "orders"))
    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = actions.incrementAndGet()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = actions.incrementAndGet()
    }
    def actionsOf(request: => DataFrame): Int = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      actions.set(0)
      answer(request)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      actions.get
    }
    spark.listenerManager.register(listener)
    try {
      assert(actionsOf(CombinedScorer.search(spark, dir, "orders")) <= 4)
      assert(actionsOf(CombinedScorer.search(spark, dir, "orders", 30, 10, 5)) <= 4)
      assert(actionsOf(Engine.search(spark, dir, Engine.SearchRequest("orders",
        Engine.ContentSpec(Map("o_totalprice" -> 2.0, "o_orderdate" -> 1.0), 3.0),
        Engine.MetadataSpec(Map("title" -> 1.0), 1.0)))) <= 4)
    } finally spark.listenerManager.unregister(listener)
  }

  test("multiFieldServed over the query-excluded corpus without the " +
    "query-term filter ≡ the filtered form") {
    val dir = SparkTestSession.sf0001
    def terms(s: String) = s.toLowerCase.split(" ").filter(_.nonEmpty).distinct.toSeq
    for (queryId <- Seq("customer", "lineitem", "region")) {
      val (t, k, d) = CombinedScorer.queryMetaRow(spark, dir, queryId)
      for (fields <- Seq(
        Seq(("title", 1.0 / 3, terms(t)), ("keywords", 1.0 / 3, terms(k)),
          ("description", 1.0 / 3, terms(d))),
        Seq(("description", 0.25, terms(d)), ("title", 0.75, terms(t))))) {
        val (dl, corpus, dfreq) =
          CombinedScorer.metaStatsLocal(spark, dir, queryId, fields).get
        val excluded = CombinedScorer.metaTermFreqs(spark, dir)
          .filter(col("doc_id") =!= queryId)
        val unfiltered = Bm25.multiFieldServedRows(excluded, dl, corpus, dfreq, fields)
        val filtered = Bm25.multiFieldServedRows(
          excluded.filter(Bm25.isQueryTerm(fields)), dl, corpus, dfreq, fields)
        assert(unfiltered.nonEmpty)
        assert(unfiltered.map(_.toSeq) == filtered.map(_.toSeq),
          s"dropping the query-term filter moved $queryId's BM25 scores")
      }
    }
  }

  test("candidateEdgesLocal (driver values, set probe) ≡ the DF semi-join") {
    val dir = SparkTestSession.sf0001
    val sketch = graft.search.Sketches.cachedAll(spark, dir)
    for (queryId <- Seq("customer", "orders")) {
      val qRows = graft.search.Sketches.queryRows(spark, dir, queryId)
      val ranked = graft.search.DistanceJoin.knnLocal(sketch, queryId, qRows, 30, 10)
        .collect().toSeq
      val extraIds = Seq("nation", "supplier", queryId)
      val viaDf = graft.search.DistanceJoin.candidateEdges(sketch, queryId,
        graft.search.DistanceJoin.knn(sketch, queryId, 30, 10),
        extraCandidates = Some(extraIds.toDF("dataset_id")))
      val viaLocal = graft.search.DistanceJoin.candidateEdgesLocal(sketch, queryId,
        ranked, extraIds, qRows)
      def keyed(df: DataFrame) = df.collect().map { r =>
        (r.getAs[String]("c_dataset"), r.getAs[String]("c_col"),
          r.getAs[String]("q_col")) ->
          (r.getAs[Double]("dist"), r.getAs[Double]("kth"), r.getAs[Double]("sim"))
      }.toMap
      val local = keyed(viaLocal)
      assert(local.nonEmpty && local == keyed(viaDf),
        s"driver-value candidate edges diverged for $queryId")
      Caching.release()
    }
  }

  test("combineRows (driver combine) ≡ combineExact on splits 1:1, 2:1, " +
    "1:3 and 3:2, ties on overall_score included") {
    val matching = Seq(Row("q1", "c1", 0.25))
    val content = Seq(
      Row("A", 0.8, matching), Row("B", 0.4, Seq.empty[Row]),
      Row("D", 0.3, matching), Row("E", 0.6, matching),
      Row("F", 0.123457, matching), Row("G", 0.6, matching),
      Row("J", 0.4, matching))
    // B/J and E/G tie on overall_score at every split, and k = 4 cuts
    // through a tie; C and H are metadata-only, A content-only; F's and
    // I's weighted micros are not multiples of 1e6
    val metadata = Seq("B" -> 0.4, "C" -> 0.4, "E" -> 0.2, "G" -> 0.2,
      "H" -> 0.3, "I" -> 0.246913, "D" -> 0.3, "J" -> 0.4)
    val contentDf = spark.createDataFrame(java.util.Arrays.asList(content: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_dataset",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("content_score",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("matching",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("q_col",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("c_col",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("weight",
              org.apache.spark.sql.types.DoubleType))))))))
    val metaDf = metadata.toDF("c_dataset", "metadata_score")
    for ((wc, wm) <- Seq((1.0, 1.0), (2.0, 1.0), (1.0, 3.0), (3.0, 2.0)); k <- Seq(4, 15)) {
      val wcMicro = math.round(wc / (wc + wm) * 1e6)
      val viaSql = CombinedScorer.combineExact(contentDf, metaDf, wcMicro, k)
        .select("c_dataset", "content_score", "matching", "metadata_score",
          "overall_score").collect().map(_.toSeq).toSeq
      val viaDriver = CombinedScorer.combineRows(content, metadata, wcMicro, k)
        .map(_.toSeq)
      assert(viaDriver == viaSql, s"driver combine diverged at split $wc:$wm, k=$k")
    }
  }

  /** Run `fill` on its own thread, hold it at its first Spark query (after
    * it has read whatever memo source it reads, before it can publish what
    * it derives), run `refresh` to completion, then let `fill` finish. A
    * fill that runs no query is not held.
    */
  private def fillAcrossRefresh(fill: => Unit)(refresh: => Unit): Unit = {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var filler: Thread = null
    val hold = new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
        if (Thread.currentThread() eq filler) {
          if (entered.getCount > 0) { entered.countDown(); release.await() }
        }
        plan
      }
    }
    val extra0 = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra0 :+ hold
    try {
      val t = new Thread(() => try fill finally Caching.release())
      filler = t
      t.start()
      while (entered.getCount > 0 && t.isAlive) Thread.sleep(10)
      try refresh finally release.countDown()
      t.join(120000)
      assert(!t.isAlive, "the held fill did not finish")
    } finally spark.experimental.extraOptimizations = extra0
  }

  test("a query-rows memo fill that read the index before a refresh does " +
    "not publish the old version's rows") {
    val lake = lakeCopy("memo-race")
    val index = graft.search.Sketches.cachedAll(spark, lake)
    replaceTable(lake, "customer",
      Tables.load(spark, SparkTestSession.sf0001, "customer")
        .withColumn("c_acctbal", col("c_acctbal") * 3))
    fillAcrossRefresh(graft.search.Sketches.queryRows(spark, lake, "customer")) {
      graft.search.Sketches.refreshDataset(spark, lake, "customer")
    }
    assert(!(graft.search.Sketches.cachedAll(spark, lake) eq index))
    val live = graft.search.Sketches.cachedAll(spark, lake)
      .filter(col("dataset_id") === "customer").collect().map(_.toString).toSet
    assert(graft.search.Sketches.queryRows(spark, lake, "customer")
      .map(_.toString).toSet == live,
      "the memo kept the pre-refresh version's rows")
  }

  test("a metadata-row fill that read the corpus before a column-changing " +
    "refresh does not publish the old description") {
    val lake = lakeCopy("meta-race")
    CombinedScorer.metaStats(spark, lake)
    replaceTable(lake, "customer",
      Tables.load(spark, SparkTestSession.sf0001, "customer")
        .withColumn("freshly_added", lit(1)))
    fillAcrossRefresh(CombinedScorer.queryMetaRow(spark, lake, "customer")) {
      graft.search.Sketches.refreshDataset(spark, lake, "customer")
    }
    assert(CombinedScorer.queryMetaRow(spark, lake, "customer")._3.contains("freshly added"),
      "the row memo kept the pre-refresh description")
  }

  test("metadata artifacts survive a same-schema refresh and rebuild after " +
    "a column change, judged against the corpus, not the replaced file") {
    val lake = lakeCopy("meta-refresh")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(request: => DataFrame): (Int, Seq[Seq[Any]]) = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      jobs.set(0)
      val a = answer(request)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      (jobs.get, a)
    }
    val source = Tables.load(spark, SparkTestSession.sf0001, "customer")
    answer(CombinedScorer.search(spark, lake, "orders"))
    val tf0 = CombinedScorer.metaTermFreqs(spark, lake)
    val stats0 = CombinedScorer.metaStats(spark, lake)
    spark.sparkContext.addSparkListener(listener)
    try {
      val (warmJobs, _) = jobsOf(CombinedScorer.search(spark, lake, "orders"))
      // same columns, new values
      replaceTable(lake, "customer", source.withColumn("c_acctbal", col("c_acctbal") * 2))
      graft.search.Sketches.refreshDataset(spark, lake, "customer")
      assert(CombinedScorer.metaTermFreqs(spark, lake) eq tf0,
        "a same-schema refresh dropped the metadata TF artifact")
      assert(CombinedScorer.metaStats(spark, lake) eq stats0)
      val (jobsAfter, _) = jobsOf(CombinedScorer.search(spark, lake, "orders"))
      assert(jobsAfter == warmJobs,
        s"the request after a same-schema refresh ran $jobsAfter jobs, warm ran $warmJobs")
      // an added column, then a renamed one: the corpus must follow
      for ((version, word) <- Seq(
        source.withColumn("freshly_added", lit(1)) -> "freshly added",
        source.withColumnRenamed("c_name", "c_fullname") -> "c fullname")) {
        val tf = CombinedScorer.metaTermFreqs(spark, lake)
        replaceTable(lake, "customer", version)
        graft.search.Sketches.refreshDataset(spark, lake, "customer")
        assert(!(CombinedScorer.metaTermFreqs(spark, lake) eq tf),
          s"a column change ($word) kept the metadata TF artifact")
        assert(CombinedScorer.queryMetaRow(spark, lake, "customer")._3.contains(word))
        val served = answer(CombinedScorer.search(spark, lake, "customer"))
        CombinedScorer.invalidateMetadata(spark, lake)
        assert(served == answer(CombinedScorer.search(spark, lake, "customer")),
          "the answer after the refresh differs from one over a rebuilt corpus")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ---- prepared served requests ----

  private val splits = Seq((1.0, 1.0), (2.0, 1.0), (1.0, 3.0), (3.0, 2.0))

  /** A request of `kind` for dataset `d` at split `wc`:`wm`: the UI and API
    * defaults over every column and field, or a weighted request over a
    * per-dataset column subset and two of the fields.
    */
  private def request(cols: Map[String, Seq[String]], kind: String, d: String,
                      wc: Double, wm: Double): Engine.SearchRequest = kind match {
    case "ui" => Engine.SearchRequest(d, Engine.ContentSpec(weight = wc),
      Engine.MetadataSpec(weight = wm), 100, 50, 15)
    case "api" => Engine.SearchRequest(d, Engine.ContentSpec(weight = wc),
      Engine.MetadataSpec(weight = wm), 30, 10, 5)
    case "weighted" => Engine.SearchRequest(d,
      Engine.ContentSpec(cols(d).take(3).zipWithIndex
        .map { case (c, i) => c -> (i + 1.0) }.toMap, wc),
      Engine.MetadataSpec(Map("title" -> 2.0, "description" -> 1.0), wm), 60, 20, 10)
  }

  /** The served answer of `req` (CombinedScorer.search's field order for
    * the default fields, Engine.search's otherwise).
    */
  private def served(dir: String, req: Engine.SearchRequest): Seq[Seq[Any]] =
    answer(if (req.metadata.fields.size == 3)
      Engine.search(spark, dir, req, Seq("title", "keywords", "description"))
    else Engine.search(spark, dir, req))

  /** The content and metadata scores of `req` built from scratch: BM25
    * through the DataFrame statistics over the TF table without the query
    * dataset, the batch kNN and candidate edges over the index, and the
    * exact matching over them — collected, so each split's combineExact
    * reads the same rows.
    */
  private def freshParts(dir: String, req: Engine.SearchRequest)
  : (DataFrame, DataFrame) = try {
    val d = req.queryId
    val fieldOrder =
      if (req.metadata.fields.size == 3) Seq("title", "keywords", "description")
      else req.metadata.fields.keys.toSeq.sorted
    val (qt, qk, qd) = CombinedScorer.queryMetaRow(spark, dir, d)
    val text = Map("title" -> qt, "keywords" -> qk, "description" -> qd)
    val weights = Engine.normalize(req.metadata.fields)
    val fields = fieldOrder.map(f => (f, weights(f),
      text(f).toLowerCase.split(" ").filter(_.nonEmpty).distinct.toSeq))
    def local(df: DataFrame) =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    val meta = local(Bm25.multiFieldWithTf(CombinedScorer.metaTermFreqs(spark, dir)
        .filter(col("doc_id") =!= d), fields)
      .select(col("doc_id").as("c_dataset"), col("score").as("metadata_score")))
    val sketch = graft.search.Sketches.cachedAll(spark, dir)
    val queryCols =
      if (req.content.columns.isEmpty) None else Some(req.content.columns.keys.toSeq)
    val edges = graft.search.DistanceJoin.candidateEdges(sketch, d,
      graft.search.DistanceJoin.knn(sketch, d, req.m, req.l, queryCols = queryCols),
      extraCandidates = Some(meta.select("c_dataset")), queryCols = queryCols)
    val content =
      if (req.content.columns.isEmpty) graft.search.Matcher.contentScoresExact(edges,
        sketch.filter(col("dataset_id") === d).count())
      else graft.search.Matcher.contentScoresExactWeighted(edges,
        Engine.microWeights(req.content.columns))
    (local(content), meta)
  } finally Caching.release()

  /** combineExact over `parts` at each of `reqs`' splits, in the served row
    * layout, collected as one union (each branch keeps its own order).
    */
  private def combinedAll(reqs: Seq[Engine.SearchRequest],
                          parts: (DataFrame, DataFrame)): Seq[Seq[Seq[Any]]] = {
    val rows = reqs.zipWithIndex.map { case (req, i) =>
      val (wc, _) = Engine.normalizeSplit(req)
      CombinedScorer.combineExact(parts._1, parts._2, math.round(wc * 1e6), req.k)
        .select(lit(i).as("request"), col("c_dataset"), col("content_score"),
          col("matching"), col("metadata_score"), col("overall_score"))
    }.reduce(_.unionAll(_)).collect()
    reqs.indices.map(i => rows.filter(_.getInt(0) == i)
      .map(r => r.toSeq.tail :+ reqs(i).queryId).toSeq)
  }

  private def combined(req: Engine.SearchRequest,
                       parts: (DataFrame, DataFrame)): Seq[Seq[Any]] =
    combinedAll(Seq(req), parts).head

  private lazy val columnsOf: Map[String, Seq[String]] =
    graft.search.Sketches.cachedAll(spark, SparkTestSession.sf0001)
      .select("dataset_id", "col_name").collect()
      .groupBy(_.getString(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).sorted }

  private val kinds = Seq("ui", "api", "weighted")

  /** Run `f` under the serving session conf (AQE off, 2 static shuffle
    * partitions; answers are conf-independent, see above), which keeps
    * each of the many small queries below cheap.
    */
  private def servingConf[A](f: => A): A = {
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try f finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
  }

  /** Fresh parts of every (kind, dataset) of the fixture lake, built three
    * at a time.
    */
  private lazy val freshOf: Map[(String, String), (DataFrame, DataFrame)] = {
    val dir = SparkTestSession.sf0001
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futs = for (kind <- kinds; d <- Tables.sketchTables) yield
        (kind, d) -> pool.submit(new java.util.concurrent.Callable[(DataFrame, DataFrame)] {
          def call() = freshParts(dir, request(columnsOf, kind, d, 1.0, 1.0))
        })
      futs.map { case (k, f) => k -> f.get(300, java.util.concurrent.TimeUnit.SECONDS) }.toMap
    } finally pool.shutdownNow()
  }

  test("prepared serving: ui, api and weighted requests over every dataset " +
    "and split equal combineExact over freshly built frames, ties included") { servingConf {
    val dir = SparkTestSession.sf0001
    // three clients at a time, as in serving: the answers do not depend on
    // it (the concurrency spec below), the spec's wall time does
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futs = for (kind <- kinds; d <- Tables.sketchTables) yield
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            val reqs = splits.map { case (wc, wm) => request(columnsOf, kind, d, wc, wm) }
            reqs.zip(combinedAll(reqs, freshOf((kind, d)))).collect {
              case (req, want) if served(dir, req) != want =>
                s"$kind $d ${req.content.weight}:${req.metadata.weight}"
            }
          }
        })
      val diverged = futs.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(diverged.isEmpty, s"served answers diverged: ${diverged.mkString(", ")}")
    } finally pool.shutdownNow()
  }}

  test("prepared serving: back-to-back requests of one shape with different " +
    "query datasets each get their own answer") { servingConf {
    val dir = SparkTestSession.sf0001
    for (kind <- kinds) {
      val answers = Seq("orders", "customer", "orders", "part").map { d =>
        val req = request(columnsOf, kind, d, 2.0, 1.0)
        d -> (served(dir, req), combined(req, freshOf((kind, d))))
      }
      answers.foreach { case (d, (got, want)) =>
        assert(got == want, s"$kind $d answered with another request's rows")
      }
      assert(answers.map(_._2._1).distinct.size == 3)
    }
  }}

  test("prepared serving: 3 concurrent clients with mixed shapes equal the " +
    "sequential answers") { servingConf {
    val dir = SparkTestSession.sf0001
    val reqs = for (kind <- kinds; d <- Seq("orders", "customer")) yield
      request(columnsOf, kind, d, 1.0, 3.0)
    val sequential = reqs.map(r => r -> served(dir, r)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      // each client walks the mix from its own offset, so shapes interleave
      val futs = (0 until 3).map { c =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = reqs.indices.map(i => reqs((i + 2 * c) % reqs.size))
            .filter(r => served(dir, r) != sequential(r))
            .map(r => s"${r.queryId} M${r.m}")
        })
      }
      val diverged = futs.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(diverged.isEmpty, s"concurrent answers diverged: ${diverged.mkString(", ")}")
    } finally pool.shutdownNow()
  }}

  /** The RDD behind a checkpointed artifact. */
  private def rddOf(artifact: DataFrame): Int =
    artifact.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get

  /** How many RDDs are persisted once unreachable ones are collected. */
  private def pinnedRdds(): Int = {
    var (prev, cur, tries) = (-1, spark.sparkContext.getPersistentRDDs.size, 0)
    while (cur != prev && tries < 10) {
      System.gc()
      Thread.sleep(200)
      prev = cur
      cur = spark.sparkContext.getPersistentRDDs.size
      tries += 1
    }
    cur
  }

  test("prepared serving: refreshDataset, reset and a column-changing " +
    "invalidateMetadata leave no template on a superseded artifact") { servingConf {
    val lake = lakeCopy("prepared-artifacts")
    val source = Tables.load(spark, SparkTestSession.sf0001, "customer")
    val reqs = kinds.map(k => request(columnsOf, k, "customer", 1.0, 1.0)) :+
      request(columnsOf, "ui", "orders", 1.0, 1.0)
    def templateRdds: Set[Int] = graft.search.Prepared.templates.flatMap(_._3.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }).toSet
    reqs.foreach(served(lake, _))
    val steps = Seq[(String, () => Unit, () => DataFrame)](
      ("refreshDataset", () => {
        replaceTable(lake, "customer", source.withColumn("c_acctbal", col("c_acctbal") * 3))
        graft.search.Sketches.refreshDataset(spark, lake, "customer")
      }, () => graft.search.Sketches.cachedAll(spark, lake)),
      ("reset", () => graft.search.Sketches.reset(spark, lake),
        () => graft.search.Sketches.cachedAll(spark, lake)),
      ("column-changing refresh", () => {
        replaceTable(lake, "customer", source.withColumn("freshly_added", lit(1)))
        graft.search.Sketches.refreshDataset(spark, lake, "customer")
      }, () => CombinedScorer.metaTermFreqs(spark, lake)))
    for ((step, change, artifact) <- steps) {
      val old = rddOf(artifact())
      change()
      artifact() // the successor, built before the requests are counted
      val pinned = pinnedRdds()
      reqs.foreach(served(lake, _))
      assert(!templateRdds.contains(old), s"after $step a template still reads the old artifact")
      // at most: the superseded artifact's own pin is reclaimed whenever
      // the collector gets to it, which can fall inside the requests
      assert(pinnedRdds() <= pinned, s"the requests after $step left pinned RDDs behind")
      // and the served answer is the one over the new version
      if (step == "refreshDataset") {
        val req = request(columnsOf, "ui", "customer", 1.0, 1.0)
        assert(served(lake, req) == combined(req, freshParts(lake, req)),
          s"after $step the answer is not the one over the new version")
      }
    }
  }}

  test("a warm request's driver planning work: at most 2,200 analyzer and " +
    "optimizer rule runs") { servingConf {
    val dir = SparkTestSession.sf0001
    val reqs = kinds.map(k => k -> request(columnsOf, k, "orders", 2.0, 1.0))
    reqs.foreach { case (_, r) => served(dir, r) }
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    val runs = reqs.map { case (kind, r) =>
      kind -> (1 to 3).map { _ =>
        val before = RuleExecutor.getCurrentMetrics().numRuns
        served(dir, r)
        RuleExecutor.getCurrentMetrics().numRuns - before
      }.min
    }
    // a request that rebuilt its plans through the chained Column calls ran
    // ~10.9k rule runs; the prepared plans run ~2k
    assert(runs.forall(_._2 <= 2200), s"rule runs per warm request: ${runs.mkString(", ")}")
  }}
}
