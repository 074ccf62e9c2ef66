package graft
object Bench {
  /** (wall sec, stage run ms, stage cpu ms, compiled classes, driver
    * planning ms by phase) of a line.
    */
  type Timing = (Double, Long, Long, Long, Map[String, Long])

  /** Best-effort recursive delete of a bench-scoped temp directory (the
    * snapshot / stream-source dirs are consumed within their section —
    * loads pin eagerly — so leaving them accumulated parquet across runs).
    */
  private def rmTree(dir: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rec); f.delete(); ()
    }
    try rec(new java.io.File(dir)) catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder("graft-bench", cpus.toInt)
      // Scan-split granularity, probe-tunable: the default 128MB
      // maxPartitionBytes reads a 30MB single-file table as 1-2 tasks,
      // which serializes every scan-heavy pipeline on a 32-core box once
      // the lake outgrows sf0.1 (round-13 decade probe: tokenize stages ran
      // tasks=2 with 30 cores idle; 4MB splits on the multi-row-group sf1.0
      // lake cut rep_metrics wall 9.9 -> 3.0s). NOT hardcoded: the driver's
      // sf0.1 fixtures are single-row-group files where sub-file splits are
      // all EMPTY (a row group belongs to the split holding its midpoint) —
      // pure task-launch overhead. A real 100TB lake writes ~128MB row
      // groups, where the default split size is already right.
      .config("spark.sql.files.maxPartitionBytes",
        s"${sys.env.getOrElse("SPARK_GRAFT_SPLIT_MB", "128").toInt * 1024 * 1024}")
      // Single-JVM probe robustness: the brute audit lines at sf10 push
      // sorter allocation hard enough that a full-GC pause can exceed the
      // default 120s network timeout, and local-mode "executor lost" on a
      // GC pause aborts the line spuriously (observed once on a 64g
      // isolated bitext_recall draw; both 96g full-suite passes were
      // clean). A cluster deployment sizes executor heaps instead.
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StageLog.attachIfEnabled(spark.sparkContext) // GRAFT_STAGES=1 diagnostics
    // JVM/codegen warmup so the first timed query isn't charged startup cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    var failed = List.empty[String]
    // Per-query stage-time attribution (VERDICT r11 "What's wrong #2"): on
    // this microVM the same query's WALL time swings 3–13× under co-tenant
    // load, so BENCH.json also carries summed executor stage run/CPU time —
    // work-proportional observables that survive a noisy draw and make
    // round-over-round comparison mechanical.
    val stageAgg = new StageLog.QueryStageAgg(spark.sparkContext)
    // Driver planning time of the line's queries (analysis, optimization,
    // physical planning), the driver-side share stage times do not see.
    val planAgg = new StageLog.QueryPlanAgg(spark)
    // Classes Spark's codegen compiled: its cache holds 100 generated
    // classes (spark.sql.codegen.cache.maxEntries), and every miss is a
    // Janino compile the line pays for.
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // (wall sec, stage run ms, stage cpu ms, compiled classes, planning ms)
    // for one execution of f
    def timed(name: String)(f: => Unit): Timing = {
      stageAgg.start(name)
      planAgg.start()
      val c0 = compiles
      val t0 = System.nanoTime()
      try f
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name: $e"); failed ::= name
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (runMs, cpuMs) = stageAgg.finish()
      (wall, runMs, cpuMs, compiles - c0, planAgg.finish())
    }
    // Per-metric min over the runs: min wall is the steady-state clock a
    // quiet machine would show; min stage/cpu is the same estimator on the
    // work-proportional axis (stage time varies only a few % run-to-run,
    // which is the point of carrying it); min compiles is the warm run's
    // count, what the line costs once its classes are cached; min planning
    // ms, per phase, likewise.
    def minEach(runs: Seq[Timing]): Timing =
      (runs.map(_._1).min, runs.map(_._2).min, runs.map(_._3).min,
        runs.map(_._4).min,
        runs.flatMap(_._5.keys).distinct.map(p =>
          p -> runs.map(_._5.getOrElse(p, 0L)).min).toMap)
    // Optional comma-separated query-name filter for local iteration
    // (SPARK_GRAFT_ONLY=doc_pagerank,bpe_pairs); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Explicit train steps (danae builds its index at startup, not per
    // query; the BPE merge table is likewise a session artifact): each is
    // charged honestly as its own line, and the queries after them measure
    // steady-state search/encode. A train line filtered out by
    // SPARK_GRAFT_ONLY is OMITTED (not emitted near-zero) — but note the
    // filtered query that first touches the cold cache then pays its build.
    //
    // Train lines are min-of-2 like every other query, each run a TRUE
    // rebuild (the session memo is reset between runs — a bare second call
    // would be a cache hit by design). Uniform methodology: before this,
    // the train lines were the only single-sample numbers in the bench, so
    // they alone carried this microVM's full co-tenant variance — measured
    // at 13.8–18.3s across 5 isolated single-draw train_index runs, which
    // is what repeatedly read as a "regression" (PLANS.md round-10).
    val trainSteps: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("train_index",
        () => search.Sketches.reset(spark, sfDir),
        () => {
          search.Sketches.train(spark, sfDir)
          search.CombinedScorer.datasetMetadata(spark, sfDir).count()
          // the shared BM25 TF artifact belongs to the same index family,
          // as do its driver-held corpus stats (dl/df — the Lucene-style
          // index stats the serving path adjusts per request)
          search.CombinedScorer.metaTermFreqs(spark, sfDir)
          search.CombinedScorer.metaStats(spark, sfDir)
          ()
        }),
      ("train_bpe",
        () => extra.TextStats.resetMerges(spark, sfDir),
        () => {
          extra.TextStats.trainedMerges(
            Tables.load(spark, sfDir, "documents"), "text", 8, Some(sfDir))
          ()
        }),
      ("train_nb",
        () => extra.Classifier.resetModels(spark, sfDir),
        () => {
          extra.Classifier.trainedModel(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text",
            org.apache.spark.sql.functions.col("source")
              .isin("src1", "src2", "src3"), sfDir)
          ()
        }),
      ("train_dedup_idx",
        () => extra.Dedup.resetIndex(spark, sfDir),
        () => {
          // same corpus slice the registered dedup_incremental gate probes
          val docs = Tables.load(spark, sfDir, "documents")
            .filter(org.apache.spark.sql.functions.col("doc_id")
              < SparkEntry.DocBound)
          extra.Dedup.trainedIndex(
            docs.filter(extra.CorpusOps.sampleBucket(
              org.apache.spark.sql.functions.col("doc_id")) < 80),
            "doc_id", "text", s"$sfDir#dedup_idx:documents")
          ()
        }),
      ("train_pairs",
        () => extra.Dedup.resetPairs(spark, sfDir),
        () => {
          // the shared 0.95 near-dup pair artifacts (exact + LSH) probed by
          // dedup_canonical/dedup_clusters/hard_negatives/doc_pagerank —
          // built once here, consumers measure steady-state consumer cost
          val docs = Tables.load(spark, sfDir, "documents")
            .filter(org.apache.spark.sql.functions.col("doc_id")
              < SparkEntry.DocBound)
          // pinArtifact is eager — each call materializes its artifact
          extra.Dedup.trainedPairs(docs, "doc_id", "text", 0.95,
            s"$sfDir#pairs:documents@0.95")
          extra.Dedup.trainedPairs(docs, "doc_id", "text", 0.95,
            s"$sfDir#pairs_lsh:documents@0.95", lsh = true)
          ()
        }),
      ("train_tf",
        () => ingest.TermStats.resetTermFreqs(spark, s"$sfDir#tf:documents"),
        () => {
          // the shared documents TF core probed by the TF family
          // (tf/tfidf top-k, tfidf_knn, bm25_docs, posting_lists) and the
          // unigram-LM family — the in-session form of a maintained
          // inverted-index TF table
          ingest.TermStats.trainedTermFreqs(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text",
            s"$sfDir#tf:documents")
          ()
        }),
      ("train_tf2",
        () => ingest.TermStats.resetTermFreqs(spark, s"$sfDir#tf:documents/bigrams"),
        () => {
          // the bigram-TF artifact (the bigram LM's scoring table; the PMI
          // miner's corpus counts roll up from it by additivity)
          ingest.TermStats.trainedTermFreqs(
            Tables.load(spark, sfDir, "documents"), "doc_id", "text",
            s"$sfDir#tf:documents/bigrams", n = 2)
          ()
        }),
      ("train_media",
        () => extra.Multimodal.resetFeatures(spark, s"$sfDir#media:documents"),
        () => {
          // the decoded media-feature artifact: synthesize REAL encoded
          // payloads (PNG/WAV/MJPEG-AVI, JDK encoders) and run the routed
          // REAL decode workers once — what dedup_media and any media
          // quality gate consume (a served pipeline decodes at ingest)
          extra.Multimodal.trainedFeatures(
            Tables.load(spark, sfDir, "documents"),
            s"$sfDir#media:documents")
          ()
        }),
      ("train_passages",
        () => ingest.TermStats.resetTermFreqs(spark, s"$sfDir#tf:documents/passages"),
        () => {
          // the RAG passage index: chunk the corpus, aggregate chunk-level
          // TF — what passage_search serves from (danae's own search
          // serves from indexes built at ingest, not per query)
          ingest.TermStats.trainedTermFreqs(
            SparkEntry.passagesOf(spark, sfDir), "pid", "chunk_text",
            s"$sfDir#tf:documents/passages")
          ()
        }))
    val trained = trainSteps
      .filter { case (name, _, _) => only.forall(_.contains(name)) }
      .map { case (name, reset, fn) =>
        val runs = (1 to 2).map { i =>
          if (i > 1) reset()
          val t = timed(name)(fn())
          // build-time ephemeral pins only — the sketch/metadata index and
          // the merge-table cache are owned by Sketches/CombinedScorer/
          // TextStats, not the registry, and survive this. The last build
          // leaves the session caches populated for the queries that follow.
          Caching.release()
          t
        }
        name -> minEach(runs)
      }
    // noop sink: forces full materialization of every column (count() would
    // let Catalyst prune per-row work like hashes and scores).
    // Two runs per query, best kept: this microVM has heavy co-tenant noise
    // (the same query swings 3x run-to-run), and min-of-2 measures the
    // steady-state throughput a warm service would see. Training is charged
    // once — its second invocation would hit the session cache by design.
    // min-of-N runs; the driver always gets the default 2. SPARK_GRAFT_RUNS=1
    // is for the decade/century probes, where a full double pass at sf10
    // costs an hour for no adjudication value (the probe's axis is "does
    // the suite hold together + per-family scale factors", not draw noise).
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val queryLines = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val runs = (1 to runsPerQuery).map { _ =>
          val t = timed(name)(
            fn(spark, sfDir).write.mode("overwrite").format("noop").save())
          // drop this query's ephemeral pins (TF tables etc.) before the
          // next run: min-of-2 then measures the steady per-query cost a
          // service pays, not a leaked-cache warm path that grows unbounded.
          Caching.release()
          t
        }
        name -> minEach(runs)
      }
    // reload_artifacts: the RESTART latency of the maintained-artifact
    // family — snapshot the eight warm artifacts (the serving sketch
    // index, admission index, exact + LSH pair tables, unigram/bigram/
    // passage TF, media features) untimed,
    // then time a simulated restart: drop the live artifacts and restore
    // every family from its parquet snapshot (loads pin eagerly, so the
    // line charges the full swap a restarted service pays before serving;
    // values are spec-identical to the trained artifacts —
    // ArtifactPersistenceSpec). Skipped when the train lines were filtered
    // out (nothing warm to snapshot).
    val reloadLines: Seq[(String, Timing)] =
      if (!only.forall(_.contains("reload_artifacts"))) Seq.empty
      else {
        val idxKey = s"$sfDir#dedup_idx:documents"
        val pairsKey = s"$sfDir#pairs:documents@0.95"
        val pairsLshKey = s"$sfDir#pairs_lsh:documents@0.95"
        val tfKeys = Seq(s"$sfDir#tf:documents",
          s"$sfDir#tf:documents/bigrams", s"$sfDir#tf:documents/passages")
        val mediaKey = s"$sfDir#media:documents"
        val snap = java.nio.file.Files
          .createTempDirectory("graft-snap").toString
        val saved =
          search.Sketches.save(spark, sfDir, s"$snap/sketch") &&
          extra.Dedup.indexStore.save(spark, idxKey, s"$snap/idx") &&
          extra.Dedup.pairStore.save(spark, pairsKey, s"$snap/pairs") &&
          extra.Dedup.pairStore.save(spark, pairsLshKey, s"$snap/pairs_lsh") &&
          tfKeys.zipWithIndex.forall { case (k, i) =>
            ingest.TermStats.tfStore.save(spark, k, s"$snap/tf$i") } &&
          extra.Multimodal.featureStore.save(spark, mediaKey, s"$snap/media")
        if (!saved) {
          System.err.println(
            "[bench] reload_artifacts skipped: artifacts not warm")
          Seq.empty
        } else {
          def restart(): Unit = {
            search.Sketches.reset(spark, sfDir)
            extra.Dedup.resetIndex(spark, idxKey)
            extra.Dedup.resetPairs(spark, s"$sfDir#pairs")
            ingest.TermStats.resetTermFreqs(spark, s"$sfDir#tf:documents")
            extra.Multimodal.resetFeatures(spark, mediaKey)
            search.Sketches.load(spark, s"$snap/sketch", sfDir)
            extra.Dedup.indexStore.load(spark, s"$snap/idx", idxKey)
            extra.Dedup.pairStore.load(spark, s"$snap/pairs", pairsKey)
            extra.Dedup.pairStore.load(spark, s"$snap/pairs_lsh", pairsLshKey)
            tfKeys.zipWithIndex.foreach { case (k, i) =>
              ingest.TermStats.tfStore.load(spark, s"$snap/tf$i", k) }
            extra.Multimodal.featureStore.load(spark, s"$snap/media", mediaKey)
          }
          val runs =
            try (1 to runsPerQuery).map { _ =>
              val t = timed("reload_artifacts")(restart())
              Caching.release()
              t
            }
            // loads pin eagerly (reliable checkpoint), so the snapshot
            // files are dead weight once the section ends — reclaim them
            // instead of accumulating a graft-snap dir per bench run
            finally rmTree(snap)
          Seq("reload_artifacts" -> minEach(runs))
        }
      }
    // stream_admit: STREAMING-INGEST throughput — 1,000 unseen documents
    // through the maintained admission gate (admitStreamMaintained) as 2
    // file-source micro-batches, with the full per-batch maintenance a
    // real crawl ingest runs: near-dup verdicts against the stored index,
    // then TF + bigram-TF + pair + gram artifact appends for the admitted
    // set. Seed artifact builds are untimed (a service builds them once);
    // the timed section is gate start → batches drained → stop, so
    // docs/s = 1000 / value. Per-BATCH cost at this scale is a fixed
    // ~4.8s (1/2/4-batch sweep: linear in batch COUNT; PLANS.md round
    // 14), sampled to shuffle-file creation across the five families'
    // tiny exchanges —
    // hence the scoped ingest conf below and 500-doc batches, with real
    // crawl batch sizes amortizing the remainder. Own key namespace: the
    // standard artifacts are untouched.
    val streamLines: Seq[(String, Timing)] =
      if (!only.forall(_.contains("stream_admit"))) Seq.empty
      else {
        import org.apache.spark.sql.functions.col
        val base = s"$sfDir#stream_admit"
        val docs = Tables.load(spark, sfDir, "documents")
        val seed = docs.filter(col("doc_id") < SparkEntry.DocBound)
          .filter(extra.CorpusOps.sampleBucket(col("doc_id")) < 80)
          .select("doc_id", "text")
        val incoming = docs
          .filter(col("doc_id") >= SparkEntry.DocBound &&
            col("doc_id") < SparkEntry.DocBound + 1000)
          .select("doc_id", "text")
        val streamDir = java.nio.file.Files
          .createTempDirectory("graft-stream").toString
        (0 until 2).foreach { i =>
          incoming.filter(col("doc_id") % 2 === i)
            .coalesce(1).write.mode("append").parquet(streamDir)
        }
        val (idxKey, gramKey) = (s"$base:idx", s"$base:gram")
        val (tfKey, tf2Key, pairsKey) =
          (s"$base:tf", s"$base:tf2", s"$base:pairs")
        def resetGate(): Unit = {
          extra.Dedup.resetIndex(spark, base) // idx + gram (+ its ledger)
          extra.Dedup.resetPairs(spark, base)
          ingest.TermStats.resetTermFreqs(spark, base)
        }
        def seedGate(): Unit = {
          extra.Dedup.trainedIndex(seed, "doc_id", "text", idxKey)
          extra.Dedup.trainedGramIndex(seed, "doc_id", "text", gramKey, 20)
          ingest.TermStats.trainedTermFreqs(seed, "doc_id", "text", tfKey)
          ingest.TermStats.trainedTermFreqs(seed, "doc_id", "text", tf2Key,
            n = 2)
          extra.Dedup.trainedPairs(seed, "doc_id", "text", 0.95, pairsKey)
          ()
        }
        def drain(): Unit = {
          val stream = spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", "1").parquet(streamDir)
          val q = streaming.CorpusStream.admitStreamMaintained(
            stream, seed, idxKey, threshold = 0.95,
            tfCacheKeys = Seq(tfKey, tf2Key),
            pairsSpecs = Seq((pairsKey, 0.95, false)),
            gramSpecs = Seq((gramKey, 20))) { (_, _) => () }
          try q.processAllAvailable() finally q.stop()
        }
        // Ingest-session conf, scoped like the steady section's serving
        // conf: the gate's per-batch frames are batch-sized, so 32-way
        // exchanges just multiply tiny shuffle files — the gate's
        // stack-sampled hotspot (PLANS.md round 14) was
        // FileOutputStream.open0 across hundreds of map tasks. AQE off +
        // 4 static partitions: 4-batch drain 20.7 → 13.2s wall, 135 →
        // 38.5s cpu (A/B, repeats within 1s).
        // Values are partitioning-independent (the grown ≡ fresh specs).
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        // finally-scoped: an exception inside a timed drain must not leak
        // the ingest conf into the rest of the run, nor the stream dir /
        // gate artifacts onto disk
        val runs =
          try (1 to runsPerQuery).map { _ =>
            resetGate(); seedGate()
            val t = timed("stream_admit")(drain())
            Caching.release()
            t
          } finally {
            resetGate()
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.shuffle.partitions", cpus)
            rmTree(streamDir)
          }
        Seq("stream_admit" -> minEach(runs))
      }
    // Warm-REQUEST latency line (VERDICT r11 next #5): the second and later
    // consecutive searches against hot session artifacts — the steady-state
    // serving cost the r11 checkpoint work bought, locked as its own
    // regression surface. One untimed warm call absorbs any cold artifact
    // build; the timed runs pay only per-request work (query-scoped pins
    // are released per request, as a service would).
    val steadyLines =
      if (!only.forall(o => o.contains("steady_search") ||
        o.contains("steady_search_mt"))) Seq.empty
      else {
        // Serving-session latency conf, scoped to the steady-state section
        // (the rest of the bench runs untouched, before this). The request
        // path's exchanges hold O(request) rows, so the adaptive machinery
        // only adds driver round-trips here: AQE ON + size-first coalescing
        // ran 17 jobs/request at ~1.2s; AQE OFF with 32 STATIC partitions
        // is far worse (64s summed stage time — 32 task launches per tiny
        // exchange); but AQE OFF with shuffle.partitions=2 is the dedicated
        // serving sweet spot — 10 jobs/request, ~0.8s single-request wall,
        // ~half the cpu (A/B min-of-2 each, PLANS.md round 14). Results are
        // conf-independent (exact integer scoring; ServingPathSpec locks
        // the equality). A real deployment runs batch and serving on
        // SEPARATE sessions with exactly this split.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        def request(): Unit = {
          search.CombinedScorer.search(spark, sfDir, "customer")
            .write.mode("overwrite").format("noop").save()
          Caching.release()
        }
        // each steady line honors its own exact-name filter (like every
        // other section) — the shared serving-conf scope is all they share
        val runSingle = only.forall(_.contains("steady_search"))
        val runMt = only.forall(_.contains("steady_search_mt"))
        // finally-scoped (below): an exception inside a timed request must
        // not leak the serving conf into the rest of the run
        val (runs, mtRuns) = try {
        try request() catch { case e: Throwable =>
          System.err.println(s"[bench] steady_search warmup: $e")
        }
        val runs = if (!runSingle) Seq.empty else
          (1 to runsPerQuery).map(_ => timed("steady_search")(request()))
        // steady_search_mt: the MULTI-USER serving shape — 8 concurrent
        // request threads, 2 requests each (every sketch table once per
        // thread-pair), against the same hot session artifacts. danae is a
        // service; single-request latency alone hides scheduler/driver
        // contention and any shared-cache races (correctness under this
        // exact shape is spec-locked in ServingPathSpec). Wall for the
        // 16-request batch: throughput = 16 / value. One untimed batch
        // absorbs the per-dataset warm memo (Sketches.queryRows).
        val qids = Tables.sketchTables
        def mtBatch(): Unit = {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
          try {
            val futs = (0 until 16).map { i =>
              val id = qids(i % qids.size)
              pool.submit(new java.util.concurrent.Callable[Unit] {
                def call(): Unit =
                  try {
                    search.CombinedScorer.search(spark, sfDir, id)
                      .write.mode("overwrite").format("noop").save()
                  } finally Caching.release()
              })
            }
            futs.foreach(_.get())
          } finally pool.shutdownNow()
        }
        val mtRuns =
          if (!runMt) Seq.empty
          else {
            try mtBatch() catch { case e: Throwable =>
              System.err.println(s"[bench] steady_search_mt warmup: $e")
            }
            (1 to runsPerQuery).map(_ => timed("steady_search_mt")(mtBatch()))
          }
        (runs, mtRuns)
        } finally {
          spark.conf.set("spark.sql.adaptive.enabled", "true")
          spark.conf.set("spark.sql.shuffle.partitions", cpus)
        }
        (if (runs.nonEmpty) Seq("steady_search" -> minEach(runs)) else Nil) ++
          (if (mtRuns.nonEmpty)
            Seq("steady_search_mt" -> minEach(mtRuns)) else Nil)
      }
    val results =
      (trained ++ queryLines ++ reloadLines ++ streamLines ++
        steadyLines).toMap
    def jmap(f: ((String, Timing)) => String): String =
      results.map { case (k, v) => s""""$k":${f((k, v))}""" }
        .mkString("{", ",", "}")
    val qs = jmap { case (k, (wall, _, _, _, _)) =>
      // failed queries get a negative sentinel so the JSON can't read green
      (if (failed.contains(k)) -wall else wall).toString
    }
    val stage = jmap { case (_, (_, runMs, _, _, _)) => runMs.toString }
    val cpu = jmap { case (_, (_, _, cpuMs, _, _)) => cpuMs.toString }
    val compiled = jmap { case (_, (_, _, _, n, _)) => n.toString }
    val planMs = jmap { case (_, (_, _, _, _, ms)) =>
      ms.toSeq.sorted.map { case (p, v) => s""""$p":$v""" }.mkString("{", ",", "}")
    }
    val errs = failed.distinct.map(n => s"\"$n\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // A filtered (partial) run is marked in the JSON so it can never be
    // mistaken for a full-run BENCH.json.
    val onlyKey = only.map(s =>
      s""","only":${s.toSeq.sorted.map(n => s"\"$n\"").mkString("[", ",", "]")}""").getOrElse("")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"stage_ms":$stage,"cpu_ms":$cpu,"compiles":$compiled,"plan_ms":$planMs,"errors":$errs,"runs_per_query":$runsPerQuery,"sf":"$sfDir"$onlyKey}"""
    // Truncation-proof emission (VERDICT r15 What's wrong #4): the driver
    // captures only stdout's TAIL (~2 KB), and the full line is ~10 KB at
    // 143 queries — so BENCH_r{N}.json kept landing head-truncated with
    // "parsed": null. Emit a COMPACT summary line (headline total + the
    // top-20 slowest queries, well under the capture window) both BEFORE
    // the full line (head-capture insurance) and as the LAST line of
    // stdout (tail-capture insurance); the complete per-query map always
    // survives in the BENCH.json file write below.
    val top = results.toSeq.sortBy(-_._2._1).take(20).map { case (k, v) =>
      s""""$k":${(if (failed.contains(k)) -v._1 else v._1)}"""
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"top_queries":$top,"errors":$errs,"runs_per_query":$runsPerQuery,"sf":"$sfDir"$onlyKey,"full":"BENCH.json"}"""
    println(compact)
    println(json)
    // Also persist the full line: the stdout capture can't be trusted with
    // it, the file can't truncate.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")),
        (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] write: $e") }
    println(compact)
    spark.stop()
  }
}
