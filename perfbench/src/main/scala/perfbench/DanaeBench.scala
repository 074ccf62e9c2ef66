package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM program: runs one workload against the engine in a fresh
  * `local[cpus]` session and writes `result.json` into the work directory.
  *
  * Usage: DanaeBench <workload> <workDir> <seconds> <trace 0|1> <seed> <cpus>
  *
  * The work directory holds the generated inputs (`lake/`, `inputs.json`
  * and, per workload, `versions/` or `stream/`). With trace 1 the measured
  * phase runs three times, for half of `seconds` each: untraced, traced,
  * untraced. The per-layer metrics come from the traced phase; its headline
  * latency against the mean of the two untraced ones is the tracing
  * overhead, so warm-up drift across the run largely cancels.
  */
object DanaeBench {

  /** Confs the numbers depend on, set explicitly rather than inherited from
    * whatever launches the JVM.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("danaespark-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // set for the engine by build.sbt's javaOptions; without it AQE may
      // not coalesce the output of pinned frames
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.network.timeout", "600s")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/stream-checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** graft.Bench's scoped serving conf (Bench.scala:401-402). */
  def servingConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
  }

  /** graft.Bench's scoped ingest conf (Bench.scala:360-361). */
  def ingestConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  val ReportedConfs = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.files.maxPartitionBytes", "spark.sql.session.timeZone",
    "spark.network.timeout")

  def confs(spark: SparkSession): Map[String, String] =
    ReportedConfs.map(k => k -> spark.conf.getOption(k)
      .orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("<unset>")).toMap

  // ---- statistics ----

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Persisted RDDs once the ContextCleaner has reclaimed unreachable ones,
    * so the count (and `storedMb` right after it) moves only with pins
    * something still holds: collect garbage until the count stops changing.
    */
  def persistentRdds(spark: SparkSession): Int = {
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

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val timeline = mutable.LinkedHashMap.empty[String, Double]
  def mark(what: String): Unit =
    timeline(what) = (System.currentTimeMillis() - jvmStart) / 1000.0

  // ---- main ----

  /** How often set-up runs; its median is setup_s. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsS, traceS, seedS, cpusS) = args
    val (seconds, trace, seed, cpus) =
      (secondsS.toDouble, traceS == "1", seedS.toLong, cpusS.toInt)
    val spark = session(cpus, work)
    mark("session")
    val tracer = new Tracer(spark.sparkContext)
    tracer.setEnabled(trace)
    println(s"[perfbench] effective confs: ${confs(spark).toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    val out = new Result
    out.info("seed") = seed
    out.info("seconds") = seconds
    out.info("cpus") = cpus
    out.info("confs") = confs(spark)
    try workload match {
      case "serve_publish" => runServing(spark, tracer, work, seconds, trace, seed, cpus, out)
      case "corpus_admit" => runAdmit(spark, tracer, work, seconds, trace, out)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    } catch { case e: Throwable =>
      e.printStackTrace()
      out.check("workload completed", ok = false, e.toString)
    } finally {
      if (trace) {
        AllLayers.foreach(k => if (!out.layer.contains(k)) out.layer(k) = 0.0)
        tracer.drain()
        Files.write(Paths.get(s"$work/trace.jsonl"), tracer.spansJson.toSeq.asJava, UTF_8)
      }
      mark("end")
      out.info("timeline_s") = timeline
      Files.write(Paths.get(s"$work/result.json"), out.json.getBytes(UTF_8))
      spark.stop()
    }
  }

  /** Accumulates what the run reports back to run.py. */
  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val oracle = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L
    var failed = 0L
    def check(name: String, ok: Boolean, detail: String = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    def json: String = Json.value(Map(
      "attempted" -> attempted, "failed" -> failed, "e2e" -> e2e, "layer" -> layer,
      "info" -> info, "checks" -> checks, "oracle" -> oracle))
  }

  private def readInputs(work: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(s"$work/inputs.json").toFile)

  private def elems(n: com.fasterxml.jackson.databind.JsonNode) =
    n.elements().asScala.toSeq

  // ---- serve_publish ----

  def runServing(spark: SparkSession, tracer: Tracer, work: String,
                 seconds: Double, trace: Boolean, seed: Long, cpus: Int,
                 out: Result): Unit = {
    val versions = elems(readInputs(work).path("versions"))
      .map(v => (v.get("table").asText, v.get("file").asText))
    val sv = new Serving(spark, tracer, s"$work/lake", work, seed, cpus, versions)
    val reps = (1 to SetupReps).map(_ => sv.setupOnce())
    out.info("catalog_bootstrap_s") = sv.bootstrapCatalog()
    out.attempted += SetupReps + 1
    mark("setup")
    servingConf(spark)
    sv.gen // the request generator reads the index's columns outside the measured phase
    // one request per dataset first, so the measured phase starts against a
    // hot index: per-dataset memos filled, the request path's classes loaded
    // and compiled
    tracer.setEnabled(false)
    try sv.warm() finally tracer.setEnabled(trace)
    val rddsBefore = persistentRdds(spark)
    def phase(traced: Boolean): Phase = {
      tracer.setEnabled(traced)
      try if (trace) sv.measure(seconds / 2, 1) else sv.measure(seconds, sv.publishes)
      finally tracer.setEnabled(trace)
    }
    val before = if (trace) Some(phase(false)) else None
    val ph = phase(trace)
    val after = if (trace) Some(phase(false)) else None
    mark("measured")
    // the lake is final: run.py may start the oracle queries now
    Files.write(Paths.get(s"$work/oracle_sql.json"),
      Json.value(OracleQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap).getBytes(UTF_8))
    Files.write(Paths.get(s"$work/measured.done"), Array.emptyByteArray)
    tracer.drain()
    val rddsAfter = persistentRdds(spark)
    val artifactMb = storedMb(spark)

    val phases = before.toSeq ++ Seq(ph) ++ after
    val reqs = phases.flatMap(_.requests)
    val pubs = phases.flatMap(_.publishes)
    out.attempted += reqs.size + pubs.size
    out.failed += reqs.count(!_.ok) + pubs.count(!_.ok)
    // a failed request or publish counts as slower than any that answered
    val lat = ph.requests.map(d => if (d.ok) d.ms else 1e6)
    out.e2e("setup_s") = median(reps)
    out.e2e("first_answer_s") = median(ph.publishes.map(p => if (p.ok) p.seconds else 1e3))
    out.e2e("latency_p50_ms") = median(lat)
    out.e2e("throughput_per_s") = ph.perS
    out.e2e("artifact_mb") = artifactMb

    out.info("requests") = ph.requests.size
    out.info("requests_during_publishes") = ph.duringPublish.size
    out.info("clients") = sv.requesters
    out.info("setup_reps_s") = reps
    out.info("publish_searchable_s") = ph.publishes.map(_.seconds)
    out.info("repeat_share") = repeatShare(ph.requests.map(_.req.key))
    out.info("persistent_rdds_before_after") = Seq(rddsBefore, rddsAfter)
    out.check("Caching.persistent_rdds not grown by the measured phase",
      rddsAfter <= rddsBefore, s"$rddsBefore before, $rddsAfter after")

    // checks, outside the timed regions
    val (n, bad, tail) = sv.reissueCheck(reqs, 3)
    out.attempted += tail.size
    out.failed += tail.count(!_.ok)
    out.check(s"concurrent answers equal single-threaded re-issue ($n sampled)",
      bad.isEmpty && n > 0, bad.take(3).mkString(" || "))
    out.check("every publish became searchable", pubs.nonEmpty && pubs.forall(_.ok),
      pubs.filterNot(_.ok).map(_.table).mkString(","))
    val stale = sv.memoCheck(pubs.map(_.table))
    out.check("Sketches.queryLocal of each published dataset equals its index rows",
      stale.isEmpty, stale.mkString(" || "))
    OracleQueries.foreach(q => out.oracle += Map("name" -> q, "rows" -> sv.answer(q)))
    mark("checked")
    if (trace) servingLayers(tracer, ph, Seq(before.get, after.get), rddsAfter, artifactMb, out)
  }

  /** The requests with oracle SQL (`SparkEntry.oracleSql`). */
  val OracleQueries = Seq("similarity_search", "similarity_search_orders",
    "similarity_search_weighted")

  def repeatShare(keys: Seq[String]): Double =
    1.0 - keys.distinct.size.toDouble / math.max(1, keys.size)

  def servingLayers(tracer: Tracer, ph: Phase, untraced: Seq[Phase], rdds: Int, mb: Double,
                    out: Result): Unit = {
    def inWindow(s: Span) = s.startMs >= ph.startMs && s.startMs <= ph.endMs
    val reqs = tracer.spansOf("request").filter(inWindow)
    val n = math.max(1, reqs.size).toDouble
    val jobsOf = reqs.map(s => s -> tracer.jobsUnder(s)).toMap
    def perReq(f: JobRec => Double) = jobsOf.values.map(_.map(f).sum).sum / n
    val L = out.layer
    L("search.jobs_per_req") = perReq(_ => 1.0)
    L("search.stages_per_req") = perReq(_.stages.toDouble)
    L("search.tasks_per_req") = perReq(_.tasks.toDouble)
    L("search.driver_ms_per_req") =
      reqs.map(s => (s.endNs - s.startNs) / 1e6 - tracer.busyMs(s)).sum / n
    L("search.exec_cpu_ms_per_req") = perReq(_.cpuMs.toDouble)
    L("search.result_bytes_per_req") = perReq(_.resultBytes.toDouble)
    for ((module, name) <- SearchModules) {
      val js = jobsOf.values.flatten.filter(_.module == module)
      L(s"search.$name.jobs_per_req") = js.size / n
      L(s"search.$name.job_ms_per_req") = js.map(_.durMs).sum / n
    }
    L("search.latency_p95_ms") = quantile(ph.requests.filter(_.ok).map(_.ms), 0.95)
    L("search.latency_while_publishing_p50_ms") = orZero(median(ph.duringPublish.filter(_.ok).map(_.ms)))
    L("loadgen.repeat_share") = repeatShare(ph.requests.map(_.req.key))

    val trains = tracer.spansOf("train")
    val lastTrain = tracer.jobsUnder(trains.last)
    L("search.Sketches.train_s") = median(trains.map(_.seconds))
    L("search.Sketches.train_jobs") = lastTrain.size
    L("search.Sketches.train_tasks") = lastTrain.map(_.tasks).sum
    L("search.Sketches.train_shuffle_write_bytes") = lastTrain.map(_.shuffleWrite).sum
    L("search.Sketches.train_spill_bytes") = lastTrain.map(_.spill).sum
    L("search.Sketches.train_exec_cpu_ms") = lastTrain.map(_.cpuMs).sum
    val metas = tracer.spansOf("meta_build")
    L("search.CombinedScorer.meta_build_s") = median(metas.map(_.seconds))
    L("search.CombinedScorer.meta_build_jobs") = tracer.jobsUnder(metas.last).size

    def spansIn(kind: String) = tracer.spansOf(kind).filter(inWindow)
    val pubs = spansIn("publish")
    val np = math.max(1, pubs.size).toDouble
    L("ingest.Catalog.publish_ms") = orZero(median(spansIn("catalog_publish").map(_.seconds * 1000)))
    val prof = spansIn("profile_pending")
    L("ingest.Catalog.profile_pending_s") = orZero(median(prof.map(_.seconds)))
    L("ingest.Catalog.profile_pending_jobs") = prof.map(tracer.jobsUnder(_).size).sum / np
    L("ingest.Catalog.bytes_written_per_publish") =
      pubs.map(tracer.jobsUnder(_).map(_.outputBytes).sum).sum / np
    val refresh = spansIn("refresh")
    L("search.Sketches.refresh_s") = orZero(median(refresh.map(_.seconds)))
    L("search.Sketches.refresh_jobs") = refresh.map(tracer.jobsUnder(_).size).sum / np
    L("search.Sketches.refresh_exec_cpu_ms") =
      refresh.map(tracer.jobsUnder(_).map(_.cpuMs).sum).sum / np
    val probes = spansIn("probe")
    L("search.req_after_refresh_ms") = orZero(median(probes.map(_.seconds * 1000)))
    val medJobs = median(jobsOf.values.map(_.size.toDouble).toSeq)
    L("search.meta_rebuild_jobs") =
      if (probes.isEmpty) 0.0 else mean(probes.map(tracer.jobsUnder(_).size - medJobs))
    L("ingest.publish_searchable_max_s") = orZero((ph.publishes.map(_.seconds) :+ 0.0).max)
    commonLayers(tracer, ph.startMs, ph.endMs, rdds, mb, out)
    L("trace.overhead_pct") = overheadPct(median(ph.requests.filter(_.ok).map(_.ms)),
      mean(untraced.map(u => median(u.requests.filter(_.ok).map(_.ms)))))
  }

  /** Call-site module of a request's jobs -> its metric name. `Requests`
    * is the request's final collect; `CompletableFuture` marks jobs run
    * from a pool thread, such as broadcast builds.
    */
  val SearchModules = Seq("DistanceJoin" -> "DistanceJoin", "Bm25" -> "Bm25",
    "Matcher" -> "Matcher", "CombinedScorer" -> "CombinedScorer",
    "Sketches" -> "Sketches", "Engine" -> "Engine", "Requests" -> "result",
    "CompletableFuture" -> "async")

  def orZero(x: Double): Double = if (x.isNaN) 0.0 else x

  def overheadPct(traced: Double, untraced: Double): Double =
    orZero((traced / untraced - 1.0) * 100)

  /** Layer metrics every workload reports; a layer the workload does not
    * exercise reads 0.
    */
  val AllLayers: Seq[String] = Seq(
    "search.jobs_per_req", "search.stages_per_req", "search.tasks_per_req",
    "search.driver_ms_per_req", "search.exec_cpu_ms_per_req",
    "search.result_bytes_per_req") ++
    SearchModules.flatMap { case (_, m) => Seq(s"search.$m.jobs_per_req", s"search.$m.job_ms_per_req") } ++ Seq(
    "search.latency_p95_ms", "search.latency_while_publishing_p50_ms",
    "loadgen.repeat_share",
    "search.Sketches.train_s", "search.Sketches.train_jobs", "search.Sketches.train_tasks",
    "search.Sketches.train_shuffle_write_bytes", "search.Sketches.train_spill_bytes",
    "search.Sketches.train_exec_cpu_ms", "search.CombinedScorer.meta_build_s",
    "search.CombinedScorer.meta_build_jobs",
    "ingest.Catalog.publish_ms", "ingest.Catalog.profile_pending_s",
    "ingest.Catalog.profile_pending_jobs", "ingest.Catalog.bytes_written_per_publish",
    "search.Sketches.refresh_s", "search.Sketches.refresh_jobs",
    "search.Sketches.refresh_exec_cpu_ms", "search.req_after_refresh_ms",
    "search.meta_rebuild_jobs", "ingest.publish_searchable_max_s",
    "streaming.CorpusStream.jobs_per_batch", "streaming.CorpusStream.stages_per_batch",
    "streaming.CorpusStream.tasks_per_batch", "streaming.CorpusStream.shuffle_bytes_per_batch",
    "streaming.CorpusStream.spill_bytes_per_batch",
    "streaming.CorpusStream.exec_cpu_ms_per_batch",
    "streaming.CorpusStream.admitted_ratio", "streaming.CorpusStream.batch_max_s",
    "extra.Dedup.seed_build_s", "extra.Dedup.seed_build_jobs",
    "ingest.TermStats.seed_build_s", "ingest.TermStats.seed_build_jobs",
    "Snapshots.save_s", "Snapshots.bytes_written",
    "Caching.persistent_rdds", "Caching.resident_mb",
    "spark.gc_ms", "spark.spill_bytes", "spark.unattributed_jobs",
    "trace.overhead_pct")

  /** `rdds` and `mb`: persisted RDDs and their MB right after the phase. */
  def commonLayers(tracer: Tracer, startMs: Long, endMs: Long, rdds: Int, mb: Double,
                   out: Result): Unit = {
    val inPhase = tracer.jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs)
    out.layer("Caching.persistent_rdds") = rdds
    out.layer("Caching.resident_mb") = mb
    out.layer("spark.gc_ms") = inPhase.map(_.gcMs).sum
    out.layer("spark.spill_bytes") = inPhase.map(_.spill).sum
    out.layer("spark.unattributed_jobs") = tracer.unattributed
    out.info("job_modules") = tracer.jobs.values.groupBy(_.module).map { case (m, js) => m -> js.size }
  }

  // ---- corpus admission ----

  def runAdmit(spark: SparkSession, tracer: Tracer, work: String, seconds: Double,
               trace: Boolean, out: Result): Unit = {
    val inputs = readInputs(work)
    val files = elems(inputs.get("stream_files")).map(_.asText)
    val batchDocs = inputs.get("batch_docs").asInt
    val exactDups = elems(inputs.get("exact_dup_ids")).map(_.asLong).toSet
    ingestConf(spark)
    val ad = new Admission(spark, tracer, s"$work/lake", work, files, batchDocs)
    val rddsBaseline = persistentRdds(spark)
    try {
      // each set-up seeds a fresh gate and puts one micro-batch through it;
      // the last one's stream goes on into the measured phase
      val reps = (1 to SetupReps).map { _ =>
        val seedS = ad.setupOnce()
        (seedS, seedS + ad.firstAnswer())
      }
      out.attempted += 2 * SetupReps
      mark("setup")
      val rddsBefore = persistentRdds(spark)
      def phase(traced: Boolean): (Seq[Batch], Long, Long) = {
        tracer.setEnabled(traced)
        try ad.measure(if (trace) seconds / 2 else seconds) finally tracer.setEnabled(trace)
      }
      val before = if (trace) Some(phase(false)) else None
      val (batches, ms0, ms1) = phase(trace)
      val after = if (trace) Some(phase(false)) else None
      mark("measured")
      tracer.drain()
      val rddsAfter = persistentRdds(spark)
      val artifactMb = storedMb(spark)
      val all = before.toSeq.flatMap(_._1) ++ batches ++ after.toSeq.flatMap(_._1)
      out.attempted += all.size
      out.failed += all.count(!_.ok)
      val lat = batches.map(b => if (b.ok) b.seconds * 1000 else 1e6)
      out.e2e("setup_s") = median(reps.map(_._1))
      out.e2e("first_answer_s") = median(reps.map(_._2))
      out.e2e("latency_p50_ms") = median(lat)
      out.e2e("throughput_per_s") =
        batches.filter(_.ok).map(_.docs).sum / ((ms1 - ms0) / 1000.0)
      out.e2e("artifact_mb") = artifactMb
      out.info("batches") = batches.size
      out.info("batch_s") = batches.map(_.seconds)
      out.info("batch_docs") = batchDocs
      out.info("setup_reps_s") = reps.map(_._1)
      out.info("first_answer_reps_s") = reps.map(_._2)
      out.info("offered_docs") = ad.offered
      out.info("admitted_docs") = ad.admitted.size
      out.info("persistent_rdds_before_after") = Seq(rddsBefore, rddsAfter)
      ad.stop()
      val bad = ad.check(exactDups)
      out.check("maintained TF, bigram TF and pairs equal a rebuild over seed + admitted; verbatim copies rejected",
        bad.isEmpty, bad.mkString(" || "))
      // Each admitted batch appends a pinned segment to every maintained
      // family (compacted past 32), so the count rightly grows over the
      // measured phase. A leaked pin is one the gate's artifacts do not
      // own: it outlives the reset that drops them.
      ad.resetGate()
      val rddsReset = persistentRdds(spark)
      out.info("persistent_rdds_baseline_reset") = Seq(rddsBaseline, rddsReset)
      out.check("Caching.persistent_rdds back to its count before set-up once the gate is reset",
        rddsReset <= rddsBaseline, s"$rddsBaseline before set-up, $rddsReset after the reset " +
          s"($rddsBefore before and $rddsAfter after the measured phase)")
      mark("checked")
      if (trace) {
        val L = out.layer
        val batchSpans = tracer.spansOf("batch").map(_.id).toSet
        val bj = tracer.jobs.values.filter(j => j.startMs >= ms0 && j.startMs <= ms1 &&
          (j.batch >= 0 || batchSpans.contains(tracer.spanOf(j)))).toSeq
        val nb = math.max(1, batches.size).toDouble
        L("streaming.CorpusStream.jobs_per_batch") = bj.size / nb
        L("streaming.CorpusStream.stages_per_batch") = bj.map(_.stages).sum / nb
        L("streaming.CorpusStream.tasks_per_batch") = bj.map(_.tasks).sum / nb
        L("streaming.CorpusStream.shuffle_bytes_per_batch") = bj.map(_.shuffleWrite).sum / nb
        L("streaming.CorpusStream.spill_bytes_per_batch") = bj.map(_.spill).sum / nb
        L("streaming.CorpusStream.exec_cpu_ms_per_batch") = bj.map(_.cpuMs).sum / nb
        L("streaming.CorpusStream.admitted_ratio") = ad.admitted.size.toDouble / math.max(1, ad.offered)
        L("streaming.CorpusStream.batch_max_s") = (batches.map(_.seconds) :+ 0.0).max
        // Inside a micro-batch every job carries the stream's call site, so
        // the gate's layers are told apart in the set-up, where the
        // benchmark calls each of them itself (the last set-up's spans).
        val lastSetup = tracer.spansOf("setup").last
        val setupIds = tracer.subtree(lastSetup)
        for ((layer, kind) <- Seq("extra.Dedup" -> "seed_dedup", "ingest.TermStats" -> "seed_termstats")) {
          val sp = tracer.spansOf(kind).filter(s => setupIds.contains(s.id))
          L(s"$layer.seed_build_s") = sp.map(_.seconds).sum
          L(s"$layer.seed_build_jobs") = sp.map(tracer.jobsUnder(_).size).sum
        }
        // snapshot writes are the batch's only jobs that write files
        val snaps = bj.filter(_.outputBytes > 0)
        val ns = math.max(1.0, (batches.size / ad.snapshotEvery).toDouble)
        L("Snapshots.save_s") = snaps.map(_.durMs).sum / 1000.0 / ns
        L("Snapshots.bytes_written") = snaps.map(_.outputBytes).sum / ns
        commonLayers(tracer, ms0, ms1, rddsAfter, artifactMb, out)
        L("trace.overhead_pct") = overheadPct(median(batches.map(_.seconds)),
          mean(Seq(before, after).flatten.map(u => median(u._1.map(_.seconds)))))
      }
    } finally {
      ad.stop()
      ad.resetGate()
    }
  }
}
