package graft.streaming

import graft.extra.TextStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming corpus ingestion operators — the Structured Streaming twins of
  * the batch curation pipeline, for lakes where documents arrive
  * continuously rather than as a static table.
  */
object CorpusStream {

  /** Streaming exact dedup: normalize-fingerprint each arriving document and
    * keep only the first occurrence per fingerprint —
    * `dropDuplicatesWithinWatermark`, so the dedup state is EVICTED once the
    * watermark passes (bounded state on an unbounded stream; duplicates are
    * guaranteed caught within the horizon, the right trade for a corpus
    * ingest that sees its duplicates in bursts). The streaming twin of
    * CorpusPipeline's fingerprint-dedup stage.
    */
  def dedupStream(spark: SparkSession, dir: String, schema: StructType,
                  textCol: String = "text", tsCol: String = "ts",
                  horizon: String = "1 hour"): DataFrame =
    dedupStreamOn(spark.readStream.schema(schema).parquet(dir),
      textCol, tsCol, horizon)

  /** DataFrame-composable body of [[dedupStream]] — takes an upstream
    * streaming frame (e.g. the signal gate's output) instead of opening its
    * own source, so the stages chain into one query ([[curateStream]]).
    */
  def dedupStreamOn(stream: DataFrame, textCol: String = "text",
                    tsCol: String = "ts",
                    horizon: String = "1 hour"): DataFrame =
    stream
      .withColumn("fingerprint", TextStats.fingerprintCol(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming dedup against the HISTORICAL corpus — the other half of
    * streaming dedup: [[dedupStream]] catches duplicates within the stream's
    * watermark horizon; this drops arrivals whose fingerprint already exists
    * in the accumulated corpus. A stream-static LEFT ANTI join: Structured
    * Streaming re-plans the static side per micro-batch, so a corpus
    * fingerprint table maintained by the batch pipeline (one slim column —
    * broadcastable far past what raw documents would be) is picked up as it
    * grows, with zero streaming state. Compose after [[dedupStream]] for
    * exactly-once-per-corpus semantics across both horizons.
    */
  def dedupAgainstCorpus(stream: DataFrame, corpusFingerprints: DataFrame,
                         textCol: String = "text"): DataFrame = {
    val withFp =
      if (stream.columns.contains("fingerprint")) stream
      else stream.withColumn("fingerprint", TextStats.fingerprintCol(col(textCol)))
    withFp.join(broadcast(corpusFingerprints.select("fingerprint")),
      Seq("fingerprint"), "left_anti")
  }

  /** Streaming NEAR-dup admission — the streaming twin of
    * [[graft.extra.Dedup.minhashIncremental]], completing the ladder:
    * [[dedupStream]] catches exact duplicates inside the stream's horizon,
    * [[dedupAgainstCorpus]] drops exact matches of history, and this gates
    * arrivals that NEAR-duplicate the accumulated corpus (MinHash bands,
    * exact-Jaccard verify on candidates). `foreachBatch` hands each
    * micro-batch to the batch operator VERBATIM — the micro-batch is the
    * "new batch", and the corpus side is re-resolved per batch through the
    * `corpus` thunk, so a corpus grown by the batch pipeline (or by this
    * stream's own admitted output being folded back in) is judged against
    * at its freshest, with zero streaming state. Per-verdict rows are the
    * batch schema exactly: (doc_id, keep, dup_of, jac).
    *
    * The verify aggregation is why this is foreachBatch rather than a
    * stream-static join chain: candidate verification groups by (batch doc,
    * corpus doc), and an unbounded stateful aggregation is the wrong tool
    * for a verdict that is complete within one micro-batch.
    */
  def admitStream(stream: DataFrame, corpus: () => DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  threshold: Double = 0.9)
                 (onVerdict: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      try onVerdict(
        graft.extra.Dedup.minhashIncremental(
          corpus(), batch, idCol, textCol, threshold), id)
      finally graft.Caching.release()
    }.start()

  /** [[admitStream]] against the STORED admission-index artifacts
    * ([[graft.extra.Dedup.bandSignatures]] + token sets) — the form that
    * survives stream scale: the plain admitStream re-derives both corpus
    * artifacts from raw text EVERY micro-batch (O(corpus) per batch); this
    * one signs only the batch and probes the stored tables, so a batch
    * costs O(batch + candidates). The artifact thunks re-resolve per
    * micro-batch, so a maintainer appending each admitted batch's
    * signature/token rows (the per-batch increment is just
    * `bandSignatures(admitted)` — spec-locked equal to a full re-sign in
    * DedupSpec) keeps the gate judging against the freshest corpus.
    */
  def admitStreamIndexed(stream: DataFrame,
                         corpusSigs: () => DataFrame,
                         corpusToks: () => DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         threshold: Double = 0.9)
                        (onVerdict: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      try onVerdict(
        graft.extra.Dedup.minhashIncrementalIndexed(
          corpusSigs(), corpusToks(), batch, idCol, textCol, threshold), id)
      finally graft.Caching.release()
    }.start()

  /** The SELF-MAINTAINING admission gate — the full service loop in one
    * call: the corpus index artifacts are built once
    * ([[graft.extra.Dedup.trainedIndex]]), every micro-batch probes the
    * memo ([[graft.extra.Dedup.minhashIncrementalIndexed]]), and each
    * batch's ADMITTED documents are folded into the index before the next
    * batch ([[graft.extra.Dedup.appendAdmitted]] — O(batch) increment,
    * spec-locked equal to a from-scratch re-sign), so a duplicate of an
    * earlier admission is rejected without the caller wiring the loop.
    * This is the indexed twin of [[admitStream]]'s growing-corpus thunk
    * pattern, with per-batch cost O(batch + candidates) instead of
    * O(corpus).
    *
    * With `tfCacheKeys` set, each batch's admitted documents are ALSO folded
    * into those [[graft.ingest.TermStats.trainedTermFreqs]] artifacts
    * ([[graft.ingest.TermStats.appendTermFreqs]] — O(batch), same segment
    * discipline), so the TF family's index stays in step with admissions
    * without caller wiring. The append follows the n-gram order the
    * artifact was BUILT with, so a bigram (n = 2) artifact is maintained
    * with bigram rows — the order is bound to the key, never re-specified
    * here — so one gate keeps the whole TF family (unigram + bigram) in
    * step. The caller builds each TF artifact once up front; an append
    * before that build is a recorded no-op.
    *
    * With `pairsSpecs` set — (pairsCacheKey, threshold, lsh) per maintained
    * pair artifact — each admitted batch's near-dup PAIRS are likewise
    * folded in ([[graft.extra.Dedup.appendPairs]]: batch × corpus ∪
    * batch × batch candidates only, spec-locked ≡ a fresh pair build over
    * the grown corpus), so the pair consumers (canonical selection,
    * clustering, PageRank, hard negatives) keep reading a COMPLETE pair
    * table as the corpus grows. Same build-once-up-front contract.
    *
    * With `gramSpecs` set — (gramCacheKey, minLen) per maintained gram
    * artifact — each admitted batch's [[graft.extra.Dedup.gramStats]] rows
    * are summed in ([[graft.extra.Dedup.appendGramAdmitted]]), keeping the
    * streaming ExactSubstr/contamination stages' stored artifact current.
    * Gram counts are ADDITIVE (no doc key to make replays idempotent), so
    * the append is guarded by the exactly-once ledger under
    * (`writerId`, micro-batch id): leave writerId at its default for a
    * single gate, and give each gate its own stable writerId when several
    * shards feed one gram artifact or the stream is redeployed from a NEW
    * checkpoint location (batch ids restart at 0 there).
    *
    * REPLAYED-VERDICT anomaly (ADVICE r13): if a micro-batch replays after
    * [[graft.extra.Dedup.appendAdmitted]] succeeded but before the sink
    * committed the batch, the re-delivered docs SELF-MATCH the admission
    * index — `onVerdict` then re-fires for the batch with keep=0 /
    * dup_of=self for docs that were in fact admitted on the first
    * delivery. Every ARTIFACT stays exact (the derived appends are
    * doc-idempotent / ledger-guarded and the index append is an
    * empty-admitted no-op on the replay), so this is a verdict-STREAM
    * anomaly only: treat `onVerdict` rows as at-least-once signals keyed
    * by doc, not as the document's final admission status — the admission
    * index (or a keep=1 row from ANY delivery) is the durable truth.
    * Removing the anomaly entirely would take transactional
    * verdict-vs-index commits (e.g. verdicts and index segments in one
    * Delta transaction), which the in-session artifact form trades away.
    *
    * RESTART recipe, two calls: pass `snapshotEvery = Some((n, root))` and
    * the gate persists EVERY maintained family to `root` after each n-th
    * batch's maintenance completes, via the crash-safe versioned protocol
    * ([[graft.Snapshots]] — a crash mid-snapshot leaves each family's
    * previous version committed, never a mixed or destroyed one; family
    * order puts the admission index LAST, see the snapshot block below);
    * on driver restart call [[loadMaintained]] with the same root and key
    * arguments BEFORE starting the gate. (The per-family save/load
    * calls — [[graft.extra.Dedup.saveIndex]]/`savePairs`/`saveGramIndex`,
    * [[graft.ingest.TermStats.saveTermFreqs]],
    * [[graft.extra.Multimodal.saveFeatures]] and their loads — remain the
    * manual form for custom cadences.)
    *
    * What the stream must then re-deliver depends on n. With `n = 1`
    * (snapshot every batch — the LOSSLESS mode) resuming from the
    * unchanged checkpoint location suffices: only the in-flight batch
    * replays, and its maintenance is recovered by the replay. With
    * `n > 1`, batches since the last snapshot were already COMMITTED to
    * the stream checkpoint — Structured Streaming will NOT re-deliver
    * them, so their maintenance would be silently lost; the recipe there
    * is to RE-SUBMIT the source data from (at least) the last snapshot
    * point — conservatively, any superset — which is SAFE because the
    * gate is idempotent under over-submission: docs already in the
    * restored index self-match (keep=0, no appends), docs the snapshot
    * missed re-admit and rebuild every family, and the gram ledger —
    * persisted atomically WITH its counts — no-ops batch ids it already
    * folded. Keep `writerId` stable when resuming the same checkpoint
    * (same batch-id sequence); a redeploy from a NEW checkpoint location
    * (the re-submission path) needs a new writerId as above.
    */
  /** Per-family snapshot subdirectory under a gate snapshot `root` —
    * shared by the gate's periodic saves and [[loadMaintained]], so the
    * restart recipe never re-derives the mapping by hand. Cache keys can
    * hold path separators and '#', so the directory name is a sanitized
    * tail of the key (readable) plus a SHA-256 prefix of the full key
    * (collision guard — two keys sharing a 40-char sanitized tail must
    * still map apart, or a restore would cross-load one family's parquet
    * into another's artifact; 48 bits of cryptographic hash make that
    * effectively impossible, where the 32-bit String.hashCode it replaces
    * collides for trivially constructible key pairs).
    */
  private def snapDir(root: String, kind: String, key: String): String = {
    val tail = key.takeRight(40).replaceAll("[^A-Za-z0-9._-]", "_")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    s"$root/$kind/$tail-$sha"
  }

  /** The pre-round-16 directory name for the same family (32-bit
    * String.hashCode suffix). Saves never write it anymore; loads fall
    * back to it so snapshot roots written before the SHA rename still
    * restore instead of silently rebuilding from scratch (ADVICE r15).
    */
  private def snapDirLegacy(root: String, kind: String, key: String): String = {
    val tail = key.takeRight(40).replaceAll("[^A-Za-z0-9._-]", "_")
    s"$root/$kind/$tail-${Integer.toHexString(key.hashCode)}"
  }

  /** Restore every maintained family of an [[admitStreamMaintained]] gate
    * from the snapshot `root` its `snapshotEvery` option wrote — call
    * BEFORE restarting the gate from its unchanged stream checkpoint, with
    * the SAME key arguments. Families without a snapshot yet (a gate that
    * crashed before its first snapshot batch) are skipped: the gate then
    * rebuilds them from `corpus` exactly as on first start, and the
    * at-least-once replays from the checkpoint re-fold whatever the
    * snapshot missed (doc-idempotent appends + the gram ledger, which
    * travels inside the gram snapshot).
    */
  def loadMaintained(spark: org.apache.spark.sql.SparkSession, root: String,
                     cacheKey: String,
                     tfCacheKeys: Seq[String] = Nil,
                     pairsSpecs: Seq[(String, Double, Boolean)] = Nil,
                     gramSpecs: Seq[(String, Int)] = Nil,
                     featureCacheKeys: Seq[String] = Nil): Unit = {
    // committed(), not bare existence: a family root whose only save
    // crashed mid-write (version dirs, nothing committed) is "no snapshot
    // yet" and must take the documented skip-and-rebuild path, not fail
    // the whole restore on a partial directory
    def has(p: String): Boolean = graft.Snapshots.committed(spark, p)
    // resolve CURRENT name first, then the legacy hashCode-suffixed name
    // (snapshots saved before the SHA rename — ADVICE r15); None = no
    // committed snapshot under either, the documented skip-and-rebuild
    def resolve(kind: String, key: String): Option[String] =
      Seq(snapDir(root, kind, key), snapDirLegacy(root, kind, key))
        .find(has)
    resolve("idx", cacheKey)
      .foreach(p => graft.extra.Dedup.loadIndex(spark, p, cacheKey))
    tfCacheKeys.foreach { k =>
      resolve("tf", k)
        .foreach(p => graft.ingest.TermStats.loadTermFreqs(spark, p, k))
    }
    pairsSpecs.foreach { case (pk, _, _) =>
      resolve("pairs", pk)
        .foreach(p => graft.extra.Dedup.loadPairs(spark, p, pk))
    }
    gramSpecs.foreach { case (gk, _) =>
      resolve("gram", gk)
        .foreach(p => graft.extra.Dedup.loadGramIndex(spark, p, gk))
    }
    featureCacheKeys.foreach { k =>
      resolve("feat", k)
        .foreach(p => graft.extra.Multimodal.loadFeatures(spark, p, k))
    }
  }

  /** Run independent maintenance `tasks` (appends or saves of distinct
    * families) as concurrent jobs from a small pool, and return only when
    * EVERY task has finished: the outer finally releases the admitted pin,
    * and a sibling still running would lazily recompute the batch-scan +
    * verdict join from scratch (ADVICE r17). The first failure is then
    * rethrown as the ORIGINAL exception, not its ExecutionException
    * envelope, so the stream surfaces the family that failed.
    */
  private def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(4, tasks.size))
      try {
        val futs = tasks.map(t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = t()
          }))
        val failures = futs.flatMap { f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Some(Option(e.getCause).getOrElse(e))
          }
        }
        failures.headOption.foreach(e => throw e)
      } finally pool.shutdown()
    }

  def admitStreamMaintained(stream: DataFrame, corpus: DataFrame,
                            cacheKey: String,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            threshold: Double = 0.9,
                            tfCacheKeys: Seq[String] = Nil,
                            pairsSpecs: Seq[(String, Double, Boolean)] = Nil,
                            gramSpecs: Seq[(String, Int)] = Nil,
                            featureCacheKeys: Seq[String] = Nil,
                            writerId: String = "",
                            snapshotEvery: Option[(Int, String)] = None)
                           (onVerdict: (DataFrame, Long) => Unit)
  : StreamingQuery = {
    graft.extra.Dedup.trainedIndex(corpus, idCol, textCol, cacheKey)
    // Periodic durable snapshots (the RESTART recipe's save step, run by
    // the gate itself): every n-th batch, persist EVERY maintained family
    // under `root/<family>/<key-dir>` via the crash-safe versioned
    // protocol ([[graft.Snapshots]]) AFTER the batch's maintenance
    // completes — so a snapshot never captures a half-maintained batch,
    // and a crash mid-snapshot leaves each family's previous version
    // committed. Family ORDER mirrors the append order's replay contract:
    // the derived families save CONCURRENTLY (independent roots, each under
    // its own key lock — the derived appends' rule), and the ADMISSION
    // INDEX saves only once every one of them has committed — a crash
    // between family saves then leaves an index snapshot OLDER than (or
    // equal to) every derived snapshot, so replayed/re-submitted docs
    // re-admit and the doc-idempotent derived appends drop what their
    // newer snapshots already hold (and the gram ledger, committed
    // atomically WITH its counts, no-ops its applied batch ids). The
    // inverted order would be the self-match hole: a NEWER index makes the
    // replayed batch's docs keep=0, so the derived families would miss
    // them forever.
    // Each save must succeed: a configured family that is not live in the
    // session (wrong cacheKey) would otherwise silently never persist
    // while the others do — fail the batch instead (once the sibling saves
    // are awaited), which surfaces at the stream as a retried-then-failing
    // batch an operator can see.
    val doSnapshot: Long => Unit = snapshotEvery match {
      case None => _ => ()
      case Some((n, root)) =>
        require(n > 0, s"snapshotEvery interval must be positive, got $n")
        id => if ((id + 1) % n == 0) {
          val spark = corpus.sparkSession
          def must(ok: Boolean, what: String): Unit = require(ok,
            s"snapshotEvery: $what is not live in this session — check " +
              "the gate's cache keys")
          inParallel(
            tfCacheKeys.map(k => () => must(graft.ingest.TermStats
              .saveTermFreqs(spark, k, snapDir(root, "tf", k)), s"TF '$k'")) ++
            pairsSpecs.map { case (pk, _, _) => () =>
              must(graft.extra.Dedup.savePairs(spark, pk,
                snapDir(root, "pairs", pk)), s"pair artifact '$pk'") } ++
            gramSpecs.map { case (gk, _) => () =>
              must(graft.extra.Dedup.saveGramIndex(spark, gk,
                snapDir(root, "gram", gk)), s"gram artifact '$gk'") } ++
            featureCacheKeys.map(k => () => must(graft.extra.Multimodal
              .saveFeatures(spark, k, snapDir(root, "feat", k)),
              s"feature artifact '$k'")))
          must(graft.extra.Dedup.saveIndex(spark, cacheKey,
            snapDir(root, "idx", cacheKey)), s"admission index '$cacheKey'")
        }
    }
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      try {
        val (sigs, toks) =
          graft.extra.Dedup.trainedIndex(corpus, idCol, textCol, cacheKey)
        // pinned: the verdict frame feeds the admitted-set derivation AND
        // the caller's action
        val v = graft.Caching.temp(graft.extra.Dedup.minhashIncrementalIndexed(
          sigs, toks, batch, idCol, textCol, threshold))
        // pinned too: up to five maintenance appends consume the admitted
        // set below, and each one's eager pin would otherwise re-run the
        // batch-scan + verdict join per family
        val admitted = graft.Caching.temp(batch.join(
          v.filter(org.apache.spark.sql.functions.col("keep") === 1)
            .select(org.apache.spark.sql.functions.col("doc_id").as(idCol)),
          idCol))
        // Maintenance ORDER is the replay contract (foreachBatch is
        // at-least-once): the derived artifacts (TF, pairs) append FIRST —
        // both are idempotent per document (each drops already-present
        // docs), so a replay re-runs them harmlessly — and the ADMISSION
        // index appends LAST. If a batch dies mid-maintenance, the replay
        // still sees the docs as un-admitted (the index doesn't hold them
        // yet), re-admits them, and completes whatever appends were lost;
        // had the index appended first, a replay would self-match every
        // doc (keep=0), leaving the derived artifacts missing the batch
        // forever.
        // Materialize the admitted pin ONCE before the appends fan out:
        // concurrent first consumers would otherwise race to fill the lazy
        // persist, each re-running the batch-scan + verdict join.
        admitted.count()
        // The derived-family appends below are INDEPENDENT of one another:
        // each owns its artifact under its own per-key lock, consumes only
        // the pinned `admitted` frame, and is doc-idempotent (TF, pairs,
        // features) or batch-ledgered (gram). Their per-batch cost is
        // dominated by fixed action latency over tiny frames (OPTIMIZATION_r17.md §3),
        // so they run as CONCURRENT jobs from a small pool (guide §2.6 —
        // the scheduler back-fills one family's tail with the next's
        // tasks) instead of ~5 sequential action round-trips. The replay
        // contract only orders DERIVED-before-INDEX; joining the pool
        // before the admission-index append preserves it exactly.
        inParallel(
          tfCacheKeys.map(k => () => {
            graft.ingest.TermStats.appendTermFreqs(admitted, idCol, textCol, k)
            ()
          }) ++
          pairsSpecs.map { case (pk, pt, plsh) => () => {
            graft.extra.Dedup.appendPairs(admitted, idCol, textCol, pt, pk, plsh)
            ()
          } } ++
          // decoded media features are doc-idempotent like TF/pairs
          // (deterministic per document; re-delivered docs drop), so they
          // ride the same pre-index maintenance slot
          featureCacheKeys.map(k => () => {
            graft.extra.Multimodal.appendFeatures(admitted, k,
              idCol = idCol, textCol = textCol)
            ()
          }) ++
          // gram counts are additive, not doc-idempotent: the writer-scoped
          // batch-id ledger makes the replay a recorded no-op instead
          gramSpecs.map { case (gk, gMinLen) => () => {
            graft.extra.Dedup.appendGramAdmitted(admitted, idCol, textCol, gk,
              minLen = gMinLen, batchId = Some(id), writerId = writerId)
            ()
          } })
        graft.extra.Dedup.appendAdmitted(
          admitted, idCol, textCol, cacheKey)
        doSnapshot(id)
        onVerdict(v, id)
      } finally graft.Caching.release()
    }.start()
  }

  /** [[admitStreamIndexed]] with the gate's per-batch observability row —
    * `onBatch` receives (verdicts, metrics, batchId) where metrics is the
    * one-row (n_batch, n_candidates, n_verified_docs, n_admitted,
    * n_rejected) frame of
    * [[graft.extra.Dedup.minhashIncrementalMonitored]]: the numbers an
    * operator alarms on when a crawl burst hits the admission gate
    * (candidate volume is the cost driver; admit rate the drift signal).
    * Metrics are derived from the SAME pinned candidate/verdict frames the
    * batch already computed — observability costs two counts, not a
    * second probe.
    */
  def admitStreamMonitored(stream: DataFrame,
                           corpusSigs: () => DataFrame,
                           corpusToks: () => DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           threshold: Double = 0.9)
                          (onBatch: (DataFrame, DataFrame, Long) => Unit)
  : StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      try {
        val (v, m) = graft.extra.Dedup.minhashIncrementalMonitored(
          corpusSigs(), corpusToks(), batch, idCol, textCol, threshold)
        onBatch(v, m, id)
      } finally graft.Caching.release()
    }.start()

  /** Streaming application of the learned quality filter
    * ([[graft.extra.Classifier]]) — score every arriving document with a
    * model trained on the historical corpus. `foreachBatch` because the
    * per-document score is an aggregate over the document's terms, complete
    * within one micro-batch (the admitStream rationale); the model thunk
    * re-resolves per batch, so a periodically-retrained model table is
    * picked up live with zero streaming state. Scores are byte-identical
    * to the batch [[graft.extra.Classifier.scoreWith]] (spec-locked).
    */
  def nbGateStream(stream: DataFrame, model: () => DataFrame,
                   priorMicro: Long, idCol: String = "doc_id",
                   textCol: String = "text")
                  (onScored: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      try onScored(
        graft.extra.Classifier.scoreWith(batch, idCol, textCol, model(),
          priorMicro), id)
      finally graft.Caching.release()
    }.start()

  /** Streaming quality gate — the ingest-time twin of the per-document
    * signal operators: every arriving document gets its
    * [[graft.extra.Signals.gopherRules]] verdict (all rule columns + keep)
    * and its char-entropy micronats, as ONE stateless streaming projection.
    * Because the batch operators are pure per-row expressions (no shuffle,
    * no state), the SAME functions compose onto an unbounded stream
    * unchanged — watermarks, state stores and output modes never enter the
    * picture, and the gate's throughput is the scan's. Compose before
    * [[dedupStream]] so obviously-rejected documents never occupy dedup
    * state.
    */
  def signalGateStream(spark: SparkSession, dir: String, schema: StructType,
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       blocklistTerms: Seq[String] = Nil): DataFrame =
    signalGateOn(spark.readStream.schema(schema).parquet(dir), idCol, textCol,
      blocklistTerms = blocklistTerms)

  /** DataFrame-composable body of [[signalGateStream]]; `passthrough`
    * columns survive the gate projection (the ladder threads text + ts
    * through it). With `blocklistTerms` set, the C4-style banned-phrase
    * gate ([[graft.extra.Signals.blocklist]]) joins the admission
    * conjunction: `blocklist_hits` is emitted per document and `keep`
    * additionally requires zero hits. Like every other signal here it is
    * a stateless per-row expression (one Aho–Corasick pass, the automaton
    * rides the plan), so the stream stays shuffle-free, watermark-free,
    * and row-for-row equal to the batch composition.
    */
  def signalGateOn(stream: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   passthrough: Seq[String] = Nil,
                   blocklistTerms: Seq[String] = Nil): DataFrame = {
    val base = stream.withColumn("entropy_micro",
      when(length(col(textCol)) > 0,
        graft.functions.TextEntropy.charEntropyMicro(lower(col(textCol)))))
    if (blocklistTerms.isEmpty)
      graft.extra.Signals.gopherRules(base, idCol, textCol,
        passthrough = "entropy_micro" +: passthrough)
    else
      graft.extra.Signals.gopherRules(
          base.withColumn("blocklist_hits",
            graft.functions.Blocklist.hits(col(textCol), blocklistTerms)
              .cast("long")),
          idCol, textCol,
          passthrough = Seq("entropy_micro", "blocklist_hits") ++ passthrough)
        // NULL text → NULL hits → keep 0 (conservative reject, same as the
        // batch operator's keep semantics)
        .withColumn("keep",
          when(col("blocklist_hits") === 0, col("keep")).otherwise(lit(0)))
  }

  /** The FULL streaming curation ladder as one query — the composition the
    * per-stage operators promise: signal gate (drop documents failing the
    * Gopher rules before they occupy any state) → in-stream exact dedup
    * (watermark-bounded state) → exact anti-join against the historical
    * corpus (stateless) → near-dup admission verdicts (per-micro-batch
    * batch-operator reuse). Equivalence to the batch pipeline on the same
    * data is spec-locked (EventWindowsSpec "composed curation ladder").
    *
    * The corpus is passed once as a thunk: the anti-join takes its slim
    * fingerprint projection, the admission stage re-resolves it per
    * micro-batch — both sides therefore judge against the same snapshot
    * when the thunk is stable, and against the freshest corpus when it
    * grows.
    */
  def curateStream(stream: DataFrame, corpus: () => DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   tsCol: String = "ts", horizon: String = "1 hour",
                   threshold: Double = 0.9)
                  (onVerdict: (DataFrame, Long) => Unit): StreamingQuery = {
    val gated = signalGateOn(stream, idCol, textCol,
      passthrough = Seq(textCol, tsCol))
      .filter(col("keep") === 1)
      .select(col("doc_id").as(idCol), col(textCol), col(tsCol))
    val inStream = dedupStreamOn(gated, textCol, tsCol, horizon)
    val vsCorpus = dedupAgainstCorpus(
      inStream,
      corpus().select(
        TextStats.fingerprintCol(col(textCol)).as("fingerprint")),
      textCol)
    // admission unions the micro-batch with the corpus by name
    // (minhashIncremental's tokenization path) — project down to the
    // corpus schema so the ladder's threaded ts/fingerprint don't leak in
    admitStream(vsCorpus.select(col(idCol), col(textCol)),
      corpus, idCol, textCol, threshold)(onVerdict)
  }

  /** [[curateStream]] against STORED corpus artifacts — the form a
    * long-running ingest service deploys: the anti-join reads the
    * fingerprint table, admission probes the band-signature table and
    * verifies against the token-set table
    * ([[graft.extra.Dedup.bandSignatures]]/[[graft.extra.Dedup.tokenArraysOf]]),
    * so NO stage re-derives anything corpus-sized from raw text per
    * micro-batch. All thunks re-resolve per batch; a maintainer appends
    * each admitted batch's fingerprint/signature/token rows (increment ≡
    * full rebuild is spec-locked in DedupSpec) to keep every stage judging
    * against the freshest corpus.
    *
    * With `corpusGrams` set (the stored [[graft.extra.Dedup.gramStats]]
    * artifact), the ladder gains the ExactSubstr stage: each verdict row
    * carries (n_dup_spans, n_dup_tokens) — the document's verbatim
    * duplicated-span coverage against the corpus and the batch — probed
    * per micro-batch in O(batch + candidates), maintained via
    * [[graft.extra.Dedup.appendGramAdmitted]].
    */
  def curateStreamIndexed(stream: DataFrame,
                          corpusFingerprints: () => DataFrame,
                          corpusSigs: () => DataFrame,
                          corpusToks: () => DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          tsCol: String = "ts", horizon: String = "1 hour",
                          threshold: Double = 0.9,
                          corpusGrams: Option[() => DataFrame] = None,
                          minSpanLen: Int = 12,
                          benchGrams: Option[() => DataFrame] = None,
                          minContamLen: Int = 5)
                         (onVerdict: (DataFrame, Long) => Unit): StreamingQuery = {
    val gated = signalGateOn(stream, idCol, textCol,
      passthrough = Seq(textCol, tsCol))
      .filter(col("keep") === 1)
      .select(col("doc_id").as(idCol), col(textCol), col(tsCol))
    val inStream = dedupStreamOn(gated, textCol, tsCol, horizon)
    val vsCorpus = dedupAgainstCorpus(inStream, corpusFingerprints(), textCol)
    val slim = vsCorpus.select(col(idCol), col(textCol))
    (corpusGrams, benchGrams) match {
      case (None, None) =>
        admitStreamIndexed(slim, corpusSigs, corpusToks, idCol, textCol,
          threshold)(onVerdict)
      case _ =>
        // ExactSubstr stage(s): verdicts gain per-doc verbatim-span
        // coverage probed from STORED gram artifacts
        // ([[graft.extra.Dedup.trainedGramIndex]]) —
        //  - `corpusGrams`: (n_dup_spans, n_dup_tokens) vs the corpus and
        //    the batch (the self/cross dedup criterion);
        //  - `benchGrams`: (n_contam_spans, n_contam_tokens) vs a held-out
        //    BENCHMARK set ([[graft.extra.Dedup.contaminationSpans]] —
        //    eval text leaking through the stream flags with positions).
        // Still O(batch + candidates) per micro-batch: the batch is
        // grammed per stage; corpus-sized artifacts are only equi-join-
        // probed. `keep` stays the near-dup verdict — span coverage is a
        // separate signal with its own thresholds, handed to the caller
        // raw. Equivalence to the batch sweeps is spec-locked (DedupSpec /
        // EventWindowsSpec).
        slim.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
          try {
            val b = graft.Caching.temp(batch)
            var v = graft.extra.Dedup.minhashIncrementalIndexed(
              corpusSigs(), corpusToks(), b, idCol, textCol, threshold)
            corpusGrams.foreach { grams =>
              val stats = graft.extra.Dedup.spanStats(
                graft.extra.Dedup.dupSubstringSpansIndexed(
                  grams(), b, idCol, textCol, minSpanLen))
              v = v.join(stats, Seq("doc_id"), "left")
                .withColumn("n_dup_spans",
                  coalesce(col("n_dup_spans"), lit(0L)))
                .withColumn("n_dup_tokens",
                  coalesce(col("n_dup_tokens"), lit(0L)))
            }
            benchGrams.foreach { grams =>
              val stats = graft.extra.Dedup.spanStats(
                graft.extra.Dedup.contaminationSpans(
                  b, idCol, textCol, grams(), minContamLen))
                .select(col("doc_id"),
                  col("n_dup_spans").as("n_contam_spans"),
                  col("n_dup_tokens").as("n_contam_tokens"))
              v = v.join(stats, Seq("doc_id"), "left")
                .withColumn("n_contam_spans",
                  coalesce(col("n_contam_spans"), lit(0L)))
                .withColumn("n_contam_tokens",
                  coalesce(col("n_contam_tokens"), lit(0L)))
            }
            onVerdict(v, id)
          } finally graft.Caching.release()
        }.start()
    }
  }
}
