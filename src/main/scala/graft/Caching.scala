package graft

import org.apache.spark.sql.DataFrame

/** Lifecycle owner for per-query ephemeral caches.
  *
  * Several operators pin an intermediate (typically the tokenized TF table)
  * because Catalyst cannot reuse exchanges across column-pruned branches —
  * without the pin the corpus is re-scanned once per statistic branch. Those
  * pins are QUERY-scoped, not application-scoped: a long-lived service that
  * never unpersists them accumulates cached RDDs for its whole lifetime.
  *
  * Operators register such pins here via [[temp]]; the driver of a batch of
  * queries (graft.Bench and graft.Verify both do, after every query action)
  * calls [[release]] once the action has completed. Releasing is always
  * safe — an unpersisted frame silently recomputes if referenced again.
  *
  * The registry is THREAD-scoped: plans are built on the thread that drives
  * the query, so a per-thread queue means one driver's release() never
  * unpersists another concurrent query's in-flight pins. A pin taken on a
  * thread that never releases stays until that caller unpersists it — same
  * contract as a bare persist().
  *
  * Long-lived index caches (the sketch table in [[graft.search.Sketches]])
  * deliberately do NOT go through this registry: their lifecycle is the
  * service's.
  */
object Caching {
  private val live = new ThreadLocal[java.util.ArrayDeque[DataFrame]] {
    override def initialValue() = new java.util.ArrayDeque[DataFrame]()
  }

  /** Persist `df` and register it for this thread's next [[release]]. */
  def temp(df: DataFrame): DataFrame = {
    val p = df.persist()
    live.get().add(p)
    p
  }

  /** Pin a long-lived session ARTIFACT (sketch index, admission-gate
    * segments, shared TF tables) with lineage truncation, so every probe
    * plan embedding it stays O(1) to analyze regardless of how deep the
    * build subtree was.
    *
    * Deployment gate (availability vs latency): when the session has a
    * RELIABLE checkpoint dir configured (`sc.setCheckpointDir`, i.e. a
    * cluster deployment pointing at HDFS/S3), use `checkpoint()` — blocks
    * survive executor loss, so an artifact never becomes permanently
    * unreadable mid-service. Without one (the single-node bench), use
    * `localCheckpoint()` — executor-local blocks, no distributed write. On
    * a real cluster the artifacts are parquet/Delta tables anyway; this
    * gate covers the in-session form.
    */
  def pinArtifact(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val out = df.checkpoint()
      // record the reliable checkpoint's backing directory so a superseded
      // artifact's files can be RECLAIMED: Spark's ContextCleaner only
      // deletes reliable checkpoint files under
      // spark.cleaner.referenceTracking.cleanCheckpoints=true (a
      // construction-time conf this library can't set on a caller's
      // session), so without explicit tracking every compaction/reset in a
      // long-lived cluster session would grow the checkpoint dir unboundedly
      // (ADVICE r12). localCheckpoint blocks need none of this — the
      // ContextCleaner reclaims them on GC.
      checkpointFileOf(out).foreach(f => ckptFiles.put(out, f))
      out
    } else df.localCheckpoint()

  /** Pin independent artifacts as CONCURRENT jobs (guide §2.6: one
    * checkpoint latency instead of back-to-back driver round-trips),
    * all-or-nothing: every pin is awaited ([[inParallel]]), and if any
    * build fails the pins that did complete are dropped before the FIRST
    * failure's original exception is rethrown — never leaving a completed
    * sibling pin orphaned (a reliable-checkpoint file nothing would ever
    * reclaim).
    */
  def pinAll(builds: (() => DataFrame)*): Seq[DataFrame] = {
    val pins = new Array[DataFrame](builds.size)
    try inParallel(builds.indices.map(i =>
      () => pins(i) = pinArtifact(builds(i)())))
    catch {
      case e: Throwable =>
        pins.filter(_ != null).foreach(dropArtifact)
        throw e
    }
    pins.toSeq
  }

  /** Run independent `tasks` (pins, appends or saves of distinct artifacts)
    * as concurrent jobs and return only when EVERY task has finished: a
    * caller's finally may release a pin the tasks read, and a sibling still
    * running would lazily recompute it from scratch (ADVICE r17). The first
    * failure is then rethrown as the ORIGINAL exception, not its
    * ExecutionException envelope, so the caller surfaces the task that
    * failed.
    *
    * The pool is a fresh one of at most 4 threads per call, not a shared
    * one: threads the calling thread creates inherit its Spark local
    * properties (the micro-batch id, a caller's job-group or trace tags),
    * so every job a task runs is charged where the caller's jobs are. A
    * shared pool's reused workers would carry whatever their first caller
    * had set.
    */
  def inParallel(tasks: Seq[() => Any]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(4, tasks.size))
      try {
        val futs = tasks.map(t =>
          pool.submit(new java.util.concurrent.Callable[Any] {
            def call(): Any = t()
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

  /** The reliable-checkpoint path backing a `checkpoint()`ed frame (None for
    * local checkpoints or plans that aren't a checkpoint scan).
    */
  def checkpointFileOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.flatMap(_.getCheckpointFile)

  // identity-keyed: two pins of equal plans are distinct artifacts with
  // distinct backing files
  private val ckptFiles = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[DataFrame, String]())

  /** Delete the reliable-checkpoint files behind a SUPERSEDED artifact (the
    * old segments after a compaction, a reset index's segments). No-op for
    * localCheckpoint pins. Contract: the caller owns quiescence — drop only
    * after the serving pointer has swapped to the successor, so new probes
    * can't embed the dropped frame; a probe already EXECUTING against it can
    * fail and retry against the successor, the same exposure as vacuuming
    * any external table version it was reading.
    */
  def dropArtifact(df: DataFrame): Unit =
    Option(ckptFiles.remove(df)).foreach { f =>
      val sc = df.sparkSession.sparkContext
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      catch { case _: java.io.IOException => () } // best-effort reclaim
    }

  /** Per-key-LOCKED memo fetch for session caches whose builder has side
    * effects (checkpoint files, persisted blocks, a corpus-sized train):
    * `TrieMap.getOrElseUpdate` alone evaluates the builder in EVERY racing
    * thread and keeps one result, so the losers' checkpointed/persisted
    * artifacts are orphaned and their build work wasted. One lock object
    * per key serializes first builds; warm fetches stay on the TrieMap's
    * lock-free read path.
    *
    * Lock entries are SESSION-BOUNDED by design (ADVICE r13): neither this
    * helper nor the reset paths ever remove a key's lock object — not
    * [[Artifacts.Store]]'s `drop`/`reset` (the admission index, gram,
    * pair, TF and media-feature families) nor the TextStats, Classifier
    * and CombinedScorer memos. Pruning on reset
    * would re-open the duplicate-build race this lock exists to close: a
    * thread that fetched the old lock object before the prune and a thread
    * that created a fresh one after it would build the same key
    * CONCURRENTLY under different monitors, orphaning one build's
    * checkpoint files. The cost of keeping them is one bare Object per
    * key ever used in the session (keys are (appId, cacheKey) strings —
    * tens of bytes each), which is dwarfed by the artifacts themselves.
    * The gram family's exactly-once ledger is not kept this way: it rides
    * in its store entry and goes with it on reset.
    */
  def memoLocked[K, V](cache: scala.collection.concurrent.TrieMap[K, V],
                       locks: scala.collection.concurrent.TrieMap[K, Object],
                       k: K)(build: => V): V =
    memoLockedOn(cache, locks.getOrElseUpdate(k, new Object), k)(build)

  /** [[memoLocked]] under a caller-chosen lock, for a family of memos that
    * must build and invalidate under ONE lock (the metadata corpus and the
    * artifacts derived from it).
    */
  def memoLockedOn[K, V](cache: scala.collection.concurrent.TrieMap[K, V],
                         lock: Object, k: K)(build: => V): V =
    cache.get(k).getOrElse(lock.synchronized { cache.getOrElseUpdate(k, build) })

  /** Unpersist every frame registered on THIS thread (non-blocking). Call
    * after the query's action completes.
    */
  def release(): Unit = {
    val q = live.get()
    var d = q.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = q.poll()
    }
  }
}
