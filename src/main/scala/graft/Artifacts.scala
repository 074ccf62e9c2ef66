package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store behind every maintained session artifact: the admission
  * index, gram counts and near-dup pair tables ([[graft.extra.Dedup]]), the
  * TF family ([[graft.ingest.TermStats]]) and the decoded media features
  * ([[graft.extra.Multimodal]]). Each family keeps only its segment format
  * and algorithm (build, append body, compaction, snapshot parts and
  * reader); its [[Store]] owns the memo, the per-key lock, the segment
  * swap, snapshots and reset, so every artifact pin is swapped and dropped
  * in one place. In production each family is a parquet/Delta table
  * appended per batch; the segment list is its in-session form.
  */
object Artifacts {

  /** Segment-count cap for every maintained artifact: an append past it
    * folds all segments into one (the only O(corpus) step, paid once per
    * MaxSegments appends — amortized O(corpus/MaxSegments) per batch — and
    * it keeps every probe plan's union width bounded).
    */
  val MaxSegments = 32

  /** The lazy union of a family's segment frames: each leaf is a
    * lineage-free checkpoint, so analysis is O(#segments), never O(build).
    */
  def unionAll(frames: Seq[DataFrame]): DataFrame = frames.reduce(_ unionByName _)

  /** The rows of `rows` (keyed by doc_id) whose document no frame of
    * `held` holds — a doc-keyed family's REPLAY GUARD: at-least-once
    * micro-batch retries re-deliver documents, and re-appending one would
    * duplicate its rows. The anti-join probes the stored table on its
    * doc_id key (production: a bucketed/Delta key lookup).
    */
  def unseen(rows: DataFrame, held: Seq[DataFrame]): DataFrame =
    rows.join(unionAll(held).select("doc_id"), Seq("doc_id"), "left_anti")

  /** Pin `df` as a batch segment, or None — its pin dropped again — when it
    * holds no rows. Emptiness is checked on the PINNED frame (a cache-backed
    * count), so the batch's derivation runs once; a batch that nets no rows
    * (a replay, an all-rejected batch) appends no segment, so no-op batches
    * never grow the segment list or force needless compactions.
    */
  def pinNonEmpty(df: DataFrame): Option[DataFrame] = {
    val seg = Caching.pinArtifact(df)
    if (seg.isEmpty) { Caching.dropArtifact(seg); None } else Some(seg)
  }

  /** One memoized artifact: its checkpointed segments and the per-key side
    * state that must move with them (TF's n-gram order, the gram
    * exactly-once ledger). Swapped as ONE value, so no build, load, append
    * or reset can leave one without the other.
    */
  final case class Entry[S, M](segs: Vector[S], side: M)

  /** A family's memo of segmented artifacts. `S` is the segment (one or
    * more pinned frames), `M` the per-key side state.
    *
    * @param what    the family's name in error messages
    * @param pins    a segment's pinned frames, dropped when it is superseded
    * @param compact fold segments into one freshly pinned segment
    * @param parts   the snapshot parts of an entry (compacted on write)
    * @param read    restore a segment and side state from a resolved
    *                snapshot directory; must pin before returning, and
    *                should read everything that can fail before it pins
    */
  final class Store[S, M](
      val what: String,
      pins: S => Seq[DataFrame],
      compact: Vector[S] => S,
      parts: (SparkSession, Entry[S, M]) => Seq[(String, DataFrame)],
      read: (SparkSession, String) => (S, M)) {

    private type Key = (String, String)
    private val cache = scala.collection.concurrent.TrieMap.empty[Key, Entry[S, M]]
    private val locks = scala.collection.concurrent.TrieMap.empty[Key, Object]

    private def keyOf(spark: SparkSession, cacheKey: String): Key =
      (spark.sparkContext.applicationId, cacheKey)

    // an unlocked reset racing an append could drop checkpoint files the
    // append then re-inserts, resurrecting an artifact on deleted files
    private def locked[A](k: Key)(body: => A): A =
      locks.getOrElseUpdate(k, new Object).synchronized(body)

    private def dropPins(segs: Vector[S]): Unit =
      segs.foreach(pins(_).foreach(Caching.dropArtifact))

    /** The live entry under `cacheKey` (lock-free read of the last swap). */
    def entry(spark: SparkSession, cacheKey: String): Option[Entry[S, M]] =
      cache.get(keyOf(spark, cacheKey))

    /** The segments under `cacheKey` (empty when nothing is memoized). */
    def segments(spark: SparkSession, cacheKey: String): Vector[S] =
      entry(spark, cacheKey).fold(Vector.empty[S])(_.segs)

    /** Number of segments under `cacheKey` (0 = not built). */
    def segmentCount(spark: SparkSession, cacheKey: String): Int =
      segments(spark, cacheKey).size

    /** Fetch the entry under `cacheKey`, building it first if absent. The
      * build runs under the key's lock (concurrent first builds would each
      * checkpoint a corpus-sized artifact and orphan the losers' files);
      * warm fetches take the lock-free path, so a consumer never blocks on
      * an append that holds the lock across several Spark jobs. A build
      * that throws stores nothing.
      */
    def memo(spark: SparkSession, cacheKey: String)(build: => (S, M)): Entry[S, M] =
      Caching.memoLocked(cache, locks, keyOf(spark, cacheKey)) {
        val (seg, side) = build
        Entry(Vector(seg), side)
      }

    /** Maintain the artifact under `cacheKey` with one batch, under the
      * key's lock. `revise` may first rewrite the live segments (stored at
      * once, so a failure in `grow` cannot orphan what it pinned); `grow`
      * then returns the batch's segment — None to skip it (empty or replayed
      * batch) — and the new side state. Past `maxSegments` the segments are
      * compacted into one, the list is swapped atomically (a concurrent
      * probe sees the pre- or the post-append artifact, never a half-built
      * one), and only then are the superseded pins dropped. False, with
      * nothing run, when nothing is memoized under the key.
      */
    def append(spark: SparkSession, cacheKey: String, maxSegments: Int,
               revise: Vector[S] => Vector[S] = (s: Vector[S]) => s)
              (grow: Entry[S, M] => (Option[S], M)): Boolean = {
      val k = keyOf(spark, cacheKey)
      locked(k) {
        cache.get(k).exists { e0 =>
          val e = Entry(revise(e0.segs), e0.side)
          if (e.segs != e0.segs) cache.put(k, e)
          grow(e) match {
            case (None, side) =>
              if (side != e.side) cache.put(k, Entry(e.segs, side))
            case (Some(seg), side) =>
              val segs = e.segs :+ seg
              val kept =
                if (segs.size <= maxSegments) segs else Vector(compact(segs))
              cache.put(k, Entry(kept, side))
              // the compacted segment is materialized (checkpoints are
              // eager), so the superseded pins can go once the swap is done
              if (kept ne segs) dropPins(segs)
          }
          true
        }
      }
    }

    /** Persist the artifact under `cacheKey` to the snapshot root `path` as
      * one committed [[Snapshots]] version (every part from the same entry,
      * so parts never mix corpus states). The live artifact is untouched.
      * False when nothing is memoized under the key.
      */
    def save(spark: SparkSession, cacheKey: String, path: String): Boolean = {
      val k = keyOf(spark, cacheKey)
      locked(k) {
        cache.get(k).exists { e =>
          Snapshots.write(spark, path, parts(spark, e))
          true
        }
      }
    }

    /** Restore a [[save]]d snapshot under `cacheKey` as ONE pinned segment
      * (decoupled from the files, which a later save may prune). The whole
      * entry is read before one swap, so a failed read leaves the key
      * empty. Refuses to shadow a live artifact — a half-maintained memo
      * silently replaced by an older snapshot is the restart bug this
      * exists to prevent; reset first if replacement is intended.
      */
    def load(spark: SparkSession, path: String, cacheKey: String): S = {
      val k = keyOf(spark, cacheKey)
      locked(k) {
        require(!cache.contains(k),
          s"$what '$cacheKey' already live in this session — reset it " +
            "before loading a snapshot over it")
        val (seg, side) = read(spark, Snapshots.resolveDir(spark, path))
        cache.put(k, Entry(Vector(seg), side))
        seg
      }
    }

    /** Drop the artifact under exactly `cacheKey`, side state included.
      * LOCAL checkpoint blocks are left to Spark's ContextCleaner
      * (unpersisting a lineage-truncated checkpoint would strand a
      * straggling reader); RELIABLE checkpoint files are deleted
      * ([[Caching.dropArtifact]]) after the entry is removed, since nothing
      * else would reclaim them. An in-flight probe that embedded a dropped
      * segment can fail and retry, as with compaction.
      */
    def drop(spark: SparkSession, cacheKey: String): Unit = {
      val k = keyOf(spark, cacheKey)
      locked(k)(cache.remove(k).foreach(e => dropPins(e.segs)))
    }

    /** [[drop]] every artifact whose key starts with `cacheKeyPrefix` — the
      * bench's true-rebuild discipline and the refresh path's invalidation.
      */
    def reset(spark: SparkSession, cacheKeyPrefix: String): Unit = {
      val appId = spark.sparkContext.applicationId
      cache.keys
        .filter(k => k._1 == appId && k._2.startsWith(cacheKeyPrefix))
        .foreach(k => drop(spark, k._2))
    }
  }
}
