package graft.extra

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Caching.pinArtifact

/** Document deduplication for large-scale training-data pipelines: exact,
  * n-gram/token Jaccard, MinHash-LSH, and SimHash near-dup. (Not part of the
  * danae reference surface — these are the LLM-pipeline operators the driver
  * contract adds; see BASELINE.json north_star.)
  *
  * Scale notes baked into each operator:
  *  - exact: one hash-groupBy, map-side partial, no data movement beyond the
  *    digest column.
  *  - jaccard: exact pairwise verification is O(n²)-ish via the token
  *    inverted index; at 100 TB use it only AFTER the LSH prefilter.
  *  - minhashLsh: the scalable path — signatures are one groupBy over
  *    (doc, perm), candidate pairs come from a band-bucket self-join, i.e.
  *    shuffle keyed on (band, signature), never all-pairs.
  *  - simhash: 64-bit fingerprints, candidates from band substrings.
  */
object Dedup {

  /** Exact dedup groups: md5 over the content column; keeps the minimum id as
    * the canonical representative.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** (doc_id, term) distinct token sets. */
  private def tokenSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextTokens.lowerSpaceTokens(col(textCol)))
          .as("term"))
      .distinct()

  /** Candidate pairs for a Jaccard join at `threshold`, via prefix filtering
    * (Chaudhuri/Ganti/Kaushik "A Primitive Operator for Similarity Joins",
    * ICDE'06; Bayardo/Ma/Srikant "Scaling Up All Pairs", WWW'07): order each
    * doc's tokens by GLOBAL document frequency ascending (ties on term), and
    * index only each doc's first `sz - ceil(t*sz) + 1` tokens. Any pair with
    * jac >= t must share an indexed prefix token, so the candidate set is
    * exact-complete — while frequent tokens (stopwords) sort LAST and almost
    * never enter a prefix, bounding the inverted index: "the" can no longer
    * pair every document with every other. Prefix matches then pass the
    * [[sizeBand]] length filter before the distinct.
    */
  def jaccardCandidates(toks: DataFrame, sizes: DataFrame,
                        threshold: Double): DataFrame = {
    val prefix = prefixTokens(toks, sizes, threshold)
    prefixMatches(prefix, prefix, threshold, ordered = true)
  }

  /** Each document's prefix tokens (doc_id, term, sz) for a Jaccard join
    * at `threshold`: its tokens ordered by document frequency over `toks`
    * ascending (ties on term), the first `sz - ceil(t*sz) + 1` kept.
    */
  private def prefixTokens(toks: DataFrame, sizes: DataFrame,
                           threshold: Double): DataFrame = {
    val dfreq = toks.groupBy("term").agg(count(lit(1)).as("df"))
    toks.join(dfreq, "term")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("term").asc)))
      .join(sizes, "doc_id")
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("doc_id", "term", "sz")
  }

  /** Candidate (id_a, id_b) pairs of a prefix table against a (term,
    * doc_id, sz) probe table: a shared token, inside the [[sizeBand]].
    * `ordered` applies the a<b self-join filter, as in [[bandCandidates]].
    */
  private def prefixMatches(prefix: DataFrame, probe: DataFrame,
                            threshold: Double, ordered: Boolean): DataFrame = {
    val j = prefix.as("a").join(probe.as("b"), "term")
      .filter(sizeBand(col("a.sz"), col("b.sz"), threshold))
    (if (ordered) j.filter(col("a.doc_id") < col("b.doc_id")) else j)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** The PPJoin/All-Pairs length filter on two set sizes: since
    * |A∩B| <= min and |A∪B| >= max, jac(A,B) <= min/max, so a pair whose
    * best case misses `threshold` can never verify. The bound is
    * [[verifyJaccard]]'s own comparison at that best case (intersection =
    * the smaller set), in the same double arithmetic — the verify's ratio
    * only shrinks as the intersection does, so the filter never drops a
    * pair the verify would keep (spec-checked over every size pair).
    */
  private[graft] def sizeBand(szA: Column, szB: Column,
                              threshold: Double): Column =
    least(szA, szB).cast("double") / greatest(szA, szB) >= threshold

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against the
    * per-doc UNIT-ARRAY table (doc_id, toks): two row-bounded joins fetch
    * the pair's arrays, `array_intersect`/`size` compute the overlap off
    * the row, then the raw ratio is thresholded (rounding first would admit
    * pairs just under it — the oracle thresholds raw and rounds only for
    * output). The former inverted-index form re-exploded the corpus's
    * tokens and paid a per-pair groupBy exchange for the same count; the
    * array form's shuffle carries only candidate rows.
    */
  private[graft] def verifyJaccard(candidates: DataFrame, arrs: DataFrame,
                                   threshold: Double): DataFrame =
    candidates
      .join(arrs.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("jac_raw", col("inter").cast("double")
        / (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
      .filter(col("jac_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac_raw"), 6).as("jac"))

  /** Exact token-set Jaccard near-duplicate pairs (a < b, jac >= threshold):
    * prefix-filtered candidate generation + exact verification. Result is
    * identical to the naive inverted-index self-join (the prefix filter is
    * lossless at the threshold), but candidates are bounded even for
    * stopword-heavy corpora.
    *
    * Unit sets ride IN-ROW ([[tokenArraysOf]], a pure projection — the
    * bandSignatures rule): the former (doc_id, term) stream paid a
    * corpus-wide distinct EXCHANGE before any real work, where
    * `array_distinct` is per-row; sizes are `size(toks)` instead of a
    * corpus aggregate; the exploded stream the prefix filter genuinely
    * needs is derived off the cached arrays.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame =
    jaccardPairsFromArrs(
      graft.Caching.temp(tokenArraysOf(df, idCol, textCol)), threshold)

  /** [[jaccardPairs]] off an existing (doc_id, toks) unit-array table — the
    * form the maintained pair artifact builds from, so the corpus is
    * tokenized exactly once per build ([[trainedPairs]] pins the arrays and
    * derives pairs + postings from the same pin).
    */
  private[graft] def jaccardPairsFromArrs(arrs: DataFrame,
                                          threshold: Double): DataFrame = {
    val toks = arrs.select(col("doc_id"), explode(col("toks")).as("term"))
    val sizes = arrs.select(col("doc_id"), size(col("toks")).cast("long").as("sz"))
    verifyJaccard(jaccardCandidates(toks, sizes, threshold), arrs, threshold)
  }

  /** Word n-gram (w-shingling, Broder '97) Jaccard near-dup pairs: the
    * shingle set of w consecutive tokens replaces the token set, making
    * near-dup detection order-sensitive — two docs sharing vocabulary but
    * not phrasing stop matching. Same prefix-filtered candidate generation +
    * exact verification as [[jaccardPairs]]; shingles are pure column
    * expressions (transform/slice/array_join — codegen'd, no UDF).
    */
  def shinglePairs(df: DataFrame, idCol: String, textCol: String,
                   w: Int = 3, threshold: Double = 0.8): DataFrame = {
    // Shingle sets ride IN-ROW like jaccardPairs' token arrays: the same
    // grams as CorpusOps.gramStream(distinct = true) — identical tokenize +
    // window expressions, so decontamination/repetition metrics (and their
    // oracles) stay in lockstep — but assembled with per-row
    // transform/array_distinct instead of the explode + corpus-wide
    // distinct exchange. Docs shorter than w tokens have no full-width
    // shingle and drop, exactly as gramStream filters them.
    val arrs = graft.Caching.temp(df
      .select(col(idCol).as("doc_id"), graft.functions.TextGrams
        .lowerSpaceGrams(col(textCol), w, distinct = true).as("toks"))
      .filter(size(col("toks")) >= 1))
    val sh = arrs.select(col("doc_id"), explode(col("toks")).as("term"))
    val sizes = arrs.select(col("doc_id"), size(col("toks")).cast("long").as("sz"))
    verifyJaccard(jaccardCandidates(sh, sizes, threshold), arrs, threshold)
  }

  // MinHash machinery: base token hash from md5 (deterministic across runs and
  // platforms), then numPerms universal-hash permutations h_i(x)=(a_i x+b_i) mod p.
  // p prime > 2^32; a_i < 2^30 and x < 2^33 keep a_i*x inside a signed Long.
  private val prime = 4294967311L

  private def baseTokenHash = // 8 hex chars → [0, 2^32)
    conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long")

  /** Deterministic universal-hash permutation table (i, a, b) — public so the
    * DuckDB oracle generator derives its constants from the SAME formula and
    * the two engines cannot drift.
    */
  def permTable(numPerms: Int): Seq[(Int, Long, Long)] =
    (0 until numPerms).map { i =>
      // deterministic "random" odd coefficients
      val a = 1L + 2L * ((i * 1103515245L + 12345L) % (1L << 29))
      val b = (i * 69069L + 1L) % prime
      (i, math.abs(a), math.abs(b))
    }

  /** The MinHash modulus — prime > 2^32 (see permTable). */
  val minhashPrime: Long = prime

  /** MinHash signatures: (doc_id, perm, minhash). One shuffle keyed on
    * (doc_id, perm); the permutation table is a broadcast literal.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numPerms: Int = 32): DataFrame = {
    val permExprs = permTable(numPerms).map { case (i, a, b) =>
      struct(lit(i).as("perm"),
        ((lit(a) * col("h") + lit(b)) % lit(prime)).as("hv"))
    }
    tokenSets(df, idCol, textCol)
      .withColumn("h", baseTokenHash)
      .select(col("doc_id"), explode(array(permExprs: _*)).as("ph"))
      .groupBy(col("doc_id"), col("ph.perm").as("perm"))
      .agg(min(col("ph.hv")).as("minhash"))
  }

  /** LSH candidate pairs: band the signature (numPerms/rowsPerBand bands),
    * bucket-join on (band, concatenated band signature), then verify with
    * exact Jaccard. Returns (id_a, id_b, jac) with jac >= threshold.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numPerms: Int = 32,
                      rowsPerBand: Int = 4): DataFrame =
    lshVerifiedPairs(bandSignatures(df, idCol, textCol, numPerms, rowsPerBand),
      tokenArraysOf(df, idCol, textCol), threshold)

  /** LSH band-bucket candidates + exact verify off existing signature and
    * unit-array tables — shared by [[minhashLshPairs]] and the maintained
    * pair artifact ([[trainedPairs]] / [[appendPairs]]).
    */
  private def lshVerifiedPairs(bandSigs: DataFrame, arrs: DataFrame,
                               threshold: Double): DataFrame =
    // verify candidates exactly (standard LSH verify step) — off the
    // in-row token arrays, like jaccardPairs
    verifyJaccard(bandCandidates(bandSigs, bandSigs, ordered = true),
      arrs, threshold)

  /** The LSH band-bucket candidate join, shared by the self-join form
    * ([[lshVerifiedPairs]]) and the maintained artifact's batch-probe form
    * ([[appendPairs]]): same-bucket (band, band_sig) matches as distinct
    * (id_a, id_b). `ordered` applies the a<b self-join filter; the
    * batch×corpus probe skips it (the two sides' id spaces are disjoint).
    */
  private def bandCandidates(probe: DataFrame, index: DataFrame,
                             ordered: Boolean): DataFrame = {
    val j = probe.as("a").join(index.as("b"), Seq("band", "band_sig"))
    (if (ordered) j.filter(col("a.doc_id") < col("b.doc_id")) else j)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Incremental near-dedup: admit a NEW batch against an accumulated
    * corpus — the admission gate of a continuously-growing training set (a
    * fresh crawl snapshot arrives; admit only documents that do not
    * near-duplicate what the corpus already holds). Same MinHash/band
    * machinery as [[minhashLshPairs]], but the band bucket join is
    * batch × corpus only — the corpus is NEVER re-paired against itself.
    * That asymmetry is the scale story: at 100 TB the corpus band
    * signatures and token sizes are stored artifacts (keyed on
    * (band, band_sig) and doc_id), so each arriving batch costs work
    * proportional to the BATCH plus one bucket probe into the corpus — not
    * a corpus-wide re-shuffle. Exact-Jaccard verification touches
    * candidates only, as everywhere in this file.
    *
    * Verdict per batch document: keep = 1 iff no corpus doc reaches
    * `threshold`; otherwise (dup_of, jac) name the closest corpus match —
    * max Jaccard, ties to the smallest corpus id, on 6-decimal-rounded jac,
    * so the verdict is engine-exact. Batch-internal duplicates are NOT
    * judged here (they are the following [[minhashLshPairs]] pass within
    * the admitted slice); this operator is only the gate against history.
    *
    * @return (doc_id, keep 1/0, dup_of, jac) — one row per batch doc
    */
  def minhashIncremental(corpus: DataFrame, batch: DataFrame, idCol: String,
                         textCol: String, threshold: Double,
                         numPerms: Int = 32, rowsPerBand: Int = 4): DataFrame =
    minhashIncrementalIndexed(
      bandSignatures(corpus, idCol, textCol, numPerms, rowsPerBand),
      tokenArraysOf(corpus, idCol, textCol),
      batch, idCol, textCol, threshold, numPerms, rowsPerBand)

  /** The admission gate's STORED INDEX artifacts for a corpus: the banded
    * MinHash signature table (doc_id, band, band_sig) — what the candidate
    * probe joins against — exposed so a service materializes it ONCE and
    * appends each admitted batch's rows ([[minhashIncrementalIndexed]]),
    * instead of re-signing the whole corpus per batch. In production this
    * and the token-set table are parquet/Delta tables bucketed on
    * (band, band_sig) and doc_id respectively.
    */
  def bandSignatures(df: DataFrame, idCol: String, textCol: String,
                     numPerms: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    // ZERO-exchange projection form: per document the token set, its md5
    // base hashes, the numPerms permutation minima (array_min over a
    // lambda — `min` over a doc's tokens never needs a shuffle, the tokens
    // all live in the row), and the band digests are all column
    // expressions — one narrow scan per signing pass, no explode, no
    // aggregate. Values are identical to the exploded
    // [[minhashSignatures]]-then-regroup route (same permutation
    // arithmetic, same lexicographic band-string order — spec-locked in
    // DedupSpec, and the `dedup_incremental` oracle rides on it).
    val toksCol = array_distinct(
      graft.functions.TextTokens.lowerSpaceTokens(col(textCol)))
    bandSignaturesFromArrs(
      df.select(col(idCol).as("doc_id"), toksCol.as("toks")),
      numPerms, rowsPerBand)
  }

  /** [[bandSignatures]] off an existing (doc_id, toks) unit-array table —
    * lets the maintained pair artifact sign a batch from the same pinned
    * arrays its verify side uses (one tokenize per batch).
    */
  private def bandSignaturesFromArrs(arrs: DataFrame, numPerms: Int,
                                     rowsPerBand: Int): DataFrame = {
    val hs = transform(col("toks"),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val mins = permTable(numPerms).map { case (i, a, b) =>
      array_min(transform(col("hs"),
        h => (lit(a) * h + lit(b)) % lit(prime))).as(s"m$i")
    }
    val bandExprs = (0 until numPerms / rowsPerBand).map { bnd =>
      val parts = (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
        .map(i => concat_ws(":", lit(i), col(s"m$i")))
      struct(lit(bnd).as("band"),
        md5(concat_ws(",", array_sort(array(parts: _*)))).as("band_sig"))
    }
    arrs
      .filter(size(col("toks")) > 0) // groupBy-absence twin for empty docs
      .withColumn("hs", hs)
      .select(col("doc_id") +: mins: _*)
      .select(col("doc_id"), explode(array(bandExprs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.band_sig").as("band_sig"))
  }

  /** The corpus token-set artifact, one row per document with its DISTINCT
    * token array — [[bandSignatures]]' verify-side companion; same
    * append-per-admitted-batch lifecycle. A pure projection (no explode,
    * no shuffle): the verify step intersects two docs' sets, and
    * `array_intersect` does that straight off the arrays, so the row-per-
    * (doc, term) layout the round-10 artifact used bought nothing but an
    * extra distinct exchange and a re-aggregation per batch.
    *
    * @return (doc_id, toks array<string>)
    */
  def tokenArraysOf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      array_distinct(graft.functions.TextTokens.lowerSpaceTokens(col(textCol)))
        .as("toks"))

  /** The pair of frames a probe joins against: the lazy unions of the
    * admission index's checkpointed (signatures, token arrays) segments.
    */
  private def served(segs: Vector[(DataFrame, DataFrame)])
  : (DataFrame, DataFrame) =
    (graft.Artifacts.unionAll(segs.map(_._1)),
      graft.Artifacts.unionAll(segs.map(_._2)))

  /** Session store of the admission gate's corpus index artifacts — the
    * band-signature table + token-array table of [[bandSignatures]] /
    * [[tokenArraysOf]], built ONCE per (session, key) and pinned hot, exactly
    * like the sketch index ([[graft.search.Sketches.train]]) and the NB
    * model ([[Classifier.trainedModel]]). The round-10 registered query
    * re-derived both artifacts on every call — the cost the indexed design
    * exists to avoid; with the memo, `train_dedup_idx` is charged once as
    * its own bench line and `dedup_incremental` measures the steady-state
    * per-batch probe. In production the two frames are parquet/Delta tables
    * bucketed on (band, band_sig) and doc_id, appended per admitted batch.
    * Snapshot parts: `sigs` and `toks`, compacted on write.
    */
  val indexStore = new graft.Artifacts.Store[(DataFrame, DataFrame), Unit](
    "admission index",
    pins = { case (s, t) => Seq(s, t) },
    compact = segs => {
      val (s, t) = served(segs)
      (pinArtifact(s), pinArtifact(t))
    },
    parts = (_, e) => {
      val (s, t) = served(e.segs)
      Seq("sigs" -> s, "toks" -> t)
    },
    read = (spark, base) => ((pinArtifact(spark.read.parquet(s"$base/sigs")),
      pinArtifact(spark.read.parquet(s"$base/toks"))), ()))

  /** Build (or fetch the memoized) corpus artifacts for `cacheKey`. */
  def trainedIndex(corpus: DataFrame, idCol: String, textCol: String,
                   cacheKey: String, numPerms: Int = 32,
                   rowsPerBand: Int = 4): (DataFrame, DataFrame) =
    served(indexStore.memo(corpus.sparkSession, cacheKey) {
      // Checkpoint (pinArtifact), not persist: the artifacts embed in every
      // probe plan, and a checkpoint's LogicalRDD keeps the per-batch
      // ANALYSIS cost flat — with full lineage, each probe re-canonicalizes
      // the whole build subtree on every cache lookup (measured as ~1.5s of
      // driver time per batch on a 300-doc fixture). Production equivalent:
      // the artifacts are parquet/Delta tables, whose scan plans are
      // equally lineage-free.
      val sigs = pinArtifact(
        bandSignatures(corpus, idCol, textCol, numPerms, rowsPerBand))
      val toks = pinArtifact(tokenArraysOf(corpus, idCol, textCol))
      ((sigs, toks), ())
    }.segs)

  /** Incremental index MAINTENANCE: fold an admitted batch's signature and
    * token-array rows into the memoized artifacts for `cacheKey` — the
    * append step the admission loop needs so the NEXT batch is judged
    * against the grown corpus without a rebuild (DedupSpec locks append ≡
    * full re-sign).
    *
    * Cost is genuinely O(admitted batch): ONLY the batch's own projection
    * rows are materialized (checkpointed as a new SEGMENT); the existing
    * corpus-sized blocks are never re-read or re-written on append. The
    * segment discipline (compaction past `maxSegments`, atomic swap,
    * per-key serialization) is [[graft.Artifacts.Store.append]]'s. No-op
    * (returns false) when nothing is memoized under the key — there is no
    * index to maintain.
    */
  def appendAdmitted(admitted: DataFrame, idCol: String, textCol: String,
                     cacheKey: String, numPerms: Int = 32,
                     rowsPerBand: Int = 4,
                     maxSegments: Int = graft.Artifacts.MaxSegments): Boolean =
    indexStore.append(admitted.sparkSession, cacheKey, maxSegments) { _ =>
      // EMPTY-ADMITTED guard (ADVICE r13): a replayed micro-batch whose
      // docs all self-matched the grown index (keep=0 across the board)
      // hands an empty admitted set here — appending its empty segment
      // per replay would grow the segment list and force needless
      // compactions. A no-op append is still `true`: the index exists
      // and is current for this batch.
      if (admitted.isEmpty) (None, ())
      else {
        // O(batch): checkpoint ONLY the increment, never the union. The
        // two segment pins are independent projections of the (pinned,
        // already-materialized) admitted frame — overlap them (guide
        // §2.6) so the admission-index append pays one checkpoint
        // latency, not two back-to-back driver round-trips per batch.
        val Seq(toksPin, sigPin) = graft.Caching.pinAll(
          () => tokenArraysOf(admitted, idCol, textCol),
          () => bandSignatures(admitted, idCol, textCol, numPerms, rowsPerBand))
        (Some((sigPin, toksPin)), ())
      }
    }

  /** Per-gh sum of gram-count segments: exact, since counts are additive
    * over disjoint doc sets. The gram family's compaction and its snapshot.
    */
  private def gramSum(segs: Vector[DataFrame]): DataFrame =
    graft.Artifacts.unionAll(segs).groupBy("gh")
      .agg(sum("n_docs").as("n_docs"), sum("n_occ").as("n_occ"))

  /** Session store of [[gramStats]] artifacts. The side state is the
    * exactly-once LEDGER of (writerId, batchId) already folded in, for
    * [[appendGramAdmitted]]'s at-least-once callers. Batch ids are only
    * unique WITHIN one streaming query's checkpoint, so the ledger scopes
    * them by writer: without it, two ingest shards (or one stream restarted
    * from a fresh checkpoint location, whose batch ids restart at 0) would
    * collide on batch ids and silently drop each other's batches as false
    * replays. Counts and ledger are one entry and one snapshot (parts
    * `grams` + `ledger`): restoring counts without their ledger re-arms
    * replays as double-folds, so the reader reads the ledger before it pins
    * the counts, and a reset drops both.
    */
  val gramStore = new graft.Artifacts.Store[DataFrame, Set[(String, Long)]](
    "gram artifact",
    pins = Seq(_),
    compact = segs => pinArtifact(gramSum(segs)),
    parts = (spark, e) => {
      import spark.implicits._
      Seq("grams" -> gramSum(e.segs),
        "ledger" -> e.side.toSeq.toDF("writer", "batch_id"))
    },
    read = (spark, base) => {
      val ledger = spark.read.parquet(s"$base/ledger").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      (pinArtifact(spark.read.parquet(s"$base/grams")), ledger)
    })

  /** Build (or fetch) the memoized [[gramStats]] artifact for `cacheKey` —
    * the [[trainedIndex]] treatment for the ExactSubstr stage: built once,
    * served as the lazy union of checkpointed segments, probed per batch by
    * [[dupSubstringSpansIndexed]] (which SUMS segments per gh, so the
    * multi-segment form is exact by additivity). In production this is a
    * parquet/Delta table bucketed on gh.
    */
  def trainedGramIndex(corpus: DataFrame, idCol: String, textCol: String,
                       cacheKey: String, minLen: Int = 12): DataFrame =
    graft.Artifacts.unionAll(gramStore.memo(corpus.sparkSession, cacheKey)(
      (pinArtifact(gramStats(corpus, idCol, textCol, minLen)), Set.empty)).segs)

  /** Fold an admitted batch's gram counts into the memoized artifact —
    * O(admitted batch) per append, same segment discipline as
    * [[appendAdmitted]]: only the batch's own [[gramStats]] rows are
    * checkpointed; past `maxSegments` the segments are compacted by a
    * per-gh SUM. No-op (false) when nothing is memoized under the key.
    *
    * REPLAY contract: gram counts are ADDITIVE with no document column, so
    * unlike the TF/pair appends this one cannot drop already-present docs —
    * a replayed append would silently DOUBLE the batch's n_docs/n_occ.
    * Callers in an at-least-once context (foreachBatch) pass the sink's
    * `batchId`, which Structured Streaming keeps STABLE across retries:
    * an (artifact, writer, batchId) already applied is a recorded no-op —
    * the standard exactly-once-by-batch-id idempotent-sink pattern.
    * `writerId` scopes the batch ids to ONE streaming query's checkpoint:
    * each concurrent writer to the same artifact, and each restart from a
    * NEW checkpoint location (batch ids restart at 0), must pass a
    * distinct writerId (the query's `id` or its checkpointLocation path) —
    * otherwise colliding batch ids silently drop real batches as replays.
    */
  def appendGramAdmitted(admitted: DataFrame, idCol: String, textCol: String,
                         cacheKey: String, minLen: Int = 12,
                         maxSegments: Int = graft.Artifacts.MaxSegments,
                         batchId: Option[Long] = None,
                         writerId: String = ""): Boolean =
    gramStore.append(admitted.sparkSession, cacheKey, maxSegments) { e =>
      if (batchId.exists(id => e.side((writerId, id)))) (None, e.side)
      // a batch netting no gram rows appends no segment (ADVICE r13), but
      // its id is still recorded so the replay contract holds
      else (graft.Artifacts.pinNonEmpty(gramStats(admitted, idCol, textCol,
        minLen)), e.side ++ batchId.map(id => (writerId, id)))
    }

  /** One segment of the maintained pair artifact: the segment's own
    * verified pairs, its documents' unit-token arrays (the verify side of
    * any later append), and its PROBE table — full (term, doc_id, sz)
    * postings for the exact variant (what a batch's prefix tokens
    * equi-join), band signatures (doc_id, band, band_sig) for the LSH
    * variant (what a batch's signatures bucket-join). The probe is a
    * projection of `toks` ([[probeOf]]); a segment restored by
    * [[pairStore]]'s load has none until the first append, which knows the
    * variant, derives and pins it. In production each is a parquet/Delta
    * table bucketed on its probe key.
    */
  final case class PairSegment(pairs: DataFrame, toks: DataFrame,
                               probe: Option[DataFrame]) {
    def pins: Seq[DataFrame] = Seq(pairs, toks) ++ probe
  }

  /** Session store of near-dup pair artifacts ([[trainedPairs]]). Snapshot
    * parts: the pairs and the unit arrays an append verifies against, each
    * compacted on write (unions are disjoint-exact). The probe table is NOT
    * written: it is a projection of the arrays, derived again by the first
    * append after a load — so a snapshot that still holds a stored `probe`
    * part (the former three-part layout) loads the same way. Keys encode
    * variant and threshold, as with [[trainedPairs]]/[[appendPairs]].
    */
  val pairStore = new graft.Artifacts.Store[PairSegment, Unit](
    "pair artifact",
    pins = _.pins,
    compact = segs => PairSegment(
      pinArtifact(graft.Artifacts.unionAll(segs.map(_.pairs))),
      pinArtifact(graft.Artifacts.unionAll(segs.map(_.toks))),
      Some(pinArtifact(graft.Artifacts.unionAll(segs.flatMap(_.probe))))),
    // pairs and arrays, ONE atomic snapshot version: mixed part versions
    // would verify candidates against one corpus state while serving pairs
    // of another
    parts = (_, e) => Seq(
      "pairs" -> graft.Artifacts.unionAll(e.segs.map(_.pairs)),
      "toks" -> graft.Artifacts.unionAll(e.segs.map(_.toks))),
    read = (spark, base) => (PairSegment(
      pinArtifact(spark.read.parquet(s"$base/pairs")),
      pinArtifact(spark.read.parquet(s"$base/toks")), None), ()))

  /** Full posting list of a unit-array table — the exact variant's probe
    * artifact: (term, doc_id, sz), one row per distinct (doc, term), with
    * the document's set size for the cross probe's [[sizeBand]].
    */
  private def postingsOf(arrs: DataFrame): DataFrame =
    arrs.select(explode(col("toks")).as("term"), col("doc_id"),
      size(col("toks")).cast("long").as("sz"))

  /** The probe table of a pair segment, derived from its unit arrays:
    * postings for the exact variant, band signatures for LSH.
    */
  private def probeOf(arrs: DataFrame, lsh: Boolean): DataFrame =
    if (lsh) bandSignaturesFromArrs(arrs, 32, 4) else postingsOf(arrs)

  /** a<b orientation for pair rows whose sides came from different tables
    * (a cross batch×corpus candidate carries batch ids on one fixed side).
    */
  private def orientPairs(pairs: DataFrame): DataFrame =
    pairs.select(least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b"), col("jac"))

  /** Session NEAR-DUP PAIR artifact: the verified pair table
    * ([[jaccardPairs]], or [[minhashLshPairs]] with `lsh = true`) built ONCE
    * per (session, cacheKey) and served lineage-free — the [[trainedIndex]]
    * treatment for the pair table itself. Four registered consumers
    * (canonical selection, cluster labeling, the near-dup PageRank, hard
    * negatives) each start from the same 0.95-threshold pairs; without the
    * memo every one re-runs candidate generation + exact verify over the
    * corpus (~80s of the r12 suite's cpu_ms was exactly this redundancy).
    * A served system computes pairs once: the bench charges the build to
    * its own `train_pairs` line and the consumers measure steady-state
    * consumer-only cost. In production this is a parquet/Delta table keyed
    * (id_a, id_b) — pair tables are append-only under corpus growth, so the
    * artifact composes with the admission gate's per-batch discipline
    * (a batch's new pairs are batch × (corpus ∪ batch), never a corpus
    * re-pair — [[minhashIncrementalIndexed]]'s asymmetry).
    *
    * Exact and LSH variants are DISTINCT artifacts (callers pick via
    * `lsh`): LSH pairs are a recall-bounded subset of the exact table, and
    * the registered queries' oracle twins reproduce each generator's exact
    * semantics, so the two must not be conflated.
    */
  def trainedPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, cacheKey: String,
                   lsh: Boolean = false): DataFrame =
    graft.Artifacts.unionAll(pairStore.memo(df.sparkSession, cacheKey) {
      // the maintenance artifacts (unit arrays + probe table) pin WITH the
      // pair table: an append must verify against the corpus's token sets
      // and equi-join its probe keys without re-tokenizing the corpus —
      // the same reason the admission index stores both frames. Pairs and
      // probe derive from the pinned arrays, so the corpus tokenizes
      // exactly once per build.
      val arrs = pinArtifact(tokenArraysOf(df, idCol, textCol))
      val probe = pinArtifact(probeOf(arrs, lsh))
      (PairSegment(pinArtifact(
        if (lsh) lshVerifiedPairs(probe, arrs, threshold)
        else jaccardPairsFromArrs(arrs, threshold)), arrs, Some(probe)), ())
    }.segs.map(_.pairs))

  /** Fold an admitted batch's near-dup pairs into the memoized pair
    * artifact under `cacheKey` — the append step that keeps the FOUR pair
    * consumers (canonical selection, clustering, PageRank, hard negatives)
    * reading a complete pair table as the admission gate grows the corpus,
    * without ever re-pairing the corpus against itself. Pair tables are
    * append-only under corpus growth: the new pairs of corpus ∪ batch are
    * exactly (batch × corpus) ∪ (batch × batch), so the increment is
    * candidate generation + exact verify for those two classes only —
    * O(batch + candidates), the [[minhashIncrementalIndexed]] asymmetry
    * applied to the pair table itself.
    *
    * Candidate generation per variant:
    *  - LSH (`lsh = true`): the batch's band signatures bucket-join the
    *    STORED signature probe (plus a batch-internal self-join). Band
    *    signatures depend only on the document, so the grown pair set is
    *    IDENTICAL to a fresh [[minhashLshPairs]] over corpus ∪ batch
    *    (spec-locked in DedupSpec).
    *  - exact: a ONE-SIDED prefix filter — the batch doc's prefix tokens
    *    equi-join the stored FULL postings. The prefix lemma holds
    *    one-sided against full sets under ANY per-doc token ordering
    *    (if B misses A's first |A|-⌈t|A|⌉+1 tokens, |A∩B| < t|A| ≤
    *    t|A∪B|), so no ordering consistency with past batches is needed —
    *    which is what makes the append exact WITHOUT recomputing corpus
    *    prefixes as global document frequencies drift. Prefixes are
    *    ordered by the BATCH's df, so stopwords still sort out of
    *    prefixes, and the same prefix table is the regular two-sided
    *    filter for batch-internal pairs (the former stored-corpus df order
    *    cost a corpus postings scan, an aggregate and a second window per
    *    batch for about 7% fewer candidates). Each prefix match must also
    *    pass the [[sizeBand]] length filter (postings carry the corpus
    *    doc's set size), so a corpus doc that shares a rare token but
    *    could never reach the threshold is no candidate — without it the
    *    candidates grew about 7x faster with the corpus. Verification is
    *    exact either way, so the grown pair set equals a fresh
    *    [[jaccardPairs]] over corpus ∪ batch (spec-locked).
    *
    * Same segment discipline as [[appendAdmitted]] (pairs/toks/probe
    * unions are disjoint-exact under compaction). No-op (false) when
    * nothing is memoized under the key. IDEMPOTENT per document: batch
    * docs the artifact already holds are dropped before pairing
    * (at-least-once replays cannot fabricate self-pairs or duplicate
    * segments), and a batch that nets no new docs appends no segment.
    * Caller contract: `threshold`/`lsh` match the key's build — as with
    * [[trainedPairs]], the bench keys encode both.
    */
  def appendPairs(admitted: DataFrame, idCol: String, textCol: String,
                  threshold: Double, cacheKey: String,
                  lsh: Boolean = false,
                  maxSegments: Int = graft.Artifacts.MaxSegments): Boolean =
    pairStore.append(admitted.sparkSession, cacheKey, maxSegments,
      // a restored segment gets its probe on the first append (the variant
      // is the caller's)
      revise = _.map(s => if (s.probe.isDefined) s
        else s.copy(probe = Some(pinArtifact(probeOf(s.toks, lsh)))))) { e =>
      val corpusToks = graft.Artifacts.unionAll(e.segs.map(_.toks))
      val corpusProbe = graft.Artifacts.unionAll(e.segs.flatMap(_.probe))
      // replayed docs are dropped first: re-pairing a present doc would
      // fabricate (d, d) self-pairs via the cross probe and duplicate its
      // pair rows; a batch that nets no new docs appends no segment
      val fresh = graft.Artifacts.pinNonEmpty(graft.Artifacts.unseen(
        tokenArraysOf(admitted, idCol, textCol), Seq(corpusToks)))
      val seg = fresh.map { batchArrs =>
        val allArrs = corpusToks.unionByName(batchArrs)
        def verified(cands: DataFrame) =
          orientPairs(verifyJaccard(cands, allArrs, threshold))
        // a failed pin must not orphan the batch pin either: pinAll drops
        // its own completed siblings, this drops the batch arrays
        val Seq(newPairs, batchProbe) = try {
          if (lsh) {
            val batchSigs = pinArtifact(bandSignaturesFromArrs(batchArrs, 32, 4))
            val cross = bandCandidates(batchSigs, corpusProbe, ordered = false)
            val within = bandCandidates(batchSigs, batchSigs, ordered = true)
            try Seq(pinArtifact(verified(cross.unionByName(within))), batchSigs)
            catch { case e: Throwable =>
              graft.Caching.dropArtifact(batchSigs); throw e }
          } else {
            // ONE prefix table serves both pair classes: ordered by the
            // batch's own df it is the two-sided filter's consistent
            // order within the batch, and any order will do for the
            // one-sided cross probe
            val prefix = prefixTokens(
              batchArrs.select(col("doc_id"), explode(col("toks")).as("term")),
              batchArrs.select(col("doc_id"),
                size(col("toks")).cast("long").as("sz")), threshold)
            val cross = prefixMatches(prefix, corpusProbe, threshold,
              ordered = false)
            val within = prefixMatches(prefix, prefix, threshold,
              ordered = true)
            // the probe-postings pin is a cheap projection of the
            // already-materialized batchArrs pin, independent of the
            // verify pipeline — overlap the two checkpoints so the
            // append's critical path pays the verify job only
            graft.Caching.pinAll(
              () => verified(cross.unionByName(within)),
              () => postingsOf(batchArrs))
          }
        } catch { case e: Throwable =>
          graft.Caching.dropArtifact(batchArrs); throw e }
        PairSegment(newPairs, batchArrs, Some(batchProbe))
      }
      (seg, ())
    }

  /** Drop memoized pair artifacts whose key starts with `cacheKeyPrefix`
    * (the bench's TRUE-rebuild discipline for its `train_pairs` line);
    * reliable-checkpoint files are reclaimed by [[pairStore]].
    */
  def resetPairs(spark: org.apache.spark.sql.SparkSession,
                 cacheKeyPrefix: String): Unit =
    pairStore.reset(spark, cacheKeyPrefix)

  /** Drop memoized admission indexes AND gram artifacts (with their
    * ledgers: a REBUILT artifact belongs to a new stream whose batch ids
    * restart at 0, and a stale entry would wrongly no-op its first batches)
    * whose key starts with `cacheKeyPrefix` — the bench uses this so a
    * `train_dedup_idx` line times a TRUE rebuild. Reliable-checkpoint files
    * are reclaimed ([[graft.Artifacts.Store.drop]]).
    */
  def resetIndex(spark: org.apache.spark.sql.SparkSession,
                 cacheKeyPrefix: String): Unit = {
    indexStore.reset(spark, cacheKeyPrefix)
    gramStore.reset(spark, cacheKeyPrefix)
  }

  /** [[minhashIncremental]] against PRECOMPUTED corpus artifacts — the
    * form a streaming admission gate actually runs at scale: per batch it
    * signs and tokenizes only the BATCH, probes the stored signature
    * table, and verifies candidates against the stored token arrays, so the
    * cost is O(batch + candidates) — the corpus is never re-signed or
    * re-tokenized (with the thunk-per-micro-batch pattern of
    * [[graft.streaming.CorpusStream.admitStream]], the plain operator
    * re-derives both corpus artifacts EVERY batch — fine for a backfill,
    * wrong at stream scale). Output is identical to the plain form on the
    * same data (DedupSpec).
    */
  def minhashIncrementalIndexed(corpusSigs: DataFrame, corpusTokArr: DataFrame,
                                batch: DataFrame, idCol: String,
                                textCol: String, threshold: Double,
                                numPerms: Int = 32,
                                rowsPerBand: Int = 4): DataFrame = {
    // Whole probe in ONE linear plan, two exchanges (candidate distinct +
    // the best-match window): batch signatures are a projection
    // ([[bandSignatures]]), the bucket probe is an equi-join into the
    // stored signature table, and verify joins each candidate pair to the
    // two docs' stored token ARRAYS — exact Jaccard is then
    // size(array_intersect) in the projection (identical arithmetic to the
    // (pair, term)-row verify: both sides are distinct sets). ids must be
    // disjoint across batch and corpus, as in the plain form. At corpus
    // scale the token-artifact join prunes to candidates via the join
    // itself — candidate tables are banded-bounded (broadcastable), and
    // the stored artifact is bucketed on doc_id, so no corpus shuffle.
    incrementalVerdicts(
      candidateProbe(corpusSigs, batch, idCol, textCol, numPerms, rowsPerBand),
      corpusTokArr, batch, idCol, textCol, threshold)
  }

  /** Banded candidate pairs of a batch against the stored signature table
    * — the probe half of [[minhashIncrementalIndexed]], factored out so
    * the monitored form can count it without re-deriving it.
    */
  private def candidateProbe(corpusSigs: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             numPerms: Int, rowsPerBand: Int): DataFrame =
    bandSignatures(batch, idCol, textCol, numPerms, rowsPerBand)
      .as("a")
      .join(corpusSigs.as("b"), Seq("band", "band_sig"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

  /** Verify + verdict half of [[minhashIncrementalIndexed]] over an
    * already-built candidate table.
    */
  private def incrementalVerdicts(candidates: DataFrame,
                                  corpusTokArr: DataFrame, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  threshold: Double): DataFrame = {
    val tokArr = tokenArraysOf(batch, idCol, textCol)
      .unionByName(corpusTokArr.select(col("doc_id"), col("toks")))
    val best = candidates
      .join(tokArr.select(col("doc_id").as("id_a"), col("toks").as("toks_a")),
        "id_a")
      .join(tokArr.select(col("doc_id").as("id_b"), col("toks").as("toks_b")),
        "id_b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      // threshold the RAW ratio, round only for output — verifyJaccard's rule
      .withColumn("jac_raw", col("inter").cast("double")
        / (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
      .filter(col("jac_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac_raw"), 6).as("jac"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id_a").orderBy(col("jac").desc, col("id_b").asc)))
      .filter(col("rn") === 1)
      .select(col("id_a").as("doc_id"), col("id_b").as("dup_of"), col("jac"))
    batch.select(col(idCol).as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNull.cast("long").as("keep"),
        col("dup_of"), col("jac"))
  }

  /** [[minhashIncrementalIndexed]] plus the per-batch OBSERVABILITY row an
    * operator watches when a crawl burst hits the gate: returns the
    * verdict frame AND a one-row metrics frame
    * (n_batch, n_candidates, n_verified_docs, n_admitted, n_rejected) —
    * batch size, candidate pairs the bucket probe produced, distinct batch
    * docs that needed exact verification, and the admit/reject split.
    * Candidate table and verdicts are PINNED (query-scoped; the caller's
    * post-batch Caching.release frees them), so the metrics cost one
    * count over each pinned frame, never a second probe. Metrics equal
    * the verdict frame by construction (spec-locked, EventWindowsSpec).
    */
  def minhashIncrementalMonitored(corpusSigs: DataFrame,
                                  corpusTokArr: DataFrame, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  threshold: Double, numPerms: Int = 32,
                                  rowsPerBand: Int = 4)
  : (DataFrame, DataFrame) = {
    val cand = graft.Caching.temp(
      candidateProbe(corpusSigs, batch, idCol, textCol, numPerms, rowsPerBand))
    val verdicts = graft.Caching.temp(
      incrementalVerdicts(cand, corpusTokArr, batch, idCol, textCol, threshold))
    val metrics = verdicts
      .agg(count(lit(1)).as("n_batch"),
        coalesce(sum(col("keep")), lit(0L)).as("n_admitted"))
      .crossJoin(broadcast(cand.agg(
        count(lit(1)).as("n_candidates"),
        countDistinct(col("id_a")).as("n_verified_docs"))))
      .select(col("n_batch"), col("n_candidates"), col("n_verified_docs"),
        col("n_admitted"), (col("n_batch") - col("n_admitted")).as("n_rejected"))
    (verdicts, metrics)
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).
    * Brute-force inner join with the codegen'd cosine — correct at any
    * scale but quadratic; at corpus scale run it AFTER a bucket prefilter
    * (EmbeddingKnn.signLsh's sign buckets or IVF cells) exactly like the
    * MinHash verify step.
    */
  def embeddingPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_raw",
        graft.functions.VectorOps.cosine(col("a.vec"), col("b.vec")))
      .filter(col("cos_raw") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cos_raw"), 6).as("cosine"))
  }

  /** Semantic benchmark decontamination — the embedding-space analogue of
    * the n-gram decontamination in [[graft.extra.CorpusOps]]: corpus
    * vectors whose cosine vs ANY benchmark vector ≥ `threshold` form the
    * drop list, each row carrying its strongest benchmark match (ranked
    * on the ROUNDED cosine so the winner is engine-deterministic; ties
    * break on the smaller benchmark id). Brute-force A×B is the exact
    * fixture-scale form; at lake scale the candidate join swaps to the
    * cross-set banded sign-LSH shape of [[embeddingPairsLsh]] /
    * bitext-mining (bucket equi-joins, never all-pairs) with the same
    * exact-cosine verify.
    */
  def decontaminateSemantic(corpus: DataFrame, bench: DataFrame,
                            threshold: Double): DataFrame = {
    val c = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    val b = bench.select(col("vec_id").as("bench_id"),
      col("embedding").cast("array<double>").as("bvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("bench_id").asc)
    // broadcast the BENCHMARK side explicitly: a benchmark suite is small
    // by construction, so this cross product is O(corpus × bench) pipelined
    // flops with ZERO shuffles of corpus-scale data — scan-bound, linear in
    // the corpus, embarrassingly parallel. At the decontamination operating
    // point (cos 0.45) this IS the scale path: a sign-LSH band has
    // T/2^bits ≥ 1 expected collisions per RANDOM pair there (see
    // decontaminateSemanticLsh), so no banding can generate fewer
    // candidates than this product evaluates directly.
    c.join(broadcast(b))
      .withColumn("cos_raw",
        graft.functions.VectorOps.cosine(col("vec"), col("bvec")))
      .filter(col("cos_raw") >= threshold)
      .withColumn("cosine", round(col("cos_raw"), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bench_id"), col("cosine"))
  }

  /** [[decontaminateSemantic]]'s scale path, instantiated: the cross-set
    * banded sign-LSH — both sets key into the same multi-table sign
    * buckets, candidates come from the corpus-keys ⋈ benchmark-keys
    * equi-join (never A×B), exact cosine verifies survivors, and the
    * winner rank is the brute-force variant's (rounded cosine, then
    * smaller bench id) over the LSH candidate set. Fixed deterministic
    * bands (dimension signs) so the DuckDB twin reproduces the candidate
    * set exactly.
    *
    * Scale shape (reworked after the r15 sf10 full-suite probe measured
    * the original 5× SLOWER than brute at 200k×20k): candidates are never
    * MATERIALIZED. The first version did candidates.distinct() then two
    * id re-joins — three corpus-candidate-scale shuffles over ~675M rows
    * at sf10, losing to brute force's pure pipelined flops. Now the band
    * keys CARRY their vectors, the benchmark side (small by construction:
    * a benchmark suite) broadcasts, and the cosine verify + threshold
    * filter run INSIDE the bucket join — pipelined, nothing
    * candidate-scale ever shuffles; only verified matches (output-sized)
    * reach the winner window. The distinct() is dropped outright: a pair
    * colliding in several tables yields duplicate verified rows with
    * IDENTICAL (vec_id, bench_id, cosine), and row_number's rn=1 emits
    * one row with the same values whichever duplicate wins — the DuckDB
    * twin (which does dedupe its candidate set) stays row-identical.
    * Width stays at 3×12 deliberately: at a LOW operating threshold
    * (cos 0.45, p_agree ≈ 0.65/bit) the adaptive prefix widening that
    * saves high-threshold near-dup mining would collapse recall
    * (12 bits ⇒ ~6%); the volume problem was materialization, not band
    * occupancy. sf10 isolated: 81 → a few seconds (PLANS r15).
    *
    * HONEST OPERATING ENVELOPE (r15 sf10 probe): sign-LSH banding only
    * GENERATES FEWER candidates than the broadcast cross product when
    * T/2^bits ≪ 1 relative to the random-pair agreement rate — at
    * cos 0.45 a random isotropic pair collides in a 3-bit table with
    * p ≈ 1/8, so 12 tables expect ~1.5 collisions per pair and the band
    * join EVALUATES MORE than brute's n·m cosines. The banded form wins
    * when the operating threshold is high (near-exact contamination,
    * cos ≳ 0.9: p_agree ≈ 0.97/bit keeps recall while random pairs
    * collide at 1/8 per table); for low-threshold decontamination against
    * a small benchmark set, [[decontaminateSemantic]]'s broadcast product
    * (O(n·m) pipelined flops, zero corpus-scale shuffles) is the scale
    * path. Both stay registered and oracle-locked.
    */
  def decontaminateSemanticLsh(corpus: DataFrame, bench: DataFrame,
                               threshold: Double, bitsPerTable: Int = 3,
                               tables: Int = 12): DataFrame = {
    val c = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    val b = bench.select(col("vec_id").as("bench_id"),
      col("embedding").cast("array<double>").as("bvec"))
    // The full sign STRING is computed once per row in its own projection
    // and each band's bucket is a substring of it — NOT one concat-of-CASEs
    // per band: with the verify fused into the join stage (no exchanges to
    // split whole-stage codegen), the per-band form generated a doConsume
    // past the JVM's 8 KB DontCompileHugeMethods limit, and the stage ran
    // INTERPRETED forever — measured 56s vs 5.8s with the limit lifted at
    // sf1.0; the substring form keeps the method JIT-compilable with no
    // JVM-flag dependence. CollapseProject keeps the signs alias intact
    // (non-cheap, referenced 12×), so it really is one evaluation per row.
    // Bucket values are character-identical to the per-band concat.
    def keyed(df: DataFrame, idc: String, vecc: String): DataFrame = {
      val signs = concat((1 to bitsPerTable * tables).map(i =>
        when(lit(i) <= size(col(vecc)),
          when(element_at(col(vecc), i) >= 0, "1").otherwise("0"))
          .otherwise("0")): _*)
      val tableKeys = (0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          substring(col("__signs"), t * bitsPerTable + 1, bitsPerTable)
            .as("bucket"))
      }
      df.select(col(idc), col(vecc), signs.as("__signs"))
        .select(col(idc), col(vecc), explode(array(tableKeys: _*)).as("k"))
        .select(col(idc), col(vecc),
          col("k.tbl").as("tbl"), col("k.bucket").as("bucket"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("bench_id").asc)
    keyed(c, "vec_id", "vec")
      .join(broadcast(keyed(b, "bench_id", "bvec")), Seq("tbl", "bucket"))
      .withColumn("cos_raw",
        graft.functions.VectorOps.cosine(col("vec"), col("bvec")))
      .filter(col("cos_raw") >= threshold)
      .select(col("vec_id"), col("bench_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bench_id"), col("cosine"))
  }

  /** The (table, bucket) layout of the multi-table sign LSH: table t keys on
    * the sign pattern of dimensions [t*bits+1 .. t*bits+bits]. Shared with
    * the oracle generator.
    */
  def signLshTableDims(bitsPerTable: Int, tables: Int): Seq[(Int, Seq[Int])] =
    (0 until tables).map(t =>
      t -> (t * bitsPerTable + 1 to t * bitsPerTable + bitsPerTable))

  /** Embedding near-dup pairs with a multi-table sign-LSH prefilter composed
    * in — the 100 TB path: candidates come from sign-bucket equi-joins
    * (shuffle keyed on (table, bucket), never all-pairs), then exact cosine
    * verifies survivors. A single wide sign pattern has vanishing recall at
    * moderate cosine (per-hyperplane agreement is 1 - θ/π ≈ 0.65 at
    * cos 0.45, so 8 joint bits catch ~3% of true pairs); banding into
    * `tables` independent `bitsPerTable`-bit tables gives
    * 1-(1-p^b)^T ≈ 0.92 recall at the same operating point. Deterministic
    * fixed hyperplanes (dimension signs), so the DuckDB oracle reproduces
    * the same candidate set exactly; recall vs [[embeddingPairs]] is
    * measured in DedupSpec.
    */
  def embeddingPairsLsh(emb: DataFrame, threshold: Double,
                        bitsPerTable: Int = 3, tables: Int = 12,
                        maxBits: Int = -1, targetLog2: Int = 5): DataFrame = {
    val widest = if (maxBits < 0) bitsPerTable else maxBits
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    // maxBits > bitsPerTable turns on ADAPTIVE banding: a fixed-width
    // sign band makes the bucket self-join quadratic in corpus size
    // (Σ occupancy² with occupancy ∝ n/2^bits — the sf10 century probe
    // measured 770M candidates for 14k true pairs), so the compared
    // bucket becomes a PREFIX of the widest band whose length grows one
    // bit per corpus doubling: blen = clamp(floor(log2 n) - targetLog2,
    // bitsPerTable, maxBits), holding expected occupancy near
    // 2^targetLog2. floor(log2 n) = length(bin(n)) - 1 — exact integer
    // arithmetic the DuckDB twin reproduces from the same count. Table
    // anchors keep the stride-bitsPerTable layout (the minimum width IS
    // the classic banding; fixture-scale behavior is unchanged), widths
    // overlap adjacent tables' dims past the stride. Recall at the band
    // widening is a measured, graceful decay on near-dup workloads
    // (true pairs are high-cosine: p_agree ≈ 0.97/bit at cos 0.99);
    // low-threshold mining keeps more tables or an IVF prefilter.
    val keyedWide = {
      val tableKeys = (0 until tables).map { t =>
        val dims = t * bitsPerTable + 1 to t * bitsPerTable + widest
        struct(lit(t).as("tbl"),
          concat(dims.map(i =>
            // the size guard keeps out-of-range dims unread (ANSI
            // element_at throws; non-ANSI would silently pad) — the
            // compared prefix below never extends past the REAL bit
            // supply, so the '0' filler is never part of a bucket key
            // on the adaptive path
            when(lit(i) <= size(col("vec")),
              when(element_at(col("vec"), i) >= 0, "1").otherwise("0"))
              .otherwise("0")): _*).as("bucket"))
      }
      e.select(col("vec_id"), explode(array(tableKeys: _*)).as("k"))
        .select(col("vec_id"), col("k.tbl").as("tbl"), col("k.bucket").as("bucket"))
    }
    val keyed =
      if (widest == bitsPerTable) keyedWide
      else {
        // blen is additionally capped by the corpus's actual embedding
        // width: the last table's bit supply is dim - (tables-1)·stride,
        // and widening the compared prefix past it would compare the
        // constant filler — occupancy would stop halving per bit and the
        // quadratic candidate growth the adaptive band exists to prevent
        // would silently return. At the registered 64-dim embeddings the
        // cap is 31 ≥ maxBits = 12, so the DuckDB twin's count-only
        // formula stays the identical arithmetic.
        val blenDf = broadcast(
          e.agg(count(lit(1)).as("n"), min(size(col("vec"))).as("dim"))
            .select(greatest(lit(bitsPerTable), least(
              lit(widest),
              col("dim") - (tables - 1) * bitsPerTable,
              greatest(lit(bitsPerTable),
                length(bin(col("n"))) - 1 - targetLog2))).as("blen")))
        keyedWide.crossJoin(blenDf)
          .select(col("vec_id"), col("tbl"),
            expr("substring(bucket, 1, blen)").as("bucket"))
      }
    val cand = keyed.as("a").join(keyed.as("b"), Seq("tbl", "bucket"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos_raw",
        graft.functions.VectorOps.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cosine"))
  }

  /** [[embeddingPairsLsh]] with an EXACT-GROUP COLLAPSE in front — for
    * embedding spaces where many ids share bit-identical vectors (coarse
    * quantized features, decoded-media statistics, hashed sketches). Sign
    * LSH is blind to exact duplication: g ids with one vector land
    * together in every table's bucket, so the row-level bucket self-join
    * pays Σ g² candidates and re-verifies the same cosine g² times — the
    * candidate volume grows QUADRATICALLY in corpus size for a fixed
    * feature lattice (measured on the media path: 7M → 892M candidates
    * for 10× rows, sf0.1 → sf1.0, while distinct vectors grew only
    * 2552 → 6597). Collapsing to one representative per distinct vector
    * makes the LSH+verify cost a function of the LATTICE (bounded by the
    * feature discretization, not the corpus) and leaves only
    * output-proportional work: within-group pairs are enumerated directly
    * (identical vectors collide in every table, so the uncollapsed
    * operator emits all of them too), and rep-level survivors expand to
    * member pairs through two gid joins. Returns the IDENTICAL pair set
    * and cosines as the uncollapsed operator (spec-locked in
    * MultimodalSpec): bucket membership and cosine are functions of the
    * vector alone, so rep-level collision/verify outcomes transfer to
    * every member verbatim.
    *
    * 100 TB shape: the collapse is one map-side-combined aggregate on the
    * vector (at most D partial rows leave each partition, D = distinct
    * vectors); the member table re-joins on the vector (AQE broadcasts
    * the D-row side when small); everything after is O(D·tables) + output
    * size. Use when D ≪ N; with nearly-unique embeddings (real float
    * encoders) the collapse adds a wasted shuffle — keep
    * [[embeddingPairsLsh]] there.
    */
  /** The collapsed builder's shared prelude: distinct-vector groups, the
    * member→group map, rep-level verified pairs and per-group self-cosine
    * survival — consumed by [[embeddingPairsLshCollapsed]] (pair
    * expansion) and [[embeddingClustersLshCollapsed]] (cluster labels).
    */
  private case class RepGraph(reps: DataFrame, members: DataFrame,
                              repPairs: DataFrame, selfCos: DataFrame)

  private def collapsedRepGraph(emb: DataFrame, threshold: Double,
                                bitsPerTable: Int, tables: Int,
                                partitionCols: Seq[String]): RepGraph = {
    val pc = partitionCols.map(col)
    val e = emb.select(pc ++ Seq(col("vec_id"),
      col("embedding").cast("array<double>").as("vec")): _*)
    // one representative id per distinct (partition, vector) group (min
    // id: stable, and the aggregate partial-combines map-side so giant
    // groups never shuffle). Rows partition into disjoint groups and
    // vec_ids are globally unique, so gid alone identifies a group —
    // the expansion joins below key on gid and carry the partition
    // columns through the pair rows.
    val reps = graft.Caching.temp(
      e.groupBy(pc :+ col("vec"): _*).agg(min(col("vec_id")).as("gid")))
    val members = graft.Caching.temp(
      e.join(reps, partitionCols :+ "vec").select(col("vec_id"), col("gid")))
    // rep-level LSH over distinct vectors only; the partition columns are
    // part of every bucket key, so separate partitions (modalities,
    // tenants) never cross-pair — equivalent to running the operator
    // per-partition, in ONE plan
    val tableKeys = signLshTableDims(bitsPerTable, tables).map { case (t, dims) =>
      struct(lit(t).as("tbl"),
        concat(dims.map(i =>
          when(element_at(col("vec"), i) >= 0, "1").otherwise("0")): _*).as("bucket"))
    }
    val keyed = reps.select(pc ++ Seq(col("gid"),
        explode(array(tableKeys: _*)).as("k")): _*)
      .select(pc ++ Seq(col("gid"), col("k.tbl").as("tbl"),
        col("k.bucket").as("bucket")): _*)
    val cand = keyed.as("a").join(keyed.as("b"),
        partitionCols ++ Seq("tbl", "bucket"))
      .filter(col("a.gid") < col("b.gid"))
      .select(pc ++ Seq(col("a.gid").as("gid_a"), col("b.gid").as("gid_b")): _*)
      .distinct()
    val repPairs = cand
      .join(reps.select(col("gid").as("gid_a"), col("vec").as("vec_a")), "gid_a")
      .join(reps.select(col("gid").as("gid_b"), col("vec").as("vec_b")), "gid_b")
      .withColumn("cos_raw",
        graft.functions.VectorOps.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos_raw") >= threshold)
      .select(pc ++ Seq(col("gid_a"), col("gid_b"),
        round(col("cos_raw"), 6).as("cosine")): _*)
    // within-group survival: identical vectors share every bucket, so the
    // uncollapsed operator emits all within-group pairs; their cosine is
    // the self-cosine of the group's vector (kept as a computed value, not
    // lit(1.0), so zero vectors and FP edge cases match the row-level path)
    val selfCos = reps.withColumn("cos_raw",
        graft.functions.VectorOps.cosine(col("vec"), col("vec")))
      .filter(col("cos_raw") >= threshold)
      .select(pc ++ Seq(col("gid"), round(col("cos_raw"), 6).as("cosine")): _*)
    RepGraph(reps, members, repPairs, selfCos)
  }

  def embeddingPairsLshCollapsed(emb: DataFrame, threshold: Double,
                                 bitsPerTable: Int = 3, tables: Int = 12,
                                 partitionCols: Seq[String] = Nil): DataFrame = {
    val pc = partitionCols.map(col)
    val g = collapsedRepGraph(emb, threshold, bitsPerTable, tables, partitionCols)
    val members = g.members
    // cross-group expansion: every member pair inherits its reps' cosine
    val cross = g.repPairs
      .join(members.select(col("gid").as("gid_a"), col("vec_id").as("ma")), "gid_a")
      .join(members.select(col("gid").as("gid_b"), col("vec_id").as("mb")), "gid_b")
      .select(pc ++ Seq(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("cosine")): _*)
    // within-group pairs at the reps' self-cosine
    val within = members.as("a").join(members.as("b"), "gid")
      .filter(col("a.vec_id") < col("b.vec_id"))
      .join(g.selfCos, "gid")
      .select(pc ++ Seq(col("a.vec_id").as("id_a"),
        col("b.vec_id").as("id_b"), col("cosine")): _*)
    cross.unionByName(within)
  }

  /** Cluster labels over the SAME near-dup relation as
    * [[embeddingPairsLshCollapsed]], with O(corpus) output instead of the
    * pair expansion: on duplication-dense corpora (capped feature
    * lattices, quantized sketches) the TRUE pair count grows with the
    * square of clique sizes — the sf10 media probe measured ~1e9 true
    * pairs for 500k rows — so any all-pairs consumer is output-bound no
    * matter how good the candidate generator is. Connected components run
    * at the REP level (nodes and edges are lattice-bounded, never
    * corpus-bounded), then labels transfer to members through one gid
    * join: cluster_id = min vec_id over the member's component, exactly
    * the label [[CorpusOps.dedupClusters]] would assign over the expanded
    * pair set (gid IS its group's min member; components preserve
    * connectivity under expansion — spec-locked in MultimodalSpec).
    * Members of a group whose self-cosine fails the bar (zero vectors)
    * are singletons, matching the pair operator's exclusion of their
    * within-group pairs.
    *
    * @return (partitionCols…, vec_id, cluster_id, is_rep 1|0)
    */
  def embeddingClustersLshCollapsed(emb: DataFrame, threshold: Double,
                                    bitsPerTable: Int = 3, tables: Int = 12,
                                    partitionCols: Seq[String] = Nil): DataFrame = {
    val pc = partitionCols.map(col)
    val g = collapsedRepGraph(emb, threshold, bitsPerTable, tables, partitionCols)
    // pin the verified rep edges: this operator references them from
    // several separate actions/branches — unpinned, each re-ran the LSH
    // bucket join + cosine verify
    val repPairs = graft.Caching.temp(
      g.repPairs.select(col("gid_a"), col("gid_b")))
    val selfOk = g.selfCos.select(col("gid"), lit(1).as("self_ok"))
    // Rep-level components: gids are globally unique vec_ids and rep
    // pairs never cross partitions, so ONE component pass serves every
    // partition; min-label = min gid = min member vec_id of the component.
    // The rep graph is LATTICE-bounded (distinct vectors, not rows), so a
    // bounded driver union-find almost always applies — labels AND the
    // has-any-edge flag come out of one collected edge list, two small
    // jobs and one broadcastable (gid, cluster_id, has_edge) frame. Past
    // the budget (a genuinely corpus-shaped graph): the distributed star
    // loop plus the DF-side edge flag, identical labels by CorpusOpsSpec.
    val spark = emb.sparkSession
    val repMeta: DataFrame = CorpusOps.boundedCollect(
      g.reps.select(col("gid").as("id")),
      repPairs.select(col("gid_a").as("id_a"), col("gid_b").as("id_b")),
      maxDriverRows = 2000000L) match {
      case Some((ids, edges)) =>
        val labelOf = CorpusOps.unionFindLabels(ids, edges)
        val edgedIds = new java.util.HashSet[Long](edges.length * 2)
        edges.foreach { case (a, b) => edgedIds.add(a); edgedIds.add(b) }
        import spark.implicits._
        ids.map(id => (id, labelOf.get(id),
          if (edgedIds.contains(id)) Some(1) else None)).toSeq
          .toDF("gid", "cluster_id", "has_edge")
      case None =>
        val labels = CorpusOps.connectedComponentsDF(
          g.reps.select(col("gid").as("id")),
          repPairs.select(col("gid_a").as("id_a"), col("gid_b").as("id_b")))
          .select(col("id").as("gid"), col("cluster_id"))
        val edged = repPairs.select(col("gid_a").as("gid"))
          .unionByName(repPairs.select(col("gid_b").as("gid")))
          .distinct().withColumn("has_edge", lit(1))
        labels.join(edged, Seq("gid"), "left")
    }
    g.members
      .join(g.reps.select(pc :+ col("gid"): _*), "gid")
      .join(repMeta, "gid")
      .join(selfOk, Seq("gid"), "left")
      .select(pc ++ Seq(col("vec_id"),
        // a failed self-cosine (zero vector) removes the within-group
        // pairs, so an EDGELESS such group's members are singletons —
        // exactly what dedupClusters assigns over the expanded pair set
        when(col("self_ok").isNull && col("has_edge").isNull,
          col("vec_id")).otherwise(col("cluster_id")).as("cluster_id")): _*)
      .withColumn("is_rep",
        when(col("vec_id") === col("cluster_id"), 1L).otherwise(0L))
  }

  /** (doc_id, tf, h) term-frequency rows with the 60-bit md5 term hash —
    * shared by both simhash implementations.
    */
  private def simhashTf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextTokens.lowerSpaceTokens(col(textCol)))
          .as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("h", conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"))

  /** 60-bit SimHash fingerprints: per token, bits of a 60-bit md5-derived
    * hash vote +tf/-tf per position; fingerprint bit i = sign of the vote
    * sum. Returned as a bit string (readable, and band-sliceable for
    * candidate generation).
    *
    * Oracle-twin shape: posexplode ×bits then two aggregations — every
    * step SQL-expressible, which is what lets DuckDB reproduce the
    * fingerprints exactly.
    */
  def simhashExploded(df: DataFrame, idCol: String, textCol: String,
                      bits: Int = 60): DataFrame = {
    val tf = simhashTf(df, idCol, textCol)
    tf.select(col("doc_id"), col("tf"), col("h"),
        posexplode(sequence(lit(0), lit(bits - 1))).as(Seq("i", "bit_pos")))
      .withColumn("vote",
        when(expr("shiftright(h, bit_pos) & 1") === 1,
          col("tf")).otherwise(-col("tf")))
      .groupBy("doc_id", "bit_pos").agg(sum("vote").as("v"))
      .groupBy("doc_id")
      .agg(concat_ws("", reverse(transform(
        array_sort(collect_list(struct(col("bit_pos"), col("v")))),
        s => when(s.getField("v") > 0, "1").otherwise("0")))).as("fingerprint"))
  }

  /** Vote buffer for [[SimhashVotes]]: one long per bit position. */
  case class SimBuf(votes: Array[Long])

  /** Single-pass SimHash votes: a typed Aggregator carrying a bits-long
    * buffer per document — map-side partial combine, ONE shuffle of
    * #docs × bits longs, versus the exploded path's bits× row blowup
    * (60× the (doc, term) stream) before its first aggregation. Identical
    * fingerprints (DedupSpec asserts equality with [[simhashExploded]]).
    */
  class SimhashVotes(bits: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long), SimBuf, String] {
    def zero: SimBuf = SimBuf(new Array[Long](bits))
    def reduce(b: SimBuf, in: (Long, Long)): SimBuf = {
      val (h, tf) = in
      var i = 0
      while (i < bits) {
        b.votes(i) += (if (((h >> i) & 1L) == 1L) tf else -tf)
        i += 1
      }
      b
    }
    def merge(x: SimBuf, y: SimBuf): SimBuf = {
      var i = 0
      while (i < bits) { x.votes(i) += y.votes(i); i += 1 }
      x
    }
    // MSB-first bit string, '1' where the vote sum is positive — the same
    // reverse(sort-by-bit_pos) shape as the exploded path
    def finish(b: SimBuf): String = {
      val sb = new StringBuilder(bits)
      var i = bits - 1
      while (i >= 0) { sb.append(if (b.votes(i) > 0) '1' else '0'); i -= 1 }
      sb.toString
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[SimBuf] =
      org.apache.spark.sql.Encoders.product[SimBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }

  /** SimHash fingerprints via the single-pass Aggregator (the scale path;
    * requires a numeric id column). Default for [[simhashPairs]].
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 60): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new SimhashVotes(bits).toColumn
    simhashTf(df, idCol, textCol)
      .select(col("doc_id").cast("long"), col("h"), col("tf"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("fingerprint"))
      .toDF("doc_id", "fingerprint")
  }

  /** Near-dup pairs by SimHash: candidates share one of `bands` fingerprint
    * slices; verified by Hamming distance <= maxHamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    val fp = simhash(df, idCol, textCol).cache()
    val bitsLen = 60
    val bandLen = bitsLen / bands
    val banded = fp.select(col("doc_id"), col("fingerprint"),
      posexplode(array((0 until bands).map(b =>
        substring(col("fingerprint"), b * bandLen + 1, bandLen)): _*))
        .as(Seq("band", "slice")))
    banded.as("a").join(banded.as("b"), Seq("band", "slice"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.fingerprint").as("fp_a"), col("b.fingerprint").as("fp_b"))
      .distinct()
      // codegen byte-compare expression — the zip_with(split,split) lambda
      // equivalent builds two char arrays per pair and is CodegenFallback
      .withColumn("hamming",
        graft.functions.VectorOps.hamming(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** C4-style duplicated-span REMOVAL (the transform, not the metric that
    * [[graft.extra.CorpusOps.crossDocRepetition]] reports): every token
    * covered by a word w-gram that also occurs in at least `minDocs`
    * distinct documents is dropped, and the document is rewritten from the
    * surviving tokens. The C4 pipeline removed duplicated three-sentence
    * spans the same way; on word grams the semantics are: gram starting at
    * position i is duplicated → tokens i..i+w-1 are covered.
    *
    * Plan shape (all linear at corpus scale, and the token TEXT never
    * leaves its row — the in-row discipline of [[dupSubstringSpans]],
    * which this operator predated): grams are an in-row projection off
    * the ordered token array (only (doc_id, pos, gh) rows reach any
    * exchange); gram document-frequencies via a two-phase distinct-count
    * aggregate keyed on the gram hash (vocabulary-sized output, hot
    * boilerplate grams partial-aggregate map-side); the flag semi-join
    * returns only DUPLICATED starts — a set the dedup rate bounds — which
    * one doc-keyed aggregate turns into a per-doc sorted start list; the
    * coverage and the rewrite are then per-ROW array expressions on the
    * (doc, token-array, starts) join: covered = ∪ [s, s+w-1] (O(starts·w)
    * ints), survivors = array_except over the position sequence (order-
    * preserving), text = element_at gather. The former design shuffled
    * every token through TWO doc-keyed window passes plus a corpus-wide
    * collect_list; this one shuffles integer positions for duplicated
    * grams only. Intra-document repeats alone do NOT trigger removal
    * (document frequency counts distinct docs).
    *
    * @return (doc_id, clean_text, n_tokens, n_removed)
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 w: Int = 5, minDocs: Int = 2): DataFrame = {
    // ORDERED token arrays (not the distinct sets of tokenArraysOf); docs
    // with zero tokens produce no output row, as the former exploded form
    val arrs = graft.Caching.temp(df
      .select(col(idCol).as("doc_id"),
        graft.functions.TextTokens.lowerSpaceTokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 1))
    // full-width grams only (a shorter tail gram would collide with
    // genuine short grams); md5 keeps the DF shuffle narrow, as everywhere
    // in this file — both sides of the aggregate hash, so the dup set is
    // identical. NOT pinned: the dup-flag aggregate and the starts probe
    // both derive it, but recomputing the w=5 md5 off the PINNED token
    // arrays beat caching the positions-sized (doc_id, pos, gh) stream in
    // an interleaved A/B (round 17: stage 2.4s recompute vs 3.3s pinned) —
    // the cache write+read of ~1 row/token costs more than the second
    // cheap-gram pass.
    val grams = arrs.filter(size(col("tk")) >= w)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - (w - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("tk"), col("pos"), lit(w)))).as("gh"))
    val dup = grams.groupBy("gh").agg(countDistinct("doc_id").as("dw"))
      .filter(col("dw") >= minDocs).select("gh")
    val starts = grams.join(dup, Seq("gh"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    arrs.join(starts, Seq("doc_id"), "left")
      .withColumn("covered",
        when(col("starts").isNull, array().cast("array<int>"))
          .otherwise(array_distinct(flatten(transform(col("starts"),
            s => sequence(s, s + w - 1))))))
      .withColumn("keep_pos",
        array_except(sequence(lit(1), size(col("tk"))), col("covered")))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("keep_pos"),
          p => element_at(col("tk"), p))).as("clean_text"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("covered")).cast("long").as("n_removed"))
  }

  /** Exact duplicated-substring SPANS (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr pass,
    * public method description): per document, the MAXIMAL regions covered
    * by substrings of ≥ `minLen` tokens that occur verbatim in at least one
    * OTHER document. Variable length where [[dedupSpans]] is fixed-width:
    * a 70-token templated block reports as ONE 70-token span.
    *
    * The equivalence that makes this Spark-shaped (no suffix array, no
    * pair join): a token lies inside some cross-document duplicate of
    * length ≥ minLen IFF it is covered by a duplicated minLen-GRAM —
    * every longer duplicate covers each of its tokens with a duplicated
    * minLen-window, and a duplicated minLen-gram is itself such a
    * substring. So coverage comes from gram-duplication flags (a
    * vocabulary-bounded document-frequency aggregate — candidate volume
    * stays LINEAR in corpus size, where occurrence-pair designs go
    * quadratic on boilerplate grams), and the maximal spans are the merged
    * coverage islands (overlapping or abutting duplicated windows chain).
    * The REMOVAL twin is exactly [[dedupSpans]] with w = minLen — its
    * n_removed equals the span-length sum per document (spec-locked).
    *
    * Plan shape: tokenize shuffle-free; grams one doc-keyed window; gram
    * DF a map-side-combined md5-keyed aggregate; the flag join is a
    * per-occurrence semi-join; island merge one per-doc window. All
    * partitions are document- or vocabulary-bounded.
    *
    * @param selfRepeats false (default): flag only CROSS-document
    *        duplicates (a gram in ≥ 2 distinct docs). true: Lee et al.'s
    *        canonical criterion — a gram at ≥ 2 distinct positions
    *        overall, which also removes boilerplate repeated inside a
    *        single document.
    * @return (doc_id, span_start, span_len) — 1-based token positions,
    *         span_len ≥ minLen, spans disjoint and maximal per doc
    */
  /** Per-document full-width gram occurrences, (doc_id, pos, gh) — the
    * shared front half of the ExactSubstr family. Grams are an IN-ROW
    * projection off the token array (the bandSignatures rule: a document's
    * windows all live in its row) — no posexplode + lead-window pass, so
    * the full token stream never shuffles. Positions are exploded with the
    * hash as a top-level column: the generate and the md5(concat_ws(slice))
    * stay in ONE whole-stage-codegen span (a lambda inside `transform`
    * would drop to interpreted eval — measured ~9% slower), and the
    * per-position rows never leave the scan stage with the token array
    * attached (only (doc_id, pos, gh) reaches any exchange). Full-width
    * grams only (the dedupSpans tail rule): empty when size < w.
    */
  private def gramStream(df: DataFrame, idCol: String, textCol: String,
                         w: Int): DataFrame = {
    val toksCol = graft.functions.TextTokens.lowerSpaceTokens(col(textCol))
    df.select(col(idCol).as("doc_id"), toksCol.as("toks"))
      .filter(size(col("toks")) >= w) // shorter docs have no full-width gram
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (w - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("toks"), col("pos"), lit(w)))).as("gh"))
  }

  /** The stored ExactSubstr ARTIFACT for a corpus: per gram its distinct
    * document count and total occurrence count — everything either
    * duplication criterion ([[dupSubstringSpans]]'s cross-doc default or
    * Lee et al.'s self-repeat rule) needs from history, in one
    * vocabulary-bounded map-side-combined aggregate. The streaming gate
    * probes this instead of re-gramming the corpus per micro-batch
    * ([[dupSubstringSpansIndexed]]); counts are ADDITIVE across disjoint
    * document sets, which is what makes the per-batch append and the
    * segment compaction exact.
    *
    * @return (gh, n_docs, n_occ)
    */
  def gramStats(df: DataFrame, idCol: String, textCol: String,
                minLen: Int = 12): DataFrame =
    gramStream(df, idCol, textCol, minLen)
      .groupBy("gh")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))

  def dupSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                        minLen: Int = 12,
                        selfRepeats: Boolean = false): DataFrame = {
    val w = minLen
    // grams as an IN-ROW projection off the token array (the bandSignatures
    // rule: a document's windows all live in its row) — no posexplode +
    // lead-window pass, so the full token stream never shuffles; the only
    // doc-keyed exchange below carries DUPLICATED gram starts, a set the
    // dedup rate bounds. md5 keeps the DF shuffle narrow; both engines
    // hash, so the dup set is identical. Full-width grams only (the
    // dedupSpans tail rule): sequence is empty when size < w. NOT pinned
    // (round-17 A/B): caching the positions-sized gram stream for its two
    // consumers measured level-to-slightly-worse than recomputing it —
    // same finding as dedupSpans.
    val grams = gramStream(df, idCol, textCol, w)
    // Duplication criterion: the default flags CROSS-document repeats only
    // (countDistinct doc_id ≥ 2 — the conservative form that never removes
    // a string unique to one page). selfRepeats=true is Lee et al. 2022's
    // ACTUAL ExactSubstr criterion — a gram occurring at ≥ 2 distinct
    // positions overall, so boilerplate repeated INSIDE one document (nav
    // blocks duplicated in-page) is flagged too. The self form is the
    // cheaper aggregate (plain count, no per-group distinct), same
    // vocabulary-bounded shape.
    val dup = (if (selfRepeats)
        grams.groupBy("gh").agg(count(lit(1)).as("dw"))
      else grams.groupBy("gh").agg(countDistinct("doc_id").as("dw")))
      .filter(col("dw") >= 2).select("gh")
    mergeIslands(grams.join(dup, Seq("gh"), "left_semi")
      .select("doc_id", "pos"), w)
  }

  /** Coverage-island merge shared by the batch sweep and the indexed probe:
    * duplicated gram starts → disjoint maximal (span_start, span_len) per
    * doc. One doc-keyed window over DUPLICATED starts only (a set the dedup
    * rate bounds), then a per-(doc, island) aggregate.
    */
  private def mergeIslands(starts: DataFrame, w: Int): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    starts
      .withColumn("prev_end", max(col("pos") + (w - 1)).over(
        byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island", when(col("prev_end").isNull ||
        col("pos") > col("prev_end") + 1, 1).otherwise(0))
      .withColumn("island", sum("new_island").over(byPos))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + w - min(col("pos"))).cast("long").as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  /** [[dupSubstringSpans]] for a BATCH against the STORED gram artifact —
    * the ExactSubstr stage a streaming admission ladder runs at scale: the
    * corpus is never re-grammed; per micro-batch the cost is
    * O(batch grams + candidate grams).
    *
    * Exact equivalence (spec-locked in DedupSpec): the returned spans equal
    * `dupSubstringSpans(corpus ∪ batch, minLen, selfRepeats)` restricted to
    * batch documents, because both criteria are sums of ADDITIVE per-side
    * counts over disjoint doc ids — cross-doc: corpus n_docs + batch
    * distinct docs ≥ 2; self-repeat: corpus n_occ + batch occurrences ≥ 2.
    *
    * Plan shape: batch grams are the zero-exchange in-row stream; the
    * corpus-side lookup joins the stored (possibly multi-segment) artifact
    * to the batch's DISTINCT gram hashes and sums per gh — candidate-
    * bounded, the corpus-sized artifact is only equi-join-probed on its
    * key; the batch-side counts are one batch-bounded aggregate; island
    * merge is the shared per-doc window.
    */
  def dupSubstringSpansIndexed(corpusGrams: DataFrame, batch: DataFrame,
                               idCol: String, textCol: String,
                               minLen: Int = 12,
                               selfRepeats: Boolean = false): DataFrame = {
    val w = minLen
    val grams = gramStream(batch, idCol, textCol, w)
    val batchStats = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("b_docs"), count(lit(1)).as("b_occ"))
    // segments sum per gh (counts are additive across disjoint doc sets);
    // the semi-join first bounds the aggregate to the batch's vocabulary
    val corpusStats = corpusGrams
      .join(batchStats.select("gh"), Seq("gh"), "left_semi")
      .groupBy("gh")
      .agg(sum("n_docs").as("c_docs"), sum("n_occ").as("c_occ"))
    val dup = batchStats.join(corpusStats, Seq("gh"), "left")
      .filter(if (selfRepeats)
          col("b_occ") + coalesce(col("c_occ"), lit(0L)) >= 2
        else col("b_docs") + coalesce(col("c_docs"), lit(0L)) >= 2)
      .select("gh")
    mergeIslands(grams.join(dup, Seq("gh"), "left_semi")
      .select("doc_id", "pos"), w)
  }

  /** Span-level benchmark decontamination — Lee et al. 2022's ExactSubstr
    * criterion applied CROSS-SET: per training document, the maximal
    * verbatim spans of ≥ `minLen` tokens that also occur in the BENCHMARK
    * set. The positional form of
    * [[graft.extra.CorpusOps.decontaminate]]'s gram-overlap count: where
    * that flags WHICH documents leak eval text, this says WHICH TEXT —
    * enabling surgical span removal instead of whole-document drops
    * (the GPT-3/PaLM contamination-study form). Train-internal duplicates
    * do NOT flag (that is [[dupSubstringSpans]]'s job): the criterion is
    * presence in the benchmark gram set alone.
    *
    * Plan shape: the training side is the zero-exchange in-row gram
    * stream; `benchGrams` is the vocabulary-bounded [[gramStats]] of the
    * benchmark — at 100 TB a STORED artifact ([[trainedGramIndex]] keyed
    * on the benchmark table, maintained as benchmarks are added) probed by
    * one semi-join; spans are the shared per-doc island merge. Cost is
    * O(train grams + matches), the corpus never pairs against itself.
    *
    * @return (doc_id, span_start, span_len) — positions of benchmark text
    *         inside each contaminated training doc; clean docs absent
    */
  def contaminationSpans(docs: DataFrame, idCol: String, textCol: String,
                         benchGrams: DataFrame,
                         minLen: Int = 12): DataFrame =
    mergeIslands(
      gramStream(docs, idCol, textCol, minLen)
        .join(benchGrams.select("gh"), Seq("gh"), "left_semi")
        .select("doc_id", "pos"), minLen)

  /** Per-document rollup of a span frame — the number the admission ladder
    * thresholds on: how many tokens of the document sit inside verbatim
    * duplicated spans. @return (doc_id, n_dup_spans, n_dup_tokens)
    */
  def spanStats(spans: DataFrame): DataFrame =
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum("span_len").as("n_dup_tokens"))

  /** Cross-corpus PARAGRAPH dedup (the RefinedWeb/CCNet line-level pass,
    * between [[exact]] whole-document dedup and [[dedupSpans]] token-span
    * removal): the corpus keeps exactly ONE copy of every distinct
    * paragraph — the occurrence with the smallest (doc_id, para_idx) —
    * and each document is rewritten from its surviving paragraphs in
    * order. Paragraph boundaries are fixed `paraTokens`-token windows
    * (the fixture text has no newlines; a corpus with real line breaks
    * would split on those instead — the dedup dataflow is identical).
    *
    * Plan shape at corpus scale — unit TEXT never leaves its row (the
    * dedupSpans in-row rule): the per-doc unit-hash ARRAY is computed and
    * pinned in-row (one tokenize+md5 pass at cache fill; both consumers
    * read the cached arrays), so the exploded stream any exchange carries
    * is (doc_id, para_idx, h) — two ints and a hash. First-occurrence per
    * hash is a MAP-SIDE-COMBINED `min(struct(doc_id, para_idx))`
    * aggregate — NOT a window partitioned by hash, so a boilerplate
    * paragraph occurring 10^9 times partial-aggregates on every mapper
    * instead of landing on one hot partition. The winner semi-filter
    * returns only KEPT unit indexes (ints), one doc-keyed aggregate
    * sorts them, and the text rebuild is a per-ROW slice-gather off the
    * document's own token array.
    *
    * @return (doc_id, n_paras, n_kept, clean_text)
    */
  /** Per-doc fixed-width unit-hash array: md5 of each `unit`-token window
    * of `toks` (tail window shorter; windows start at 1, 1+unit, …).
    * Shared by [[dedupParagraphs]] and [[boilerplateLines]] so the unit
    * boundary/tokenize rules — and their DuckDB oracle twins — cannot
    * drift apart.
    */
  private def unitHashes(toks: Column, unit: Int): Column =
    transform(
      sequence(lit(0L), size(toks).cast("long") - 1, lit(unit.toLong)),
      st => md5(concat_ws(" ", slice(toks, (st + 1).cast("int"), lit(unit)))))

  /** Rebuild text from kept unit indexes (0-based, sorted): the per-row
    * slice-gather both unit-dedup operators end with.
    */
  private def unitGather(toks: Column, keepIdx: Column, unit: Int): Column =
    concat_ws(" ", transform(keepIdx,
      i => concat_ws(" ", slice(toks, (i * unit + 1).cast("int"), lit(unit)))))

  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      paraTokens: Int = 32): DataFrame = {
    val toks = graft.functions.TextTokens.lowerSpaceTokens(col(textCol))
    val arrs = graft.Caching.temp(df
      .select(col(idCol).cast("long").as("doc_id"), toks.as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("phs", unitHashes(col("toks"), paraTokens)))
    val units = arrs.select(col("doc_id"),
      posexplode(col("phs")).as(Seq("para_idx", "h")))
    val first = units.groupBy("h")
      .agg(min(struct(col("doc_id"), col("para_idx").cast("long").as("para_idx")))
        .as("first"))
    val kept = units.join(first, Seq("h"))
      .filter(struct(col("doc_id"),
        col("para_idx").cast("long").as("para_idx")) === col("first"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("para_idx"))).as("keep_idx"))
    arrs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("phs")).cast("long").as("n_paras"),
        when(col("keep_idx").isNull, lit(0L))
          .otherwise(size(col("keep_idx")).cast("long")).as("n_kept"),
        when(col("keep_idx").isNull, lit(""))
          .otherwise(unitGather(col("toks"), col("keep_idx"), paraTokens))
          .as("clean_text"))
  }

  /** CCNet-style per-source boilerplate LINE removal — the third rung of
    * the line-granularity ladder, distinct from its two neighbors:
    * [[dedupParagraphs]] keeps exactly ONE copy of a repeated unit
    * (cross-source, first-wins); this removes EVERY copy of a line that
    * recurs across `minDocs`+ distinct documents of the SAME source
    * (nav menus, cookie banners, footers — boilerplate is a property of
    * the crawl source, so scoping df to the source keeps a quote that two
    * different sources legitimately share). [[dedupSpans]] is the finer
    * token-gram sweep that follows for partial overlaps.
    *
    * Lines are fixed `lineTokens`-token windows ([[dedupParagraphs]]'s
    * no-newlines fixture note applies — a real corpus splits on '\n'
    * with the identical dataflow).
    *
    * Plan shape at corpus scale — unit TEXT never leaves its row, like
    * [[dedupParagraphs]]: the pinned per-doc hash array feeds an exploded
    * (doc_id, source, line_idx, h) stream; the boilerplate table is a
    * (source, hash)-keyed two-phase count-distinct — map-side partials
    * absorb a line repeated 10^9 times, and its output is bounded by the
    * distinct-line vocabulary, filtered to the boilerplate subset before
    * the probe. The semi-join returns only the REMOVED unit indexes
    * (ints, a set the boilerplate rate bounds); the survivors come from an
    * order-preserving array_except and the text rebuild is a per-ROW
    * slice-gather.
    *
    * @return (doc_id, n_lines, n_removed, clean_text)
    */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
                       srcCol: String, lineTokens: Int = 16,
                       minDocs: Int = 2): DataFrame = {
    val toks = graft.functions.TextTokens.lowerSpaceTokens(col(textCol))
    val arrs = graft.Caching.temp(df
      .select(col(idCol).cast("long").as("doc_id"), col(srcCol).as("source"),
        toks.as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("phs", unitHashes(col("toks"), lineTokens)))
    val units = arrs.select(col("doc_id"), col("source"),
      posexplode(col("phs")).as(Seq("line_idx", "h")))
    val bp = units.groupBy("source", "h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select("source", "h")
    val removed = units.join(bp, Seq("source", "h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("line_idx"))).as("rm_idx"))
    arrs.join(removed, Seq("doc_id"), "left")
      .withColumn("keep_idx", array_except(
        sequence(lit(0), size(col("phs")) - 1),
        coalesce(col("rm_idx"), array().cast("array<int>"))))
      .select(col("doc_id"),
        size(col("phs")).cast("long").as("n_lines"),
        when(col("rm_idx").isNull, lit(0L))
          .otherwise(size(col("rm_idx")).cast("long")).as("n_removed"),
        unitGather(col("toks"), col("keep_idx"), lineTokens).as("clean_text"))
  }
}
