package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-frequency / TF-IDF statistics over text columns — danae's
  * "freqs" enrichment (reference: ingest/profiling/profiler_tfidf.py:9-68 +
  * ingest/profiling/filters.py:137-158, which asks ES termvectors for
  * term_freq, ttf, doc_freq and scores `(tf/ttf) * ln(N/df)`).
  *
  * Spark-first: tokenize with `explode(split(...))` (codegen'd, no UDF),
  * aggregate TF with a hash aggregate (map-side partial combine), rank with a
  * window. The corpus-level stats (ttf, df, N) are plain aggregations joined
  * back — at 100 TB the term dimension is small relative to the corpus, and
  * the (term)-keyed aggregates shuffle only distinct terms per partition.
  */
object TermStats {

  /** (doc_id, term) token stream. Splits on single spaces and drops empties —
    * deliberately mirrors DuckDB `string_split(text, ' ')` for oracle parity.
    * One-pass codegen tokenizer (see [[graft.functions.TextTokens]]); the
    * empty-drop happens inside the expression, before the explode.
    */
  def tokens(df: DataFrame, docIdCol: String, textCol: String): DataFrame =
    df.select(col(docIdCol).as("doc_id"),
        explode(graft.functions.TextTokens.lowerSpaceTokens(col(textCol)))
          .as("term"))

  /** Per-document term frequencies. */
  def termFreqs(tokensDf: DataFrame): DataFrame =
    tokensDf.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Adjacent word n-gram unit stream (n = 1 → [[tokens]]; n = 2 →
    * space-joined adjacent bigrams, the EXACT construction of
    * [[graft.extra.TextStats.lmScoreBigram]] / `collocations` — zip of the
    * token array against its one-shift, docs shorter than n dropped).
    * The unit the TF-artifact family aggregates over: the same
    * (doc_id, term) shape at every n, so one segment/append machinery
    * serves unigram and bigram artifacts alike.
    */
  def unitTokens(df: DataFrame, docIdCol: String, textCol: String,
                 n: Int): DataFrame = {
    require(n == 1 || n == 2, s"unitTokens supports n in {1, 2}, got $n")
    if (n == 1) tokens(df, docIdCol, textCol)
    else
      // one-pass kernel: byte-identical rows to
      // explode(bigramsOf(lowerSpaceTokens(text))) behind the old
      // size >= 2 pre-filter (kernel yields an empty array there) —
      // TermStatsSpec locks kernel ≡ the canonical zip-shift construction
      df.select(col(docIdCol).as("doc_id"),
        explode(graft.functions.TextGrams.lowerSpaceGrams(col(textCol), 2))
          .as("term"))
  }

  /** Adjacent space-joined bigrams of a token-array column — THE canonical
    * zip-shift construction every bigram consumer shares (the n = 2 unit
    * stream here, [[graft.extra.TextStats.lmScoreBigram]]'s fallback,
    * `collocations`' corpus counts), so artifact-fed ≡ inline equivalence
    * cannot drift across copies. Callers filter `size(ts) >= 2` first.
    */
  def bigramsOf(ts: Column): Column =
    zip_with(
      slice(ts, lit(1), size(ts) - 1),
      slice(ts, lit(2), size(ts) - 1),
      (a, b) => concat(a, lit(" "), b))

  /** Session store of TERM-FREQUENCY artifacts ([[trainedTermFreqs]]). The
    * side state is the n-gram order each artifact was BUILT with — bound to
    * the key so a caller cannot silently mix unit streams (a unigram append
    * folded into a bigram artifact corrupts every bigram consumer's
    * counts). Compaction and the `tf` snapshot part are plain unions (exact
    * by (doc_id, term) key disjointness); the order rides a one-row `meta`
    * part so a load re-binds it.
    */
  val tfStore = new graft.Artifacts.Store[DataFrame, Int](
    "TF artifact",
    pins = Seq(_),
    compact = segs => graft.Caching.pinArtifact(graft.Artifacts.unionAll(segs)),
    parts = (spark, e) => {
      import spark.implicits._
      Seq("tf" -> graft.Artifacts.unionAll(e.segs),
        "meta" -> Seq(e.side).toDF("n"))
    },
    read = (spark, base) => {
      val n = spark.read.parquet(s"$base/meta").head().getInt(0)
      (graft.Caching.pinArtifact(spark.read.parquet(s"$base/tf")), n)
    })

  /** Session TERM-FREQUENCY artifact: `termFreqs(tokens(df))` built ONCE per
    * (session, cacheKey) and served lineage-free — the
    * [[graft.extra.Dedup.trainedPairs]] treatment for the TF table. Five
    * registered consumers (tf/tfidf top-k, the TF-IDF kNN, the BM25 document
    * search, the posting-list export) each branch every corpus statistic
    * (df, ttf, dl, norms) off this same (doc_id, term, tf) aggregate;
    * without the memo each QUERY re-tokenizes the corpus (per-query pins
    * already stopped each query doing it per BRANCH). A served system
    * tokenizes once: this IS the inverted index's TF core — in production a
    * parquet/Delta table maintained alongside the corpus (per-batch
    * appends, like the admission index), here the in-session form.
    */
  def trainedTermFreqs(df: DataFrame, docIdCol: String, textCol: String,
                       cacheKey: String, n: Int = 1): DataFrame = {
    val e = tfStore.memo(df.sparkSession, cacheKey)((graft.Caching.pinArtifact(
      termFreqs(unitTokens(df, docIdCol, textCol, n))), n))
    // the artifact's unit order is part of its identity: fetching a key
    // built at a different n would silently serve the wrong unit stream
    require(e.side == n,
      s"TF artifact '$cacheKey' was built with n=${e.side}, requested n=$n — " +
        "use a distinct cacheKey per n-gram order")
    graft.Artifacts.unionAll(e.segs)
  }

  /** Fold a batch of NEW documents' term frequencies into the memoized
    * artifact — O(batch) per append, the
    * [[graft.extra.Dedup.appendGramAdmitted]] segment discipline: only the
    * batch's own tokenize+aggregate rows are checkpointed; past
    * `maxSegments` the segments are compacted into one pin (a plain union —
    * exact because (doc_id, term) keys are disjoint across segments when
    * appended doc ids are new, the same by-construction property the
    * admission gate's accepted batches carry). Re-appending an EXISTING
    * document is out of contract (its rows would double-count) — a mutated
    * document goes through the refresh path, which drops the artifact for
    * a rebuild. No-op (false) when nothing is memoized under the key.
    *
    * The n-gram order is NOT a parameter: the append always uses the order
    * the artifact was built with (the store entry's side state), so a
    * stream maintaining a bigram artifact folds bigram rows in — a
    * caller-supplied n could silently mix unit streams.
    */
  def appendTermFreqs(batch: DataFrame, docIdCol: String, textCol: String,
                      cacheKey: String,
                      maxSegments: Int = graft.Artifacts.MaxSegments): Boolean =
    tfStore.append(batch.sparkSession, cacheKey, maxSegments) { e =>
      // replayed docs would DOUBLE their tf rows — silently wrong df/ttf
      // for every TF consumer — so they are dropped first; an all-replay
      // batch, or fresh docs netting zero unit rows (empty text at n=1,
      // one-token docs at n=2), appends no segment
      val fresh = graft.Artifacts.unseen(batch.select(
        col(docIdCol).as("doc_id"), col(textCol).as("__text")), e.segs)
      (graft.Artifacts.pinNonEmpty(
        termFreqs(unitTokens(fresh, "doc_id", "__text", e.side))), e.side)
    }

  /** Drop memoized TF artifacts whose key starts with `cacheKeyPrefix` (the
    * bench's TRUE-rebuild discipline for its `train_tf` line);
    * reliable-checkpoint files are reclaimed by [[tfStore]].
    */
  def resetTermFreqs(spark: org.apache.spark.sql.SparkSession,
                     cacheKeyPrefix: String): Unit =
    tfStore.reset(spark, cacheKeyPrefix)

  /** Top-k terms per document by TF, deterministic tie-break on term
    * (filters.py:156-158 keeps the top-10 list).
    */
  def tfTopK(tokensDf: DataFrame, k: Int = 10): DataFrame =
    tfTopKFromTf(termFreqs(tokensDf), k)

  /** [[tfTopK]] off an existing TF table (see [[trainedTermFreqs]]). */
  def tfTopKFromTf(tf: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Top-k terms per document by the reference's TF-IDF variant
    * `(term_freq / ttf) * ln(N / doc_freq)` (filters.py:152-153), where
    * ttf = total term frequency corpus-wide, df = #docs containing the term,
    * N = #docs. Scores rounded to 6 decimals for oracle parity.
    */
  /** Sparse TF-IDF cosine top-k document similarity — text-native nearest
    * neighbors with no embedding table: weight w(d,t) = tf · ln(N/df),
    * cosine via an inverted-index join on term (dot products accumulate
    * only where terms co-occur — the sparse-vector trick), then a windowed
    * per-query top-k. The df-cap drops terms present in more than
    * `maxDfFrac` of documents BEFORE the join: such terms carry near-zero
    * idf weight but quadratic join fan-out (every stopword pairs all
    * documents), so the cap is what keeps the candidate join linear-ish at
    * corpus scale — same role as the prefix filter in Dedup.jaccardPairs.
    * The query side is a handful of documents' term rows — broadcast.
    *
    * @return (q_id, c_id, sim, rank) — rank ties break on c_id
    */
  def tfidfKnn(df: DataFrame, docIdCol: String, textCol: String,
               queryIds: Seq[Long], k: Int = 5,
               maxDfFrac: Double = 0.5,
               tfTable: Option[DataFrame] = None): DataFrame = {
    // The TF table and the weight stream each feed several branches (df
    // counts, norms, query side, candidate side). Catalyst cannot reuse the
    // exchanges — column pruning specializes every branch's subtree — so an
    // unpersisted plan re-scans and re-tokenizes the corpus once per branch
    // (24 scans measured). Persist both: the corpus is tokenized exactly
    // once; in production the TF table is materialized corpus metadata
    // anyway (like the sketch index). Registered with graft.Caching so the
    // caller can release the pins once the query's action completes.
    // `tfTable` (the [[trainedTermFreqs]] artifact) skips even that one
    // tokenize: the session already owns the pinned TF core.
    val tf = tfTable.getOrElse(
      graft.Caching.temp(termFreqs(tokens(df, docIdCol, textCol))))
    val nDf = tf.agg(countDistinct("doc_id").as("n_docs"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wts = graft.Caching.temp(
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(nDf))
        .filter(col("df") <= col("n_docs") * maxDfFrac)
        .withColumn("w", col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df")))
        .select("doc_id", "term", "w"))
    val norms = wts.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val q = wts.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("q_id"), col("term"), col("w").as("qw"))
    val win = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id").asc)
    wts.join(broadcast(q), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id").as("c_id"))
      .agg(sum(col("qw") * col("w")).as("dot"))
      .join(broadcast(norms.select(col("doc_id").as("q_id"), col("nrm").as("q_nrm"))), "q_id")
      .join(norms.select(col("doc_id").as("c_id"), col("nrm").as("c_nrm")), "c_id")
      .withColumn("sim", round(col("dot") / (col("q_nrm") * col("c_nrm")), 6))
      .select("q_id", "c_id", "sim")
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
  }

  def tfIdfTopK(tokensDf: DataFrame, k: Int = 10): DataFrame =
    tfIdfTopKFromTf(termFreqs(tokensDf), k)

  /** [[tfIdfTopK]] off an existing TF table (see [[trainedTermFreqs]]) —
    * every corpus statistic (ttf, df, N) derives from the TF aggregate, so
    * the artifact-fed form is plan-identical below the TF node.
    */
  def tfIdfTopKFromTf(tf: DataFrame, k: Int = 10): DataFrame = {
    val corpus = tf.groupBy("term")
      .agg(sum("tf").as("ttf"), count(lit(1)).as("df"))
    // Corpus size as a broadcast 1-row join — no driver-side action, the
    // whole query stays one lazily-planned job.
    val nDf = tf.agg(countDistinct("doc_id").as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(corpus), "term")
      .crossJoin(broadcast(nDf))
      .withColumn("score",
        round(col("tf").cast("double") / col("ttf")
          * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "score", "rank")
  }

  /** Materialized inverted-index build — the Spark-side export of what the
    * reference keeps inside Elasticsearch (the termvectors the profiler
    * queries are exactly these postings; reference:
    * ingest/profiling/filters.py:137-158). One row per (term, shard):
    * document frequency, collection frequency, and the posting list as a
    * `docId:tf` string ordered by doc id (string form keeps the
    * cross-engine hash compare independent of array/struct rendering).
    *
    * Sharding is the 100 TB design point: postings shard by
    * `doc_id mod nShards`, so a stop-word's posting list can never become
    * one corpus-sized row/string — each row is bounded by its shard's
    * documents, hot terms parallelize across shards, and a term lookup
    * reads `nShards` co-keyed rows (still one equi-join). Plan shape: one
    * (term, doc) hash aggregate with map-side combine, then one
    * (term, shard) aggregate; the ordered list is an `array_sort` over the
    * collected shard slice, never a global sort.
    */
  def postingLists(docs: DataFrame, docIdCol: String, textCol: String,
                   nShards: Int = 4,
                   tfTable: Option[DataFrame] = None): DataFrame = {
    // pmod (not %) so negative doc ids still land in [0, nShards) — the
    // oracle twin mirrors this with ((doc_id % n) + n) % n, keeping the
    // cross-engine compare sign-safe (DuckDB's % keeps the dividend sign).
    val tf = tfTable
      .getOrElse(termFreqs(tokens(docs, docIdCol, textCol)))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
    tf.groupBy("term", "shard")
      .agg(
        count(lit(1)).as("df"),
        sum("tf").as("cf"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("tf")))),
            s => concat(s("doc_id").cast("string"), lit(":"),
              s("tf").cast("string"))), ",").as("postings"))
      .orderBy("term", "shard")
  }
}
