package graft

import graft.extra.{CardSketch, Classifier, Clustering, CorpusOps, Dedup, EmbeddingKnn, GraphOps, Pca, Salting, Signals, TextStats}
import graft.ingest.{Embedder, Profiler, TermStats}
import graft.search.{Bm25, CombinedScorer, DistanceJoin, Matcher, Sketches}
import graft.streaming.EventWindows
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query follows two parity rules with its DuckDB twin:
  * (1) floats are rounded (4-6 decimals) ON BOTH SIDES before comparison and
  * before any ranking that feeds a LIMIT, and (2) every ranking breaks ties
  * down to a unique key so row sets are deterministic.
  */
object SparkEntry {

  private def T(s: SparkSession, d: String, name: String): DataFrame =
    Tables.load(s, d, name)

  /** The shared documents TF artifact (TermStats.trainedTermFreqs) probed by
    * the TF family (tf/tfidf top-k, tfidf_knn, bm25_docs, posting_lists) and
    * the unigram-LM family — built once per session, its own `train_tf`
    * bench line.
    */
  private def TF(s: SparkSession, d: String): DataFrame =
    TermStats.trainedTermFreqs(T(s, d, "documents"), "doc_id", "text",
      s"$d#tf:documents")

  /** The documents BIGRAM-TF artifact (train_tf2 bench line): the
    * (doc, bigram, tf) table the bigram LM scores from and the PMI
    * collocation miner rolls its corpus counts off — keyed under the
    * `tf:documents` family so a documents refresh drops it with the rest.
    */
  private def TF2(s: SparkSession, d: String): DataFrame =
    TermStats.trainedTermFreqs(T(s, d, "documents"), "doc_id", "text",
      s"$d#tf:documents/bigrams", n = 2)

  /** The passage corpus (stride-overlap chunks keyed by `doc:chunk`) and
    * its TF artifact — the RAG serving index `passage_search` scores from
    * (danae's own search serves from indexes built at ingest, not per
    * query); its own `train_passages` bench line.
    */
  private[graft] def passagesOf(s: SparkSession, d: String): DataFrame =
    extra.CorpusOps.chunkTexts(T(s, d, "documents"), "doc_id", "text")
      .select(concat_ws(":", col("doc_id"), col("chunk_id")).as("pid"),
        col("chunk_text"))

  private def PTF(s: SparkSession, d: String): DataFrame =
    TermStats.trainedTermFreqs(passagesOf(s, d), "pid", "chunk_text",
      s"$d#tf:documents/passages")

  /** Flagship: full dataset-similarity search for `customer` on sf0.001
    * (danae's "Find Similar" — SURVEY.md §3.1).
    */
  def entry(spark: SparkSession): DataFrame =
    CombinedScorer.search(spark, "/root/testdata/sf0.001", "customer")
      .select("query_id", "c_dataset", "content_score", "metadata_score",
        "overall_score")

  /** doc_id bound for the quadratic-verify dedup pair queries — keeps the
    * pair space fixed (~45k pairs) across scale factors.
    */
  private[graft] val DocBound = 300
  private val KnnQueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)
  // "reference corpus" whitelist for the NB quality classifier — the CCNet
  // positive class (Wikipedia-like sources); everything else is crawl
  private val NbRefSources = Seq("src1", "src2", "src3")
  private val Bm25Terms = Seq("spark", "query", "join", "stream")
  // the fixture's 31-term vocabulary puts every term in ~78% of documents,
  // so the scale df-cap (0.5 at a real corpus) would empty the query; the
  // cap semantics are spec-tested on a synthetic corpus instead
  private val TfidfDfCap = 1.0
  // blocklist gate fixture: phrases spanning token boundaries (substring,
  // not token, semantics), one term a prefix of another (exercises the
  // Aho-Corasick fail/output closure), one zero-hit phrase
  private val BlocklistTerms = Seq(
    "merge", "merge batch", "slow scan", "hash value", "big join",
    "lorem ipsum", "customer")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- classic relational coverage (free in Spark; §2.3/§2.4/§2.5/§2.6) ----
    // Rounding-grid safety: revenue terms are exact 4-decimal values
    // (2-dec price × 2-dec discount factor), so a 4-decimal grid keeps the
    // true sum ≥ 5e-5 from every boundary while a 2-decimal grid has
    // reachable x.xx50 boundaries; avg derives from the rounded sum so both
    // engines divide identical doubles (see EventWindows.tumbling).
    "q1_pricing_agg" -> ((s, d) =>
      T(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"),
        round(round(sum("l_discount"), 2) / count(lit(1)), 6).as("avg_disc"))),

    "q3_segment_revenue" -> ((s, d) => {
      val c = T(s, d, "customer").select("c_custkey", "c_mktsegment")
      val o = T(s, d, "orders").select("o_orderkey", "o_custkey")
      T(s, d, "lineitem")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("rev"), 4).as("revenue"))
    }),

    "q_topk_orders" -> ((s, d) =>
      T(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)),

    "q_semi_anti" -> ((s, d) => {
      val c = T(s, d, "customer").select("c_custkey")
      val o = T(s, d, "orders").select("o_custkey")
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      val without = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      withO.agg(count(lit(1)).as("n")).select(lit("with_orders").as("grp"), col("n"))
        .unionAll(without.agg(count(lit(1)).as("n"))
          .select(lit("without_orders").as("grp"), col("n")))
    }),

    "q_rollup" -> ((s, d) =>
      T(s, d, "orders").rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("total"))),

    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      T(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice")
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("running"),
        row_number().over(w).cast("long").as("rn"))
    }),

    // ---- profiling (danae A1-A4) ----
    "profile_table_stats" -> ((s, d) =>
      O.profiledTables.map { t => Profiler.tableStats(T(s, d, t), t) }
        .reduce(_.unionAll(_))),

    // all tables share ONE distinct shuffle (numericStatsAll)
    "profile_numeric_stats" -> ((s, d) =>
      Profiler.numericStatsAll(Tables.sketchTables.map(t => (t, T(s, d, t))))),

    // long-format view of the (cached) sketch table — the profile IS the
    // index content, so serve it from the pinned index
    "profile_quantiles" -> ((s, d) =>
      Sketches.cachedNumericTemporal(s, d)
        .select(col("dataset_id"), col("col_name"), col("col_type"),
          posexplode(col("vector")).as(Seq("dim0", "v")))
        .select(col("dataset_id"), col("col_name"), col("col_type"),
          (col("dim0") + 1).cast("long").as("dim"), col("v"))),

    "profile_bbox" -> ((s, d) =>
      Profiler.bboxSketch(T(s, d, "part"), "part", "p_retailprice", "p_size")
        .select("dataset_id", "x_col", "y_col", "x_min", "y_min", "x_max", "y_max")),

    "type_histogram" -> ((s, d) => {
      import s.implicits._
      Profiler.typeHistogram(Tables.sketchTables.map(t => (t, T(s, d, t))))
        .toDF("dataset_id", "col_type", "n_cols")
    }),

    // ---- cardinality / frequency sketches (lake-scale profiling path) ----
    // one scan per table; the four columns ride two value streams
    "hll_distinct" -> ((s, d) =>
      CardSketch.hllDistinct(
        CardSketch.valueStream(T(s, d, "orders"), Seq("o_custkey"))
          .unionAll(CardSketch.valueStream(T(s, d, "lineitem"),
            Seq("l_partkey", "l_orderkey")))
          .unionAll(CardSketch.valueStream(T(s, d, "customer"), Seq("c_custkey"))))),

    "heavy_hitters" -> ((s, d) =>
      CardSketch.heavyHitters(
        TermStats.tokens(T(s, d, "documents"), "doc_id", "text"), 20)),

    // join-key skew diagnosis (pairs with Salting.saltedJoin): hottest keys,
    // their shares, and the salt factor that would level the hot key
    "skew_audit" -> ((s, d) =>
      Salting.skewAudit(T(s, d, "events"), "user_id")),

    // ---- pivot (wide conditional aggregation; §2.12 SQL surface) ----
    "q_pivot" -> ((s, d) =>
      T(s, d, "orders").withColumn("yr", year(col("o_orderdate")).cast("long"))
        .groupBy("yr")
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(round(sum("o_totalprice"), 2))
        .toDF("yr", "p1_urgent", "p2_high", "p3_medium", "p4_notspec", "p5_low")),

    // ---- term stats (danae A5-A7) ----
    "tf_topk_docs" -> ((s, d) =>
      TermStats.tfTopKFromTf(TF(s, d), 10)
        .withColumn("rank", col("rank").cast("long"))),

    "tfidf_topk_docs" -> ((s, d) =>
      TermStats.tfIdfTopKFromTf(TF(s, d), 10)
        .withColumn("rank", col("rank").cast("long"))),

    // ---- embedding pooling (danae A8) ----
    "embed_pool_label" -> ((s, d) =>
      Embedder.meanPoolLong(T(s, d, "embeddings"), "label", "embedding")
        .select(col("grp").as("label"), col("dim").cast("long").as("dim"), col("v"))),

    // ---- sketch kNN + similarity search (danae J1/W1/W2/T1-T5, G1-G2, M1) ----
    "sketch_knn" -> ((s, d) =>
      DistanceJoin.knn(Sketches.cachedNumericTemporal(s, d), "customer", 100, 50)
        .select(col("q_col"), col("c_dataset"), col("c_col"), col("col_type"),
          col("dist"), col("kth"), col("sim"), col("rank").cast("long").as("rank"))),

    // bucketLength ~ the distance scale of interesting neighbors (collision
    // probability ~ bucketLength/dist per table); percentile vectors span
    // 1e2..1e9 here, so 1e5 keeps the near neighborhood while pruning the far
    "sketch_knn_lsh" -> ((s, d) =>
      DistanceJoin.knnLsh(Sketches.cachedNumericTemporal(s, d), "customer", 100, 50,
          bucketLength = 1e5, numHashTables = 5)
        .select(col("q_col"), col("c_dataset"), col("c_col"), col("col_type"),
          col("dist"), col("kth"), col("sim"), col("rank").cast("long").as("rank"))),

    // the random-access edge completion (danae J2) standalone over the
    // numeric+temporal sketch — oracle-checkable, unlike the Hungarian
    // matching step that consumes it in content_scores
    "content_edges" -> ((s, d) => {
      val sk = Sketches.cachedNumericTemporal(s, d)
      // same query-scoped pin as CombinedScorer.search: candidateEdges reads
      // the ranked lists through two broadcast build jobs
      val ranked = Caching.temp(DistanceJoin.knn(sk, "customer", 100, 50))
      DistanceJoin.candidateEdges(sk, "customer", ranked)
        .select(col("q_col"), col("c_dataset"), col("c_col"), col("col_type"),
          col("dist"), col("kth"), col("sim"))
    }),

    // Exact micro-weight matching → oracle-checkable: the max-weight total is
    // a unique integer, so DuckDB reaches the identical score by enumerating
    // injective assignments (customer has only 5 sketchable columns). The
    // matching PAYLOAD stays out of the registered output — maximum matchings
    // are not unique under ties, only their total is (SearchSpec covers the
    // payload).
    "content_scores" -> ((s, d) => {
      val sk = Sketches.cachedAll(s, d)
      val ranked = Caching.temp(DistanceJoin.knn(sk, "customer", 100, 50))
      val edges = DistanceJoin.candidateEdges(sk, "customer", ranked)
      val nQ = sk.filter(col("dataset_id") === "customer").count()
      Matcher.contentScoresExact(edges, nQ)
        .select(col("c_dataset"), col("content_score"))
    }),

    "bm25_docs" -> ((s, d) =>
      Bm25.scores(T(s, d, "documents"), "doc_id", "text", Bm25Terms,
          tfTable = Some(TF(s, d)))
        .orderBy(col("score").desc, col("doc_id").asc).limit(100)),

    "similarity_search" -> ((s, d) =>
      CombinedScorer.search(s, d, "customer")
        .select("query_id", "c_dataset", "content_score", "metadata_score",
          "overall_score")),

    // second query dataset through the SAME generic path (orders brings a
    // Temporal query column customer lacks) — proves nothing is
    // special-cased to one query id
    "similarity_search_orders" -> ((s, d) =>
      CombinedScorer.search(s, d, "orders")
        .select("query_id", "c_dataset", "content_score", "metadata_score",
          "overall_score")),

    // the full weighted request shape (ui/ui.py:305-312): non-uniform
    // per-column content weights over a 3-column selection, non-uniform
    // per-field metadata weights, 3:1 content/metadata split — G4's weight
    // normalization exercised end to end on the oracle-checked path
    "similarity_search_weighted" -> ((s, d) =>
      Engine.search(s, d, Engine.SearchRequest("customer",
        Engine.ContentSpec(
          columns = Map("c_acctbal" -> 2.0, "c_name" -> 1.0, "c_mktsegment" -> 1.0),
          weight = 3.0),
        Engine.MetadataSpec(
          fields = Map("title" -> 2.0, "keywords" -> 1.0, "description" -> 1.0),
          weight = 1.0)))
        .select("query_id", "c_dataset", "content_score", "metadata_score",
          "overall_score")),

    // three fields, each queried with the query dataset's own field text and
    // its own boost (metadata_search.py:12-26)
    "bm25_multifield" -> ((s, d) =>
      Bm25.multiField(
        CombinedScorer.datasetMetadata(s, d)
          .filter(col("dataset_id") =!= "customer")
          .withColumnRenamed("dataset_id", "doc_id"),
        "doc_id",
        Seq(("title", 0.5, O.customerTitleTerms),
            ("keywords", 0.3, O.customerKeywordTerms),
            ("description", 0.2, O.customerDescTerms)))),

    "autocomplete" -> ((s, d) =>
      Bm25.autocomplete(CombinedScorer.datasetMetadata(s, d), "er", 10)),

    "title_search" -> ((s, d) =>
      Bm25.titleSearch(
        CombinedScorer.datasetMetadata(s, d).filter(col("dataset_id") =!= "customer"),
        O.titleTerms)),

    "column_concat" -> ((s, d) =>
      T(s, d, "nation").agg(
        concat_ws(" ", sort_array(collect_list(col("n_name")))).as("doc"))
        .select(lit("nation").as("dataset_id"), lit("n_name").as("col_name"),
          col("doc"))),

    "event_sliding" -> ((s, d) =>
      EventWindows.sliding(T(s, d, "events"), "1 hour", "30 minutes")),

    // ---- dedup (LLM-pipeline extras) ----
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(T(s, d, "documents"), "doc_id", "text")),

    "dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(T(s, d, "documents").filter(col("doc_id") < DocBound),
        "doc_id", "text", 0.95)),

    // eval-contamination audit: near-dup pairs straddling the per-doc hash
    // split (the number splitAssignBy exists to drive to zero)
    "split_leakage" -> ((s, d) =>
      CorpusOps.splitLeakage(
        T(s, d, "documents").filter(col("doc_id") < DocBound),
        "doc_id", "text", 0.9)),

    // entity resolution on the TABULAR side: the same prefix-filtered
    // Jaccard join links part names (record-linkage use of the dedup
    // machinery; key bound fixes the pair space across SFs)
    "entity_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(T(s, d, "part").filter(col("p_partkey") < DocBound),
        "p_partkey", "p_name", 0.3)
        .withColumnsRenamed(Map("id_a" -> "key_a", "id_b" -> "key_b"))),

    // order-sensitive near-dup: word 3-gram shingle sets (Broder w-shingling)
    "dedup_shingle" -> ((s, d) =>
      Dedup.shinglePairs(T(s, d, "documents").filter(col("doc_id") < DocBound),
        "doc_id", "text", 3, 0.8)),

    // C4-style duplicated-span REMOVAL: rewrite each document dropping every
    // token covered by a word 5-gram that appears in >= 2 distinct docs
    "dedup_spans" -> ((s, d) =>
      Dedup.dedupSpans(T(s, d, "documents"), "doc_id", "text")),

    // Lee et al. 2022 ExactSubstr: maximal cross-document duplicated
    // substrings >= 12 tokens, variable length (merged coverage islands of
    // duplicated 12-grams — exact for removal semantics, linear candidate
    // volume). Full documents table: no pair join to bound.
    "dedup_substrings" -> ((s, d) =>
      Dedup.dupSubstringSpans(T(s, d, "documents"), "doc_id", "text")),

    // Lee et al.'s canonical criterion: a 12-gram at >= 2 distinct
    // positions OVERALL (not >= 2 docs) — also flags boilerplate repeated
    // inside one document; supersets the cross-doc spans
    "dedup_substrings_self" -> ((s, d) =>
      Dedup.dupSubstringSpans(T(s, d, "documents"), "doc_id", "text",
        selfRepeats = true)),

    // span-level decontamination (Lee et al. ExactSubstr cross-set): the
    // verbatim >= 5-token spans of BENCHMARK text (the deterministic
    // doc_id % 97 carve and the 5-gram width decontaminate itself uses)
    // inside each training doc — which text to strip, not just which docs
    // to drop
    "decontaminate_spans" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.contaminationSpans(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        Dedup.gramStats(docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", 5), 5)
    }),

    // RefinedWeb-style paragraph dedup: one surviving copy per distinct
    // 32-token paragraph corpus-wide, documents rewritten in order
    "dedup_paragraph" -> ((s, d) =>
      Dedup.dedupParagraphs(T(s, d, "documents"), "doc_id", "text")),

    // CCNet-style boilerplate pass: remove EVERY copy of a line recurring
    // in >= 2 docs of the same source (vs dedup_paragraph's keep-one; the
    // fixture's duplicate clusters mostly straddle sources, so the
    // per-source df tops out at 2 — production corpora dial minDocs up)
    "dedup_lines" -> ((s, d) =>
      Dedup.boilerplateLines(T(s, d, "documents"), "doc_id", "text", "source")),

    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashLshPairs(T(s, d, "documents").filter(col("doc_id") < DocBound),
        "doc_id", "text", 0.95)),

    // incremental admission gate: the md5-bucket 20% "new batch" judged
    // against the 80% "accumulated corpus" (batch × corpus bands only).
    // Registered in the STORED-ARTIFACT form a production gate runs: the
    // corpus band signatures + token sets come from the session memo
    // (trainedIndex — built once, its own train_dedup_idx bench line), so
    // this query measures the steady-state per-batch probe, not the index
    // rebuild the round-10 registration paid every run. Values identical
    // to the plain form (DedupSpec indexed ≡ plain ≡ memoized).
    "dedup_incremental" -> ((s, d) => {
      val docs = T(s, d, "documents").filter(col("doc_id") < DocBound)
      val bkt = CorpusOps.sampleBucket(col("doc_id"))
      val (sigs, toks) = Dedup.trainedIndex(docs.filter(bkt < 80),
        "doc_id", "text", s"$d#dedup_idx:documents")
      Dedup.minhashIncrementalIndexed(sigs, toks, docs.filter(bkt >= 80),
        "doc_id", "text", 0.9)
    }),

    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(T(s, d, "documents").filter(col("doc_id") < DocBound),
        "doc_id", "text", 3)
        .withColumn("hamming", col("hamming").cast("long"))),

    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingPairs(T(s, d, "embeddings"), 0.45)),

    // semantic benchmark decontamination: every 10th vector plays the
    // benchmark set, the rest the training corpus — corpus rows within
    // cosine 0.45 of ANY benchmark row are the drop list, each with its
    // strongest benchmark match (deterministic: rounded-cosine rank, tie
    // on the smaller bench id)
    "decontaminate_semantic" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      Dedup.decontaminateSemantic(
        e.filter(col("vec_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 === 0), 0.45)
    }),

    // the scale path: cross-set banded sign-LSH candidates (corpus keys ⋈
    // benchmark keys on (table, bucket)) + exact cosine verify
    "decontaminate_semantic_lsh" -> ((s, d) => {
      val e = T(s, d, "embeddings")
      Dedup.decontaminateSemanticLsh(
        e.filter(col("vec_id") % 10 =!= 0),
        e.filter(col("vec_id") % 10 === 0), 0.45)
    }),

    // the scale path: sign-LSH bucket prefilter + exact cosine verify;
    // maxBits=12 turns on the adaptive band width (one more compared
    // bit per corpus doubling — fixture-scale behavior unchanged at the
    // 3-bit minimum, 770M → ~5M candidates at the sf10 probe scale)
    "dedup_embedding_lsh" -> ((s, d) =>
      Dedup.embeddingPairsLsh(T(s, d, "embeddings"), 0.45, maxBits = 12)),

    // the MULTIMODAL near-dup pass: decoded media features (REAL JDK
    // codec decode of synthesized PNG/WAV/AVI payloads, served from the
    // train_media session artifact) → per-modality fixed-projection
    // embedding → sign-LSH banding + exact cosine verify. The decode step
    // is spec-locked (MultimodalSpec: real JDK codecs vs per-modality brute
    // force — SQL can't run a codec); everything AFTER decode is
    // hash-checked by a DuckDB twin over the Verify-dumped feature fixture
    // (O.dedupMediaSql).
    // No output orderBy: the pair RELATION is the result (both driver
    // checks are order-insensitive — rows-only here, and the hash compare
    // sorts rows itself), while a global sort of the quadratic pair
    // expansion is a full extra exchange and was the precise OOM point of
    // the sf10 in-suite probe (32 concurrent sort tasks over ~1e9 rows in
    // one heap). A consumer wanting ordered pairs sorts its own (smaller)
    // slice.
    "dedup_media" -> ((s, d) =>
      graft.extra.Multimodal.mediaNearDupPairs(
        graft.extra.Multimodal.trainedFeatures(
          T(s, d, "documents"), s"$d#media:documents"), 0.99)),

    // the SCALE consumer of the same media near-dup relation: one cluster
    // row per document (components at the lattice-bounded rep level)
    // instead of the all-pairs expansion, whose TRUE volume is quadratic
    // in clique sizes on duplication-dense corpora. Hash-checked by a
    // DuckDB twin (O.dedupMediaClustersSql: recursive-CTE components at
    // the rep level over the dumped feature fixture); decode itself stays
    // spec-locked in MultimodalSpec.
    // (same no-cosmetic-sort rationale as dedup_media: one row per
    // document is still corpus-sized at lake scale)
    "dedup_media_clusters" -> ((s, d) =>
      graft.extra.Multimodal.mediaNearDupClusters(
        graft.extra.Multimodal.trainedFeatures(
          T(s, d, "documents"), s"$d#media:documents"), 0.99)),

    // percentile-threshold quality gate: the cut is the corpus's own 10%
    // quality quantile (exact histogram quantile), not a fixed constant
    "quality_gate" -> ((s, d) =>
      CorpusOps.qualityGate(T(s, d, "documents"), "doc_id", "text")),

    "corpus_select" -> ((s, d) =>
      graft.extra.CorpusPipeline.select(T(s, d, "documents"), "doc_id", "text",
        0.5, Seq("en"))),

    // pairs → canonical clusters (min-label connected components). The
    // 0.95 pair table comes from the SESSION ARTIFACT (trainedPairs — built
    // once, its own train_pairs bench line): four registered queries start
    // from the same pairs, and a served system computes them once.
    "dedup_clusters" -> ((s, d) => {
      val docs = T(s, d, "documents").filter(col("doc_id") < DocBound)
      CorpusOps.dedupClusters(docs, "doc_id",
        Dedup.trainedPairs(docs, "doc_id", "text", 0.95, s"$d#pairs:documents@0.95"))
    }),

    // quality-aware canonical selection: keep the best copy per near-dup
    // cluster (argmax composite quality, ties to the smaller id)
    "dedup_canonical" -> ((s, d) => {
      val docs = T(s, d, "documents").filter(col("doc_id") < DocBound)
      CorpusOps.dedupRepresentatives(docs, "doc_id", "text",
        Dedup.trainedPairs(docs, "doc_id", "text", 0.95, s"$d#pairs:documents@0.95"))
    }),

    // hub ranking of the near-dup candidate graph (integer-exact PageRank —
    // GraphOps.pagerankNano); clusters GROUP the web, this ORDERS it.
    // The LSH pair table is its own artifact: a recall-bounded SUBSET of
    // the exact pairs whose oracle twin reproduces the LSH semantics.
    "doc_pagerank" -> ((s, d) => {
      val docs = T(s, d, "documents").filter(col("doc_id") < DocBound)
      GraphOps.pagerankNano(
        Dedup.trainedPairs(docs, "doc_id", "text", 0.95,
          s"$d#pairs_lsh:documents@0.95", lsh = true).select("id_a", "id_b"),
        "id_a", "id_b")
        .select(col("id").as("doc_id"), col("pr"))
    }),

    "decontaminate" -> ((s, d) =>
      CorpusOps.decontaminate(T(s, d, "documents"), "doc_id", "text")),

    "rep_metrics" -> ((s, d) =>
      CorpusOps.repetitionMetrics(T(s, d, "documents"), "doc_id", "text")),

    // cross-document duplicated-5-gram fraction (boilerplate detector)
    "rep_crossdoc" -> ((s, d) =>
      CorpusOps.crossDocRepetition(T(s, d, "documents"), "doc_id", "text")),

    "corpus_mix" -> ((s, d) =>
      CorpusOps.corpusMix(T(s, d, "documents"))),

    // temperature-scaled source mixing (T5/Pile): per-(lang, source) quota
    // ∝ sqrt(group size) of a 100-doc budget, best-first within the group
    "corpus_mix_temp" -> ((s, d) =>
      CorpusOps.corpusMixTemperature(T(s, d, "documents"))),

    // DSIR importance weights: per-doc log likelihood ratio of a target
    // unigram LM (trained on the src0-src2 slice) vs the corpus LM
    "dsir_weights" -> ((s, d) =>
      TextStats.importanceWeights(T(s, d, "documents"), "doc_id", "text",
        col("source").isin("src0", "src1", "src2"), Some(TF(s, d)))),

    // the full DSIR recipe: importance weights -> exp(lr)-proportional
    // sample without replacement (Efraimidis-Spirakis on md5 uniforms);
    // exp pinned to 6 decimals like every cross-engine float here
    "dsir_resample" -> ((s, d) =>
      CorpusOps.weightedSample(
        TextStats.importanceWeights(T(s, d, "documents"), "doc_id", "text",
          col("source").isin("src0", "src1", "src2"), Some(TF(s, d)))
          .filter(col("lr").isNotNull)
          .withColumn("w", round(exp(col("lr")), 6)),
        "doc_id", col("w"), 50)),

    // weighted sample ∝ document length (Efraimidis-Spirakis, md5 uniforms)
    "corpus_wsample" -> ((s, d) =>
      CorpusOps.weightedSample(T(s, d, "documents"), "doc_id", col("n_chars"), 20)),

    // per-(lang, source) corpus report with exact-duplicate rates
    "corpus_stats" -> ((s, d) =>
      CorpusOps.corpusStats(T(s, d, "documents"))),

    // trainer batch-shape audit: padding waste of fixed-max vs
    // length-bucketed vs packed batching, 3 rows from one aggregate
    "pad_audit" -> ((s, d) =>
      CorpusOps.paddingAudit(T(s, d, "documents"), "doc_id", "text")),

    // mixture-planning rollup: (lang, source) + per-lang + grand totals in
    // one Expand pass, with token share of the corpus
    "corpus_rollup" -> ((s, d) =>
      CorpusOps.corpusRollup(T(s, d, "documents"))),

    // sparse TF-IDF cosine document similarity (inverted-index join)
    "tfidf_knn" -> ((s, d) =>
      TermStats.tfidfKnn(T(s, d, "documents"), "doc_id", "text", KnnQueryIds,
          maxDfFrac = TfidfDfCap, tfTable = Some(TF(s, d)))
        .withColumn("rank", col("rank").cast("long"))),

    "corpus_split" -> ((s, d) =>
      CorpusOps.splitAssign(T(s, d, "documents"), "doc_id")),

    // leakage-safe variant: all docs of one source land in one split
    "corpus_split_group" -> ((s, d) =>
      CorpusOps.splitAssignBy(T(s, d, "documents"), "doc_id", "source")),

    // reproducible epoch-1 shuffle: (shard, pos) is the training order
    "corpus_order" -> ((s, d) =>
      CorpusOps.epochOrder(T(s, d, "documents"), "doc_id", 1)),

    // concatenate-and-chunk packing map at a 2048-token budget
    "corpus_pack" -> ((s, d) =>
      CorpusOps.packSequences(T(s, d, "documents"), "doc_id", "text")),

    // the trainer-facing composition of the two: epoch-1 (shard, pos)
    // order + per-shard concatenate-and-chunk sequence assignment
    "corpus_epoch_manifest" -> ((s, d) =>
      CorpusOps.epochManifest(T(s, d, "documents"), "doc_id", "text", 1)),

    // curriculum schedule: unigram-LM difficulty bands (band 0 easiest),
    // md5 shards within a band, deterministic within-shard order
    "curriculum_shards" -> ((s, d) =>
      CorpusOps.curriculumShards(T(s, d, "documents"), "doc_id", "text",
        tfTable = Some(TF(s, d)))),

    // fill a fixed token budget best-first by quality (two-level cumsum)
    "corpus_budget" -> ((s, d) =>
      CorpusOps.budgetSelect(T(s, d, "documents"), "doc_id", "text", 20000L)),

    // stride-overlap context chunking (64-token chunks, stride 48)
    "doc_chunks" -> ((s, d) =>
      CorpusOps.chunkDocuments(T(s, d, "documents"), "doc_id", "text")),

    // passage-level retrieval (RAG indexing): BM25 scores the CHUNK, not the
    // document — the pid composite keys one bm25 pass over all passages
    "passage_search" -> ((s, d) => {
      val passages = passagesOf(s, d)
      Bm25.scores(passages, "pid", "chunk_text", Bm25Terms,
          tfTable = Some(PTF(s, d)))
        .select(
          split(col("doc_id"), ":").getItem(0).cast("long").as("doc_id"),
          split(col("doc_id"), ":").getItem(1).cast("long").as("chunk_id"),
          col("score"))
        .orderBy(col("score").desc, col("doc_id").asc, col("chunk_id").asc)
        .limit(20)
    }),

    // the flagship corpus assembly: dedup → quality → language →
    // repetition → decontamination → per-(lang, source) quota, one plan
    "corpus_build" -> ((s, d) =>
      graft.extra.CorpusPipeline.build(T(s, d, "documents"), "doc_id", "text")),

    // the 2023-era cut: fingerprint dedup → per-source percentile gate →
    // semantic dedup → leakage-safe split, one declarative plan
    "corpus_build2" -> ((s, d) =>
      graft.extra.CorpusPipeline.build2(
        T(s, d, "documents"), T(s, d, "embeddings"))),

    // stage-by-stage attrition telemetry over the curation gates
    "curation_funnel" -> ((s, d) =>
      graft.extra.CorpusPipeline.curationFunnel(T(s, d, "documents"))),

    // dataset-versioning diff between two simulated corpus snapshots:
    // old = ids % 7 != 3 with ids % 11 == 0 edited; new = ids % 13 != 5
    "corpus_diff" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 3)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val nw = docs.filter(col("doc_id") % 13 =!= 5)
      CorpusOps.snapshotDiff(old, nw)
    }),

    // PII scrub: the fixture text is pure lowercase words, so the query
    // injects deterministic synthetic PII (same expression in the oracle) —
    // the redaction/count logic is exercised on varied non-trivial inputs
    "pii_scrub" -> ((s, d) =>
      graft.extra.TextScrub.scrub(
        T(s, d, "documents").withColumn("text2",
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com visit https://site"),
            (col("doc_id") % 7).cast("string"), lit(".org or 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".1 done"))),
        "doc_id", "text2")),

    "quantize_audit" -> ((s, d) =>
      graft.extra.Quantize.audit(T(s, d, "embeddings"))),

    // ---- embedding similarity search (extras) ----
    "knn_cosine" -> ((s, d) =>
      EmbeddingKnn.bruteForce(T(s, d, "embeddings"), KnnQueryIds, 5)
        .withColumn("rank", col("rank").cast("long"))),

    // kNN label transfer: majority label among the 5 nearest LABELED
    // neighbors (pseudo-labeling for the unlabeled query slice)
    "label_transfer" -> ((s, d) =>
      EmbeddingKnn.labelTransfer(T(s, d, "embeddings"), KnnQueryIds, 5)),

    // SemDeDup: cell-bounded semantic near-dup pruning (keep-first-by-id)
    "semantic_dedup" -> ((s, d) =>
      EmbeddingKnn.semanticDedup(T(s, d, "embeddings"))),

    // ratio-margin bitext mining across the even/odd label pools: best
    // target per source where cos stands out from BOTH neighborhoods
    "bitext_mine" -> ((s, d) =>
      EmbeddingKnn.bitextMine(T(s, d, "embeddings"))),

    // the registered SCALE path of bitext mining: candidates from a
    // sign-LSH bucket equi-join instead of A×B; same margin tail
    "bitext_mine_lsh" -> ((s, d) =>
      EmbeddingKnn.bitextMineLsh(T(s, d, "embeddings"))),

    // audits exactly that exact→bucketed swap: one summary row of how much
    // of the exact mined set the bucketed run recovers
    "bitext_recall" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      EmbeddingKnn.bitextRecall(
        EmbeddingKnn.bitextMine(emb), EmbeddingKnn.bitextMineLsh(emb))
    }),

    "knn_lsh" -> ((s, d) =>
      EmbeddingKnn.signLsh(T(s, d, "embeddings"), KnnQueryIds, 5, 8)
        .withColumn("rank", col("rank").cast("long"))),

    // recall@k dashboard of the accelerated ANN paths vs the exact list —
    // one row per (method, query). The 8-bit single-table LSH scoring low
    // here is the POINT (its operating point trades recall for bucket
    // size); IVF nprobe=4 is the production dial.
    "ann_recall" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val exact = EmbeddingKnn.bruteForce(emb, KnnQueryIds, 5)
      EmbeddingKnn.annRecall(exact, EmbeddingKnn.signLsh(emb, KnnQueryIds, 5, 8), 5)
        .withColumn("method", lit("sign_lsh8"))
        .unionByName(
          EmbeddingKnn.annRecall(exact, EmbeddingKnn.ivfSeeded(emb, KnnQueryIds, 5), 5)
            .withColumn("method", lit("ivf16x4")))
        .select("method", "q_id", "n_exact", "n_hit", "recall")
    }),

    // embedding-space domain clustering report (mixture balancing input):
    // seeded-centroid cells, per-cell size / corpus share / mean centroid
    // distance, integer-micro divisions for engine-exact values
    "corpus_domains" -> ((s, d) =>
      EmbeddingKnn.domainStats(T(s, d, "embeddings"))),

    // Lloyd's k-means (8 cells × 3 iterations) — the iterative refinement
    // the seeded-IVF quantizer skips; exact integer micro² metric, so the
    // assignment is engine- and partitioning-exact (extra/Clustering)
    "embed_kmeans" -> ((s, d) =>
      Clustering.kmeansAssign(T(s, d, "embeddings"))),

    // per-cluster rollup of the same fit: size, integer mean d2, tightest
    // member — the mixture planner's topic-balance input
    "kmeans_cells" -> ((s, d) =>
      Clustering.kmeansSummary(T(s, d, "embeddings"))),

    // D4-style cluster-balanced diversity sample over the k-means fit:
    // √size quotas per cell (temperature rule in embedding space),
    // farthest-from-centroid-first within a cell
    "cluster_sample" -> ((s, d) =>
      Clustering.clusterSample(T(s, d, "embeddings"))),

    // d×d covariance of the embedding cloud (PCA/whitening input): the
    // single-pass flat-buffer Aggregator (10x the explode+hash-agg twin,
    // A/B in PLANS.md round 10; spec-locked bit-identical to it, so the
    // oracle covers both); the eigen step stays driver-side (model-sized)
    "embed_cov" -> ((s, d) =>
      Pca.covarianceFast(T(s, d, "embeddings"))),

    // deterministic sampled-centroid quantizer (engine-reproducible → full
    // oracle); the KMeans-quantizer variant stays spec-covered in DedupSpec
    "knn_ivf" -> ((s, d) =>
      EmbeddingKnn.ivfSeeded(T(s, d, "embeddings"), KnnQueryIds, 5)
        .withColumn("rank", col("rank").cast("long"))),

    // product-quantization ADC scan (8 subspaces × 16 centroids — the
    // 8-bytes-per-vector memory path)
    "knn_pq" -> ((s, d) =>
      EmbeddingKnn.pqKnn(T(s, d, "embeddings"), KnnQueryIds, 5)
        .withColumn("rank", col("rank").cast("long"))),

    // contrastive-training hard negatives: most-similar embeddings minus the
    // query's near-dup cluster (vec_id ≡ doc_id in the fixture lake)
    "hard_negatives" -> ((s, d) => {
      val docs = T(s, d, "documents").filter(col("doc_id") < DocBound)
      val clusters = CorpusOps.dedupClusters(docs, "doc_id",
        Dedup.trainedPairs(docs, "doc_id", "text", 0.95, s"$d#pairs:documents@0.95"))
      EmbeddingKnn.hardNegatives(T(s, d, "embeddings"), clusters, KnnQueryIds, 5)
        .withColumn("rank", col("rank").cast("long"))
    }),

    // int8-code candidate scoring + exact float rerank (the bandwidth path)
    "knn_int8" -> ((s, d) =>
      EmbeddingKnn.int8Rerank(T(s, d, "embeddings"), KnnQueryIds, 5)
        .withColumn("rank", col("rank").cast("long"))),

    // ---- text analysis (extras) ----
    "text_stats" -> ((s, d) =>
      TextStats.stats(T(s, d, "documents"), "doc_id", "text")),

    "lang_id" -> ((s, d) =>
      TextStats.langId(T(s, d, "documents"), "doc_id", "text")),

    "token_counts" -> ((s, d) =>
      TextStats.tokenCounts(T(s, d, "documents"), "doc_id", "text")),

    "doc_fingerprint" -> ((s, d) =>
      TextStats.fingerprint(T(s, d, "documents"), "doc_id", "text")),

    // named Gopher format/quality rules, individually auditable + keep flag
    "gopher_rules" -> ((s, d) =>
      Signals.gopherRules(T(s, d, "documents"), "doc_id", "text")),

    // char-unigram Shannon entropy in integer micronats (compressibility proxy)
    "char_entropy" -> ((s, d) =>
      Signals.charEntropy(T(s, d, "documents"), "doc_id", "text")),

    // per-language subword-per-word tokenizer budget diagnostic
    "token_fertility" -> ((s, d) =>
      Signals.tokenFertility(T(s, d, "documents"), "lang", "text")),

    // per-source vocabulary size / hapax tail / type-token ratio
    "vocab_growth" -> ((s, d) =>
      Signals.vocabGrowth(T(s, d, "documents"), "source", "text")),

    // declared-vs-predicted language confusion matrix (mixture QA)
    "lang_confusion" -> ((s, d) =>
      Signals.langConfusion(T(s, d, "documents"), "doc_id", "text")),

    // C4-style blocklist gate: distinct banned-phrase hits per doc via ONE
    // Aho-Corasick pass (O(bytes), blocklist-size-independent)
    "quality_blocklist" -> ((s, d) =>
      Signals.blocklist(T(s, d, "documents"), "doc_id", "text",
        BlocklistTerms)),

    // content-defined chunking dedup: shift-invariant shared-chunk counts
    // (md5-window cut rule both engines can replay)
    "dedup_cdc" -> ((s, d) =>
      extra.CdcDedup.stats(T(s, d, "documents"), "doc_id", "text", w = 8)),

    // near-dup candidate pairs from shared cold chunks (stop-chunk cap
    // bounds the pair join at ≤ C(hotCap,2) per chunk)
    "dedup_cdc_pairs" -> ((s, d) =>
      extra.CdcDedup.pairs(T(s, d, "documents"), "doc_id", "text",
        w = 8, hotCap = 8, minShared = 3)),

    // materialized inverted-index build, sharded postings (ES termvector twin)
    "posting_lists" -> ((s, d) =>
      TermStats.postingLists(T(s, d, "documents"), "doc_id", "text",
        tfTable = Some(TF(s, d)))),

    // Morton-curve layout key for two-dimensional file clustering
    "zorder_layout" -> ((s, d) =>
      extra.Bucketing.zorderKey(T(s, d, "events"), "event_id", "value", "user_id")),

    // add-1 unigram LM mean-logprob scoring (the KenLM-style quality filter)
    "lm_quality" -> ((s, d) =>
      TextStats.lmScore(T(s, d, "documents"), "doc_id", "text",
        Some(TF(s, d)))),

    // add-1 bigram-conditional LM: word ORDER priced, not just word choice
    "lm_quality2" -> ((s, d) =>
      TextStats.lmScoreBigram(T(s, d, "documents"), "doc_id", "text",
        Some(TF(s, d)), Some(TF2(s, d)))),

    // phrase mining: top-20 adjacent-bigram PMI (pinned-log sum — no
    // integer product to overflow at corpus scale); corpus counts roll up
    // from the session TF artifacts
    "collocations" -> ((s, d) =>
      TextStats.collocations(T(s, d, "documents"), "text",
        tfTables = Some((TF(s, d), TF2(s, d))))),

    // per-source unigram KL vs the corpus (mixture-design shift report)
    "source_kl" -> ((s, d) =>
      TextStats.sourceKl(T(s, d, "documents"), "text", "source",
        tfVia = Some(("doc_id", TF(s, d))))),

    // CCNet-style learned quality filter, closed-form NB flavor: per-term
    // add-1 log-odds vs a reference-source whitelist — the model artifact
    "nb_model" -> ((s, d) =>
      Classifier.nbModel(T(s, d, "documents"), "doc_id", "text",
        col("source").isin(NbRefSources: _*), cacheKey = Some(d))),

    // per-document classifier scores (integer-micro Σ tf·lodds + prior)
    "nb_quality" -> ((s, d) =>
      Classifier.nbScore(T(s, d, "documents"), "doc_id", "text",
        col("source").isin(NbRefSources: _*), cacheKey = Some(d))),

    // train-set confusion rollup of the same fit (gate-owner audit)
    "nb_eval" -> ((s, d) =>
      Classifier.nbEval(T(s, d, "documents"), "doc_id", "text",
        col("source").isin(NbRefSources: _*), cacheKey = Some(d))),

    // calibration/reliability bins of the scores (threshold-picking input);
    // all-integer range binning, no global sort
    "nb_calibration" -> ((s, d) =>
      Classifier.nbCalibration(T(s, d, "documents"), "doc_id", "text",
        col("source").isin(NbRefSources: _*), cacheKey = Some(d))),

    // quality percentiles per (lang, source) and corpus-wide, grid-bounded
    "quality_norm" -> ((s, d) =>
      CorpusOps.qualityNorm(T(s, d, "documents"), "doc_id", "text")),

    // first BPE merge round: corpus-wide adjacent char-pair counts
    "bpe_pairs" -> ((s, d) =>
      TextStats.bpePairs(T(s, d, "documents"), "text")
        .withColumn("rank", col("rank").cast("long"))),

    // the FULL greedy merge loop: 8 rounds of count → merge-everywhere →
    // recount over the vocabulary-sized word table
    "bpe_train" -> ((s, d) =>
      TextStats.bpeTrain(T(s, d, "documents"), "text", 8, cacheKey = Some(d))),

    // apply the trained merge table: per-doc BPE token counts. The merge
    // table is a session-cached artifact (trained at most once per lake dir),
    // so this query pays only the shuffle-free encode chain.
    "bpe_encode" -> ((s, d) =>
      TextStats.bpeEncode(T(s, d, "documents"), "doc_id", "text", 8,
        cacheKey = Some(d))),

    // ---- time windows (events table; §2.10 note) ----
    "event_tumbling" -> ((s, d) =>
      EventWindows.tumbling(T(s, d, "events"), "1 hour")),

    "event_sessions" -> ((s, d) =>
      EventWindows.sessions(T(s, d, "events"), "2 hours")),

    // schema-checked JSON property extraction + per-type rollup (F7)
    "event_props" -> ((s, d) =>
      EventWindows.propsStats(T(s, d, "events"))),

    // as-of alignment: each click joined to the latest prior purchase
    "event_asof" -> ((s, d) =>
      EventWindows.asOf(T(s, d, "events"))),

    // bucketed range join: clicks in the 30 min before each purchase
    "event_range_join" -> ((s, d) =>
      EventWindows.rangeJoin(T(s, d, "events"))),

    // ordered-sequence conversion funnel: signup, then a view strictly
    // after it, then a purchase after that
    "event_funnel" -> ((s, d) =>
      EventWindows.funnel(T(s, d, "events"), Seq("signup", "view", "purchase"))),

    // weekly cohort retention anchored on first signup
    "event_retention" -> ((s, d) =>
      EventWindows.retention(T(s, d, "events")))
  )

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue,
        | round(round(sum(l_discount),2)/count(*),6) AS avg_disc
        |FROM lineitem GROUP BY 1,2""".stripMargin,

    "q3_segment_revenue" ->
      """SELECT c_mktsegment, count(*) AS n,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |JOIN customer ON o_custkey=c_custkey GROUP BY 1""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_semi_anti" ->
      """SELECT 'with_orders' AS grp, count(*) AS n FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS grp, count(*) AS n FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        | coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING),2) AS running,
        | row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey) AS rn
        |FROM orders""".stripMargin,

    "profile_table_stats" -> O.tableStatsSql,
    "profile_numeric_stats" -> O.numericStatsSql,
    "profile_quantiles" -> O.quantilesSql,

    "profile_bbox" ->
      """SELECT 'part' AS dataset_id, 'p_retailprice' AS x_col, 'p_size' AS y_col,
        | round(CAST(min(p_retailprice) AS DOUBLE),6) AS x_min,
        | round(CAST(min(p_size) AS DOUBLE),6) AS y_min,
        | round(CAST(max(p_retailprice) AS DOUBLE),6) AS x_max,
        | round(CAST(max(p_size) AS DOUBLE),6) AS y_max
        |FROM part""".stripMargin,

    "type_histogram" -> O.typeHistogramSql,

    "hll_distinct" -> O.hllDistinctSql,
    "heavy_hitters" -> O.heavyHittersSql,

    // all-integer skew report; non-negative operands → // equals DIV
    "skew_audit" ->
      """WITH c AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS rows
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(rows) AS BIGINT) AS n_rows,
        |    CAST(max(rows) AS BIGINT) AS max_rows FROM c),
        |s2 AS (SELECT *, greatest(n_rows // n_keys, 1) AS mean_rows FROM s),
        |top AS (SELECT key, rows,
        |    CAST(row_number() OVER (ORDER BY rows DESC, key ASC) AS BIGINT)
        |      AS rank
        |  FROM c ORDER BY rows DESC, key ASC LIMIT 10)
        |SELECT rank, key, rows,
        |  CAST((rows * 1000000) // n_rows AS BIGINT) AS share_ppm,
        |  n_keys, CAST(mean_rows AS BIGINT) AS mean_rows,
        |  CAST((max_rows * 1000) // mean_rows AS BIGINT) AS skew_x1000,
        |  CAST((max_rows + mean_rows - 1) // mean_rows AS BIGINT)
        |    AS suggested_salt
        |FROM top CROSS JOIN s2""".stripMargin,

    "q_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | round(sum(CASE WHEN o_orderpriority='1-URGENT' THEN o_totalprice END),2) AS p1_urgent,
        | round(sum(CASE WHEN o_orderpriority='2-HIGH' THEN o_totalprice END),2) AS p2_high,
        | round(sum(CASE WHEN o_orderpriority='3-MEDIUM' THEN o_totalprice END),2) AS p3_medium,
        | round(sum(CASE WHEN o_orderpriority='4-NOT SPECIFIED' THEN o_totalprice END),2) AS p4_notspec,
        | round(sum(CASE WHEN o_orderpriority='5-LOW' THEN o_totalprice END),2) AS p5_low
        |FROM orders GROUP BY 1""".stripMargin,

    "tf_topk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1,2),
        |r AS (SELECT doc_id, term, tf,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank FROM tf)
        |SELECT doc_id, term, tf, rank FROM r WHERE rank <= 10""".stripMargin,

    "tfidf_topk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1,2),
        |corpus AS (SELECT term, sum(tf) AS ttf, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(CAST(tf.tf AS DOUBLE)/corpus.ttf
        |      * ln(CAST(nd.n_docs AS DOUBLE)/corpus.df), 6) AS score
        |  FROM tf, corpus, nd WHERE tf.term = corpus.term),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, term ASC) AS rank FROM scored)
        |SELECT doc_id, term, tf, score, rank FROM r WHERE rank <= 10""".stripMargin,

    "embed_pool_label" ->
      """WITH x AS (SELECT label, unnest(embedding) AS v,
        |  unnest(range(1, len(embedding)+1)) AS dim FROM embeddings)
        |SELECT label, dim, round(avg(CAST(v AS DOUBLE)),6) AS v
        |FROM x GROUP BY 1,2""".stripMargin,

    "sketch_knn" -> O.sketchKnnSql,
    "sketch_knn_lsh" -> O.sketchKnnLshSql,
    "content_edges" -> O.contentEdgesSql,
    "content_scores" -> O.contentScoresSql,
    "similarity_search" -> O.similaritySearchSql,
    "similarity_search_orders" -> O.similaritySearchSqlFor("orders"),
    "similarity_search_weighted" -> O.similaritySearchWeightedSql,

    "bm25_docs" -> O.bm25Sql,

    "bm25_multifield" -> O.bm25MultifieldSql,
    "autocomplete" -> O.autocompleteSql,
    "title_search" -> O.titleSearchSql,

    "column_concat" ->
      """SELECT 'nation' AS dataset_id, 'n_name' AS col_name,
        | string_agg(n_name, ' ' ORDER BY n_name) AS doc FROM nation""".stripMargin,

    "event_sliding" ->
      """WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS w30,
        |  event_type, value FROM events),
        |u AS (SELECT w30 AS ws, event_type, value FROM b
        |  UNION ALL
        |  SELECT w30 - INTERVAL '30 minutes' AS ws, event_type, value FROM b)
        |SELECT CAST(floor(epoch(ws)) AS BIGINT) AS window_start, event_type,
        | count(*) AS n, round(sum(value),4) AS total
        |FROM u GROUP BY 1,2""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_dups FROM documents GROUP BY 1""".stripMargin,

    "dedup_jaccard" -> O.jaccardSql,

    "split_leakage" -> O.splitLeakageSql,

    // record linkage on part names — jaccardSql's shape over the part table
    "entity_pairs" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT p_partkey AS k, unnest(string_split(lower(p_name), ' ')) AS term
         |  FROM part WHERE p_partkey < 300),
         |t2 AS (SELECT k, term FROM toks WHERE term <> ''),
         |sz AS (SELECT k, count(*) AS sz FROM t2 GROUP BY 1),
         |inter AS (SELECT a.k AS key_a, b.k AS key_b, count(*) AS inter
         |  FROM t2 a JOIN t2 b USING (term) WHERE a.k < b.k GROUP BY 1, 2)
         |SELECT key_a, key_b,
         |  round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 6) AS jac
         |FROM inter
         |JOIN sz sa ON inter.key_a = sa.k
         |JOIN sz sb ON inter.key_b = sb.k
         |WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.3""".stripMargin,
    "dedup_shingle" -> O.shingleSql,
    "dedup_minhash" -> O.minhashSql,
    "dedup_incremental" -> O.dedupIncrementalSql,
    "ann_recall" -> O.annRecallSql,
    // Lee et al. ExactSubstr spans: duplicated 12-gram starts, merged
    // coverage islands (overlap or abut), maximal span per island
    "dedup_substrings" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    md5(array_to_string(list_slice(toks, i, i + 11), ' ')) AS gh
        |  FROM t CROSS JOIN unnest(range(1, len(toks) - 12 + 2)) AS u(i)
        |  WHERE len(toks) >= 12),
        |dup AS (SELECT gh FROM g GROUP BY gh
        |  HAVING count(DISTINCT doc_id) >= 2),
        |s AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
        |m AS (SELECT doc_id, pos,
        |    max(pos + 11) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM s),
        |i AS (SELECT doc_id, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM m)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 12 - min(pos) AS BIGINT) AS span_len
        |FROM i GROUP BY doc_id, island""".stripMargin,
    // cross-set twin: the dup set is the BENCHMARK carve's gram set; spans
    // reported for TRAINING docs only
    "decontaminate_spans" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    md5(array_to_string(list_slice(toks, i, i + 4), ' ')) AS gh
        |  FROM t CROSS JOIN unnest(range(1, len(toks) - 5 + 2)) AS u(i)
        |  WHERE len(toks) >= 5),
        |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
        |s AS (SELECT doc_id, pos FROM g
        |  WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM bench)),
        |m AS (SELECT doc_id, pos,
        |    max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM s),
        |i AS (SELECT doc_id, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM m)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 5 - min(pos) AS BIGINT) AS span_len
        |FROM i GROUP BY doc_id, island""".stripMargin,
    // the self-repeat twin: HAVING count(*) >= 2 — occurrences overall,
    // within-doc repeats included (Lee et al.'s actual ExactSubstr rule)
    "dedup_substrings_self" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos,
        |    md5(array_to_string(list_slice(toks, i, i + 11), ' ')) AS gh
        |  FROM t CROSS JOIN unnest(range(1, len(toks) - 12 + 2)) AS u(i)
        |  WHERE len(toks) >= 12),
        |dup AS (SELECT gh FROM g GROUP BY gh
        |  HAVING count(*) >= 2),
        |s AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
        |m AS (SELECT doc_id, pos,
        |    max(pos + 11) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM s),
        |i AS (SELECT doc_id, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM m)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 12 - min(pos) AS BIGINT) AS span_len
        |FROM i GROUP BY doc_id, island""".stripMargin,
    "dedup_spans" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, i AS pos, toks[i] AS token
        |  FROM t CROSS JOIN unnest(range(1, len(toks) + 1)) AS u(i)),
        |g AS (SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
        |  FROM t CROSS JOIN unnest(range(1, len(toks) - 5 + 2)) AS u(i)
        |  WHERE len(toks) >= 5),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |flag AS (SELECT tok.doc_id, tok.pos, tok.token,
        |    CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END AS dup_start
        |  FROM tok LEFT JOIN g ON tok.doc_id = g.doc_id AND tok.pos = g.pos
        |  LEFT JOIN dup d ON g.gram = d.gram),
        |cov AS (SELECT doc_id, pos, token,
        |    max(dup_start) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS covered
        |  FROM flag)
        |SELECT doc_id,
        |  coalesce(string_agg(token, ' ' ORDER BY pos)
        |    FILTER (WHERE covered = 0), '') AS clean_text,
        |  count(*) AS n_tokens,
        |  CAST(sum(covered) AS BIGINT) AS n_removed
        |FROM cov GROUP BY doc_id""".stripMargin,

    // first occurrence per paragraph hash via row_number over the unique
    // (doc_id, para_idx) order — equals the Spark min(struct) aggregate
    "dedup_paragraph" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t
        |  WHERE len(toks) > 0),
        |p AS (SELECT doc_id, CAST(s // 32 AS BIGINT) AS para_idx,
        |    array_to_string(list_slice(toks, s + 1, s + 32), ' ') AS para
        |  FROM n CROSS JOIN unnest(range(0, n_tokens, 32)) AS u(s)),
        |k AS (SELECT doc_id, para_idx, para,
        |    CASE WHEN row_number() OVER (PARTITION BY md5(para)
        |      ORDER BY doc_id, para_idx) = 1 THEN 1 ELSE 0 END AS kept
        |  FROM p)
        |SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(para, ' ' ORDER BY para_idx)
        |    FILTER (WHERE kept = 1), '') AS clean_text
        |FROM k GROUP BY doc_id""".stripMargin,

    "dedup_lines" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, source, toks, len(toks) AS n_tokens FROM t
        |  WHERE len(toks) > 0),
        |l AS (SELECT doc_id, source, CAST(s // 16 AS BIGINT) AS line_idx,
        |    array_to_string(list_slice(toks, s + 1, s + 16), ' ') AS line
        |  FROM n CROSS JOIN unnest(range(0, n_tokens, 16)) AS u(s)),
        |bp AS (SELECT source, md5(line) AS h FROM l
        |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN bp.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_removed,
        |  coalesce(string_agg(line, ' ' ORDER BY line_idx)
        |    FILTER (WHERE bp.h IS NULL), '') AS clean_text
        |FROM l LEFT JOIN bp ON bp.source = l.source AND bp.h = md5(l.line)
        |GROUP BY doc_id""".stripMargin,

    "doc_pagerank" -> O.docPagerankSql,
    "dedup_simhash" -> O.simhashSql,
    "dedup_clusters" -> O.clustersSql,
    "dedup_canonical" -> O.canonicalSql,
    "decontaminate" -> O.decontaminateSql,
    "rep_metrics" -> O.repMetricsSql,

    "rep_crossdoc" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
        |  FROM t CROSS JOIN unnest(range(1, len(toks) - 5 + 2)) AS u(i)
        |  WHERE len(toks) >= 5),
        |dw AS (SELECT gram, count(DISTINCT doc_id) AS docs_with FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_grams,
        |  round(CAST(sum(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_frac
        |FROM g JOIN dw USING (gram) GROUP BY doc_id""".stripMargin,
    "pii_scrub" -> O.piiScrubSql,
    "quantize_audit" -> O.quantizeAuditSql,

    "corpus_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, n_tokens, CAST(cum - n_tokens AS BIGINT) AS start_tok,
        |  CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_first,
        |  CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS bin_last
        |FROM c""".stripMargin,

    // mirrors CorpusOps.curriculumShards: the lm_quality CTE chain for the
    // per-doc unigram logprob, all-integer range banding on its micros
    // (non-negative DIV operands, so // == DIV), the epoch-manifest
    // md5-shard idiom, per-(band, shard) row_number
    "curriculum_shards" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS term FROM documents) GROUP BY 1, 2),
        |vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
        |    CAST(count(*) AS DOUBLE) AS v_size FROM vocab),
        |lp AS (SELECT term, round(ln((cnt + 1.0) / (n_total + v_size)), 6) AS lp
        |  FROM vocab CROSS JOIN tot),
        |perdoc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    sum(CAST(round(tf.tf * lp.lp * 1000000) AS BIGINT)) AS lp_micro
        |  FROM tf JOIN lp USING (term) GROUP BY 1),
        |lm AS (SELECT doc_id, n_tokens,
        |    -CAST((-lp_micro) // n_tokens AS BIGINT) AS sm
        |  FROM perdoc WHERE n_tokens > 0),
        |rg AS (SELECT min(sm) AS mn, max(sm) AS mx FROM lm),
        |b AS (SELECT doc_id, n_tokens, sm,
        |    ((mx - sm) * 4) // (mx - mn + 1) AS band,
        |    md5('curr:' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM lm CROSS JOIN rg),
        |s AS (SELECT *,
        |    CAST(('0x' || substring(skey, 1, 4))::BIGINT * 8 // 65536 AS BIGINT)
        |      AS shard FROM b)
        |SELECT doc_id, CAST(band AS BIGINT) AS band, shard,
        |  CAST(row_number() OVER (PARTITION BY band, shard
        |    ORDER BY skey, doc_id) AS BIGINT) AS pos,
        |  n_tokens, CAST(sm AS DOUBLE) / 1000000.0 AS lm_logprob
        |FROM s""".stripMargin,

    // mirrors CorpusOps.epochManifest: corpus_order's shard/key chain +
    // corpus_pack's chunk formula, cumsum partitioned by shard
    "corpus_epoch_manifest" ->
      """WITH k AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
        |      AS BIGINT) AS n_tokens,
        |    md5('1:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |s AS (SELECT *,
        |    CAST(('0x' || substring(skey, 1, 4))::BIGINT * 8 // 65536 AS BIGINT)
        |      AS shard FROM k),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY skey, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum FROM s)
        |SELECT doc_id, CAST(1 AS BIGINT) AS epoch, shard,
        |  CAST(pos AS BIGINT) AS pos, n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS start_tok,
        |  CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS seq_first,
        |  CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS seq_last
        |FROM r""".stripMargin,

    // mirrors CorpusOps.budgetSelect; a flat single window here — the Spark
    // side's two-level bucketed cumsum is value-identical by construction
    // (quality is the leading sort key, buckets align with it)
    "corpus_budget" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
        |      AS BIGINT) AS n_tokens,
        |    coalesce(CASE WHEN length(text) > 0 THEN
        |      round(least(CAST(len(list_filter(string_split(lower(text), ' '),
        |          t -> t <> '')) AS DOUBLE)/100.0, 1.0)
        |        * (1.0 - least(CAST(length(regexp_replace(lower(text),
        |            '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 1.0)), 6)
        |      ELSE NULL END, 0.0) AS quality
        |  FROM documents),
        |c AS (SELECT *,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM s)
        |SELECT doc_id, quality, n_tokens, cum_tokens,
        |  CAST(CASE WHEN cum_tokens <= 20000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS selected
        |FROM c""".stripMargin,

    "corpus_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 80
        |    THEN 'train'
        |  WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 90
        |    THEN 'val'
        |  ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "corpus_order" ->
      """WITH k AS (SELECT doc_id,
        |    md5('1:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |s AS (SELECT doc_id, skey,
        |    CAST(('0x' || substring(skey, 1, 4))::BIGINT * 8 // 65536 AS BIGINT)
        |      AS shard FROM k)
        |SELECT doc_id, CAST(1 AS BIGINT) AS epoch, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
        |    AS BIGINT) AS pos
        |FROM s""".stripMargin,

    "corpus_split_group" ->
      """SELECT doc_id, source AS group_key,
        |  CASE WHEN ('0x' || substring(md5(source),1,8))::BIGINT % 100 < 80
        |    THEN 'train'
        |  WHEN ('0x' || substring(md5(source),1,8))::BIGINT % 100 < 90
        |    THEN 'val'
        |  ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "corpus_mix" ->
      """SELECT doc_id, lang, source, n_chars, rk FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents
        |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 50
        |) WHERE rk <= 20""".stripMargin,

    // temperature mixing: integer-micro sqrt weights (IEEE sqrt is exactly
    // rounded -> engine-identical), floor-division quotas, best-first rank
    "corpus_mix_temp" ->
      """WITH s AS (SELECT lang, source, count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT lang, source,
        |    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS w
        |  FROM s),
        |t AS (SELECT sum(w) AS tot FROM w),
        |q AS (SELECT lang, source, CAST((100 * w) // tot AS BIGINT) AS quota
        |  FROM w CROSS JOIN t)
        |SELECT doc_id, lang, source, n_chars, quota, rk FROM (
        |  SELECT d.doc_id, d.lang, d.source, d.n_chars, q.quota,
        |    CAST(row_number() OVER (PARTITION BY d.lang, d.source
        |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS BIGINT) AS rk
        |  FROM documents d JOIN q USING (lang, source)
        |) WHERE rk <= quota""".stripMargin,

    // DSIR importance weights: target (src0-src2) and base unigram LMs as
    // integer-micro logprobs, lr = integer sum of tf*(lp_t - lp_b) with a
    // sign-split truncating per-token mean (DIV vs // agree on positives)
    "dsir_weights" ->
      s"""WITH ${O.dsirCtes}
        |SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CASE WHEN p.n_tokens > 0 THEN ${O.dsirLrExpr} END AS lr
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,

    // the full DSIR pipeline: exp(lr) weights into the Efraimidis-Spirakis
    // sample (same skey/rank formula as corpus_wsample)
    "dsir_resample" ->
      s"""WITH ${O.dsirCtes},
        |lr AS (SELECT p.doc_id, ${O.dsirLrExpr} AS lr
        |  FROM perdoc p WHERE p.n_tokens > 0),
        |w AS (SELECT doc_id, round(exp(lr), 6) AS w FROM lr)
        |SELECT doc_id, weight, skey, rk FROM (
        |  SELECT doc_id, CAST(w AS DOUBLE) AS weight,
        |    round(-ln(
        |        (('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 1)
        |        / 4294967296.0) / w, 9) AS skey,
        |    CAST(row_number() OVER (ORDER BY round(-ln(
        |        (('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 1)
        |        / 4294967296.0) / w, 9) ASC, doc_id ASC) AS BIGINT) AS rk
        |  FROM w WHERE w > 0
        |) WHERE rk <= 50""".stripMargin,

    // u = (md5_32+1)/2^32 is exact dyadic math in both engines; skey rounds
    // to 9 decimals before ranking, doc_id breaks ties
    "corpus_wsample" ->
      """SELECT doc_id, weight, skey, rk FROM (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |    round(-ln(
        |        (('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 1)
        |        / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE), 9) AS skey,
        |    CAST(row_number() OVER (ORDER BY round(-ln(
        |        (('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 1)
        |        / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE), 9) ASC, doc_id ASC) AS BIGINT) AS rk
        |  FROM documents WHERE n_chars > 0
        |) WHERE rk <= 20""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.vec, b.vec),6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.vec, b.vec) >= 0.45""".stripMargin,

    "decontaminate_semantic" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings WHERE vec_id % 10 <> 0),
        |     b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings WHERE vec_id % 10 = 0),
        |     m AS (SELECT c.vec_id, b.bench_id,
        |             round(list_cosine_similarity(c.vec, b.vec),6) AS cosine
        |           FROM c JOIN b ON list_cosine_similarity(c.vec, b.vec) >= 0.45)
        |SELECT vec_id, bench_id, cosine FROM (
        |  SELECT m.*, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cosine DESC, bench_id ASC) AS rn
        |  FROM m
        |) WHERE rn = 1""".stripMargin,

    "decontaminate_semantic_lsh" -> O.decontaminateSemanticLshSql,

    "knn_cosine" -> O.knnCosineSql,
    "label_transfer" -> O.labelTransferSql,
    "bitext_mine" -> O.bitextMineSql,
    "bitext_mine_lsh" -> O.bitextMineLshSql,
    "bitext_recall" -> O.bitextRecallSql,
    "knn_lsh" -> O.knnLshSql,
    "knn_ivf" -> O.knnIvfSql,
    "corpus_domains" -> O.corpusDomainsSql,
    "semantic_dedup" -> O.semanticDedupSql,
    "embed_kmeans" -> O.embedKmeansSql,
    "kmeans_cells" -> O.kmeansCellsSql,
    "cluster_sample" -> O.clusterSampleSql,
    "embed_cov" -> O.embedCovSql,
    "nb_model" -> O.nbModelSql,
    "nb_quality" -> O.nbQualitySql,
    "nb_eval" -> O.nbEvalSql,
    "nb_calibration" -> O.nbCalibrationSql,
    "knn_pq" -> O.knnPqSql,
    "knn_int8" -> O.knnInt8Sql,
    "hard_negatives" -> O.hardNegativesSql,
    "dedup_embedding_lsh" -> O.dedupEmbeddingLshSql,

    // the media family: decode stays spec-locked (SQL can't run codecs);
    // everything after it — MediaEmbed projection, exact-group collapse,
    // sign-LSH banding, cosine verify, rep-level components — is reproduced
    // independently from the Verify-dumped feature fixture
    "dedup_media" -> O.dedupMediaSql,
    "dedup_media_clusters" -> O.dedupMediaClustersSql,

    // NULLIF/CASE guards mirror the Spark side's when(n>0, ...) for
    // degenerate documents (empty / whitespace-only)
    "text_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
        | round(CAST(length(text) AS DOUBLE)
        |   / NULLIF(len(list_filter(string_split(lower(text), ' '), t -> t <> '')), 0), 6) AS chars_per_token,
        | round(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |   / NULLIF(length(text), 0), 6) AS punct_ratio,
        | round(CAST(len(list_filter(string_split(lower(text), ' '),
        |     t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |   / NULLIF(len(list_filter(string_split(lower(text), ' '), t -> t <> '')), 0), 6) AS stopword_ratio,
        | CASE WHEN length(text) > 0 THEN
        |   round(least(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS DOUBLE)/100.0, 1.0)
        |     * (1.0 - least(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |         / length(text), 1.0)), 6)
        | ELSE NULL END AS quality
        |FROM documents""".stripMargin,

    "lang_id" -> O.langIdSql,
    "corpus_select" -> O.corpusSelectSql,
    "quality_gate" -> O.qualityGateSql,
    "quality_norm" -> O.qualityNormSql,
    "source_kl" -> O.sourceKlSql,
    "corpus_build" -> O.corpusBuildSql,
    "corpus_build2" -> O.corpusBuild2Sql,

    "token_counts" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_word_punct,
        | CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS n_bpe_est
        |FROM documents""".stripMargin,

    // mirrors Signals.gopherRules: same rule bounds, CASE-null → keep 0
    "gopher_rules" -> O.gopherRulesSql,

    // per-stage curation attrition: composed from the proven stage oracles
    "curation_funnel" -> O.curationFunnelSql,

    "corpus_diff" ->
      """WITH o AS (SELECT doc_id,
        |   md5(trim(regexp_replace(regexp_replace(
        |     lower(text || CASE WHEN doc_id % 11 = 0 THEN ' v1' ELSE '' END),
        |     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS old_fp
        |  FROM documents WHERE doc_id % 7 <> 3),
        |n AS (SELECT doc_id,
        |   md5(trim(regexp_replace(regexp_replace(lower(text),
        |     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS new_fp
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.doc_id IS NULL THEN 'added'
        |      WHEN n.doc_id IS NULL THEN 'removed'
        |      WHEN old_fp <> new_fp THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // generated from the same alphabet constant as the Scala side
    "char_entropy" -> Signals.charEntropySqlFor("documents", "doc_id", "text"),

    // generated from the same term-list constant as the Scala side
    "quality_blocklist" ->
      Signals.blocklistSqlFor("documents", "doc_id", "text", BlocklistTerms),

    // the md5-window cut rule replayed verbatim over every position
    "dedup_cdc" ->
      extra.CdcDedup.statsSqlFor("documents", "doc_id", "text", w = 8),

    "dedup_cdc_pairs" ->
      extra.CdcDedup.pairsSqlFor("documents", "doc_id", "text",
        w = 8, hotCap = 8, minShared = 3),

    "token_fertility" ->
      """WITH s AS (SELECT lang,
        |  len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS tk,
        |  length(text) AS ch
        | FROM documents)
        |SELECT lang,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(w) AS BIGINT) AS n_words,
        | CAST(sum(tk) AS BIGINT) AS n_tokens,
        | CAST(sum(ch) AS BIGINT) AS n_chars,
        | round(CAST(sum(tk) AS DOUBLE)/NULLIF(sum(w), 0), 6) AS fertility,
        | round(CAST(sum(tk) AS DOUBLE)/NULLIF(sum(ch), 0), 6) AS tokens_per_char
        |FROM s GROUP BY lang""".stripMargin,

    // mirrors TermStats.postingLists: string postings keep the compare
    // independent of array rendering; ORDER BY doc_id inside string_agg
    // matches the Spark side's array_sort over (doc_id, tf) structs
    "posting_lists" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
        | FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
        |SELECT term, ((doc_id % 4) + 4) % 4 AS shard,
        | CAST(count(*) AS BIGINT) AS df,
        | CAST(sum(tf) AS BIGINT) AS cf,
        | string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY 1, 2""".stripMargin,

    // generated from the same bit terms as Bucketing.zInterleave
    "zorder_layout" ->
      extra.Bucketing.zorderSqlFor("events", "event_id", "value", "user_id"),

    "lang_confusion" ->
      s"""WITH p AS (SELECT doc_id, lang_pred FROM (${O.langIdSql}) z),
         |j AS (SELECT d.lang, p.lang_pred FROM documents d
         |  JOIN p ON d.doc_id = p.doc_id),
         |c AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM j GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         | round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6) AS share
         |FROM c""".stripMargin,

    "vocab_growth" ->
      """WITH w AS (SELECT source,
        |  unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS word
        | FROM documents),
        |c AS (SELECT source, word, count(*) AS cnt FROM w GROUP BY 1, 2)
        |SELECT source,
        | CAST(sum(cnt) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS vocab_size,
        | CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
        | round(CAST(count(*) AS DOUBLE)/NULLIF(sum(cnt), 0), 6) AS ttr
        |FROM c GROUP BY source""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(
        | regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    "event_tumbling" ->
      """SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS window_start,
        | event_type, count(*) AS n, round(sum(value),4) AS total,
        | round(round(sum(value),4)/count(*),6) AS mean
        |FROM events GROUP BY 1,2""".stripMargin,

    "event_sessions" -> O.sessionsSql,

    "event_props" ->
      """SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS n_with_k,
        | CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | round(CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS DOUBLE)
        |   / NULLIF(count(CAST(json_extract(props, '$.k') AS INT)), 0), 6) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle; the right side is deduped to
    // the max event_id per (user, ts) first — ASOF leaves equal-ts picks
    // undefined, the Spark window breaks the same tie by event_id
    "event_asof" ->
      """WITH r0 AS (SELECT user_id, ts, round(value, 4) AS value,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1),
        |l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_left,
        |  epoch_ms(r.ts) AS ts_right, r.value AS r_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // integer epoch-week arithmetic on both sides
    "event_retention" ->
      """WITH co AS (SELECT user_id,
        |    min(CAST(floor(epoch(ts) / 604800) AS BIGINT)) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT DISTINCT co.cohort_week,
        |    CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - co.cohort_week AS week_offset,
        |    e.user_id
        |  FROM events e JOIN co USING (user_id)
        |  WHERE CAST(floor(epoch(e.ts) / 604800) AS BIGINT) >= co.cohort_week)
        |SELECT cohort_week, week_offset, count(*) AS n_active
        |FROM act GROUP BY 1, 2""".stripMargin,

    // per-step chained CTEs: each stage's min completion time given the
    // previous stage's; strict > on both sides, integer counts
    "event_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |  (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin,

    // DuckDB does the range join natively (non-equi join); the engine's
    // bucketed equi-join must produce the identical match set
    "event_range_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ms(ts) AS r_ms, round(value, 4) AS r_value
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.event_id, count(*) AS n_right,
        |    round(sum(c.r_value), 4) AS right_value
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.r_ms >= p.ts_ms - 1800000 AND c.r_ms < p.ts_ms
        |  GROUP BY 1)
        |SELECT p.event_id, p.user_id, p.ts_ms,
        |  CAST(coalesce(m.n_right, 0) AS BIGINT) AS n_right,
        |  round(coalesce(m.right_value, 0.0), 4) AS right_value
        |FROM p LEFT JOIN m USING (event_id)""".stripMargin,

    // add-1 unigram LM trained on the corpus itself; per-doc sum rounded at
    // 4 before the mean divides (rounding-boundary discipline), NULL scores
    // for token-less docs on both sides
    "lm_quality" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS term FROM documents) GROUP BY 1, 2),
        |vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
        |    CAST(count(*) AS DOUBLE) AS v_size FROM vocab),
        |lp AS (SELECT term, round(ln((cnt + 1.0) / (n_total + v_size)), 6) AS lp
        |  FROM vocab CROSS JOIN tot),
        |perdoc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    sum(CAST(round(tf.tf * lp.lp * 1000000) AS BIGINT)) AS lp_micro
        |  FROM tf JOIN lp USING (term) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CASE WHEN p.n_tokens > 0
        |    THEN -CAST((-p.lp_micro) // p.n_tokens AS DOUBLE) / 1000000.0 END
        |    AS lm_logprob,
        |  CASE WHEN p.n_tokens > 0 THEN
        |    round(exp(CAST((-p.lp_micro) // p.n_tokens AS DOUBLE) / 1000000.0), 4)
        |  END AS ppl
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,

    // add-1 bigram conditionals: P(w2|w1) = (c+1)/(h+V) with the same
    // integer-micro sum / negated positive division as lm_quality
    "lm_quality2" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |bi AS (SELECT doc_id, bigram, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      list_extract(ts, i) || ' ' || list_extract(ts, i + 1) AS bigram
        |    FROM t CROSS JOIN unnest(range(1, len(ts))) AS u(i)
        |    WHERE len(ts) >= 2) z GROUP BY 1, 2),
        |model AS (SELECT bigram, sum(tf) AS cnt,
        |    split_part(bigram, ' ', 1) AS w1 FROM bi GROUP BY 1),
        |hist AS (SELECT w1, sum(cnt) AS hcnt FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v_size
        |  FROM (SELECT unnest(ts) AS term FROM t) z),
        |lp AS (SELECT bigram,
        |    round(ln((cnt + 1.0) / (CAST(hcnt AS DOUBLE) + v_size)), 6) AS lp
        |  FROM model JOIN hist USING (w1) CROSS JOIN v),
        |perdoc AS (SELECT bi.doc_id, CAST(sum(bi.tf) AS BIGINT) AS n_bigrams,
        |    sum(CAST(round(bi.tf * lp.lp * 1000000) AS BIGINT)) AS lp_micro
        |  FROM bi JOIN lp USING (bigram) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CASE WHEN p.n_bigrams > 0
        |    THEN -CAST((-p.lp_micro) // p.n_bigrams AS DOUBLE) / 1000000.0 END
        |    AS lm2_logprob,
        |  CASE WHEN p.n_bigrams > 0 THEN
        |    round(exp(CAST((-p.lp_micro) // p.n_bigrams AS DOUBLE) / 1000000.0), 4)
        |  END AS ppl2
        |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,

    // stride chunking: positions/lengths/hashes are exact integer + md5
    // arithmetic; range(0, n, 48) ≡ Spark sequence(0, n-1, 48)
    "doc_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t
        |  WHERE len(toks) > 0),
        |c AS (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_id,
        |    CAST(s AS BIGINT) AS start_tok,
        |    list_slice(toks, s + 1, s + 64) AS chunk
        |  FROM n CROSS JOIN unnest(range(0, n_tokens, 48)) AS u(s))
        |SELECT doc_id, chunk_id, start_tok,
        |  CAST(len(chunk) AS BIGINT) AS chunk_len,
        |  md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM c""".stripMargin,

    // same chunk boundaries as doc_chunks, then the bm25_docs scoring CTEs
    // over (doc_id, chunk_id) passages
    "passage_search" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t
         |  WHERE len(toks) > 0),
         |p AS (SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_id,
         |    list_slice(toks, s + 1, s + 64) AS ptoks
         |  FROM n CROSS JOIN unnest(range(0, n_tokens, 48)) AS u(s)),
         |t2 AS (SELECT doc_id, chunk_id, unnest(ptoks) AS term FROM p),
         |tf AS (SELECT doc_id, chunk_id, term, count(*) AS tf FROM t2 GROUP BY 1,2,3),
         |dl AS (SELECT doc_id, chunk_id, count(*) AS dl FROM t2 GROUP BY 1,2),
         |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($terms) GROUP BY 1)
         |SELECT tf.doc_id, tf.chunk_id, round(sum(
         |   ln(1.0 + (corpus.n_docs - dfreq.df + 0.5)/(dfreq.df + 0.5))
         |   * (tf.tf * (1.2 + 1.0))
         |   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / corpus.avgdl))
         | ),6) AS score
         |FROM tf
         |JOIN dfreq ON tf.term = dfreq.term
         |JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id
         |CROSS JOIN corpus
         |WHERE tf.term IN ($terms)
         |GROUP BY tf.doc_id, tf.chunk_id
         |ORDER BY score DESC, tf.doc_id ASC, tf.chunk_id ASC LIMIT 20""".stripMargin
    },

    // pinned-log PMI: every ln rounds to 6 decimals before the combination,
    // so no engine-specific libm tail and no overflowing integer product
    "collocations" ->
      """WITH t AS (SELECT list_filter(string_split(lower(text), ' '),
        |    x -> x <> '') AS ts FROM documents),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(ts) AS term FROM t) u GROUP BY 1),
        |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM (
        |    SELECT array_to_string(list_slice(ts, i, i + 1), ' ') AS bigram
        |    FROM t CROSS JOIN unnest(range(1, len(ts))) AS u(i)
        |    WHERE len(ts) >= 2) b GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(c_ab) AS BIGINT) FROM bi) AS big_n,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS tok_n)
        |SELECT bigram, c_ab, c_a, c_b, pmi FROM (
        |  SELECT b.bigram, b.c_ab, ua.c AS c_a, ub.c AS c_b,
        |    round(round(ln(CAST(b.c_ab AS DOUBLE)), 6)
        |      - round(ln(CAST(tot.big_n AS DOUBLE)), 6)
        |      - round(ln(CAST(ua.c AS DOUBLE)), 6)
        |      - round(ln(CAST(ub.c AS DOUBLE)), 6)
        |      + 2.0 * round(ln(CAST(tot.tok_n AS DOUBLE)), 6), 6) AS pmi
        |  FROM bi b
        |  JOIN uni ua ON ua.term = split_part(b.bigram, ' ', 1)
        |  JOIN uni ub ON ub.term = split_part(b.bigram, ' ', 2)
        |  CROSS JOIN tot
        |  WHERE b.c_ab >= 5) z
        |ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin,

    // non-negative operands make DuckDB's flooring // equal Spark's
    // truncating DIV in every slot formula
    "pad_audit" ->
      """WITH t AS (SELECT least(CAST(len(list_filter(
        |      string_split(lower(text), ' '), x -> x <> '')) AS BIGINT),
        |      256) AS n FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS used,
        |    CAST(count(*) * 256 AS BIGINT) AS slots_fixed,
        |    CAST(sum(((n + 31) // 32) * 32) AS BIGINT) AS slots_bucketed,
        |    CAST(((sum(n) + 2047) // 2048) * 2048 AS BIGINT) AS slots_packed
        |  FROM t WHERE n > 0)
        |SELECT strategy, n_docs, used AS used_tokens, slots AS slot_tokens,
        |  CAST(((slots - used) * 1000000) // slots AS BIGINT) AS waste_ppm
        |FROM (
        |  SELECT 'fixed' AS strategy, n_docs, used, slots_fixed AS slots FROM a
        |  UNION ALL
        |  SELECT 'bucketed', n_docs, used, slots_bucketed FROM a
        |  UNION ALL
        |  SELECT 'packed', n_docs, used, slots_packed FROM a) u""".stripMargin,

    // two-level agg mirrors the Spark plan (fingerprint first, then group);
    // integer sums cast out of HUGEINT
    "corpus_stats" ->
      """WITH fp AS (SELECT lang, source,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
        |    count(*) AS n, sum(length(text)) AS chars,
        |    sum(len(list_filter(string_split(lower(text), ' '),
        |      x -> x <> ''))) AS toks
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, source,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  CAST(sum(toks) AS BIGINT) AS total_tokens,
        |  count(*) AS n_unique,
        |  round(1.0 - CAST(count(*) AS DOUBLE) / sum(n), 6) AS dup_rate
        |FROM fp GROUP BY 1, 2""".stripMargin,

    // GROUP BY ROLLUP mirrors the one-Expand Spark plan; '<all>' labels
    // the subtotal rows; grand total as a 1-row cross join
    "corpus_rollup" ->
      """WITH base AS (SELECT lang, source, length(text) AS chars,
        |    len(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS toks
        |  FROM documents),
        |r AS (SELECT coalesce(lang, '<all>') AS lang,
        |    coalesce(source, '<all>') AS source,
        |    count(*) AS n_docs,
        |    CAST(sum(chars) AS BIGINT) AS total_chars,
        |    CAST(sum(toks) AS BIGINT) AS total_tokens
        |  FROM base GROUP BY ROLLUP(lang, source)),
        |t AS (SELECT CAST(sum(toks) AS BIGINT) AS grand_toks FROM base)
        |SELECT lang, source, n_docs, total_chars, total_tokens,
        |  round(CAST(total_tokens AS DOUBLE) / grand_toks, 6) AS token_share
        |FROM r CROSS JOIN t""".stripMargin,

    // inverted-index sparse cosine; df-cap shared with the Spark side
    "tfidf_knn" -> {
      val ids = KnnQueryIds.mkString(", ")
      s"""WITH t2 AS (SELECT doc_id, unnest(list_filter(
         |    string_split(lower(text), ' '), x -> x <> '')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |w AS (SELECT doc_id, term,
         |    tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nd
         |  WHERE df <= n_docs * $TfidfDfCap),
         |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
         |q AS (SELECT doc_id AS q_id, term, w AS qw FROM w
         |  WHERE doc_id IN ($ids)),
         |dots AS (SELECT q_id, w.doc_id AS c_id, sum(qw * w.w) AS dot
         |  FROM w JOIN q USING (term) WHERE w.doc_id <> q_id GROUP BY 1, 2),
         |s AS (SELECT q_id, c_id,
         |    round(dot / (qn.nrm * cn.nrm), 6) AS sim
         |  FROM dots JOIN nrm qn ON qn.doc_id = q_id
         |  JOIN nrm cn ON cn.doc_id = c_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS BIGINT) AS rank FROM s)
         |SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 5""".stripMargin
    },

    // integer counts end to end — exact cross-engine parity
    "bpe_pairs" ->
      """WITH words AS (SELECT word, count(*) AS wcnt FROM (
        |    SELECT unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS word FROM documents) GROUP BY 1),
        |pairs AS (SELECT word, substr(word, i, 2) AS pair, wcnt
        |  FROM words CROSS JOIN unnest(range(1, length(word))) AS u(i)
        |  WHERE length(word) >= 2),
        |agg AS (SELECT pair, count(DISTINCT word) AS n_words,
        |    CAST(sum(wcnt) AS BIGINT) AS n_occurrences FROM pairs GROUP BY 1),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY n_occurrences DESC,
        |    pair ASC) AS BIGINT) AS rank FROM agg)
        |SELECT pair, n_words, n_occurrences, rank FROM r WHERE rank <= 50""".stripMargin,

    "bpe_train" -> O.bpeTrainSql,
    "bpe_encode" -> O.bpeEncodeSql
  )

  /** DuckDB oracle SQL builders for the repetitive profile/sketch queries —
    * generated from the same column-type config the Spark side derives from
    * the schema, so the two sides cannot drift.
    */
  private object O {
    val profiledTables = Seq("customer", "orders", "lineitem")

    /** Shared CTE chain of the DSIR oracles (dsir_weights, dsir_resample):
      * target + base unigram LMs as integer-micro logprobs, per-doc integer
      * lr sum. Ends with the `perdoc` CTE.
      */
    val dsirCtes: String =
      """tf AS (SELECT doc_id, source IN ('src0','src1','src2') AS is_t,
        |    term, count(*) AS tf FROM (
        |    SELECT doc_id, source, unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS term FROM documents) GROUP BY 1, 2, 3),
        |vb AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
        |tb AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
        |    CAST(count(*) AS DOUBLE) AS v_size FROM vb),
        |lpb AS (SELECT term, CAST(round(ln((cnt + 1.0) / (n_total + v_size))
        |    * 1000000) AS BIGINT) AS lp_b FROM vb CROSS JOIN tb),
        |vt AS (SELECT term, sum(tf) AS cnt FROM tf WHERE is_t GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
        |    CAST(count(*) AS DOUBLE) AS v_size FROM vt),
        |lpt AS (SELECT term, CAST(round(ln((cnt + 1.0) / (n_total + v_size))
        |    * 1000000) AS BIGINT) AS lp_t FROM vt CROSS JOIN tt),
        |u AS (SELECT CAST(round(ln(1.0 / (n_total + v_size)) * 1000000)
        |    AS BIGINT) AS lp_t0 FROM tt),
        |perdoc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    sum(tf.tf * (coalesce(lpt.lp_t, u.lp_t0) - lpb.lp_b)) AS lr_micro
        |  FROM tf JOIN lpb USING (term) LEFT JOIN lpt USING (term)
        |  CROSS JOIN u GROUP BY 1)""".stripMargin

    /** The sign-split truncating per-token mean over `perdoc` columns. */
    val dsirLrExpr: String =
      """CAST(CASE WHEN p.lr_micro >= 0 THEN p.lr_micro // p.n_tokens
        |      ELSE -((-p.lr_micro) // p.n_tokens) END AS DOUBLE) / 1000000.0""".stripMargin

    /** DuckDB twin of TextStats.bpeTrain: 8 unrolled rounds, each a pair
      * aggregation + 1-row argmax + literal replace — integer and string
      * arithmetic only, so every round's merge choice and count match
      * exactly.
      */
    private val bpeRounds = 8

    /** Shared training CTE chain (w0 → pc_k/t_k/w_k per round) — both the
      * merge-table dump and the encode twin build on it.
      */
    private val bpeRoundCtes: String = {
      // t_k is TOTAL: a sentinel (l='', r='', cnt=-1) loses to every real
      // pair (cnt >= 1) but survives when pc_k is empty (training dried up),
      // where its replace(' '||''||' '||''||' ', ...) = replace(ws,'   ',..)
      // never matches the single-space-separated token stream — a no-op, so
      // the chain degrades to fewer merges exactly like the engine instead
      // of an empty t_k annihilating every downstream CTE.
      val roundCtes = (1 to bpeRounds).map { k =>
        s"""pc$k AS (SELECT t[i] AS l, t[i+1] AS r, sum(wcnt) AS cnt
           |  FROM (SELECT string_split(trim(ws), ' ') AS t, wcnt FROM w${k - 1}) z
           |  CROSS JOIN unnest(range(1, len(t))) AS u(i) GROUP BY 1, 2),
           |t$k AS (SELECT l, r, cnt FROM (
           |    SELECT l, r, cnt FROM pc$k
           |    UNION ALL SELECT '', '', -1)
           |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
           |w$k AS (SELECT replace(ws, ' '||l||' '||r||' ', ' '||l||r||' ') AS ws, wcnt
           |  FROM w${k - 1} CROSS JOIN t$k)""".stripMargin
      }.mkString(",\n")
      s"""w0 AS (SELECT ' ' || array_to_string(
         |      list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)),
         |      ' ') || ' ' AS ws, wcnt
         |  FROM (SELECT word, count(*) AS wcnt FROM (
         |      SELECT unnest(list_filter(string_split(lower(text), ' '),
         |        x -> x <> '')) AS word FROM documents) z GROUP BY 1) w),
         |$roundCtes""".stripMargin
    }

    val bpeTrainSql: String = {
      // cnt > 0 drops the dry-round sentinel — the engine emits no merge row
      // for a round where no pair exists
      val un = (1 to bpeRounds).map(k =>
        s"SELECT $k AS round, l AS l_tok, r AS r_tok, cnt AS n_occurrences FROM t$k WHERE cnt > 0")
        .mkString("\n  UNION ALL ")
      s"""WITH $bpeRoundCtes
         |SELECT CAST(round AS BIGINT) AS round, l_tok, r_tok,
         |  CAST(n_occurrences AS BIGINT) AS n_occurrences
         |FROM ($un)""".stripMargin
    }

    /** DuckDB twin of TextStats.bpeEncode: the t_k merge scalars cross-join
      * onto the per-word spaced stream, replaces nest in training order.
      */
    val bpeEncodeSql: String = {
      val chain = (1 to bpeRounds).foldLeft("ws") { case (acc, k) =>
        s"replace($acc, ' '||t$k.l||' '||t$k.r||' ', ' '||t$k.l||t$k.r||' ')"
      }
      val joins = (1 to bpeRounds).map(k => s"CROSS JOIN t$k").mkString(" ")
      s"""WITH $bpeRoundCtes,
         |dw AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
         |    x -> x <> '')) AS word FROM documents),
         |sp AS (SELECT doc_id, ' ' || array_to_string(
         |    list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)),
         |    ' ') || ' ' AS ws FROM dw),
         |enc AS (SELECT doc_id, $chain AS ws FROM sp $joins),
         |pd AS (SELECT doc_id, count(*) AS n_words,
         |    sum(len(string_split(trim(ws), ' '))) AS n_bpe FROM enc GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(pd.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(pd.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin
    }

    // (table, allCols, numericCols, temporalCols) — mirrors the parquet schemas
    // (FIXTURES.md §A) in schema order.
    val tables: Seq[(String, Seq[String], Seq[String], Seq[String])] = Seq(
      ("region", Seq("r_regionkey", "r_name"), Seq("r_regionkey"), Nil),
      ("nation", Seq("n_nationkey", "n_name", "n_regionkey"),
        Seq("n_nationkey", "n_regionkey"), Nil),
      ("customer", Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        Seq("c_custkey", "c_nationkey", "c_acctbal"), Nil),
      ("supplier", Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        Seq("s_suppkey", "s_nationkey", "s_acctbal"), Nil),
      ("part", Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
        Seq("p_partkey", "p_size", "p_retailprice"), Nil),
      ("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
        Seq("o_orderkey", "o_custkey", "o_totalprice"), Seq("o_orderdate")),
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax"), Seq("l_shipdate")),
      ("events", Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
        Seq("event_id", "user_id", "value"), Seq("ts")))

    /** String-typed columns per table (for the byte-size metric). */
    private val stringCols: Map[String, Set[String]] = Map(
      "region" -> Set("r_name"), "nation" -> Set("n_name"),
      "customer" -> Set("c_name", "c_mktsegment"), "supplier" -> Set("s_name"),
      "part" -> Set("p_name", "p_brand", "p_type"),
      "orders" -> Set("o_orderstatus", "o_orderpriority"),
      "lineitem" -> Set("l_returnflag", "l_linestatus"),
      "events" -> Set("event_type", "props"))

    val tableStatsSql: String = profiledTables.map { t =>
      val cols = tables.find(_._1 == t).get._2
      val missing = cols.map(c => s"(count(*)-count($c))").mkString(" + ")
      val bytes = cols.map { c =>
        if (stringCols(t).contains(c)) s"CAST(coalesce(sum(length($c)),0) AS BIGINT)"
        else s"CAST(count($c)*8 AS BIGINT)"
      }.mkString(" + ")
      s"""SELECT dataset_id, n, n_var, n_cells_missing,
         | round(CAST(n_cells_missing AS DOUBLE)/(n*n_var),6) AS p_cells_missing,
         | n - nd AS n_duplicates,
         | round(CAST(n - nd AS DOUBLE)/n,6) AS p_duplicates,
         | memory_size,
         | round(CAST(memory_size AS DOUBLE)/n,6) AS record_size
         |FROM (SELECT '$t' AS dataset_id, count(*) AS n,
         |  CAST(${cols.size} AS BIGINT) AS n_var,
         |  $missing AS n_cells_missing,
         |  (SELECT count(*) FROM (SELECT DISTINCT * FROM $t)) AS nd,
         |  $bytes AS memory_size
         |  FROM $t)""".stripMargin
    }.mkString("\nUNION ALL\n")

    // mean/std mirror Profiler.numericWide's exact integer-micro moments:
    // xm = round(x·1e6) as HUGEINT, order-free exact sums, and the verbatim
    // float tail round(sqrt((n·Σxm² − (Σxm)²)/n/(n−1))/1e6, 6) — DuckDB's
    // own stddev_samp accumulates floats in its own order and diverged at
    // the sf1.0 decade probe.
    val numericStatsSql: String = tables.flatMap { case (t, _, nums, _) =>
      nums.map { c =>
        val xm = s"CAST(round(CAST($c AS DOUBLE) * 1000000) AS HUGEINT)"
        // Σxm² rides the same hi/lo split around 10¹⁸ as numericWide (xm² ≥ 0
        // so // and % agree with Spark's DIV/%), recombined with the verbatim
        // two-op double sequence — neither engine's 128-bit sum can overflow
        s"""SELECT '$t' AS dataset_id, '$c' AS col_name, count($c) AS n,
           | count(*)-count($c) AS n_missing, count(DISTINCT $c) AS n_distinct,
           | round(CAST(count(DISTINCT $c) AS DOUBLE)/count($c),6) AS p_distinct,
           | round(CAST(count(*)-count($c) AS DOUBLE)/count(*),6) AS p_missing,
           | round(CAST(sum($xm) AS DOUBLE) / 1000000.0 / count($c), 6) AS mean,
           | CASE WHEN count($c) > 1 THEN
           |   round(sqrt(greatest(
           |     (CAST(sum(($xm * $xm) // 1000000000000000000) AS DOUBLE) * 1.0e18
           |       + CAST(sum(($xm * $xm) % 1000000000000000000) AS DOUBLE)
           |       - CAST(sum($xm) AS DOUBLE) * CAST(sum($xm) AS DOUBLE) / count($c))
           |     / (count($c) - 1), 0.0)) / 1000000.0, 6)
           | ELSE NULL END AS std,
           | round(CAST(min($c) AS DOUBLE),6) AS vmin,
           | round(CAST(max($c) AS DOUBLE),6) AS vmax
           |FROM $t""".stripMargin
      }
    }.mkString("\nUNION ALL\n")

    /** Explicit interpolated-quantile branch — the VERBATIM mirror of
      * Profiler.histogramQuantiles' integer-micro position arithmetic
      * (posm = pm·(n−1); lo/fraction by integer DIV/MOD; the one float
      * expression v_lo + (v_hi − v_lo)·(fm/1e6), round 6). DuckDB's
      * built-in quantile_cont computes the same quantile through its OWN
      * float sequence, which lands a half-ulp away at decade scale — the
      * sf1.0 fp-noise mechanism; with the formula spelled out, both
      * engines run identical IEEE ops on identical integers at any n.
      */
    private def quantileBranch(t: String, c: String, colType: String): String = {
      val v = if (colType == "Temporal") s"epoch($c)" else s"CAST($c AS DOUBLE)"
      val pvals = Profiler.sketchPs.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${math.round(p * 1e6)})" }
        .mkString(", ")
      s"""SELECT '$t' AS dataset_id, '$c' AS col_name, '$colType' AS col_type, dim, v
         |FROM (
         |  WITH ranked AS (SELECT $v AS val,
         |      CAST(row_number() OVER (ORDER BY $v) - 1 AS BIGINT) AS idx,
         |      CAST(count(*) OVER () AS BIGINT) AS n
         |    FROM $t WHERE $c IS NOT NULL),
         |  ps AS (SELECT * FROM (VALUES $pvals) AS p(dim, pm)),
         |  bounds AS (SELECT dim, CAST(pm AS BIGINT) * (nn.n - 1) AS posm FROM ps
         |    CROSS JOIN (SELECT max(n) AS n FROM ranked) nn),
         |  sel AS (SELECT b.dim, b.posm % 1000000 AS fm,
         |      max(CASE WHEN r.idx = b.posm // 1000000 THEN r.val END) AS v_lo,
         |      max(CASE WHEN r.idx = b.posm // 1000000
         |        + CASE WHEN b.posm % 1000000 > 0 THEN 1 ELSE 0 END
         |        THEN r.val END) AS v_hi
         |    FROM ranked r JOIN bounds b
         |      ON r.idx = b.posm // 1000000 OR r.idx = b.posm // 1000000 + 1
         |    GROUP BY 1, 2),
         |  nums AS (SELECT dim,
         |      CAST(round(v_lo * 1000000) AS HUGEINT) * (1000000 - fm)
         |        + CAST(round(v_hi * 1000000) AS HUGEINT) * fm AS num
         |    FROM sel)
         |  SELECT dim, CAST((num - (num % 1000000)) // 1000000
         |      + CASE WHEN num % 1000000 >= 500000 THEN 1
         |             WHEN num % 1000000 <= -500000 THEN -1 ELSE 0 END
         |    AS DOUBLE) / 1000000.0 AS v
         |  FROM nums
         |)""".stripMargin
    }

    val quantilesSql: String = tables.flatMap { case (t, _, nums, temps) =>
      nums.map(c => quantileBranch(t, c, "Numeric")) ++
        temps.map(c => quantileBranch(t, c, "Temporal"))
    }.mkString("\nUNION ALL\n")

    val typeHistogramSql: String = {
      val rows = tables.filter(t => Tables.sketchTables.contains(t._1))
        .flatMap { case (t, all, nums, temps) =>
          val cat = all.size - nums.size - temps.size
          Seq(
            Some((t, "Numeric", nums.size)),
            if (temps.nonEmpty) Some((t, "Temporal", temps.size)) else None,
            if (cat > 0) Some((t, "Categorical", cat)) else None).flatten
        }
        .sortBy(r => (r._1, r._2))
        .map { case (t, ty, n) => s"('$t', '$ty', CAST($n AS BIGINT))" }
      s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS v(dataset_id, col_type, n_cols)"
    }

    /** DuckDB twin of CardSketch.hllDistinct: identical md5 hash, bucket and
      * rank integer arithmetic; the harmonic sum is dyadic (powers of two)
      * so the double math is exact and order-independent on both engines.
      */
    val hllDistinctSql: String = {
      val w = CardSketch.HllW; val m = CardSketch.HllM
      val two_w = 1L << w
      val alphaM2 = CardSketch.HllAlpha * m.toDouble * m
      val streams = Seq(
        ("o_custkey", "orders"), ("l_partkey", "lineitem"),
        ("l_orderkey", "lineitem"), ("c_custkey", "customer")).map { case (c, t) =>
        s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM $t WHERE $c IS NOT NULL"
      }.mkString("\n  UNION ALL ")
      s"""WITH vals AS ($streams),
         |h AS (SELECT col_name, ('0x'||substring(md5('hll:'||v),1,8))::BIGINT AS h FROM vals),
         |b AS (SELECT col_name, h // $two_w AS bucket, h % $two_w AS rest FROM h),
         |r AS (SELECT col_name, bucket,
         |   CASE WHEN rest > 0 THEN $w - length(bin(rest)) + 1 ELSE ${w + 1} END AS rank FROM b),
         |mb AS (SELECT col_name, bucket, max(rank) AS max_rank FROM r GROUP BY 1,2),
         |e AS (SELECT col_name, sum(power(2.0, -max_rank)) AS s, count(*) AS present
         |  FROM mb GROUP BY 1),
         |x AS (SELECT col_name, round($alphaM2 / (s + ($m - present)), 2) AS approx_distinct FROM e),
         |d AS (SELECT col_name, count(DISTINCT v) AS exact_distinct FROM vals GROUP BY 1)
         |SELECT x.col_name, approx_distinct, exact_distinct FROM x JOIN d USING (col_name)""".stripMargin
    }

    /** DuckDB twin of CardSketch.heavyHitters (count-min sketch): same
      * md5-derived per-row buckets, integer cell counts, min-over-rows
      * estimate for every distinct term, deterministic top-k.
      */
    val heavyHittersSql: String = {
      val d = CardSketch.CmsDepth; val wd = CardSketch.CmsWidth
      s"""WITH t AS (SELECT term FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents) z
         |  WHERE term <> ''),
         |js AS (SELECT unnest(range($d)) AS j),
         |pe AS (SELECT term, j,
         |    ('0x'||substring(md5('cm:'||j||':'||term),1,8))::BIGINT % $wd AS bucket
         |  FROM t CROSS JOIN js),
         |cells AS (SELECT j, bucket, count(*) AS cnt FROM pe GROUP BY 1,2),
         |tc AS (SELECT term, count(*) AS true_count FROM t GROUP BY 1),
         |probes AS (SELECT term, j,
         |    ('0x'||substring(md5('cm:'||j||':'||term),1,8))::BIGINT % $wd AS bucket
         |  FROM tc CROSS JOIN js),
         |est AS (SELECT term, min(cnt) AS est_count
         |  FROM probes JOIN cells USING (j, bucket) GROUP BY 1)
         |SELECT est.term, est_count, true_count FROM est JOIN tc USING (term)
         |ORDER BY est_count DESC, term ASC LIMIT 20""".stripMargin
    }

    // built on the SAME explicit interpolation branch as profile_quantiles
    // so the sketch vectors the distance queries compare are engine-exact
    val sketchSql: String = tables.flatMap { case (t, _, nums, temps) =>
      (nums.map((_, "Numeric")) ++ temps.map((_, "Temporal"))).map { case (c, ty) =>
        s"""SELECT dataset_id, col_name, col_type, list(v ORDER BY dim) AS vec
           |FROM (
           |${quantileBranch(t, c, ty)}
           |) GROUP BY 1, 2, 3""".stripMargin
      }
    }.mkString("\nUNION ALL\n")

    val sketchKnnSql: String = {
      val sq = (1 to 7).map(i => s"(q_vec[$i]-c_vec[$i])*(q_vec[$i]-c_vec[$i])")
        .mkString(" + ")
      s"""WITH sk AS MATERIALIZED (
         |$sketchSql
         |),
         |q AS (SELECT col_name AS q_col, col_type, vec AS q_vec FROM sk
         |      WHERE dataset_id = 'customer'),
         |c AS (SELECT dataset_id AS c_dataset, col_name AS c_col, col_type,
         |        vec AS c_vec FROM sk),
         |d AS (SELECT q_col, c_dataset, c_col, c.col_type,
         |        CAST(round(sqrt($sq) * 1000000) AS BIGINT) / 1000000.0 AS dist
         |      FROM c JOIN q USING (col_type)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_col
         |        ORDER BY dist ASC, c_dataset ASC, c_col ASC) AS rank FROM d),
         |rm AS (SELECT * FROM r WHERE rank <= 100),
         |nc AS (SELECT q_col, max(rank) AS n_cand FROM rm GROUP BY 1),
         |kth AS (SELECT rm.q_col, min(dist) AS kth FROM rm JOIN nc USING (q_col)
         |        WHERE rm.rank >= least(50, nc.n_cand) AND rm.dist > 0 GROUP BY 1)
         |SELECT rm.q_col, rm.c_dataset, rm.c_col, rm.col_type, rm.dist,
         |  coalesce(kth.kth, 1e-12) AS kth,
         |  round(exp(-0.01 * rm.dist / coalesce(kth.kth, 1e-12)),6) AS sim,
         |  rm.rank
         |FROM rm LEFT JOIN kth USING (q_col)
         |WHERE rm.c_dataset <> 'customer'""".stripMargin
    }

    /** DuckDB twin of DistanceJoin.knnLsh over the numeric+temporal sketch:
      * identical md5-derived uniform projections (DistanceJoin.rUnit), bucket
      * = floor(dot/1e5) per 5 hash tables, candidates from the (type, table,
      * bucket) equi-join, then the same exact-distance rank/kth/sim tail as
      * [[sketchKnnSql]]. Dot products are explicit left-assoc chains on both
      * sides, so buckets match bit for bit.
      */
    val sketchKnnLshSql: String = {
      val sq = (1 to 7).map(i => s"(q_vec[$i]-c_vec[$i])*(q_vec[$i]-c_vec[$i])")
        .mkString(" + ")
      val dot = (1 to 7).map(i =>
        s"""coalesce(vec[$i], 0.0) * (('0x' || substr(md5('rp:' || CAST(t AS VARCHAR) || ':$i'), 1, 8))::BIGINT
           |      / 2147483648.0 - 1.0)""".stripMargin)
        .mkString(" + ")
      s"""WITH sk AS MATERIALIZED (
         |$sketchSql
         |),
         |tb AS (SELECT dataset_id, col_name, col_type, t,
         |    floor(($dot) / 100000.0) AS bucket
         |  FROM sk CROSS JOIN (SELECT unnest(range(0, 5)) AS t)),
         |qb AS (SELECT col_name AS q_col, col_type, t, bucket FROM tb
         |  WHERE dataset_id = 'customer'),
         |pairs AS (SELECT DISTINCT q_col, tb.dataset_id AS c_dataset,
         |    tb.col_name AS c_col, tb.col_type
         |  FROM tb JOIN qb USING (col_type, t, bucket)),
         |d AS (SELECT p.q_col, p.c_dataset, p.c_col, p.col_type,
         |    CAST(round(sqrt($sq) * 1000000) AS BIGINT) / 1000000.0 AS dist
         |  FROM pairs p
         |  JOIN (SELECT dataset_id, col_name, vec AS c_vec FROM sk) c
         |    ON c.dataset_id = p.c_dataset AND c.col_name = p.c_col
         |  JOIN (SELECT col_name AS q_col, vec AS q_vec FROM sk
         |        WHERE dataset_id = 'customer') q USING (q_col)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_col
         |        ORDER BY dist ASC, c_dataset ASC, c_col ASC) AS rank FROM d),
         |rm AS (SELECT * FROM r WHERE rank <= 100),
         |nc AS (SELECT q_col, max(rank) AS n_cand FROM rm GROUP BY 1),
         |kth AS (SELECT rm.q_col, min(dist) AS kth FROM rm JOIN nc USING (q_col)
         |        WHERE rm.rank >= least(50, nc.n_cand) AND rm.dist > 0 GROUP BY 1)
         |SELECT rm.q_col, rm.c_dataset, rm.c_col, rm.col_type, rm.dist,
         |  coalesce(kth.kth, 1e-12) AS kth,
         |  round(exp(-0.01 * rm.dist / coalesce(kth.kth, 1e-12)),6) AS sim,
         |  rm.rank
         |FROM rm LEFT JOIN kth USING (q_col)
         |WHERE rm.c_dataset <> 'customer'""".stripMargin
    }

    /** DuckDB twin of DistanceJoin.candidateEdges over the numeric+temporal
      * sketch: the ranked lists (same CTEs as [[sketchKnnSql]]) supply the
      * candidate dataset ids and per-q_col kth; edges then cover ALL
      * same-type (query col, candidate col) pairs with the exp-decay sim
      * formula (content_search.py:300-333 random access).
      */
    val contentEdgesSql: String = {
      val sq = (1 to 7).map(i => s"(q_vec[$i]-c_vec[$i])*(q_vec[$i]-c_vec[$i])")
        .mkString(" + ")
      s"""WITH sk AS MATERIALIZED (
         |$sketchSql
         |),
         |q AS (SELECT col_name AS q_col, col_type, vec AS q_vec FROM sk
         |      WHERE dataset_id = 'customer'),
         |c AS (SELECT dataset_id AS c_dataset, col_name AS c_col, col_type,
         |        vec AS c_vec FROM sk),
         |d AS (SELECT q_col, c_dataset, c_col, c.col_type,
         |        CAST(round(sqrt($sq) * 1000000) AS BIGINT) / 1000000.0 AS dist
         |      FROM c JOIN q USING (col_type)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_col
         |        ORDER BY dist ASC, c_dataset ASC, c_col ASC) AS rank FROM d),
         |rm AS (SELECT * FROM r WHERE rank <= 100),
         |nc AS (SELECT q_col, max(rank) AS n_cand FROM rm GROUP BY 1),
         |kth AS (SELECT rm.q_col, min(dist) AS kth FROM rm JOIN nc USING (q_col)
         |        WHERE rm.rank >= least(50, nc.n_cand) AND rm.dist > 0 GROUP BY 1),
         |ranked AS MATERIALIZED (SELECT rm.q_col, rm.c_dataset,
         |        coalesce(kth.kth, 1e-12) AS kth
         |      FROM rm LEFT JOIN kth USING (q_col)
         |      WHERE rm.c_dataset <> 'customer'),
         |cids AS (SELECT DISTINCT c_dataset FROM ranked),
         |kq AS (SELECT DISTINCT q_col, kth FROM ranked),
         |edges AS (SELECT q.q_col, c.c_dataset, c.c_col, c.col_type,
         |        CAST(round(sqrt($sq) * 1000000) AS BIGINT) / 1000000.0 AS dist
         |      FROM c JOIN cids USING (c_dataset) JOIN q USING (col_type))
         |SELECT e.q_col, e.c_dataset, e.c_col, e.col_type, e.dist, kq.kth,
         |  round(exp(-0.01 * e.dist / kq.kth),6) AS sim
         |FROM edges e JOIN kq USING (q_col)""".stripMargin
    }

    /** Categorical columns per sketch table — everything that is neither
      * numeric nor temporal, mirroring Profiler.typedColumns routing.
      */
    private val catCols: Seq[(String, Seq[String])] =
      tables.filter(t => Tables.sketchTables.contains(t._1)).map { case (t, all, nums, temps) =>
        t -> all.filterNot(c => nums.contains(c) || temps.contains(c))
      }.filter(_._2.nonEmpty)

    /** CTE chain reproducing Sketches.categorical bit for bit: space
      * tokenization of every categorical column, TF top-10 per column
      * (term-asc tie-break), the md5 term→vec_id mapping of
      * Embedder.termVectors, per-dimension mean rounded to 6 decimals.
      * Terminates in `sk_cat (dataset_id, col_name, col_type, vec)`.
      */
    private val catSketchCtes: String = {
      val tokUnion = catCols.flatMap { case (t, cs) => cs.map { c =>
        s"""SELECT '$t/$c' AS doc_id, unnest(string_split(lower($c), ' ')) AS term FROM $t"""
      } }.mkString("\n  UNION ALL ")
      s"""cat_toks AS ($tokUnion),
         |cat_t2 AS (SELECT doc_id, term FROM cat_toks WHERE term <> ''),
         |cat_tf AS (SELECT doc_id, term, count(*) AS tf FROM cat_t2 GROUP BY 1,2),
         |cat_top AS (SELECT doc_id, term FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, term ASC) AS rk FROM cat_tf) z WHERE rk <= 10),
         |nv AS (SELECT max(vec_id) + 1 AS n FROM embeddings),
         |tv AS (SELECT doc_id,
         |    ('0x'||substring(md5('tv:'||term),1,8))::BIGINT % (SELECT n FROM nv) AS vec_id
         |  FROM cat_top),
         |dims AS (SELECT unnest(range(1, 65)) AS dim),
         |pooled AS (SELECT doc_id, dim,
         |    round(avg(CAST(e.embedding[dim] AS DOUBLE)), 6) AS v
         |  FROM tv JOIN embeddings e USING (vec_id) CROSS JOIN dims GROUP BY 1, 2),
         |sk_cat AS (SELECT string_split(doc_id, '/')[1] AS dataset_id,
         |    string_split(doc_id, '/')[2] AS col_name,
         |    'Categorical' AS col_type, list(v ORDER BY dim) AS vec
         |  FROM pooled GROUP BY 1, 2)""".stripMargin
    }

    /** Width-agnostic squared euclidean over the mixed 7/64-dim sketch lists
      * (same-type joins always pair equal widths; missing dims coalesce to
      * 0-0 = 0, so the 64-term chain is exact for 7-dim rows too).
      */
    private val sq64: String = (1 to 64).map(i =>
      s"(coalesce(q_vec[$i],0.0)-coalesce(c_vec[$i],0.0))*(coalesce(q_vec[$i],0.0)-coalesce(c_vec[$i],0.0))")
      .mkString(" + ")

    /** Shared CTE chain over the FULL sketch (numeric+temporal ∪
      * categorical): ranked lists → kth → candidate ids → complete edges with
      * exp-decay sims, exactly DistanceJoin.knn + candidateEdges over
      * Sketches.all. `extraCids` optionally unions additional candidate
      * dataset ids (CombinedScorer.search's metadata hits) into the edge
      * completion. Terminates in `wm (q_col, c_dataset, c_col, wm)` with
      * integer micro-weights round(sim*1e6).
      */
    private def edgesMicroCtes(extraCids: Option[String],
                               queryId: String = "customer",
                               queryCols: Option[Seq[String]] = None): String = {
      val cidsExpr = extraCids match {
        case Some(e) => s"SELECT DISTINCT c_dataset FROM (SELECT c_dataset FROM ranked UNION ALL $e) u"
        case None    => "SELECT DISTINCT c_dataset FROM ranked"
      }
      // column selection restricts the QUERY projection only (the index side
      // is never filtered) — mirror of DistanceJoin.queryProjection
      val qColFilter = queryCols.fold("")(cs =>
        s" AND col_name IN (${cs.map(c => s"'$c'").mkString(", ")})")
      s"""sk_nt AS MATERIALIZED (
         |$sketchSql
         |),
         |$catSketchCtes,
         |sk AS (SELECT * FROM sk_nt UNION ALL SELECT * FROM sk_cat),
         |q AS (SELECT col_name AS q_col, col_type, vec AS q_vec FROM sk
         |      WHERE dataset_id = '$queryId'$qColFilter),
         |c AS (SELECT dataset_id AS c_dataset, col_name AS c_col, col_type,
         |        vec AS c_vec FROM sk),
         |d AS (SELECT q_col, c_dataset, c_col, c.col_type,
         |        CAST(round(sqrt($sq64) * 1000000) AS BIGINT) / 1000000.0 AS dist
         |      FROM c JOIN q USING (col_type)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_col
         |        ORDER BY dist ASC, c_dataset ASC, c_col ASC) AS rank FROM d),
         |rm AS (SELECT * FROM r WHERE rank <= 100),
         |nc AS (SELECT q_col, max(rank) AS n_cand FROM rm GROUP BY 1),
         |kth AS (SELECT rm.q_col, min(dist) AS kth FROM rm JOIN nc USING (q_col)
         |        WHERE rm.rank >= least(50, nc.n_cand) AND rm.dist > 0 GROUP BY 1),
         |ranked AS MATERIALIZED (SELECT rm.q_col, rm.c_dataset,
         |        coalesce(kth.kth, 1e-12) AS kth
         |      FROM rm LEFT JOIN kth USING (q_col)
         |      WHERE rm.c_dataset <> '$queryId'),
         |cids AS ($cidsExpr),
         |kq AS (SELECT DISTINCT q_col, kth FROM ranked),
         |edges AS (SELECT q.q_col, c.c_dataset, c.c_col,
         |        CAST(round(sqrt($sq64) * 1000000) AS BIGINT) / 1000000.0 AS dist
         |      FROM c JOIN cids USING (c_dataset) JOIN q USING (col_type)),
         |wm AS MATERIALIZED (SELECT e.q_col, e.c_dataset, e.c_col,
         |    CAST(round(round(exp(-0.01 * e.dist / kq.kth),6) * 1000000) AS BIGINT) AS wm
         |  FROM edges e JOIN kq USING (q_col))""".stripMargin
    }

    /** Max-weight bipartite matching per candidate by EXHAUSTIVE injective
      * assignment enumeration — exact because the query side is tiny (the 5
      * sketchable customer columns): each query column independently picks a
      * same-type candidate column or NULL, pairwise-distinct picks, max total
      * micro-weight. The maximum TOTAL is unique (integer weights) even when
      * the maximizing matching is not — which is why content_scores exposes
      * the score and not the matching. Terminates in `best (c_dataset, t)`
      * plus `nq (n)`.
      */
    private def matchingCtes(queryId: String = "customer",
                             selectedCols: Option[Seq[String]] = None,
                             microWeights: Map[String, Long] = Map.empty): String = {
      val cust = tables.find(_._1 == queryId).get
      // Only columns that can HAVE sketch rows enter the assignment product:
      // every fixture column is a sketchable type (Numeric/Temporal/
      // Categorical all sketch), but the enumeration grows as
      // ~(cands-per-type+1)^|qcols| — guard the width so a future wide query
      // table (lineitem: 16 cols) fails loudly here instead of silently
      // blowing up DuckDB's verification time. A column selection narrows
      // the product to the selected columns (the q CTE already filtered wm).
      val allCols = (cust._3 ++ cust._4 ++
        cust._2.filterNot(c => cust._3.contains(c) || cust._4.contains(c))).sorted
      val qcols = selectedCols.fold(allCols)(cs => allCols.filter(cs.contains))
      require(qcols.size <= 10,
        s"assignment enumeration over ${qcols.size} query columns would blow up " +
          s"the oracle — restrict the query's column selection ($queryId)")
      // non-uniform weights scale each query column's edge micros BEFORE the
      // argmax (they change the maximizing matching) — Matcher
      // .contentScoresExactWeighted's twin
      def wmExpr(qc: String): String = microWeights.get(qc) match {
        case Some(w) => s"wm * CAST($w AS BIGINT)"
        case None    => "wm"
      }
      val opts = qcols.zipWithIndex.map { case (qc, i) =>
        s"""o$i AS (SELECT c_dataset, c_col, ${wmExpr(qc)} AS wm FROM wm WHERE q_col = '$qc'
           |  UNION ALL SELECT c_dataset, CAST(NULL AS VARCHAR), CAST(0 AS BIGINT) FROM cids)""".stripMargin
      }
      val joins = (1 until qcols.size).map(i => s"JOIN o$i USING (c_dataset)").mkString("\n    ")
      val pairs = for { i <- qcols.indices; j <- qcols.indices if i < j } yield
        s"(o$i.c_col IS NULL OR o$j.c_col IS NULL OR o$i.c_col <> o$j.c_col)"
      val total = qcols.indices.map(i => s"o$i.wm").mkString(" + ")
      val where = if (pairs.isEmpty) "" else s"\n  WHERE ${pairs.mkString("\n    AND ")}"
      s"""${opts.mkString(",\n")},
         |asg AS (SELECT o0.c_dataset, $total AS total
         |  FROM o0
         |    $joins$where),
         |best AS (SELECT c_dataset, max(total) AS t FROM asg GROUP BY 1),
         |nq AS (SELECT count(*) AS n FROM sk WHERE dataset_id = '$queryId')""".stripMargin
    }

    /** DuckDB twin of the full content-score pipeline (Sketches.all →
      * DistanceJoin.knn → candidateEdges → Matcher.contentScoresExact).
      */
    lazy val contentScoresSql: String =
      s"""WITH ${edgesMicroCtes(None)},
         |${matchingCtes()}
         |SELECT best.c_dataset,
         |  CAST(best.t // nq.n AS DOUBLE) / 1000000.0 AS content_score
         |FROM best CROSS JOIN nq""".stripMargin

    /** DuckDB twin of CombinedScorer.search: content scores (micro-exact
      * matching) full-outer-joined with the three-field BM25 metadata scores
      * (same CTEs as [[bm25MultifieldSql]]), 0-filled, overall =
      * round(0.5*content + 0.5*metadata, 6), top-15.
      */
    def similaritySearchSqlFor(queryId: String): String = {
      val row = metaRows.find(_._1 == queryId).get
      s"""WITH meta_corpus AS (SELECT * FROM ${metaValues(Some(queryId))}),
         |${fieldScoreSql("title", termsOf(row._2), "ti", rounded = false)},
         |${fieldScoreSql("keywords", termsOf(row._3), "kw", rounded = false)},
         |${fieldScoreSql("description", termsOf(row._4), "de", rounded = false)},
         |u AS (SELECT doc_id, s * (1.0/3) AS raw, 'title' AS field FROM ti_score
         |      UNION ALL SELECT doc_id, s * (1.0/3), 'keywords' FROM kw_score
         |      UNION ALL SELECT doc_id, s * (1.0/3), 'description' FROM de_score),
         |j AS (SELECT doc_id, sum(raw) AS raw FROM u GROUP BY 1),
         |mx AS (SELECT max(raw) AS m FROM j),
         |meta_scores AS (SELECT doc_id AS c_dataset, round(raw / mx.m, 6) AS metadata_score
         |  FROM j CROSS JOIN mx),
         |${edgesMicroCtes(Some("SELECT c_dataset FROM meta_scores"), queryId)},
         |${matchingCtes(queryId)},
         |content AS (SELECT best.c_dataset,
         |    CAST(best.t // nq.n AS DOUBLE) / 1000000.0 AS content_score
         |  FROM best CROSS JOIN nq)
         |SELECT '$queryId' AS query_id, c_dataset,
         |  coalesce(content.content_score, 0.0) AS content_score,
         |  coalesce(meta_scores.metadata_score, 0.0) AS metadata_score,
         |  CAST((500000 * coalesce(CAST(round(content.content_score * 1000000) AS BIGINT), 0)
         |      + 500000 * coalesce(CAST(round(meta_scores.metadata_score * 1000000) AS BIGINT), 0))
         |    // 1000000 AS DOUBLE) / 1000000.0 AS overall_score
         |FROM content FULL OUTER JOIN meta_scores USING (c_dataset)
         |ORDER BY overall_score DESC, c_dataset ASC LIMIT 15""".stripMargin
    }

    lazy val similaritySearchSql: String = similaritySearchSqlFor("customer")

    /** DuckDB twin of Engine.search with NON-UNIFORM weights (the
      * ui/ui.py:305-312 request shape): a 3-column content selection at
      * micro-weights 500000/250000/250000, metadata field weights
      * 0.5/0.25/0.25, and a 0.75/0.25 content/metadata split. Weighted edges
      * multiply the micro-numerators before the assignment argmax
      * (Matcher.contentScoresExactWeighted), the content score is
      * `(total DIV 1e6)/1e6`, and the overall score uses the integer-micro
      * split of CombinedScorer.combineExact — every step truncating integer
      * division, no cross-engine rounding boundary anywhere.
      */
    lazy val similaritySearchWeightedSql: String = {
      val queryId = "customer"
      val row = metaRows.find(_._1 == queryId).get
      val cols = Seq("c_acctbal", "c_mktsegment", "c_name")
      val microW = Map("c_acctbal" -> 500000L, "c_mktsegment" -> 250000L,
        "c_name" -> 250000L)
      s"""WITH meta_corpus AS (SELECT * FROM ${metaValues(Some(queryId))}),
         |${fieldScoreSql("title", termsOf(row._2), "ti", rounded = false)},
         |${fieldScoreSql("keywords", termsOf(row._3), "kw", rounded = false)},
         |${fieldScoreSql("description", termsOf(row._4), "de", rounded = false)},
         |u AS (SELECT doc_id, s * 0.5 AS raw, 'title' AS field FROM ti_score
         |      UNION ALL SELECT doc_id, s * 0.25, 'keywords' FROM kw_score
         |      UNION ALL SELECT doc_id, s * 0.25, 'description' FROM de_score),
         |j AS (SELECT doc_id, sum(raw) AS raw FROM u GROUP BY 1),
         |mx AS (SELECT max(raw) AS m FROM j),
         |meta_scores AS (SELECT doc_id AS c_dataset, round(raw / mx.m, 6) AS metadata_score
         |  FROM j CROSS JOIN mx),
         |${edgesMicroCtes(Some("SELECT c_dataset FROM meta_scores"), queryId,
                           Some(cols))},
         |${matchingCtes(queryId, Some(cols), microW)},
         |content AS (SELECT best.c_dataset, best.t // 1000000 AS c_micro
         |  FROM best)
         |SELECT '$queryId' AS query_id, c_dataset,
         |  CAST(coalesce(content.c_micro, 0) AS DOUBLE) / 1000000.0 AS content_score,
         |  coalesce(meta_scores.metadata_score, 0.0) AS metadata_score,
         |  CAST((750000 * coalesce(content.c_micro, 0)
         |      + 250000 * coalesce(CAST(round(meta_scores.metadata_score * 1000000) AS BIGINT), 0))
         |    // 1000000 AS DOUBLE) / 1000000.0 AS overall_score
         |FROM content FULL OUTER JOIN meta_scores USING (c_dataset)
         |ORDER BY overall_score DESC, c_dataset ASC LIMIT 15""".stripMargin
    }

    val bm25Sql: String = {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
         |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1,2),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
         |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |dfreq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($terms) GROUP BY 1)
         |SELECT tf.doc_id, round(sum(
         |   ln(1.0 + (corpus.n_docs - dfreq.df + 0.5)/(dfreq.df + 0.5))
         |   * (tf.tf * (1.2 + 1.0))
         |   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / corpus.avgdl))
         | ),6) AS score
         |FROM tf
         |JOIN dfreq ON tf.term = dfreq.term
         |JOIN dl ON tf.doc_id = dl.doc_id
         |CROSS JOIN corpus
         |WHERE tf.term IN ($terms)
         |GROUP BY tf.doc_id
         |ORDER BY score DESC, tf.doc_id ASC LIMIT 100""".stripMargin
    }

    val jaccardSql: String =
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |  FROM documents WHERE doc_id < $DocBound),
         |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         |sz AS (SELECT doc_id, count(*) AS sz FROM t2 GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM t2 a JOIN t2 b USING (term) WHERE a.doc_id < b.doc_id GROUP BY 1,2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter),6) AS jac
         |FROM inter
         |JOIN sz sa ON inter.id_a = sa.doc_id
         |JOIN sz sb ON inter.id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.95""".stripMargin

    /** splitLeakage twin: jaccard pairs at 0.9 × the corpus_split hash
      * rule, rolled up on the unordered split pair.
      */
    val splitLeakageSql: String =
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |  FROM documents WHERE doc_id < $DocBound),
         |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         |sz AS (SELECT doc_id, count(*) AS sz FROM t2 GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM t2 a JOIN t2 b USING (term) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM inter
         |  JOIN sz sa ON inter.id_a = sa.doc_id
         |  JOIN sz sb ON inter.id_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.9),
         |sp AS (SELECT doc_id,
         |    CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 80
         |      THEN 'train'
         |    WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 90
         |      THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM documents WHERE doc_id < $DocBound)
         |SELECT least(a.split, b.split) AS split_a,
         |  greatest(a.split, b.split) AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(CASE WHEN least(a.split, b.split) = greatest(a.split, b.split)
         |    THEN 0 ELSE count(*) END AS BIGINT) AS n_leaking
         |FROM pairs
         |JOIN sp a ON pairs.id_a = a.doc_id
         |JOIN sp b ON pairs.id_b = b.doc_id
         |GROUP BY 1, 2""".stripMargin

    /** DuckDB twin of CorpusOps.dedupClusters: the SAME jaccard pair set
      * (nested as a CTE), connected components via recursive-CTE
      * reachability — min reachable doc_id ≡ the min-label fixpoint Spark
      * converges to.
      */
    val clustersSql: String =
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < $DocBound
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, min(lbl) AS cluster_id,
         |  CAST(CASE WHEN min(lbl) = id THEN 1 ELSE 0 END AS BIGINT) AS is_rep
         |FROM reach GROUP BY id""".stripMargin

    /** DuckDB twin of CorpusOps.dedupRepresentatives: [[clustersSql]]'s
      * reachability clusters joined with text_stats' quality expression,
      * canonical member via the same (quality DESC, doc_id ASC) window.
      */
    val canonicalSql: String =
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < $DocBound
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY id),
         |q AS (SELECT doc_id,
         |  CASE WHEN length(text) > 0 THEN
         |    round(least(CAST(len(list_filter(string_split(lower(text), ' '),
         |        t -> t <> '')) AS DOUBLE)/100.0, 1.0)
         |      * (1.0 - least(CAST(length(regexp_replace(lower(text),
         |          '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 1.0)), 6)
         |  ELSE NULL END AS quality
         |  FROM documents WHERE doc_id < $DocBound)
         |SELECT doc_id, cluster_id, quality,
         |  CAST(CASE WHEN row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY quality DESC NULLS LAST, doc_id ASC) = 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM cl JOIN q USING (doc_id)""".stripMargin

    /** DuckDB twin of EmbeddingKnn.hardNegatives: brute-force cosine top-20
      * overfetch, near-dup cluster labels via the same recursive reachability
      * as [[clustersSql]], cluster-mate exclusion, dense re-rank to top-5.
      */
    lazy val hardNegativesSql: String =
      s"""WITH RECURSIVE pairs AS ($jaccardSql),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id < $DocBound
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
         |labels AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |q AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id IN ($knnIds)),
         |s AS (SELECT q_id, e.vec_id AS c_id,
         |    round(list_cosine_similarity(q_vec, e.vec),6) AS sim
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
         |r20 AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS rk0 FROM s),
         |f AS (SELECT c.q_id, c.c_id, c.sim FROM r20 c
         |  LEFT JOIN labels lq ON lq.doc_id = c.q_id
         |  LEFT JOIN labels lc ON lc.doc_id = c.c_id
         |  WHERE c.rk0 <= 20 AND (lq.cluster_id IS NULL OR lc.cluster_id IS NULL
         |    OR lq.cluster_id <> lc.cluster_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS rank FROM f)
         |SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 5""".stripMargin

    /** DuckDB twin of CorpusOps.decontaminate: w=5 word grams, benchmark =
      * doc_id % 97 == 0 carved from the same table.
      */
    val decontaminateSql: String =
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
        |  FROM t CROSS JOIN unnest(range(1, len(toks) - 5 + 2)) AS u(i)
        |  WHERE len(toks) >= 5),
        |ov AS (SELECT doc_id, count(*) AS n_overlap
        |  FROM g JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0) b
        |    USING (gram)
        |  WHERE doc_id % 97 <> 0 GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(CASE WHEN coalesce(ov.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS contaminated
        |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
        |WHERE d.doc_id % 97 <> 0""".stripMargin

    /** DuckDB twin of CorpusOps.repetitionMetrics: dup-word ratio + top
      * 2/3-gram char fractions, count ties broken by gram asc.
      */
    val repMetricsSql: String = {
      def top(n: Int): String =
        s"""(SELECT doc_id, cnt * length(gram) AS chars FROM (
           |  SELECT doc_id, gram, count(*) AS cnt,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY count(*) DESC, gram ASC) AS rn
           |  FROM (SELECT doc_id,
           |      array_to_string(list_slice(toks, i, i + ${n - 1}), ' ') AS gram
           |    FROM t CROSS JOIN unnest(range(1, len(toks) - $n + 2)) AS u(i)
           |    WHERE len(toks) >= $n)
           |  GROUP BY doc_id, gram) WHERE rn = 1)""".stripMargin
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         |  FROM documents),
         |top2 AS ${top(2)},
         |top3 AS ${top(3)}
         |SELECT t.doc_id,
         |  CASE WHEN len(toks) > 0 THEN
         |    round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
         |  ELSE 0.0 END AS dup_word_ratio,
         |  CASE WHEN n_chars > 0 THEN
         |    round(CAST(coalesce(top2.chars, 0) AS DOUBLE) / n_chars, 6)
         |  ELSE 0.0 END AS top2_frac,
         |  CASE WHEN n_chars > 0 THEN
         |    round(CAST(coalesce(top3.chars, 0) AS DOUBLE) / n_chars, 6)
         |  ELSE 0.0 END AS top3_frac
         |FROM t LEFT JOIN top2 ON t.doc_id = top2.doc_id
         |LEFT JOIN top3 ON t.doc_id = top3.doc_id""".stripMargin
    }

    /** DuckDB twin of TextScrub.scrub over the same PII-injected text. The
      * regexes live in TextScrub (common Java-regex/RE2 subset); the
      * injected text expression mirrors the Spark side token for token.
      */
    val piiScrubSql: String = {
      import graft.extra.TextScrub.{EmailRe, Ipv4Re, UrlRe}
      s"""WITH d AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com visit https://site' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.org or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.1 done' AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$UrlRe')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(t, '$UrlRe', '<URL>', 'g'), '$EmailRe')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(
         |      regexp_replace(t, '$UrlRe', '<URL>', 'g'),
         |      '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$UrlRe', '<URL>', 'g'), '$EmailRe', '<EMAIL>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g')) AS scrubbed_hash
         |FROM d""".stripMargin
    }

    /** DuckDB twin of EmbeddingKnn.int8Rerank: same quantization, integer
      * dot-product approximate ranking (overfetch 4×), exact-cosine rerank.
      */
    val knnInt8Sql: String = {
      val ids = KnnQueryIds.mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |s AS (SELECT vec_id, vec,
         |    greatest(list_max(list_transform(vec, x -> abs(x))) / 127.0, 1e-12)
         |      AS scale FROM e),
         |q AS (SELECT vec_id, vec, scale,
         |    list_transform(vec, x ->
         |      CAST(least(greatest(round(x / scale), -127.0), 127.0) AS INTEGER))
         |      AS qv FROM s),
         |n AS (SELECT *, greatest(sqrt(CAST(list_sum(list_transform(qv,
         |      x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) * scale, 1e-12)
         |      AS qnorm FROM q),
         |cand AS (SELECT qy.vec_id AS q_id, c.vec_id AS c_id,
         |    qy.vec AS q_vec, c.vec AS c_vec,
         |    round(qy.scale * c.scale * list_sum(list_transform(
         |        range(1, len(qy.qv) + 1),
         |        i -> CAST(qy.qv[i] AS BIGINT) * c.qv[i]))
         |      / (qy.qnorm * c.qnorm), 6) AS approx
         |  FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id IN ($ids)) qy
         |  WHERE c.vec_id <> qy.vec_id),
         |top AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY approx DESC, c_id ASC) AS arank FROM cand)
         |SELECT q_id, c_id, sim, rank FROM (
         |  SELECT q_id, c_id,
         |    round(list_cosine_similarity(q_vec, c_vec), 6) AS sim,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY round(list_cosine_similarity(q_vec, c_vec), 6) DESC,
         |        c_id ASC) AS BIGINT) AS rank
         |  FROM top WHERE arank <= 20)
         |WHERE rank <= 5""".stripMargin
    }

    /** DuckDB twin of Quantize.audit: identical symmetric int8 arithmetic —
      * the integer checksums q_sum/q_sumsq verify every quantized code
      * exactly across engines.
      */
    val quantizeAuditSql: String =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |s AS (SELECT vec_id, vec,
        |    greatest(list_max(list_transform(vec, x -> abs(x))) / 127.0, 1e-12)
        |      AS scale FROM e),
        |q AS (SELECT vec_id, vec, scale,
        |    list_transform(vec, x ->
        |      CAST(least(greatest(round(x / scale), -127.0), 127.0) AS INTEGER))
        |      AS qv FROM s)
        |SELECT vec_id, round(scale, 9) AS scale_r,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT) * x)) AS BIGINT)
        |    AS q_sumsq,
        |  round(list_max(list_transform(range(1, len(vec) + 1),
        |    i -> abs(vec[i] - qv[i] * scale))), 9) AS max_err_r,
        |  round(list_cosine_similarity(vec,
        |    list_transform(qv, x -> CAST(x AS DOUBLE) * scale)), 6) AS cos_r
        |FROM q""".stripMargin

    /** DuckDB twin of Dedup.shinglePairs (the prefix filter is lossless, so
      * the oracle can verify ALL shingle-sharing pairs): w=3 word shingles,
      * jac >= 0.8.
      */
    val shingleSql: String =
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         |  FROM documents WHERE doc_id < $DocBound),
         |sh AS (SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(toks, i, i + 2), ' ') AS term
         |  FROM t CROSS JOIN unnest(range(1, len(toks) - 3 + 2)) AS u(i)
         |  WHERE len(toks) >= 3),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b USING (term) WHERE a.doc_id < b.doc_id GROUP BY 1,2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter),6) AS jac
         |FROM inter
         |JOIN sz sa ON inter.id_a = sa.doc_id
         |JOIN sz sb ON inter.id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.8""".stripMargin

    /** DuckDB twin of Dedup.minhashLshPairs: same md5-derived token hashes,
      * the SAME permutation constants (Dedup.permTable), band bucketing on
      * the lexicographically-sorted "perm:minhash" aggregate (Spark
      * sort_array on strings ≡ string_agg ORDER BY the same string), and the
      * exact-Jaccard verify restricted to band candidates.
      */
    val minhashSql: String = {
      val permRows = Dedup.permTable(32)
        .map { case (i, a, b) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |  FROM documents WHERE doc_id < $DocBound),
         |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         |th AS (SELECT doc_id, ('0x' || substring(md5(term),1,8))::BIGINT AS h FROM t2),
         |perms AS (SELECT * FROM (VALUES $permRows) AS p(perm, a, b)),
         |sigs AS (SELECT doc_id, perm, min((a * h + b) % ${Dedup.minhashPrime}) AS minhash
         |  FROM th CROSS JOIN perms GROUP BY 1,2),
         |bands AS (SELECT doc_id, perm // 4 AS band,
         |    string_agg(perm || ':' || minhash, ',' ORDER BY perm || ':' || minhash) AS band_sig
         |  FROM sigs GROUP BY 1,2),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band, band_sig) WHERE a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS sz FROM t2 GROUP BY 1),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |  FROM cand c
         |  JOIN t2 a ON a.doc_id = c.id_a
         |  JOIN t2 b ON b.doc_id = c.id_b AND b.term = a.term
         |  GROUP BY 1,2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter),6) AS jac
         |FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.95""".stripMargin
    }

    /** DuckDB twin of Dedup.minhashIncremental: same md5-bucket 80/20
      * corpus/batch split as the registered query, same perm table and
      * band signatures as [[minhashSql]], but candidates come from the
      * batch × corpus band join only; verdict = left join of the batch
      * onto its best corpus match (max jac, tie smallest corpus id).
      */
    val dedupIncrementalSql: String = {
      val permRows = Dedup.permTable(32)
        .map { case (i, a, b) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH d0 AS (SELECT doc_id, text,
         |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS bkt
         |  FROM documents WHERE doc_id < $DocBound),
         |corp AS (SELECT doc_id FROM d0 WHERE bkt < 80),
         |bat AS (SELECT doc_id FROM d0 WHERE bkt >= 80),
         |toks AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |  FROM d0),
         |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
         |th AS (SELECT doc_id, ('0x' || substring(md5(term),1,8))::BIGINT AS h FROM t2),
         |perms AS (SELECT * FROM (VALUES $permRows) AS p(perm, a, b)),
         |sigs AS (SELECT doc_id, perm, min((a * h + b) % ${Dedup.minhashPrime}) AS minhash
         |  FROM th CROSS JOIN perms GROUP BY 1,2),
         |bands AS (SELECT doc_id, perm // 4 AS band,
         |    string_agg(perm || ':' || minhash, ',' ORDER BY perm || ':' || minhash) AS band_sig
         |  FROM sigs GROUP BY 1,2),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bat ON bat.doc_id = a.doc_id
         |  JOIN bands b USING (band, band_sig)
         |  JOIN corp ON corp.doc_id = b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS sz FROM t2 GROUP BY 1),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |  FROM cand c
         |  JOIN t2 a ON a.doc_id = c.id_a
         |  JOIN t2 b ON b.doc_id = c.id_b AND b.term = a.term
         |  GROUP BY 1,2),
         |pairs AS (SELECT id_a, id_b,
         |    round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter),6) AS jac
         |  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter) >= 0.9),
         |best AS (SELECT id_a, id_b, jac FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id_a
         |      ORDER BY jac DESC, id_b ASC) AS rn FROM pairs) z
         |  WHERE rn = 1)
         |SELECT bat.doc_id,
         |  CAST(CASE WHEN best.id_a IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |  best.id_b AS dup_of, best.jac
         |FROM bat LEFT JOIN best ON best.id_a = bat.doc_id""".stripMargin
    }

    /** DuckDB twin of GraphOps.pagerankNano over the minhash near-dup pair
      * graph: the 10 iterations unroll as CTE pairs (contribution aggregate,
      * damping step), all in 64-bit integer arithmetic — `//` here and `DIV`
      * in Spark are the same floor division on positive BIGINTs, so every
      * iteration matches bit for bit.
      */
    lazy val docPagerankSql: String = {
      val iters = 10
      val iterCtes = (1 to iters).map { k =>
        s"""c$k AS (SELECT u.dst AS id, sum(p.pr // d.outdeg) AS acc
           |  FROM und u JOIN pr${k - 1} p ON p.id = u.src JOIN deg d ON d.id = u.src
           |  GROUP BY 1),
           |pr$k AS (SELECT nodes.id,
           |    CAST((150000000 // n1.n) + (85 * coalesce(c$k.acc, 0)) // 100 AS BIGINT) AS pr
           |  FROM nodes LEFT JOIN c$k USING (id) CROSS JOIN n1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS ($minhashSql),
         |und AS (SELECT DISTINCT src, dst FROM (
         |    SELECT id_a AS src, id_b AS dst FROM pairs
         |    UNION ALL SELECT id_b, id_a FROM pairs) z),
         |nodes AS (SELECT DISTINCT src AS id FROM und),
         |deg AS (SELECT src AS id, count(*) AS outdeg FROM und GROUP BY 1),
         |n1 AS (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT id, CAST(1000000000 // n AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN n1),
         |$iterCtes
         |SELECT id AS doc_id, pr FROM pr$iters""".stripMargin
    }

    /** DuckDB twin of Dedup.simhashPairs: the 60-bit fingerprint is built as
      * an integer (bit i ⟺ Spark's string char 60-i), band b's 15-char slice
      * equals bits (3-b)*15+14..(3-b)*15, hamming via bit_count(xor).
      */
    val simhashSql: String =
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |    FROM documents WHERE doc_id < $DocBound) z
         |  WHERE term <> '' GROUP BY 1,2),
         |th AS (SELECT doc_id, tf, ('0x' || substring(md5(term),1,15))::BIGINT AS h FROM tf),
         |votes AS (SELECT doc_id, bit_pos,
         |    sum(CASE WHEN ((h >> bit_pos) & 1) = 1 THEN tf ELSE -tf END) AS v
         |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS bit_pos) b GROUP BY 1,2),
         |f AS (SELECT doc_id,
         |    sum(CASE WHEN v > 0 THEN (1::BIGINT << bit_pos) ELSE 0::BIGINT END) AS fp
         |  FROM votes GROUP BY 1),
         |bands AS (SELECT doc_id, fp, b AS band, (fp >> ((3 - b) * 15)) & 32767 AS slice
         |  FROM f CROSS JOIN (SELECT unnest(range(4)) AS b) t),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.fp AS fa, b.fp AS fb
         |  FROM bands a JOIN bands b USING (band, slice) WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= 3""".stripMargin

    private val knnIds = KnnQueryIds.mkString(", ")

    val knnCosineSql: String =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |q AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id IN ($knnIds)),
         |s AS (SELECT q_id, vec_id AS c_id,
         |        round(list_cosine_similarity(q_vec, vec),6) AS sim
         |      FROM e CROSS JOIN q WHERE vec_id <> q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, c_id ASC) AS rank FROM s)
         |SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 5""".stripMargin

    /** DuckDB twin of EmbeddingKnn.labelTransfer: brute-force cosine kNN
      * restricted to the labeled pool, then the majority vote with the
      * same (votes DESC, label ASC) tie-break.
      */
    val labelTransferSql: String =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label FROM embeddings),
         |q AS (SELECT vec_id AS q_id, vec AS q_vec FROM e WHERE vec_id IN ($knnIds)),
         |p AS (SELECT vec_id AS c_id, vec AS c_vec, label FROM e
         |      WHERE vec_id NOT IN ($knnIds) AND label IS NOT NULL),
         |s AS (SELECT q_id, c_id, label,
         |        round(list_cosine_similarity(q_vec, c_vec),6) AS sim
         |      FROM p CROSS JOIN q),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, c_id ASC) AS rank FROM s),
         |v AS (SELECT q_id, label, count(*) AS votes FROM r
         |      WHERE rank <= 5 GROUP BY 1, 2)
         |SELECT q_id, label AS pred_label, votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY votes DESC, label ASC) AS rk FROM v) z
         |WHERE rk = 1""".stripMargin

    /** DuckDB twin of EmbeddingKnn.bitextMarginTail, parameterized by the
      * candidate-matrix CTE so the exact (A×B) and bucketed (sign-LSH
      * equi-join) variants share one margin chain — mirroring the Scala
      * side's shared tail: both direction top-k neighborhood SUMS, the
      * ratio margin as a truncating positive integer division (`//` ≡
      * Spark `DIV`), forward best-by-margin with the same tie-break.
      */
    private def bitextSqlFrom(candSql: String): String =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label
         |      FROM embeddings),
         |a AS (SELECT vec_id AS a_id, vec AS a_vec FROM e WHERE label % 2 = 0),
         |b AS (SELECT vec_id AS b_id, vec AS b_vec FROM e WHERE label % 2 = 1),
         |bl AS (SELECT LEAST(12, GREATEST(3, length(bin(GREATEST(
         |    (SELECT count(*) FROM a), (SELECT count(*) FROM b)))) - 1 - 5))
         |  AS L),
         |s AS ($candSql),
         |r AS (SELECT *,
         |    row_number() OVER (PARTITION BY a_id
         |      ORDER BY cos_micro DESC, b_id ASC) AS rf,
         |    row_number() OVER (PARTITION BY b_id
         |      ORDER BY cos_micro DESC, a_id ASC) AS rb
         |  FROM s),
         |f AS (SELECT a_id, CAST(sum(cos_micro) AS BIGINT) AS fwd_sum
         |  FROM r WHERE rf <= 4 GROUP BY 1),
         |g AS (SELECT b_id, CAST(sum(cos_micro) AS BIGINT) AS bwd_sum
         |  FROM r WHERE rb <= 4 GROUP BY 1),
         |m AS (SELECT r.a_id, r.b_id, r.cos_micro,
         |    (r.cos_micro * 8 * 1000000) // (fwd_sum + bwd_sum) AS margin_ppm
         |  FROM r JOIN f USING (a_id) JOIN g USING (b_id)
         |  WHERE rf <= 4 AND cos_micro > 0 AND fwd_sum + bwd_sum > 0),
         |z AS (SELECT *, row_number() OVER (PARTITION BY a_id
         |    ORDER BY margin_ppm DESC, b_id ASC) AS rk FROM m)
         |SELECT a_id, b_id, cos_micro, margin_ppm FROM z
         |WHERE rk = 1 AND margin_ppm >= 1000000""".stripMargin

    val bitextMineSql: String = bitextSqlFrom(
      """SELECT a_id, b_id,
        |    CAST(round(list_cosine_similarity(a_vec, b_vec) * 1000000, 0)
        |      AS BIGINT) AS cos_micro
        |  FROM a CROSS JOIN b""".stripMargin)

    /** DuckDB twin of EmbeddingKnn.bitextMineLsh: identical multi-table
      * sign buckets (stride-3 anchors extended to the 12-dim max width),
      * the identical adaptive prefix length derived from the pool counts
      * (length(bin(n)) - 1 ≡ floor(log2 n), exact integer arithmetic on
      * both engines), candidates = distinct pairs sharing any
      * (table, bucket-prefix).
      */
    val bitextMineLshSql: String = {
      def branches(side: String, id: String, v: String) =
        (0 until 12).map { t =>
          val dims = t * 3 + 1 to t * 3 + 12
          val bucket = dims.map(i =>
            s"CASE WHEN $v[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
          s"SELECT $id, $t AS tbl, substring($bucket, 1, (SELECT L FROM bl)) AS bucket FROM $side"
        }.mkString("\n    UNION ALL ")
      bitextSqlFrom(
        s"""SELECT cand.a_id, cand.b_id,
           |    CAST(round(list_cosine_similarity(a_vec, b_vec) * 1000000, 0)
           |      AS BIGINT) AS cos_micro
           |  FROM (SELECT DISTINCT ka.a_id, kb.b_id
           |    FROM (${branches("a", "a_id", "a_vec")}) ka
           |    JOIN (${branches("b", "b_id", "b_vec")}) kb
           |      ON ka.tbl = kb.tbl AND ka.bucket = kb.bucket) cand
           |  JOIN a USING (a_id) JOIN b USING (b_id)""".stripMargin)
    }

    /** DuckDB twin of EmbeddingKnn.bitextRecall: mined-pair hit count of
      * the bucketed run against the exact run, one summary row.
      */
    val bitextRecallSql: String =
      s"""WITH ex AS (SELECT a_id, b_id FROM ($bitextMineSql)),
         |ap AS (SELECT a_id, b_id FROM ($bitextMineLshSql)),
         |na AS (SELECT count(*) AS n_approx FROM ap)
         |SELECT count(*) AS n_exact, n_approx,
         |  CAST(sum(CASE WHEN ap.b_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
         |  CAST((sum(CASE WHEN ap.b_id IS NULL THEN 0 ELSE 1 END) * 1000000)
         |    // count(*) AS DOUBLE) / 1e6 AS recall
         |FROM ex LEFT JOIN ap ON ap.a_id = ex.a_id AND ap.b_id = ex.b_id
         |CROSS JOIN na GROUP BY n_approx""".stripMargin

    /** DuckDB twin of EmbeddingKnn.ivfSeeded: same md5-sampled centroids,
      * argmin cell assignment (explicit left-assoc squared-diff chain ≡
      * VectorOps.euclid's sequential accumulation), nprobe=4 probe join,
      * exact-cosine top-k.
      */
    /** DuckDB twin of EmbeddingKnn.domainStats: same md5-seeded centroids
      * and argmin assignment as knnIvfSql, then the per-cell report with
      * truncating integer-micro divisions (`//` here, `DIV` in Spark).
      */
    /** Shared CTE chain of the seeded-IVF oracles (corpus_domains,
      * semantic_dedup): md5-sampled centroids, explicit left-assoc
      * squared-diff euclid, argmin cell ownership. Ends with `own`.
      */
    val ivfOwnCtes: String = {
      val sq = (1 to 64).map(i => s"(e.vec[$i]-c.cvec[$i])*(e.vec[$i]-c.cvec[$i])")
        .mkString(" + ")
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |cent AS (SELECT vec_id AS cell_id, vec AS cvec FROM e
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |ad AS (SELECT e.vec_id, c.cell_id, round(sqrt($sq), 6) AS cdist
         |      FROM e CROSS JOIN cent c),
         |own AS (SELECT vec_id, cell_id, cdist FROM (
         |      SELECT *, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cdist ASC, cell_id ASC) AS rn FROM ad) z
         |      WHERE rn = 1)""".stripMargin
    }

    val corpusDomainsSql: String =
      s"""WITH $ivfOwnCtes,
         |per AS (SELECT cell_id, count(*) AS n_vecs,
         |      sum(CAST(round(cdist * 1e6) AS BIGINT)) AS micros
         |    FROM own GROUP BY 1),
         |tot AS (SELECT sum(n_vecs) AS total FROM per)
         |SELECT cell_id, n_vecs,
         |  CAST(n_vecs * 1000000 // total AS DOUBLE) / 1e6 AS share,
         |  CAST(micros // n_vecs AS DOUBLE) / 1e6 AS mean_cdist
         |FROM per CROSS JOIN tot""".stripMargin

    /** The seeded-IVF chain with semanticDedup's COUNT-DERIVED cell
      * budget: nlist = clamp(n DIV 64, 16, 256) — the identical integer
      * arithmetic as the Spark side, so cells (and the kept set) agree
      * at any SF while mean occupancy stays near the target. Centroids
      * are the md5-order-first 256 ids ranked once and sliced to nlist.
      */
    val ivfOwnCtesAdaptive: String = {
      val sq = (1 to 64).map(i => s"(e.vec[$i]-c.cvec[$i])*(e.vec[$i]-c.cvec[$i])")
        .mkString(" + ")
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |nl AS (SELECT LEAST(256, GREATEST(16, count(*) // 64)) AS nlist FROM e),
         |cent AS (SELECT cell_id, cvec FROM (
         |      SELECT vec_id AS cell_id, vec AS cvec,
         |        row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |          vec_id) AS rk
         |      FROM e) z
         |      WHERE rk <= (SELECT nlist FROM nl)),
         |ad AS (SELECT e.vec_id, c.cell_id, round(sqrt($sq), 6) AS cdist
         |      FROM e CROSS JOIN cent c),
         |own AS (SELECT vec_id, cell_id, cdist FROM (
         |      SELECT *, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cdist ASC, cell_id ASC) AS rn FROM ad) z
         |      WHERE rn = 1)""".stripMargin
    }

    /** DuckDB twin of EmbeddingKnn.semanticDedup: same count-derived
      * cells, cell-local smaller-id pairs at/above the rounded-cosine
      * bar, keep = no such pair exists.
      */
    val semanticDedupSql: String =
      s"""WITH $ivfOwnCtesAdaptive,
         |dup AS (SELECT a.vec_id,
         |      max(round(list_cosine_similarity(va.vec, vb.vec), 6)) AS max_prior_sim
         |    FROM own a JOIN own b ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
         |    JOIN e va ON va.vec_id = a.vec_id
         |    JOIN e vb ON vb.vec_id = b.vec_id
         |    WHERE round(list_cosine_similarity(va.vec, vb.vec), 6) >= 0.5
         |    GROUP BY 1)
         |SELECT o.vec_id, o.cell_id,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |  d.max_prior_sim
         |FROM own o LEFT JOIN dup d USING (vec_id)""".stripMargin

    /** Shared CTE chain of the k-means oracles (embed_kmeans, kmeans_cells):
      * DuckDB twin of extra/Clustering.kmeansAssign — micro-quantized
      * vectors, md5-seeded init numbered 1..8, three unrolled Lloyd
      * iterations. All-integer: d2 is an exact Σ(Δmicros)² (BIGINT), the
      * centroid mean is a sign-split truncating `//` (DuckDB floors, Spark
      * DIV truncates — same dsirLrExpr trick), so argmin/means carry no
      * fp boundary. Ends with `af`, the assignment against the final
      * centroids.
      */
    val kmeansCtes: String = {
      val k = 8; val iters = 3
      val d2 = (1 to 64).map(i => s"(e.vm[$i]-c.cv[$i])*(e.vm[$i]-c.cv[$i])")
        .mkString(" + ")
      val meanList = (1 to 64).map(i =>
        s"CAST(CASE WHEN sum(vm[$i]) >= 0 THEN sum(vm[$i]) // count(*) " +
          s"ELSE -((-sum(vm[$i])) // count(*)) END AS BIGINT)").mkString(", ")
      def assignCte(name: String, cent: String) =
        s"""$name AS (SELECT vec_id, cluster, d2, vm FROM (
           |    SELECT x.*, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY d2 ASC, cluster ASC) AS rn FROM (
           |      SELECT e.vec_id, c.cluster, $d2 AS d2, e.vm
           |      FROM e CROSS JOIN $cent c) x) z WHERE rn = 1)""".stripMargin
      def updateCte(name: String, asg: String) =
        s"$name AS (SELECT cluster, [$meanList] AS cv FROM $asg GROUP BY cluster)"
      val steps = (1 to iters).flatMap(t =>
        Seq(assignCte(s"a$t", s"c${t - 1}"), updateCte(s"c$t", s"a$t")))
      (Seq(
        """e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
          |    x -> CAST(round(x*1000000) AS BIGINT)) AS vm FROM embeddings)""".stripMargin,
        s"""c0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
           |    vec_id) AS cluster, vm AS cv FROM (SELECT * FROM e
           |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k) z)""".stripMargin) ++
        steps :+ assignCte("af", s"c$iters")).mkString(",\n")
    }

    val embedKmeansSql: String =
      s"WITH $kmeansCtes\n" +
        "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d2 FROM af"

    /** DuckDB twin of Clustering.clusterSample: √size integer-micro quotas
      * over the same kmeansCtes fit, farthest-first (d2 DESC) within a cell.
      * `//` on the all-positive quota operands matches Spark's DIV.
      */
    val clusterSampleSql: String =
      s"""WITH $kmeansCtes,
         |sizes AS (SELECT cluster, count(*) AS n_vecs,
         |    CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS w
         |  FROM af GROUP BY 1),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM sizes),
         |q AS (SELECT cluster, CAST((100 * w) // tot AS BIGINT) AS quota
         |  FROM sizes CROSS JOIN tot),
         |r AS (SELECT af.vec_id, CAST(af.cluster AS BIGINT) AS cluster,
         |    af.d2, q.quota,
         |    CAST(row_number() OVER (PARTITION BY af.cluster
         |      ORDER BY af.d2 DESC, af.vec_id ASC) AS BIGINT) AS rk
         |  FROM af JOIN q USING (cluster))
         |SELECT vec_id, cluster, d2, quota, rk FROM r WHERE rk <= quota""".stripMargin

    /** DuckDB twin of Pca.covariance: micro-quantized vectors, exact
      * integer upper-triangle moments (DuckDB sums land in HUGEINT; the raw
      * moment stays internal on both engines — exported as BIGINT it would
      * wrap at the corpus sizes the exact sums exist for), the ONE pinned
      * double expression at the end. Dimension count hardcoded at 64 like
      * the kmeans CTEs.
      */
    val embedCovSql: String =
      """WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x*1000000) AS BIGINT)) AS vm FROM embeddings),
        |n AS (SELECT count(*) AS n FROM e),
        |idx AS (SELECT unnest(range(0, 64)) AS i),
        |sums AS (SELECT i.i AS i, sum(vm[i.i + 1]) AS sm
        |  FROM e CROSS JOIN idx i GROUP BY 1),
        |pairs AS (SELECT i.i AS i, j.i AS j,
        |    sum(vm[i.i + 1] * vm[j.i + 1]) AS s
        |  FROM e CROSS JOIN idx i CROSS JOIN idx j
        |  WHERE j.i >= i.i GROUP BY 1, 2)
        |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
        |  round((CAST(p.s AS DOUBLE) / n
        |      - (CAST(si.sm AS DOUBLE) / n) * (CAST(sj.sm AS DOUBLE) / n))
        |    / 1000000000000.0, 9) AS cov
        |FROM pairs p JOIN sums si ON si.i = p.i JOIN sums sj ON sj.i = p.j
        |CROSS JOIN n""".stripMargin

    /** Shared CTE chain of the NB quality-classifier oracles (nb_model,
      * nb_quality, nb_eval): DuckDB twin of extra/Classifier — per-doc
      * (y, term, tf), per-term class counts, 6-decimal-pinned add-1
      * log-odds. Sums CAST to BIGINT (DuckDB sums to HUGEINT).
      */
    val nbCtes: String =
      """lab AS (SELECT doc_id,
        |    CASE WHEN source IN ('src1','src2','src3') THEN 1 ELSE 0 END AS y,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |tfc AS (SELECT doc_id, y, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, y, unnest(ts) AS term FROM lab) u
        |  GROUP BY 1, 2, 3),
        |byterm AS (SELECT term,
        |    CAST(sum(CASE WHEN y = 1 THEN tf ELSE 0 END) AS BIGINT) AS c_pos,
        |    CAST(sum(CASE WHEN y = 0 THEN tf ELSE 0 END) AS BIGINT) AS c_neg
        |  FROM tfc GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
        |    CAST(sum(c_neg) AS BIGINT) AS n_neg,
        |    CAST(count(*) AS BIGINT) AS v FROM byterm),
        |model AS (SELECT term, c_pos, c_neg,
        |    round(round(ln((c_pos + 1) / CAST(n_pos + v AS DOUBLE)), 6)
        |        - round(ln((c_neg + 1) / CAST(n_neg + v AS DOUBLE)), 6), 6) AS lodds
        |  FROM byterm CROSS JOIN tot)""".stripMargin

    val nbModelSql: String =
      s"WITH $nbCtes\nSELECT term, c_pos, c_neg, lodds FROM model"

    /** nb_quality tail: integer-micro per-doc Σ tf·lodds + add-1 doc prior. */
    val nbScoreTail: String =
      """prior AS (SELECT CAST(round((
        |      round(ln((d_pos + 1) / CAST(d_pos + d_neg + 2 AS DOUBLE)), 6)
        |    - round(ln((d_neg + 1) / CAST(d_pos + d_neg + 2 AS DOUBLE)), 6))
        |    * 1000000) AS BIGINT) AS prior_micro
        |  FROM (SELECT CAST(sum(y) AS BIGINT) AS d_pos,
        |      CAST(sum(1 - y) AS BIGINT) AS d_neg FROM lab)),
        |perdoc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
        |    CAST(sum(CAST(round(tf * lodds * 1000000) AS BIGINT)) AS BIGINT) AS lo_micro
        |  FROM tfc JOIN model USING (term) GROUP BY 1),
        |scored AS (SELECT l.doc_id, CAST(l.y AS BIGINT) AS label,
        |    coalesce(p.n_toks, 0) AS n_toks,
        |    (coalesce(p.lo_micro, 0) + prior_micro) / 1000000.0 AS nb_score,
        |    CAST(CASE WHEN coalesce(p.lo_micro, 0) + prior_micro > 0
        |      THEN 1 ELSE 0 END AS BIGINT) AS pred_hq
        |  FROM lab l LEFT JOIN perdoc p USING (doc_id) CROSS JOIN prior)""".stripMargin

    val nbQualitySql: String =
      s"WITH $nbCtes,\n$nbScoreTail\n" +
        "SELECT doc_id, label, n_toks, nb_score, pred_hq FROM scored"

    /** All-integer range binning over scored micros; `//` equals DIV here
      * because (sm − mn) and the bin width are non-negative.
      */
    val nbCalibrationSql: String =
      s"""WITH $nbCtes,
         |$nbScoreTail,
         |sm AS (SELECT doc_id, label,
         |    CAST(round(nb_score * 1000000) AS BIGINT) AS sm FROM scored),
         |rg AS (SELECT CAST(min(sm) AS BIGINT) AS mn,
         |    CAST(max(sm) AS BIGINT) AS mx FROM sm)
         |SELECT CAST(((sm - mn) * 10) // (mx - mn + 1) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(label) AS BIGINT) AS n_pos,
         |  CAST(min(sm) AS DOUBLE) / 1000000.0 AS score_lo,
         |  CAST(max(sm) AS DOUBLE) / 1000000.0 AS score_hi,
         |  CAST((sum(label) * 1000000) // count(*) AS BIGINT) AS pos_rate_ppm
         |FROM sm CROSS JOIN rg
         |GROUP BY 1""".stripMargin

    val nbEvalSql: String =
      s"""WITH $nbCtes,
         |$nbScoreTail
         |SELECT tp, fp, fn, tn,
         |  CAST(((tp + tn) * 1000000) // (tp + fp + fn + tn) AS DOUBLE)
         |    / 1000000.0 AS accuracy
         |FROM (SELECT
         |    CAST(sum(CASE WHEN label = 1 AND pred_hq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN label = 0 AND pred_hq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN label = 1 AND pred_hq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN label = 0 AND pred_hq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM scored) c""".stripMargin

    val kmeansCellsSql: String =
      s"""WITH $kmeansCtes
         |SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n_vecs,
         |  CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2,
         |  min(CASE WHEN rn = 1 THEN vec_id END) AS tightest
         |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY d2 ASC, vec_id ASC) AS rn FROM af) t
         |GROUP BY 1""".stripMargin

    val knnIvfSql: String = {
      val sq = (1 to 64).map(i => s"(e.vec[$i]-c.cvec[$i])*(e.vec[$i]-c.cvec[$i])")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |cent AS (SELECT vec_id AS cell_id, vec AS cvec FROM e
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |ad AS (SELECT e.vec_id, e.vec, c.cell_id,
         |        round(sqrt($sq), 6) AS cdist
         |      FROM e CROSS JOIN cent c),
         |asg AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cdist ASC, cell_id ASC) AS rn FROM ad),
         |cells AS (SELECT vec_id AS c_id, vec AS c_vec, cell_id FROM asg
         |      WHERE rn = 1),
         |probe AS (SELECT vec_id AS q_id, vec AS q_vec, cell_id FROM asg
         |      WHERE rn <= 4 AND vec_id IN ($knnIds)),
         |s AS (SELECT q_id, c_id,
         |        round(list_cosine_similarity(q_vec, c_vec),6) AS sim
         |      FROM cells JOIN probe USING (cell_id) WHERE c_id <> q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, c_id ASC) AS rank FROM s)
         |SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 5""".stripMargin
    }

    /** DuckDB twin of EmbeddingKnn.pqKnn: identical md5-ordered codebook
      * sample, per-subspace argmin codes on integer micro-distances, ADC
      * totals as exact integer sums.
      */
    val knnPqSql: String = {
      val sq = (1 to 8).map(i => s"(v.svec[$i]-c.cvec[$i])*(v.svec[$i]-c.cvec[$i])")
        .mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |cent AS (SELECT vec_id, vec, row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS j
         |    FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
         |subs AS (SELECT unnest(range(0, 8)) AS sub),
         |centsub AS (SELECT sub, j, list_slice(vec, sub*8+1, sub*8+8) AS cvec
         |    FROM cent CROSS JOIN subs),
         |vecsub AS (SELECT vec_id, sub, list_slice(vec, sub*8+1, sub*8+8) AS svec
         |    FROM e CROSS JOIN subs),
         |dists AS (SELECT v.vec_id, v.sub, c.j,
         |      CAST(round(($sq) * 1000000) AS BIGINT) AS dm
         |    FROM vecsub v JOIN centsub c USING (sub)),
         |codes AS (SELECT vec_id AS c_id, sub, j FROM (
         |      SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY dm ASC, j ASC) AS rn FROM dists) z WHERE rn = 1),
         |qtab AS (SELECT vec_id AS q_id, sub, j, dm FROM dists
         |    WHERE vec_id IN ($knnIds)),
         |adc AS (SELECT q_id, c_id, sum(dm) AS total
         |    FROM codes JOIN qtab USING (sub, j) GROUP BY 1, 2),
         |r AS (SELECT q_id, c_id, round(sqrt(total / 1000000.0), 6) AS adist,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY total ASC, c_id ASC) AS rank
         |    FROM adc WHERE c_id <> q_id)
         |SELECT q_id, c_id, adist, rank FROM r WHERE rank <= 5""".stripMargin
    }

    val knnLshSql: String = {
      val bucket = (1 to 8).map(i =>
        s"CASE WHEN vec[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         |        $bucket AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, vec AS q_vec, bucket FROM e
         |      WHERE vec_id IN ($knnIds)),
         |s AS (SELECT q_id, e.vec_id AS c_id,
         |        round(list_cosine_similarity(q_vec, e.vec),6) AS sim
         |      FROM e JOIN q USING (bucket) WHERE e.vec_id <> q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |        ORDER BY sim DESC, c_id ASC) AS rank FROM s)
         |SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 5""".stripMargin
    }

    /** DuckDB twin of EmbeddingKnn.annRecall over the signLsh and ivfSeeded
      * generators: each leg composes the exact and approximate ranked-list
      * twins as subqueries, counts hits via a left join on (q_id, c_id),
      * and reports recall as the same integer-micro division.
      */
    val annRecallSql: String = {
      def leg(name: String, approxSql: String) =
        s"""SELECT '$name' AS method, ex.q_id, count(*) AS n_exact,
           |  CAST(sum(CASE WHEN ap.c_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
           |  CAST((sum(CASE WHEN ap.c_id IS NULL THEN 0 ELSE 1 END) * 1000000) // 5
           |    AS DOUBLE) / 1e6 AS recall
           |FROM (SELECT q_id, c_id FROM ($knnCosineSql)) ex
           |LEFT JOIN (SELECT q_id, c_id FROM ($approxSql)) ap
           |  ON ap.q_id = ex.q_id AND ap.c_id = ex.c_id
           |GROUP BY 1, 2""".stripMargin
      leg("sign_lsh8", knnLshSql) + "\nUNION ALL\n" + leg("ivf16x4", knnIvfSql)
    }

    /** DuckDB twin of Dedup.embeddingPairsLsh with the adaptive band:
      * identical stride-3 table anchors extended to the 12-dim max
      * width, the identical count-derived prefix length
      * (length(bin(n)) - 1 ≡ floor(log2 n), exact integer arithmetic),
      * exact cosine on bucket-mates.
      */
    /** Cross-set banded sign-LSH mirror of Dedup.decontaminateSemanticLsh:
      * same fixed 3-bit × 12-table keying on BOTH sets (DuckDB's
      * out-of-range vec[i] is NULL → the CASE's ELSE '0', matching the
      * Spark side's size guard), candidate equi-join, exact-cosine verify
      * and the identical deterministic winner rank.
      */
    val decontaminateSemanticLshSql: String = {
      def branches(src: String, idAs: String) = (0 until 12).map { t =>
        val dims = t * 3 + 1 to t * 3 + 3
        val bucket = dims.map(i =>
          s"CASE WHEN vec[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"SELECT $idAs, $t AS tbl, $bucket AS bucket FROM $src"
      }.mkString("\n  UNION ALL ")
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
         |           FROM embeddings WHERE vec_id % 10 <> 0),
         |     b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS vec
         |           FROM embeddings WHERE vec_id % 10 = 0),
         |kc AS (
         |  ${branches("c", "vec_id")}),
         |kb AS (
         |  ${branches("b", "bench_id")}),
         |cand AS (SELECT DISTINCT kc.vec_id, kb.bench_id
         |  FROM kc JOIN kb USING (tbl, bucket)),
         |m AS (SELECT cand.vec_id, cand.bench_id,
         |        round(list_cosine_similarity(cv.vec, bv.vec),6) AS cosine
         |      FROM cand
         |      JOIN c cv ON cand.vec_id = cv.vec_id
         |      JOIN b bv ON cand.bench_id = bv.bench_id
         |      WHERE list_cosine_similarity(cv.vec, bv.vec) >= 0.45)
         |SELECT vec_id, bench_id, cosine FROM (
         |  SELECT m.*, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, bench_id ASC) AS rn
         |  FROM m
         |) WHERE rn = 1""".stripMargin
    }

    val dedupEmbeddingLshSql: String = {
      val branches = (0 until 12).map { t =>
        val dims = t * 3 + 1 to t * 3 + 12
        val bucket = dims.map(i =>
          s"CASE WHEN vec[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"SELECT vec_id, $t AS tbl, substring($bucket, 1, (SELECT L FROM bl)) AS bucket FROM e"
      }.mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |bl AS (SELECT LEAST(12, GREATEST(3,
         |  length(bin((SELECT count(*) FROM e))) - 1 - 5)) AS L),
         |k AS (
         |  $branches),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM k a JOIN k b USING (tbl, bucket) WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         |  round(list_cosine_similarity(ea.vec, eb.vec),6) AS cosine
         |FROM cand
         |JOIN e ea ON cand.id_a = ea.vec_id
         |JOIN e eb ON cand.id_b = eb.vec_id
         |WHERE list_cosine_similarity(ea.vec, eb.vec) >= 0.45""".stripMargin
    }

    /** The media family's DuckDB twins. SQL cannot run a PNG/WAV/AVI codec,
      * so the DECODE boundary stays spec-locked (MultimodalSpec: real JDK
      * codecs vs per-modality brute force) — but everything AFTER decode is
      * pure deterministic arithmetic, reproduced here independently from
      * the feature fixture [[graft.Verify]] dumps each run
      * ([[graft.extra.Multimodal.featuresFixturePath]]): the whitening +
      * fixed Gaussian projection of [[graft.extra.MediaEmbed]] (means/σ and
      * the seeded java.util.Random weights inlined as double literals —
      * shortest-round-trip printing, so DuckDB parses the identical bits;
      * same z-score/multiply/left-to-right-sum order, each dim cast to
      * REAL exactly like the kernel's .toFloat), the exact-group collapse
      * (distinct (modality, vector) → min doc_id rep), the 9-table × 4-bit
      * sign-LSH banding of Dedup.signLshTableDims, exact-cosine verify at
      * 0.99, and the within-group/cross-group pair expansion — turning the
      * suite's two rows-only lines into hash-checked rows.
      */
    private def mediaEmbeddingCase: String = {
      val outDim = 4 * 9 // bitsPerTable × tables = mediaNearDupPairs' outDim
      val arms = Seq("image", "audio", "video").map { m =>
        val spec = graft.extra.MediaEmbed.specs(m)
        val w = graft.extra.MediaEmbed.weights(m, outDim)
        val dims = (0 until outDim).map { d =>
          val terms = spec.zipWithIndex.map { case ((i, mean, std), j) =>
            s"(f[$i] - $mean) / $std * (${w(d)(j)})"
          }.mkString(" + ")
          s"CAST($terms AS REAL)"
        }
        s"WHEN '$m' THEN ${dims.mkString("[", ", ", "]")}"
      }
      s"CASE media_type ${arms.mkString(" ")} END"
    }

    /** Shared CTE prelude of both media twins: feature fixture → embedding
      * → distinct-vector groups (gid = min doc_id; doc ids are globally
      * unique so gid alone keys a group) → sign-LSH banding over group
      * vectors (modality rides every bucket key: modalities never
      * cross-pair) → rep-level verified pairs `rp` and per-group
      * self-cosine survival `sc` — the SQL mirror of
      * Dedup.collapsedRepGraph.
      */
    private def mediaRepGraphCtes: String = {
      val branches = graft.extra.Dedup.signLshTableDims(4, 9).map { case (t, dims) =>
        val bucket = dims.map(i =>
          s"CASE WHEN vec[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"SELECT media_type, gid, $t AS tbl, $bucket AS bucket FROM g"
      }.mkString("\n  UNION ALL ")
      s"""f AS (SELECT doc_id, media_type, CAST(features AS DOUBLE[]) AS f
         |  FROM read_parquet('${graft.extra.Multimodal.featuresFixturePath}/*.parquet')),
         |e AS (SELECT doc_id, media_type,
         |        CAST($mediaEmbeddingCase AS DOUBLE[]) AS vec FROM f),
         |g AS (SELECT media_type, vec, min(doc_id) AS gid FROM e GROUP BY 1, 2),
         |mem AS (SELECT e.doc_id, e.media_type, g.gid
         |  FROM e JOIN g ON e.media_type = g.media_type AND e.vec = g.vec),
         |k AS (
         |  $branches),
         |cand AS (SELECT DISTINCT a.media_type, a.gid AS gid_a, b.gid AS gid_b
         |  FROM k a JOIN k b ON a.media_type = b.media_type
         |   AND a.tbl = b.tbl AND a.bucket = b.bucket AND a.gid < b.gid),
         |rp AS (SELECT cand.media_type, gid_a, gid_b,
         |         round(list_cosine_similarity(x.vec, y.vec), 6) AS cosine
         |       FROM cand JOIN g x ON cand.gid_a = x.gid
         |                 JOIN g y ON cand.gid_b = y.gid
         |       WHERE list_cosine_similarity(x.vec, y.vec) >= 0.99),
         |sc AS (SELECT media_type, gid,
         |         round(list_cosine_similarity(vec, vec), 6) AS cosine
         |       FROM g WHERE list_cosine_similarity(vec, vec) >= 0.99)""".stripMargin
    }

    // defs, not vals: they embed Multimodal.featuresFixturePath, which
    // Verify pins under its outDir at startup — resolving at CALL time
    // keeps the emitted SQL and the dump location agreeing even if object
    // O initialized before the pin
    def dedupMediaSql: String =
      s"""WITH $mediaRepGraphCtes
         |SELECT rp.media_type,
         |  LEAST(ma.doc_id, mb.doc_id) AS id_a,
         |  GREATEST(ma.doc_id, mb.doc_id) AS id_b, rp.cosine
         |FROM rp JOIN mem ma ON rp.gid_a = ma.gid
         |        JOIN mem mb ON rp.gid_b = mb.gid
         |UNION ALL
         |SELECT sc.media_type, a.doc_id AS id_a, b.doc_id AS id_b, sc.cosine
         |FROM mem a JOIN mem b ON a.gid = b.gid AND a.doc_id < b.doc_id
         |JOIN sc ON sc.gid = a.gid""".stripMargin

    /** Components run at the REP level exactly like the Scala operator
      * (lattice-bounded, never corpus-bounded): min-label propagation as a
      * recursive CTE over the bidirectional rep edges, then labels transfer
      * to members through the gid join; a group whose self-cosine failed
      * the bar AND has no edges degrades its members to singletons —
      * mirroring embeddingClustersLshCollapsed's zero-vector rule.
      */
    def dedupMediaClustersSql: String =
      s"""WITH RECURSIVE $mediaRepGraphCtes,
         |ed AS (SELECT gid_a AS src, gid_b AS dst FROM rp
         |       UNION ALL SELECT gid_b, gid_a FROM rp),
         |reach(gid, lbl) AS (
         |  SELECT gid, gid FROM g
         |  UNION
         |  SELECT ed.dst, reach.lbl FROM reach JOIN ed ON reach.gid = ed.src),
         |cc AS (SELECT gid, min(lbl) AS cluster_id FROM reach GROUP BY gid),
         |edged AS (SELECT DISTINCT src AS gid FROM ed)
         |SELECT media_type, doc_id, cluster_id,
         |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_rep
         |FROM (
         |  SELECT mem.media_type, mem.doc_id,
         |    CASE WHEN sc.gid IS NULL AND edged.gid IS NULL THEN mem.doc_id
         |         ELSE cc.cluster_id END AS cluster_id
         |  FROM mem JOIN cc ON mem.gid = cc.gid
         |  LEFT JOIN sc ON mem.gid = sc.gid
         |  LEFT JOIN edged ON mem.gid = edged.gid)""".stripMargin

    val langIdSql: String = {
      def hits(markers: Seq[String]) =
        s"len(list_filter(string_split(lower(text), ' '), t -> t IN (${markers.map(m => s"'$m'").mkString(",")})))"
      val scores = TextStats.langMarkers.map { case (l, m) =>
        s"CAST(${hits(m)} AS BIGINT) AS score_$l"
      }.mkString(",\n ")
      val best = TextStats.langMarkers.map { case (l, _) => s"score_$l" }
        .mkString("greatest(", ", ", ")")
      val pick = TextStats.langMarkers.map { case (l, _) =>
        s"WHEN score_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH s AS (SELECT doc_id,
         | $scores
         |FROM documents),
         |b AS (SELECT *, $best AS best FROM s)
         |SELECT doc_id, ${TextStats.langMarkers.map(_._1).map(l => s"score_$l").mkString(", ")},
         | CASE $pick ELSE 'und' END AS lang_pred
         |FROM b""".stripMargin
    }

    /** Metadata corpus mirror of CombinedScorer.datasetMetadata:
      * (id, title, keywords, description).
      */
    private val metaRows: Seq[(String, String, String, String)] =
      tables.filter(t => Tables.sketchTables.contains(t._1)).map { case (t, all, _, _) =>
        val de = all.mkString(" ").replace("_", " ")
        (t, t, graft.search.CombinedScorer.keywordsOf(de), de)
      }

    private def metaValues(excludeId: Option[String]): String = {
      val rows = metaRows.filter(r => !excludeId.contains(r._1))
        .map { case (id, ti, kw, de) => s"('$id', '$ti', '$kw', '$de')" }
      s"(VALUES ${rows.mkString(", ")}) AS meta(doc_id, title, keywords, description)"
    }

    private def termsOf(s: String): Seq[String] =
      s.toLowerCase.split(" ").filter(_.nonEmpty).distinct.toSeq

    val customerTitleTerms: Seq[String] = termsOf(metaRows.find(_._1 == "customer").get._2)
    val customerKeywordTerms: Seq[String] = termsOf(metaRows.find(_._1 == "customer").get._3)
    val customerDescTerms: Seq[String] = termsOf(metaRows.find(_._1 == "customer").get._4)

    val titleTerms: Seq[String] = Seq("supplier", "nation", "region")

    /** Single-field BM25 score CTEs over the metadata VALUES corpus,
      * mirroring Bm25.scores (k1=1.2, b=0.75, Lucene idf). `rounded` rounds
      * the per-doc sum to 6 (Bm25.scores); multiField keeps raw sums and
      * rounds only the final normalized outputs.
      */
    private def fieldScoreSql(field: String, terms: Seq[String], alias: String,
                              rounded: Boolean = true): String = {
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val sumExpr =
        """sum(
          |     ln(1.0 + (c.n_docs - f.df + 0.5)/(f.df + 0.5))
          |     * (tf.tf * (1.2 + 1.0))
          |     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl)))""".stripMargin
      val scoreExpr = if (rounded) s"round($sumExpr,6)" else sumExpr
      s"""${alias}_toks AS (SELECT doc_id, unnest(string_split(lower($field), ' ')) AS term
         |  FROM meta_corpus),
         |${alias}_t2 AS (SELECT doc_id, term FROM ${alias}_toks WHERE term <> ''),
         |${alias}_tf AS (SELECT doc_id, term, count(*) AS tf FROM ${alias}_t2 GROUP BY 1,2),
         |${alias}_dl AS (SELECT doc_id, count(*) AS dl FROM ${alias}_t2 GROUP BY 1),
         |${alias}_corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ${alias}_dl),
         |${alias}_dfreq AS (SELECT term, count(*) AS df FROM ${alias}_tf
         |  WHERE term IN ($termList) GROUP BY 1),
         |${alias}_score AS (
         |  SELECT tf.doc_id, $scoreExpr AS s
         |  FROM ${alias}_tf tf
         |  JOIN ${alias}_dfreq f ON tf.term = f.term
         |  JOIN ${alias}_dl dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN ${alias}_corpus c
         |  WHERE tf.term IN ($termList)
         |  GROUP BY tf.doc_id)""".stripMargin
    }

    val bm25MultifieldSql: String = {
      s"""WITH meta_corpus AS (SELECT * FROM ${metaValues(Some("customer"))}),
         |${fieldScoreSql("title", customerTitleTerms, "ti", rounded = false)},
         |${fieldScoreSql("keywords", customerKeywordTerms, "kw", rounded = false)},
         |${fieldScoreSql("description", customerDescTerms, "de", rounded = false)},
         |u AS (SELECT doc_id, s * 0.5 AS raw, 'title' AS field FROM ti_score
         |      UNION ALL SELECT doc_id, s * 0.3, 'keywords' FROM kw_score
         |      UNION ALL SELECT doc_id, s * 0.2, 'description' FROM de_score),
         |j AS (SELECT doc_id,
         |        sum(CASE WHEN field = 'title' THEN raw ELSE 0 END) AS title_raw,
         |        sum(CASE WHEN field = 'keywords' THEN raw ELSE 0 END) AS keywords_raw,
         |        sum(CASE WHEN field = 'description' THEN raw ELSE 0 END) AS description_raw,
         |        sum(raw) AS raw
         |      FROM u GROUP BY 1),
         |mx AS (SELECT max(raw) AS m FROM j)
         |SELECT doc_id, round(title_raw / mx.m, 6) AS title_score,
         |  round(keywords_raw / mx.m, 6) AS keywords_score,
         |  round(description_raw / mx.m, 6) AS description_score,
         |  round(raw / mx.m, 6) AS score
         |FROM j CROSS JOIN mx
         |ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin
    }

    val autocompleteSql: String =
      s"""SELECT doc_id AS dataset_id, title
         |FROM ${metaValues(None)}
         |WHERE contains(lower(title || ' ' || keywords || ' ' || description), 'er')
         |ORDER BY title ASC, doc_id ASC LIMIT 10""".stripMargin

    val titleSearchSql: String = {
      s"""WITH meta_corpus AS (SELECT * FROM ${metaValues(Some("customer"))}),
         |${fieldScoreSql("title", titleTerms, "ti")}
         |SELECT doc_id, s AS score FROM ti_score
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
    }

    /** Parameterized so corpusBuildSql reuses it at its own threshold — no
      * string surgery that could silently no-op if this text drifts.
      */
    /** DuckDB twin of CorpusOps.qualityGate: the text_stats quality
      * expression, the EXPLICIT interpolated quantile at the drop fraction
      * (the quantileBranch integer-micro formula at pm = 100000 — mirrors
      * Profiler.histogramQuantiles verbatim), scalar cross join, filter.
      */
    val qualityGateSql: String =
      s"""WITH q AS (SELECT doc_id,
         |  CASE WHEN length(text) > 0 THEN
         |    round(least(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS DOUBLE)/100.0, 1.0)
         |      * (1.0 - least(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |          / length(text), 1.0)), 6)
         |  ELSE NULL END AS quality
         |  FROM documents),
         |thr0 AS (SELECT quality AS val,
         |    CAST(row_number() OVER (ORDER BY quality) - 1 AS BIGINT) AS idx,
         |    CAST(count(*) OVER () AS BIGINT) AS n
         |  FROM q WHERE quality IS NOT NULL),
         |thrb AS (SELECT CAST(100000 AS BIGINT) * (max(n) - 1) AS posm FROM thr0),
         |thrn AS (SELECT
         |    CAST(round(max(CASE WHEN idx = posm // 1000000 THEN val END)
         |      * 1000000) AS HUGEINT) * (1000000 - max(posm) % 1000000)
         |    + CAST(round(max(CASE WHEN idx = posm // 1000000
         |        + CASE WHEN posm % 1000000 > 0 THEN 1 ELSE 0 END THEN val END)
         |      * 1000000) AS HUGEINT) * (max(posm) % 1000000) AS num
         |  FROM thr0 CROSS JOIN thrb
         |  WHERE idx = posm // 1000000 OR idx = posm // 1000000 + 1),
         |thr AS (SELECT CAST((num - (num % 1000000)) // 1000000
         |    + CASE WHEN num % 1000000 >= 500000 THEN 1
         |           WHEN num % 1000000 <= -500000 THEN -1 ELSE 0 END
         |  AS DOUBLE) / 1000000.0 AS threshold FROM thrn)
         |SELECT doc_id, quality, threshold FROM q CROSS JOIN thr
         |WHERE quality >= threshold""".stripMargin

    /** DuckDB twin of TextStats.sourceKl: full-vocabulary add-1 KL per
      * source, 6-decimal log ratio, nano-integer contributions.
      */
    val sourceKlSql: String =
      """WITH tf AS (SELECT source AS grp, term, count(*) AS cnt_g FROM (
        |    SELECT source, unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS term FROM documents) z GROUP BY 1, 2),
        |vocab AS (SELECT term, sum(cnt_g) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
        |    CAST(count(*) AS DOUBLE) AS v_size FROM vocab),
        |gtot AS (SELECT grp, sum(cnt_g) AS n_g FROM tf GROUP BY 1),
        |f AS (SELECT g.grp, v.cnt, coalesce(tf.cnt_g, 0) AS cnt_g, g.n_g
        |  FROM vocab v CROSS JOIN gtot g
        |  LEFT JOIN tf ON tf.grp = g.grp AND tf.term = v.term),
        |c AS (SELECT grp, n_g, cnt_g,
        |    (cnt_g + 1.0) / (CAST(n_g AS DOUBLE) + v_size) AS p_g,
        |    (cnt + 1.0) / (n_total + v_size) AS p
        |  FROM f CROSS JOIN tot)
        |SELECT grp AS source, CAST(max(n_g) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN cnt_g > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_seen,
        |  CAST(sum(CAST(round(p_g * round(ln(p_g / p), 6) * 1000000000)
        |    AS BIGINT)) AS DOUBLE) / 1e9 AS kl
        |FROM c GROUP BY 1""".stripMargin

    /** DuckDB twin of CorpusOps.qualityNorm: same quality expression as
      * qualityGateSql, percent_rank as strictly-lower-count / (n-1) via
      * grid cumulative sums (ties share ranks; single-row groups are 0).
      */
    val qualityNormSql: String =
      """WITH q AS (SELECT doc_id, lang, source,
        |  CASE WHEN length(text) > 0 THEN
        |    round(least(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS DOUBLE)/100.0, 1.0)
        |      * (1.0 - least(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |          / length(text), 1.0)), 6)
        |  ELSE NULL END AS quality
        |  FROM documents),
        |s AS (SELECT * FROM q WHERE quality IS NOT NULL),
        |gg AS (SELECT quality, count(*) AS c FROM s GROUP BY 1),
        |gcum AS (SELECT quality, coalesce(sum(c) OVER (ORDER BY quality
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
        |  FROM gg),
        |sg AS (SELECT lang, source, quality, count(*) AS c FROM s
        |  GROUP BY 1, 2, 3),
        |scum AS (SELECT lang, source, quality,
        |    coalesce(sum(c) OVER (PARTITION BY lang, source ORDER BY quality
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt_g
        |  FROM sg),
        |ng AS (SELECT lang, source, count(*) AS n_g FROM s GROUP BY 1, 2),
        |na AS (SELECT count(*) AS n_all FROM s)
        |SELECT s.doc_id, s.lang, s.source, s.quality,
        |  CASE WHEN n_g > 1
        |    THEN round(CAST(cum_lt_g AS DOUBLE) / (n_g - 1), 6)
        |    ELSE 0.0 END AS pct_group,
        |  CASE WHEN n_all > 1
        |    THEN round(CAST(cum_lt AS DOUBLE) / (n_all - 1), 6)
        |    ELSE 0.0 END AS pct_global
        |FROM s JOIN scum USING (lang, source, quality)
        |JOIN gcum USING (quality)
        |JOIN ng USING (lang, source) CROSS JOIN na""".stripMargin

    /** DuckDB twin of Signals.gopherRules: same rule bounds, CASE-null →
      * keep 0.
      */
    val gopherRulesSql: String =
      """WITH g AS (SELECT doc_id, text,
        |  list_filter(string_split(lower(text), ' '), t -> t <> '') AS w,
        |  string_split(text, chr(10)) AS lines
        | FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CASE WHEN len(w) > 0 THEN
        |    round(CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)/len(w), 6) END AS mean_word_len,
        |  CASE WHEN len(w) > 0 THEN
        |    round(CAST((length(text) - length(replace(text, '#', ''))
        |      + len(regexp_extract_all(text, '\.\.\.'))) AS DOUBLE)/len(w), 6) END AS symbol_word_ratio,
        |  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)/len(lines), 6) AS frac_bullet_lines,
        |  round(CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$'))) AS DOUBLE)/len(lines), 6) AS frac_ellipsis_lines,
        |  CASE WHEN len(w) > 0 THEN
        |    round(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)/len(w), 6) END AS frac_alpha_words,
        |  CAST(len(list_filter(w, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS stopword_hits
        | FROM g)
        |SELECT *, CASE WHEN n_words BETWEEN 50 AND 100000
        |  AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_word_ratio <= 0.1
        |  AND frac_bullet_lines <= 0.9
        |  AND frac_ellipsis_lines <= 0.3
        |  AND frac_alpha_words >= 0.8
        |  AND stopword_hits >= 2 THEN 1 ELSE 0 END AS keep
        |FROM c""".stripMargin

    /** DuckDB twin of CorpusPipeline.curationFunnel: the proven stage
      * oracles (fingerprint canonical, gopherRulesSql keep, repMetricsSql
      * dup-ratio gate, decontaminateSql contaminated=0 with benchmark docs
      * absent → dropped, qualityNormSql percentile gate) left-joined into
      * one flag frame, cumulative-AND survivor sums, 6-row unpivot.
      */
    val curationFunnelSql: String =
      s"""WITH base AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS toks
         | FROM documents),
         |fp AS (SELECT min(doc_id) AS doc_id, 1 AS g1 FROM (
         |    SELECT doc_id, md5(trim(regexp_replace(
         |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         |      ' +', ' ', 'g'))) AS fingerprint FROM documents) z
         |  GROUP BY fingerprint),
         |gop AS (SELECT doc_id, keep AS g2 FROM ($gopherRulesSql) g0),
         |rep AS (SELECT doc_id,
         |    CASE WHEN dup_word_ratio <= 0.8 THEN 1 ELSE 0 END AS g3
         |  FROM ($repMetricsSql) r0),
         |dec AS (SELECT doc_id,
         |    CASE WHEN contaminated = 0 THEN 1 ELSE 0 END AS g4
         |  FROM ($decontaminateSql) d0),
         |qn AS (SELECT doc_id,
         |    CASE WHEN pct_group >= 0.1 THEN 1 ELSE 0 END AS g5
         |  FROM ($qualityNormSql) q0),
         |f AS (SELECT b.doc_id, b.toks,
         |    coalesce(fp.g1, 0) AS g1, coalesce(gop.g2, 0) AS g2,
         |    coalesce(rep.g3, 0) AS g3, coalesce(dec.g4, 0) AS g4,
         |    coalesce(qn.g5, 0) AS g5
         |  FROM base b
         |  LEFT JOIN fp ON b.doc_id = fp.doc_id
         |  LEFT JOIN gop ON b.doc_id = gop.doc_id
         |  LEFT JOIN rep ON b.doc_id = rep.doc_id
         |  LEFT JOIN dec ON b.doc_id = dec.doc_id
         |  LEFT JOIN qn ON b.doc_id = qn.doc_id),
         |a AS (SELECT
         |  count(*) AS d0, sum(toks) AS t0,
         |  sum(g1) AS d1, sum(CASE WHEN g1=1 THEN toks ELSE 0 END) AS t1,
         |  sum(CASE WHEN g1=1 AND g2=1 THEN 1 ELSE 0 END) AS d2,
         |  sum(CASE WHEN g1=1 AND g2=1 THEN toks ELSE 0 END) AS t2,
         |  sum(CASE WHEN g1=1 AND g2=1 AND g3=1 THEN 1 ELSE 0 END) AS d3,
         |  sum(CASE WHEN g1=1 AND g2=1 AND g3=1 THEN toks ELSE 0 END) AS t3,
         |  sum(CASE WHEN g1=1 AND g2=1 AND g3=1 AND g4=1 THEN 1 ELSE 0 END) AS d4,
         |  sum(CASE WHEN g1=1 AND g2=1 AND g3=1 AND g4=1 THEN toks ELSE 0 END) AS t4,
         |  sum(CASE WHEN g1=1 AND g2=1 AND g3=1 AND g4=1 AND g5=1 THEN 1 ELSE 0 END) AS d5,
         |  sum(CASE WHEN g1=1 AND g2=1 AND g3=1 AND g4=1 AND g5=1 THEN toks ELSE 0 END) AS t5
         | FROM f)
         |SELECT CAST(0 AS INT) AS stage_id, 'raw' AS stage,
         |  CAST(d0 AS BIGINT) AS docs, CAST(t0 AS BIGINT) AS tokens,
         |  round(CAST(d0 AS DOUBLE)/d0, 6) AS pct_docs FROM a
         |UNION ALL SELECT 1, 'exact_dedup', CAST(d1 AS BIGINT),
         |  CAST(t1 AS BIGINT), round(CAST(d1 AS DOUBLE)/d0, 6) FROM a
         |UNION ALL SELECT 2, 'gopher', CAST(d2 AS BIGINT),
         |  CAST(t2 AS BIGINT), round(CAST(d2 AS DOUBLE)/d0, 6) FROM a
         |UNION ALL SELECT 3, 'repetition', CAST(d3 AS BIGINT),
         |  CAST(t3 AS BIGINT), round(CAST(d3 AS DOUBLE)/d0, 6) FROM a
         |UNION ALL SELECT 4, 'decontamination', CAST(d4 AS BIGINT),
         |  CAST(t4 AS BIGINT), round(CAST(d4 AS DOUBLE)/d0, 6) FROM a
         |UNION ALL SELECT 5, 'quality_pct', CAST(d5 AS BIGINT),
         |  CAST(t5 AS BIGINT), round(CAST(d5 AS DOUBLE)/d0, 6) FROM a""".stripMargin

    /** DuckDB twin of CorpusPipeline.build2: the proven stage oracles
      * (fingerprint keep, qualityNormSql, semanticDedupSql keep=1, the
      * group-split CASE) joined on doc_id, percentile gate at 0.1.
      */
    val corpusBuild2Sql: String =
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id, md5(trim(regexp_replace(
         |      regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         |      ' +', ' ', 'g'))) AS fingerprint FROM documents) fp
         |  GROUP BY fingerprint),
         |qn AS (SELECT * FROM ($qualityNormSql) q0),
         |sem AS (SELECT vec_id AS doc_id FROM ($semanticDedupSql) s0
         |  WHERE keep = 1),
         |spl AS (SELECT doc_id,
         |    CASE WHEN ('0x' || substring(md5(source),1,8))::BIGINT % 100 < 80
         |      THEN 'train'
         |    WHEN ('0x' || substring(md5(source),1,8))::BIGINT % 100 < 90
         |      THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM documents)
         |SELECT qn.doc_id, qn.lang, qn.source, qn.quality, qn.pct_group,
         |  spl.split
         |FROM keep JOIN qn USING (doc_id) JOIN sem USING (doc_id)
         |JOIN spl USING (doc_id)
         |WHERE qn.pct_group >= 0.1""".stripMargin

    def corpusSelectSqlAt(minQuality: Double): String =
      s"""WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(
         |  regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
         |  FROM documents),
         |keep AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp GROUP BY 1),
         |q AS (SELECT doc_id,
         |  CASE WHEN length(text) > 0 THEN
         |    round(least(CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS DOUBLE)/100.0, 1.0)
         |      * (1.0 - least(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |          / length(text), 1.0)), 6)
         |  ELSE NULL END AS quality
         |  FROM documents),
         |lg AS (SELECT doc_id, lang_pred FROM ($langIdSql) z)
         |SELECT keep.doc_id, keep.fingerprint, q.quality, lg.lang_pred
         |FROM keep JOIN q USING (doc_id) JOIN lg USING (doc_id)
         |WHERE q.quality >= $minQuality AND lg.lang_pred IN ('en')""".stripMargin

    val corpusSelectSql: String = corpusSelectSqlAt(0.5)

    /** DuckDB twin of CorpusPipeline.build: the proven per-stage oracles
      * (corpus_select, rep_metrics, decontaminate) nested as CTEs, joined
      * on doc_id, then the quality-quota window. minQuality 0.3, en only,
      * dup ratio <= 0.8, quota 20 — mirror the Scala defaults.
      */
    val corpusBuildSql: String =
      s"""WITH sel AS (SELECT doc_id, quality, lang_pred FROM (
         |    ${corpusSelectSqlAt(0.3)}) s0),
         |rep AS (SELECT doc_id, dup_word_ratio FROM ($repMetricsSql) r0),
         |dec AS (SELECT doc_id, contaminated FROM ($decontaminateSql) d0),
         |j AS (SELECT sel.doc_id, sel.lang_pred, sel.quality, d2.source
         |  FROM sel JOIN rep USING (doc_id) JOIN dec USING (doc_id)
         |  JOIN documents d2 ON sel.doc_id = d2.doc_id
         |  WHERE rep.dup_word_ratio <= 0.8 AND dec.contaminated = 0)
         |SELECT doc_id, lang_pred, source, quality, rk FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY lang_pred, source
         |    ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS rk FROM j)
         |WHERE rk <= 20""".stripMargin

    val sessionsSql: String =
      """WITH x AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '2 hours'
        |       THEN 1 ELSE 0 END AS new_s FROM events),
        |y AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, epoch_ms(min(ts)) AS session_start,
        | count(*) AS n, round(sum(value),4) AS total
        |FROM y GROUP BY user_id, sid""".stripMargin
  }
}
