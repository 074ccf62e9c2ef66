package graft

import graft.extra.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The maintained near-dup PAIR artifact ([[Dedup.trainedPairs]] /
  * [[Dedup.appendPairs]]): O(batch) appends must serve EXACTLY the pair
  * table a fresh build over the grown corpus would produce — for the exact
  * variant via the ONE-SIDED prefix-filter probe (valid under any token
  * ordering, so corpus prefixes are never recomputed as global df drifts),
  * for the LSH variant because band signatures are per-document. Plus the
  * segment discipline (prior segments untouched on append; compaction
  * preserves content) and the refresh-invalidation wiring.
  */
class PairMaintainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Ten-token docs: at threshold 0.8 a 9-of-10-token overlap (jac 9/11 ≈
  // 0.818) pairs, an 8-of-10 (8/12 ≈ 0.67) does not. Tokens chosen so
  // docs 1/2 are exact set-dups, 3 is a 9/10 near-dup of 1, 4 is far.
  private def doc(toks: Seq[String]) = toks.mkString(" ")
  private val base = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  private val corpusRows = Seq(
    1L -> doc(base),
    2L -> doc(base.reverse), // same SET, different order — exact set-dup
    3L -> doc(base.take(9) :+ "lambda"), // 9/10 overlap with 1 and 2
    4L -> doc(Seq("mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "phi")))
  // batch: 11 duplicates corpus doc 4 (cross pair), 12/13 duplicate each
  // other (within-batch pair), 14 is unique, 15 near-dups corpus doc 1
  private val batchRows = Seq(
    11L -> doc(Seq("mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "phi")),
    12L -> doc(Seq("chi", "psi", "omega", "one", "two",
      "three", "four", "five", "six", "seven")),
    13L -> doc(Seq("chi", "psi", "omega", "one", "two",
      "three", "four", "five", "six", "seven")),
    14L -> doc(Seq("eight", "nine", "ten", "eleven", "twelve",
      "thirteen", "fourteen", "fifteen", "sixteen", "seventeen")),
    15L -> doc(base.take(9) :+ "pi")) // 9/10 with 1/2; also shares pi w/ 4
  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def pairSet(p: org.apache.spark.sql.DataFrame) =
    p.select("id_a", "id_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("exact variant: grown artifact ≡ fresh pair build over corpus ∪ batch") {
    val key = "pairspec-exact"
    Dedup.resetPairs(spark, key)
    val corpus = df(corpusRows)
    val batch = df(batchRows)
    val built = Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key)
    assert(pairSet(built) == pairSet(Dedup.jaccardPairs(corpus, "doc_id", "text", 0.8)))
    assert(Dedup.appendPairs(batch, "doc_id", "text", 0.8, key))
    val grown = Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key)
    val fresh = Dedup.jaccardPairs(corpus.unionByName(batch), "doc_id", "text", 0.8)
    assert(pairSet(grown) == pairSet(fresh),
      "grown pair table must equal a fresh build over the grown corpus")
    // the fixture exercises all three pair classes
    val ids = pairSet(grown).map(t => (t._1, t._2))
    assert(ids.contains((4L, 11L)), "cross batch×corpus pair")
    assert(ids.contains((12L, 13L)), "within-batch pair")
    assert(ids.contains((1L, 2L)), "pre-existing corpus pair survives")
    Dedup.resetPairs(spark, key)
  }

  test("lsh variant: grown artifact ≡ fresh LSH pair build over corpus ∪ batch") {
    val key = "pairspec-lsh"
    Dedup.resetPairs(spark, key)
    val corpus = df(corpusRows)
    val batch = df(batchRows)
    Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key, lsh = true)
    assert(Dedup.appendPairs(batch, "doc_id", "text", 0.8, key, lsh = true))
    val grown = Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key, lsh = true)
    val fresh = Dedup.minhashLshPairs(
      corpus.unionByName(batch), "doc_id", "text", 0.8)
    assert(pairSet(grown) == pairSet(fresh),
      "band signatures are per-doc, so the grown LSH table must be identical")
    Dedup.resetPairs(spark, key)
  }

  test("append leaves prior segments' frames untouched (reference identity)") {
    val key = "pairspec-segs"
    Dedup.resetPairs(spark, key)
    Dedup.trainedPairs(df(corpusRows), "doc_id", "text", 0.8, key)
    val before = Dedup.pairSegmentsOf(spark, key)
    assert(before.size == 1 && Dedup.pairSegmentCount(spark, key) == 1)
    assert(Dedup.appendPairs(df(batchRows), "doc_id", "text", 0.8, key))
    val after = Dedup.pairSegmentsOf(spark, key)
    assert(after.size == 2)
    assert(after.head.pairs eq before.head.pairs)
    assert(after.head.toks eq before.head.toks)
    assert(after.head.probe eq before.head.probe,
      "an append must not re-materialize existing corpus segments")
    // the new segment holds ONLY the batch's own documents
    assert(after(1).toks.count() == batchRows.size)
    Dedup.resetPairs(spark, key)
  }

  test("compaction past maxSegments preserves pairs exactly") {
    val key = "pairspec-compact"
    Dedup.resetPairs(spark, key)
    val corpus = df(corpusRows)
    val b1 = df(batchRows.take(2))
    val b2 = df(batchRows.drop(2))
    Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key)
    assert(Dedup.appendPairs(b1, "doc_id", "text", 0.8, key, maxSegments = 2))
    assert(Dedup.pairSegmentCount(spark, key) == 2)
    assert(Dedup.appendPairs(b2, "doc_id", "text", 0.8, key, maxSegments = 2))
    assert(Dedup.pairSegmentCount(spark, key) == 1, "3 > 2 must compact")
    val grown = Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key)
    val fresh = Dedup.jaccardPairs(
      corpus.unionByName(b1).unionByName(b2), "doc_id", "text", 0.8)
    assert(pairSet(grown) == pairSet(fresh))
    // a compacted artifact keeps serving appends
    val b3 = Seq(21L -> doc(base)).toDF("doc_id", "text")
    assert(Dedup.appendPairs(b3, "doc_id", "text", 0.8, key, maxSegments = 2))
    val ids = pairSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key))
      .map(t => (t._1, t._2))
    assert(ids.contains((1L, 21L)) && ids.contains((2L, 21L)))
    Dedup.resetPairs(spark, key)
  }

  test("fixture-scale: grown ≡ fresh on sf0.001 documents, both variants") {
    // real corpus text (near-dup families planted by the fixture
    // generator), a 3-batch growth path — the admission cadence a service
    // actually runs, at DedupSpec's fixture scale
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val corpus = docs.filter(col("doc_id") < 100)
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 125)
    val b2 = docs.filter(col("doc_id") >= 125 && col("doc_id") < 150)
    val all = docs.filter(col("doc_id") < 150)
    for ((lsh, key) <- Seq((false, "pairspec-fix-exact"), (true, "pairspec-fix-lsh"))) {
      Dedup.resetPairs(spark, key)
      Dedup.trainedPairs(corpus, "doc_id", "text", 0.95, key, lsh = lsh)
      assert(Dedup.appendPairs(b1, "doc_id", "text", 0.95, key, lsh = lsh))
      assert(Dedup.appendPairs(b2, "doc_id", "text", 0.95, key, lsh = lsh))
      val grown = pairSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.95, key, lsh = lsh))
      val fresh = pairSet(
        if (lsh) Dedup.minhashLshPairs(all, "doc_id", "text", 0.95)
        else Dedup.jaccardPairs(all, "doc_id", "text", 0.95))
      assert(fresh.nonEmpty, s"fixture must contain 0.95 near-dups (lsh=$lsh)")
      assert(grown == fresh, s"grown != fresh at fixture scale (lsh=$lsh)")
      Dedup.resetPairs(spark, key)
    }
  }

  test("appendPairs is replay-idempotent per document") {
    val key = "pairspec-replay"
    Dedup.resetPairs(spark, key)
    val corpus = df(corpusRows)
    val batch = df(batchRows)
    Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key)
    assert(Dedup.appendPairs(batch, "doc_id", "text", 0.8, key))
    val grown = pairSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key))
    val segs = Dedup.pairSegmentCount(spark, key)
    // full replay: no new segment, no self-pairs, artifact unchanged
    assert(Dedup.appendPairs(batch, "doc_id", "text", 0.8, key))
    assert(Dedup.pairSegmentCount(spark, key) == segs)
    assert(pairSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key)) == grown)
    // partial replay (one present doc + one new near-dup of it): only the
    // new doc's pairs append, still no (d, d) self-pair
    val partial = df(batchRows.take(1) :+ (31L -> batchRows.head._2))
    assert(Dedup.appendPairs(partial, "doc_id", "text", 0.8, key))
    val after = pairSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key))
    assert(after.map(t => (t._1, t._2)).contains((11L, 31L)))
    assert(after.forall(t => t._1 != t._2), "no self-pairs ever")
    assert(after == pairSet(Dedup.jaccardPairs(
      corpus.unionByName(batch).unionByName(df(Seq(31L -> batchRows.head._2))),
      "doc_id", "text", 0.8)), "grown ≡ fresh after a partial replay")
    Dedup.resetPairs(spark, key)
  }

  // ---- the size band (Dedup.sizeBand, the PPJoin/All-Pairs length
  // filter) must be exactly as conservative as the verify: it may never
  // drop a pair verifyJaccard's double arithmetic keeps.

  /** Nested token sets: doc k holds tokens w1..wk (plus a shift so two
    * families overlap partially), so a pair of sizes (a, b) with a < b has
    * Jaccard exactly a/b — every size-band edge is a real document pair.
    */
  private def nested(k: Int, shift: Int = 0) =
    doc((1 + shift to k + shift).map(i => s"w$i"))

  test("size band never rejects a pair whose best case passes the verify — " +
    "every size pair 1..200") {
    val n = 200
    // doc k = w1..wk: for a < b the intersection IS the smaller set, so
    // the verify's ratio on the pair is its best case min/max
    val arrs = Dedup.tokenArraysOf(
      (1 to n).map(k => k.toLong -> nested(k)).toDF("doc_id", "text"),
      "doc_id", "text")
    val all = (for (a <- 1 to n; b <- a + 1 to n) yield (a.toLong, b.toLong))
      .toDF("id_a", "id_b")
    for (t <- Seq(0.8, 0.9, 0.95, 2.0 / 3, 0.7, 0.99)) {
      val verified = Dedup.verifyJaccard(all, arrs, t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // doc_id = size, so the band is judged on the ids directly
      val banded = all.filter(Dedup.sizeBand(col("id_a"), col("id_b"), t))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((verified -- banded).isEmpty,
        s"t=$t: the band rejects verified pairs ${(verified -- banded).take(5)}")
      // and it is tight: on nested sets the best case is the actual ratio
      assert(verified == banded, s"t=$t: band keeps pairs no verify could")
    }
  }

  test("brute-force all-pairs Jaccard ≡ jaccardPairs ≡ grown artifact on " +
    "documents whose sizes sit on every size-band edge") {
    // two nested families, one shifted by a token: within a family every
    // (a, b) size pair up to 40 occurs (4/5, 8/10, 9/10, 16/20, 18/20,
    // 19/20, 38/40 … — each threshold's edges, both sides), across them
    // the overlaps are partial
    val docs = (1 to 40).map(k => k.toLong -> nested(k)) ++
      (1 to 40).map(k => (100L + k) -> nested(k, shift = 1))
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    def round6(d: Double) = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (t <- Seq(0.8, 0.9, 0.95)) {
      // no prefix filter, no length filter: every pair, the verify's ratio
      val brute = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size.toLong
        jac = inter.toDouble / (sa.size + sb.size - inter) if jac >= t
      } yield (a, b, round6(jac))).toSet
      assert(brute.nonEmpty)
      assert(pairSet(Dedup.jaccardPairs(df(docs), "doc_id", "text", t)) == brute,
        s"t=$t: jaccardPairs differs from brute force")
      val key = s"pairspec-edges-$t"
      Dedup.resetPairs(spark, key)
      try {
        val (seed, rest) = docs.partition(_._1 % 3 == 0)
        Dedup.trainedPairs(df(seed), "doc_id", "text", t, key)
        val (b1, b2) = rest.partition(_._1 % 2 == 0)
        assert(Dedup.appendPairs(df(b1), "doc_id", "text", t, key))
        assert(Dedup.appendPairs(df(b2), "doc_id", "text", t, key))
        assert(pairSet(Dedup.trainedPairs(df(seed), "doc_id", "text", t, key))
          == brute, s"t=$t: the grown artifact differs from brute force")
      } finally Dedup.resetPairs(spark, key)
    }
  }

  test("appendPairs is a no-op without a memoized artifact") {
    assert(!Dedup.appendPairs(df(batchRows), "doc_id", "text", 0.8,
      "pairspec-unbuilt"))
    assert(Dedup.pairSegmentCount(spark, "pairspec-unbuilt") == 0)
  }

  test("admitStreamMaintained(gramSpecs) folds admitted docs' gram counts " +
    "in under the writer-scoped ledger") {
    val corpus = df(Seq(1L -> doc(base), 2L -> doc(Seq("mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon", "phi"))))
    // fresh text (admitted at 0.9) that shares a 5-gram with doc 1
    val batch = Seq(20L -> doc(base.take(5) ++ Seq("q1", "q2", "q3", "q4",
      "q5"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("gramspec-stream").toString
    batch.coalesce(1).write.mode("append").parquet(dir)
    val idxKey = "gramspec-stream-idx"
    val gKey = "gramspec-stream-grams"
    Dedup.resetIndex(spark, idxKey)
    Dedup.resetIndex(spark, gKey)
    Dedup.trainedGramIndex(corpus, "doc_id", "text", gKey, 5)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = graft.streaming.CorpusStream.admitStreamMaintained(
      stream, corpus, idxKey, threshold = 0.9,
      gramSpecs = Seq((gKey, 5))) { (_, _) => () }
    try q.processAllAvailable() finally { q.stop(); Dedup.resetIndex(spark, idxKey) }
    def ghCounts(g: org.apache.spark.sql.DataFrame) = g
      .groupBy("gh").agg(org.apache.spark.sql.functions.sum("n_docs")
        .as("nd"), org.apache.spark.sql.functions.sum("n_occ").as("no"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(ghCounts(Dedup.trainedGramIndex(corpus, "doc_id", "text", gKey, 5))
      == ghCounts(Dedup.gramStats(corpus.unionByName(batch),
        "doc_id", "text", 5)),
      "maintained gram artifact must equal a fresh build over the union")
    Dedup.resetIndex(spark, gKey)
  }

  test("admitStreamMaintained(featureCacheKeys) folds admitted docs' " +
    "decoded media features in") {
    val corpus = df(Seq(1L -> doc(base), 2L -> doc(Seq("mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon", "phi"))))
    val batch = Seq(20L -> doc(Seq("q1", "q2", "q3", "q4", "q5",
      "q6", "q7", "q8", "q9", "q0"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("featspec-stream").toString
    batch.coalesce(1).write.mode("append").parquet(dir)
    val idxKey = "featspec-stream-idx"
    val fKey = "featspec-stream-feats"
    Dedup.resetIndex(spark, idxKey)
    graft.extra.Multimodal.resetFeatures(spark, fKey)
    graft.extra.Multimodal.trainedFeatures(corpus, fKey)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = graft.streaming.CorpusStream.admitStreamMaintained(
      stream, corpus, idxKey, threshold = 0.9,
      featureCacheKeys = Seq(fKey)) { (_, _) => () }
    try q.processAllAvailable() finally { q.stop(); Dedup.resetIndex(spark, idxKey) }
    def featRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getSeq[Float](2)))).toMap
    val grown = featRows(graft.extra.Multimodal.trainedFeatures(corpus, fKey))
    graft.extra.Multimodal.resetFeatures(spark, "featspec-fresh")
    val fresh = featRows(graft.extra.Multimodal.trainedFeatures(
      corpus.unionByName(batch), "featspec-fresh"))
    assert(grown == fresh && grown.contains(20L),
      s"maintained features must cover the admitted doc: ${grown.keySet}")
    graft.extra.Multimodal.resetFeatures(spark, fKey)
    graft.extra.Multimodal.resetFeatures(spark, "featspec-fresh")
  }

  test("admitStreamMaintained(pairsSpecs) folds admitted docs' pairs in") {
    // the gate admits at 0.9 (doc 20 duplicates nothing that closely) while
    // the PAIR artifact tracks 0.5 near-dups — so the admitted doc MUST
    // surface as a pair with corpus doc 1 afterwards, with zero caller
    // wiring beyond the spec tuple
    val corpus = df(Seq(
      1L -> doc(base),
      2L -> doc(Seq("mu", "nu", "xi", "omicron", "pi",
        "rho", "sigma", "tau", "upsilon", "phi"))))
    // 7/10 overlap with doc 1 → jac 7/13 ≈ 0.538: pairs at 0.5, admitted at 0.9
    val batch = Seq(20L -> doc(base.take(7) ++ Seq("aa", "bb", "cc")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pairspec-stream").toString
    batch.coalesce(1).write.mode("append").parquet(dir)
    val idxKey = "pairspec-stream-idx"
    val pKey = "pairspec-stream-pairs"
    Dedup.resetIndex(spark, idxKey)
    Dedup.resetPairs(spark, pKey)
    Dedup.trainedPairs(corpus, "doc_id", "text", 0.5, pKey)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = graft.streaming.CorpusStream.admitStreamMaintained(
      stream, corpus, idxKey, threshold = 0.9,
      pairsSpecs = Seq((pKey, 0.5, false))) { (_, _) => () }
    try q.processAllAvailable() finally { q.stop(); Dedup.resetIndex(spark, idxKey) }
    assert(Dedup.pairSegmentCount(spark, pKey) == 2,
      "the admitted batch must have appended a pair segment")
    val grown = pairSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.5, pKey))
    val fresh = pairSet(Dedup.jaccardPairs(
      corpus.unionByName(batch), "doc_id", "text", 0.5))
    assert(grown == fresh && grown.map(t => (t._1, t._2)).contains((1L, 20L)),
      s"maintained pairs must cover the admitted doc: $grown")
    Dedup.resetPairs(spark, pKey)
  }

  // ---- randomized append-exactness (VERDICT r13 next #4): scalacheck
  // generates corpora/batches with unicode tokens, token repetition,
  // overlapping (re-delivered) docs, empty batches and whole-batch
  // replays, plus thresholds pinned EXACTLY to ceil boundaries (t·|A|
  // integral — the prefix-lemma edge) — and asserts grown ≡ fresh for
  // both pair variants and for the additive gram artifact under the
  // batch-id ledger. Fixed seed: failures reproduce.

  private val propVocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "λόγος", "日本語", "héllo", "мир", "🚀rocket",
    "naïve", "中文词")

  private def genDoc: org.scalacheck.Gen[String] = for {
    s <- org.scalacheck.Gen.chooseNum(3, 10)
    toks <- org.scalacheck.Gen.listOfN(s, org.scalacheck.Gen.oneOf(propVocab))
  } yield toks.mkString(" ")

  private def genDocs(ids: Range): org.scalacheck.Gen[Seq[(Long, String)]] =
    genDocsOf(ids, genDoc)

  private def genDocsOf(ids: Range, g: org.scalacheck.Gen[String])
  : org.scalacheck.Gen[Seq[(Long, String)]] =
    org.scalacheck.Gen.listOfN(ids.size, g)
      .map(ds => ids.map(_.toLong).zip(ds))

  /** Sizes on the size-band edges of t = 0.8/0.9/0.95 (4/5, 8/10, 9/10,
    * 16/20, 18/20, 19/20) and one past them, as nested token sets.
    */
  private val edgeSizes = Seq(4, 5, 6, 8, 9, 10, 11, 16, 18, 19, 20, 21)
  private def genEdgeDoc: org.scalacheck.Gen[String] = for {
    k <- org.scalacheck.Gen.oneOf(edgeSizes)
    shift <- org.scalacheck.Gen.oneOf(0, 1)
  } yield nested(k, shift)
  private def genPairDoc = org.scalacheck.Gen.frequency(2 -> genDoc, 1 -> genEdgeDoc)

  private def checkProp(name: String, trials: Int,
                        prop: org.scalacheck.Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(trials)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val propKey = new java.util.concurrent.atomic.AtomicInteger(0)

  test("property: grown pair artifact ≡ fresh build — random corpora, unicode, " +
    "overlaps, empty batches, replays, ceil-boundary thresholds, both variants") {
    val genCase = for {
      // random docs mixed with nested docs whose sizes sit on the size-band
      // edges (the length filter's boundary, see genEdgeDoc)
      corpus <- genDocsOf(1 to 4, genPairDoc)
      b1 <- genDocsOf(11 to 13, genPairDoc)
      b2 <- genDocsOf(21 to 22, genPairDoc)
      // threshold: anywhere in (0.5, 0.95), EXACTLY k/s for a doc size s in
      // range — the ceil(t·|A|) boundary the prefix lemma must survive
      // (rn <= sz - ceil(t·sz) + 1 with t·sz integral) — or one whose band
      // edges the nested docs sit on
      t <- org.scalacheck.Gen.oneOf(
        org.scalacheck.Gen.chooseNum(0.5, 0.95),
        for {
          s <- org.scalacheck.Gen.chooseNum(4, 10)
          k <- org.scalacheck.Gen.chooseNum(2, s)
        } yield k.toDouble / s,
        org.scalacheck.Gen.oneOf(0.8, 0.9, 0.95))
      lsh <- org.scalacheck.Gen.oneOf(false, true)
      overlap <- org.scalacheck.Gen.oneOf(true, false) // b2 re-delivers a corpus doc
      emptyBatch <- org.scalacheck.Gen.oneOf(true, false)
      replayB1 <- org.scalacheck.Gen.oneOf(true, false)
      // plant a guaranteed cross pair (batch doc = set-dup of a corpus
      // doc under a new id) so trials can't all be vacuously pair-free
      plant <- org.scalacheck.Gen.oneOf(true, false)
    } yield (corpus, b1, b2, t, lsh, overlap, emptyBatch, replayB1, plant)
    val prop = org.scalacheck.Prop.forAllNoShrink(genCase) {
      case (corpus, b1raw, b2raw, t, lsh, overlap, emptyBatch, replayB1, plant) =>
        val key = s"pairprop-${propKey.incrementAndGet()}"
        try {
          val b1 = if (plant) (11L, corpus.head._2) +: b1raw.tail else b1raw
          val b2 = if (overlap) b2raw ++ corpus.take(1) else b2raw
          Dedup.trainedPairs(df(corpus), "doc_id", "text", t, key, lsh)
          assert(Dedup.appendPairs(df(b1), "doc_id", "text", t, key, lsh))
          if (emptyBatch)
            assert(Dedup.appendPairs(df(Seq.empty[(Long, String)]),
              "doc_id", "text", t, key, lsh))
          if (replayB1) // at-least-once re-delivery of the whole batch
            assert(Dedup.appendPairs(df(b1), "doc_id", "text", t, key, lsh))
          assert(Dedup.appendPairs(df(b2), "doc_id", "text", t, key, lsh))
          val grown = Dedup.trainedPairs(df(corpus), "doc_id", "text", t, key, lsh)
          // reference: first-delivery-wins distinct union (replay guard)
          val all = (corpus ++ b1 ++ b2).distinctBy(_._1)
          val fresh =
            if (lsh) Dedup.minhashLshPairs(df(all), "doc_id", "text", t)
            else Dedup.jaccardPairs(df(all), "doc_id", "text", t)
          pairSet(grown) == pairSet(fresh)
        } finally Dedup.resetPairs(spark, key)
    }
    checkProp("pair append-exactness", 8, prop)
  }

  test("property: additive gram artifact under the batch-id ledger ≡ fresh " +
    "gram stats — replayed batch ids are no-ops, short-doc batches append nothing") {
    def ghCountsOf(g: org.apache.spark.sql.DataFrame) = g
      .groupBy("gh").agg(sum("n_docs").as("d"), sum("n_occ").as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val genCase = for {
      corpus <- genDocs(1 to 3)
      b1 <- genDocs(11 to 12)
      b2 <- genDocs(21 to 22)
      replayIds <- org.scalacheck.Gen.someOf(Seq(0L, 1L))
      shortBatch <- org.scalacheck.Gen.oneOf(true, false)
    } yield (corpus, b1, b2, replayIds.toSet, shortBatch)
    val minLen = 3
    val prop = org.scalacheck.Prop.forAllNoShrink(genCase) {
      case (corpus, b1, b2, replayIds, shortBatch) =>
        val key = s"gramprop-${propKey.incrementAndGet()}"
        try {
          Dedup.trainedGramIndex(df(corpus), "doc_id", "text", key, minLen)
          assert(Dedup.appendGramAdmitted(df(b1), "doc_id", "text", key,
            minLen, batchId = Some(0L), writerId = "w"))
          if (replayIds(0L)) // ledger: same (writer, batchId) is a no-op
            assert(Dedup.appendGramAdmitted(df(b1), "doc_id", "text", key,
              minLen, batchId = Some(0L), writerId = "w"))
          if (shortBatch) { // docs below the gram window net zero rows:
            val before = Dedup.gramSegmentCount(spark, key)
            assert(Dedup.appendGramAdmitted(
              df(Seq(31L -> "xx yy")), "doc_id", "text", key,
              minLen, batchId = Some(5L), writerId = "w"))
            assert(Dedup.gramSegmentCount(spark, key) == before,
              "empty gram batch must not append a segment")
          }
          assert(Dedup.appendGramAdmitted(df(b2), "doc_id", "text", key,
            minLen, batchId = Some(1L), writerId = "w"))
          if (replayIds(1L))
            assert(Dedup.appendGramAdmitted(df(b2), "doc_id", "text", key,
              minLen, batchId = Some(1L), writerId = "w"))
          val grown = Dedup.gramSegmentsOf(spark, key)
            .reduce(_ unionByName _)
          val fresh = Dedup.gramStats(
            df(corpus ++ b1 ++ b2 ++
              (if (shortBatch) Seq(31L -> "xx yy") else Nil)),
            "doc_id", "text", minLen)
          ghCountsOf(grown) == ghCountsOf(fresh)
        } finally Dedup.resetIndex(spark, key)
    }
    checkProp("gram append-exactness", 6, prop)
  }

  test("refreshDataset drops the refreshed table's dedup-family artifacts") {
    import graft.search.Sketches
    // isolated lake copy (the SearchSpec refresh pattern) so the shared
    // sf0.001 sketch cache entry is untouched
    val tmp = java.nio.file.Files.createTempDirectory("graft-pairs-refresh").toString
    val src = java.nio.file.Paths.get(SparkTestSession.sf0001)
    java.nio.file.Files.list(src).forEach { p =>
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(tmp, p.getFileName.toString))
    }
    val docs = Tables.load(spark, tmp, "documents").filter(col("doc_id") < 50)
    Dedup.trainedPairs(docs, "doc_id", "text", 0.9, s"$tmp#pairs:documents@0.9")
    Dedup.trainedPairs(docs, "doc_id", "text", 0.9,
      s"$tmp#pairs_lsh:documents@0.9", lsh = true)
    Dedup.trainedIndex(docs, "doc_id", "text", s"$tmp#dedup_idx:documents")
    assert(Dedup.pairSegmentCount(spark, s"$tmp#pairs:documents@0.9") == 1)
    assert(Dedup.segmentCount(spark, s"$tmp#dedup_idx:documents") == 1)
    // refreshing ANOTHER table must not touch the documents artifacts
    Sketches.refreshDataset(spark, tmp, "nation")
    assert(Dedup.pairSegmentCount(spark, s"$tmp#pairs:documents@0.9") == 1)
    assert(Dedup.pairSegmentCount(spark, s"$tmp#pairs_lsh:documents@0.9") == 1)
    assert(Dedup.segmentCount(spark, s"$tmp#dedup_idx:documents") == 1)
    // refreshing documents drops the whole derived family
    Sketches.refreshDataset(spark, tmp, "documents")
    assert(Dedup.pairSegmentCount(spark, s"$tmp#pairs:documents@0.9") == 0)
    assert(Dedup.pairSegmentCount(spark, s"$tmp#pairs_lsh:documents@0.9") == 0)
    assert(Dedup.segmentCount(spark, s"$tmp#dedup_idx:documents") == 0)
    Sketches.reset(spark, tmp)
  }

  test("maintenance is conf-independent: artifacts built+appended under " +
    "the ingest conf (AQE off, 4 static shuffle partitions) ≡ default") {
    val corpus = df(corpusRows)
    val batch = df(batchRows)
    def grownUnder(key: String): (Set[(Long, Long, Double)],
      Set[(Long, String, Long)]) = {
      Dedup.resetPairs(spark, key)
      graft.ingest.TermStats.resetTermFreqs(spark, key)
      Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, s"$key:pairs")
      graft.ingest.TermStats.trainedTermFreqs(corpus, "doc_id", "text",
        s"$key:tf")
      assert(Dedup.appendPairs(batch, "doc_id", "text", 0.8, s"$key:pairs"))
      assert(graft.ingest.TermStats.appendTermFreqs(batch, "doc_id", "text",
        s"$key:tf"))
      val pairs = pairSet(
        Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, s"$key:pairs"))
      val tf = graft.ingest.TermStats.trainedTermFreqs(corpus, "doc_id",
          "text", s"$key:tf")
        .select("doc_id", "term", "tf").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      Dedup.resetPairs(spark, key)
      graft.ingest.TermStats.resetTermFreqs(spark, key)
      (pairs, tf)
    }
    val default = grownUnder("confspec-default")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      assert(grownUnder("confspec-ingest") == default,
        "ingest-conf artifacts diverged from the default conf")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
  }
}
