package graft

import graft.ingest.TermStats
import org.scalatest.funsuite.AnyFunSuite

class TermStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "a a a b c"),
    (2L, "a b b"),
    (3L, "c c  c") // double space → empty token must be dropped
  ).toDF("doc_id", "text")

  test("tokens lowercase, split on space, drop empties") {
    val t = TermStats.tokens(docs, "doc_id", "text")
    assert(t.count() == 11)
    assert(t.filter($"term" === "").count() == 0)
  }

  test("unitTokens(n=2) kernel ≡ the canonical zip-shift bigramsOf stream") {
    import org.apache.spark.sql.functions._
    val texts = Seq("", "a", "a b", "A  B c", " x y  z ", "a a a",
      "İk Kİ step", "one two three four").zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val fast = TermStats.unitTokens(texts, "doc_id", "text", n = 2)
      .groupBy("doc_id", "term").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val ts = graft.functions.TextTokens.lowerSpaceTokens(col("text"))
    val ref = texts.select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(TermStats.bigramsOf(col("ts"))).as("term"))
      .groupBy("doc_id", "term").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fast == ref)
    assert(fast.nonEmpty)
  }

  test("tfTopK ranks by tf desc then term asc") {
    val top = TermStats.tfTopK(TermStats.tokens(docs, "doc_id", "text"), 2)
      .orderBy("doc_id", "rank").collect()
    val d1 = top.filter(_.getLong(0) == 1L).map(r => (r.getString(1), r.getLong(2)))
    assert(d1.toSeq == Seq(("a", 3L), ("b", 1L))) // b before c on tie by term asc
  }

  test("tfIdf formula (tf/ttf) * ln(N/df)") {
    val scored = TermStats.tfIdfTopK(TermStats.tokens(docs, "doc_id", "text"), 10)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    // term 'c': doc1 tf=1, doc3 tf=3 → ttf=4, df=2, N=3
    val expected = (1.0 / 4.0) * math.log(3.0 / 2.0)
    assert(math.abs(scored((1L, "c")) - BigDecimal(expected).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // term 'a' in doc2: tf=1, ttf=4, df=2
    assert(math.abs(scored((2L, "a")) - scored((1L, "c"))) < 1e-9)
  }

  test("postingLists shards by doc id and orders postings within the shard") {
    // doc ids straddle the shard boundary: 1,5 → shard 1; 2 → shard 2
    val d = Seq(
      (1L, "a a b"),
      (5L, "a c"),
      (2L, "a")).toDF("doc_id", "text")
    val got = TermStats.postingLists(d, "doc_id", "text", nShards = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // term a, shard 1: docs 1 (tf 2) and 5 (tf 1) ordered by doc id
    assert(got(("a", 1L)) == ((2L, 3L, "1:2,5:1")))
    assert(got(("a", 2L)) == ((1L, 1L, "2:1")))
    assert(got(("b", 1L)) == ((1L, 1L, "1:1")))
    assert(got(("c", 1L)) == ((1L, 1L, "5:1")))
    // a hot term never concentrates: rows are bounded per shard
    assert(!got.contains(("a", 0L)) && !got.contains(("a", 3L)))
  }

  test("trainedTermFreqs: artifact-fed consumers match inline builds, " +
    "memo serves one pinned frame, reset forces a true rebuild") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted
      df.select(cols.head, cols.tail: _*).collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    }
    val key = "termstats-spec#tf"
    TermStats.resetTermFreqs(spark, key)
    val tf = TermStats.trainedTermFreqs(docs, "doc_id", "text", key)
    // memo: second call is the same pinned frame, not a rebuild
    assert(TermStats.trainedTermFreqs(docs, "doc_id", "text", key) eq tf)
    // artifact content ≡ the inline aggregate
    assert(canon(tf) ==
      canon(TermStats.termFreqs(TermStats.tokens(docs, "doc_id", "text"))))
    // every artifact-fed consumer ≡ its inline twin
    assert(canon(TermStats.tfTopKFromTf(tf, 2)) ==
      canon(TermStats.tfTopK(TermStats.tokens(docs, "doc_id", "text"), 2)))
    assert(canon(TermStats.tfIdfTopKFromTf(tf, 10)) ==
      canon(TermStats.tfIdfTopK(TermStats.tokens(docs, "doc_id", "text"), 10)))
    assert(canon(TermStats.postingLists(docs, "doc_id", "text", 4, Some(tf))) ==
      canon(TermStats.postingLists(docs, "doc_id", "text", 4)))
    assert(canon(TermStats.tfidfKnn(docs, "doc_id", "text", Seq(1L), 4,
        1.0, Some(tf))) ==
      canon(TermStats.tfidfKnn(docs, "doc_id", "text", Seq(1L), 4, 1.0)))
    assert(canon(graft.search.Bm25.scores(docs, "doc_id", "text",
        Seq("a", "c"), tfTable = Some(tf))) ==
      canon(graft.search.Bm25.scores(docs, "doc_id", "text", Seq("a", "c"))))
    graft.Caching.release() // the inline twins' per-query pins
    // reset: next call is a NEW artifact (true-rebuild bench discipline)
    TermStats.resetTermFreqs(spark, key)
    val tf2 = TermStats.trainedTermFreqs(docs, "doc_id", "text", key)
    assert(!(tf2 eq tf) && canon(tf2) == canon(tf))
    TermStats.resetTermFreqs(spark, key)
  }

  test("appendTermFreqs: O(batch) segment appends, grown ≡ fresh, " +
    "compaction preserves content, prior segments untouched") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("doc_id", "term", "tf").collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    val key = "termstats-spec#tf-append"
    val batchA = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val batchB = Seq((3L, "a c c")).toDF("doc_id", "text")
    val batchC = Seq((4L, "b b")).toDF("doc_id", "text")
    // append before any build is a no-op
    TermStats.resetTermFreqs(spark, key)
    assert(!TermStats.appendTermFreqs(batchB, "doc_id", "text", key))
    TermStats.trainedTermFreqs(batchA, "doc_id", "text", key)
    val seg0 = TermStats.tfStore.segments(spark, key).head
    assert(TermStats.appendTermFreqs(batchB, "doc_id", "text", key))
    // O(batch): the prior segment is REFERENCE-IDENTICAL (not rebuilt) and
    // the new segment holds only the batch's own rows
    val segs = TermStats.tfStore.segments(spark, key)
    assert(segs.size == 2 && (segs.head eq seg0))
    assert(segs(1).count() == 2) // batchB: (3,a,1), (3,c,2)
    // grown artifact ≡ a fresh build over the full corpus
    val grown = TermStats.trainedTermFreqs(batchA, "doc_id", "text", key)
    assert(canon(grown) ==
      canon(TermStats.termFreqs(TermStats.tokens(
        batchA.unionAll(batchB), "doc_id", "text"))))
    // past maxSegments the segments compact to ONE pin, content preserved
    assert(TermStats.appendTermFreqs(batchC, "doc_id", "text", key,
      maxSegments = 2))
    assert(TermStats.tfStore.segmentCount(spark, key) == 1)
    assert(canon(TermStats.trainedTermFreqs(batchA, "doc_id", "text", key)) ==
      canon(TermStats.termFreqs(TermStats.tokens(
        batchA.unionAll(batchB).unionAll(batchC), "doc_id", "text"))))
    // REPLAY idempotence: re-appending an already-present batch must not
    // double its tf rows (at-least-once micro-batch retries), and a batch
    // that nets no new docs appends no segment
    val before = canon(TermStats.trainedTermFreqs(batchA, "doc_id", "text", key))
    val segCount = TermStats.tfStore.segmentCount(spark, key)
    assert(TermStats.appendTermFreqs(batchB, "doc_id", "text", key))
    assert(TermStats.tfStore.segmentCount(spark, key) == segCount,
      "replayed batch must not append a segment")
    assert(canon(TermStats.trainedTermFreqs(batchA, "doc_id", "text", key))
      == before, "replayed batch must not change the artifact")
    // a mixed batch (one present doc, one new) appends only the new doc
    val mixed = Seq((3L, "a c c"), (9L, "z z")).toDF("doc_id", "text")
    assert(TermStats.appendTermFreqs(mixed, "doc_id", "text", key))
    val afterMixed = TermStats.trainedTermFreqs(batchA, "doc_id", "text", key)
    assert(canon(afterMixed) == (before ++ Seq("9|z|2")).sorted,
      "only the new doc's rows may join the artifact")
    TermStats.resetTermFreqs(spark, key)
  }

  test("property: grown TF artifact ≡ fresh over first-delivery-wins corpus — " +
    "random unicode docs, unigram+bigram, overlaps, empties, one-token docs") {
    // randomized append-exactness (VERDICT r13 next #4), scalacheck with a
    // fixed seed so failures reproduce; the generator covers re-delivered
    // docs (replay guard), empty batches, and one-token docs that net zero
    // bigram units (the zero-unit-segment guard)
    val vocab = Vector("alpha", "beta", "λόγος", "日本語", "héllo", "мир",
      "🚀", "naïve", "中文", "a")
    val genDoc = for {
      s <- org.scalacheck.Gen.chooseNum(1, 6) // 1-token docs: no bigrams
      toks <- org.scalacheck.Gen.listOfN(s, org.scalacheck.Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    def genDocs(ids: Range) =
      org.scalacheck.Gen.listOfN(ids.size, genDoc)
        .map(ds => ids.map(_.toLong).zip(ds))
    val keyN = new java.util.concurrent.atomic.AtomicInteger(0)
    val genCase = for {
      corpus <- genDocs(1 to 3)
      b1 <- genDocs(11 to 12)
      b2 <- genDocs(21 to 22)
      n <- org.scalacheck.Gen.oneOf(1, 2)
      overlap <- org.scalacheck.Gen.oneOf(true, false)
      replayB1 <- org.scalacheck.Gen.oneOf(true, false)
      emptyBatch <- org.scalacheck.Gen.oneOf(true, false)
    } yield (corpus, b1, b2, n, overlap, replayB1, emptyBatch)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("doc_id", "term", "tf").collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    val prop = org.scalacheck.Prop.forAllNoShrink(genCase) {
      case (corpus, b1, b2raw, n, overlap, replayB1, emptyBatch) =>
        val key = s"termstats-prop#${keyN.incrementAndGet()}"
        try {
          val b2 = if (overlap) b2raw ++ corpus.take(1) else b2raw
          TermStats.trainedTermFreqs(
            corpus.toDF("doc_id", "text"), "doc_id", "text", key, n)
          assert(TermStats.appendTermFreqs(
            b1.toDF("doc_id", "text"), "doc_id", "text", key))
          if (replayB1)
            assert(TermStats.appendTermFreqs(
              b1.toDF("doc_id", "text"), "doc_id", "text", key))
          if (emptyBatch)
            assert(TermStats.appendTermFreqs(
              Seq.empty[(Long, String)].toDF("doc_id", "text"),
              "doc_id", "text", key))
          assert(TermStats.appendTermFreqs(
            b2.toDF("doc_id", "text"), "doc_id", "text", key))
          val grown = TermStats.trainedTermFreqs(
            corpus.toDF("doc_id", "text"), "doc_id", "text", key, n)
          val all = (corpus ++ b1 ++ b2).distinctBy(_._1)
          val fresh = TermStats.termFreqs(TermStats.unitTokens(
            all.toDF("doc_id", "text"), "doc_id", "text", n))
          canon(grown) == canon(fresh)
        } finally TermStats.resetTermFreqs(spark, key)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(10)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, s"tf append-exactness: ${res.status}")
  }

  test("TF artifact n-gram order is bound to the key: mismatched fetch " +
    "throws, appends follow the BUILT order, zero-unit batches append " +
    "no segment") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("doc_id", "term", "tf").collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    val key = "termstats-spec#tf-order"
    val corpus = Seq((1L, "a b c"), (2L, "b c b c")).toDF("doc_id", "text")
    TermStats.resetTermFreqs(spark, key)
    TermStats.trainedTermFreqs(corpus, "doc_id", "text", key, n = 2)
    // fetching the bigram artifact at n = 1 would silently serve the wrong
    // unit stream — it must throw instead
    val e = intercept[IllegalArgumentException] {
      TermStats.trainedTermFreqs(corpus, "doc_id", "text", key, n = 1)
    }
    assert(e.getMessage.contains("n=2"))
    // the stream-maintenance append (no n parameter) folds BIGRAM rows in:
    // the grown artifact ≡ a fresh n = 2 build over the union
    val batch = Seq((3L, "c a b"), (4L, "solo")).toDF("doc_id", "text")
    assert(TermStats.appendTermFreqs(batch, "doc_id", "text", key))
    assert(canon(TermStats.trainedTermFreqs(corpus, "doc_id", "text", key,
        n = 2)) ==
      canon(TermStats.termFreqs(TermStats.unitTokens(
        corpus.unionAll(batch), "doc_id", "text", 2))),
      "append must use the artifact's built order (bigrams), not n = 1")
    // fresh docs with ZERO unit rows (one-token docs at n = 2) must not
    // checkpoint an empty segment — replays would churn segments forever
    val segCount = TermStats.tfStore.segmentCount(spark, key)
    assert(TermStats.appendTermFreqs(
      Seq((9L, "alone"), (10L, "word")).toDF("doc_id", "text"),
      "doc_id", "text", key))
    assert(TermStats.tfStore.segmentCount(spark, key) == segCount,
      "a zero-unit batch must append no segment")
    TermStats.resetTermFreqs(spark, key)
  }
}
