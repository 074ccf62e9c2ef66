package graft

import graft.streaming.EventWindows
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventWindowsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming tumbling (memory sink) equals batch tumbling") {
    val batchEvents = Tables.load(spark, SparkTestSession.sf0001, "events")
    val batch = EventWindows.tumbling(batchEvents, "1 hour")
      .select(col("window_start"), col("event_type"), col("n"), col("total"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

    // stream the same parquet dir through the streaming twin; complete mode
    // via the batch-equivalent: process all available then compare
    // streaming parquet source needs a directory; re-write the fixture there
    // (also normalizes the ns timestamps to Spark-native µs)
    val dir = java.nio.file.Files.createTempDirectory("ev_stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)
    val stream = EventWindows.streamingTumbling(
      spark, dir, batchEvents.schema, "1 hour")
    // complete mode: every window is in the sink after processAllAvailable,
    // so the comparison with batch is exact equality
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ev_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ev_out")
      .select(unix_timestamp(col("window_start")).as("ws"), col("event_type"),
        col("n"), col("total"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == batch)
  }

  test("stateful per-user totals accumulate across micro-batches") {
    import org.apache.spark.sql.functions.col
    val batchEvents = Tables.load(spark, SparkTestSession.sf0001, "events")
    val flat = java.nio.file.Files.createTempDirectory("ev_state").toString
    batchEvents.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(flat)
    batchEvents.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(flat)

    val q = EventWindows.statefulUserTotals(spark, flat, batchEvents.schema)
      .writeStream.outputMode("update").format("memory").queryName("user_state")
      .start()
    try q.processAllAvailable() finally q.stop()
    // last update per user must equal the batch totals
    val expect = batchEvents.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = spark.table("user_state").groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("streaming dedup keeps first occurrence per fingerprint (bounded state)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("doc_stream").toString
    val mk = (rows: Seq[(Long, String, String)]) =>
      rows.map { case (id, text, ts) => (id, text, java.sql.Timestamp.valueOf(ts)) }
        .toDF("doc_id", "text", "ts")
    // batch 1 and batch 2 share texts (modulo formatting jitter the
    // fingerprint normalizes away) within the watermark horizon
    val b1 = mk(Seq(
      (1L, "The quick brown fox", "2024-01-01 00:00:00"),
      (2L, "a different document", "2024-01-01 00:05:00")))
    val b2 = mk(Seq(
      (3L, "the quick  brown fox!", "2024-01-01 00:10:00"), // dup of 1 normalized
      (4L, "entirely new content", "2024-01-01 00:15:00")))
    b1.coalesce(1).write.mode("append").parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)

    val q = graft.streaming.CorpusStream
      .dedupStreamOn(spark.readStream.schema(b1.schema).parquet(dir))
      .writeStream.outputMode("append").format("memory").queryName("doc_dedup")
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("doc_dedup")
      .select("fingerprint", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // exactly one survivor per fingerprint; the jittered dup was dropped
    assert(out.length == 3)
    assert(out.map(_._1).distinct.length == 3)
    assert(!out.map(_._2).contains(3L) || !out.map(_._2).contains(1L),
      "documents 1 and 3 share a normalized fingerprint — only one survives")
  }

  test("streaming signal gate equals the batch signal operators row for row") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("doc_stream_gate").toString
    val clean = (Seq.fill(24)("the quick") :+ "dogs jump").mkString(" ")
    val b1 = Seq((1L, clean), (2L, "the cat sat")).toDF("doc_id", "text")
    val b2 = Seq((3L, ""), (4L, clean + " again")).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)

    val q = graft.streaming.CorpusStream
      .signalGateOn(spark.readStream.schema(b1.schema).parquet(dir))
      .writeStream.outputMode("append").format("memory").queryName("doc_gate")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("doc_gate").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap

    // batch twin over the union of both micro-batches
    val docs = b1.union(b2)
    val batch = graft.extra.Signals
      .gopherRules(docs.withColumn("entropy_micro",
        when(length(col("text")) > 0, graft.functions.TextEntropy
          .charEntropyMicro(lower(col("text"))))), "doc_id", "text",
        passthrough = Seq("entropy_micro"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(got == batch, "stream output must equal batch signals")
    assert(got(1L).last != null && got(3L).last == null,
      "entropy present for text, NULL for the empty doc")
  }

  test("streaming signal gate with a blocklist: banned phrase flips keep " +
    "to 0 on an otherwise-clean doc; stream ≡ batch composition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("doc_stream_bl").toString
    val clean = (Seq.fill(24)("the quick") :+ "dogs jump").mkString(" ")
    val banned = clean + " lorem ipsum filler"
    val docs = Seq((1L, clean), (2L, banned), (3L, "the cat sat"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.mode("append").parquet(dir)
    val terms = Seq("lorem ipsum", "unused phrase")

    val q = graft.streaming.CorpusStream
      .signalGateOn(spark.readStream.schema(docs.schema).parquet(dir),
        blocklistTerms = terms)
      .writeStream.outputMode("append").format("memory").queryName("doc_bl")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("doc_bl").collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("blocklist_hits"), r.getAs[Int]("keep")))).toMap
    // doc 1 clean → keep; doc 2 passes every Gopher rule but hits the
    // blocklist → rejected BY the blocklist; doc 3 fails Gopher anyway
    assert(got(1L) == ((0L, 1)))
    assert(got(2L) == ((1L, 0)))
    assert(got(3L) == ((0L, 0)))
    // row-for-row equality with the batch composition
    val batch = graft.streaming.CorpusStream
      .signalGateOn(docs, blocklistTerms = terms)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val full = spark.table("doc_bl").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(full == batch)
  }

  test("stream-static anti-join drops docs already fingerprinted in the corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("doc_stream2").toString
    val arrivals = Seq(
      (1L, "The quick brown fox", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "fresh new material", java.sql.Timestamp.valueOf("2024-01-01 00:05:00")))
      .toDF("doc_id", "text", "ts")
    arrivals.coalesce(1).write.mode("append").parquet(dir)
    // the historical corpus already contains doc 1's normalized text
    val corpus = Seq("the  quick BROWN fox").toDF("text")
      .select(graft.extra.TextStats.fingerprintCol(col("text")).as("fingerprint"))
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val q = graft.streaming.CorpusStream.dedupAgainstCorpus(stream, corpus)
      .writeStream.outputMode("append").format("memory").queryName("doc_anti")
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("doc_anti").select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L), s"doc 1 matches the corpus fingerprint, got $out")
  }

  test("streaming near-dup admission gates arrivals against a growing corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("doc_admit").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val b1 = Seq((10L, dup), (11L, "totally fresh content never seen before"))
      .toDF("doc_id", "text")
    val b2 = Seq((12L, "totally fresh content never seen before"))
      .toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)

    // corpus the stream is judged against; grows after batch 1's verdicts
    // (simulating the batch pipeline folding admitted docs back in)
    @volatile var corpusRows = Seq((1L, dup))
    val verdicts = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[Long])]
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = graft.streaming.eachBatch(stream) { (batch, _) =>
      val v = graft.extra.Dedup.minhashIncremental(
        corpusRows.toDF("doc_id", "text"), batch, "doc_id", "text", 0.9)
      val rows = v.collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
      verdicts.synchronized { verdicts ++= rows }
      // every admitted doc joins the corpus before the next micro-batch
      corpusRows = corpusRows ++ rows.filter(_._2 == 1L).map(x =>
        x._1 -> (if (x._1 == 11L) "totally fresh content never seen before"
                 else dup))
    }
    try q.processAllAvailable() finally q.stop()

    val byId = verdicts.toSeq.map(x => x._1 -> ((x._2, x._3))).toMap
    assert(byId(10L) == ((0L, Some(1L))), s"10 dups the seed corpus: $byId")
    // file drops may coalesce into one micro-batch; doc 11 is fresh either
    // way, and doc 12's verdict depends on whether 11 was folded in first
    assert(byId(11L) == ((1L, None)), s"11 is fresh: $byId")
    if (verdicts.size == 3 && byId(12L)._1 == 0L)
      assert(byId(12L) == ((0L, Some(11L))),
        s"12 near-dups the admitted 11 once folded in: $byId")
  }

  test("self-maintaining admission gate folds admitted docs into the index") {
    import spark.implicits._
    import graft.extra.Dedup
    val dir = java.nio.file.Files.createTempDirectory("doc_admit_maint").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val fresh = "totally fresh content never seen before"
    val b1 = Seq((10L, dup), (11L, fresh)).toDF("doc_id", "text")
    val b2 = Seq((12L, fresh)).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)
    val corpus = Seq((1L, dup)).toDF("doc_id", "text")
    val key = "spec#maintained"
    Dedup.resetIndex(spark, key)
    val verdicts = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[Long])]
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // the gate also maintains the TF FAMILY (unigram + bigram artifacts)
    // for admitted docs — appends follow each artifact's BUILT order
    val tfKey = "spec#maintained-tf"
    val tf2Key = "spec#maintained-tf/bigrams"
    graft.ingest.TermStats.resetTermFreqs(spark, tfKey)
    graft.ingest.TermStats.resetTermFreqs(spark, tf2Key)
    graft.ingest.TermStats.trainedTermFreqs(corpus, "doc_id", "text", tfKey)
    graft.ingest.TermStats.trainedTermFreqs(corpus, "doc_id", "text", tf2Key,
      n = 2)
    val q = graft.streaming.CorpusStream.admitStreamMaintained(
      stream, corpus, key, tfCacheKeys = Seq(tfKey, tf2Key)) { (v, _) =>
      val rows = v.collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
      verdicts.synchronized { verdicts ++= rows }
    }
    try q.processAllAvailable() finally { q.stop(); Dedup.resetIndex(spark, key) }
    // TF artifact now covers the seed corpus plus exactly the ADMITTED docs
    val tfDocs = graft.ingest.TermStats
      .trainedTermFreqs(corpus, "doc_id", "text", tfKey)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val admittedIds = verdicts.filter(_._2 == 1L).map(_._1).toSet
    assert(tfDocs == Set(1L) ++ admittedIds,
      s"TF artifact must hold seed + admitted docs, got $tfDocs")
    // the bigram artifact grew with BIGRAM rows: grown ≡ a fresh n = 2
    // build over seed + admitted
    def canonTf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "term", "tf").collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    val admittedDocs = spark.read.parquet(dir)
      .filter(col("doc_id").isin(admittedIds.toSeq: _*))
      .select("doc_id", "text")
    assert(canonTf(graft.ingest.TermStats.trainedTermFreqs(
        corpus, "doc_id", "text", tf2Key, n = 2)) ==
      canonTf(graft.ingest.TermStats.termFreqs(graft.ingest.TermStats
        .unitTokens(corpus.unionByName(admittedDocs), "doc_id", "text", 2))),
      "maintained bigram artifact must equal a fresh n = 2 build")
    graft.ingest.TermStats.resetTermFreqs(spark, tfKey)
    graft.ingest.TermStats.resetTermFreqs(spark, tf2Key)
    val byId = verdicts.toSeq.map(x => x._1 -> ((x._2, x._3))).toMap
    assert(byId(10L) == ((0L, Some(1L))), s"10 dups the seed corpus: $byId")
    assert(byId(11L) == ((1L, None)), s"11 is fresh: $byId")
    // the maintained index saw 11's admission before batch 2 (when the two
    // file drops really arrive as two micro-batches): 12 is rejected as a
    // duplicate of the ADMITTED 11, with no caller-side corpus wiring
    if (verdicts.size == 3)
      assert(byId(12L) == ((0L, Some(11L))),
        s"12 must reject against the maintained index: $byId")
  }

  test("monitored admission gate: metrics row matches the batch verdicts") {
    import spark.implicits._
    import graft.extra.Dedup
    val dir = java.nio.file.Files.createTempDirectory("doc_admit_mon").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val b1 = Seq((10L, dup), (11L, "totally fresh content never seen before"))
      .toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(dir)
    val corpus = Seq((1L, dup), (2L, "another corpus document entirely"))
      .toDF("doc_id", "text")
    val sigs = Dedup.bandSignatures(corpus, "doc_id", "text")
    val toks = Dedup.tokenArraysOf(corpus, "doc_id", "text")
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Map[Long, Long], (Long, Long, Long, Long, Long))]
    val stream = spark.readStream.schema(b1.schema).parquet(dir)
    val q = graft.streaming.eachBatch(stream) { (batch, _) =>
      val (v, m) = Dedup.minhashIncrementalMonitored(
        sigs, toks, batch, "doc_id", "text", 0.9)
      val vr = v.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val mr = m.collect()(0)
      seen.synchronized {
        seen += ((vr, (mr.getLong(0), mr.getLong(1), mr.getLong(2),
          mr.getLong(3), mr.getLong(4))))
      }
    }
    try q.processAllAvailable() finally q.stop()
    assert(seen.size == 1, s"one file -> one micro-batch: $seen")
    val (verdicts, (nBatch, nCand, nVerified, nAdm, nRej)) = seen.head
    assert(verdicts == Map(10L -> 0L, 11L -> 1L), s"verdicts: $verdicts")
    // metrics must equal the verdict frame…
    assert(nBatch == 2L && nAdm == 1L && nRej == 1L,
      s"batch/admit/reject: $nBatch/$nAdm/$nRej")
    // …and the candidate counts must equal an independent probe build
    val cand = Dedup.bandSignatures(b1, "doc_id", "text").as("a")
      .join(sigs.as("b"), Seq("band", "band_sig"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    assert(nCand == cand.count(), s"candidate pairs: $nCand")
    assert(nVerified == cand.select("id_a").distinct().count()
      && nVerified == 1L, s"verified docs: $nVerified")
  }

  test("composed curation ladder: stream-admitted set equals the batch verdicts") {
    import spark.implicits._
    import graft.extra.{Dedup, Signals, TextStats}
    val dir = java.nio.file.Files.createTempDirectory("doc_ladder").toString
    // gate-passing base texts: >50 words, clean stats, stopword hits
    val freshA = (1 to 14).map(i =>
      s"the quick brown fox jumps over item$i near the river bank").mkString(" ")
    val corpusText = (1 to 14).map(i =>
      s"a silver ship sails past harbor$i beyond the quiet stone pier").mkString(" ")
    // one word changed mid-document → near-dup of the corpus, not exact
    val nearDup = corpusText.replace("harbor7", "harbor99")
    val freshB = (1 to 14).map(i =>
      s"every green valley holds meadow$i beside the old cedar grove").mkString(" ")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val b1 = Seq(
      (1L, freshA, ts(0)), // passes everything → admitted
      (2L, "too short", ts(1))) // gate reject: < 50 words
      .toDF("doc_id", "text", "ts")
    val b2 = Seq(
      (3L, freshA + " ", ts(2)), // in-stream exact dup of 1 (normalized)
      (4L, corpusText.toUpperCase, ts(3)), // exact dup of the corpus
      (5L, nearDup, ts(4)), // near-dup of the corpus → admission keep=0
      (6L, freshB, ts(5))) // passes everything → admitted
      .toDF("doc_id", "text", "ts")
    b1.coalesce(1).write.mode("append").parquet(dir)
    b2.coalesce(1).write.mode("append").parquet(dir)

    val corpus = Seq((100L, corpusText)).toDF("doc_id", "text")
    val verdicts = scala.collection.mutable.Map.empty[Long, Long]
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = graft.streaming.CorpusStream.curateStream(stream,
      () => corpus.select(
        TextStats.fingerprintCol(col("text")).as("fingerprint")),
      () => Dedup.bandSignatures(corpus, "doc_id", "text"),
      () => Dedup.tokenArraysOf(corpus, "doc_id", "text")) { (v, _) =>
      val rows = v.collect().map(r => r.getLong(0) -> r.getLong(1))
      verdicts.synchronized { verdicts ++= rows }
    }
    try q.processAllAvailable() finally q.stop()

    // batch twin of the same ladder over the union of both micro-batches
    val all = b1.union(b2)
    val gatePass = Signals.gopherRules(all, "doc_id", "text")
      .filter(col("keep") === 1).select("doc_id")
    val gated = all.join(gatePass, "doc_id")
      .withColumn("fingerprint", TextStats.fingerprintCol(col("text")))
    // exact dedup keeps the first arrival; ids here are in arrival order
    val firstIds = gated.groupBy("fingerprint")
      .agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
      .select("doc_id")
    val survivors = gated.join(firstIds, "doc_id")
      .join(corpus.select(
        TextStats.fingerprintCol(col("text")).as("fingerprint")),
        Seq("fingerprint"), "left_anti")
    val batch = Dedup.minhashIncremental(corpus,
      survivors.select("doc_id", "text"), "doc_id", "text", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(verdicts.toMap == batch,
      s"stream verdicts $verdicts must equal batch verdicts $batch")
    assert(batch.filter(_._2 == 1L).keySet == Set(1L, 6L),
      s"only the two fresh docs are admitted: $batch")
    assert(batch.get(5L).contains(0L), "the corpus near-dup reaches admission and is rejected")
    assert(!batch.contains(2L) && !batch.contains(3L) && !batch.contains(4L),
      "gate/dedup rejects never reach the admission stage")

    // the stored-artifact form of the same ladder produces the same verdicts
    val fps = corpus.select(
      TextStats.fingerprintCol(col("text")).as("fingerprint"))
    val sigs = Dedup.bandSignatures(corpus, "doc_id", "text")
    val ctoks = Dedup.tokenArraysOf(corpus, "doc_id", "text")
    val verdicts2 = scala.collection.mutable.Map.empty[Long, Long]
    val stream2 = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q2 = graft.streaming.CorpusStream.curateStream(
      stream2, () => fps, () => sigs, () => ctoks) { (v, _) =>
      val rows = v.collect().map(r => r.getLong(0) -> r.getLong(1))
      verdicts2.synchronized { verdicts2 ++= rows }
    }
    try q2.processAllAvailable() finally q2.stop()
    assert(verdicts2.toMap == batch,
      s"indexed ladder verdicts $verdicts2 must equal batch verdicts $batch")

    // the ExactSubstr stage: same ladder with the stored gram artifact —
    // verdicts unchanged, and each batch doc carries its verbatim-span
    // coverage (vs corpus ∪ its own micro-batch, per-micro-batch batch twin)
    val grams = Dedup.gramStats(corpus, "doc_id", "text", 12)
    val spanCov = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val stream3 = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val microBatches =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    val q3 = graft.streaming.CorpusStream.curateStream(
      stream3, () => fps, () => sigs, () => ctoks,
      corpusGrams = Some(() => grams)) { (v, _) =>
      val rows = v.select("doc_id", "keep", "n_dup_spans", "n_dup_tokens")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3))))
      spanCov.synchronized { spanCov ++= rows }
    }
    try q3.processAllAvailable() finally q3.stop()
    assert(spanCov.view.mapValues(_._1).toMap == batch,
      "gram-stage ladder must not change the near-dup verdicts")
    // doc 5 shares long verbatim runs with the corpus (one word changed
    // mid-document): spans on both sides of the edit; fresh docs are clean
    val (k5, s5, t5) = spanCov(5L)
    assert(s5 >= 1 && t5 >= 24,
      s"near-dup doc must show verbatim span coverage, got $spanCov")
    assert(spanCov(1L)._3 == 0L && spanCov(6L)._3 == 0L,
      s"fresh docs carry zero duplicated-span tokens: $spanCov")
    // per-micro-batch equivalence: doc 5's coverage equals the batch sweep
    // over corpus ∪ {5, 6} (its micro-batch after gating/dedup)
    val mb = Seq((5L, nearDup), (6L, freshB)).toDF("doc_id", "text")
    val want5 = Dedup.spanStats(Dedup.dupSubstringSpans(
        corpus.unionByName(mb), "doc_id", "text", 12))
      .filter(col("doc_id") === 5L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).headOption.getOrElse((0L, 0L))
    assert((s5, t5) == want5,
      s"stream span stats ($s5,$t5) must equal batch twin $want5")
    assert(k5 == 0L)

    // the CONTAMINATION stage: a stored BENCHMARK gram artifact flags
    // eval text leaking through the stream — doc 1 embeds a verbatim
    // ≥5-token run of the benchmark, doc 6 is clean; verdicts unchanged
    val bench = Seq((900L,
      "the quick brown fox jumps over item3 near the river bank today"))
      .toDF("doc_id", "text")
    val benchArt = Dedup.gramStats(bench, "doc_id", "text", 5)
    val contam = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    val stream4 = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q4 = graft.streaming.CorpusStream.curateStream(
      stream4, () => fps, () => sigs, () => ctoks,
      benchGrams = Some(() => benchArt)) { (v, _) =>
      val rows = v.select("doc_id", "keep", "n_contam_spans", "n_contam_tokens")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3))))
      contam.synchronized { contam ++= rows }
    }
    try q4.processAllAvailable() finally q4.stop()
    assert(contam.view.mapValues(_._1).toMap == batch,
      "contamination stage must not change the near-dup verdicts")
    assert(contam(1L)._3 >= 5L,
      s"doc 1 carries the planted benchmark run: $contam")
    assert(contam(6L)._3 == 0L, s"doc 6 is contamination-clean: $contam")
    // stream stats equal the batch operator on the same micro-batch docs
    val want1 = Dedup.spanStats(Dedup.contaminationSpans(
        Seq((1L, freshA)).toDF("doc_id", "text"), "doc_id", "text",
        benchArt, 5)).collect()
      .map(r => (r.getLong(1), r.getLong(2))).headOption.getOrElse((0L, 0L))
    assert((contam(1L)._2, contam(1L)._3) == want1,
      s"stream contamination stats must equal the batch twin $want1")
  }

  test("funnel: strict ordering per user, stages narrow") {
    import spark.implicits._
    def ev(id: Long, u: Long, t: String, ty: String) =
      (id, java.sql.Timestamp.valueOf(t), u, ty, 1.0)
    val events = Seq(
      // u1 completes all three in order
      ev(1, 1, "2024-01-01 00:00:00", "signup"),
      ev(2, 1, "2024-01-01 00:01:00", "view"),
      ev(3, 1, "2024-01-01 00:02:00", "purchase"),
      // u2's only view is BEFORE signup → stops at stage 1
      ev(4, 2, "2024-01-01 00:00:30", "view"),
      ev(5, 2, "2024-01-01 00:01:30", "signup"),
      // u3 signup only; purchase without a view does not count
      ev(6, 3, "2024-01-01 00:00:00", "signup"),
      ev(7, 3, "2024-01-01 00:05:00", "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventWindows.funnel(events, Seq("signup", "view", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 1L), s"got $got")
  }

  test("retention: cohort by first signup week, activity narrows by offset") {
    import spark.implicits._
    def ev(id: Long, u: Long, t: String, ty: String) =
      (id, java.sql.Timestamp.valueOf(t), u, ty, 1.0)
    val events = Seq(
      // u1, u2 sign up in week A; u1 active the following week too
      ev(1, 1, "2024-01-01 00:00:00", "signup"),
      ev(2, 2, "2024-01-02 00:00:00", "signup"),
      ev(3, 1, "2024-01-09 00:00:00", "click"),
      // u3 never signs up → excluded entirely
      ev(4, 3, "2024-01-01 00:00:00", "click"),
      // u2 activity BEFORE signup week is clamped out by the >= filter
      ev(5, 2, "2023-12-20 00:00:00", "view")
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventWindows.retention(events)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList.sorted
    // offset 0: both signup events count as activity; offset 1: only u1
    assert(got == List((0L, 2L), (1L, 1L)), s"got $got")
  }

  test("sessions merge events within gap") {
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 3.0), // gap >= 5m → new
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 4.0)
    ).toDF("user_id", "ts", "value")
    val got = EventWindows.sessions(df, "5 minutes")
      .orderBy("user_id", "session_start").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("n") == 2 && got(0).getAs[Double]("total") == 3.0)
    assert(got(1).getAs[Long]("n") == 1 && got(1).getAs[Double]("total") == 3.0)
  }

  test("as-of join: inclusive at equal ts, max-event_id tie, null before first right") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val events = Seq(
      // user 1: click before any purchase → null; click at purchase ts →
      // inclusive; two purchases at the same ts → max event_id (id 11) wins
      (1L, ts(10), 1L, "click", 0.0),
      (10L, ts(20), 1L, "purchase", 5.0),
      (11L, ts(20), 1L, "purchase", 7.0),
      (2L, ts(20), 1L, "click", 0.0),
      (3L, ts(30), 1L, "click", 0.0),
      (12L, ts(40), 1L, "purchase", 9.0),
      (4L, ts(50), 1L, "click", 0.0),
      // user 2 isolated from user 1
      (5L, ts(25), 2L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.streaming.EventWindows.asOf(events)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4))
          .map(_.asInstanceOf[Double])))).toMap
    assert(got(1L) == ((None, None)))
    assert(got(2L) == ((Some(20000L), Some(7.0))))
    assert(got(3L) == ((Some(20000L), Some(7.0))))
    assert(got(4L) == ((Some(40000L), Some(9.0))))
    assert(got(5L) == ((None, None)))
  }

  test("streaming range join emits exactly the batch match set") {
    val events = Tables.load(spark, SparkTestSession.sf0001, "events")
    val dir = java.nio.file.Files.createTempDirectory("ev_range").toString
    events.write.mode("overwrite").parquet(dir)

    // expected pairs from a plain batch non-equi join (the semantics the
    // bucketed batch rangeJoin and the streaming join must both match)
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("l_ts"))
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("r_ts"))
    val expected = p.join(c, col("user_id") === col("cu")
        && col("r_ts") >= col("l_ts") - expr("interval 30 minutes")
        && col("r_ts") < col("l_ts"))
      .select(col("event_id"), unix_millis(col("r_ts")).as("r_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture must produce at least one match")

    val q = EventWindows.streamingRangeJoin(spark, dir, events.schema)
      .writeStream.outputMode("append").format("memory").queryName("range_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("range_out")
      .select(col("event_id"), col("r_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)

    // and the batch bucketed rangeJoin agrees on per-anchor match counts
    val batchCounts = EventWindows.rangeJoin(events)
      .filter(col("n_right") > 0)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_right")).toMap
    val streamCounts = spark.table("range_out").groupBy("event_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamCounts == batchCounts)
  }

  test("range join: half-open [l-30min, l) window, bin-boundary straddle, zero match") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val win = 30 * 60 // seconds
    val events = Seq(
      // purchase at t=3600 (an exact bin boundary): clicks at exactly
      // t-30min (included), t-1s (included), t (excluded), t-30min-1s
      // (excluded) — the inclusion window straddles bins 0 and 1
      (100L, ts(3600), 1L, "purchase", 0.0),
      (1L, ts(3600 - win), 1L, "click", 1.0),
      (2L, ts(3599), 1L, "click", 2.0),
      (3L, ts(3600), 1L, "click", 4.0),
      (4L, ts(3600 - win - 1), 1L, "click", 8.0),
      // purchase with no clicks at all → n_right 0, value 0
      (101L, ts(500), 2L, "purchase", 0.0),
      // same-user click outside any window
      (5L, ts(10000), 2L, "click", 16.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventWindows.rangeJoin(events).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_right"), r.getAs[Double]("right_value"))))
      .toMap
    assert(got(100L) == ((2L, 3.0)), s"expected clicks 1+2 only, got ${got(100L)}")
    assert(got(101L) == ((0L, 0.0)))
    assert(got.size == 2)
  }

  test("propsStats: schema-checked extraction, corrupt payloads counted not dropped") {
    import spark.implicits._
    val ev = Seq(
      ("click", """{"k": 3}"""),
      ("click", """{"k": 5}"""),
      ("click", "not json"),       // corrupt → NULL k, still an event
      ("view", """{"other": 1}"""), // wrong key → NULL k
      ("view", """{"k": 7}""")
    ).toDF("event_type", "props")
    val got = graft.streaming.EventWindows.propsStats(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(got("click") == ((3L, 2L, 8L, 4.0)))
    assert(got("view") == ((2L, 1L, 7L, 7.0)))
  }
}
