package graft

import graft.extra.Dedup
import graft.ingest.TermStats
import org.scalatest.funsuite.AnyFunSuite

/** The artifact RESTART story ([[TermStats.saveTermFreqs]]/`loadTermFreqs`,
  * [[Dedup.savePairs]]/`loadPairs`): a maintained session artifact written
  * to parquet and reloaded in a (simulated) fresh session must serve the
  * identical table AND keep accepting O(batch) appends exactly as the
  * pre-restart artifact did — the appends-after-load case is the one a
  * naive snapshot (pairs only, no probe/toks state) would silently break.
  */
class ArtifactPersistenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def doc(toks: Seq[String]) = toks.mkString(" ")
  private val base = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  private val corpusRows = Seq(
    1L -> doc(base),
    2L -> doc(base.reverse),
    3L -> doc(base.take(9) :+ "lambda"),
    4L -> doc(Seq("mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "phi")))
  private val b1Rows = Seq(
    11L -> doc(Seq("mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "phi")),
    12L -> doc(Seq("chi", "psi", "omega", "one", "two",
      "three", "four", "five", "six", "seven")))
  private val b2Rows = Seq(
    21L -> doc(base.take(9) :+ "pi"),
    22L -> doc(Seq("chi", "psi", "omega", "one", "two",
      "three", "four", "five", "six", "seven")))
  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def tfSet(d: org.apache.spark.sql.DataFrame) =
    d.select("doc_id", "term", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def pairSet(p: org.apache.spark.sql.DataFrame) =
    p.select("id_a", "id_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("TF artifact: save → load serves the identical table; appends keep " +
    "working after the load; n-gram order survives the round-trip") {
    for (n <- Seq(1, 2)) {
      val key = s"persist-tf-n$n"
      val path = tmp("tfsave")
      TermStats.resetTermFreqs(spark, key)
      TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key, n = n)
      assert(TermStats.appendTermFreqs(df(b1Rows), "doc_id", "text", key))
      val before = tfSet(
        TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key, n = n))
      assert(TermStats.saveTermFreqs(spark, key, path))
      // simulated restart: the in-session artifact is gone
      TermStats.resetTermFreqs(spark, key)
      assert(TermStats.tfSegmentCount(spark, key) == 0)
      val loaded = tfSet(TermStats.loadTermFreqs(spark, path, key))
      assert(loaded == before, s"n=$n: loaded table differs from saved")
      // maintenance continues at the SAVED n-gram order
      assert(TermStats.appendTermFreqs(df(b2Rows), "doc_id", "text", key))
      val grown = tfSet(
        TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key, n = n))
      TermStats.resetTermFreqs(spark, s"persist-tf-fresh-n$n")
      val fresh = tfSet(TermStats.trainedTermFreqs(
        df(corpusRows ++ b1Rows ++ b2Rows), "doc_id", "text",
        s"persist-tf-fresh-n$n", n = n))
      assert(grown == fresh, s"n=$n: post-load append diverged from fresh")
      TermStats.resetTermFreqs(spark, key)
      TermStats.resetTermFreqs(spark, s"persist-tf-fresh-n$n")
    }
  }

  test("TF artifact: save of an unbuilt key is false; load refuses to " +
    "shadow a live artifact") {
    val key = "persist-tf-guards"
    TermStats.resetTermFreqs(spark, key)
    assert(!TermStats.saveTermFreqs(spark, key, tmp("tfguard")))
    val path = tmp("tfguard2")
    TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key)
    assert(TermStats.saveTermFreqs(spark, key, path))
    intercept[IllegalArgumentException] {
      TermStats.loadTermFreqs(spark, path, key)
    }
    TermStats.resetTermFreqs(spark, key)
  }

  test("pair artifact: save → load serves identical pairs and accepts " +
    "appends — exact (prefix-probe) and LSH (signature-probe) variants") {
    for (lsh <- Seq(false, true)) {
      val key = s"persist-pairs-$lsh"
      val path = tmp("pairsave")
      Dedup.resetPairs(spark, key)
      val corpus = df(corpusRows)
      Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key, lsh)
      assert(Dedup.appendPairs(df(b1Rows), "doc_id", "text", 0.8, key, lsh))
      val before = pairSet(
        Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key, lsh))
      assert(Dedup.savePairs(spark, key, path))
      Dedup.resetPairs(spark, key)
      assert(Dedup.pairSegmentCount(spark, key) == 0)
      val loaded = pairSet(Dedup.loadPairs(spark, path, key))
      assert(loaded == before, s"lsh=$lsh: loaded pairs differ from saved")
      // the probe/toks state came back too: an append after the restart
      // produces exactly the fresh-build pair set over the grown corpus
      assert(Dedup.appendPairs(df(b2Rows), "doc_id", "text", 0.8, key, lsh))
      val grown = pairSet(
        Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key, lsh))
      val all = df(corpusRows ++ b1Rows ++ b2Rows)
      val fresh = pairSet(
        if (lsh) Dedup.minhashLshPairs(all, "doc_id", "text", 0.8)
        else Dedup.jaccardPairs(all, "doc_id", "text", 0.8))
      assert(grown == fresh, s"lsh=$lsh: post-load append diverged from fresh")
      Dedup.resetPairs(spark, key)
    }
  }

  test("pair snapshots hold pairs + arrays only; a snapshot in the former " +
    "three-part layout (postings without set sizes) loads and appends like " +
    "a fresh build") {
    import org.apache.spark.sql.functions.{col, explode}
    val corpus = df(corpusRows)
    val all = df(corpusRows ++ b1Rows ++ b2Rows)
    for (lsh <- Seq(false, true)) {
      val key = s"persist-pairs-layout-$lsh"
      Dedup.resetPairs(spark, key)
      try {
        Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, key, lsh)
        assert(Dedup.appendPairs(df(b1Rows), "doc_id", "text", 0.8, key, lsh))
        val segs = Dedup.pairSegmentsOf(spark, key)
        val pairs = segs.map(_.pairs).reduce(_ unionByName _)
        val toks = segs.map(_.toks).reduce(_ unionByName _)
        // today's layout: the probe is derivable, so it is not written
        val path = tmp("pairlayout")
        assert(Dedup.savePairs(spark, key, path))
        val parts = new java.io.File(Snapshots.resolveDir(spark, path))
          .listFiles().filter(_.isDirectory).map(_.getName).toSet
        assert(parts == Set("pairs", "toks"), s"snapshot parts: $parts")
        // the former layout: a stored probe part, postings as (term, doc_id)
        val legacy = tmp("pairlayout-legacy")
        Snapshots.write(spark, legacy, Seq("pairs" -> pairs, "toks" -> toks,
          "probe" -> (
            if (lsh) segs.flatMap(_.probe).reduce(_ unionByName _)
            else toks.select(explode(col("toks")).as("term"), col("doc_id")))))
        for (p <- Seq(path, legacy)) {
          Dedup.resetPairs(spark, key)
          Dedup.loadPairs(spark, p, key)
          assert(Dedup.appendPairs(df(b2Rows), "doc_id", "text", 0.8, key, lsh))
          val fresh = pairSet(
            if (lsh) Dedup.minhashLshPairs(all, "doc_id", "text", 0.8)
            else Dedup.jaccardPairs(all, "doc_id", "text", 0.8))
          assert(pairSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.8,
            key, lsh)) == fresh, s"lsh=$lsh: append after loading $p diverged")
        }
      } finally Dedup.resetPairs(spark, key)
    }
  }

  test("snapshot parts are sized by their data: a part unioning many pinned " +
    "segments is written as one file below the split size") {
    val key = "persist-tf-files"
    TermStats.resetTermFreqs(spark, key)
    try {
      TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key)
      for ((id, text) <- b1Rows ++ b2Rows)
        assert(TermStats.appendTermFreqs(df(Seq(id -> text)), "doc_id", "text", key))
      val tf = TermStats.tfSegmentsOf(spark, key).reduce(_ unionByName _)
      assert(tf.rdd.getNumPartitions > 1, "the union must span partitions")
      assert(Snapshots.filesFor(tf) == 1)
      // the split size is the target: a tiny one leaves every partition
      // its own file (coalescing never splits)
      val split0 = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
      try assert(Snapshots.filesFor(tf) >= tf.rdd.getNumPartitions)
      finally spark.conf.set("spark.sql.files.maxPartitionBytes", split0)
      val path = tmp("tffiles")
      assert(TermStats.saveTermFreqs(spark, key, path))
      val files = new java.io.File(Snapshots.resolveDir(spark, path), "tf")
        .list().filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"tf part written as ${files.length} files")
    } finally TermStats.resetTermFreqs(spark, key)
  }

  private def rowSet(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(_.toSeq).toSet

  test("admission index: save → load restores both maintenance tables and " +
    "keeps accepting appends") {
    val key = "persist-idx"
    val path = tmp("idxsave")
    Dedup.resetIndex(spark, key)
    Dedup.trainedIndex(df(corpusRows), "doc_id", "text", key)
    assert(Dedup.appendAdmitted(df(b1Rows), "doc_id", "text", key))
    val (sig0, tok0) = Dedup.trainedIndex(df(corpusRows), "doc_id", "text", key)
    val (sigBefore, tokBefore) = (rowSet(sig0), rowSet(tok0))
    assert(Dedup.saveIndex(spark, key, path))
    Dedup.resetIndex(spark, key)
    val (sig1, tok1) = Dedup.loadIndex(spark, path, key)
    assert(rowSet(sig1) == sigBefore && rowSet(tok1) == tokBefore)
    // maintenance continues: the appended docs join the served index
    assert(Dedup.appendAdmitted(df(b2Rows), "doc_id", "text", key))
    val (_, tok2) = Dedup.trainedIndex(df(corpusRows), "doc_id", "text", key)
    val ids = tok2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(b2Rows.map(_._1).toSet.subsetOf(ids), s"post-load append lost docs: $ids")
    Dedup.resetIndex(spark, key)
  }

  test("gram artifact: the exactly-once ledger survives the restart — a " +
    "pre-crash batch replay stays a no-op, a new batch still folds in") {
    val key = "persist-grams"
    val path = tmp("gramsave")
    Dedup.resetIndex(spark, key)
    val corpus = df(corpusRows)
    // minLen below the fixture's doc length so grams exist
    Dedup.trainedGramIndex(corpus, "doc_id", "text", key, minLen = 3)
    assert(Dedup.appendGramAdmitted(df(b1Rows), "doc_id", "text", key,
      minLen = 3, batchId = Some(7L), writerId = "w"))
    def served = Dedup.trainedGramIndex(corpus, "doc_id", "text", key, minLen = 3)
      .groupBy("gh").sum("n_docs", "n_occ").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = served
    assert(Dedup.saveGramIndex(spark, key, path))
    Dedup.resetIndex(spark, key) // wipes the in-session ledger too
    val loaded = Dedup.loadGramIndex(spark, path, key)
    assert(loaded.count() > 0)
    assert(served == before, "loaded gram counts differ from saved")
    // REPLAY of the pre-crash batch: without the persisted ledger this
    // would double batch 7's additive counts
    assert(Dedup.appendGramAdmitted(df(b1Rows), "doc_id", "text", key,
      minLen = 3, batchId = Some(7L), writerId = "w"))
    assert(served == before, "replayed batch 7 double-counted after restart")
    // a genuinely new batch still folds in ≡ fresh stats over the union
    assert(Dedup.appendGramAdmitted(df(b2Rows), "doc_id", "text", key,
      minLen = 3, batchId = Some(8L), writerId = "w"))
    val fresh = Dedup.gramStats(df(corpusRows ++ b1Rows ++ b2Rows),
      "doc_id", "text", minLen = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(served == fresh, "post-load append diverged from fresh gram stats")
    Dedup.resetIndex(spark, key)
  }

  test("media-feature artifact: save → load serves identical features and " +
    "keeps accepting appends") {
    val key = "persist-feats"
    val path = tmp("featsave")
    graft.extra.Multimodal.resetFeatures(spark, key)
    graft.extra.Multimodal.trainedFeatures(df(corpusRows), key)
    val before = rowSet(graft.extra.Multimodal.trainedFeatures(df(corpusRows), key))
    assert(graft.extra.Multimodal.saveFeatures(spark, key, path))
    graft.extra.Multimodal.resetFeatures(spark, key)
    assert(rowSet(graft.extra.Multimodal.loadFeatures(spark, path, key)) == before)
    assert(graft.extra.Multimodal.appendFeatures(df(b1Rows), key))
    val grown = rowSet(graft.extra.Multimodal.trainedFeatures(df(corpusRows), key))
    graft.extra.Multimodal.resetFeatures(spark, "persist-feats-fresh")
    val fresh = rowSet(graft.extra.Multimodal.trainedFeatures(
      df(corpusRows ++ b1Rows), "persist-feats-fresh"))
    assert(grown == fresh, "post-load feature append diverged from fresh")
    graft.extra.Multimodal.resetFeatures(spark, key)
    graft.extra.Multimodal.resetFeatures(spark, "persist-feats-fresh")
  }

  test("read-vs-prune window: a frame returned by load stays consumable " +
    "after later saves prune the version it was read from") {
    // Snapshots.write prunes prior committed versions on each save, and the
    // per-key lock serializes save/load CALLS — not the lifetime of the
    // returned frames. The loads are safe anyway because every load path
    // pins via Caching.pinArtifact, whose checkpoint()/localCheckpoint()
    // are EAGER: the parquet bytes are materialized before load returns,
    // so a subsequent prune deletes files nothing will read again. This
    // spec is the regression tripwire for that property — a lazy load
    // would throw FAILED_READ_FILE at the final collect below.
    val key = "persist-prune-window"
    val path = tmp("prunewin")
    TermStats.resetTermFreqs(spark, key)
    TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key)
    val expect = tfSet(
      TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key))
    assert(TermStats.saveTermFreqs(spark, key, path)) // v1
    TermStats.resetTermFreqs(spark, key)
    val loaded = TermStats.loadTermFreqs(spark, path, key) // reads v1
    assert(TermStats.saveTermFreqs(spark, key, path)) // v2: prunes v1
    assert(TermStats.saveTermFreqs(spark, key, path)) // v3: prunes v2
    assert(tfSet(loaded) == expect,
      "loaded frame unreadable or changed after its version was pruned")
    TermStats.resetTermFreqs(spark, key)

    // same window through the media-feature family (a second, independent
    // load path — both must pin before returning)
    val fkey = "persist-prune-window-feats"
    val fpath = tmp("prunewinf")
    graft.extra.Multimodal.resetFeatures(spark, fkey)
    graft.extra.Multimodal.trainedFeatures(df(corpusRows), fkey)
    val fexpect = rowSet(
      graft.extra.Multimodal.trainedFeatures(df(corpusRows), fkey))
    assert(graft.extra.Multimodal.saveFeatures(spark, fkey, fpath))
    graft.extra.Multimodal.resetFeatures(spark, fkey)
    val floaded = graft.extra.Multimodal.loadFeatures(spark, fpath, fkey)
    assert(graft.extra.Multimodal.saveFeatures(spark, fkey, fpath))
    assert(graft.extra.Multimodal.saveFeatures(spark, fkey, fpath))
    assert(rowSet(floaded) == fexpect,
      "loaded feature frame unreadable after its version was pruned")
    graft.extra.Multimodal.resetFeatures(spark, fkey)
  }

  test("pair artifact: save of an unbuilt key is false; load refuses to " +
    "shadow a live artifact") {
    val key = "persist-pairs-guards"
    Dedup.resetPairs(spark, key)
    assert(!Dedup.savePairs(spark, key, tmp("pairguard")))
    val path = tmp("pairguard2")
    Dedup.trainedPairs(df(corpusRows), "doc_id", "text", 0.8, key)
    assert(Dedup.savePairs(spark, key, path))
    intercept[IllegalArgumentException] {
      Dedup.loadPairs(spark, path, key)
    }
    Dedup.resetPairs(spark, key)
  }

  test("snapshots are crash-safe: a save that dies mid-write leaves the " +
    "committed version intact; re-saves supersede and prune") {
    val key = "persist-crash"
    val path = tmp("crashsave")
    TermStats.resetTermFreqs(spark, key)
    TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key)
    val v1 = tfSet(TermStats.trainedTermFreqs(
      df(corpusRows), "doc_id", "text", key))
    assert(TermStats.saveTermFreqs(spark, key, path))
    // simulate a save that crashed mid-write: a HIGHER version directory
    // with a plausible part but NO _DONE flag and NO marker flip
    val partial = new java.io.File(path, "v99")
    assert(partial.mkdirs())
    spark.range(3).toDF("junk").write.parquet(s"$path/v99/tf")
    TermStats.resetTermFreqs(spark, key)
    assert(tfSet(TermStats.loadTermFreqs(spark, path, key)) == v1,
      "load after a crashed save must serve the committed snapshot")
    // a lost marker falls back to the highest COMPLETE version, still v1's
    TermStats.resetTermFreqs(spark, key)
    assert(new java.io.File(path, "_LATEST").delete())
    assert(tfSet(TermStats.loadTermFreqs(spark, path, key)) == v1,
      "marker-less resolution must pick the complete version, not v99")
    // grow the artifact and re-save: the new snapshot wins and old
    // versions (and the crashed partial) are pruned
    assert(TermStats.appendTermFreqs(df(b1Rows), "doc_id", "text", key))
    val v2 = tfSet(TermStats.trainedTermFreqs(
      df(corpusRows), "doc_id", "text", key))
    assert(v2 != v1)
    assert(TermStats.saveTermFreqs(spark, key, path))
    TermStats.resetTermFreqs(spark, key)
    assert(tfSet(TermStats.loadTermFreqs(spark, path, key)) == v2,
      "re-save must serve the superseding snapshot")
    val versions = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    assert(versions.length == 1,
      s"superseded/crashed versions must be pruned, saw ${versions.toSeq}")
    TermStats.resetTermFreqs(spark, key)
  }

  test("gate auto-snapshot + loadMaintained: a restarted session restores " +
    "every maintained family and keeps appending") {
    val corpus = df(corpusRows)
    // two micro-batches (maxFilesPerTrigger=1): snapshotEvery=2 fires once,
    // after batch 1's maintenance — covering BOTH batches
    val streamDir = tmp("gatesnap-stream")
    df(b1Rows).coalesce(1).write.mode("append").parquet(streamDir)
    df(b2Rows).coalesce(1).write.mode("append").parquet(streamDir)
    val snapRoot = tmp("gatesnap-root")
    val (idxKey, tfKey, pKey) =
      ("gatesnap-idx", "gatesnap-tf", "gatesnap-pairs")
    val gKey = "gatesnap-grams"
    def resetAll(): Unit = {
      Dedup.resetIndex(spark, "gatesnap") // idx + gram prefixes
      Dedup.resetPairs(spark, "gatesnap")
      TermStats.resetTermFreqs(spark, "gatesnap")
    }
    resetAll()
    Dedup.trainedGramIndex(corpus, "doc_id", "text", gKey, 5)
    TermStats.trainedTermFreqs(corpus, "doc_id", "text", tfKey)
    Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, pKey)
    val stream = spark.readStream.schema(df(b1Rows).schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val q = graft.streaming.CorpusStream.admitStreamMaintained(
      stream, corpus, idxKey, threshold = 0.9,
      tfCacheKeys = Seq(tfKey), pairsSpecs = Seq((pKey, 0.8, false)),
      gramSpecs = Seq((gKey, 5)),
      snapshotEvery = Some((2, snapRoot))) { (_, _) => () }
    try q.processAllAvailable() finally q.stop()
    val tfWant = tfSet(TermStats.trainedTermFreqs(
      corpus, "doc_id", "text", tfKey))
    val pairsWant = pairSet(Dedup.trainedPairs(
      corpus, "doc_id", "text", 0.8, pKey))
    def gramCounts() = Dedup.trainedGramIndex(corpus, "doc_id", "text",
        gKey, 5).groupBy("gh")
      .agg(org.apache.spark.sql.functions.sum("n_docs").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gramsWant = gramCounts()
    // simulated restart: session artifacts gone, restore from the root
    resetAll()
    graft.streaming.CorpusStream.loadMaintained(spark, snapRoot, idxKey,
      tfCacheKeys = Seq(tfKey), pairsSpecs = Seq((pKey, 0.8, false)),
      gramSpecs = Seq((gKey, 5)))
    assert(tfSet(TermStats.trainedTermFreqs(
      corpus, "doc_id", "text", tfKey)) == tfWant)
    assert(pairSet(Dedup.trainedPairs(
      corpus, "doc_id", "text", 0.8, pKey)) == pairsWant)
    assert(gramCounts() == gramsWant)
    // maintenance continues on the restored artifacts
    val extra = Seq(31L -> doc(Seq("new", "words", "entirely", "fresh",
      "tokens", "here", "seven", "eight", "nine", "ten")))
      .toDF("doc_id", "text")
    assert(TermStats.appendTermFreqs(extra, "doc_id", "text", tfKey))
    assert(tfSet(TermStats.trainedTermFreqs(
      corpus, "doc_id", "text", tfKey)).exists(_._1 == 31L))
    resetAll()
  }

  test("loadMaintained falls back to the legacy hashCode-suffixed " +
    "snapshot directory name (pre-SHA saves still restore)") {
    val root = tmp("legacysnap")
    val key = "legacy-tf"
    val corpus = df(corpusRows)
    TermStats.resetTermFreqs(spark, key)
    TermStats.trainedTermFreqs(corpus, "doc_id", "text", key)
    val want = tfSet(TermStats.trainedTermFreqs(corpus, "doc_id", "text", key))
    // a snapshot saved under the PRE-round-16 directory name (32-bit
    // String.hashCode suffix instead of the SHA-256 prefix)
    val tail = key.takeRight(40).replaceAll("[^A-Za-z0-9._-]", "_")
    val legacy = s"$root/tf/$tail-${Integer.toHexString(key.hashCode)}"
    assert(TermStats.saveTermFreqs(spark, key, legacy))
    // simulated restart: the current-name directory does not exist, so the
    // resolver must find the legacy one instead of silently rebuilding
    TermStats.resetTermFreqs(spark, key)
    graft.streaming.CorpusStream.loadMaintained(spark, root, "legacy-idx",
      tfCacheKeys = Seq(key))
    assert(TermStats.tfSegmentCount(spark, key) > 0,
      "legacy-named snapshot must restore, not silently rebuild")
    assert(tfSet(TermStats.trainedTermFreqs(
      corpus, "doc_id", "text", key)) == want)
    TermStats.resetTermFreqs(spark, key)
  }

  test("a root whose ONLY save crashed mid-write reads as no-snapshot, " +
    "not as a legacy layout") {
    val root = tmp("crashonly")
    // simulate: first save died after creating a version dir, before _DONE
    new java.io.File(root, "v1").mkdirs()
    spark.range(2).toDF("junk").write.parquet(s"$root/v1/tf")
    assert(!graft.Snapshots.committed(spark, root),
      "uncommitted-only root must not count as a loadable snapshot")
    intercept[IllegalStateException] {
      graft.Snapshots.resolveDir(spark, root)
    }
    // loadMaintained takes the documented skip path instead of failing
    TermStats.resetTermFreqs(spark, "crashonly-tf")
    graft.streaming.CorpusStream.loadMaintained(spark, root, "crashonly-idx",
      tfCacheKeys = Seq("crashonly-tf"))
    assert(TermStats.tfSegmentCount(spark, "crashonly-tf") == 0,
      "nothing must be loaded from an uncommitted root")
  }

  test("snapshot commit sequence: EVERY crash point resolves to the prior " +
    "committed version, never a partial or mixed one") {
    import spark.implicits._
    // committed v1 with a known value, then v2's save reconstructed up to
    // each crash point; resolution must serve v1 until the very last step
    // (marker rename), after which BOTH marker and fallback agree on v2
    def freshRoot(): String = tmp("crashpoints")
    def commitV1(root: String): Unit = {
      graft.Snapshots.write(spark, root, Seq("part" -> Seq(1).toDF("x")))
    }
    def readPart(root: String): Int =
      spark.read.parquet(
        s"${graft.Snapshots.resolveDir(spark, root)}/part")
        .head().getInt(0)
    // crash points in v2's sequence, as post-crash filesystem states
    val crashStates: Seq[(String, String => Unit)] = Seq(
      ("v2 dir only" ->
        ((root: String) => new java.io.File(root, "v2").mkdirs())),
      ("v2 part written, no _DONE" -> { (root: String) =>
        Seq(2).toDF("x").write.parquet(s"$root/v2/part") }),
      ("v2 _DONE written, marker not flipped" -> { (root: String) =>
        Seq(2).toDF("x").write.parquet(s"$root/v2/part")
        new java.io.File(s"$root/v2/_DONE").createNewFile() }),
      ("marker tmp written, not renamed" -> { (root: String) =>
        Seq(2).toDF("x").write.parquet(s"$root/v2/part")
        new java.io.File(s"$root/v2/_DONE").createNewFile()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, "_LATEST.v2.tmp"),
          "v2".getBytes("UTF-8")) }),
      ("old marker deleted, rename pending" -> { (root: String) =>
        Seq(2).toDF("x").write.parquet(s"$root/v2/part")
        new java.io.File(s"$root/v2/_DONE").createNewFile()
        new java.io.File(root, "_LATEST").delete() })
    )
    crashStates.foreach { case (label, mutate) =>
      val root = freshRoot()
      commitV1(root)
      mutate(root)
      val got = readPart(root)
      // states before v2's _DONE must serve v1; states at/after _DONE may
      // legitimately serve the fully-written v2 (marker window fallback)
      val acceptable =
        if (label.contains("_DONE") || label.contains("marker")) Set(1, 2)
        else Set(1)
      assert(acceptable.contains(got),
        s"crash state '$label' resolved to $got (acceptable: $acceptable)")
      // and never an exception / partial read — readPart above proves it
    }
  }

  test("stale tmp marker files from a crashed commit are pruned by the " +
    "next successful save") {
    val root = tmp("tmpprune")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate an earlier commit that crashed between marker create and
    // rename — the stale tmp must not accumulate forever
    val stale = new org.apache.hadoop.fs.Path(root, "_LATEST.v7.tmp")
    val out = fs.create(stale, true)
    out.write("v7".getBytes("UTF-8")); out.close()
    Snapshots.write(spark, root, Seq("part" -> spark.range(3).toDF("id")))
    assert(!fs.exists(stale), "stale tmp marker not pruned by save")
    val resolved = Snapshots.resolveDir(spark, root)
    assert(spark.read.parquet(s"$resolved/part").count() == 3)
  }

  test("legacy un-versioned snapshot layout stays readable") {
    val key = "persist-legacy"
    val path = tmp("legacysave")
    TermStats.resetTermFreqs(spark, key)
    TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text", key)
    val want = tfSet(TermStats.trainedTermFreqs(
      df(corpusRows), "doc_id", "text", key))
    // write the pre-versioning layout by hand: parts directly under root
    TermStats.tfSegmentsOf(spark, key).reduce(_ unionByName _)
      .write.parquet(s"$path/tf")
    import spark.implicits._
    Seq(1).toDF("n").write.parquet(s"$path/meta")
    TermStats.resetTermFreqs(spark, key)
    assert(tfSet(TermStats.loadTermFreqs(spark, path, key)) == want)
    TermStats.resetTermFreqs(spark, key)
  }
}
