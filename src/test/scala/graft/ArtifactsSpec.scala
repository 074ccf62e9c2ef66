package graft

import graft.extra.{Dedup, Multimodal}
import graft.ingest.TermStats
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The one artifact store ([[Artifacts.Store]]) every maintained family
  * runs on: a failed build or load leaves its key empty — segments and side
  * state are swapped as one entry — and batches that net nothing leave
  * every family's segments untouched while the gate still snapshots them.
  */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpusRows = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2L -> "kappa iota theta eta zeta epsilon delta gamma beta alpha",
    3L -> "mu nu xi omicron pi rho sigma tau upsilon phi",
    4L -> "chi psi omega one two three four five six seven")
  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowSet(d: DataFrame) = d.collect().map(_.toSeq).toSet

  test("a TF build that throws stores nothing: the key builds again at " +
    "another n-gram order") {
    val key = "artifacts-spec#tf-failed-build"
    TermStats.resetTermFreqs(spark, key)
    try {
      intercept[Exception] {
        TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "no_such_text",
          key, n = 2)
      }
      assert(TermStats.tfStore.segmentCount(spark, key) == 0)
      val tf = TermStats.trainedTermFreqs(df(corpusRows), "doc_id", "text",
        key, n = 1)
      assert(rowSet(tf.select("doc_id", "term", "tf")) == rowSet(
        TermStats.termFreqs(TermStats.tokens(df(corpusRows), "doc_id", "text"))
          .select("doc_id", "term", "tf")))
    } finally TermStats.resetTermFreqs(spark, key)
  }

  test("a gram load whose ledger part is missing throws and leaves the key " +
    "empty; a retried load of an intact snapshot then succeeds") {
    val key = "artifacts-spec#gram-no-ledger"
    val (broken, intact) = (tmp("gram-broken"), tmp("gram-intact"))
    Dedup.resetIndex(spark, key)
    try {
      Dedup.trainedGramIndex(df(corpusRows), "doc_id", "text", key, minLen = 3)
      assert(Dedup.appendGramAdmitted(df(Seq(11L -> "one two three four")),
        "doc_id", "text", key, minLen = 3, batchId = Some(3L), writerId = "w"))
      assert(Dedup.gramStore.save(spark, key, broken))
      assert(Dedup.gramStore.save(spark, key, intact))
      Dedup.resetIndex(spark, key)
      val ledger = new java.io.File(Snapshots.resolveDir(spark, broken), "ledger")
      org.apache.commons.io.FileUtils.deleteDirectory(ledger)
      assert(!ledger.exists())
      intercept[Exception](Dedup.gramStore.load(spark, broken, key))
      assert(Dedup.gramStore.segmentCount(spark, key) == 0)
      assert(Dedup.gramStore.entry(spark, key).isEmpty)
      Dedup.gramStore.load(spark, intact, key)
      assert(Dedup.gramStore.entry(spark, key).map(_.side)
        .contains(Set(("w", 3L))))
    } finally Dedup.resetIndex(spark, key)
  }

  test("an empty and a zero-admission micro-batch through the maintained " +
    "gate: no family gains a segment, the ledger records both batches, and " +
    "every batch's snapshot restores equal tables") {
    val corpus = df(corpusRows)
    val base = "artifacts-spec#gate"
    val (idxKey, tfKey, pKey, gKey, fKey) = (s"$base:idx", s"$base:tf",
      s"$base:pairs", s"$base:gram", s"$base:feat")
    def resetAll(): Unit = {
      Dedup.resetIndex(spark, base)
      Dedup.resetPairs(spark, base)
      TermStats.resetTermFreqs(spark, base)
      Multimodal.resetFeatures(spark, fKey)
    }
    // every family's segments, and the tables they serve
    def segments(): Seq[Seq[AnyRef]] = Seq(
      Dedup.indexStore.segments(spark, idxKey),
      TermStats.tfStore.segments(spark, tfKey),
      Dedup.pairStore.segments(spark, pKey),
      Dedup.gramStore.segments(spark, gKey),
      Multimodal.featureStore.segments(spark, fKey))
    def tables(): Seq[Set[Seq[Any]]] = {
      val (sigs, toks) = Dedup.trainedIndex(corpus, "doc_id", "text", idxKey)
      Seq(rowSet(sigs), rowSet(toks),
        rowSet(TermStats.trainedTermFreqs(corpus, "doc_id", "text", tfKey)),
        rowSet(Dedup.trainedPairs(corpus, "doc_id", "text", 0.8, pKey)),
        rowSet(Dedup.trainedGramIndex(corpus, "doc_id", "text", gKey, 3)),
        rowSet(Multimodal.trainedFeatures(corpus, fKey)))
    }
    val tmpDir = java.nio.file.Paths.get(tmp("artifacts-gate"))
    val (staging, streamDir) = (tmpDir.resolve("staging"), tmpDir.resolve("in"))
    java.nio.file.Files.createDirectories(streamDir)
    val root = tmpDir.resolve("snapshots").toString
    // land one micro-batch's file in the stream directory
    def land(name: String, rows: DataFrame): Unit = {
      rows.coalesce(1).write.parquet(staging.resolve(name).toString)
      val file = java.nio.file.Files.list(staging.resolve(name))
        .filter(_.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.move(file, streamDir.resolve(s"$name.parquet"))
    }
    resetAll()
    try {
      val want = tables()
      val before = segments()
      val verdicts = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      val q = streaming.CorpusStream.admitStreamMaintained(
        stream, corpus, idxKey, threshold = 0.9,
        tfCacheKeys = Seq(tfKey), pairsSpecs = Seq((pKey, 0.8, false)),
        gramSpecs = Seq((gKey, 3)), featureCacheKeys = Seq(fKey),
        writerId = "w", snapshotEvery = Some((1, root))) { (v, id) =>
        verdicts.put(id, v.select("keep").collect().map(_.getLong(0)).toSeq)
        ()
      }
      try {
        // batch 0 holds no rows; batch 1 only verbatim copies of corpus docs
        land("empty", corpus.limit(0))
        q.processAllAvailable()
        land("copies", df(corpusRows.map { case (id, t) => (id + 100) -> t }))
        q.processAllAvailable()
      } finally q.stop()
      assert(verdicts.get(0L) == Seq.empty)
      assert(verdicts.get(1L).size == corpusRows.size &&
        verdicts.get(1L).forall(_ == 0L), s"verdicts: ${verdicts.get(1L)}")
      val after = segments()
      assert(before.zip(after).forall { case (b, a) =>
        b.nonEmpty && b.size == a.size && b.zip(a).forall(p => p._1 eq p._2)
      }, "a batch that admits nothing must leave every segment as it was")
      val ledger = Set(("w", 0L), ("w", 1L))
      assert(Dedup.gramStore.entry(spark, gKey).map(_.side).contains(ledger))
      // restart from the last batch's snapshot
      resetAll()
      assert(segments().forall(_.isEmpty))
      streaming.CorpusStream.loadMaintained(spark, root, idxKey,
        tfCacheKeys = Seq(tfKey), pairsSpecs = Seq((pKey, 0.8, false)),
        gramSpecs = Seq((gKey, 3)), featureCacheKeys = Seq(fKey))
      assert(segments().forall(_.size == 1), "every family must restore")
      assert(tables() == want)
      assert(Dedup.gramStore.entry(spark, gKey).map(_.side).contains(ledger))
    } finally resetAll()
  }
}
