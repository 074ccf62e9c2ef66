package graft

import graft.extra.Dedup
import graft.ingest.TermStats
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Per-batch JOB BUDGET of the maintained admission gate
  * ([[graft.streaming.CorpusStream.admitStreamMaintained]] with TF,
  * bigram-TF, pair and gram maintenance and a snapshot every third batch),
  * under the ingest conf the gate is benchmarked with (AQE off, 4 shuffle
  * partitions, so every job is an action, a pin or a write — no adaptive
  * stage jobs). Each job is a driver round-trip on the batch's critical
  * path or in its maintenance pool; the budget turns one added per batch
  * into a failing test instead of a slower benchmark.
  */
class GateBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Jobs of a plain batch and of a snapshot batch, as measured (they
    * were 27 and 38 before the pair append shared one batch prefix table
    * and pair snapshots stopped writing the derivable probe).
    */
  private val PlainBatchJobs = 25
  private val SnapshotBatchJobs = 35

  test(s"a plain gate batch runs at most $PlainBatchJobs jobs, a snapshot " +
    s"batch at most $SnapshotBatchJobs") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 100)
    val base = "gatebudget"
    val (idxKey, tfKey, tf2Key, pKey, gKey) = (s"$base:idx", s"$base:tf",
      s"$base:tf2", s"$base:pairs", s"$base:gram")
    def resetAll(): Unit = {
      Dedup.resetIndex(spark, base)
      Dedup.resetPairs(spark, base)
      TermStats.resetTermFreqs(spark, base)
    }
    val tmp = java.nio.file.Files.createTempDirectory("gatebudget")
    val (staging, streamDir) = (tmp.resolve("staging"), tmp.resolve("in"))
    java.nio.file.Files.createDirectories(streamDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    resetAll()
    try {
      Dedup.trainedGramIndex(corpus, "doc_id", "text", gKey, 20)
      TermStats.trainedTermFreqs(corpus, "doc_id", "text", tfKey)
      TermStats.trainedTermFreqs(corpus, "doc_id", "text", tf2Key, n = 2)
      Dedup.trainedPairs(corpus, "doc_id", "text", 0.95, pKey)
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      val q = graft.streaming.CorpusStream.admitStreamMaintained(
        stream, corpus, idxKey, threshold = 0.95,
        tfCacheKeys = Seq(tfKey, tf2Key), pairsSpecs = Seq((pKey, 0.95, false)),
        gramSpecs = Seq((gKey, 20)),
        snapshotEvery = Some((3, tmp.resolve("snapshots").toString))) {
        (v, _) => v.select("doc_id", "keep").collect(); ()
      }
      spark.sparkContext.addSparkListener(listener)
      // one 50-doc micro-batch of unseen documents: land it, wait for its
      // verdicts, return the jobs it ran
      def batchJobs(lo: Int): Int = {
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 50)
          .coalesce(1).write.parquet(staging.resolve(s"b$lo").toString)
        val file = java.nio.file.Files.list(staging.resolve(s"b$lo"))
          .filter(_.toString.endsWith(".parquet")).findFirst().get
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        jobs.set(0)
        java.nio.file.Files.move(file, streamDir.resolve(s"b$lo.parquet"))
        q.processAllAvailable()
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        jobs.get
      }
      val counts =
        try Seq(100, 150, 200).map(batchJobs) // ids 0, 1: plain; id 2: snapshot
        finally q.stop()
      val Seq(_, plain, snapshot) = counts
      info(s"jobs per batch: $counts")
      assert(plain <= PlainBatchJobs,
        s"a plain batch ran $plain jobs (budget $PlainBatchJobs; per batch: $counts)")
      assert(snapshot <= SnapshotBatchJobs,
        s"a snapshot batch ran $snapshot jobs (budget $SnapshotBatchJobs; per batch: $counts)")
      assert(Dedup.pairSegmentCount(spark, pKey) == 4,
        "every batch must have appended pairs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
      resetAll()
    }
  }
}
