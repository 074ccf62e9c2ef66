package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.extra.{CorpusOps, Dedup}
import graft.ingest.TermStats
import graft.streaming.CorpusStream

/** One micro-batch through the admission gate. */
final case class Batch(file: String, docs: Int, start: Double, end: Double,
                       ok: Boolean) {
  def seconds: Double = end - start
}

/** `corpus_admit`: a closed drain of seeded micro-batch files of unseen
  * documents through `CorpusStream.admitStreamMaintained`, with the
  * maintenance `graft.Bench`'s `stream_admit` line runs (TF, bigram TF,
  * near-duplicate pairs, gram counts) plus a durable snapshot of every
  * third batch. The next file lands when the previous batch's verdicts
  * are back.
  */
final class Admission(spark: SparkSession, tracer: Tracer, lake: String,
                      work: String, files: Seq[String], batchDocs: Int) {
  private val clock0 = System.nanoTime()
  def now: Double = (System.nanoTime() - clock0) / 1e9

  private val base = s"$lake#perfbench_admit"
  private val (idxKey, gramKey) = (s"$base:idx", s"$base:gram")
  private val (tfKey, tf2Key, pairsKey) = (s"$base:tf", s"$base:tf2", s"$base:pairs")
  val snapshotEvery = 3
  /** `measure` drains one snapshot cycle per this many seconds of its budget. */
  val cycleSeconds = 12.0

  /** The seed corpus `graft.Bench` seeds its gate with: documents below
    * `SparkEntry.DocBound` (300, private to the engine) in the 80% sample.
    */
  val seed: DataFrame = tracer.span("seed_corpus", "setup") {
    Tables.load(spark, lake, "documents")
      .filter(col("doc_id") < 300)
      .filter(CorpusOps.sampleBucket(col("doc_id")) < 80)
      .select("doc_id", "text")
  }

  private var nextFile = 0
  private var round = 0
  private var query: Option[StreamingQuery] = None
  private var streamDir = ""
  private val verdicts = new ConcurrentLinkedQueue[(Long, Int)]()
  @volatile private var batchesDone = 0L
  private val landed = scala.collection.mutable.ArrayBuffer.empty[String]

  def resetGate(): Unit = {
    Dedup.resetIndex(spark, base) // admission + gram index
    Dedup.resetPairs(spark, base)
    TermStats.resetTermFreqs(spark, base)
  }

  private def seedGate(): Unit = {
    tracer.span("Dedup.trainedIndex", "seed_dedup")(
      Dedup.trainedIndex(seed, "doc_id", "text", idxKey))
    tracer.span("Dedup.trainedGramIndex", "seed_dedup")(
      Dedup.trainedGramIndex(seed, "doc_id", "text", gramKey, 20))
    tracer.span("TermStats.trainedTermFreqs", "seed_termstats")(
      TermStats.trainedTermFreqs(seed, "doc_id", "text", tfKey))
    tracer.span("TermStats.trainedTermFreqs:2", "seed_termstats")(
      TermStats.trainedTermFreqs(seed, "doc_id", "text", tf2Key, n = 2))
    tracer.span("Dedup.trainedPairs", "seed_dedup")(
      Dedup.trainedPairs(seed, "doc_id", "text", 0.95, pairsKey))
    ()
  }

  private def start(): StreamingQuery = {
    round += 1
    streamDir = s"$work/stream_in/r$round"
    Files.createDirectories(Paths.get(streamDir))
    val stream = spark.readStream.schema(seed.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    CorpusStream.admitStreamMaintained(
      stream, seed, idxKey, threshold = 0.95,
      tfCacheKeys = Seq(tfKey, tf2Key),
      pairsSpecs = Seq((pairsKey, 0.95, false)),
      gramSpecs = Seq((gramKey, 20)),
      snapshotEvery = Some((snapshotEvery, s"$work/snapshots"))) { (v, id) =>
      // the gate's answer for the batch: which documents it admitted
      v.select("doc_id", "keep").collect()
        .foreach(r => verdicts.add((r.getLong(0), r.getAs[Number](1).intValue)))
      batchesDone += 1
    }
  }

  /** Land the next file in the stream directory and wait for its verdicts. */
  def admitNext(): Batch = {
    require(nextFile < files.size, "the drain outran the generated micro-batch files")
    val file = files(nextFile)
    nextFile += 1
    val name = Paths.get(file).getFileName.toString
    val q = query.get
    val want = batchesDone + 1
    val t0 = now
    val ok =
      try tracer.span(s"batch:$name", "batch") {
        Files.move(Paths.get(file), Paths.get(s"$streamDir/$name"),
          StandardCopyOption.ATOMIC_MOVE)
        landed += s"$streamDir/$name"
        // a trigger that listed the directory just before the file landed
        // can end processAllAvailable early: wait for this batch's verdicts
        while (batchesDone < want) {
          q.processAllAvailable()
          if (batchesDone < want) Thread.sleep(2)
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] batch $name failed: $e"); false
      }
    Batch(file, batchDocs, t0, now, ok)
  }

  /** Reset the gate and seed it from the seed corpus; returns seconds. */
  def setupOnce(): Double = tracer.span("setup", "setup") {
    stop()
    resetGate()
    verdicts.clear()
    landed.clear()
    val t0 = now
    tracer.span("seed_gate", "seed_gate")(seedGate())
    now - t0
  }

  /** Start the gate's stream and put the next micro-batch through it;
    * returns seconds to its verdicts.
    */
  def firstAnswer(): Double = tracer.span("first_answer", "first_answer") {
    val t0 = now
    tracer.span("drain", "drain") { query = Some(start()) }
    admitNext()
    now - t0
  }

  /** Closed drain of whole snapshot cycles, one cycle per `cycleSeconds`
    * of `seconds` (at least one): a fixed amount of work per run, so the
    * artifacts held at the end do not depend on how fast the run was.
    * Two of every three batches carry no snapshot, so the median batch is
    * a plain one and the snapshot's cost shows in the throughput and the
    * slowest batch.
    */
  def measure(seconds: Double): (Seq[Batch], Long, Long) = tracer.span("measure", "measure") {
    val ms0 = System.currentTimeMillis()
    val n = snapshotEvery * math.max(1, math.round(seconds / cycleSeconds).toInt)
    val out = scala.collection.mutable.ArrayBuffer.empty[Batch]
    while (out.size < n && out.forall(_.ok)) out += admitNext()
    (out.toSeq, ms0, System.currentTimeMillis())
  }

  def stop(): Unit = {
    query.foreach { q => q.stop(); q.awaitTermination(60000) }
    query = None
  }

  def admitted: Set[Long] = verdicts.asScala.filter(_._2 == 1).map(_._1).toSet
  def offered: Int = verdicts.size

  /** The maintained TF, bigram-TF and pair artifacts must equal a batch
    * rebuild over seed + admitted documents; injected verbatim copies of
    * seed documents must have been rejected. Returns failure messages.
    */
  def check(exactDups: Set[Long]): Seq[String] = tracer.span("check:admit", "check") {
    import spark.implicits._
    val ids = admitted
    val all = seed.unionByName(spark.read.parquet(landed.toSeq: _*)
      .join(ids.toSeq.toDF("doc_id"), "doc_id").select("doc_id", "text"))
    def diff(name: String, maintained: DataFrame, rebuilt: DataFrame): Option[String] = {
      val (a, b) = (maintained.collect().toSet, rebuilt.collect().toSet)
      if (a == b) None
      else Some(s"$name: maintained has ${(a -- b).size} rows the rebuild lacks, " +
        s"rebuild has ${(b -- a).size} it lacks")
    }
    val tfCols = Seq("doc_id", "term", "tf").map(col)
    val checkKey = s"$base:check"
    try {
      val bad = Seq(
        diff("tf", TermStats.trainedTermFreqs(seed, "doc_id", "text", tfKey).select(tfCols: _*),
          TermStats.trainedTermFreqs(all, "doc_id", "text", s"$checkKey:tf").select(tfCols: _*)),
        diff("tf2", TermStats.trainedTermFreqs(seed, "doc_id", "text", tf2Key, n = 2).select(tfCols: _*),
          TermStats.trainedTermFreqs(all, "doc_id", "text", s"$checkKey:tf2", n = 2).select(tfCols: _*)),
        diff("pairs",
          Dedup.trainedPairs(seed, "doc_id", "text", 0.95, pairsKey).select("id_a", "id_b", "jac"),
          Dedup.jaccardPairs(all, "doc_id", "text", 0.95).select("id_a", "id_b", "jac"))
      ).flatten
      val offeredIds = verdicts.asScala.map(_._1).toSet
      val leaked = exactDups.intersect(offeredIds).intersect(ids)
      bad ++ (if (leaked.isEmpty) Nil
              else Seq(s"verbatim copies admitted: ${leaked.take(5).mkString(",")}"))
    } finally {
      TermStats.resetTermFreqs(spark, checkKey)
      graft.Caching.release()
    }
  }
}
