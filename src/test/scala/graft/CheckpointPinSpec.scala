package graft

import graft.extra.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CLUSTER deployment path of [[Caching.pinArtifact]]: with a reliable
  * checkpoint dir configured (`sc.setCheckpointDir` → HDFS/S3 on a real
  * cluster), artifacts must be `checkpoint()`ed — blocks that survive
  * executor loss — and SUPERSEDED artifacts' files must be reclaimed
  * (compaction, resetIndex), because Spark's ContextCleaner only deletes
  * reliable checkpoint files under a construction-time conf this library
  * cannot set on a caller's session (ADVICE r12: without reclaim a
  * long-lived session grows the checkpoint dir without bound).
  *
  * The bench/test default (no checkpoint dir → localCheckpoint) is untouched:
  * every other suite runs with the dir unset, and this suite restores that
  * state in `finally`.
  */
class CheckpointPinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def existsFile(f: String): Boolean = { val p = new Path(f); fs(p).exists(p) }

  /** Run `body` with a fresh reliable checkpoint dir set, restoring the
    * no-dir default (and deleting the dir) afterwards.
    */
  private def withCheckpointDir[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try body(dir)
    finally {
      spark.sparkContext.setCheckpointDir(null)
      val p = new Path(dir)
      fs(p).delete(p, true)
    }
  }

  test("pinArtifact with a checkpoint dir: reliable blocks land in the dir, " +
    "plan is a checkpoint scan, dropArtifact reclaims the files") {
    withCheckpointDir { dir =>
      val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
      val pinned = Caching.pinArtifact(df.toDF())
      // lineage truncated: the served plan is a LogicalRDD leaf
      val isCkptScan = pinned.queryExecution.analyzed.collectFirst {
        case _: org.apache.spark.sql.execution.LogicalRDD => ()
      }.isDefined
      assert(isCkptScan, "pinned artifact must serve a lineage-free scan")
      val file = Caching.checkpointFileOf(pinned)
      assert(file.isDefined, "reliable path must record a checkpoint file")
      assert(file.get.contains(new java.io.File(dir).getName),
        s"checkpoint file ${file.get} must live under the configured dir $dir")
      assert(existsFile(file.get), "checkpoint blocks must exist on disk")
      assert(pinned.count() == 100)
      Caching.dropArtifact(pinned)
      assert(!existsFile(file.get), "dropArtifact must delete the backing files")
      // idempotent: a second drop is a no-op
      Caching.dropArtifact(pinned)
    }
  }

  test("pinArtifact without a checkpoint dir records no reclaimable file " +
    "(localCheckpoint path — ContextCleaner owns those blocks)") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val pinned = Caching.pinArtifact(spark.range(10).toDF())
    assert(Caching.checkpointFileOf(pinned).isEmpty)
    Caching.dropArtifact(pinned) // no-op, must not throw
    assert(pinned.count() == 10)
    pinned.unpersist()
  }

  test("admission-index compaction and resetIndex reclaim superseded " +
    "reliable-checkpoint segments") {
    withCheckpointDir { _ =>
      val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      val corpus = docs.filter(col("doc_id") < 60).select("doc_id", "text")
      def slice(lo: Long, hi: Long, off: Long) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select((col("doc_id") + off).as("doc_id"), col("text"))
      val key = "spec#ckpt_reclaim"
      Dedup.resetIndex(spark, key)
      Dedup.trainedIndex(corpus, "doc_id", "text", key)
      def segFiles(): Seq[String] = Dedup.segmentsOf(spark, key)
        .flatMap { case (s, t) =>
          Caching.checkpointFileOf(s).toSeq ++ Caching.checkpointFileOf(t).toSeq
        }
      val gen0 = segFiles()
      assert(gen0.size == 2 && gen0.forall(existsFile),
        "corpus segment must be reliably checkpointed under the dir")
      assert(Dedup.appendAdmitted(slice(60, 80, 10000), "doc_id", "text", key,
        maxSegments = 2))
      val gen1 = segFiles()
      assert(gen1.size == 4, "append stores a second checkpointed segment")
      // second append exceeds maxSegments=2 → compaction to ONE segment;
      // every superseded segment's files must be deleted
      assert(Dedup.appendAdmitted(slice(80, 100, 20000), "doc_id", "text", key,
        maxSegments = 2))
      assert(Dedup.segmentCount(spark, key) == 1)
      val gen2 = segFiles()
      assert(gen2.size == 2 && gen2.forall(existsFile),
        "compacted segment must be reliably checkpointed")
      assert(gen1.forall(f => !existsFile(f)),
        "compaction must reclaim every superseded segment's checkpoint files")
      // the compacted index still serves (verdict correctness is DedupSpec's
      // job; here the reclaim must not have touched live data)
      val (s, t) = Dedup.trainedIndex(corpus, "doc_id", "text", key)
      assert(Dedup.minhashIncrementalIndexed(s, t, slice(100, 120, 30000),
        "doc_id", "text", 0.8).count() > 0)
      Dedup.resetIndex(spark, key)
      assert(gen2.forall(f => !existsFile(f)),
        "resetIndex must reclaim the dropped segments' checkpoint files")
    }
  }

  test("gram-index compaction and resetIndex reclaim superseded segments") {
    withCheckpointDir { _ =>
      val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      val corpus = docs.filter(col("doc_id") < 60).select("doc_id", "text")
      def slice(lo: Long, hi: Long, off: Long) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select((col("doc_id") + off).as("doc_id"), col("text"))
      val key = "spec#ckpt_gram_reclaim"
      Dedup.resetIndex(spark, key)
      Dedup.trainedGramIndex(corpus, "doc_id", "text", key, 5)
      def segFiles(): Seq[String] = Dedup.gramSegmentsOf(spark, key)
        .flatMap(Caching.checkpointFileOf)
      assert(Dedup.appendGramAdmitted(slice(60, 80, 10000), "doc_id", "text",
        key, 5, maxSegments = 2))
      val gen1 = segFiles()
      assert(gen1.size == 2 && gen1.forall(existsFile))
      assert(Dedup.appendGramAdmitted(slice(80, 100, 20000), "doc_id", "text",
        key, 5, maxSegments = 2))
      assert(Dedup.gramSegmentCount(spark, key) == 1)
      val gen2 = segFiles()
      assert(gen2.forall(existsFile))
      assert(gen1.forall(f => !existsFile(f)),
        "gram compaction must reclaim superseded segments' files")
      Dedup.resetIndex(spark, key)
      assert(gen2.forall(f => !existsFile(f)),
        "resetIndex must reclaim the gram segments' files")
    }
  }

  test("end-to-end: artifact lifecycle (build → appends → compaction → reset) " +
    "leaves ZERO files under the checkpoint dir") {
    // VERDICT r13 next #6: the ckptFiles reclaim path was proven only
    // per-family; this is the whole-directory invariant — after every
    // artifact family's full lifecycle, the reliable checkpoint dir holds
    // not one regular file (empty directories are fine; HDFS/S3 have no
    // empty-dir cost and the uuid roots are per-session).
    withCheckpointDir { dir =>
      import scala.jdk.CollectionConverters._
      def allFiles(): Seq[String] = {
        val base = java.nio.file.Paths.get(dir)
        if (!java.nio.file.Files.exists(base)) Seq.empty
        else {
          val s = java.nio.file.Files.walk(base)
          try s.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(_.toString).toList
          finally s.close()
        }
      }
      val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      val corpus = docs.filter(col("doc_id") < 60).select("doc_id", "text")
      def slice(lo: Long, hi: Long, off: Long) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select((col("doc_id") + off).as("doc_id"), col("text"))
      val pk = "spec#ckpt_zero_pairs"
      val tk = "spec#ckpt_zero_tf"
      val ik = "spec#ckpt_zero_idx"
      val mk = "spec#ckpt_zero_media"
      // build every maintained-artifact family onto the reliable dir
      Dedup.trainedPairs(corpus, "doc_id", "text", 0.9, pk)
      graft.ingest.TermStats.trainedTermFreqs(corpus, "doc_id", "text", tk)
      Dedup.trainedIndex(corpus, "doc_id", "text", ik)
      Dedup.trainedGramIndex(corpus, "doc_id", "text", ik, 5)
      graft.extra.Multimodal.trainedFeatures(corpus, mk)
      // two appends past maxSegments=2 force a compaction in each family
      for ((lo, hi, off) <- Seq((60L, 80L, 10000L), (80L, 100L, 20000L))) {
        assert(Dedup.appendPairs(slice(lo, hi, off), "doc_id", "text", 0.9,
          pk, maxSegments = 2))
        assert(graft.ingest.TermStats.appendTermFreqs(slice(lo, hi, off),
          "doc_id", "text", tk, maxSegments = 2))
        assert(Dedup.appendAdmitted(slice(lo, hi, off), "doc_id", "text", ik,
          maxSegments = 2))
        assert(Dedup.appendGramAdmitted(slice(lo, hi, off), "doc_id", "text",
          ik, 5, maxSegments = 2))
      }
      assert(allFiles().nonEmpty, "artifacts must have checkpointed files")
      // full reset of every family → the dir must be file-free
      Dedup.resetPairs(spark, pk)
      graft.ingest.TermStats.resetTermFreqs(spark, tk)
      Dedup.resetIndex(spark, ik)
      graft.extra.Multimodal.resetFeatures(spark, mk)
      val orphans = allFiles()
      assert(orphans.isEmpty,
        s"${orphans.size} orphan checkpoint files, e.g. ${orphans.take(3)}")
    }
  }

  test("a failed append drops the pins its siblings completed and surfaces " +
    "the original error — admission index and pair artifact") {
    withCheckpointDir { dir =>
      import scala.jdk.CollectionConverters._
      def allFiles(): Seq[String] = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toString).toList
        finally s.close()
      }
      // a pin that failed fast must not leave its sibling's job running
      // past the check below
      def quiesce(): Unit = {
        Thread.sleep(1000)
        while (spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty)
          Thread.sleep(50)
      }
      def causes(e: Throwable): Seq[Throwable] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      def assertOriginal(e: Throwable, what: String): Unit = {
        assert(!e.isInstanceOf[java.util.concurrent.CompletionException],
          s"$what surfaced the CompletionException envelope")
        assert(causes(e).exists(c => String.valueOf(c.getMessage).contains(what)),
          s"the error does not name the injected failure: $e")
      }
      val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      val corpus = docs.filter(col("doc_id") < 60).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") >= 60 && col("doc_id") < 80)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      val ik = "spec#ckpt_fail_idx"
      val pk = "spec#ckpt_fail_pairs"
      Dedup.trainedIndex(corpus, "doc_id", "text", ik)
      Dedup.trainedPairs(corpus, "doc_id", "text", 0.9, pk)
      try {
        // admission index: the token-array pin projects doc_id for EVERY
        // row, the signature pin only for docs with tokens (its empty-doc
        // filter runs first) — so a doc_id that fails on an empty text
        // fails one pin while its sibling completes
        val boom = udf { (id: Long, text: String) =>
          if (text.trim.isEmpty) throw new IllegalStateException("injected-empty")
          id
        }
        val admitted = batch.unionByName(Seq(99999L -> " ").toDF("doc_id", "text"))
          .select(boom(col("doc_id"), col("text")).as("doc_id"), col("text"))
        assertOriginal(intercept[Throwable](
          Dedup.appendAdmitted(admitted, "doc_id", "text", ik)), "injected-empty")
        assert(Dedup.segmentCount(spark, ik) == 1)
        // pair artifact: the corpus probe's files vanish, so the verify
        // fails after the batch arrays are pinned and while the batch
        // postings pin completes
        val probe = Dedup.pairSegmentsOf(spark, pk).head.probe.get
        val probeFile = new Path(Caching.checkpointFileOf(probe).get)
        fs(probeFile).delete(probeFile, true)
        val e = intercept[Throwable](
          Dedup.appendPairs(batch, "doc_id", "text", 0.9, pk))
        assert(!e.isInstanceOf[java.util.concurrent.CompletionException])
        assert(Dedup.pairSegmentCount(spark, pk) == 1)
        quiesce()
      } finally {
        Dedup.resetIndex(spark, ik)
        Dedup.resetPairs(spark, pk)
      }
      val orphans = allFiles()
      assert(orphans.isEmpty,
        s"${orphans.size} orphan checkpoint files, e.g. ${orphans.take(3)}")
    }
  }

  test("memoLocked: racing first fetches run the builder exactly once") {
    // the property every session-artifact cache leans on: a bare
    // TrieMap.getOrElseUpdate would run N racing builders and orphan N-1
    // checkpointed/persisted results
    val cache = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val locks = scala.collection.concurrent.TrieMap.empty[Int, Object]
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            Caching.memoLocked(cache, locks, 42) {
              built.incrementAndGet(); Thread.sleep(50); 7
            }
          }
        })
      }
      start.countDown()
      assert(futures.map(_.get()).toSet == Set(7))
      assert(built.get() == 1, "exactly one racing thread may build")
      // warm fetch never re-builds
      assert(Caching.memoLocked(cache, locks, 42)(fail("must not build")) == 7)
    } finally pool.shutdown()
  }
}
