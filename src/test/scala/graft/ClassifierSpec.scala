package graft

import graft.extra.Classifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Synthetic corpus with class-exclusive vocabulary: "good" docs speak
    * gold/clean, "bad" docs speak spam/junk; "the" is shared.
    */
  private def synth = {
    import spark.implicits._
    Seq(
      (1L, "gold clean gold the", "ref"),
      (2L, "clean gold clean the", "ref"),
      (3L, "gold gold clean prose", "ref"),
      (4L, "spam junk spam the", "crawl"),
      (5L, "junk spam junk the", "crawl"),
      (6L, "spam junk junk noise", "crawl"),
      (7L, "", "crawl")
    ).toDF("doc_id", "text", "source")
  }
  private def pos = col("source") === "ref"

  test("model log-odds match an independent local computation") {
    val got = Classifier.nbModel(synth, "doc_id", "text", pos).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    graft.Caching.release()

    // local mirror: counts over the same whitespace tokens
    val docs = Seq(
      (true, "gold clean gold the"), (true, "clean gold clean the"),
      (true, "gold gold clean prose"), (false, "spam junk spam the"),
      (false, "junk spam junk the"), (false, "spam junk junk noise"))
    val toks = docs.flatMap { case (y, t) =>
      t.split(" ").filter(_.nonEmpty).map(w => (y, w)) }
    val vocab = toks.map(_._2).distinct
    val nPos = toks.count(_._1)
    val nNeg = toks.size - nPos
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val want = vocab.map { w =>
      val cp = toks.count(t => t._1 && t._2 == w)
      val cn = toks.count(t => !t._1 && t._2 == w)
      w -> (cp.toLong, cn.toLong,
        r6(r6(math.log((cp + 1.0) / (nPos + vocab.size))) -
           r6(math.log((cn + 1.0) / (nNeg + vocab.size)))))
    }.toMap
    assert(got == want)
    // class-exclusive terms carry the right sign
    assert(got("gold")._3 > 0 && got("clean")._3 > 0)
    assert(got("spam")._3 < 0 && got("junk")._3 < 0)
  }

  test("separable classes score perfectly; empty doc scores the prior alone") {
    val s = Classifier.nbScore(synth, "doc_id", "text", pos).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
      .toMap
    graft.Caching.release()
    assert(s.size == 7)
    // every labeled doc on the right side of 0
    Seq(1L, 2L, 3L).foreach(id => assert(s(id)._4 == 1L, s"doc $id"))
    Seq(4L, 5L, 6L).foreach(id => assert(s(id)._4 == 0L, s"doc $id"))
    // doc 7 is empty: zero tokens, score == add-1 doc prior (3+1)/(7+2) vs (4+1)/(7+2)
    val prior = {
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      math.rint((r6(math.log(4.0 / 9)) - r6(math.log(5.0 / 9))) * 1e6) / 1e6
    }
    assert(s(7L)._2 == 0L)
    assert(math.abs(s(7L)._3 - prior) < 1e-9, s"${s(7L)._3} vs $prior")
    // eval rollup agrees: only the empty crawl doc can sit on the prior side
    val e = Classifier.nbEval(synth, "doc_id", "text", pos).collect()(0)
    graft.Caching.release()
    assert(e.getAs[Long]("tp") == 3 && e.getAs[Long]("fn") == 0)
    assert(e.getAs[Long]("fp") + e.getAs[Long]("tn") == 4)
  }

  test("NULL label inputs count as negative (the oracle's CASE ... ELSE 0)") {
    import spark.implicits._
    val docs = Seq((1L, "gold clean", Some("ref")),
      (2L, "spam junk", Some("crawl")),
      (3L, "spam gold", None: Option[String]))
      .toDF("doc_id", "text", "source")
    val p = col("source") === "ref"   // NULL source → NULL, must read as 0
    val s = Classifier.nbScore(docs, "doc_id", "text", p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Caching.release()
    assert(s(3L) == 0L, "NULL-source doc must carry label 0, not NULL")
    val e = Classifier.nbEval(docs, "doc_id", "text", p).collect()(0)
    graft.Caching.release()
    assert(e.getAs[Long]("tp") + e.getAs[Long]("fp") +
      e.getAs[Long]("fn") + e.getAs[Long]("tn") == 3L,
      "every doc lands in exactly one confusion cell")
  }

  test("serving form scoreWith matches the training-time scores exactly") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val p = col("source").isin("src1", "src2", "src3")
    val trained = Classifier.nbScore(docs, "doc_id", "text", p).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    graft.Caching.release()
    val model = Classifier.nbModel(docs, "doc_id", "text", p)
    val prior = Classifier.priorMicroOf(docs, p)
    val served = Classifier.scoreWith(docs, "doc_id", "text", model, prior)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    graft.Caching.release()
    assert(served == trained)
  }

  test("streaming NB gate scores arrivals identically to the batch operator") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nb_gate").toString
    val corpus = synth
    val model = Classifier.nbModel(corpus, "doc_id", "text", pos)
    val prior = Classifier.priorMicroOf(corpus, pos)
    val arrivals = Seq((20L, "gold clean prose"), (21L, "junk spam noise"),
      (22L, "")).toDF("doc_id", "text")
    arrivals.coalesce(1).write.mode("append").parquet(dir)

    val scored = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Long)]
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val q = graft.streaming.eachBatch(stream) { (batch, _) =>
      val v = Classifier.scoreWith(batch, "doc_id", "text", model, prior)
      val rows = v.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      scored.synchronized { scored ++= rows }
    }
    try q.processAllAvailable() finally q.stop()
    graft.Caching.release()

    val want = Classifier.scoreWith(arrivals, "doc_id", "text", model, prior)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    graft.Caching.release()
    assert(scored.toSet == want)
    // and the verdicts separate the synthetic classes
    val byId = scored.map(x => x._1 -> x._4).toMap
    assert(byId(20L) == 1L && byId(21L) == 0L)
  }

  test("calibration bins partition the corpus, ranges nest, counts add up") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val p = col("source").isin("src1", "src2", "src3")
    val rows = Classifier.nbCalibration(docs, "doc_id", "text", p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
      .sortBy(_._1)
    graft.Caching.release()
    val total = docs.count()
    val nPos = docs.filter(p).count()
    assert(rows.map(_._2).sum == total)
    assert(rows.map(_._3).sum == nPos)
    // bins ordered, score ranges non-overlapping and increasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 < b._1 && a._5 <= b._4, s"$a then $b")
    case _ => ()
    }
    // pos_rate is exactly the integer ppm of its bin
    rows.foreach { case (_, n, pos, _, _, ppm) =>
      assert(ppm == pos * 1000000L / n)
    }
  }

  test("session-cached model path returns identical values to direct training") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val p = col("source").isin("src1", "src2", "src3")
    val key = Some("classifier-spec-cache")
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = {
        val r = df.collect().map(_.toSeq).toSet
        graft.Caching.release(); r
      }
      assert(rows(Classifier.nbModel(docs, "doc_id", "text", p, key)) ==
        rows(Classifier.nbModel(docs, "doc_id", "text", p)))
      assert(rows(Classifier.nbScore(docs, "doc_id", "text", p, key)) ==
        rows(Classifier.nbScore(docs, "doc_id", "text", p)))
      assert(rows(Classifier.nbEval(docs, "doc_id", "text", p, key)) ==
        rows(Classifier.nbEval(docs, "doc_id", "text", p)))
      assert(rows(Classifier.nbCalibration(docs, "doc_id", "text", p,
          cacheKey = key)) ==
        rows(Classifier.nbCalibration(docs, "doc_id", "text", p)))
    } finally Classifier.resetModels(spark, "classifier-spec-cache")
  }

  test("scores are partitioning-independent on the fixture corpus") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val p = col("source").isin("src1", "src2", "src3")
    def run(n: Int) = {
      val r = Classifier.nbScore(docs.repartition(n), "doc_id", "text", p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSet
      graft.Caching.release()
      r
    }
    assert(run(1) == run(8))
  }
}
