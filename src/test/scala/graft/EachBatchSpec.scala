package graft

import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.eachBatch]], the one micro-batch primitive every
  * streaming gate and the search server run on.
  */
class EachBatchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("src/main/scala starts a foreachBatch in exactly one place") {
    val sites = MainSources.sitesOf("""\.\s*foreachBatch\b""".r)
    assert(sites == Seq("graft/streaming/package.scala"),
      s"foreachBatch outside graft.streaming.eachBatch: $sites")
  }

  test("a micro-batch that pins and throws stops the stream with its " +
    "exception and leaves no pin behind") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("each_batch_fail").toString
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("append").parquet(dir)
    def pinned = spark.sparkContext.getPersistentRDDs.size
    val before = pinned
    val boom = new IllegalStateException("injected-batch-failure")
    @volatile var pinnedInBatch = -1
    val q = graft.streaming.eachBatch(
        spark.readStream.schema(docs.schema).parquet(dir)) { (batch, _) =>
      graft.Caching.temp(batch).count()
      pinnedInBatch = pinned
      throw boom
    }
    val e = try intercept[StreamingQueryException](q.processAllAvailable())
      finally q.stop()
    assert(pinnedInBatch > before, "the body's pin was taken")
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_ eq boom), s"the stream must fail with the body's exception: $e")
    assert(pinned == before, "the failed batch's pin must be released")
  }
}
