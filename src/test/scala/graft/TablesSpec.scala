package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.spreadForCpu]]'s near-scan contract: only operators that add a
  * shuffle are rejected. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("spreadForCpu accepts a coalesced near-scan frame and spreads it") {
    val want = spark.sessionState.conf.numShufflePartitions
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .select("doc_id", "text")
    val narrow = docs.coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    val spread = Tables.spreadForCpu(narrow)
    assert(spread.rdd.getNumPartitions == want)
    assert(spread.count() == docs.count())
  }

  test("spreadForCpu still rejects shuffling repartitions and aggregates") {
    val base = spark.range(0, 100, 1, 4).toDF("id")
    Seq(base.repartition(4), base.repartition(4, col("id")),
      base.groupBy(col("id") % 3).count()).foreach { df =>
      val e = intercept[IllegalArgumentException](Tables.spreadForCpu(df))
      assert(e.getMessage.contains("near-scan"), e.getMessage)
    }
  }
}
