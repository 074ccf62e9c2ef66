package graft

import java.nio.file.Files

import graft.ingest.Catalog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Publish → pending queue → incremental profile → status flip (ST1). */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("publish pending, profile, statuses flip to done; second pass is a no-op") {
    val catalogDir = Files.createTempDirectory("catalog").toString + "/cat"
    val sketchDir = Files.createTempDirectory("sketch").toString

    val desc = Catalog.fixtureDescriptors(spark, SparkTestSession.sf0001,
      Seq("nation", "region", "customer"))
    Catalog.publish(desc, catalogDir)
    assert(Catalog.pending(spark, catalogDir).count() == 3)

    val statuses = Catalog.profilePending(spark, catalogDir, SparkTestSession.sf0001, sketchDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses == Map("nation" -> "done", "region" -> "done", "customer" -> "done"))
    assert(Catalog.pending(spark, catalogDir).count() == 0)

    // sketches landed in the partitioned sketch table and are readable
    val sk = spark.read.parquet(sketchDir).filter(col("dataset_id") === "customer")
    assert(sk.filter(col("col_type") === "Numeric").count() == 3)

    // incremental: nothing pending → no work, catalogue unchanged
    val again = Catalog.profilePending(spark, catalogDir, SparkTestSession.sf0001, sketchDir)
    assert(again.filter(col("status") === "done").count() == 3)

    // second queue (ST2): term-frequency enrichment flips freqs_status
    val freqsDir = Files.createTempDirectory("freqs").toString
    val fstat = Catalog.enrichFreqsPending(spark, catalogDir, SparkTestSession.sf0001, freqsDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fstat.values.forall(_ == "done"))
    val freqs = spark.read.parquet(freqsDir).filter(col("dataset_id") === "customer")
    assert(freqs.filter(col("col_name") === "c_mktsegment").count() > 0)
    assert(freqs.agg(max("rank")).collect()(0).getInt(0) <= 10)
  }

  test("pending pass is one batch job: job count does not grow with backlog size") {
    def jobsForPass(tables: Seq[String]): Int = {
      val catalogDir = Files.createTempDirectory("catJ").toString + "/cat"
      val sketchDir = Files.createTempDirectory("sketchJ").toString
      Catalog.publish(Catalog.fixtureDescriptors(spark, SparkTestSession.sf0001, tables),
        catalogDir)
      var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Catalog.profilePending(spark, catalogDir, SparkTestSession.sf0001, sketchDir)
        Thread.sleep(1500) // listener bus is async; let it drain
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs
    }
    val small = jobsForPass(Seq("nation", "region"))
    val large = jobsForPass(Seq("nation", "region", "customer", "supplier",
      "part", "orders"))
    // 3x the datasets must NOT mean 3x the jobs: the whole backlog shares one
    // value-stream job (+ fixed overhead for status bookkeeping / AQE stages)
    assert(large <= small + 4,
      s"job count grew with backlog: $small jobs for 2 datasets, $large for 6")
  }

  test("work-queue union chunking: bounded plan width, identical sketches, one flip") {
    // a backlog wider than the chunk must produce the same sketch table and
    // flip every status in the same single pass — chunking only bounds the
    // logical-plan width (union of per-dataset reads), never the results
    val tables = Seq("nation", "region", "customer", "supplier", "part", "orders")
    def run(chunk: Int): (Map[String, String], Set[(String, String, Seq[Double])]) = {
      val catalogDir = Files.createTempDirectory("catC").toString + "/cat"
      val sketchDir = Files.createTempDirectory("sketchC").toString
      Catalog.publish(Catalog.fixtureDescriptors(spark, SparkTestSession.sf0001, tables),
        catalogDir)
      val st = Catalog.profilePending(spark, catalogDir, SparkTestSession.sf0001,
        sketchDir, unionChunk = chunk)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val sk = spark.read.parquet(sketchDir)
        .select("dataset_id", "col_name", "vector").collect()
        .map(r => (r.getString(0), r.getString(1), r.getSeq[Double](2))).toSet
      (st, sk)
    }
    val (stWide, skWide) = run(256) // whole backlog in one union
    val (stChunked, skChunked) = run(2) // 3 chunks of 2
    assert(stChunked.values.forall(_ == "done"))
    assert(stChunked == stWide, "statuses must not depend on chunking")
    assert(skChunked == skWide, "sketch table must not depend on chunking")
  }

  test("profilePending stores the index build's numeric/temporal sketch rows") {
    // one quantile pipeline (Profiler.quantileSketches) serves the index
    // build, its refresh and this queue: the stored rows must be the rows
    // the oracle-checked index holds for the same datasets
    val tables = Seq("nation", "customer", "orders", "lineitem")
    val catalogDir = Files.createTempDirectory("catQ").toString + "/cat"
    val sketchDir = Files.createTempDirectory("sketchQ").toString
    Catalog.publish(Catalog.fixtureDescriptors(spark, SparkTestSession.sf0001, tables),
      catalogDir)
    Catalog.profilePending(spark, catalogDir, SparkTestSession.sf0001, sketchDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("dataset_id", "col_name", "col_type", "vector").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getSeq[Double](3))).toSet
    val stored = rows(spark.read.parquet(sketchDir))
    assert(stored.nonEmpty)
    assert(stored == rows(graft.search.Sketches.numericTemporal(spark,
      SparkTestSession.sf0001, tables)))
  }

  test("bounded driver pulls drain the whole backlog across iterations") {
    // pullBound=1 forces one-id-at-a-time driver pulls: the drain loop must
    // still flip every status and write every sketch, and the results must
    // equal the single-pull pass — the bound only caps driver memory
    val tables = Seq("nation", "region", "customer")
    def run(bound: Int): (Map[String, String], Set[(String, String)]) = {
      val catalogDir = Files.createTempDirectory("catP").toString + "/cat"
      val sketchDir = Files.createTempDirectory("sketchP").toString
      Catalog.publish(
        Catalog.fixtureDescriptors(spark, SparkTestSession.sf0001, tables),
        catalogDir)
      val st = Catalog.profilePending(spark, catalogDir, SparkTestSession.sf0001,
        sketchDir, pullBound = bound)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val sk = spark.read.parquet(sketchDir)
        .select("dataset_id", "col_name").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      (st, sk)
    }
    val (stOne, skOne) = run(1)
    val (stAll, skAll) = run(Catalog.maxIdsPerPull)
    assert(stOne.values.forall(_ == "done") && stOne.keySet == tables.toSet)
    assert(stOne == stAll && skOne == skAll,
      "drain result must not depend on the pull bound")
  }

  test("catalogue CSV → pending descriptors (eodp_publisher path)") {
    val dir = Files.createTempDirectory("cat_csv")
    val csv = dir.resolve("catalogue.csv")
    Files.write(csv,
      "id;title;notes;tags;extra\nds1;First;Some notes;a,b;x\nds2;Second;;c;y\n"
        .getBytes("UTF-8"))
    val desc = Catalog.fromCatalogueCsv(spark, csv.toString, "/lake")
    val rows = desc.orderBy("dataset_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("dataset_id") == "ds1")
    assert(rows(0).getAs[String]("path") == "/lake/ds1.csv.gz")
    assert(rows(0).getAs[String]("keywords") == "a,b")
    assert(rows(0).getAs[String]("status") == "pending")
    assert(rows(1).getAs[String]("description") == null)
  }

  test("failed dataset marked error, others proceed") {
    val catalogDir = Files.createTempDirectory("catalog2").toString + "/cat"
    val sketchDir = Files.createTempDirectory("sketch2").toString
    import spark.implicits._
    val desc = Catalog.fixtureDescriptors(spark, SparkTestSession.sf0001, Seq("nation"))
      .unionByName(Seq(("missing", "missing", "/nope.parquet", "TABULAR", "x", "x",
        "pending", "pending")).toDF("dataset_id", "title", "path", "dtype",
        "description", "keywords", "status", "freqs_status")
        .withColumn("time_created", current_timestamp()))
    Catalog.publish(desc, catalogDir)
    val statuses = Catalog.profilePending(spark, catalogDir, SparkTestSession.sf0001, sketchDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses("nation") == "done" && statuses("missing") == "error")
  }
}
