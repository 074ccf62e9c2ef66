package graft

import org.apache.spark.sql.functions._

/** Deterministic fixture up-scaler: derives an sf1.0-SHAPED lake from the
  * largest driver-generated fixture (sf0.1 — TESTDATA.md stops there) so
  * the oracle-compare can run one decade past the bench scale. Replication
  * mirrors the driver's own observed growth (documents ×10, embeddings ×4,
  * events ×10; star tables pass through): ids are offset per copy, document
  * text and embedding vectors get small deterministic per-copy
  * perturbations so dedup/ANN-family operators see variation rather than
  * degenerate exact clones. Everything is a pure column expression of the
  * source rows — any engine regenerates the identical lake, which is what
  * lets DuckDB act as the oracle over the same files.
  *
  * Usage: runMain graft.ScaleFixture [srcDir] [outDir] [idStride]
  * Writes one staging DIRECTORY per table under outDir; the caller
  * flattens each to the single-file layout the oracle views expect
  * (`mv <t>/part-*.parquet <t>.parquet` — see tools/scale_probe notes in
  * PLANS.md).
  *
  * `idStride` (default 1e6) is the per-copy id offset for doc/vec/user
  * ids (event ids use 100×). CHAINING decades requires raising it past
  * the source's max id: the sf1.0 lake's doc ids already span ~9·10⁶, so
  * deriving sf10 from it takes idStride ≥ 10⁷ or copies collide —
  * `runMain graft.ScaleFixture /tmp/sf1.0 /tmp/sf10_staging 10000000`.
  */
object ScaleFixture {
  /** Row-group size for the scaled tables. The driver's sf0.1 fixtures are
    * single-row-group files, and parquet cannot split below row-group
    * granularity — so a coalesce(1) upscale with the 128MB default would
    * leave a 50k-doc corpus readable by ~1 task, and every doc-heavy bench
    * line at sf1.0 would measure the fixture's split count, not the plan
    * (first probe: the tokenize stages ran tasks=2 with 30 cores idle, and
    * the single giant hash-agg map per task added ~1.6x per-row cpu). A
    * real corpus carries thousands of row groups; 2MB here gives the
    * sf1.0 lake the split parallelism its scale implies while keeping the
    * single-file-per-table layout the DuckDB oracle views expect. (The
    * writer checks this against its in-memory buffered estimate, so the
    * on-disk groups come out a few x smaller than the setting; 512KB
    * yields ~15-30 groups per scaled table.)
    */
  val RowGroupBytes = 512 * 1024

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/testdata/sf1.0")
    val stride = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val spark = Sessions.builder("graft-scale-fixture", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, src, "documents")
    (0 until 10).map { k =>
      val txt =
        if (k == 0) col("text")
        else concat(col("text"), lit(s" variant$k rev${k * 7 % 5}"))
      docs.select((col("doc_id") + lit(k * stride)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars"))
    }.reduce(_.unionAll(_))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", RowGroupBytes)
      .parquet(s"$out/documents")

    val emb = Tables.load(spark, src, "embeddings")
    (0 until 4).map { k =>
      val vec =
        if (k == 0) col("embedding")
        else transform(col("embedding"), (v, i) =>
          (v + when(pmod(i, lit(4)) === k % 4, lit(0.001f * k))
            .otherwise(lit(0.0f))).cast("float"))
      emb.select((col("vec_id") + lit(k * stride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_.unionAll(_))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", RowGroupBytes)
      .parquet(s"$out/embeddings")

    val ev = Tables.load(spark, src, "events")
    (0 until 10).map { k =>
      ev.select((col("event_id") + lit(k * 100 * stride)).as("event_id"),
        (col("ts") + expr(s"INTERVAL $k HOURS")).as("ts"),
        (col("user_id") + lit(k * stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionAll(_))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", RowGroupBytes)
      .parquet(s"$out/events")

    Tables.star.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t")
    }
    println(s"SCALED $src -> $out")
    spark.stop()
  }
}
