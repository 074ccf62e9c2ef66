package graft

import graft.ingest.Profiler
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ProfilerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("danaeType mapping incl. spatial names and NTZ timestamps") {
    assert(Profiler.danaeType(StructField("x", DoubleType)) == "Numeric")
    assert(Profiler.danaeType(StructField("x", IntegerType)) == "Numeric")
    assert(Profiler.danaeType(StructField("x", TimestampType)) == "Temporal")
    assert(Profiler.danaeType(StructField("x", TimestampNTZType)) == "Temporal")
    assert(Profiler.danaeType(StructField("x", StringType)) == "Categorical")
    assert(Profiler.danaeType(StructField("x", BooleanType)) == "Unsupported")
    // name-based spatial detection incl. the reference's 'lattitude' quirk
    // (profiler.py:90-99)
    assert(Profiler.danaeType(StructField("LAT", DoubleType)) == "Spatial")
    assert(Profiler.danaeType(StructField("lattitude", StringType)) == "Spatial")
    assert(Profiler.danaeType(StructField("longitude", DoubleType)) == "Spatial")
  }

  test("tableStats counts nulls and duplicate rows") {
    val df = Seq(
      ("a", Some(1)), ("a", Some(1)), ("b", None), ("c", Some(3))
    ).toDF("k", "v")
    val r = Profiler.tableStats(df, "t").collect()(0)
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Long]("n_var") == 2)
    assert(r.getAs[Long]("n_cells_missing") == 1)
    assert(r.getAs[Long]("n_duplicates") == 1)
    assert(math.abs(r.getAs[Double]("p_duplicates") - 0.25) < 1e-9)
  }

  test("numericStats long format") {
    val df = Seq((1.0, "x"), (2.0, "y"), (3.0, "z")).toDF("v", "s")
    val rows = Profiler.numericStats(df, "t").collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("col_name") == "v")
    assert(r.getAs[Long]("n_distinct") == 3)
    assert(r.getAs[Double]("mean") == 2.0)
    assert(r.getAs[Double]("vmin") == 1.0 && r.getAs[Double]("vmax") == 3.0)
  }

  test("second moment is exact at the magnitude ceiling (no silent overflow)") {
    // 2000 rows near the documented |x| ≲ 9·10⁹ ceiling: xm² ≈ 8.1·10³¹
    // each, so a single decimal(38,0) Σxm² would overflow (NULL) within
    // ~10⁶ rows at corpus scale — this fixture locks the hi/lo long-carry
    // split against an independent BigInt computation of the same formula
    val vals = (0 until 2000).map(i =>
      (if (i % 2 == 0) 1 else -1) * (8.9e9 + i * 1.7 + (i % 7) * 0.000013))
    val df = vals.toDF("v")
    val r = Profiler.numericStats(df, "t").collect()(0)
    // independent: exact integer micros via BigInt, then the identical
    // IEEE tail (hi/lo recombine, cancellation, sqrt, round 6)
    val xms = vals.map(v => BigInt(math.round(v * 1e6)))
    val n = xms.length.toLong
    val s1 = xms.sum
    // per-ROW hi/lo then sum — the engine's (and oracle's) exact sequence:
    // Σhi·1e18 + Σlo recombines to Σxm² in VALUE but not in carries, so the
    // double recombine must mirror the per-row split, not a total split
    val e18 = BigInt("1000000000000000000")
    val hi = xms.map(x => (x * x) / e18).sum
    val lo = xms.map(x => (x * x) % e18).sum
    val s2d = hi.toDouble * 1e18 + lo.toDouble
    val s1d = s1.toDouble
    val expectStd = BigDecimal(math.sqrt(math.max(
      (s2d - s1d * s1d / n) / (n - 1), 0.0)) / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n") == n)
    assert(r.getAs[Double]("std") == expectStd,
      s"std ${r.getAs[Double]("std")} != independent $expectStd")
    assert(!r.isNullAt(r.fieldIndex("std")), "overflow must not NULL the std")
  }

  test("footer range gate is result-transparent: gated parquet ≡ ungated in-memory, every tier") {
    // columns spanning the gate tiers: g1 (|x| ≤ 3034 → direct long
    // square), g2 (price-like and near-ceiling magnitudes → carry ops on
    // long sums), and non-finite columns (NaN rows drop/poison footer
    // stats → ungated; the xf guard NULLs those rows on BOTH paths).
    // The gate must be invisible in results: identical doubles bit for
    // bit, because the gated sums are the same integers.
    val vals = (0 until 400).map { i =>
      (i * 7.25 - 1400.0,                                  // g1
        (i % 89) * 1234.56789 - 50000.0,                   // g2 (price-like)
        (if (i % 2 == 0) 1 else -1) * (8.9e9 + i * 1.7),   // g2 (ceiling)
        if (i % 50 == 0) Double.NaN else i * 1.5,          // NaN rows
        if (i % 60 == 0) Double.PositiveInfinity else i * 2.5) // Inf rows
    }
    val df = vals.toDF("a_small", "b_mid", "c_ceiling", "d_nan", "e_inf")
    val dir = java.nio.file.Files.createTempDirectory("gatespec").toString
    df.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    // the gate must actually ENGAGE for the finite columns on disk
    val bounds = Profiler.parquetGateBounds(onDisk)
    assert(bounds.contains("a_small") && bounds.contains("b_mid") &&
      bounds.contains("c_ceiling"), s"footer bounds missing: $bounds")
    assert(bounds("a_small")._2 == 400L)
    assert(math.abs(bounds("a_small")._1 - 1492.75) < 1e-9) // exact footer max
    // in-memory frame has no files → every column ungated
    assert(Profiler.parquetGateBounds(df).isEmpty)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      Profiler.numericStats(d, "t").collect()
        .map(r => r.getAs[String]("col_name") -> r.toSeq).toMap
    val gated = rowsOf(onDisk)
    val ungated = rowsOf(df)
    assert(gated.keySet == ungated.keySet)
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
      case _                      => a == b
    }
    gated.foreach { case (c, g) =>
      assert(g.size == ungated(c).size && g.zip(ungated(c)).forall((same _).tupled),
        s"column $c: gated $g != ungated ${ungated(c)}") }
    // NaN/Inf rows are excluded not crashed (ANSI session): n reflects the
    // double-typed count, std is finite
    assert(!gated("d_nan").contains(null) || gated("d_nan") == ungated("d_nan"))
  }

  test("footer range gate refuses non-subset frames and alias-shadowed columns") {
    import org.apache.spark.sql.functions.col
    // footer bounds only hold for row/value subsets of the scanned files:
    // a self-union doubles rows past the footer row count (inputFiles
    // dedupes), a computed column aliased to a physical column's name
    // carries different values under that column's bound — both must stay
    // UNGATED (empty map / column dropped), while plain filters and
    // projections keep the gate.
    val df = (0 until 100).map(i => (i * 1.5, i * 2.5)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("gatesafe").toString
    df.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    assert(Profiler.parquetGateBounds(onDisk).contains("x"))
    // filter/project subset: still gated
    assert(Profiler.parquetGateBounds(
      onDisk.filter(col("x") > 10).select("x")).contains("x"))
    // self-union: rows double but inputFiles dedupe → refuse entirely
    assert(Profiler.parquetGateBounds(onDisk.union(onDisk)).isEmpty)
    // row-multiplying join: refuse
    assert(Profiler.parquetGateBounds(
      onDisk.crossJoin(onDisk.select(col("y").as("y2")))).isEmpty)
    // expression aliased to the physical name: that column ungated,
    // untouched sibling still gated
    val shadow = Profiler.parquetGateBounds(
      onDisk.withColumn("x", col("x") * 1e6))
    assert(!shadow.contains("x") && shadow.contains("y"), s"$shadow")
    // rename (alias of another attribute): tainted by name
    val renamed = Profiler.parquetGateBounds(
      onDisk.select(col("y").as("x")))
    assert(!renamed.contains("x"), s"$renamed")
  }

  test("quantileSketch produces 7-dim [min,5,25,50,75,95,max] vectors") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val r = Profiler.quantileSketch(df, "t").collect()(0)
    val vec = r.getSeq[Double](r.fieldIndex("vector"))
    assert(vec.length == 7)
    assert(vec.head == 1.0 && vec.last == 100.0)
    assert(math.abs(vec(3) - 50.5) < 1e-9) // median of 1..100
    assert(vec == vec.sorted)              // monotone percentiles
  }

  test("two-level bucketed cumsum equals the single-window path") {
    import graft.ingest.Profiler
    val li = Tables.load(spark, SparkTestSession.sf0001, "lineitem")
    val stream = Profiler.valueStreamById(li, Profiler.sketchCols(li)
      .zipWithIndex.map { case ((c, t), i) => (c, t, i) })
    def run(buckets: Int) =
      Profiler.histogramQuantilesById(stream, cumsumBuckets = buckets).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    val single = run(1)
    assert(single.nonEmpty)
    // exact percentile equality for several bucket counts, including more
    // buckets than partitions can fill
    Seq(3, 8, 64).foreach { b => assert(run(b) == single, s"buckets=$b") }
    // ... and over a CACHED input, where the bucket column's two consumers
    // (local cumsum + offsets) cannot count on AQE stage reuse to hand them
    // one shared materialization: the sampled repartitionByRange variant
    // this replaced corrupted offsets exactly here (value-derived buckets
    // agree across subtrees by construction).
    val pinned = stream.persist()
    try {
      def runPinned(buckets: Int) =
        Profiler.histogramQuantilesById(pinned, cumsumBuckets = buckets).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2))
          .toMap
      Seq(8, 64).foreach { b => assert(runPinned(b) == single, s"pinned buckets=$b") }
    } finally pinned.unpersist(blocking = false)
  }

  test("bboxSketch coerces decimal-comma strings (profiler.py:91-97)") {
    val df = Seq(("1,5", 2.0), ("3,25", 4.0)).toDF("lng", "lat")
    val r = Profiler.bboxSketch(df, "t", "lng", "lat").collect()(0)
    assert(r.getAs[Double]("x_min") == 1.5)
    assert(r.getAs[Double]("x_max") == 3.25)
    assert(r.getAs[Double]("y_min") == 2.0 && r.getAs[Double]("y_max") == 4.0)
  }

  // ---- randomized range-gate boundary property ------------------------
  // The fixed-tier gate spec above pins one magnitude per tier; this
  // property samples footer-max magnitudes STRADDLING the g1/g2/s1 tier
  // boundaries (±few micro units around 3.03e9 and 9e15, plus row counts
  // around the n·B ≈ 9e18 s1-long flip), with negatives and nulls, and
  // asserts for every draw:
  //   (1) transparency — numericStats over the gated on-disk frame equals
  //       the ungated in-memory frame on every output column, and
  //   (2) ground truth — both equal an independent BigInt mirror of the
  //       documented micro-moment sequence (round→BIGINT micros, per-row
  //       hi/lo split of xm² at 1e18, double recombine, the exact IEEE
  //       cancellation tail), so a bug shared by both engine paths can't
  //       self-certify.
  // Values are generated as integer micros (v = xm/1e6) so the reference
  // is exact; the mirror re-derives each row's effective micro through the
  // engine's own round(v·1e6) sequence, which absorbs the double ulp at
  // the 9e15 end. Fixed seed: failures reproduce.

  private def scale6(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  test("property: footer range gate is result-transparent and ground-true " +
    "across random boundary-straddling magnitudes, negatives and nulls") {
    import org.scalacheck.{Gen, Prop}
    val genCase = for {
      // max-|micro| magnitude per tier, straddling the gate boundaries
      (m, bigN) <- Gen.oneOf(
        Gen.chooseNum(10L, 3000000000L).map((_, false)),          // g1 deep
        Gen.chooseNum(3029999995L, 3030000010L).map((_, false)),  // g1/g2 edge
        Gen.chooseNum(3100000000L, 1000000000000L).map((_, false)), // g2
        Gen.chooseNum(8999999000000000L, 9000000000000000L)       // g2/ungated
          .map((_, false)),
        // n·B ≈ 9e18: the s1-long flip needs ~1000 rows at B ≈ 9e15
        Gen.chooseNum(8999999000000000L, 9000000000000000L).map((_, true)))
      n <- if (bigN) Gen.chooseNum(900, 1100) else Gen.chooseNum(5, 50)
      micros <- Gen.listOfN(n, Gen.chooseNum(-m, m))
      nullAt <- Gen.listOfN(n, Gen.frequency(9 -> false, 1 -> true))
    } yield {
      // head row pins the footer max EXACTLY at the drawn boundary and is
      // never null; second row keeps n ≥ 2 non-null so std is defined
      val vals = (m :: micros.tail).zip(false :: false :: nullAt.drop(2))
        .map { case (xm, isNull) =>
          if (isNull) None else Some(xm.toDouble / 1e6) }
      vals
    }
    val prop = Prop.forAllNoShrink(genCase) { vals =>
      val df = vals.toDF("v")
      val dir = java.nio.file.Files.createTempDirectory("gateprop").toString
      df.coalesce(2).write.mode("overwrite").parquet(dir)
      val onDisk = spark.read.parquet(dir)
      // finite doubles without NaN always carry footer stats
      assert(Profiler.parquetGateBounds(onDisk).contains("v"))
      def rowOf(d: org.apache.spark.sql.DataFrame) =
        Profiler.numericStats(d, "t").collect()(0)
      val gated = rowOf(onDisk)
      val ungated = rowOf(df)
      assert(gated.toSeq == ungated.toSeq,
        s"gate not transparent:\n  gated   $gated\n  ungated $ungated")
      // independent mirror of the engine's documented sequence
      val finite = vals.flatten
      val xms = finite.map { v =>
        BigInt(java.math.BigDecimal.valueOf(v * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP)
          .doubleValue.toLong)
      }
      val nn = xms.size.toLong
      val e18 = BigInt("1000000000000000000")
      val s1 = xms.sum
      val s2d = xms.map(x => (x * x) / e18).sum.toDouble * 1e18 +
        xms.map(x => (x * x) % e18).sum.toDouble
      val s1d = s1.toDouble
      val expect = Map[String, Any](
        "n" -> nn,
        "n_missing" -> (vals.size - nn),
        "n_distinct" -> finite.distinct.size.toLong,
        "mean" -> scale6(s1d / 1000000.0 / nn),
        "std" -> scale6(math.sqrt(
          math.max((s2d - s1d * s1d / nn) / (nn - 1), 0.0)) / 1e6),
        "vmin" -> scale6(finite.min),
        "vmax" -> scale6(finite.max))
      expect.forall { case (k, e) =>
        val got = gated.get(gated.fieldIndex(k))
        val ok = got == e
        if (!ok) System.err.println(
          s"gateprop mismatch on $k: engine $got, reference $e " +
            s"(n=${vals.size}, maxMicro=${xms.map(_.abs).max})")
        ok
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(6)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, s"gate boundary property: ${res.status}")
  }
}
