package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical profiling of lake datasets (danae's `profile.report`).
  *
  * Reference semantics: ingest/profiling/profiler.py:53-131 (pandas-profiling
  * `minimal=True` + explicit temporal quantiles + spatial min/max) and
  * ingest/profiling/filters.py:92-135 (type mapping, quantile keys).
  *
  * Spark-first design: each dataset is profiled in a SINGLE aggregation pass
  * (one wide `agg` with every per-column expression), then unpivoted with
  * `stack` — no per-column jobs, no driver loops over rows. At 100 TB this is
  * one scan per dataset with map-side partial aggregation; the only caveat is
  * exact `count_distinct` (kept here because the DuckDB oracle needs exact
  * values — at production scale swap to `approx_count_distinct`, see
  * `distinctCountExpr`).
  */
object Profiler {

  /** danae column-type mapping (filters.py:118-126 + profiler.py:84-99).
    * Spatial detection by column name, as in the reference (profiler.py:90-99)
    * — including the `lattitude` misspelling; without the reference's
    * single-column index bug (profiler.py:111).
    */
  def danaeType(field: StructField): String = {
    val n = field.name.toLowerCase
    val spatialNames = Set("long", "lng", "longitude", "latt", "lat", "lattitude")
    field.dataType match {
      case _ if spatialNames.contains(n)               => "Spatial"
      case _: NumericType                              => "Numeric"
      case TimestampType | TimestampNTZType | DateType => "Temporal"
      case StringType                                  => "Categorical"
      case _                                           => "Unsupported"
    }
  }

  def typedColumns(df: DataFrame, t: String): Seq[String] =
    df.schema.fields.filter(f => danaeType(f) == t).map(_.name).toSeq

  /** First (longitude, latitude) column pair by name — danae merges the two
    * coordinate columns into one spatial variable (profiler.py:101-111,
    * minus its single-column crash bug).
    */
  def spatialPair(df: DataFrame): Option[(String, String)] = {
    // exactly the danaeType spatial name sets (profiler.py:95 — note the
    // correctly-spelt "latitude" is NOT spatial there, and a column must not
    // be both Numeric-sketched and bbox-consumed)
    val longNames = Set("long", "lng", "longitude")
    val latNames = Set("latt", "lat", "lattitude")
    val cols = df.columns
    for {
      x <- cols.find(c => longNames.contains(c.toLowerCase))
      y <- cols.find(c => latNames.contains(c.toLowerCase))
    } yield (x, y)
  }

  /** Table-level stats (profiler.py report.table; consumed ui/methods.py:108-118):
    * n, n_var, n_cells_missing, p_cells_missing, n_duplicates, p_duplicates.
    * One pass; duplicate count via multi-column distinct (map-side partial).
    */
  def tableStats(df: DataFrame, datasetId: String): DataFrame = {
    val cols = df.columns.toSeq
    val nVar = cols.size
    val missing = cols.map(c => count(when(col(c).isNull, 1)))
      .reduce(_ + _).as("n_cells_missing")
    // Data size in bytes (ui/methods.py:116-117 shows pandas memory_size /
    // record_size; re-defined here as a platform-neutral metric: 8 bytes per
    // non-null fixed-width cell + string lengths).
    val bytes = df.schema.fields.map { f =>
      f.dataType match {
        case StringType => coalesce(sum(length(col(f.name))), lit(0L)).cast(LongType)
        case _          => (count(col(f.name)) * 8).cast(LongType)
      }
    }.reduce(_ + _).as("memory_size")
    // countDistinct over a struct, not bare columns: bare multi-column
    // countDistinct silently drops rows where ANY column is null, which would
    // count null-bearing rows as duplicates (the SQL `SELECT DISTINCT *`
    // oracle keeps them).
    df.agg(
      count(lit(1)).as("n"),
      missing,
      countDistinct(struct(cols.map(col): _*)).as("n_distinct_rows"),
      bytes
    ).select(
      lit(datasetId).as("dataset_id"),
      col("n"),
      lit(nVar).cast(LongType).as("n_var"),
      col("n_cells_missing"),
      round(col("n_cells_missing").cast(DoubleType) / (col("n") * nVar), 6)
        .as("p_cells_missing"),
      (col("n") - col("n_distinct_rows")).as("n_duplicates"),
      round((col("n") - col("n_distinct_rows")).cast(DoubleType) / col("n"), 6)
        .as("p_duplicates"),
      col("memory_size"),
      round(col("memory_size").cast(DoubleType) / col("n"), 6).as("record_size")
    )
  }

  /** Per-column (|value| upper bound, total-row upper bound) read from the
    * PARQUET FOOTERS behind `df` — the zero-scan statistics that gate the
    * second-moment fast paths in [[numericWide]] (VERDICT r13 next #2).
    * A column is returned only when EVERY file's every row group carries
    * valid min/max statistics for it (plain INT32/INT64/FLOAT/DOUBLE
    * physical types; files with NaN omit double stats, which correctly
    * drops the column here); the row bound is the files' total row count
    * (≥ any filtered subset — bounds only ever need to hold from above).
    * Non-parquet or in-memory inputs return empty: every column then takes
    * the ungated overflow-proof path, so a WRONG gate is impossible — only
    * a missed optimization. Driver-side footer reads are the single-node
    * form; at lake scale these same bounds come from the table catalog /
    * metastore column stats or the previous profiling epoch.
    *
    * Footer bounds are only valid for frames that are ROW/VALUE SUBSETS
    * of the scanned files, so the gate additionally requires the analyzed
    * plan to be a Project/Filter chain over ONE relation (a union
    * re-reading the same file doubles rows past the footer row count; a
    * row-multiplying join or explode likewise; both return empty here and
    * stay ungated), and drops any column whose name is (re)defined by an
    * Alias along the chain (an expression aliased to a physical column's
    * name would inherit that column's bound while carrying different
    * values).
    */
  def parquetGateBounds(df: DataFrame): Map[String, (Double, Long)] = {
    import scala.jdk.CollectionConverters._
    val tainted = subsetSafeTaint(df) match {
      case None => return Map.empty // not a pure subset of one relation
      case Some(t) => t
    }
    val files = try df.inputFiles.toSeq catch { case _: Exception => Seq.empty }
    if (files.isEmpty) return Map.empty
    try {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val perFile = files.map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val rows = blocks.map(_.getRowCount).sum
          // per column: Some(maxAbs over this file's chunks) iff every
          // chunk has usable stats
          val stats = blocks.flatMap(_.getColumns.asScala)
            .groupBy(_.getPath.toDotString)
            .map { case (name, chunks) =>
              val maxes = chunks.map { ch =>
                val st = ch.getStatistics
                if (st == null || st.isEmpty || !st.hasNonNullValue) None
                else (st.genericGetMin, st.genericGetMax) match {
                  case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                    Some(math.max(math.abs(mn.toDouble), math.abs(mx.toDouble)))
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    Some(math.max(math.abs(mn.toDouble), math.abs(mx.toDouble)))
                  case (mn: java.lang.Float, mx: java.lang.Float) =>
                    Some(math.max(math.abs(mn.toDouble), math.abs(mx.toDouble)))
                  case (mn: java.lang.Double, mx: java.lang.Double) =>
                    Some(math.max(math.abs(mn.doubleValue), math.abs(mx.doubleValue)))
                  case _ => None // decimal/binary/etc: ungated
                }
              }
              name -> (if (maxes.exists(m => m.isEmpty || m.exists(_.isNaN)))
                None else maxes.flatten.maxOption)
            }
          (rows, stats)
        } finally reader.close()
      }
      val totalRows = perFile.map(_._1).sum
      val allCols = perFile.flatMap(_._2.keys).distinct
      allCols.flatMap { c =>
        val ms = perFile.map(_._2.getOrElse(c, None))
        if (ms.exists(_.isEmpty) || tainted.contains(c)) None
        else Some(c -> (ms.flatten.max, totalRows))
      }.toMap
    } catch { case _: Exception => Map.empty }
  }

  /** Some(alias-tainted column names) iff `df`'s analyzed plan is a pure
    * Project/Filter/alias chain over exactly ONE leaf relation — the shape
    * for which parquet footer bounds are sound (filters and projections
    * only drop rows/columns; attribute values pass through unchanged).
    * None for anything row-multiplying or value-changing at the plan level
    * (union, join, generate, aggregate, window, …). Columns named by an
    * Alias anywhere in the chain are tainted: their values are computed,
    * whatever the physical column of the same name holds.
    */
  private def subsetSafeTaint(df: DataFrame): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.plans.logical
    def walk(p: logical.LogicalPlan): Option[Set[String]] = p match {
      case pr: logical.Project =>
        walk(pr.child).map(_ ++ pr.projectList.collect {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.name
        })
      case f: logical.Filter => walk(f.child)
      case s: logical.SubqueryAlias => walk(s.child)
      case l: logical.LeafNode => Some(Set.empty)
      case _ => None
    }
    try walk(df.queryExecution.analyzed) catch { case _: Exception => None }
  }

  /** The non-distinct half of numeric profiling: ONE wide agg (no Expand)
    * then stack to long. With approx=true, HLL distinct counts ride in the
    * same agg — the 100 TB configuration, no second pass at all.
    */
  private def numericWide(df: DataFrame, datasetId: String, approx: Boolean,
                          gates: Map[String, (Double, Long)],
                          cids: Map[String, Int] = Map.empty): DataFrame = {
    val cols = typedColumns(df, "Numeric")
    require(cols.nonEmpty, s"$datasetId has no numeric columns")
    val aggs = cols.flatMap { c =>
      val d = col(c).cast(DoubleType)
      // mean/std from EXACT integer-micro moments: xm = round(x·1e6) is the
      // same long in any engine (exact while |x| ≲ 9·10⁹ — the double's
      // 2⁵³ integer ceiling at micro scale), Σxm and Σxm² ride decimals
      // (order-free, no accumulation error), and the one float tail —
      // D = n·Σxm² − (Σxm)², std = round(sqrt(D/n/(n−1))/1e6, 6) — is the
      // identical IEEE sequence in the DuckDB oracle. The previous
      // stddev_samp/round(sum) forms were engine-internal float
      // accumulations whose low bits diverged at the sf1.0 decade probe
      // (deltas ≈ 5e-6 at n = 10⁶). D ≥ 0 exactly (Cauchy–Schwarz on
      // integers), so no clamp; n ≤ 1 yields NULL std like stddev_samp.
      // Σxm as decimal(38,0) (cast before sum): overflows only past ~10²² rows
      // at the |x| ≲ 9·10⁹ ceiling — beyond any corpus. Σxm² CANNOT ride one
      // decimal(38,0): xm² ≤ 8.1·10³¹, so the sum overflows at ~10⁶
      // ceiling-magnitude rows, where Spark's non-ANSI decimal sum goes NULL
      // silently while DuckDB's HUGEINT errors — the engines would diverge
      // exactly where the exact-sum discipline should protect. So xm² is
      // split hi/lo around 10¹⁸: hi = xm² DIV 1e18, lo = xm² MOD 1e18, with
      // Σhi ≤ n·8.1·10¹³ and Σlo ≤ n·10¹⁸ keeping decimal(38,0) safe past
      // 10²⁰ rows, and the recombine the same two-op IEEE sequence in the
      // oracle twin (which computes the identical hi/lo on HUGEINT).
      //
      // The per-row split is PURE LONG arithmetic (the CovMoments carry
      // trick), not decimal: a first decimal cut (xm² as decimal(38,0),
      // DIV/% on it) measured 4× the whole query — BigDecimal multiply +
      // 128-bit division per row off the codegen fast path. With
      // a = |xm| = aH·10⁹ + aL: a² = (aH² + cH)·10¹⁸ + L where
      // cross = 2·aH·aL = cH·10⁹ + cL and L = cL·10⁹ + aL² < 2·10¹⁸ — every
      // intermediate fits a long (max ~1.8·10¹⁶ for cross, ~2·10¹⁸ for L),
      // one more carry off L lands exact (hi, lo). Only the two SUMS are
      // decimal — and the RANGE GATE below moves even those onto long sums
      // when the footer bounds prove it safe. NULL propagates through, so
      // count semantics are unchanged.
      // Non-finite → NULL before the BIGINT cast: non-ANSI cast maps ±Inf to
      // ±Long.MaxValue (aH ≈ 9.2e9, so aH·aH silently overflows long) while
      // s1's decimal(19,0) cast NULLs the same row — without the guard the
      // two sums disagree on which rows they skip and std goes silently
      // wrong instead of merely excluding the row (ADVICE r12).
      val xd = s"CAST(`$c` AS DOUBLE)"
      val xf = s"(CASE WHEN isnan($xd) OR abs($xd) = CAST('Infinity' AS DOUBLE)" +
        s" THEN NULL ELSE $xd END)"
      val aa = s"abs(CAST(round($xf * 1000000) AS BIGINT))"
      val aH = s"($aa DIV 1000000000)"
      val aL = s"($aa % 1000000000)"
      val cr = s"(2 * $aH * $aL)"
      val cH = s"($cr DIV 1000000000)"
      val cL = s"($cr % 1000000000)"
      val Lx = s"($cL * 1000000000 + $aL * $aL)"
      // RANGE GATE (VERDICT r13 next #2): when the parquet footers bound
      // this column's |xm| = |round(x·1e6)| by B and its rows by n, the
      // moment sums can drop off the decimal aggregation buffers onto
      // plain LONG sums — the gates below prove no partial sum can
      // overflow (ANSI-safe), and the summed values are IDENTICAL
      // integers to the ungated path's, so the recombine, the std tail
      // and the DuckDB oracle are untouched (bit-identity by
      // construction: a wrong gate is impossible, only a missed gate).
      //   g1 (B ≤ 3.03e9): xm² fits a long — the per-row hi/lo split is a
      //      direct square + DIV/% (3 ops instead of the 14-op carry).
      //   g2 (B ≤ 9e15, hi-sum provably long-safe): carry ops unchanged,
      //      but hi rides a long sum.
      //   Both: lo < 1e18 splits at 1e9 into two long sums (each ≤ n·1e9,
      //      long-safe for n ≤ 9e9), recombined exactly post-agg by
      //      additivity: Σlo = (Σ lo DIV 1e9)·1e9 + Σ(lo % 1e9).
      //   s1 (n·B ≤ 9e18): Σxm rides one signed long sum (every prefix is
      //      bounded by n·B, so no transient overflow either).
      // B carries +2 slack for the round() half-step and the double→micro
      // ceil; bounds compare in doubles against 9.0e18 < 2⁶³−1 margin.
      val gate = gates.get(c).map { case (m, rows) =>
        (math.ceil(m * 1e6) + 2, rows.toDouble) }
      val s1LongOk = gate.exists { case (b, n) => n * b <= 9.0e18 }
      val g1 = gate.exists { case (b, n) => b <= 3.03e9 && n <= 9.0e9 }
      val g2 = !g1 && gate.exists { case (b, n) =>
        val aHm = b / 1e9 + 1
        b <= 9.0e15 && n <= 9.0e9 && n * (aHm * aHm + 2 * aHm + 2) <= 9.0e18 }
      val s1: Column =
        if (s1LongOk) sum(expr(s"CAST(round($xf * 1000000) AS BIGINT)"))
          .cast("decimal(38,0)")
        else sum(round(d * lit(1e6)).cast("decimal(19,0)").cast("decimal(38,0)"))
      val (s2hi, s2lo): (Column, Column) =
        if (g1 || g2) {
          val (hiR, loR) =
            if (g1) {
              val sq = s"($aa * $aa)"
              (s"($sq DIV 1000000000000000000)", s"($sq % 1000000000000000000)")
            } else
              (s"($aH * $aH + $cH + ($Lx DIV 1000000000000000000))",
                s"($Lx % 1000000000000000000)")
          (sum(expr(hiR)).cast("decimal(38,0)"),
            sum(expr(s"$loR DIV 1000000000")).cast("decimal(38,0)")
              * lit(1000000000L)
              + sum(expr(s"$loR % 1000000000")).cast("decimal(38,0)"))
        } else (
          sum(expr(s"CAST($aH * $aH + $cH + ($Lx DIV 1000000000000000000)" +
            " AS DECIMAL(38,0))")),
          sum(expr(s"CAST($Lx % 1000000000000000000 AS DECIMAL(38,0))")))
      val s2d = s2hi.cast(DoubleType) * lit(1e18) + s2lo.cast(DoubleType)
      val n = count(d)
      Seq(
        n.as(s"n__$c"),
        count(when(d.isNull, 1)).as(s"miss__$c"),
        round(s1.cast(DoubleType) / lit(1000000.0) / n, 6).as(s"mean__$c"),
        // variance from the exact sums via DETERMINISTIC double
        // cancellation (Σxm² − (Σxm)²/n — identical IEEE sequence in the
        // oracle): the all-integer D = n·Σxm² − (Σxm)² form overflows
        // 128-bit arithmetic for id-like columns already at 10⁶ rows
        // (n·Σxm² ≈ 10⁴¹); the clamp absorbs cancellation's tiny negatives
        when(n > 1, round(
          sqrt(greatest(
            (s2d - s1.cast(DoubleType) * s1.cast(DoubleType) / n)
              / (n - 1), lit(0.0)))
            / lit(1000000.0), 6)).as(s"std__$c"),
        round(min(d), 6).as(s"min__$c"),
        round(max(d), 6).as(s"max__$c")
      ) ++ (if (approx) Seq(approx_count_distinct(d).as(s"dist__$c")) else Nil)
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // When the caller assigned dense INT cids, ride them through the stack
    // as literals: the distinct-count join downstream is then cid-on-cid,
    // so nothing the optimizer pushes across it can reference the
    // name-lookup maps (round 18: the (dataset_id, col_name) join keys let
    // inferred equality/isnotnull predicates sink BELOW the distinct
    // aggregate as per-row element_at(map, cid) scans over the corpus-sized
    // value stream — all vacuously true; see plans/r18/*_before.txt).
    val withCid = cids.nonEmpty
    val stackArgs = cols.map { c =>
      val base = s"'$c', `n__$c`, `miss__$c`, `mean__$c`, `std__$c`, `min__$c`, `max__$c`"
      val tail = if (approx) s"$base, `dist__$c`" else base
      if (withCid) s"${cids(c)}, $tail" else tail
    }.mkString(", ")
    val outCols = (if (withCid) "(cid, col_name" else "(col_name") +
      ", n, n_missing, mean, std, vmin, vmax" +
      (if (approx) ", n_distinct)" else ")")
    wide.select(lit(datasetId).as("dataset_id"),
      expr(s"stack(${cols.size}, $stackArgs) as $outCols"))
  }

  /** Output shaping shared by the single- and multi-table paths: p_distinct /
    * p_missing as consumed by the profile view (ui/methods.py:124-131);
    * pandas-profiling definitions — distinct share of non-null values,
    * missing share of all rows.
    */
  private def numericFinish(withDistinct: DataFrame): DataFrame =
    withDistinct.select(col("dataset_id"), col("col_name"),
      col("n"), col("n_missing"), col("n_distinct"),
      round(col("n_distinct").cast(DoubleType) / col("n"), 6).as("p_distinct"),
      round(col("n_missing").cast(DoubleType) / (col("n") + col("n_missing")), 6)
        .as("p_missing"),
      col("mean"), col("std"), col("vmin"), col("vmax"))

  /** Per-numeric-column stats in long format, one aggregation pass + stack.
    * Keys mirror filters.py:64-74 / pandas-profiling minimal stats. Exact
    * distinct counts come from a second pass over the long value stream
    * whose shuffle carries only DISTINCT (col, value) pairs (map-side
    * combine) — an exact multi-column distinct inside the wide agg would
    * force an N-way Expand of the whole input instead.
    */
  def numericStats(df: DataFrame, datasetId: String, approx: Boolean = false): DataFrame = {
    val withDistinct =
      if (approx) numericWide(df, datasetId, approx, parquetGateBounds(df))
      else {
        // distinct on (cid INT, v) — the corpus-sized distinct shuffle
        // carries a 4-byte key instead of the column-name string, and the
        // hash-agg compares ints (round 17, guide §2.3). 1:1 id mapping,
        // so the per-column counts are identical. The join is cid-on-cid
        // (round 18): the wide side carries the cid as a stack literal, so
        // no name-map expression can be pushed into the value stream.
        val cols = typedColumns(df, "Numeric").zipWithIndex
        val stacked = numericWide(df, datasetId, approx,
          parquetGateBounds(df), cols.toMap)
        val dist = valueStreamById(df,
            cols.map { case (c, i) => (c, "Numeric", i) })
          .distinct()
          .groupBy("cid").agg(count(lit(1)).as("n_distinct"))
        // one row per column — broadcast (see numericStatsAll)
        stacked.join(broadcast(dist), Seq("cid"), "left")
          .na.fill(0L, Seq("n_distinct"))
      }
    numericFinish(withDistinct)
  }

  /** Numeric stats for MANY datasets with ONE distinct shuffle: every
    * table's (col, value) stream unions into a single
    * distinct+count aggregation, so profiling N tables costs N scans + one
    * shuffle rather than N of each. The wide (non-distinct) aggs stay
    * per-table — they're single-stage map-side scans.
    */
  def numericStatsAll(dfs: Seq[(String, DataFrame)]): DataFrame = {
    // spread once per table; the wide-agg and distinct-stream branches read
    // the SAME exchange (ReusedExchange), so this costs one compact shuffle
    // while un-serializing single-row-group scans (see spreadSketchCols).
    // Gate bounds read the ORIGINAL frames' footers (spread output still
    // resolves inputFiles, but the pre-projection frame is the source).
    val spread = dfs.map { case (id, df) =>
      (id, spreadSketchCols(df), parquetGateBounds(df)) }
    // distinct on (cid INT, v): one dense id per (dataset, numeric column)
    // across ALL tables — the corpus-sized distinct shuffle carries a
    // 4-byte key instead of two strings, and the hash-agg compares ints
    // (round 17, guide §2.3).
    val colIds = {
      var next = -1
      spread.map { case (id, df, _) =>
        (id, typedColumns(df, "Numeric").map { c => next += 1; (c, next) })
      }
    }
    // the wide side carries each column's cid as a stack literal, so the
    // dist join below is cid-on-cid: joining on the re-attached
    // (dataset_id, col_name) instead let Catalyst sink inferred
    // equality/isnotnull predicates below the distinct aggregate as ~12
    // vacuously-true element_at(map, cid) scans PER EXPLODED VALUE ROW
    // (round 18 fix — guide §4, keep wide expressions off the per-row path;
    // see plans/r18/profile_numeric_stats_before.txt:364).
    val wides = spread.zip(colIds).map { case ((id, df, g), (_, cols)) =>
      numericWide(df, id, approx = false, g, cols.toMap) }
      .reduce(_.unionAll(_))
    val stream = spread.zip(colIds).map { case ((_, df, _), (_, cols)) =>
      valueStreamById(df, cols.map { case (c, i) => (c, "Numeric", i) })
    }.reduce(_.unionAll(_))
    val dist = stream.distinct()
      .groupBy("cid").agg(count(lit(1)).as("n_distinct"))
    // dist is one row per profiled COLUMN — broadcast it; without the hint
    // Catalyst's post-shuffle size estimate plans a sort-merge join and
    // re-shuffles the wide stats
    numericFinish(
      wides.join(broadcast(dist), Seq("cid"), "left")
        .na.fill(0L, Seq("n_distinct")))
  }

  val sketchPs: Seq[Double] = Seq(0.0, 0.05, 0.25, 0.5, 0.75, 0.95, 1.0)

  /** (cid, v) stream of `cols` under caller-assigned dense INT ids, temporal
    * as epoch seconds; one scan, codegen'd, null-free (round 17, guide
    * §2.3): the exploded per-value row carries a 4-byte key instead of the
    * column-name string, so the corpus-sized histogram/distinct
    * aggregations downstream hash and compare ints (the sampled hot frame
    * was UTF8String.getBytes inside the agg fast-map) and the shuffles
    * carry fewer bytes per row. cols: (column name, danae type, cid).
    */
  def valueStreamById(df: DataFrame, cols: Seq[(String, String, Int)]): DataFrame = {
    val entries = cols.map { case (c, t, id) =>
      val d = if (t == "Temporal") s"cast(cast(`$c` as timestamp) as double)"
              else s"cast(`$c` as double)"
      s"struct($id as cid, $d as v)"
    }
    df.select(expr(s"explode(array(${entries.mkString(",")})) as e"))
      .select(col("e.cid").as("cid"), col("e.v")).filter(col("v").isNotNull)
  }

  /** Project a dataset down to its sketchable columns and spread the rows
    * across the cluster. Single-row-group (or single-file, unsplittable)
    * inputs otherwise cap the scan at one task, serializing every per-row
    * explode and partial aggregate behind it; the exchange carries ONLY the
    * profiled columns. For well-laid-out data this is a no-op cost (one
    * compact shuffle) — the scan parallelism then comes from the files
    * themselves.
    */
  def spreadSketchCols(df: DataFrame): DataFrame =
    spreadCols(df, sketchCols(df).map(_._1))

  /** Project a dataset down to `names` and spread the rows across the
    * cluster when the projection is big enough to matter — a blanket
    * repartition turns a union of small tables into hundreds of empty
    * task launches (Catalyst size estimate; no action triggered).
    * Threshold 2 MB of COMPRESSED column data: the per-row explode +
    * partial-aggregate work behind the scan multiplies well past what the
    * size estimate sees, so even a single-digit-MB single-row-group scan
    * serializes seconds of aggregation on one core without spread.
    */
  def spreadCols(df: DataFrame, names: Seq[String]): DataFrame =
    if (names.isEmpty) df
    else {
      val projected = df.select(names.map(col): _*)
      val bytes = projected.queryExecution.optimizedPlan.stats.sizeInBytes
      if (bytes < (2L << 20)) projected
      else projected.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions)
    }

  /** Cumulative counts over the per-column value histogram, keyed by the
    * column-identity key set `keys`. `buckets <= 1` is one window
    * partition per column — parallelism = #columns, each task holding that
    * column's distinct values (the fixture path). `buckets > 1` is the
    * two-level bucketed cumsum for columns with extreme distinct-value
    * cardinality: slice each column's value range into buckets, local
    * cumsum per slice, then per-slice subtotals (#columns × buckets rows —
    * tiny) prefix-summed and broadcast back as offsets. Parallelism becomes
    * #columns × buckets and no task ever materializes a whole column.
    * Output is IDENTICAL for any bucket count (bucket order follows value
    * order and equal values share a bucket) — asserted by ProfilerSpec,
    * including over cached input.
    */
  private def cumulativeCountsKeyed(hist: DataFrame, buckets: Int,
                                    keys: Seq[String]): DataFrame =
    if (buckets <= 1) {
      val byCol = Window.partitionBy(keys.map(col): _*).orderBy("v")
      hist.withColumn("cum",
        sum("cnt").over(byCol.rowsBetween(Window.unboundedPreceding, 0)))
    } else bucketedCumulative(hist, buckets, keys).drop("n")

  /** The `buckets > 1` cumsum, carrying each column's total `n` through to
    * the output so the caller's interpolation needs no second totals pass
    * (a whole-partition window for n would buffer every hist row again).
    *
    * Deterministic CONTENT-DERIVED bucket boundaries, NOT
    * repartitionByRange: range partitioning samples its child with a seed
    * tied to RDD identity, and the bucket column is consumed by TWO
    * subtrees (local cumsum + offsets). Unless the sampled exchange is
    * materialized exactly once — AQE stage reuse, observed to FAIL over
    * cached children, leaving two independent samplings whose partition
    * ids disagree and corrupt the offsets — the result is
    * layout-dependent. Boundaries here are quantiles of an md5-selected
    * ~1/256 sample of each column's distinct values: pure functions of the
    * data, so both subtrees agree under ANY physical plan (bucket order
    * follows value order, equal values share a bucket — all the two-level
    * cumsum needs), and sample quantiles stay balanced under arbitrary
    * value skew, where (min,max)-width buckets would collapse around one
    * outlier. A column too small to be sampled lands in one bucket — the
    * single-window shape that is already fine at that size.
    */
  private[graft] def bucketedCumulative(hist0: DataFrame, buckets: Int,
                                        keys: Seq[String]): DataFrame = {
    // Pin the histogram ONCE: three subtrees consume it (the md5 sample
    // behind the boundaries, the bucketed local cumsum, and the per-bucket
    // totals), and the corpus-scale groupBy upstream must not recompute per
    // branch — exchange reuse cannot save the sample branch, because its
    // key filter pushes below the aggregate into a different subtree. The
    // pin is distinct-values-sized and spills to disk at scale; caching is
    // SAFE here precisely because bucket ids derive from the data, never
    // from partition identity (see above).
    val hist = graft.Caching.temp(hist0)
    // Materialize the pin EAGERLY: the boundary subtree reaches the bucketed
    // consumers as a BROADCAST build, and Spark materializes broadcast
    // subtrees concurrently with the main query's shuffle stages — with a
    // lazily-filled cache, the boundary build starts before either consumer
    // has filled it and re-runs the corpus-scale value stream from scratch
    // (its md5 sample filter pushes BELOW the aggregate, so only its agg is
    // 1/256-sized — the scan+spread of every value is paid in full, twice).
    // Stage-verified at sf0.1/buckets=32: two 600k-record scan stages per
    // build lazily vs one scan + one cache-fill count() eagerly. One
    // count() serializes the fill (the pass the build pays exactly once
    // anyway); every subtree then reads the distinct-values-sized cache.
    // Only the buckets>1 path runs this — the single-window fixture path
    // never calls in here, so the bench-suite plans are unchanged.
    hist.count()
    val sampled = hist.filter(
      conv(substring(md5(concat_ws("|",
        keys.map(col) :+ col("v"): _*)), 1, 4), 16, 10).cast("long") < 256)
    val tiled = sampled.withColumn("tile", ntile(buckets).over(
      Window.partitionBy(keys.map(col): _*).orderBy("v")))
    val bounds = tiled.groupBy((keys :+ "tile").map(col): _*)
      .agg(max("v").as("bv"))
      .filter(col("tile") < buckets) // the last tile's max is no boundary
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list("bv")).as("bounds"))
    val bucketed = hist
      .join(broadcast(bounds), keys, "left")
      .withColumn("pid",
        size(filter(coalesce(col("bounds"), array()), b => b < col("v"))))
      .drop("bounds")
    // Per-bucket totals come from a pre-window aggregate over the pinned
    // rows; the column total n is then one more frame over the SAME tiny
    // (#columns × buckets) table — no separate corpus-scale stats pass.
    val wCol = Window.partitionBy(keys.map(col): _*)
    val offsets = bucketed
      .groupBy((keys :+ "pid").map(col): _*).agg(sum("cnt").as("ptotal"))
      .withColumn("offset", coalesce(
        sum("ptotal").over(wCol.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n", sum("ptotal").over(
        wCol.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select((keys ++ Seq("pid", "offset", "n")).map(col): _*)
    val local = Window.partitionBy((keys :+ "pid").map(col): _*).orderBy("v")
    bucketed.withColumn("lcum",
      sum("cnt").over(local.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), keys :+ "pid")
      .withColumn("cum", col("lcum") + col("offset"))
      .drop("pid", "lcum")
  }

  /** Exact interpolated percentiles via a distributed value histogram over a
    * (dataset_id, col_name, v) stream — MANY datasets/columns share one
    * shuffle: groupBy(dataset,col,value) count (map-side combine shrinks to
    * distinct values), cumulative counts per column, then each percentile
    * position p*(n-1) picks its bracketing values and interpolates
    * `lower + (upper - lower) * frac` — the same formula as Spark's
    * `percentile` and DuckDB's `quantile_cont`, but with no giant
    * per-executor value maps: the shuffle carries only distinct values, so it
    * survives columns with billions of rows. The cumulative pass is
    * [[cumulativeCountsKeyed]], one window partition per column (the
    * two-level bucketed cumsum is [[histogramQuantilesById]]'s option).
    * Returns (dataset_id, col_name, dim 1-based, v) with v rounded to 6.
    */
  def histogramQuantiles(stream: DataFrame,
                         ps: Seq[Double] = sketchPs): DataFrame =
    histogramQuantilesKeyed(stream, ps, 1, Seq("dataset_id", "col_name"))

  /** [[histogramQuantiles]] over a dense-INT-keyed (cid, v) stream — the
    * hot-path form (see [[cumulativeCountsKeyed]]): the corpus-sized
    * histogram aggregation and cumulative sort hash/compare one int
    * instead of two strings per row. Same values per key by construction
    * (the cid ↔ (dataset, column) mapping is 1:1 and driver-known).
    * `cumsumBuckets > 1` selects the two-level bucketed cumsum for extreme
    * per-column distinct cardinality — identical results.
    * Returns (cid, dim, v).
    */
  def histogramQuantilesById(stream: DataFrame, ps: Seq[Double] = sketchPs,
                             cumsumBuckets: Int = 1): DataFrame =
    histogramQuantilesKeyed(stream, ps, cumsumBuckets, Seq("cid"))

  private def histogramQuantilesKeyed(stream: DataFrame, ps: Seq[Double],
                                      cumsumBuckets: Int,
                                      keys: Seq[String]): DataFrame = {
    val hist = stream.groupBy((keys :+ "v").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val withCum =
      if (cumsumBuckets > 1) bucketedCumulative(hist, cumsumBuckets, keys)
      else {
        // total n per column via a tiny agg + broadcast join (a second
        // whole-partition window would buffer every hist row again)
        val totals = hist.groupBy(keys.map(col): _*).agg(sum("cnt").as("n"))
        cumulativeCountsKeyed(hist, cumsumBuckets, keys)
          .join(broadcast(totals), keys)
      }
    // The interpolation position rides INTEGER micros: posm = pm·(n−1) with
    // pm the percentile in millionths, lo/fraction by integer DIV/MOD. The
    // earlier float form (pos = p·(n−1), frac = pos − floor(pos)) loses
    // low bits at large n (0.05·999999 → frac 0.9499999999970896), and an
    // oracle engine computing the same quantile through its own float
    // sequence lands a half-ulp away — the first sf1.0 fp-noise mechanism.
    // The integer arithmetic is mirrored verbatim in the DuckDB oracle, so
    // both engines agree exactly at any n.
    val pExpr = ps.zipWithIndex.map { case (p, i) =>
      s"struct(${i + 1}L as dim, ${math.round(p * 1e6)}L as pm)" }
    // Pre-explode pruning (round 18, guide §2.3 — don't generate rows you
    // immediately drop): the explode below multiplies the distinct-value
    // histogram by |ps| and the bracketing filter then keeps only ~2 rows
    // per (column, percentile). Keep a histogram row only if its index
    // range [cum-cnt, cum-1] intersects [lo_k, lo_k+1] for SOME percentile
    // k (a superset of the exact lo/hi test, since hi ∈ {lo, lo+1}), so
    // the per-dim explode+filter runs over the grid-sized survivor set.
    // Identical output: filter∘explode ≡ explode∘prefilter on the kept set.
    val preKeep = ps.map { p =>
      val pm = math.round(p * 1e6)
      s"(((${pm}L * (n - 1)) DIV 1000000) <= cum - 1 AND " +
        s"((${pm}L * (n - 1)) DIV 1000000) + 1 >= cum - cnt)"
    }.mkString(" OR ")
    val joined = withCum
      .filter(expr(preKeep))
      .select(col("*"), expr(s"explode(array(${pExpr.mkString(",")})) as pp"))
      .select(keys.map(col) ++ Seq(col("v"), col("cnt"),
        col("cum"), col("n"), col("pp.dim").as("dim"), col("pp.pm").as("pm")): _*)
      .withColumn("posm", col("pm") * (col("n") - 1))
      .withColumn("lo", expr("posm DIV 1000000"))
      .withColumn("hi", col("lo") +
        when(expr("posm % 1000000") > 0, 1L).otherwise(0L))
      // this value's index range is [cum-cnt, cum-1]
      .filter((col("cum") - col("cnt") <= col("lo") && col("lo") <= col("cum") - 1)
        || (col("cum") - col("cnt") <= col("hi") && col("hi") <= col("cum") - 1))
    // The interpolated value itself is ALSO integer-exact: endpoint micros
    // mlo/mhi (exact while |v| ≲ 9·10⁹ — double's 2⁵³ ceiling at micro
    // scale; epochs sit at ~1.7·10⁹), the weighted numerator
    // mlo·(1e6−fm) + mhi·fm as an exact decimal, and sign-aware
    // round-half-away to the output micro. A float
    // round(v_lo + (v_hi−v_lo)·t, 6) lands on TRUE half-micro boundaries
    // (e.g. the median of microsecond-precision epochs whenever
    // lo_µs + hi_µs is odd), where Spark's half-up and DuckDB's
    // multiply-round disagree — the last sf1.0 fp-noise source.
    joined.groupBy((keys :+ "dim").map(col): _*)
      .agg(
        max(when(col("cum") - col("cnt") <= col("lo") && col("lo") <= col("cum") - 1,
          col("v"))).as("v_lo"),
        max(when(col("cum") - col("cnt") <= col("hi") && col("hi") <= col("cum") - 1,
          col("v"))).as("v_hi"),
        first(expr("posm % 1000000")).as("fm"))
      .withColumn("num",
        round(col("v_lo") * lit(1e6)).cast("decimal(38,0)") * (lit(1000000L) - col("fm"))
          + round(col("v_hi") * lit(1e6)).cast("decimal(38,0)") * col("fm"))
      .withColumn("outm", expr("(num - (num % 1000000)) div 1000000")
        + when(expr("num % 1000000") >= 500000, 1L)
          .when(expr("num % 1000000") <= -500000, -1L).otherwise(0L))
      .select(keys.map(col) ++ Seq(col("dim"),
        (col("outm").cast("double") / lit(1000000.0)).as("v")): _*)
  }

  /** Assemble 7-dim sketch vectors (dataset_id, col_name, col_type,
    * vector) from [[histogramQuantilesById]] output: vectors assemble per
    * cid, then names/types re-attach from the driver-known id mapping via
    * literal maps — the result is ~#columns rows, so the per-row map
    * lookups are free.
    */
  def assembleSketchVectorsById(quantiles: DataFrame,
                                info: Map[Int, (String, String, String)]): DataFrame = {
    def m(f: ((String, String, String)) => String) =
      map(info.toSeq.flatMap { case (id, t) => Seq(lit(id), lit(f(t))) }: _*)
    quantiles
      .groupBy("cid")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("v")))),
        s => s.getField("v")).as("vector"))
      .select(element_at(m(_._1), col("cid")).as("dataset_id"),
        element_at(m(_._2), col("cid")).as("col_name"),
        element_at(m(_._3), col("cid")).as("col_type"),
        col("vector"))
  }

  /** Sketchable columns with their danae types, schema order. */
  def sketchCols(df: DataFrame): Seq[(String, String)] =
    typedColumns(df, "Numeric").map((_, "Numeric")) ++
      typedColumns(df, "Temporal").map((_, "Temporal"))

  /** 7-dim percentile sketch vectors [min,5%,25%,50%,75%,95%,max] for every
    * Numeric and Temporal column (content_search.py:129-135,152-158;
    * quantile keys filters.py:128-130). Temporal vectors are epoch seconds
    * (content_search.py:157). Exact interpolated percentiles (Spark
    * `percentile`) so the DuckDB `quantile_cont` oracle agrees; elements
    * rounded to 6 decimals on BOTH sides to absorb float noise.
    */
  def quantileSketch(df: DataFrame, datasetId: String): DataFrame = {
    require(sketchCols(df).nonEmpty, s"$datasetId has no sketchable columns")
    quantileSketches(Seq(datasetId -> df))
  }

  /** [[quantileSketch]] rows of many datasets through ONE pipeline: every
    * sketchable column gets a dense INT id, in dataset then column order,
    * all datasets feed one (cid, v) stream, and one histogram-quantile pass
    * (one shuffle) serves them all. The index build, an index refresh and
    * the catalogue's profiling queue all run this pipeline, so a publish
    * compiles one set of classes for it (a one-dataset profile pass and
    * that dataset's refresh share them). Datasets without sketchable
    * columns contribute no rows. `cumsumBuckets` as in
    * [[histogramQuantilesById]].
    */
  def quantileSketches(dfs: Seq[(String, DataFrame)],
                       cumsumBuckets: Int = 1): DataFrame = {
    val withIds = {
      var next = -1
      dfs.map { case (id, df) =>
        (id, df, sketchCols(df).map { case (c, t) => next += 1; (c, t, next) })
      }.filter(_._3.nonEmpty)
    }
    require(withIds.nonEmpty, "no sketchable columns")
    val stream = withIds.map { case (_, df, cols) => valueStreamById(df, cols) }
      .reduce(_.unionAll(_))
    val info = withIds.flatMap { case (id, _, cols) =>
      cols.map { case (c, t, i) => i -> ((id, c, t)) }
    }.toMap
    assembleSketchVectorsById(
      histogramQuantilesById(stream, cumsumBuckets = cumsumBuckets), info)
  }

  /** Spatial bounding-box sketch [x_min, y_min, x_max, y_max]
    * (content_search.py:144-150, filters.py:132-135; min/max computation
    * profiler.py:90-99 incl. the decimal-comma fix for string coords).
    */
  def bboxSketch(df: DataFrame, datasetId: String, xCol: String, yCol: String): DataFrame = {
    def coerce(c: String): Column = df.schema(c).dataType match {
      case StringType => regexp_replace(col(c), ",", ".").cast(DoubleType)
      case _          => col(c).cast(DoubleType)
    }
    df.agg(
      round(min(coerce(xCol)), 6).as("x_min"),
      round(min(coerce(yCol)), 6).as("y_min"),
      round(max(coerce(xCol)), 6).as("x_max"),
      round(max(coerce(yCol)), 6).as("y_max")
    ).select(
      lit(datasetId).as("dataset_id"),
      lit(xCol).as("x_col"), lit(yCol).as("y_col"),
      col("x_min"), col("y_min"), col("x_max"), col("y_max"),
      array(col("x_min"), col("y_min"), col("x_max"), col("y_max")).as("vector"))
  }

  /** Column-type histogram per dataset (profiler.py:113,119,126 `types`
    * Counter). Pure schema derivation — no scan.
    */
  def typeHistogram(dfs: Seq[(String, DataFrame)]): Seq[(String, String, Long)] =
    dfs.flatMap { case (id, df) =>
      df.schema.fields.groupBy(danaeType).map { case (t, fs) => (id, t, fs.length.toLong) }
    }.sortBy(r => (r._1, r._2))
}
