package graft.search

import graft.functions.{HeldValue, MapLookup, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType,
  MapType, StringType, StructField, StructType}

/** Column-sketch kNN — the Spark version of danae's R-tree nearest-neighbor
  * search over column vectors (search/content_search.py:72-116 +
  * search/index.py:37-43), including the reference's kth-distance
  * normalization (content_search.py:88-96: the L-th smallest NON-ZERO
  * distance, floored at 1e-12) and exp-decay similarity
  * `sim = w * exp(-decay * dist / kth)` (content_search.py:104).
  *
  * Plan shape: the query side is a handful of rows (one per query column) —
  * broadcast it; the candidate side is the sketch table partitioned by
  * col_type. Distance is a codegen'd native expression, ranking a window per
  * query column. Distances are rounded to 6 decimals BEFORE ranking so the
  * DuckDB oracle ranks identically; ties break on (dataset_id, col_name).
  * At lake scale (millions of columns) swap the per-type brute-force join for
  * an LSH bucket join — same interface, the ranked-list schema is unchanged.
  */
object DistanceJoin {

  /** The literal rank bound the served kNN gives Spark's window group limit
    * (see [[rankAndScore]]): Spark's default
    * `spark.sql.optimizer.windowGroupLimitThreshold`, the largest bound it
    * applies the limit to. One value for every request shape, so it adds
    * no per-request source.
    */
  private[search] val ServedGroupLimit = 1000

  /** 6-decimal pin for LARGE-magnitude distances (epoch-scale sketch
    * dimensions put dist near 2·10⁹): an explicit ×1e6 IEEE multiply, round
    * to the integer micro, divide back — the same op sequence the DuckDB
    * oracle runs. Spark's round(x, 6) rounds the double's EXACT binary
    * expansion while DuckDB's round multiplies by 1e6 first; past ~10⁹ the
    * two disagree by one micro whenever the product lands on a
    * representable .5 (the last sf1.0 fp-noise source on dist/kth).
    * Bit-exact while |x| ≲ 9·10⁹ (2⁵³ at micro scale).
    */
  private def round6micro(c: org.apache.spark.sql.Column) =
    VectorOps.round0(c * lit(1e6)).cast("long").cast("double") / lit(1e6)

  /** Per-query-column ranked candidate lists.
    *
    * @param sketch  sketch table (dataset_id, col_name, col_type, vector)
    * @param queryId dataset whose columns are the query
    * @param m       neighbors kept per query column (danae M, UI default 100)
    * @param l       rank of the normalizing distance (danae L, UI default 50)
    * @param decay   exp decay rate (content_search.py:28, default 0.01)
    * @param queryCols restrict the QUERY projection to these columns (the
    *                UI's column selection). The index side is never filtered:
    *                the reference trains on every column and a selection only
    *                narrows which query columns search (ui/ui.py:299-312).
    */
  def knn(sketch: DataFrame, queryId: String, m: Int = 100, l: Int = 50,
          decay: Double = 0.01, queryCols: Option[Seq[String]] = None): DataFrame = {
    val query = queryProjection(sketch.filter(col("dataset_id") === queryId),
      queryCols)
    knnOver(sketch, cands => cands.join(broadcast(query), "col_type"),
      lit(m), lit(l), cap = false, decay, spatial = true, lit(queryId))
  }

  /** [[knn]] for the warm serving path, as a prepared plan ([[Prepared]];
    * one template per shape over each index version): the query dataset's
    * sketch rows arrive as driver values ([[Sketches.queryRows]]) and are
    * bound as a literal (see [[joinLocal]]), so no broadcast is built. m
    * and l are held by reference ([[graft.functions.HeldValue]]) rather
    * than inlined, so the UI (M100/L50) and API (M30/L10) shapes share
    * generated classes; Spark's window group limit still prunes before the
    * shuffle, on the fixed literal [[ServedGroupLimit]] (see
    * [[rankAndScore]]).
    * The query's column types are known here, so a query without Spatial
    * columns skips the separate selection ranking: only same-type columns
    * pair, the selection metric then equals the scoring one, and the
    * top-m by (dist, c_dataset, c_col) is the same set.
    */
  def knnLocal(sketch: DataFrame, queryId: String, queryRows: Seq[Row],
               m: Int = 100, l: Int = 50, decay: Double = 0.01,
               queryCols: Option[Seq[String]] = None): DataFrame = {
    val rows = selected(queryRows, queryCols)
    val spatial = queryRows.exists(_.getString(2) == "Spatial")
    val cap = m <= ServedGroupLimit
    Prepared.of(sketch, ("knn", spatial, rows.isEmpty, cap, decay)) {
      knnOver(sketch, joinLocal(_, rows.isEmpty),
        Prepared.slot("m", IntegerType), Prepared.slot("l", IntegerType), cap,
        decay, spatial, Prepared.slot("query_id", StringType))
    }.bind(
      "m" -> Prepared.value(HeldValue(m)),
      "l" -> Prepared.value(HeldValue(l)),
      "query_id" -> Prepared.value(Literal(queryId)),
      "query" -> Prepared.value(queryMap(rows)))
  }

  private def knnOver(sketch: DataFrame,
                      pairWithQuery: DataFrame => DataFrame,
                      m: Column, l: Column, cap: Boolean, decay: Double,
                      spatial: Boolean, queryId: Column): DataFrame = {
    // The index contains the query dataset's own columns too
    // (content_search.py:215-253 trains on every dataset): they occupy rank
    // positions and can BE the kth distance (a sibling column at non-zero
    // distance), and are only excluded at candidate level — so rank/kth are
    // computed over everything and self rows drop at the end.
    val cands = sketch
      .select(col("dataset_id").as("c_dataset"), col("col_name").as("c_col"),
        col("col_type"), col("vector").as("c_vec"))
    // Two metrics, as in the reference: candidate SELECTION follows the
    // R-tree's nearest order — rectangle min-distance for Spatial bboxes
    // (index.py:37-43) — while SCORING (dist/kth/sim) is always euclidean on
    // the sketch vector (content_search.py:58-70). For non-spatial types the
    // two coincide.
    val withDist = pairWithQuery(cands)
      .withColumn("dist", round6micro(VectorOps.euclid(col("q_vec"), col("c_vec"))))
    val joined =
      (if (!spatial) withDist
       else withDist.withColumn("sel_dist", when(col("col_type") === "Spatial",
         round6micro(VectorOps.rectMinDist(col("q_vec"), col("c_vec"))))
         .otherwise(col("dist"))))
        .drop("q_vec", "c_vec")
    rankAndScore(joined, m, l, cap, decay)
      .filter(col("c_dataset") =!= queryId)
  }

  /** The query side of a search: the query dataset's sketch rows, optionally
    * restricted to a column selection (query side ONLY — see [[knn]]).
    */
  private def queryProjection(base: DataFrame,
                              queryCols: Option[Seq[String]]): DataFrame = {
    val sel = queryCols.fold(base)(cs => base.filter(col("col_name").isin(cs: _*)))
    sel.select(col("col_name").as("q_col"), col("col_type"), col("vector").as("q_vec"))
  }

  /** The driver-held query rows restricted to a column selection. */
  private def selected(queryRows: Seq[Row],
                       queryCols: Option[Seq[String]]): Seq[Row] =
    queryCols.fold(queryRows)(cs => queryRows.filter(r => cs.contains(r.getString(1))))

  /** The per-type many-to-many pairing of candidate columns with query
    * columns that arrive as DRIVER rows: the query rows are bound as an
    * exploded LITERAL — col_type → array<struct<q_col, q_vec>>, the
    * `query` slot ([[queryMap]]) — because on this runtime a broadcast
    * build is a Spark JOB even over a LocalRelation (PLANS.md round 15), and
    * the request path is driver-latency-bound. A map literal is held by
    * reference in generated code, so the code is the same for every query
    * dataset. explode(element_at(map, col_type)) yields no rows for a type
    * with no query columns — exactly the broadcast inner join's drop — and
    * the same (q_col, q_vec) values pair with each candidate row, so every
    * downstream distance/rank/kth value is bit-identical (oracle-locked).
    * `empty` (no selected query rows) is its own shape: the join's empty
    * result.
    */
  private def joinLocal(cands: DataFrame, empty: Boolean): DataFrame =
    if (empty)
      cands.filter(lit(false))
        .withColumn("q_col", lit(null).cast("string"))
        .withColumn("q_vec", lit(null).cast("array<double>"))
    else
      cands.withColumn("__q",
          explode(element_at(Prepared.slot("query", QueryMapType), col("col_type"))))
        .withColumn("q_col", col("__q.q_col"))
        .withColumn("q_vec", col("__q.q_vec"))
        .drop("__q")

  /** The `query` slot's type: what `map(lit(type) -> array(struct(
    * lit(q_col), typedLit(q_vec))))` over the query rows resolves to.
    */
  private val QueryMapType = MapType(StringType, ArrayType(StructType(Seq(
    StructField("q_col", StringType, nullable = false),
    StructField("q_vec", ArrayType(DoubleType, containsNull = false),
      nullable = false))), containsNull = false), valueContainsNull = false)

  /** The `query` slot's value: the selected query rows grouped by type. */
  private def queryMap(rows: Seq[Row]): Expression =
    Literal.create(rows.groupBy(_.getString(2)).map { case (ct, rs) =>
      ct -> rs.map(r => Row(r.getString(1), r.getSeq[Double](3)))
    }, QueryMapType)

  /** Shared tail of both kNN paths: rank per query column, kth-distance
    * normalization, exp-decay similarity. Input: (q_col, c_dataset, c_col,
    * col_type, dist) candidate rows; an optional `sel_dist` column carries a
    * separate SELECTION metric (the R-tree nearest order) — the top-m
    * survivors are picked by it, then ranks/kth/sims always follow `dist`
    * (the reference re-scores the R-tree's M nearest with euclidean,
    * content_search.py:78-96).
    *
    * m and l are columns: literals on the batch paths, slots bound to held
    * values ([[graft.functions.HeldValue]]) on the served one, so every
    * served request shape shares generated classes. Spark infers its window group limit (a
    * per-partition top-k before the shuffle) only from a LITERAL rank
    * bound, so with `cap` (a served m within [[ServedGroupLimit]]) the rank
    * filter also carries the fixed literal [[ServedGroupLimit]]:
    * `rank <= cap` is implied by `rank <= m` and changes no row, but keeps
    * the pre-shuffle pruning. Measured on an 860k-row index (4 cores,
    * m=100): a held m alone shuffled 60 MB and took 7.5 s per kNN; with the
    * cap 0.8 MB and 1.8 s, the same as a literal m.
    */
  private def rankAndScore(joined: DataFrame, m: Column, l: Column,
                           cap: Boolean, decay: Double): DataFrame = {
    def withinM(rank: Column): Column =
      if (cap) rank <= m && rank <= lit(ServedGroupLimit) else rank <= m
    val selected =
      if (!joined.columns.contains("sel_dist")) joined
      else {
        val selW = Window.partitionBy("q_col")
          .orderBy(col("sel_dist").asc, col("c_dataset").asc, col("c_col").asc)
        joined.withColumn("sel_rank", row_number().over(selW))
          .filter(withinM(col("sel_rank")))
          .drop("sel_rank", "sel_dist")
      }
    val rankW = Window.partitionBy("q_col")
      .orderBy(col("dist").asc, col("c_dataset").asc, col("c_col").asc)
    val ranked = selected.withColumn("rank", row_number().over(rankW))
      .filter(withinM(col("rank")))

    // kth (content_search.py:88-96): take the sorted distance at position
    // min(L, n) COUNTING ZEROS, then advance past zeros — equivalently the
    // smallest non-zero distance at rank >= min(L, n); 1e-12 when none.
    // (NOT "the L-th smallest non-zero" — zeros occupy ranks.)
    // Both n (= max rank = partition size) and the conditional min are
    // whole-partition window aggregates over the SAME q_col partitioning as
    // the ranking itself — no extra exchange, and none of the broadcast
    // joins whose build subtrees would each re-execute the ranked pipeline
    // as their own Spark job (measured: 2 jobs + duplicate window work per
    // search before this was folded in).
    val part = Window.partitionBy("q_col")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked
      .withColumn("n_cand", count(lit(1)).over(part))
      .withColumn("kth", coalesce(
        min(when(col("rank") >= least(l, col("n_cand")) && col("dist") > 0,
          col("dist"))).over(part),
        lit(1e-12)))
      .drop("n_cand")
      .withColumn("sim", round(exp(-lit(decay) * col("dist") / col("kth")), 6))
  }

  /** Deterministic component i (1-based) of random-projection hyperplane t:
    * uniform in [-1, 1), derived from md5("rp:t:i") — content-independent,
    * identical in any engine that has md5, so the DuckDB oracle reproduces
    * the buckets bit for bit (same trick as Dedup's MinHash perms). A
    * uniform component family is a valid Euclidean-LSH projection (vs
    * MLlib's Gaussian draws); what matters is that the hyperplanes are fixed
    * and shared by every row.
    */
  private[search] def rUnit(t: Int, i: Int): org.apache.spark.sql.Column =
    conv(substring(md5(lit(s"rp:$t:$i")), 1, 8), 16, 10).cast("double") /
      lit(2147483648.0) - lit(1.0)

  /** LSH-accelerated kNN — the planner's scale path for J1 (SURVEY §7.9):
    * `numHashTables` fixed random projections; a row's bucket in table t is
    * `floor(dot(vector, r_t) / bucketLength)`, candidates are rows sharing
    * any (table, bucket, col_type) with a query row — a bucket equi-join,
    * never the per-type cross product — then the exact distance, rank, kth
    * and sim pipeline runs only on candidates. Same output schema as [[knn]].
    * The projections are md5-derived (see [[rUnit]]) rather than MLlib's
    * seeded Gaussians, so the pipeline is engine-reproducible and needs no
    * fit step or per-type driver loop.
    * Approximation caveat: distances of surviving pairs are exact, and the
    * query dataset's own columns flow through rank/kth exactly like [[knn]]
    * (self rows occupy rank positions, can be the kth distance, and drop
    * only at candidate level) — but rank and kth are computed over the
    * REDUCED candidate set, so when recall < 1 the kth normalizer (and
    * hence sims) can differ from brute force. That is inherent to LSH
    * pruning, not an implementation detail.
    */
  def knnLsh(sketch: DataFrame, queryId: String, m: Int = 100, l: Int = 50,
             decay: Double = 0.01, bucketLength: Double = 2.0,
             numHashTables: Int = 3, dim: Int = 7): DataFrame = {
    // (table, bucket) pairs per row; a vector shorter than `dim` contributes
    // 0 for its missing dimensions (try_element_at → null → coalesce), so
    // short vectors still bucket on the hyperplane prefix they span — the
    // SQL twin's coalesce(vec[i], 0.0) does the same
    val tables = (0 until numHashTables).map { t =>
      val dot = (1 to dim).map(i =>
        coalesce(try_element_at(col("vector"), lit(i)), lit(0.0)) * rUnit(t, i))
        .reduce(_ + _)
      struct(lit(t).as("t"), floor(dot / lit(bucketLength)).as("bucket"))
    }
    val withB = sketch
      .select(col("dataset_id"), col("col_name"), col("col_type"),
        explode(array(tables: _*)).as("tb"))
      .select(col("dataset_id"), col("col_name"), col("col_type"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val qb = withB.filter(col("dataset_id") === queryId)
      .select(col("col_type"), col("t"), col("bucket"), col("col_name").as("q_col"))
    val pairs = withB.join(broadcast(qb), Seq("col_type", "t", "bucket"))
      .select(col("q_col"), col("dataset_id").as("c_dataset"),
        col("col_name").as("c_col"), col("col_type"))
      .distinct()
    val qv = sketch.filter(col("dataset_id") === queryId)
      .select(col("col_name").as("q_col"), col("vector").as("q_vec"))
    val cv = sketch.select(col("dataset_id").as("c_dataset"),
      col("col_name").as("c_col"), col("vector").as("c_vec"))
    val joined = pairs
      .join(cv, Seq("c_dataset", "c_col"))
      .join(broadcast(qv), Seq("q_col"))
      .withColumn("dist", round6micro(VectorOps.euclid(col("q_vec"), col("c_vec"))))
      .drop("q_vec", "c_vec")
    rankAndScore(joined, lit(m), lit(l), cap = false, decay)
      .filter(col("c_dataset") =!= queryId)
  }

  /** Complete bipartite edge set for the candidate datasets the kNN step
    * discovered — the reference's "random access": for every discovered
    * candidate, edges cover ALL same-type (query col, candidate col) pairs,
    * computing distances directly for pairs that never made a ranked list
    * (content_search.py:300-333 + search_missing 358-405). kth comes from
    * the ranked lists. Extra (metadata) candidates arrive as a DataFrame,
    * joined LEFT SEMI.
    */
  def candidateEdges(sketch: DataFrame, queryId: String, ranked: DataFrame,
                     decay: Double = 0.01,
                     extraCandidates: Option[DataFrame] = None,
                     queryCols: Option[Seq[String]] = None): DataFrame = {
    val kth = ranked.select("q_col", "kth").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rankedIds = ranked.select(col("c_dataset").as("dataset_id"))
    // LEFT SEMI against the candidate ids: a semi join needs no build-side
    // distinct (the former inner-join + .distinct() paid one more exchange
    // inside the broadcast build), and duplicates can't fan rows out
    val candIds = extraCandidates
      .map(e => rankedIds.unionAll(e.toDF("dataset_id")))
      .getOrElse(rankedIds)
      .filter(col("dataset_id") =!= queryId)
    val candCols = sketch.join(broadcast(candIds), Seq("dataset_id"), "left_semi")
      .select(col("dataset_id").as("c_dataset"),
        col("col_name").as("c_col"), col("col_type"),
        col("vector").as("c_vec"))
    val paired = candCols.join(broadcast(queryProjection(
      sketch.filter(col("dataset_id") === queryId), queryCols)), "col_type")
    scoreEdges(paired,
      if (kth.isEmpty) map()
      else map(kth.toSeq.flatMap { case (q, v) => Seq(lit(q), lit(v)) }: _*),
      decay)
  }

  /** [[candidateEdges]] for the warm serving path, as a prepared plan over
    * driver values only: the collected ranked list (its per-q_col kth and
    * its candidate ids), the metadata candidates' ids and the query
    * dataset's sketch rows. Nothing request-specific enters the generated
    * code: the candidate ids are probed through a reference-held hash set
    * ([[graft.functions.MapLookup.isIn]]; an `isin` list compiles every id
    * into the source), and kth and the query rows bind as map literals,
    * which generated code holds by reference.
    */
  def candidateEdgesLocal(sketch: DataFrame, queryId: String,
                          ranked: Seq[Row], extraIds: Seq[String],
                          queryRows: Seq[Row],
                          queryCols: Option[Seq[String]] = None,
                          decay: Double = 0.01): DataFrame =
    servedEdges(sketch, queryId, ranked, extraIds, queryRows, queryCols,
      decay)("edges", identity)()

  /** [[candidateEdgesLocal]] with `over` applied to the edges inside the
    * same prepared plan (the matching, [[Matcher.contentScoresLocal]]):
    * `tail` names that shape and `tailValues` bind the slots `over` adds.
    */
  private[search] def servedEdges(sketch: DataFrame, queryId: String,
                                  ranked: Seq[Row], extraIds: Seq[String],
                                  queryRows: Seq[Row],
                                  queryCols: Option[Seq[String]],
                                  decay: Double = 0.01)
                                 (tail: String, over: DataFrame => DataFrame)
                                 (tailValues: (String, Seq[Expression] => Expression)*)
  : DataFrame = {
    val kth = ranked.map(r =>
      r.getAs[String]("q_col") -> r.getAs[Double]("kth")).toMap
    val ids = ranked.map(_.getAs[String]("c_dataset")) ++ extraIds
    val rows = selected(queryRows, queryCols)
    Prepared.of(sketch, (tail, rows.isEmpty, kth.isEmpty, decay)) {
      val candCols = sketch
        .filter(Prepared.slot("candidates", BooleanType,
          children = Seq(col("dataset_id"))))
        .select(col("dataset_id").as("c_dataset"),
          col("col_name").as("c_col"), col("col_type"),
          col("vector").as("c_vec"))
      over(scoreEdges(joinLocal(candCols, rows.isEmpty),
        if (kth.isEmpty) map() else Prepared.slot("kth", KthMapType), decay))
    }.bind(Seq[(String, Seq[Expression] => Expression)](
      // the candidate datasets, the query dataset excluded
      "candidates" -> (key => MapLookup.isIn(key.head, ids.toSet - queryId)),
      "query" -> Prepared.value(queryMap(rows)),
      "kth" -> Prepared.value(Literal.create(kth, KthMapType))) ++ tailValues: _*)
  }

  /** The `kth` slot's type: q_col → the ranked list's kth distance. */
  private val KthMapType = MapType(StringType, DoubleType, valueContainsNull = false)

  /** Distances and sims of paired (candidate, query) columns, normalized
    * by the ranked lists' per-q_col kth, `kthM` (q_col → kth). kth is
    * request-bounded and driver-resident, so it is served as a map literal
    * instead of a broadcast join (a broadcast build is a Spark JOB even
    * over a LocalRelation on this runtime — PLANS.md round 15). The isNotNull
    * filter replicates the former INNER join: edges whose q_col never made
    * a ranked list drop.
    */
  private def scoreEdges(paired: DataFrame, kthM: Column,
                         decay: Double): DataFrame =
    paired
      .withColumn("dist", round6micro(VectorOps.euclid(col("q_vec"), col("c_vec"))))
      .drop("q_vec", "c_vec")
      .withColumn("kth", element_at(kthM, col("q_col")))
      .filter(col("kth").isNotNull)
      .withColumn("sim", round(exp(-lit(decay) * col("dist") / col("kth")), 6))

  /** Ranked lists with per-query-column weights applied (the `w * sim` edge
    * weight used by the matcher; weights pre-normalized to sum 1 like
    * ui/dataset_graph.py:102-122). Uniform weights when none supplied.
    */
  def weighted(ranked: DataFrame, weights: Map[String, Double] = Map.empty,
               totalQueryCols: Option[Long] = None): DataFrame = {
    val withW =
      if (weights.nonEmpty) {
        val entries = weights.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq
        ranked.withColumn("w",
          coalesce(element_at(map(entries: _*), col("q_col")), lit(0.0)))
      } else {
        // Uniform weights normalize over ALL selected query columns (the UI
        // divides by the total selection, ui/dataset_graph.py:102-122) — a
        // query column with no same-type candidates still consumes its
        // share. Callers pass that total; fall back to the columns present.
        totalQueryCols match {
          case Some(n) => ranked.withColumn("w", lit(1.0 / n))
          case None =>
            val nDf = ranked.agg(countDistinct("q_col").as("n_qcols"))
            ranked.crossJoin(broadcast(nDf))
              .withColumn("w", lit(1.0) / col("n_qcols")).drop("n_qcols")
        }
      }
    withW.withColumn("w_sim", col("w") * col("sim"))
  }
}
