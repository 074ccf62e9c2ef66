package graft.search

import graft.functions.{HeldValue, MapLookup}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, MapType, StringType}

/** Max-weight bipartite column matching — danae matches query columns to
  * candidate columns one-to-one and scores a candidate by the summed matched
  * edge weights (search/content_search.py:300-345,396-403, which calls
  * networkx.max_weight_matching on a bipartite graph; blossom there, but the
  * graph is always bipartite — node sets are query vs candidate columns — so
  * the Hungarian algorithm is exact and O(n^3)).
  *
  * Spark shape: the per-candidate graphs are tiny (≤ #columns per side), so
  * matching is executor-local work over a `collect_list` of edges per
  * candidate — grouped shuffle on candidate_id, then pure CPU. No driver
  * loops; 10^6 candidates = 10^6 independent small matchings, fully parallel.
  */
object Matcher {

  /** Exact max-weight bipartite matching on a dense non-negative weight
    * matrix (rows = query cols, cols = candidate cols; 0 = no edge).
    * Returns (total weight, assignment row→col, -1 = unmatched).
    * Kuhn-Munkres with potentials, minimizing the negated weights.
    */
  def maxWeight(weights: Array[Array[Double]]): (Double, Array[Int]) = {
    val nRows = weights.length
    if (nRows == 0) return (0.0, Array.empty)
    val nCols = weights.map(_.length).max
    if (nCols == 0) return (0.0, Array.fill(nRows)(-1))
    // pad to square: rows 1..n, cols 1..m with n <= m
    val transposed = nRows > nCols
    val a0 = if (transposed) {
      Array.tabulate(nCols, nRows)((i, j) =>
        if (i < weights(j).length) -weights(j)(i) else 0.0)
    } else {
      Array.tabulate(nRows, nCols)((i, j) =>
        if (j < weights(i).length) -weights(i)(j) else 0.0)
    }
    val n = a0.length
    val m = a0(0).length
    val INF = Double.MaxValue / 4
    val u = new Array[Double](n + 1)
    val v = new Array[Double](m + 1)
    val p = new Array[Int](m + 1) // p(j) = row matched to col j
    val way = new Array[Int](m + 1)
    for (i <- 1 to n) {
      p(0) = i
      var j0 = 0
      val minv = Array.fill(m + 1)(INF)
      val used = Array.fill(m + 1)(false)
      var done = false
      while (!done) {
        used(j0) = true
        val i0 = p(j0)
        var delta = INF
        var j1 = -1
        var j = 1
        while (j <= m) {
          if (!used(j)) {
            val cur = a0(i0 - 1)(j - 1) - u(i0) - v(j)
            if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
            if (minv(j) < delta) { delta = minv(j); j1 = j }
          }
          j += 1
        }
        j = 0
        while (j <= m) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta } else minv(j) -= delta
          j += 1
        }
        j0 = j1
        done = p(j0) == 0
      }
      while (j0 != 0) { val j1 = way(j0); p(j0) = p(j1); j0 = j1 }
    }
    val rowToCol = Array.fill(n)(-1)
    for (j <- 1 to m) if (p(j) != 0) rowToCol(p(j) - 1) = j - 1
    var total = 0.0
    val assign =
      if (transposed) {
        val colToRow = Array.fill(nRows)(-1)
        for (i <- 0 until n; j = rowToCol(i) if j >= 0) colToRow(j) = i
        colToRow
      } else rowToCol
    for (i <- 0 until nRows; j = assign(i) if j >= 0 && j < weights(i).length)
      total += weights(i)(j)
    (total, assign)
  }

  /** Max-weight matching of one candidate's edges (q_col, c_col, w), each
    * weight multiplied by its query column's `colWeight`: the total and
    * the matched (q_col, c_col, weight) edges with weight > 0.
    */
  private def matchEdges(edges: Seq[Row], colWeight: String => Double)
  : (Double, Seq[(String, String, Double)]) = {
    val qCols = edges.map(_.getString(0)).distinct.sorted
    val cCols = edges.map(_.getString(1)).distinct.sorted
    val qIdx = qCols.zipWithIndex.toMap
    val cIdx = cCols.zipWithIndex.toMap
    val w = Array.ofDim[Double](qCols.size, cCols.size)
    edges.foreach { e =>
      val i = qIdx(e.getString(0)); val j = cIdx(e.getString(1))
      w(i)(j) = math.max(w(i)(j), colWeight(e.getString(0)) * e.getDouble(2))
    }
    val (score, assign) = maxWeight(w)
    val matched = for {
      i <- qCols.indices
      j = assign(i) if j >= 0 && w(i)(j) > 0
    } yield (qCols(i), cCols(j), w(i)(j))
    (score, matched)
  }

  /** Per-candidate edge lists of (q_col, c_col, w_sim) rows, scored by
    * `score` (a matching UDF over the edge list) executor-locally.
    */
  private def matchPerCandidate(weightedRanked: DataFrame)
                               (score: Column => Column): DataFrame =
    weightedRanked
      .groupBy(col("c_dataset"))
      .agg(collect_list(struct(col("q_col"), col("c_col"), col("w_sim"))).as("edges"))
      .withColumn("m", score(col("edges")))
      .select(col("c_dataset"), col("m._1").as("content_score"),
        col("m._2").as("matching"))

  /** Content score per candidate dataset: group the weighted ranked lists by
    * candidate, build the bipartite edge set (q_col ↔ c_col, weight = w*sim),
    * and sum the max-weight matching (content_search.py:335-345). Returns
    * (c_dataset, content_score, matching array<struct(q_col,c_col,weight)>).
    * The score is deliberately NOT normalized by column count — the
    * reference's scaling is commented out (content_search.py:434-438).
    */
  def contentScores(weightedRanked: DataFrame): DataFrame = {
    val score = udf { (edges: Seq[Row]) =>
      val (total, matched) = matchEdges(edges, _ => 1.0)
      (BigDecimal(total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        matched.map { case (q, c, w) => MatchedEdge(q, c, w) })
    }
    matchPerCandidate(weightedRanked)(score(_))
  }

  /** Content scores with EXACT cross-engine-reproducible arithmetic: the
    * matching runs on integer micro-weights `round(sim * 1e6)` (sims are
    * already 6-decimal-rounded, so the micros are exact integers), making the
    * maximum total unique and free of floating-point tie ambiguity — any
    * engine that can enumerate assignments (e.g. the DuckDB oracle's
    * injective-assignment product) lands on the same total. The uniform
    * weight 1/totalQueryCols is applied AFTER the argmax (a positive scalar
    * never changes the maximizing matching) by INTEGER floor division —
    * `content_score = (micro_total DIV nQ) / 1e6` — not a float round of the
    * quotient: when nQ is even the quotient can land exactly on a half-micro,
    * where Spark's decimal-string HALF_UP and DuckDB's binary
    * half-away-from-zero can disagree (the lmScore boundary). Truncating
    * positive integer division is identical in every engine.
    * Matching payload weights are rescaled back to w*sim.
    */
  def contentScoresExact(edges: DataFrame, totalQueryCols: Long): DataFrame =
    exactScores(edges, typedLit(Map.empty[String, Long]),
      MapLookup.held(totalQueryCols.toInt))

  /** Exact content scores under NON-UNIFORM per-query-column weights. The
    * weights arrive as integer micro-numerators (normalized to sum exactly
    * 1e6 — see [[graft.Engine.microWeights]]): unlike the uniform case they
    * change the MAXIMIZING matching, so they must multiply the edge weights
    * BEFORE the argmax — the argmax then runs on the integers
    * `wNum(q_col) * round(sim*1e6)` (≤ 1e12 per edge, exact in a double) and
    * stays engine-reproducible. Scale: total is in (weight-micro × sim-micro)
    * units, so `content_score = (total DIV 1e6) / 1e6` — the weighted
    * analogue of the uniform 1/nQ, with the same truncating-division
    * discipline. A query column absent from a non-empty map gets weight 0
    * (the UI deselected it but an edge slipped through — defensive); an
    * empty map is the uniform weighting.
    */
  def contentScoresExactWeighted(edges: DataFrame,
                                 microWeights: Map[String, Long]): DataFrame =
    exactScores(edges, typedLit(microWeights), MapLookup.held(1000000))

  /** The served request's content scores as ONE prepared plan
    * ([[Prepared]]): [[DistanceJoin.candidateEdgesLocal]]'s edges and the
    * exact matching over them, with the weights and the divisor bound per
    * request like every other request value. Empty `microWeights` is the
    * uniform form ([[contentScoresExact]] over every query row); otherwise
    * [[contentScoresExactWeighted]].
    */
  def contentScoresLocal(sketch: DataFrame, queryId: String, ranked: Seq[Row],
                         extraIds: Seq[String], queryRows: Seq[Row],
                         queryCols: Option[Seq[String]],
                         microWeights: Map[String, Long]): DataFrame = {
    val divisor = if (microWeights.isEmpty) queryRows.size else 1000000
    DistanceJoin.servedEdges(sketch, queryId, ranked, extraIds, queryRows,
      queryCols)("match", exactScores(_, Prepared.slot("weights", WeightsType),
        Prepared.slot("divisor", IntegerType)))(
      "weights" -> Prepared.value(Literal.create(microWeights, WeightsType)),
      "divisor" -> Prepared.value(HeldValue(divisor)))
  }

  /** The weights argument's type: what `typedLit` gives a Map[String, Long]. */
  private val WeightsType = MapType(StringType, LongType, valueContainsNull = false)

  /** The exact matching of one candidate's edges: the edge micros
    * `round(sim * 1e6)` multiplied by their query column's weight (every
    * weight 1 when `weights` is empty, which leaves them unchanged), and
    * the integer total and each matched weight truncating-divided by
    * `divisor`, then scaled to 1e-6 units — the former SQL tail's
    * `CAST(x AS BIGINT) DIV n`, cast back to DOUBLE, divided by 1e6 (the
    * totals are integer-valued doubles, so the former 6-decimal round
    * before the cast was the identity). The weights and the divisor — the
    * query dataset's column count in the uniform case — are arguments of
    * the one UDF, never compiled into generated code, so uniform and
    * weighted requests over every query dataset share one set of compiled
    * classes and one prepared plan.
    */
  private val exactMatch = udf {
    (edges: Seq[Row], weights: Map[String, Long], divisor: Int) =>
      val colWeight: String => Double =
        if (weights.isEmpty) _ => 1.0 else q => weights.getOrElse(q, 0L).toDouble
      def scaled(x: Double): Double = (x.toLong / divisor.toLong).toDouble / 1e6
      val (score, matched) = matchEdges(edges, colWeight)
      (scaled(score), matched.map { case (q, c, w) => MatchedEdge(q, c, scaled(w)) })
  }

  private def exactScores(edges: DataFrame, weights: Column,
                          divisor: Column): DataFrame =
    matchPerCandidate(edges.withColumn("w_sim", round(col("sim") * 1e6)))(
      exactMatch(_, weights, divisor))
}

/** One matched (query column, candidate column) edge of a content score. */
case class MatchedEdge(q_col: String, c_col: String, weight: Double)
