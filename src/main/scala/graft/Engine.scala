package graft

import graft.search.{CombinedScorer, DistanceJoin, Matcher, Sketches}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** User-facing facade — the one-session replacement for danae's four
  * services. A reference user's workflow maps 1:1:
  *
  *   publish catalogue → `ingest.Catalog.publish` + `profilePending`
  *   "Find Similar" UI → `Engine.search(SearchRequest(...))`
  *
  * The request shape mirrors the UI's JSON spec (ui/ui.py:305-312,
  * FIXTURES.md §B.5): per-column content weights, per-field metadata
  * weights, a content/metadata split, and M/L/k knobs. Weights are
  * normalized to sum 1 like ui/dataset_graph.py:102-122 (G4).
  */
object Engine {

  case class ContentSpec(columns: Map[String, Double] = Map.empty,
                         weight: Double = 0.5)
  case class MetadataSpec(fields: Map[String, Double] =
                            Map("title" -> 1.0, "keywords" -> 1.0,
                                "description" -> 1.0),
                          weight: Double = 0.5)
  case class SearchRequest(queryId: String,
                           content: ContentSpec = ContentSpec(),
                           metadata: MetadataSpec = MetadataSpec(),
                           m: Int = 100, l: Int = 50, k: Int = 15)

  /** Normalize a weight map to sum 1 (ui/dataset_graph.py:102-122). */
  def normalize(w: Map[String, Double]): Map[String, Double] = {
    val s = w.values.sum
    if (s <= 0) w else w.map { case (k, v) => k -> v / s }
  }

  /** Normalize the content/metadata split to sum 1. */
  def normalizeSplit(req: SearchRequest): (Double, Double) = {
    val s = req.content.weight + req.metadata.weight
    if (s <= 0) (0.5, 0.5) else (req.content.weight / s, req.metadata.weight / s)
  }

  /** Quantize a normalized weight map to integer micro-numerators summing
    * EXACTLY 1e6 (largest-key remainder absorption, deterministic): the
    * resolution any UI slider works at, and what makes the weighted matching
    * argmax integer-exact across engines (see
    * [[search.Matcher.contentScoresExactWeighted]]).
    */
  def microWeights(w: Map[String, Double]): Map[String, Long] = {
    val norm = normalize(w).toSeq.sortBy(_._1)
    val head = norm.init.map { case (k, v) => k -> math.round(v * 1e6) }
    val last = norm.last._1 -> (1000000L - head.map(_._2).sum)
    (head :+ last).toMap
  }

  /** Full similarity search honoring per-column and per-field weights.
    * Response rows mirror combined_search.py:152-155: result id, content /
    * metadata / overall scores, and the column-matching payload. The
    * metadata fields are scored in name order.
    */
  def search(spark: SparkSession, dir: String, req: SearchRequest): DataFrame =
    search(spark, dir, req, req.metadata.fields.keys.toSeq.sorted)

  /** [[search]] with the metadata fields scored, and their weighted scores
    * summed, in `fieldOrder` (the keys of `req.metadata.fields`).
    *
    * A warm request runs three Spark jobs and nothing else: the kNN ranked
    * lists, the BM25 sums and the content matching, each collected as the
    * request-bounded driver value it is. Each of the three is a prepared
    * plan ([[search.Prepared]]): its analyzed template is built by the
    * first request of its shape over the current artifact, and every
    * request binds its own values into a fresh copy. The query dataset's
    * sketch rows, its metadata row and the corpus statistics are session
    * memos; kth, the
    * candidate ids and the metadata scores pass between the stages as
    * driver values; the combine runs on the driver
    * ([[CombinedScorer.combineRows]]). The answer is a LocalRelation, so
    * the caller's collect runs no job. No request value (query id, split,
    * M/L, column count, candidate ids, query terms) is inlined into
    * generated code, so every request reuses the same compiled classes —
    * Spark's codegen cache holds only 100 of them.
    */
  def search(spark: SparkSession, dir: String, req: SearchRequest,
             fieldOrder: Seq[String]): DataFrame = {
    val (wc, _) = normalizeSplit(req)
    val sketch = Sketches.cachedAll(spark, dir)
    // Column selection restricts the QUERY projection only; the index side is
    // never filtered — the reference trains on every column, so rank/kth are
    // computed over the full index regardless of the user's selection.
    val queryCols =
      if (req.content.columns.isEmpty) None
      else Some(req.content.columns.keys.toSeq)
    val qRows = Sketches.queryRows(spark, dir, req.queryId)
    val ranked = DistanceJoin.knnLocal(sketch, req.queryId, qRows,
      req.m, req.l, queryCols = queryCols).collect().toSeq

    // per-field query text: each selected metadata field is matched against
    // the query dataset's own value for that field (metadata_search.py:14-24),
    // with the user's normalized per-field weights (dataset_graph.py:102-112)
    val (qTitle, qKeywords, qDesc) =
      CombinedScorer.queryMetaRow(spark, dir, req.queryId)
    val fieldText = Map(
      "title" -> qTitle,
      "keywords" -> qKeywords,
      "description" -> qDesc)
    val fieldWeights = normalize(req.metadata.fields)
    val fieldSpecs = fieldOrder.map { f =>
      (f, fieldWeights(f),
        fieldText(f).toLowerCase.split(" ").filter(_.nonEmpty).distinct.toSeq)
    }
    val metadata = CombinedScorer.metadataScores(spark, dir, req.queryId, fieldSpecs)

    // Complete the bipartite edges for every discovered candidate — content
    // AND metadata hits — mirroring the reference's random access
    // (content_search.py:358-405; combined_search.py:87-93 computes content
    // scores for metadata-only candidates rather than zero-filling).
    // Deliberate divergence: search_missing divides its score by the query
    // column count (content_search.py:403 `score / r_len`) while the main
    // content path's scale() is identity (content_search.py:434-438,
    // normalization commented out) — an internal inconsistency; we score
    // every candidate UNnormalized, consistently.
    // Exact integer-micro matching on both branches (the oracle-coverable
    // path): uniform weights apply AFTER the argmax (contentScoresExact),
    // non-uniform weights multiply the edge micros BEFORE it.
    val content = Matcher.contentScoresLocal(sketch, req.queryId, ranked,
      metadata.map(_._1), qRows, queryCols,
      if (req.content.columns.isEmpty) Map.empty
      else microWeights(req.content.columns))
    // combineExact's arithmetic, not a float round(wc·c + wm·m, 6): both
    // inputs are 6-decimal values, and the float form lands on half-micro
    // boundaries where Spark (half-up) and DuckDB (banker's) disagree —
    // first observed at the sf1.0 decade probe. Integer micros + truncating
    // DIV are engine-exact for any split (the lmScore discipline).
    val rows = CombinedScorer.combineRows(content.collect().toSeq, metadata,
      wcMicro = math.round(wc * 1e6), k = req.k)
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.toSeq :+ req.queryId)): _*),
      StructType(Seq(
        StructField("c_dataset", StringType),
        StructField("content_score", DoubleType),
        StructField("matching", content.schema("matching").dataType),
        StructField("metadata_score", DoubleType),
        StructField("overall_score", DoubleType),
        StructField("query_id", StringType, nullable = false))))
  }
}
