package graft.streaming

import graft.search.CombinedScorer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming similarity-search serving — the Structured Streaming twin of
  * danae's interactive search endpoint (ui/ui.py routes one HTTP request to
  * search/combined_search.py per call): requests arrive as a stream, answers
  * are appended to a sink, and every answer comes from the SAME batch engine
  * the rest of the library uses.
  *
  * Shape: `foreachBatch` — the idiomatic Spark way to serve a batch pipeline
  * over a request stream. Per micro-batch the static side (the pinned sketch
  * index, the metadata corpus) is re-resolved, so an index swap by
  * [[graft.search.Sketches.refreshDataset]] becomes visible to the next
  * batch with no twin code to keep in sync. The driver loop is over
  * REQUESTS, not data: a micro-batch holds an interactive trickle of query
  * ids (each answered by a fully distributed search), which is the
  * request-scale/data-scale line the batch operators draw at `.head()`.
  */
object SearchStream {

  /** Serve a stream of search requests. `requests` must have a `query_id`
    * string column and may carry a `request_id` column: with one, every
    * distinct (request_id, query_id) row gets its own answer block — two
    * identical in-flight requests each receive a response, correlated by
    * the `request_id` column stamped on the answer rows; without one,
    * requests are answered once per distinct query_id per micro-batch and
    * `request_id` is stamped with the query_id. The underlying search runs
    * ONCE per distinct query_id either way (duplicate requests share its
    * pinned ranked lists, they do not recompute them).
    *
    * Each micro-batch hands the unioned result rows (the batch search
    * schema + `request_id`, one block of ≤ k rows per request) to
    * `onResult`, then `badRequest` once per failed REQUEST (unknown or null
    * query_id — a serving endpoint must outlive a typo, not die with the
    * stream; the remaining requests in the batch are still answered).
    * Per-batch pins (ranked lists, metadata scores) are released with the
    * batch ([[eachBatch]]), even when a request fails.
    */
  def serve(spark: SparkSession, dir: String, requests: DataFrame,
            m: Int = 100, l: Int = 50, k: Int = 15,
            badRequest: (String, Throwable) => Unit = (_, _) => ())
           (onResult: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(requests) { (batch, id) =>
      val pairs: Seq[(String, String)] = // (request_id, query_id)
        if (batch.columns.contains("request_id"))
          batch.select(col("request_id").cast("string"), col("query_id"))
            .distinct().collect()
            .map(r => (r.getString(0), r.getString(1)))
            .filter(_._2 != null).toSeq.sorted
        else
          batch.select("query_id").distinct()
            .collect().map(_.getString(0)).filter(_ != null).sorted
            .map(q => (q, q)).toSeq
      val answers = pairs.groupBy(_._2).toSeq.sortBy(_._1)
        .flatMap { case (q, reqs) =>
          try {
            val res = CombinedScorer.search(spark, dir, q, m, l, k)
            Some(reqs.map { case (rid, _) =>
              res.withColumn("request_id", lit(rid))
            }.reduce(_.unionAll(_)))
          } catch {
            case scala.util.control.NonFatal(e) =>
              reqs.foreach { case (rid, _) => badRequest(rid, e) }
              None
          }
        }
      if (answers.nonEmpty) onResult(answers.reduce(_.unionAll(_)), id)
    }
}
