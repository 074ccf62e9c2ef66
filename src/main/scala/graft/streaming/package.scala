package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming forms of the batch operators. */
package object streaming {

  /** Start `stream` with `body` run on every micro-batch, releasing the
    * batch's query-scoped pins ([[graft.Caching.release]]) once it ends —
    * also when it throws, which fails the query with that exception.
    *
    * The one micro-batch primitive: a streaming gate is `eachBatch` plus a
    * batch operator applied to the micro-batch VERBATIM, e.g.
    * `eachBatch(s)((b, id) => onVerdict(Dedup.minhashIncrementalIndexed(
    * sigs(), toks(), b, "doc_id", "text", 0.9), id))`. Thunks called inside
    * the body re-resolve the static side per batch, so a corpus, artifact
    * or model that grows between batches is judged at its freshest with
    * zero streaming state. `foreachBatch` rather than a stream-static join
    * chain because these verdicts aggregate within one micro-batch (verify
    * groups by (batch doc, corpus doc); a classifier score sums a doc's
    * terms), and an unbounded stateful aggregation is the wrong tool for a
    * verdict complete within the batch.
    */
  def eachBatch(stream: DataFrame)
               (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      try body(batch, id) finally graft.Caching.release()
    }.start()
}
