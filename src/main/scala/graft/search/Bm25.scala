package graft.search

import graft.functions.LiteralMapLookup
import graft.ingest.TermStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** BM25 full-text scoring — the Spark replacement for danae's ES/Lucene
  * metadata search (search/metadata_search.py:12-46: bool/should `match` over
  * metadata fields, each field queried with its OWN query text and per-field
  * boost, minimum_should_match=1, top-M, normalized by the max score).
  *
  * Implemented as plain aggregations + column expressions: document length
  * and term frequencies are one tokenize+aggregate pass, document frequencies
  * one (term)-keyed aggregate broadcast back. k1=1.2, b=0.75 (Lucene
  * defaults); idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene BM25 idf).
  * All corpus stats are lazily joined (no driver actions); at 100 TB the
  * per-term df table is vocabulary-sized and broadcastable.
  */
object Bm25 {

  /** BM25 scores of `queryTerms` against one text column. Returns
    * (doc_id, score) for docs matching ≥ 1 term, scores rounded to 6.
    * Document length is derived from the tf aggregate (sum of tfs), so the
    * corpus is tokenized exactly once.
    */
  def scores(docs: DataFrame, docIdCol: String, textCol: String,
             queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
             tfTable: Option[DataFrame] = None): DataFrame = {
    // persist tf: every corpus statistic (dl, avgdl, df) branches off it, and
    // without the pin Spark recomputes the tokenize+aggregate per branch —
    // 4 scans of the corpus instead of one. Caching-registered, so the query
    // driver releases it post-action: each search re-tokenizes the corpus
    // once, the steady per-query cost. A service wanting cross-search reuse
    // passes the long-lived TF core as `tfTable`
    // ([[graft.ingest.TermStats.trainedTermFreqs]] — like Sketches).
    val tf = tfTable.getOrElse(graft.Caching.temp(
      TermStats.termFreqs(TermStats.tokens(docs, docIdCol, textCol))))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qtf = tf.filter(col("term").isin(queryTerms: _*))
    val dfreq = qtf.groupBy("term").agg(count(lit(1)).as("df"))
    qtf
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("term_score"), 6).as("score"))
  }

  /** Autocomplete (ui/methods.py:21-42's multi_match over
    * title/keywords/description + top-10): case-folded substring match,
    * deterministic order, limit n.
    */
  def autocomplete(meta: DataFrame, kwd: String, n: Int = 10): DataFrame =
    meta.filter(
        lower(concat_ws(" ", col("title"), col("keywords"), col("description")))
          .contains(kwd.toLowerCase))
      .select(col("dataset_id"), col("title"))
      .orderBy(col("title").asc, col("dataset_id").asc)
      .limit(n)

  /** Title-only search (ui/methods.py:44-69: `match metadata.title`). */
  def titleSearch(meta: DataFrame, terms: Seq[String], topM: Int = 10): DataFrame =
    scores(meta.select(col("dataset_id").as("doc_id"), col("title")),
      "doc_id", "title", terms)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topM)

  /** Multi-field BM25, each field scored against its OWN query-term list with
    * its own boost (metadata_search.py:12-26 builds one `match` clause per
    * field from the query dataset's own field text), combined and normalized
    * by the max combined score (metadata_search.py:43-46); per-field score
    * columns are normalized by the same max, mirroring the reference's
    * explain-parsing (metadata_search.py:48-56 `s['value'] / max_score`).
    *
    * Single-pass plan: the fields are unpivoted to one (doc_id, field, term)
    * stream, so the corpus is tokenized ONCE and every per-field statistic
    * (tf, dl, avgdl, df — ES keeps per-field Lucene stats) comes out of one
    * shared aggregation tree instead of one full pipeline per field.
    *
    * fields: (columnName, boost, queryTerms).
    * Returns (doc_id, <field>_score..., score), scores rounded to 6.
    */
  def multiField(docs: DataFrame, docIdCol: String,
                 fields: Seq[(String, Double, Seq[String])],
                 topM: Int = 100, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    multiFieldWithTf(
      graft.Caching.temp(fieldTermFreqs(docs, docIdCol,
        fields.map(_._1))),
      fields, topM, k1, b)

  /** The unpivoted per-field TF table (doc_id, field, term, tf) every
    * multi-field statistic derives from — exposed so a serving layer can
    * maintain it as a session/stored artifact (the Sketches pattern) and
    * run [[multiFieldWithTf]] per query instead of re-tokenizing the
    * corpus. Per-doc local, so excluding a query document from the corpus
    * is a doc_id FILTER on this table — exactly what
    * [[CombinedScorer.search]] does per request.
    */
  def fieldTermFreqs(docs: DataFrame, docIdCol: String,
                     fieldNames: Seq[String]): DataFrame = {
    val stackArgs = fieldNames.map(f => s"'$f', lower(`$f`)").mkString(", ")
    docs
      .select(col(docIdCol).as("doc_id"),
        expr(s"stack(${fieldNames.size}, $stackArgs) as (field, text)"))
      .select(col("doc_id"), col("field"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "field", "term").agg(count(lit(1)).as("tf"))
  }

  /** [[multiField]] over a PRECOMPUTED [[fieldTermFreqs]] table (pinned or
    * stored by the caller — the 4 stat branches below each read it).
    * Values are identical to the inline path by construction: every corpus
    * statistic (dl, avgdl, df) derives from the tf rows.
    */
  def multiFieldWithTf(tf: DataFrame,
                       fields: Seq[(String, Double, Seq[String])],
                       topM: Int = 100, k1: Double = 1.2,
                       b: Double = 0.75): DataFrame = {
    val dl = tf.groupBy("doc_id", "field").agg(sum("tf").as("dl"))
    val corpus = dl.groupBy("field")
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val qtf = tf.filter(isQueryTerm(fields))
    val dfreq = qtf.groupBy("field", "term").agg(count(lit(1)).as("df"))
    multiFieldWithStats(qtf, dl, corpus, dfreq, fields, topM, k1, b)
  }

  /** The query-term predicate over a [[fieldTermFreqs]] stream. */
  def isQueryTerm(fields: Seq[(String, Double, Seq[String])])
  : org.apache.spark.sql.Column =
    fields.map { case (f, _, ts) =>
      col("field") === f && col("term").isin(ts: _*)
    }.reduce(_ || _)

  /** [[multiFieldWithStats]] with the corpus statistics supplied as DRIVER
    * values and the normalization tail computed driver-side — the warm
    * serving path. Statistics lookups become literal MAP expressions
    * compiled into the scan instead of broadcast joins (on this runtime a
    * broadcast build is a Spark JOB even over a LocalRelation —
    * PLANS.md round 15 — and the warm request path is driver-latency-bound, so
    * every removed broadcast is one fewer DAGScheduler round-trip), and the
    * per-(doc, field) aggregate is the ONE job this function runs. `qtf`
    * need not be filtered to the query terms: `dfreq` holds exactly those
    * terms, so the df lookup misses — and drops the row — for every other
    * term. The aggregate is keyed by (doc_id, field) rather than one
    * conditional sum per field, so neither the query terms nor the field
    * list enter the generated code; every request shares its classes.
    * The collected sums are model-sized (the caller gates this path on the
    * dl-entry budget described below) and the
    * boost/max-normalization/round/rank tail
    * runs in driver code that mirrors the Spark expressions
    * operation-for-operation — double multiply and left-to-right add in
    * field order, HALF_UP on BigDecimal.valueOf exactly like Round's
    * DoubleType codegen, max over doubles (order-free), sort by
    * (score desc, doc_id asc — java.lang.Double.compare, so a NaN score
    * sorts FIRST exactly like Spark's desc NaN-greatest ordering; Scala's
    * tuple sort on the negated double would have put it last).
    * ServingPathSpec locks the equality against [[multiFieldWithStats]].
    * Returns the ranked rows as driver values: (doc_id, <field>_score...,
    * score), best first. The per-(doc, field) aggregate is a prepared plan
    * over `qtf` ([[Prepared]]): one template per TF artifact, the four stat
    * tables bound per request. A document with no `dl` entry drops, so the
    * serving path passes the TF artifact itself and excludes the query
    * document by leaving it out of `dl`.
    *
    * SCALE ENVELOPE: each stat lookup is an O(1)
    * [[graft.functions.LiteralMapLookup]] hash probe (NOT `element_at` on
    * a map Literal — Spark's GetMapValue over a literal ArrayBasedMapData
    * is a per-row LINEAR key scan, and `dl` is catalogue-sized: the
    * linear form measured 16.6× slower than broadcast joins at 300k
    * entries, the hash form 1.08× — PLANS.md round 16). What
    * remains per request is building and shipping the hash tables with
    * the plan, linear in dl entries — so callers still gate this path on
    * DL MAP ENTRIES (`spark.graft.metaStats.maxServedDlEntries`,
    * [[CombinedScorer.metaStatsLocal]]) — a much tighter bound than the
    * driver-copy budget — and fall back to the DF-broadcast stats
    * ([[multiFieldWithStats]], hash-join lookups) in between.
    */
  def multiFieldServedRows(qtf: DataFrame,
                           dl: Seq[(String, String, Long)],
                           corpus: Seq[(String, Long, Double)],
                           dfreq: Seq[(String, String, Long)],
                           fields: Seq[(String, Double, Seq[String])],
                           topM: Int = 100, k1: Double = 1.2,
                           b: Double = 0.75): Seq[org.apache.spark.sql.Row] = {
    val sep = "\u0000" // NUL: never in a field name; terms are space-split
    def pairMap(rows: Seq[(String, String, Long)]) =
      rows.map { case (a, c, v) => (a + sep + c) -> v }.toMap
    def lookup(name: String, entries: Map[String, _], t: DataType)
    : (String, Seq[Expression] => Expression) =
      name -> (key => LiteralMapLookup(key.head, entries.asInstanceOf[Map[String, Any]], t))
    // the one per-request job; model-sized by the budget gate. A doc's sum
    // for one field adds the same term scores in the same order as the
    // stats path's conditional per-field sum.
    val sums = Prepared.of(qtf, ("bm25", k1, b)) {
      def stat(name: String, t: DataType, key: Column) =
        Prepared.slot(name, t, nullable = true, children = Seq(key))
      qtf
        .withColumn("df",
          stat("df", LongType, concat(col("field"), lit(sep), col("term"))))
        .withColumn("dl",
          stat("dl", LongType, concat(col("doc_id"), lit(sep), col("field"))))
        .withColumn("n_docs", stat("n_docs", LongType, col("field")))
        .withColumn("avgdl", stat("avgdl", DoubleType, col("field")))
        // a lookup miss (null) drops the row — the literal-map mirror of the
        // former INNER joins on (field, term), (doc_id, field), (field)
        .filter(col("df").isNotNull && col("dl").isNotNull &&
          col("n_docs").isNotNull && col("avgdl").isNotNull)
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("term_score",
          col("idf") * (col("tf") * (lit(k1) + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
        .groupBy("doc_id", "field")
        .agg(sum("term_score").as("s"))
    }.bind(
      lookup("df", pairMap(dfreq), LongType),
      lookup("dl", pairMap(dl), LongType),
      lookup("n_docs", corpus.map { case (f, n, _) => f -> n }.toMap, LongType),
      lookup("avgdl", corpus.map { case (f, _, a) => f -> a }.toMap, DoubleType))
      .collect()
      .groupBy(_.getString(0))
      .map { case (doc, rs) => doc -> rs.map(r => r.getString(1) -> r.getDouble(2)).toMap }
    // driver tail ≡ the Spark tail of multiFieldWithStats
    def round6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val scored = sums.toSeq.map { case (doc, byField) =>
      val raws = fields.map { case (f, w, _) =>
        byField.getOrElse(f, 0.0) * w // f_sum * boost, field order
      }
      val raw = raws.reduce(_ + _) // left-to-right, like the Column reduce
      (doc, raws, raw)
    }
    val maxRaw = if (scored.isEmpty) 0.0 else scored.map(_._3).max
    // (score desc, doc_id asc) via Double.compare — NaN sorts GREATEST, so
    // descending puts it first, exactly Spark's orderBy(desc) ordering; the
    // former tuple sort on the negated double would have put NaN LAST
    // (ADVICE r15). Unreachable with positive boosts (maxRaw > 0), but the
    // tail must mirror the Spark tail unconditionally, not per-config.
    val byScoreDescId = new Ordering[org.apache.spark.sql.Row] {
      def compare(a: org.apache.spark.sql.Row,
                  b: org.apache.spark.sql.Row): Int = {
        val c = java.lang.Double.compare(
          b.getDouble(fields.size + 1), a.getDouble(fields.size + 1))
        if (c != 0) c else a.getString(0).compareTo(b.getString(0))
      }
    }
    scored.map { case (id, raws, raw) =>
      org.apache.spark.sql.Row.fromSeq(
        id +: raws.map(x => round6(x / maxRaw)) :+ round6(raw / maxRaw))
    }.sorted(byScoreDescId).take(topM)
  }

  /** The scoring tail of [[multiFieldWithTf]] with every corpus statistic
    * SUPPLIED by the caller: `qtf` already filtered to the query terms,
    * `dl` (doc_id, field, dl), `corpus` (field, n_docs, avgdl), `dfreq`
    * (field, term, df). A serving layer maintains those as session
    * artifacts — they are integer-derived (dl and df are counts; avgdl is
    * one division of exact integer sums), so a stored copy adjusted for an
    * excluded document is BIT-IDENTICAL to the inline derivation — and
    * passes them as LocalRelations so the three broadcasts build joblessly
    * on the warm path ([[CombinedScorer.search]]).
    */
  def multiFieldWithStats(qtf: DataFrame, dl: DataFrame, corpus: DataFrame,
                          dfreq: DataFrame,
                          fields: Seq[(String, Double, Seq[String])],
                          topM: Int = 100, k1: Double = 1.2,
                          b: Double = 0.75): DataFrame = {
    val boosts = map(fields.flatMap { case (f, w, _) => Seq(lit(f), lit(w)) }: _*)
    // dl is one row per (doc, field) — the same corpus-bounded size class as
    // the already-broadcast dfreq/corpus tables (the reference holds all
    // three as Lucene index stats) — so BROADCAST it: the shuffle join on
    // (doc_id, field) was two exchanges + a sort per request on the warm
    // serving path.
    val scoredTerms = qtf
      .join(broadcast(dfreq), Seq("field", "term"))
      .join(broadcast(dl), Seq("doc_id", "field"))
      .join(broadcast(corpus), "field")
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
    // ONE doc-keyed aggregate builds the per-field sums directly
    // (field-conditional sums), replacing the former (doc, field) aggregate
    // + doc-level regroup — one exchange instead of two. The boost
    // multiplies the per-field sum AFTER aggregation, exactly as before.
    val fieldAggs = fields.map { case (f, _, _) =>
      coalesce(sum(when(col("field") === f, col("term_score"))), lit(0.0))
        .as(s"${f}_sum")
    }
    val wide = scoredTerms.groupBy("doc_id").agg(fieldAggs.head, fieldAggs.tail: _*)
      .select(col("doc_id") +: fields.map { case (f, _, _) =>
        (col(s"${f}_sum") * element_at(boosts, lit(f))).as(s"${f}_raw") }: _*)
      .withColumn("raw", fields.map { case (f, _, _) => col(s"${f}_raw") }.reduce(_ + _))
    val maxDf = wide.agg(max("raw").as("max_raw"))
    wide.crossJoin(broadcast(maxDf))
      .select(col("doc_id") +:
        fields.map { case (f, _, _) =>
          round(col(s"${f}_raw") / col("max_raw"), 6).as(s"${f}_score") } :+
        round(col("raw") / col("max_raw"), 6).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topM)
  }
}
