package graft.extra

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators for training-data curation: token counting,
  * quality scoring, n-gram-heuristic language ID, and document
  * fingerprinting. All pure column expressions (whole-stage codegen; no
  * UDFs) — per-row work, no shuffle at all, so they scale linearly with
  * input and can be pushed into the first pass over a 100 TB corpus.
  * Formulas are deliberately written with primitives that DuckDB evaluates
  * identically (string_split/list_filter/length arithmetic) so every one of
  * them is oracle-checkable.
  */
object TextStats {

  private def toks(c: Column): Column =
    graft.functions.TextTokens.lowerSpaceTokens(c)

  /** Per-document statistics + a composite quality score. */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val tokens = toks(t)
    val nChars = length(t)
    val nTokens = size(tokens)
    // alphanumeric+space chars removed = punctuation/other (over the
    // lowercased text — the oracle lowercases too)
    val punct = length(regexp_replace(lower(t), "[a-z0-9 ]", ""))
    val stop = size(filter(tokens, x => x.isin(stopwords: _*)))
    // Degenerate documents (empty / whitespace-only) get NULL ratios on BOTH
    // sides: Spark and DuckDB disagree on float x/0 (null vs inf/NaN), so the
    // guards here pair with NULLIF/CASE in the oracle SQL.
    df.select(
      col(idCol).as("doc_id"),
      nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      when(nTokens > 0, round(nChars.cast("double") / nTokens, 6))
        .as("chars_per_token"),
      when(nChars > 0, round(punct.cast("double") / nChars, 6)).as("punct_ratio"),
      when(nTokens > 0, round(stop.cast("double") / nTokens, 6))
        .as("stopword_ratio"),
      // quality: enough tokens × low punctuation share
      when(nChars > 0,
        round(least(nTokens.cast("double") / 100.0, lit(1.0))
          * (lit(1.0) - least(punct.cast("double") / nChars, lit(1.0))), 6))
        .as("quality"))
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Marker-word vocabularies for the n-gram/stopword language-ID heuristic.
    * Deterministic scoring: count of marker hits per language, argmax with
    * alphabetical tie-break, "und" (undetermined) when no marker hits.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "es" -> Seq("el", "la", "de", "y", "que", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai"))

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = toks(col(textCol))
    val scored = langMarkers.foldLeft(
      df.select(col(idCol).as("doc_id"), tokens.as("tokens"))) {
      case (acc, (lang, markers)) =>
        acc.withColumn(s"score_$lang",
          size(filter(col("tokens"), t => t.isin(markers: _*))))
    }
    val best = langMarkers.map { case (lang, _) => col(s"score_$lang") }
      .reduce((a, b) => greatest(a, b))
    // argmax with alphabetical tie-break: first lang reaching the max wins
    val pick = langMarkers.foldRight(lit("und")) { case ((lang, _), els) =>
      when(col(s"score_$lang") === col("best") && col("best") > 0, lit(lang))
        .otherwise(els)
    }
    // foldRight gives de-first precedence; evaluate in alphabetical order
    val outCols = col("doc_id") +:
      (langMarkers.map { case (l, _) => col(s"score_$l").cast("long").as(s"score_$l") }
        :+ col("lang_pred"))
    scored.withColumn("best", best)
      .withColumn("lang_pred", pick)
      .select(outCols: _*)
  }

  /** Token counting the ways an LLM-pipeline budgeter needs it: whitespace
    * tokens, word/punctuation splits (a BPE-ish regex — every alphanumeric
    * run and every punctuation mark is a token candidate), and the chars/4
    * rule-of-thumb BPE estimate. Pure codegen expressions, shuffle-free.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol).as("doc_id"),
      length(t).cast("long").as("n_chars"),
      size(toks(t)).cast("long").as("n_ws_tokens"),
      regexp_count(lower(t), lit("[a-z0-9]+|[^a-z0-9\\s]")).cast("long")
        .as("n_word_punct"),
      ceil(length(t).cast("double") / 4.0).cast("long").as("n_bpe_est"))
  }

  /** Unigram language-model quality score — the cheap cousin of the KenLM
    * perplexity filter used to rank web text: train add-1-smoothed unigram
    * logprobs on the corpus itself (one token-count aggregation), then score
    * each document by its mean per-token logprob. Near-gibberish and
    * rare-token-heavy documents score low; common fluent text scores high.
    * Two shuffles total (term counts, then a term-keyed join back to doc
    * term frequencies) — both map-side-combined, nothing quadratic, and the
    * model table is vocabulary-sized (broadcastable for natural-language
    * vocabularies).
    * Float discipline: per-term `tf * lp` terms are identical across engines
    * (same ln of the same ratio) and are rounded to INTEGER MICROS before
    * the per-doc sum — integer sums are summation-order-free, so the score
    * cannot flip on a rounding boundary however the partitions land (a
    * double sum rounded afterwards was measured flipping by 1e-6 at sf0.1).
    *
    * @return (doc_id, n_tokens, lm_logprob, ppl) — NULL score for empty docs
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              tfTable: Option[DataFrame] = None): DataFrame = {
    // persisted for the same reason as TermStats.tfidfKnn: the TF table
    // feeds the vocabulary, the model join and the per-doc aggregate, and
    // column pruning blocks exchange reuse between those branches.
    // Caching-registered: the query driver releases it post-action.
    // `toks` ≡ TermStats.tokens (lower, split ' ', drop empties), so the
    // session TF artifact (TermStats.trainedTermFreqs) IS this aggregate —
    // pass it as `tfTable` to skip the corpus tokenize entirely.
    val tf = tfTable.getOrElse(graft.Caching.temp(
      df.select(col(idCol).as("doc_id"),
          explode(toks(col(textCol))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))))
    val vocab = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val totals = vocab.agg(sum("cnt").as("n_total"),
      count(lit(1)).as("v_size"))
    // lp pinned to 6 decimals: JVM Math.log and C libm can differ in the
    // last ulp, and a raw lp multiplied onward can flip a micro-rounding —
    // round-6 collapses both engines onto the identical double (per-TERM,
    // so a boundary hit needs the true value within ~1e-16 of a half-micro:
    // vanishing over a vocabulary, vs. per (doc, term) pair before)
    val lp = vocab.crossJoin(broadcast(totals))
      .withColumn("lp", round(log((col("cnt") + lit(1.0)) /
        (col("n_total").cast("double") + col("v_size").cast("double"))), 6))
      .select("term", "lp")
    val perDoc = tf.join(lp, "term")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(round(col("tf") * col("lp") * 1e6).cast("long")).as("lp_micro"))
    // The per-token mean comes from INTEGER division of the micro sum — a
    // float round of the quotient was measured landing exactly on a
    // half-micro (sum/62e6), where Spark (decimal shortest-string) and
    // DuckDB (binary multiply) round opposite ways. Negate first: both
    // engines truncate positive integer division identically (DIV vs //
    // disagree on NEGATIVES — trunc vs floor).
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .withColumn("lm_logprob", when(col("n_tokens") > 0,
        -expr("(-lp_micro) DIV n_tokens").cast("double") / 1e6))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("lm_logprob"),
        when(col("n_tokens") > 0,
          round(exp(-col("lm_logprob")), 4)).as("ppl"))
  }

  /** Bigram language-model quality score — one rung up the KenLM ladder
    * from [[lmScore]]: train add-1-smoothed bigram CONDITIONALS on the
    * corpus itself, P(w₂|w₁) = (c(w₁w₂)+1) / (h(w₁)+V) with h(w₁) the
    * bigram-history count and V the unigram vocabulary size, then score
    * each document by its mean per-bigram log conditional. Word-salad that
    * sails through a unigram filter (common words, impossible order)
    * scores low here — word ORDER is what the bigram conditional prices.
    * Self-scoring means every document bigram exists in the model, so no
    * backoff branch is needed (the add-1 mass covers the conditional's
    * unseen tail).
    *
    * Plan shape mirrors [[lmScore]] one level up: the pinned (doc, bigram)
    * tf table feeds the model aggregate, the history aggregate and the
    * per-doc join; the model table is bigram-vocabulary-sized (still far
    * below corpus size for natural language). Same integer-micro float
    * discipline — per-bigram `tf·lp` rounds to micros before the
    * summation-order-free integer per-doc sum, and the mean is the negated
    * positive integer division.
    *
    * @return (doc_id, n_bigrams, lm2_logprob, ppl2) — NULL score for docs
    *         with fewer than two tokens
    */
  def lmScoreBigram(df: DataFrame, idCol: String, textCol: String,
                    tfTable: Option[DataFrame] = None,
                    tf2Table: Option[DataFrame] = None): DataFrame = {
    val t = df.select(col(idCol).as("doc_id"), toks(col(textCol)).as("ts"))
    // (doc, bigram, tf): from the session BIGRAM-TF artifact when provided
    // (TermStats.trainedTermFreqs(n = 2) — the train_tf2 line; its unit
    // stream is THIS construction, so values are identical), else inline
    // inline fallback IS the artifact's construction (TermStats.unitTokens
    // n = 2), not a copy of it — one canonical zip-shift
    val bi = tf2Table
      .map(_.select(col("doc_id"), col("term").as("bigram"), col("tf")))
      .getOrElse(graft.Caching.temp(
        graft.ingest.TermStats.termFreqs(
          graft.ingest.TermStats.unitTokens(df, idCol, textCol, 2))
          .withColumnRenamed("term", "bigram")))
    val model = bi.groupBy("bigram").agg(sum("tf").as("cnt"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val hist = model.groupBy("w1").agg(sum("cnt").as("hcnt"))
    // the unigram vocabulary size: a second full corpus tokenize inline,
    // or a distinct-terms count of the session TF artifact when provided
    // (the bigram stream can't supply it — it loses single-token docs and
    // under-counts last-position-only words)
    val vsize = tfTable
      .map(_.agg(countDistinct("term").as("v_size")))
      .getOrElse(t.select(explode(col("ts")).as("term"))
        .agg(countDistinct("term").as("v_size")))
    val lp = model.join(hist, "w1").crossJoin(broadcast(vsize))
      .withColumn("lp", round(log((col("cnt") + lit(1.0)) /
        (col("hcnt").cast("double") + col("v_size").cast("double"))), 6))
      .select("bigram", "lp")
    val perDoc = bi.join(lp, "bigram")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum(round(col("tf") * col("lp") * 1e6).cast("long")).as("lp_micro"))
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .withColumn("lm2_logprob", when(col("n_bigrams") > 0,
        -expr("(-lp_micro) DIV n_bigrams").cast("double") / 1e6))
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm2_logprob"),
        when(col("n_bigrams") > 0,
          round(exp(-col("lm2_logprob")), 4)).as("ppl2"))
  }

  /** Per-source distribution-shift report: add-1-smoothed unigram KL
    * divergence D(P_group ‖ P_corpus) for every `groupCol` value — the
    * quantitative "how different is this source's language" number that
    * mixture design reads before setting quotas (a source with near-zero
    * KL adds volume, not diversity; a high-KL source shifts the mixture).
    * The sum runs over the FULL corpus vocabulary per group (unseen-in-
    * group terms carry the add-1 floor mass; dropping them would
    * systematically understate the divergence), so the work is
    * vocabulary × groups — model-table-sized, corpus-size-independent,
    * like every LM table in this file.
    *
    * Float discipline: the probabilities are exact-double ratios
    * (identical in any IEEE engine); only the log is libm-sensitive, so
    * the LOG RATIO is 6-decimal-pinned before the multiply, and each
    * term's contribution rounds to integer NANOS before the
    * summation-order-free per-group sum (micro grain would zero the add-1
    * floor terms; nano keeps them, and |Σ| stays far under 2^53).
    *
    * @return (group, n_tokens, vocab_seen, kl) one row per group
    */
  def sourceKl(df: DataFrame, textCol: String, groupCol: String,
               tfVia: Option[(String, DataFrame)] = None): DataFrame = {
    // `tfVia = (idCol, artifact)`: the (grp, term) counts roll up from the
    // session TF artifact joined to the doc→grp projection (grp is
    // per-document), skipping the corpus tokenize — exact by additivity of
    // counts over a partition of the documents.
    val tf = tfVia match {
      case Some((idCol, art)) => graft.Caching.temp(art
        .join(df.select(col(idCol).as("doc_id"), col(groupCol).as("grp")),
          "doc_id")
        .groupBy("grp", "term").agg(sum("tf").as("cnt_g")))
      case None => graft.Caching.temp(
        df.select(col(groupCol).as("grp"),
            explode(toks(col(textCol))).as("term"))
          .groupBy("grp", "term").agg(count(lit(1)).as("cnt_g")))
    }
    val vocab = tf.groupBy("term").agg(sum("cnt_g").as("cnt"))
    val totals = vocab.agg(sum("cnt").as("n_total"), count(lit(1)).as("v_size"))
    val gtot = tf.groupBy("grp").agg(sum("cnt_g").as("n_g"))
    val contrib = vocab.crossJoin(broadcast(gtot))
      .join(tf, Seq("grp", "term"), "left")
      .na.fill(0L, Seq("cnt_g"))
      .crossJoin(broadcast(totals))
      .withColumn("p_g", (col("cnt_g") + lit(1.0)) /
        (col("n_g") + col("v_size")).cast("double"))
      .withColumn("p", (col("cnt") + lit(1.0)) /
        (col("n_total") + col("v_size")).cast("double"))
      .withColumn("lr", round(log(col("p_g") / col("p")), 6))
      .withColumn("nano", round(col("p_g") * col("lr") * 1e9).cast("long"))
    contrib.groupBy("grp")
      .agg(max("n_g").as("n_tokens"),
        sum((col("cnt_g") > 0).cast("long")).as("vocab_seen"),
        (sum("nano").cast("double") / 1e9).as("kl"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("vocab_seen"),
        col("kl"))
  }

  /** DSIR-style importance weights for targeted data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023 — public method description): score every document by
    * the log likelihood RATIO between a TARGET unigram LM (trained on the
    * `isTarget` slice — the "looks like my eval/domain" seed) and the
    * corpus LM, per token. Positive `lr` = more target-like than average;
    * feeding `exp(lr)` to [[CorpusOps.weightedSample]] is the resampling
    * half of the recipe, a plain top-k on `lr` the hard-selection variant.
    *
    * Engine-exactness: both models' per-term logprobs are pinned to
    * INTEGER MICROS (the same round-6-log discipline as [[lmScore]] —
    * add-1 smoothing, unseen-by-target terms get the model's count-0
    * logprob), so each (doc, term) contribution `tf · (lp_t − lp_b)` and
    * every sum after it is exact integer arithmetic; the per-token mean is
    * a sign-split truncating division both engines share. Plan shape: one
    * corpus TF shuffle (pinned — it feeds both models and the scoring
    * join), two vocabulary-sized aggregates, one term-keyed join back —
    * nothing quadratic, model tables broadcastable at natural-language
    * vocabulary sizes.
    *
    * @return (doc_id, n_tokens, lr) — lr NULL for token-less docs
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        isTarget: Column,
                        tfTable: Option[DataFrame] = None): DataFrame = {
    // is_t is a per-DOCUMENT flag, so the (doc_id, is_t, term) aggregate is
    // exactly the session TF artifact joined to the doc→is_t projection —
    // the artifact path pays a doc-keyed join (AQE broadcasts it at fixture
    // scale; doc-sized at 100 TB, so no explicit hint) instead of the
    // corpus tokenize+explode+aggregate.
    val tf = tfTable match {
      case Some(art) => graft.Caching.temp(art.join(
        df.select(col(idCol).as("doc_id"), isTarget.as("is_t")), "doc_id"))
      case None => graft.Caching.temp(
        df.select(col(idCol).as("doc_id"), isTarget.as("is_t"),
            explode(toks(col(textCol))).as("term"))
          .groupBy("doc_id", "is_t", "term").agg(count(lit(1)).as("tf")))
    }
    def lpMicro(vocab: DataFrame, name: String): DataFrame = {
      val totals = vocab.agg(sum("cnt").as("n_total"), count(lit(1)).as("v_size"))
      vocab.crossJoin(broadcast(totals))
        .withColumn(name, round(log((col("cnt") + lit(1.0)) /
          (col("n_total").cast("double") + col("v_size").cast("double"))) * 1e6)
          .cast("long"))
        .select("term", name)
    }
    val lpB = lpMicro(tf.groupBy("term").agg(sum("tf").as("cnt")), "lp_b")
    val targetVocab = tf.filter(col("is_t")).groupBy("term").agg(sum("tf").as("cnt"))
    val lpT = lpMicro(targetVocab, "lp_t")
    // count-0 smoothing for terms the target slice never saw
    val unseenT = targetVocab
      .agg(sum("cnt").as("n_total"), count(lit(1)).as("v_size"))
      .select(round(log(lit(1.0) /
        (col("n_total").cast("double") + col("v_size").cast("double"))) * 1e6)
        .cast("long").as("lp_t0"))
    val perDoc = tf
      .join(lpB, "term")
      .join(lpT, Seq("term"), "left")
      .crossJoin(broadcast(unseenT))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * (coalesce(col("lp_t"), col("lp_t0")) - col("lp_b")))
          .as("lr_micro"))
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .withColumn("lr", when(col("n_tokens") > 0,
        expr("CASE WHEN lr_micro >= 0 THEN lr_micro DIV n_tokens " +
          "ELSE -((-lr_micro) DIV n_tokens) END").cast("double") / 1e6))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("lr"))
  }

  /** One BPE merge round over the corpus: count adjacent character pairs in
    * every word occurrence (word-frequency weighted), rank the merge
    * candidates. This is the inner statistic of byte-pair-encoding tokenizer
    * training; iterating it (merge top pair, re-split, recount) is a driver
    * loop over exactly this aggregation. Integer counts end to end — the
    * oracle matches exactly, no float discipline needed. The word table is
    * the only shuffle input (distinct words, not occurrences), so the pair
    * explosion is bounded by vocabulary size × word length, not corpus size.
    *
    * @return top `k` (pair, n_words, n_occurrences, rank)
    */
  def bpePairs(df: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    val words = df.select(explode(toks(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
    val pairs = words
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("wcnt"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word"), expr("substring(word, i, 2)").as("pair"), col("wcnt"))
    // the pair table is at most |charset|² rows — a single-partition window
    // over it is driver-scale work no matter the corpus size
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("pair").asc)
    pairs.groupBy("pair")
      .agg(countDistinct("word").as("n_words"), sum("wcnt").as("n_occurrences"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Greedy BPE merge-table training — `rounds` iterations of the full
    * byte-pair-encoding loop [[bpePairs]] only runs once: count adjacent
    * token pairs over the (vocabulary-sized, frequency-weighted) word table,
    * merge the most frequent pair everywhere, recount. Words travel as
    * sentinel-spaced token strings (` a b c `) and the merge is LITERAL
    * string replacement (leftmost, non-overlapping, resume-after — Spark's
    * `replace` and DuckDB's `replace` share these semantics exactly, and no
    * regex means no metacharacter hazards from corpus tokens), so the whole
    * training run is integer + string arithmetic: the oracle reproduces
    * every round bit for bit. Single-pass-per-round merge application is a
    * documented divergence from classic BPE's within-word fixpoint; merge
    * CHOICES can differ from it only in chained-overlap corners (`a a a a`),
    * never the algorithm's shape.
    *
    * Scale shape: the state is the distinct-word table (vocabulary-sized,
    * pinned), each round is one explode+aggregate over it plus a 1-row
    * argmax action — tokenizer training is an offline artifact build, like
    * fitting the IVF codebook. Corpus size only enters through the initial
    * word count.
    *
    * @return (round, l_tok, r_tok, n_occurrences) — the merge table
    */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int = 8,
               cacheKey: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainedMerges(df, textCol, rounds, cacheKey)
      .toDF("round", "l_tok", "r_tok", "n_occurrences")
      .select(col("round").cast("long"), col("l_tok"), col("r_tok"),
        col("n_occurrences"))
  }

  /** Session cache for trained merge tables — the merge table is a reusable
    * artifact (like an IVF codebook): training it inside every encode query
    * would repeat `rounds` sequential corpus aggregations per call. Keyed by
    * (applicationId, caller key) so distinct corpora/sessions never collide.
    */
  private val mergeCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[(Int, String, String, Long)]]
  private val mergeLocks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]

  /** Drop every memoized merge table for this session whose caller key
    * starts with `cacheKeyPrefix` — the explicit inverse of passing
    * `cacheKey` to [[trainedMerges]], so a benchmark can time a TRUE
    * retrain instead of a memo hit.
    */
  def resetMerges(spark: org.apache.spark.sql.SparkSession,
                  cacheKeyPrefix: String): Unit = {
    val appId = spark.sparkContext.applicationId
    mergeCache.keySet
      .filter(k => k._1 == appId && k._2.startsWith(cacheKeyPrefix + "|"))
      .foreach(mergeCache.remove)
  }

  /** The BPE training loop itself, returning the merge table as a LOCAL list
    * (it is `rounds` rows — driver-scale by construction). Pass `cacheKey`
    * (e.g. the lake directory) to memoize per session: then one training run
    * serves both the merge-table dump ([[bpeTrain]]) and every subsequent
    * [[bpeEncode]] over the same corpus.
    */
  def trainedMerges(df: DataFrame, textCol: String, rounds: Int = 8,
                    cacheKey: Option[String] = None): Seq[(Int, String, String, Long)] =
    cacheKey match {
      // per-key lock (graft.Caching.memoLocked): racing first trains would
      // each pay the full multi-round BPE train for one kept result
      case Some(k) => graft.Caching.memoLocked(mergeCache, mergeLocks,
        (df.sparkSession.sparkContext.applicationId, s"$k|$textCol|$rounds"))(
        trainedMergesRun(df, textCol, rounds, None))
      case None => trainedMergesRun(df, textCol, rounds, None)
    }

  /** How many distinct words the greedy loop may pull to the driver: the
    * word-frequency state is VOCABULARY-sized (never corpus-sized), and
    * under this cap the `rounds` sequential argmax actions collapse into
    * ONE collect + a driver loop that reproduces the distributed rounds
    * bit for bit (see [[trainedMergesRun]]). ~1M spaced words ≈ tens of MB
    * — the multiFieldServedRows driver-copy budget class. A 100 TB corpus's
    * vocabulary blows past it and trains distributed, where the driver
    * only ever sees `rounds` argmax rows.
    */
  private val MaxDriverVocab = 1L << 20

  /** The training loop body. `forceLocal` pins the strategy for the
    * equivalence spec (None = gate on the distinct-word count).
    */
  private[graft] def trainedMergesRun(df: DataFrame, textCol: String,
                                      rounds: Int,
                                      forceLocal: Option[Boolean])
  : Seq[(Int, String, String, Long)] = {
    val spaced = concat(lit(" "),
      concat_ws(" ", expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")),
      lit(" "))
    var words = graft.Caching.temp(
      df.select(explode(toks(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wcnt"))
        .select(spaced.as("ws"), col("wcnt")))
    // the count() doubles as the pin's eager fill — the distributed loop's
    // first argmax would have paid this scan anyway
    val nWords = words.count()
    val local = forceLocal.getOrElse(nWords <= MaxDriverVocab)
    if (local) {
      // Driver-side greedy loop over the collected vocabulary (round 18,
      // guide §2.6: the 8 sequential corpus-agg argmax ACTIONS were pure
      // per-round job latency — the state they iterate is vocabulary-sized
      // and fits the driver under the gate). Equivalence with the
      // distributed rounds is EXACT by construction, property-locked in
      // TextStatsSpec over random-unicode corpora on both paths:
      //  - pair counts: integer sums over the same (ws, wcnt) rows;
      //  - argmax tie-break (cnt desc, l asc, r asc): Spark string asc is
      //    UTF8String.compareTo = unsigned UTF-8 byte order, mirrored here
      //    with Arrays.compareUnsigned over getBytes(UTF_8) — Scala's
      //    String ordering (UTF-16 code units) would diverge on
      //    supplementary-plane tokens;
      //  - the merge is Java String.replace: literal, leftmost,
      //    non-overlapping, resume-after-match — the same semantics as
      //    Spark's replace (UTF8String.replace) and the DuckDB oracle's,
      //    as already relied on by the oracle twin.
      val rows = words.select("ws", "wcnt").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      def byteLt(a: String, b: String): Boolean =
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      var state = rows
      val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to rounds) {
        val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
        state.foreach { case (ws, wc) =>
          val t = ws.trim.split(" ")
          var i = 0
          while (i < t.length - 1) {
            val k = (t(i), t(i + 1))
            cnt.update(k, cnt.getOrElse(k, 0L) + wc)
            i += 1
          }
        }
        if (cnt.nonEmpty) {
          val ((l, rr), c) = cnt.reduceLeft { (a, b) =>
            val ((al, ar), ac) = a; val ((bl, br), bc) = b
            if (bc > ac) b
            else if (bc < ac) a
            else if (byteLt(bl, al)) b
            else if (byteLt(al, bl)) a
            else if (byteLt(br, ar)) b else a
          }
          merges += ((r, l, rr, c))
          state = state.map { case (ws, wc) =>
            (ws.replace(s" $l $rr ", s" $l$rr "), wc)
          }
        }
      }
      merges.toList
    } else {
      val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to rounds) {
        val pairs = words
          .select(col("wcnt"), split(trim(col("ws")), " ").as("t"))
          // single-token words have no pairs — and Spark's sequence(1, 0)
          // DESCENDS rather than being empty, so they must not reach it
          .filter(size(col("t")) >= 2)
          .select(col("wcnt"), explode(
            expr("transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS l, t[i] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("wcnt").as("cnt"))
        val top = pairs.orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.nonEmpty) {
          val (l, rr, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r, l, rr, cnt))
          words = graft.Caching.temp(words.select(
            call_function("replace", col("ws"),
              lit(s" $l $rr "), lit(s" $l$rr ")).as("ws"),
            col("wcnt")))
        }
      }
      merges.toList
    }
  }

  /** Apply a trained BPE merge table ([[bpeTrain]]) to the corpus: every
    * word re-tokenizes through the merge chain IN TRAINING ORDER (literal
    * replaces — a codegen'd per-row expression chain, shuffle-free until the
    * per-doc count), yielding the BPE token count per document — the number
    * that actually prices a document against a model's context/training
    * budget, vs the whitespace proxy in [[tokenCounts]]. The merge table is
    * `rounds` rows collected once (an artifact lookup, like broadcasting a
    * codebook).
    *
    * @return (doc_id, n_words, n_bpe_tokens)
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                rounds: Int = 8, cacheKey: Option[String] = None): DataFrame =
    bpeEncode(df, idCol, textCol,
      trainedMerges(df, textCol, rounds, cacheKey).map(m => (m._2, m._3)))

  /** Encode with an ALREADY-TRAINED merge table — the production shape: the
    * tokenizer is trained once (offline artifact) and applied to any corpus,
    * and the encode itself is a shuffle-free codegen replace chain.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spacedWord = concat(lit(" "),
      concat_ws(" ", expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")),
      lit(" "))
    val encoded = merges.foldLeft(spacedWord) { case (c, (l, r)) =>
      call_function("replace", c, lit(s" $l $r "), lit(s" $l$r "))
    }
    val perDoc = df
      .select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("word"))
      .select(col("doc_id"), size(split(trim(encoded), " ")).as("wtoks"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("wtoks").as("n_bpe_tokens"))
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** The normalize-and-hash fingerprint COLUMN (shared by the batch
    * fingerprint table and the streaming dedup). The normalization is the
    * one-pass codegen [[graft.functions.TextNormalize]] — semantically
    * `md5(trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]",
    * ""), " +", " ")))`, which is what the DuckDB oracle twin runs;
    * property-locked equal in TextStatsSpec.
    */
  def fingerprintCol(text: Column): Column =
    md5(graft.functions.TextNormalize.asciiNormalize(text))

  /** Document fingerprint: md5 of whitespace-normalized lowercase text with
    * non-alphanumerics stripped — stable under formatting jitter; the
    * building block for fuzzy exact-dedup.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), fingerprintCol(col(textCol)).as("fingerprint"))

  /** Collocation mining — top-k adjacent-bigram PMI, the phrase-vocabulary
    * step of tokenizer/embedding design (word2vec's phrase pass, BPE's
    * conceptual cousin one level up):
    *
    *   pmi(a,b) = ln P(ab) − ln P(a) − ln P(b)
    *            = ln c_ab − ln B − ln c_a − ln c_b + 2·ln N
    *
    * with c the corpus counts, B total bigram instances, N total token
    * instances. Written as a SUM OF PINNED LOGS (each ln rounded to 6
    * decimals before combining, the sourceKl discipline) rather than a log
    * of an integer product — c_ab·N² overflows any integer width at corpus
    * scale, while the pinned-sum form is IEEE-identical in any engine at
    * any scale.
    *
    * Plan: one bigram aggregate + one unigram aggregate (both map-side
    * combined, both vocabulary-sized outputs), scalar totals broadcast, the
    * unigram table broadcast-joined twice (vocab-sized), and a bounded
    * top-k (`TakeOrderedAndProject`) — no corpus-sized shuffle beyond the
    * two tf aggregates.
    *
    * @return (bigram, c_ab, c_a, c_b, pmi) — top `k` by (pmi DESC, bigram),
    *         bigrams with c_ab < minCount dropped (PMI is noise on rare
    *         pairs)
    */
  def collocations(df: DataFrame, textCol: String, k: Int = 20,
                   minCount: Long = 5L,
                   tfTables: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val t = df.select(toks(col(textCol)).as("ts"))
    // corpus unigram/bigram counts: both roll up from the session TF
    // artifacts when provided (unigram art, bigram art) — counts are
    // additive over documents, so Σ tf per term IS the occurrence count
    // the inline explodes compute
    val uni = tfTables
      .map(a => graft.Caching.temp(
        a._1.groupBy("term").agg(sum("tf").as("c"))))
      .getOrElse(graft.Caching.temp(
        t.select(explode(col("ts")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c"))))
    val bi = tfTables
      .map(a => graft.Caching.temp(
        a._2.groupBy(col("term").as("bigram")).agg(sum("tf").as("c_ab"))))
      .getOrElse(graft.Caching.temp(
        t.filter(size(col("ts")) >= 2)
          .select(explode(graft.ingest.TermStats.bigramsOf(col("ts")))
            .as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("c_ab"))))
    val totals = bi.agg(sum("c_ab").as("big_n"))
      .crossJoin(broadcast(uni.agg(sum("c").as("tok_n"))))
    def r6(c: Column): Column = round(c, 6)
    val ua = uni.select(col("term").as("w1"), col("c").as("c_a"))
    val ub = uni.select(col("term").as("w2"), col("c").as("c_b"))
    bi.filter(col("c_ab") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(broadcast(ua), "w1")
      .join(broadcast(ub), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", r6(
        r6(log(col("c_ab").cast("double"))) - r6(log(col("big_n").cast("double")))
          - r6(log(col("c_a").cast("double"))) - r6(log(col("c_b").cast("double")))
          + lit(2.0) * r6(log(col("tok_n").cast("double")))))
      .select("bigram", "c_ab", "c_a", "c_b", "pmi")
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
  }
}
