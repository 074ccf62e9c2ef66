package graft

import graft.extra.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("exact dedup groups identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "t")
    val got = Dedup.exact(df, "id", "t").orderBy("keep_id").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("keep_id") == 1L && got(0).getAs[Long]("n_dups") == 2L)
  }

  test("minhash LSH recall vs exact jaccard on fixture docs") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .filter(col("doc_id") < 150)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH must verify pairs exactly (no false positives)")
    assert(exact.nonEmpty)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("ivf ANN: scores match brute force on overlapping pairs, decent recall") {
    import graft.extra.EmbeddingKnn
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = EmbeddingKnn.bruteForce(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = EmbeddingKnn.ivf(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty)
    // any pair IVF returns that brute force also ranked must agree on sim
    ivf.foreach { case (k, v) =>
      brute.get(k).foreach(b => assert(b == v, s"sim mismatch at $k"))
    }
    val recall = qs.map { q =>
      val b = brute.keys.filter(_._1 == q).map(_._2).toSet
      val i = ivf.keys.filter(_._1 == q).map(_._2).toSet
      if (b.isEmpty) 1.0 else (b & i).size.toDouble / b.size
    }.sum / qs.size
    assert(recall >= 0.4, s"IVF recall@5 too low: $recall")
  }

  test("ivfSeeded ANN: deterministic quantizer, sims agree with brute force") {
    import graft.extra.EmbeddingKnn
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = EmbeddingKnn.bruteForce(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val run = () => EmbeddingKnn.ivfSeeded(emb, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val a = run()
    assert(a.nonEmpty)
    assert(a == run(), "seeded IVF must be run-to-run deterministic")
    a.foreach { case (k, v) =>
      brute.get(k).foreach(b => assert(b == v, s"sim mismatch at $k"))
    }
    val recall = qs.map { q =>
      val b = brute.keys.filter(_._1 == q).map(_._2).toSet
      val i = a.keys.filter(_._1 == q).map(_._2).toSet
      if (b.isEmpty) 1.0 else (b & i).size.toDouble / b.size
    }.sum / qs.size
    assert(recall >= 0.4, s"seeded IVF recall@5 too low: $recall")
  }

  test("pqKnn ANN: partitioning-independent codes/ranks, top-1 is a decent neighbor") {
    import graft.extra.EmbeddingKnn
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val a = asMap(EmbeddingKnn.pqKnn(emb, qs, 5))
    assert(a.size == qs.size * 5, s"expected full top-5 lists, got ${a.size}")
    // integer-micro ADC totals make ranks independent of physical layout
    val b = asMap(EmbeddingKnn.pqKnn(emb.repartition(7), qs, 5))
    assert(a == b, "PQ ranks must not depend on partitioning")
    // sanity on approximation quality: the PQ top-1's TRUE distance should
    // beat the corpus median distance for every query (coarse codebook, so
    // no exact-recall claim — just "the scan finds genuinely near vectors")
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dist(x: Array[Double], y: Array[Double]) =
      math.sqrt(x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum)
    qs.foreach { q =>
      val top1 = a.collect { case ((`q`, c), (_, 1)) => c }.head
      val dTop = dist(vecs(q), vecs(top1))
      val all = vecs.keys.filter(_ != q).map(c => dist(vecs(q), vecs(c))).toSeq.sorted
      val median = all(all.size / 2)
      assert(dTop < median, s"PQ top-1 for $q no better than median: $dTop >= $median")
    }
  }

  test("hardNegatives: cluster-mates excluded, next-best promoted to dense ranks") {
    import graft.extra.EmbeddingKnn
    import spark.implicits._
    // q=0; 1 is nearly identical AND its near-dup cluster-mate; 2, 3 differ
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)),
      (2L, Array(0.7f, 0.3f)), (3L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val clusters = Seq((0L, 0L, 1L), (1L, 0L, 0L), (2L, 2L, 1L), (3L, 3L, 1L))
      .toDF("doc_id", "cluster_id", "is_rep")
    val got = EmbeddingKnn.hardNegatives(emb, clusters, Seq(0L), k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toList.sortBy(_._2)
    // 1 (the near-dup) must be gone; 2 and 3 fill ranks 1, 2 densely
    assert(got == List((2L, 1), (3L, 2)), s"got $got")
  }

  test("prefix filter: stopword-heavy corpus has bounded candidates, exact result") {
    // every doc shares the same 6 stopwords; only docs 1/2 are real near-dups
    val stop = "the a an and of to"
    val docs = (1L to 40L).map { i =>
      val body = if (i <= 2) "identical payload tokens here" else s"unique$i body$i words$i"
      (i, s"$stop $body")
    }.toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val nCand = Dedup.jaccardCandidates(toks, sizes, 0.95).count()
    // naive inverted index pairs every doc with every other via "the":
    // 40*39/2 = 780 candidate pairs; the prefix filter must stay far below
    assert(nCand <= 40, s"prefix filter produced $nCand candidates (naive: 780)")
    // and the result is still exact: brute-force all-pairs jaccard agrees
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t = toks.collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val brute = (for {
      a <- t.keys; b <- t.keys if a < b
      jac = (t(a) & t(b)).size.toDouble / (t(a) | t(b)).size if jac >= 0.95
    } yield (a, b)).toSet
    assert(got == brute)
  }

  test("embedding LSH dedup: subset of exact pairs with matching cosines, recall >= 0.9") {
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val exact = Dedup.embeddingPairs(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingPairsLsh(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty)
    lsh.foreach { case (k, v) =>
      assert(exact.contains(k), s"LSH pair $k not in exact set")
      assert(exact(k) == v, s"cosine mismatch at $k")
    }
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("adaptive band width: clamp and power-of-two boundaries, adaptive ⊆ fixed") {
    // blen = clamp(floor(log2 n) - 5, 3, 12), floor(log2 n) computed as
    // length(bin(n)) - 1 — lock the Spark expression at the exact
    // doubling boundaries where an engine disagreement would bite
    // (the DuckDB side is locked by the oracle gate at two SFs)
    val expect = Seq(1L -> 3, 63L -> 3, 64L -> 3, 255L -> 3, 256L -> 3,
      511L -> 3, 512L -> 4, 1023L -> 4, 1024L -> 5, 4095L -> 6, 4096L -> 7,
      8000L -> 7, 65536L -> 11, 131072L -> 12, 1000000L -> 12)
    val got = spark.range(1).select(expect.map { case (n, _) =>
      least(lit(12), greatest(lit(3),
        length(bin(lit(n))) - 1 - 5)).cast("int").as(s"n$n")
    }: _*).collect().head
    expect.zipWithIndex.foreach { case ((n, want), i) =>
      assert(got.getInt(i) == want, s"blen($n): got ${got.getInt(i)}, want $want")
    }
    // behavioral lock: the adaptive operator's pairs are a subset of the
    // minimum-width (fixed) operator's — a longer compared prefix can
    // only split buckets — and every emitted cosine matches
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val fixed = Dedup.embeddingPairsLsh(emb, 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val adaptive = Dedup.embeddingPairsLsh(emb, 0.45, maxBits = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(adaptive.nonEmpty)
    adaptive.foreach { case (k, v) =>
      assert(fixed.get(k).contains(v), s"adaptive pair $k not in fixed set")
    }
    // at the fixture's n the width clamps to the minimum: adaptive must
    // equal the classic banding bit-for-bit
    assert(adaptive == fixed)
    // force a genuinely wider prefix (targetLog2 = 0 → blen ≈ log2 n):
    // still sound (subset with identical cosines), strictly a prefilter
    val wide = Dedup.embeddingPairsLsh(emb, 0.45, maxBits = 12,
        targetLog2 = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    wide.foreach { case (k, v) =>
      assert(fixed.get(k).contains(v), s"wide pair $k not in fixed set")
    }
  }

  test("simhash: identical docs at hamming 0, near docs close") {
    val df = Seq(
      (1L, "spark query join stream table scan"),
      (2L, "spark query join stream table scan"),
      (3L, "completely different words entirely here now")).toDF("id", "t")
    val fps = Dedup.simhash(df, "id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    val pairs = Dedup.simhashPairs(df, "id", "t", 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("simhash Aggregator fingerprints equal the exploded (oracle) path") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .filter(col("doc_id") < 200)
    def fps(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val agg = fps(Dedup.simhash(docs, "doc_id", "text"))
    val exploded = fps(Dedup.simhashExploded(docs, "doc_id", "text"))
    assert(agg.nonEmpty && agg == exploded)
  }

  test("labelTransfer: majority wins over single-nearest, pool excludes queries") {
    import graft.extra.EmbeddingKnn
    // query 0 at (1,0): nearest single neighbor has label 9, but three of
    // the top-4 carry label 2 -> majority 2. Vector 5 is a second QUERY and
    // must never vote despite being identical to query 0.
    val emb = Seq(
      (0L, Array(1f, 0f), 0),      // query
      (5L, Array(1f, 0f), 9),      // query too -> excluded from the pool
      (1L, Array(1f, 0.001f), 9),  // nearest pool vector, label 9
      (2L, Array(1f, 0.01f), 2),
      (3L, Array(1f, 0.02f), 2),
      (4L, Array(1f, 0.03f), 2),
      (6L, Array(-1f, 0f), 7)      // far away, outside k
    ).toDF("vec_id", "embedding", "label")
    val got = EmbeddingKnn.labelTransfer(emb, Seq(0L, 5L), 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got(0L) == ((2, 3L)), s"majority label must win: $got")
    assert(got(5L) == ((2, 3L)), "identical query gets the same transfer")
    // fixture smoke + layout invariance
    val fix = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val qs = Seq(0L, 10L, 20L)
    def run(df: org.apache.spark.sql.DataFrame) =
      EmbeddingKnn.labelTransfer(df, qs, 5).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val a = run(fix)
    assert(a.map(_._1) == qs.toSet)
    assert(run(fix.repartition(7)) == a)
  }

  test("domainStats: every vector owned by one cell, shares cover the corpus") {
    import graft.extra.EmbeddingKnn
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val total = emb.count()
    val rows = EmbeddingKnn.domainStats(emb).collect()
    assert(rows.length <= 16 && rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
    // truncating micro-division: each share is within 1 micro below exact
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_vecs").toDouble / total
      val share = r.getAs[Double]("share")
      assert(share <= exact + 1e-12 && share > exact - 2e-6, r.toString)
      assert(r.getAs[Double]("mean_cdist") >= 0.0)
    }
    // partitioning-invariant (the md5 seeding is content-derived)
    val re = EmbeddingKnn.domainStats(emb.repartition(7)).collect()
      .map(r => r.getAs[Long]("cell_id") -> r.getAs[Long]("n_vecs")).toMap
    assert(re == rows.map(r => r.getAs[Long]("cell_id") -> r.getAs[Long]("n_vecs")).toMap)
  }

  test("semanticDedup keeps first-by-id per near-dup group, bounded by cells") {
    import graft.extra.EmbeddingKnn
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val total = emb.count()
    val rows = EmbeddingKnn.semanticDedup(emb, 16, 0.5).collect()
    assert(rows.length == total, "one verdict row per vector")
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    // dropped rows carry the similarity that killed them, at/above the bar
    rows.foreach { r =>
      val (keep, sim) = (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))
      if (keep == 0L) assert(sim.exists(_ >= 0.5), r.toString)
      else assert(sim.isEmpty, r.toString)
    }
    // the smallest id of every cell is always kept (nothing precedes it)
    rows.groupBy(_.getLong(1)).foreach { case (_, cell) =>
      val first = cell.map(_.getLong(0)).min
      assert(byId(first)._2 == 1L, s"cell-first vector $first must be kept")
    }
    // greedy rule cross-check on a hand fixture: b dups a -> dropped; c is
    // a's dup too -> dropped even though it is also b's dup (chain); d far
    import spark.implicits._
    val hand = Seq(
      (1L, Array.fill(64)(1f)),
      (2L, Array.fill(64)(1f)),               // exact dup of 1
      (3L, (Array.fill(63)(1f) :+ 0.9f)),     // near dup of 1 and 2
      (4L, (Array.fill(32)(1f) ++ Array.fill(32)(-1f))) // orthogonal-ish
    ).toDF("vec_id", "embedding")
    val h = EmbeddingKnn.semanticDedup(hand, 1, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // cos(1,2)=1, cos(1,3)≈1 -> both dropped; cos(1,4)=0, cos(3,4)≈0 -> kept
    assert(h == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 1L),
      s"greedy keep-first: $h")
    // partitioning-invariant
    val re = EmbeddingKnn.semanticDedup(emb.repartition(7), 16, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(re == rows.map(r => r.getLong(0) -> r.getLong(2)).toMap)
  }

  test("minhashIncremental gates a batch against the corpus, not itself") {
    import graft.extra.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // corpus-internal dup
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dups corpus 1 AND 2
      (11L, "totally fresh content never seen before anywhere"),
      (12L, "totally fresh content never seen before anywhere") // batch-internal dup
    ).toDF("doc_id", "text")
    val r = Dedup.minhashIncremental(corpus, batch, "doc_id", "text", 0.9)
      .collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), Option(x.get(2)).map(_.asInstanceOf[Long])))).toMap
    // dup of two corpus docs at identical jac → tie-break to the smaller id
    assert(r(10L) == ((0L, Some(1L))), s"batch dup must be gated: $r")
    assert(r(11L) == ((1L, None)))
    // batch-internal duplicates are NOT this operator's job (next pass)
    assert(r(12L) == ((1L, None)))
    // corpus docs never appear in the verdict
    assert(r.keySet == Set(10L, 11L, 12L))
    // partitioning-invariant
    val re = Dedup.minhashIncremental(
      corpus.repartition(5), batch.repartition(3), "doc_id", "text", 0.9)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(re == r.map { case (k, v) => k -> v._1 })
  }

  test("indexed admission equals the plain form; index appends equal a full re-sign") {
    import graft.extra.Dedup
    val corpus = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .filter(col("doc_id") < 60)
    val batch = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .filter(col("doc_id") >= 60 && col("doc_id") < 100)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), Option(x.get(2)).map(_.asInstanceOf[Long])))).toMap
    val plain = asMap(
      Dedup.minhashIncremental(corpus, batch, "doc_id", "text", 0.8))
    val sigs = Dedup.bandSignatures(corpus, "doc_id", "text")
    val toks = Dedup.tokenArraysOf(corpus, "doc_id", "text")
    val indexed = asMap(Dedup.minhashIncrementalIndexed(
      sigs, toks, batch, "doc_id", "text", 0.8))
    assert(indexed == plain,
      "stored-artifact admission must equal the per-batch re-sign form")
    // incremental index maintenance: appending the admitted batch's
    // signature rows equals re-signing the grown corpus from scratch
    val admittedIds = plain.collect { case (id, (1L, _)) => id }.toSeq
    val admitted = batch.filter(col("doc_id").isin(admittedIds: _*))
    val appended = sigs.unionByName(
      Dedup.bandSignatures(admitted, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val resigned = Dedup.bandSignatures(
      corpus.select("doc_id", "text").unionByName(admitted.select("doc_id", "text")),
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(appended == resigned,
      "per-batch index increment must equal a full corpus re-sign")
  }

  test("annRecall: identical lists score 1.0, partial overlap counts hits") {
    import graft.extra.EmbeddingKnn
    val exact = Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L)).toDF("q_id", "c_id")
    val full = EmbeddingKnn.annRecall(exact, exact, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(full == Map(1L -> ((2L, 2L, 1.0)), 2L -> ((2L, 2L, 1.0))))
    val partial = Seq((1L, 3L), (2L, 9L)).toDF("q_id", "c_id")
    val p = EmbeddingKnn.annRecall(exact, partial, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(p == Map(1L -> ((1L, 0.5)), 2L -> ((0L, 0.0))))
  }

  test("recall floors: accelerated ANN generators never silently trade recall away") {
    import graft.extra.EmbeddingKnn
    val emb = Tables.load(spark, SparkTestSession.sf0001, "embeddings")
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = EmbeddingKnn.bruteForce(emb, qs, 5)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double = {
      val rows = EmbeddingKnn.annRecall(exact, approx, 5).collect()
      rows.map(_.getAs[Double]("recall")).sum / rows.length
    }
    // floors sit just under each generator's measured operating point on
    // this fixture (int8 1.0, ivfSeeded 0.56, signLsh2 0.44 — not a
    // uniform bar, LSH/PQ trade recall for probe cost BY DESIGN); the gate
    // exists so a future change that silently collapses a generator's
    // recall turns the suite red.
    //
    // PQ is gated differently: its md5-sampled 16-centroid codebook is
    // deliberately coarse, so exact@5 recall is near zero by construction
    // (measured 0.04) and would gate nothing. The meaningful floor is that
    // PQ's picks are genuinely NEAR — each top-5 pick should fall inside
    // the exact top-50 of a 500-vector corpus (top decile).
    val exact50 = EmbeddingKnn.bruteForce(emb, qs, 50)
    def pqNearness: Double = {
      val rows = EmbeddingKnn.annRecall(
        EmbeddingKnn.pqKnn(emb, qs, 5).select("q_id", "c_id"), exact50, 5)
        .collect()
      rows.map(_.getAs[Double]("recall")).sum / rows.length
    }
    val floors = Seq(
      ("int8_rerank", meanRecall(EmbeddingKnn.int8Rerank(emb, qs, 5)), 0.9),
      ("ivf_seeded", meanRecall(EmbeddingKnn.ivfSeeded(emb, qs, 5)), 0.4),
      ("sign_lsh2", meanRecall(EmbeddingKnn.signLsh(emb, qs, 5, bits = 2)), 0.3),
      ("pq8x8_in_top50", pqNearness, 0.4))
    val failures = floors.collect { case (n, r, f) if r < f => s"$n=$r<floor $f" }
    assert(failures.isEmpty,
      s"ANN recall under floor: ${failures.mkString(", ")}; " +
        s"all: ${floors.map { case (n, r, _) => s"$n=$r" }.mkString(", ")}")
    // the bucketed bitext swap has its own floor on mined-pair recovery
    // (multi-table banding measures 0.95 at sf0.01, 0.9+ here)
    val br = EmbeddingKnn.bitextRecall(
      EmbeddingKnn.bitextMine(emb), EmbeddingKnn.bitextMineLsh(emb))
      .collect().head
    assert(br.getAs[Double]("recall") >= 0.8,
      s"bitext bucketed-vs-exact pair recall collapsed: $br")
  }

  test("dedupSpans removes cross-doc spans, keeps intra-doc repeats and tails") {
    val df = Seq(
      // docs 1 and 2 share the 5-gram "a b c d e" at different offsets;
      // coverage extends w tokens from each duplicated gram start
      (1L, "x a b c d e y"),
      (2L, "a b c d e z"),
      // intra-document repetition only: the 5-gram repeats INSIDE doc 3 but
      // appears in no other doc -> document frequency 1 -> untouched
      (3L, "p q r s t p q r s t"),
      // shorter than w tokens -> no grams -> untouched
      (4L, "u v w")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed")))).toMap
    assert(got(1L) == (("x y", 7L, 5L)))
    assert(got(2L) == (("z", 6L, 5L)))
    assert(got(3L) == (("p q r s t p q r s t", 10L, 0L)))
    assert(got(4L) == (("u v w", 3L, 0L)))
  }

  test("dedupSpans overlapping duplicated grams cover the union of spans") {
    // "a b c d e f" in both docs: grams "a b c d e" and "b c d e f" are both
    // duplicated; doc 5's trailing "g" survives, everything covered goes
    val df = Seq(
      (5L, "a b c d e f g"),
      (6L, "h a b c d e f")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(got(5L) == "g")
    assert(got(6L) == "h")
  }

  test("dedupParagraphs keeps one copy per distinct paragraph, in order") {
    // paraTokens=3: doc 1 = [a b c][d e f], doc 2 repeats [a b c] then has
    // its own [x y z]; doc 3 repeats [a b c] TWICE (intra-doc dup also
    // dropped) plus a short tail [q]
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c a b c q")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(df, "doc_id", "text", paraTokens = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text")))).toMap
    assert(got(1L) == ((2L, 2L, "a b c d e f")))   // first owner keeps all
    assert(got(2L) == ((2L, 1L, "x y z")))         // shared para dropped
    assert(got(3L) == ((3L, 1L, "q")))             // both copies dropped
  }

  test("boilerplateLines removes every copy per source, keeps cross-source shares") {
    // lineTokens=3: "c k y" is boilerplate inside src A (docs 1 and 2 →
    // removed from BOTH, unlike dedupParagraphs' keep-one); doc 3 carries
    // the same line in src B where it's unique → kept. Intra-doc repeats
    // alone (doc 4) don't trigger: df counts distinct docs.
    val df = Seq(
      (1L, "c k y a a a", "A"),
      (2L, "c k y b b b", "A"),
      (3L, "c k y z z z", "B"),
      (4L, "m m m m m m", "B")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.boilerplateLines(df, "doc_id", "text", "source",
        lineTokens = 3, minDocs = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(got(1L) == ((2L, 1L, "a a a")))
    assert(got(2L) == ((2L, 1L, "b b b")))
    assert(got(3L) == ((2L, 0L, "c k y z z z")))
    assert(got(4L) == ((2L, 0L, "m m m m m m")))
  }

  test("bitextMine: planted translation pair wins with the hand-computed margin") {
    import graft.extra.EmbeddingKnn
    val r2 = (1.0 / math.sqrt(2)).toFloat
    // even labels = source pool, odd labels = target pool; a1 == b1 is the
    // planted pair; a3 is halfway between a1 and a2
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 0),   // a1
      (2L, Seq(0f, 1f, 0f, 0f), 0),   // a2
      (3L, Seq(r2, r2, 0f, 0f), 0),   // a3
      (11L, Seq(1f, 0f, 0f, 0f), 1),  // b1 = a1's "translation"
      (12L, Seq(0f, 0f, 1f, 0f), 1),  // b2 orthogonal to everything
      (13L, Seq(0f, 0f, 0f, 1f), 1)   // b3 orthogonal to everything
    ).toDF("vec_id", "embedding", "label")
    val got = EmbeddingKnn.bitextMine(emb, k = 2, minMarginPpm = 1000000L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // a1's neighborhood: cos(a1,b1)=1, others 0 -> fwd_sum = 1e6
    // b1's neighborhood: cos(a1,b1)=1, cos(a3,b1)=.707107 -> bwd_sum = 1707107
    // margin = 1e6 * 4 * 1e6 / 2707107 (truncating) = 1477601
    assert(got(1L) == ((11L, 1000000L, 4000000000000L / 2707107L)))
    // a2 has no positive-cosine target above margin 1.0 against b1's strong
    // neighborhood; a3's best is also b1 but margin stays below a1's
    assert(!got.contains(2L))
    got.get(3L).foreach { case (bid, _, margin) =>
      assert(bid == 11L && margin < got(1L)._3)
    }
  }

  test("dupSubstringSpans: hand-computed maximal spans, intra-doc control") {
    // minLen=3. d1/d2 share "c d e f" (4 tokens): duplicated 3-grams start
    // at d1 pos 3,4 -> one island, span_start=3, span_len=4+3-1... merged
    // end = 4+2=6, len=4. d3's "x y z ... x y z" repeats only WITHIN d3 ->
    // no cross-doc duplicate, no span. d4 shares "p q r" with d1's tail ->
    // exactly one 3-gram, span_len=3.
    val df = Seq(
      (1L, "a b c d e f g h p q r"),
      (2L, "z z c d e f w w"),
      (3L, "x y z k k k x y z"),
      (4L, "m n p q r s")).toDF("doc_id", "text")
    val got = Dedup.dupSubstringSpans(df, "doc_id", "text", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 3L, 4L), (1L, 9L, 3L),
      (2L, 3L, 4L),
      (4L, 3L, 3L)),
      s"got $got")
  }

  test("dupSubstringSpans selfRepeats: within-doc repeats flag, unique text does not") {
    // same fixture as the cross-doc control. selfRepeats=true is Lee et
    // al.'s >= 2 occurrences OVERALL: d3's "x y z" now flags (repeated
    // inside d3 at pos 1 and 7), the cross-doc spans stay, and unique
    // middles ("k k k", d4's "m n"/"s") still don't.
    val df = Seq(
      (1L, "a b c d e f g h p q r"),
      (2L, "z z c d e f w w"),
      (3L, "x y z k k k x y z"),
      (4L, "m n p q r s")).toDF("doc_id", "text")
    val got = Dedup.dupSubstringSpans(df, "doc_id", "text", 3,
        selfRepeats = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 3L, 4L), (1L, 9L, 3L),
      (2L, 3L, 4L),
      (3L, 1L, 3L), (3L, 7L, 3L),
      (4L, 3L, 3L)),
      s"got $got")
    // and the self criterion SUPERSETS the cross-doc default on real data
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .filter(col("doc_id") < 400)
    val cross = Dedup.dupSubstringSpans(docs, "doc_id", "text", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val self = Dedup.dupSubstringSpans(docs, "doc_id", "text", 5,
      selfRepeats = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every cross-doc duplicated token position is covered by a self span
    def covered(spans: Seq[(Long, Long, Long)]) =
      spans.flatMap { case (d, s, l) => (s until s + l).map(d -> _) }.toSet
    assert(covered(cross).subsetOf(covered(self)),
      "self-repeat coverage must superset cross-doc coverage")
  }

  test("dupSubstringSpans coverage equals dedupSpans removal at w = minLen") {
    // the spans report and the removal transform are twins: per doc the
    // span-length sum must equal dedupSpans' n_removed token count
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val spanSum = Dedup.dupSubstringSpans(docs, "doc_id", "text", 5)
      .groupBy("doc_id").agg(sum("span_len").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removed = Dedup.dedupSpans(docs, "doc_id", "text", 5, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(spanSum.nonEmpty, "fixture must contain cross-doc duplicates")
    removed.foreach { case (id, n) =>
      assert(spanSum.getOrElse(id, 0L) == n,
        s"doc $id: span sum ${spanSum.getOrElse(id, 0L)} != removed $n")
    }
  }

  test("appendAdmitted: grown-index verdicts equal a fresh plain build") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val corpus = docs.filter(col("doc_id") < 60).select("doc_id", "text")
    val batch1 = docs.filter(col("doc_id") >= 60 && col("doc_id") < 100)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val batch2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 140)
      .select((col("doc_id") + 20000L).as("doc_id"), col("text"))
    val key = "spec#append"
    Dedup.resetIndex(spark, key)
    // nothing memoized yet: maintenance is a no-op, not a silent build
    assert(!Dedup.appendAdmitted(batch1, "doc_id", "text", key))
    val (s1, t1) = Dedup.trainedIndex(corpus, "doc_id", "text", key)
    val v1 = Dedup.minhashIncrementalIndexed(s1, t1, batch1, "doc_id", "text", 0.8)
    val admitted1 = batch1.join(
      v1.filter(col("keep") === 1).select("doc_id"), "doc_id")
    assert(Dedup.appendAdmitted(admitted1, "doc_id", "text", key))
    // the memo now serves the GROWN index; batch 2's verdicts must equal a
    // from-scratch plain run against corpus ∪ admitted₁
    val (s2, t2) = Dedup.trainedIndex(corpus, "doc_id", "text", key)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), Option(x.get(2)).map(_.asInstanceOf[Long])))).toMap
    val grown = corpus.unionByName(admitted1)
    val got = asMap(
      Dedup.minhashIncrementalIndexed(s2, t2, batch2, "doc_id", "text", 0.8))
    val want = asMap(
      Dedup.minhashIncremental(grown, batch2, "doc_id", "text", 0.8))
    assert(got == want, "maintained index must judge like a fresh build")
    // O(batch) shape: the append stored a NEW segment and left the corpus
    // segment's frames untouched (reference identity — had the append
    // re-unioned and re-checkpointed the corpus, these would be new frames)
    val segs = Dedup.indexStore.segments(spark, key)
    assert(segs.size == 2, s"expected 2 segments after 1 append, got ${segs.size}")
    assert((segs.head._1 eq s1) && (segs.head._2 eq t1),
      "append must not re-materialize the pre-existing corpus segment")
    // the increment holds exactly the admitted batch's rows (8 bands/doc)
    val nAdm = admitted1.count()
    assert(segs(1)._1.count() == nAdm * 8 && segs(1)._2.count() == nAdm,
      "new segment must be exactly the admitted batch's projection rows")
    Dedup.resetIndex(spark, key)
  }

  test("appendAdmitted: segment compaction preserves verdicts and bounds width") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val corpus = docs.filter(col("doc_id") < 60).select("doc_id", "text")
    def slice(lo: Long, hi: Long, off: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
    val key = "spec#compact"
    Dedup.resetIndex(spark, key)
    Dedup.trainedIndex(corpus, "doc_id", "text", key)
    // maxSegments=2: the second append must trigger a fold to ONE segment
    assert(Dedup.appendAdmitted(slice(60, 80, 10000), "doc_id", "text", key,
      maxSegments = 2))
    assert(Dedup.indexStore.segmentCount(spark, key) == 2)
    assert(Dedup.appendAdmitted(slice(80, 100, 20000), "doc_id", "text", key,
      maxSegments = 2))
    assert(Dedup.indexStore.segmentCount(spark, key) == 1,
      "append past maxSegments must compact to a single segment")
    val (s, t) = Dedup.trainedIndex(corpus, "doc_id", "text", key)
    val batch = slice(100, 130, 30000)
    val grown = corpus.unionByName(slice(60, 80, 10000))
      .unionByName(slice(80, 100, 20000))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), Option(x.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(asMap(Dedup.minhashIncrementalIndexed(
        s, t, batch, "doc_id", "text", 0.8))
      == asMap(Dedup.minhashIncremental(grown, batch, "doc_id", "text", 0.8)),
      "compacted index must judge like a fresh build over the grown corpus")
    Dedup.resetIndex(spark, key)
  }

  test("dupSubstringSpansIndexed equals the batch sweep on corpus ∪ batch") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val corpus = docs.filter(col("doc_id") < 200).select("doc_id", "text")
    val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    def spans(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (self <- Seq(false, true)) {
      val got = spans(Dedup.dupSubstringSpansIndexed(
        Dedup.gramStats(corpus, "doc_id", "text", 5),
        batch, "doc_id", "text", 5, selfRepeats = self))
      val want = spans(Dedup.dupSubstringSpans(
        corpus.unionByName(batch), "doc_id", "text", 5, selfRepeats = self))
        .filter(s => batchIds.contains(s._1))
      assert(got == want,
        s"selfRepeats=$self: indexed probe must equal the batch sweep " +
          s"restricted to batch docs")
      assert(want.nonEmpty, "fixture must exercise duplicated spans")
    }
  }

  test("gram artifact maintenance: O(batch) appends, summing compaction") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
    val corpus = docs.filter(col("doc_id") < 100).select("doc_id", "text")
    def slice(lo: Long, hi: Long, off: Long) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select((col("doc_id") + off).as("doc_id"), col("text"))
    val key = "spec#grams"
    Dedup.resetIndex(spark, key)
    assert(!Dedup.appendGramAdmitted(slice(100, 120, 10000),
      "doc_id", "text", key), "no index memoized: append is a no-op")
    val g1 = Dedup.trainedGramIndex(corpus, "doc_id", "text", key, 5)
    assert(Dedup.appendGramAdmitted(slice(100, 120, 10000),
      "doc_id", "text", key, 5))
    // O(batch) shape: corpus segment untouched (reference identity)
    val segs = Dedup.gramStore.segments(spark, key)
    assert(segs.size == 2 && (segs.head eq g1),
      "append must store only a new batch segment")
    // the grown artifact probes exactly like a fresh build over the union
    val grown = corpus.unionByName(slice(100, 120, 10000))
    val batch2 = slice(120, 160, 20000)
    def spans(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaMemo = spans(Dedup.dupSubstringSpansIndexed(
      Dedup.trainedGramIndex(grown, "doc_id", "text", key, 5),
      batch2, "doc_id", "text", 5))
    val viaFresh = spans(Dedup.dupSubstringSpansIndexed(
      Dedup.gramStats(grown, "doc_id", "text", 5),
      batch2, "doc_id", "text", 5))
    assert(viaMemo == viaFresh && viaFresh.nonEmpty,
      "maintained gram artifact must probe like a fresh build")
    // compaction sums counts exactly (maxSegments=2 forces the fold)
    assert(Dedup.appendGramAdmitted(batch2, "doc_id", "text", key, 5,
      maxSegments = 2))
    assert(Dedup.gramStore.segmentCount(spark, key) == 1,
      "append past maxSegments must compact to one segment")
    val compacted = Dedup.gramStore.segments(spark, key).head.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fresh = Dedup.gramStats(grown.unionByName(batch2),
      "doc_id", "text", 5).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(compacted == fresh,
      "compacted per-gh counts must equal a from-scratch aggregate")
    // batchId exactly-once ledger: a REPLAYED append (same writer+batchId)
    // is a recorded no-op — additive counts would otherwise double; a new
    // batchId appends, the SAME batchId from a DIFFERENT writer appends
    // (per-checkpoint batch ids collide across shards), and resetIndex
    // clears the ledger with the artifact
    def servedGh() = Dedup.gramStore.segments(spark, key)
      .reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (gh, rs) =>
        gh -> ((rs.map(_._2._1).sum, rs.map(_._2._2).sum)) }
    val batch3 = slice(160, 170, 30000)
    assert(Dedup.appendGramAdmitted(batch3, "doc_id", "text", key, 5,
      batchId = Some(7L)))
    val postAppend = Dedup.gramStore.segmentCount(spark, key)
    val ghAfterAppend = servedGh()
    assert(Dedup.appendGramAdmitted(batch3, "doc_id", "text", key, 5,
      batchId = Some(7L)), "replay reports success (already applied)")
    assert(Dedup.gramStore.segmentCount(spark, key) == postAppend,
      "replayed batchId must not append a segment")
    assert(servedGh() == ghAfterAppend,
      "replayed batchId must leave the served per-gh counts unchanged")
    assert(Dedup.appendGramAdmitted(slice(170, 175, 40000), "doc_id", "text",
      key, 5, batchId = Some(8L)))
    assert(Dedup.gramStore.segmentCount(spark, key) == postAppend + 1)
    assert(Dedup.appendGramAdmitted(slice(175, 180, 50000), "doc_id", "text",
      key, 5, batchId = Some(7L), writerId = "shardB"),
      "same batchId from a different writer is a REAL batch, not a replay")
    assert(Dedup.gramStore.segmentCount(spark, key) == postAppend + 2,
      "a second writer's colliding batch id must still append")
    Dedup.resetIndex(spark, key)
    // after a reset + rebuild, the old stream's batch ids must not no-op
    Dedup.trainedGramIndex(corpus, "doc_id", "text", key, 5)
    val n0 = Dedup.gramStore.segmentCount(spark, key)
    assert(Dedup.appendGramAdmitted(batch3, "doc_id", "text", key, 5,
      batchId = Some(7L)), "fresh artifact, old id: must apply")
    assert(Dedup.gramStore.segmentCount(spark, key) == n0 + 1,
      "stale ledger entries must not survive resetIndex")
    Dedup.resetIndex(spark, key)
  }

  test("contaminationSpans: benchmark text flags with positions, " +
    "train-internal duplicates do not") {
    val leak = "alpha beta gamma delta epsilon" // the 5-token benchmark run
    val bench = Seq((100L, s"prefix words here $leak and a tail"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // leak at token positions 3..7 (two lead tokens, then the run)
      (1L, s"lead tokens $leak trailing words follow"),
      // train-internal 5-gram duplicate, absent from the benchmark: the
      // cross-set criterion must NOT flag it (dupSubstringSpans would)
      (2L, "one two three four five filler one two three four five"),
      (3L, "entirely clean document with no shared runs at all")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(docs, "doc_id", "text",
      Dedup.gramStats(bench, "doc_id", "text", 5), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, 5L)),
      s"exactly the planted benchmark span must flag: ${got.toSeq}")
    // sanity: the SELF sweep does flag doc 2's internal repeat — the two
    // criteria are genuinely different operators
    val self = Dedup.dupSubstringSpans(docs, "doc_id", "text", 5,
      selfRepeats = true).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(self.contains(2L))
  }

  test("projection bandSignatures equal the exploded minhashSignatures route") {
    val docs = Tables.load(spark, SparkTestSession.sf0001, "documents")
      .filter(col("doc_id") < 120)
    // the exploded oracle-shaped route: per-(doc, perm) minima regrouped
    // into band digests with the same lexicographic band-string order
    val exploded = Dedup.minhashSignatures(docs, "doc_id", "text")
      .withColumn("band", (col("perm") / 4).cast("int"))
      .groupBy("doc_id", "band")
      .agg(md5(concat_ws(",", sort_array(collect_list(
        concat_ws(":", col("perm"), col("minhash")))))).as("band_sig"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val projected = Dedup.bandSignatures(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(projected == exploded,
      "zero-exchange projection signing must be bit-identical to the exploded route")
  }

  test("bitextRecall single-pass shape: counts, hit algebra and edge cases") {
    import graft.extra.EmbeddingKnn
    // the round-17 rewrite reads each miner ONCE (union + keyed agg); this
    // locks its value algebra against the former join+broadcast-count form
    def pairs(ps: (Long, Long)*) = ps.toSeq.toDF("a_id", "b_id")
    val exact = pairs((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
    val approx = pairs((1L, 10L), (3L, 30L), (5L, 50L))
    val r = EmbeddingKnn.bitextRecall(exact, approx).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_exact") == 4L)
    assert(r.head.getAs[Long]("n_approx") == 3L)
    assert(r.head.getAs[Long]("n_hit") == 2L)
    assert(r.head.getAs[Double]("recall") == 0.5)
    // empty exact set: the audit emits NO row (the pre-rewrite shape's
    // groupBy over an empty joined frame)
    assert(EmbeddingKnn.bitextRecall(pairs(), approx).collect().isEmpty)
    // empty approx set: one row, zero hits, recall 0
    val r2 = EmbeddingKnn.bitextRecall(exact, pairs()).collect()
    assert(r2.length == 1 && r2.head.getAs[Long]("n_approx") == 0L &&
      r2.head.getAs[Long]("n_hit") == 0L &&
      r2.head.getAs[Double]("recall") == 0.0)
  }
}
