package graft.extra

import graft.Caching
import graft.functions.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Lloyd's k-means over the embeddings table — the iterative refinement the
  * seeded-IVF family (EmbeddingKnn.ivfAssign) deliberately skips. Real
  * curation pipelines run it for topic balancing and SemDeDup-style
  * cluster-local dedup, where a few Lloyd iterations visibly tighten cells
  * over a raw pseudo-random sample (FAISS's coarse-quantizer training is
  * exactly this loop).
  *
  * Everything is exact integer arithmetic so the result is bit-identical
  * across engines and partitionings:
  *
  *  - vectors are quantized once to 1e-6 micros (`array<long>`);
  *  - the assignment metric is Σ(Δmicros)² via the native codegen
  *    [[graft.functions.LongL2Squared]] expression — no floats, so the
  *    argmin has no rounding boundary; ties break on cluster id;
  *  - centroid updates are per-dimension `sum DIV count` — integer
  *    truncating division (toward zero, mirrored in the oracle with a
  *    sign-adjusted `//` since DuckDB's `//` floors);
  *  - init centroids are the k vectors with the smallest
  *    `(md5(vec_id), vec_id)` — the same content-independent seed rule as
  *    ivfAssign, numbered 1..k in that order.
  *
  * Scale shape (100 TB): the quantized projection is pinned once
  * (Caching.temp); each iteration is one broadcast of the k×dim centroid
  * table against that pin (map-side argmin, no shuffle of the corpus) plus
  * one (cluster, dim)-keyed aggregate with map-side combine — k·dim rows
  * out per iteration regardless of corpus size. Empty clusters simply drop
  * out of the groupBy (both engines agree); k only shrinks, never renames.
  *
  * Reference anchor: the reference has no clustering op — its nearest
  * analogue is the R-tree cell grouping in search/index.py; this is the
  * embedding-space generalization a training-data pipeline needs.
  */
object Clustering {

  /** `array<float> → array<long>` micro quantization (round half-up at 1e-6,
    * via double — identical in DuckDB as
    * `list_transform(CAST(v AS DOUBLE[]), x -> CAST(round(x*1000000) AS BIGINT))`).
    */
  private def microVec(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(1000000)).cast("long"))

  /** (vec_id, cluster, d2) — final Lloyd assignment after `iters` centroid
    * updates; `d2` is the exact integer micro² distance to the owning
    * centroid. `iters = 0` is pure seeded assignment (the ivfAssign
    * baseline in micro metric).
    */
  /** Single-pass centroid-update Aggregator: element-wise integer vector
    * sum + count per cluster in one flat buffer, finish = truncating
    * per-dim mean (Scala `Long./` truncates toward zero exactly like
    * Spark's DIV, so the result is bit-identical to the declarative
    * posexplode twin — spec-locked). Replaces a d×-row explosion plus a
    * (cluster, dim)-keyed hash aggregate with k buffer merges.
    */
  private class VectorSumTruncMean
    extends org.apache.spark.sql.expressions.Aggregator[
      Array[Long], (Array[Long], Long), Array[Long]] {
    def zero: (Array[Long], Long) = (Array.empty, 0L)
    def reduce(b: (Array[Long], Long), v: Array[Long]): (Array[Long], Long) = {
      val s = if (b._1.nonEmpty) b._1 else new Array[Long](v.length)
      var i = 0
      while (i < v.length) { s(i) += v(i); i += 1 }
      (s, b._2 + 1)
    }
    def merge(a: (Array[Long], Long), b: (Array[Long], Long)): (Array[Long], Long) =
      if (a._1.isEmpty) b else if (b._1.isEmpty) a
      else {
        var i = 0
        while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
        (a._1, a._2 + b._2)
      }
    def finish(b: (Array[Long], Long)): Array[Long] =
      if (b._2 == 0) b._1 else b._1.map(_ / b._2)
    def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
      org.apache.spark.sql.Encoders.scalaLong)
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
    kmeansAssignImpl(emb, k, iters, aggUpdate = true)

  /** `aggUpdate=false` runs the declarative posexplode centroid update —
    * kept as the A/B twin (PLANS.md round 10) and the oracle-shaped
    * reference; ClusteringSpec compares the two.
    */
  private[graft] def kmeansAssignImpl(emb: DataFrame, k: Int, iters: Int,
                                      aggUpdate: Boolean): DataFrame = {
    val e = Caching.temp(
      emb.select(col("vec_id"), microVec(col("embedding")).as("vm")))

    // k rows → the unpartitioned row_number window is bounded by construction
    val seedOrder = Window.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val init = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(row_number().over(seedOrder).cast("long").as("cluster"),
        col("vm").as("cv"))

    // Assignment is a PROJECTION argmin, not a window: the k centroids ride
    // one broadcast row as an array<struct>, and per vector the owning
    // cluster is array_min over (d2, cluster) structs — lexicographic
    // struct ordering IS the (d2 asc, cluster asc) tie rule, so the output
    // is identical to a row_number window but with ZERO exchange. The
    // round-10 window shape hash-shuffled N×k rows per Lloyd iteration
    // (×nlist blowup of the corpus at IVF scale); this moves nothing.
    def assign(cent: DataFrame): DataFrame = {
      val centArr = cent.agg(collect_list(
        struct(col("cluster"), col("cv"))).as("cents"))
      e.crossJoin(broadcast(centArr))
        .withColumn("best", array_min(transform(col("cents"), c =>
          struct(VectorOps.longL2Sq(col("vm"), c("cv")).as("d2"),
            c("cluster").as("cluster")))))
        // empty-centroid guard: collect_list's agg row always EXISTS, so
        // k=0 would otherwise emit one NULL-cluster row per vector where
        // the old window form produced zero rows — keep that contract
        .filter(col("best").isNotNull)
        .select(col("vec_id"), col("best.cluster").as("cluster"),
          col("best.d2").as("d2"), col("vm"))
    }

    // per-dimension integer mean; rebuild the centroid array ordered by pos
    def updateDeclarative(asg: DataFrame): DataFrame =
      asg.select(col("cluster"), posexplode(col("vm")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .withColumn("m", expr("s DIV n"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m")).as("cv"))

    def updateAgg(asg: DataFrame): DataFrame = {
      val agg = udaf(new VectorSumTruncMean)
      asg.groupBy("cluster").agg(agg(col("vm")).as("cv"))
    }

    def update(asg: DataFrame): DataFrame =
      if (aggUpdate) updateAgg(asg) else updateDeclarative(asg)

    var cent = init
    for (_ <- 1 to iters) cent = update(assign(cent))
    assign(cent).select("vec_id", "cluster", "d2")
  }

  /** Per-cluster report over the final assignment: size, exact integer mean
    * d2 (truncating), and the cluster's medoid-ish tightest member — the
    * rollup a mixture planner reads.
    */
  def kmeansSummary(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val a = kmeansAssign(emb, k, iters)
    a.groupBy("cluster").agg(
      count(lit(1)).as("n_vecs"),
      expr("sum(d2) DIV count(1)").as("mean_d2"),
      min(struct(col("d2"), col("vec_id"))).getField("vec_id").as("tightest"))
  }

  /** Cluster-balanced diversity sample (the D4 / SSL-prototypes pruning
    * direction): each k-means cell gets a quota ∝ √(cell size) of a `total`
    * budget — the [[CorpusOps.corpusMixTemperature]] α=0.5 rule applied in
    * embedding space, so one dominant topic cannot monopolize the drop —
    * and WITHIN a cell selection is farthest-from-centroid first (d2 DESC):
    * near-centroid members are the cluster's redundant prototypes, the
    * boundary members carry its diversity. Ties break on vec_id; quotas are
    * integer `total·w DIV Σw` on IEEE-exact √·1e6 micro weights, so the
    * selected set is engine- and partitioning-exact.
    *
    * Scale shape: the assignment is pinned once (it feeds both the size
    * aggregate and the selection), quotas are a k-row broadcast, and the
    * ranking window partitions on the cluster — no global sort, no
    * single-partition window at any corpus size.
    *
    * @return (vec_id, cluster, d2, quota, rk) — the selected rows only
    */
  def clusterSample(emb: DataFrame, total: Int = 100, k: Int = 8,
                    iters: Int = 3): DataFrame = {
    val asg = Caching.temp(kmeansAssign(emb, k, iters))
    val weighted = asg.groupBy("cluster").agg(count(lit(1)).as("n_vecs"))
      .withColumn("w", round(sqrt(col("n_vecs").cast("double")) * 1e6).cast("long"))
    val tot = weighted.agg(sum("w").as("tot"))
    val quotas = weighted.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"CAST(($total * w) DIV tot AS BIGINT)"))
      .select("cluster", "quota")
    val byCell = Window.partitionBy("cluster")
      .orderBy(col("d2").desc, col("vec_id").asc)
    asg.join(broadcast(quotas), "cluster")
      .withColumn("rk", row_number().over(byCell).cast("long"))
      .filter(col("rk") <= col("quota"))
      .select("vec_id", "cluster", "d2", "quota", "rk")
  }
}
