package perfbench

import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.search.CombinedScorer

/** One "find similar datasets" request.
  *
  * `ui` and `api` are `CombinedScorer.search` at the UI defaults
  * (M100/L50/k15) and the API defaults (M30/L10/k5); `weighted` is an
  * `Engine.search` request from the UI's weight-editing loop: a column
  * subset with column weights, metadata field weights and a
  * content/metadata split.
  */
final case class Req(kind: String, dataset: String, split: (Int, Int),
                     cols: Seq[(String, Int)] = Nil,
                     fields: Seq[(String, Int)] = Nil) {
  def key: String =
    s"$kind|$dataset|${split._1}:${split._2}|${cols.mkString(",")}|${fields.mkString(",")}"

  /** Run the request and return its ranked answer, one string per row. */
  def run(spark: SparkSession, dir: String): Seq[String] = {
    val df = kind match {
      case "ui" => CombinedScorer.search(spark, dir, dataset, 100, 50, 15,
        split._1.toDouble, split._2.toDouble)
      case "api" => CombinedScorer.search(spark, dir, dataset, 30, 10, 5,
        split._1.toDouble, split._2.toDouble)
      case "weighted" => Engine.search(spark, dir, Engine.SearchRequest(dataset,
        Engine.ContentSpec(cols.map { case (c, w) => c -> w.toDouble }.toMap,
          split._1.toDouble),
        Engine.MetadataSpec(fields.map { case (f, w) => f -> w.toDouble }.toMap,
          split._2.toDouble)))
    }
    try df.select("c_dataset", "content_score", "metadata_score", "overall_score")
      .collect().map(_.mkString("|")).toSeq
    finally graft.Caching.release()
  }
}

/** Seeded request mix over every dataset of the sketch index: `ui`, `api`
  * and `weighted` requests for every dataset, in a seeded order that
  * repeats, so every run sends the same mix however few requests it gets
  * through. Content/metadata splits, column subsets and weights are drawn
  * per request; `ui`/`api` splits come from seven, so exact repeats stay
  * rare.
  */
final class RequestGen(seed: Long, val colsOf: Map[String, Seq[String]]) {
  private val rnd = new java.util.Random(seed)
  private val splits = Seq((1, 1), (2, 1), (1, 2), (3, 1), (1, 3), (3, 2), (2, 3))
  private val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(
    for (ds <- colsOf.keys.toSeq.sorted; kind <- Seq("ui", "api", "weighted"))
      yield (kind, ds))
  private var i = 0

  def next(): Req = synchronized {
    val (kind, ds) = order(i % order.size)
    i += 1
    val split = splits(rnd.nextInt(splits.size))
    if (kind != "weighted") Req(kind, ds, split)
    else {
      val all = colsOf(ds)
      val n = 1 + rnd.nextInt(math.min(3, all.size))
      val cols = scala.util.Random.javaRandomToRandom(rnd).shuffle(all).take(n)
        .sorted.map(c => c -> (1 + rnd.nextInt(4)))
      val fields = Seq("title", "keywords", "description")
        .map(f => f -> rnd.nextInt(4)).filter(_._2 > 0)
      Req("weighted", ds, split, cols, if (fields.isEmpty) Seq("title" -> 1) else fields)
    }
  }
}
