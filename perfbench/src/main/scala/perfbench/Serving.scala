package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.ingest.Catalog
import graft.search.{CombinedScorer, Sketches}

/** What one request did. Times are seconds on the workload's clock. */
final case class Done(req: Req, start: Double, end: Double,
                      answer: Option[Seq[String]], comparable: Boolean,
                      version: Int) {
  def ok: Boolean = answer.isDefined
  def ms: Double = (end - start) * 1000
}

/** A publish of one new dataset version, start to first answer from it. */
final case class Published(table: String, start: Double, searchable: Double,
                           ok: Boolean) {
  def seconds: Double = searchable - start
}

/** One measured phase: the clients' requests and answers/s, and the
  * publishes. Epoch-millisecond bounds select its trace.
  */
final case class Phase(requests: Seq[Done], perS: Double, publishes: Seq[Published],
                       startMs: Long, endMs: Long) {
  def duringPublish: Seq[Done] =
    requests.filter(d => publishes.exists(p => d.start < p.searchable && d.end > p.start))
}

/** The `serve_publish` workload.
  *
  * Set-up builds the sketch index and the metadata BM25 artifacts (three
  * times; the last build serves). In the measured phase `clients - 1`
  * closed-loop clients send "find similar datasets" requests while a
  * publisher, back to back, writes a new version of a star table and runs
  * `Catalog.publish` -> `Catalog.profilePending` ->
  * `Sketches.refreshDataset`, then asks for an answer from that dataset.
  * Client and publisher threads together number `clients`, the session's
  * cores.
  *
  * The load is a closed loop: on a 4-core box one request takes about a
  * second, so a Poisson open loop at half of capacity gives too few
  * requests per run for a steady median, and its queueing moved the median
  * by 15% between seeds.
  */
final class Serving(spark: SparkSession, tracer: Tracer, lake: String,
                    work: String, seed: Long, clients: Int,
                    versions: Seq[(String, String)]) {
  private val clock0 = System.nanoTime()
  def now: Double = (System.nanoTime() - clock0) / 1e9

  /** Publishes in the measured phase; each of a traced run's three
    * shorter phases has one.
    */
  val publishes = 2
  private val catalogDir = s"$work/catalog"
  private val sketchDir = s"$work/sketch_store"

  // A request is compared with its single-threaded re-issue only when no
  // publish overlapped it and the index it saw is the final one.
  @volatile private var version = 0
  @volatile private var publishBusy = false
  private var nextVersion = 0

  lazy val gen: RequestGen = {
    val rows = tracer.span("request_columns", "setup") {
      Sketches.cachedAll(spark, lake).select("dataset_id", "col_name").distinct().collect()
    }
    new RequestGen(seed, rows.groupBy(_.getString(0))
      .map { case (d, rs) => d -> rs.map(_.getString(1)).toSeq.sorted })
  }

  // ---- set-up ----

  /** Publish and profile the datasets the publisher rotates through: the
    * catalogue the measured publishes append to.
    */
  def bootstrapCatalog(): Double = tracer.span("catalog_bootstrap", "catalog_bootstrap") {
    val t0 = now
    val tables = versions.map(_._1).distinct
    Catalog.publish(Catalog.fixtureDescriptors(spark, lake, tables), catalogDir)
    Catalog.profilePending(spark, catalogDir, lake, sketchDir)
    now - t0
  }

  /** Drop and rebuild the index and metadata artifacts; returns seconds. */
  def setupOnce(): Double = tracer.span("setup", "setup") {
    Sketches.reset(spark, lake)
    CombinedScorer.invalidateMetadata(spark, lake)
    val t0 = now
    tracer.span("Sketches.train", "train")(Sketches.train(spark, lake))
    tracer.span("CombinedScorer.meta_build", "meta_build") {
      CombinedScorer.datasetMetadata(spark, lake).count()
      CombinedScorer.metaTermFreqs(spark, lake)
      CombinedScorer.metaStats(spark, lake)
    }
    now - t0
  }

  /** One request per dataset, `clients` at a time. */
  def warm(): Unit = {
    val pool = Executors.newFixedThreadPool(clients)
    try gen.colsOf.keys.toSeq.sorted.map { d =>
      pool.submit(new Callable[Unit] {
        def call(): Unit = tracer.span("warm", "warm")(Req("ui", d, (1, 1)).run(spark, lake))
      })
    }.foreach(_.get())
    finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
  }

  // ---- measured phase ----

  private def issue(r: Req): Done = {
    val (v0, b0) = (version, publishBusy)
    val start = now
    val answer =
      try Some(tracer.span(s"${r.kind}:${r.dataset}", "request")(r.run(spark, lake)))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] request ${r.key} failed: $e"); None
      }
    Done(r, start, now, answer,
      comparable = !b0 && !publishBusy && v0 == version, version = v0)
  }

  /** Closed loop: `n` clients, each sending its next request when the
    * previous one returns, until `done` holds. Returns each client's
    * requests and the time from the start to its last answer, so the
    * wind-down after `done` does not count.
    */
  def closedLoop(n: Int, done: () => Boolean): Seq[(Seq[Done], Double)] = {
    val pool = Executors.newFixedThreadPool(n)
    val t0 = now
    try (0 until n).map { _ =>
      pool.submit(new Callable[(Seq[Done], Double)] {
        def call(): (Seq[Done], Double) = {
          val out = scala.collection.mutable.ArrayBuffer.empty[Done]
          while (!done()) out += issue(gen.next())
          (out.toSeq, out.lastOption.map(_.end - t0).getOrElse(0.0))
        }
      })
    }.map(_.get())
    finally { pool.shutdownNow(); pool.awaitTermination(120, TimeUnit.SECONDS) }
  }

  /** Write the next version of a star table, publish it and make it
    * searchable; the answer from the refreshed dataset ends the publish.
    */
  def publishOnce(): Published = {
    val (table, file) = versions(nextVersion % versions.size)
    nextVersion += 1
    val start = now
    var ok = false
    try tracer.span(s"publish:$table", "publish") {
      publishBusy = true
      try {
        tracer.span("lake.write", "lake_write") {
          val tmp = Paths.get(s"$lake/.$table.parquet.tmp")
          Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, Paths.get(s"$lake/$table.parquet"),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          // the engine's plan memo must forget the replaced file's listing
          Tables.invalidate(spark, lake, table)
        }
        tracer.span("Catalog.publish", "catalog_publish") {
          Catalog.publish(Catalog.fixtureDescriptors(spark, lake, Seq(table)), catalogDir)
        }
        tracer.span("Catalog.profilePending", "profile_pending") {
          Catalog.profilePending(spark, catalogDir, lake, sketchDir)
        }
        tracer.span("Sketches.refreshDataset", "refresh") {
          Sketches.refreshDataset(spark, lake, table)
        }
        version += 1
      } finally publishBusy = false
      ok = tracer.span(s"probe:$table", "probe") {
        Req("ui", table, (1, 1)).run(spark, lake).nonEmpty
      }
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] publish of $table failed: $e")
    }
    Published(table, start, now, ok)
  }

  val requesters: Int = math.max(1, clients - 1)

  /** One measured phase: the requesters' closed loop runs until the
    * publisher has made `count` versions searchable and `seconds` have
    * passed.
    */
  def measure(seconds: Double, count: Int): Phase = tracer.span("measure", "measure") {
    val ms0 = System.currentTimeMillis()
    val t0 = now
    val pubs = new ConcurrentLinkedQueue[Published]()
    val publisher = new Thread(() => (1 to count).foreach(_ => pubs.add(publishOnce())),
      "perfbench-publisher")
    publisher.start()
    val loops =
      try closedLoop(requesters, () => !publisher.isAlive && now >= t0 + seconds)
      finally publisher.join()
    // answers per second: per client, its answers over its time
    val perS = loops.map { case (ds, t) => if (t > 0) ds.count(_.ok) / t else 0.0 }.sum
    Phase(loops.flatMap(_._1), perS, pubs.asScala.toSeq, ms0, System.currentTimeMillis())
  }

  // ---- checks ----

  /** Re-issue a seeded sample of the requests single-threaded and compare
    * with the answers they got under load. Requests that overlapped a
    * publish or saw an older index do not qualify; the sample is topped up
    * with concurrent requests sent after the last publish.
    */
  def reissueCheck(done: Seq[Done], n: Int): (Int, Seq[String], Seq[Done]) = {
    val pool = done.filter(d => d.ok && d.comparable && d.version == version)
    val rnd = new java.util.Random(seed ^ 0x5eed)
    val tail = if (pool.size >= n) Nil else {
      val ex = Executors.newFixedThreadPool(clients)
      try (pool.size until n).map { _ =>
        val r = gen.next()
        ex.submit(new Callable[Done] {
          def call(): Done = tracer.span("check:concurrent", "check")(issue(r))
        })
      }.map(_.get())
      finally { ex.shutdown(); ex.awaitTermination(60, TimeUnit.SECONDS) }
    }
    val sample = scala.util.Random.javaRandomToRandom(rnd).shuffle(pool).take(n) ++
      tail.filter(_.ok)
    val bad = sample.flatMap { d =>
      val again = tracer.span("check:reissue", "check")(d.req.run(spark, lake))
      if (again == d.answer.get) None
      else Some(s"${d.req.key}: concurrent ${d.answer.get.mkString(";")} vs single ${again.mkString(";")}")
    }
    (sample.size, bad, tail)
  }

  /** For each published dataset, the engine's query-side memo
    * (`Sketches.queryLocal`) must hold the same rows as its sketch index.
    * A request that read the index before a refresh and filled the memo
    * after the refresh cleared it would leave the old version's rows there.
    * Returns failure messages.
    */
  def memoCheck(tables: Seq[String]): Seq[String] = tracer.span("check:memo", "check") {
    tables.distinct.flatMap { t =>
      val memo = Sketches.queryLocal(spark, lake, t).collect().map(_.toString).toSet
      val index = Sketches.cachedAll(spark, lake)
        .filter(org.apache.spark.sql.functions.col("dataset_id") === t)
        .collect().map(_.toString).toSet
      if (memo == index) None
      else Some(s"$t: ${(memo -- index).size} of the memo's ${memo.size} rows are not in the index")
    }
  }

  /** The engine's answer to one of `SparkEntry.queries`. */
  def answer(query: String): Seq[Seq[Any]] = tracer.span(s"check:$query", "check") {
    try graft.SparkEntry.queries(query)(spark, lake).collect().toSeq.map(_.toSeq)
    finally graft.Caching.release()
  }
}
