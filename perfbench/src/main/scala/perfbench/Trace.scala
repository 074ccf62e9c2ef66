package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the benchmark: a request, a publish, a micro-batch
  * drain, a set-up step. Times are epoch milliseconds (the clock Spark's
  * listener events use) plus a nanosecond duration.
  */
final class Span(val id: Long, val name: String, val kind: String,
                 val parent: Long, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = 0L
  @volatile var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Everything the listener learned about one Spark job. */
final class JobRec(val jobId: Int, val span: Long, val batch: Long,
                   val module: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  var stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, resultBytes, outputBytes = 0L
  def durMs: Long = endMs - startMs
}

/** Spans around every call the benchmark makes into a layer, and a
  * SparkListener that charges each job to the span whose thread issued it
  * (the span id travels as a thread-local job property, which Spark copies
  * into broadcast and subquery threads) and to the module of the job's call
  * site (`collect at Bm25.scala:120` is charged to `Bm25`).
  *
  * While tracing is off, `span` only runs its body: no listener is attached
  * and no job property is set.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, Int]

  @volatile private var enabled = false

  /** Turn tracing on or off; call only while no benchmark work is running. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    drain()
    if (on) sc.addSparkListener(this) else sc.removeSparkListener(this)
    enabled = on
  }

  def span[A](name: String, kind: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name, kind,
        if (parent == null) 0L else parent.id,
        System.currentTimeMillis(), System.nanoTime())
      spans.add(s)
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graft.ListenerDrain.drain(sc)

  private def moduleOf(callSite: String): String = {
    // "<op> at <File>.scala:<line>" -> "<File>"
    val at = callSite.lastIndexOf(" at ")
    val file = if (at < 0) callSite else callSite.substring(at + 4)
    val dot = file.indexOf('.')
    if (dot > 0) file.substring(0, dot) else file
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val resultStage = e.stageInfos.maxBy(_.stageId)
    val rec = new JobRec(e.jobId,
      prop(SpanKey).map(_.toLong).getOrElse(0L),
      prop(BatchKey).map(_.toLong).getOrElse(-1L),
      moduleOf(resultStage.name), e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (j <- stageJob.get(si.stageId); rec <- jobs.get(j)) rec.synchronized {
      val m = si.taskMetrics
      rec.stages += 1
      rec.tasks += si.numTasks
      if (m != null) {
        rec.runMs += m.executorRunTime
        rec.cpuMs += m.executorCpuTime / 1000000L
        rec.gcMs += m.jvmGCTime
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.resultBytes += m.resultSize
        rec.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // ---- queries over the recorded trace ----

  def spansOf(kind: String): Seq[Span] =
    spans.asScala.filter(s => s.kind == kind && s.endNs > 0).toSeq

  /** Spans below `root` (itself included), by parent links. */
  def subtree(root: Span): Set[Long] = {
    val all = spans.asScala.toSeq
    var ids = Set(root.id)
    var grew = true
    while (grew) {
      val next = ids ++ all.filter(s => ids.contains(s.parent)).map(_.id)
      grew = next.size > ids.size
      ids = next
    }
    ids
  }

  /** The span a job is charged to: the span its thread carried, if that
    * span was open when the job started. Otherwise the job came from a
    * thread the engine started without copying job properties (or one that
    * inherited a span that has since closed), and it is charged to the open
    * micro-batch span, which is unambiguous because micro-batches run one at
    * a time. 0 = unattributed.
    */
  def spanOf(j: JobRec): Long = {
    val byId = spanIndex
    def open(id: Long) = byId.get(id).exists(s =>
      s.startMs <= j.startMs && (s.endMs == 0 || j.startMs <= s.endMs))
    if (j.span != 0 && open(j.span)) j.span
    else byId.values.find(s => s.kind == "batch" && open(s.id)).map(_.id).getOrElse(0L)
  }

  private def spanIndex: Map[Long, Span] = spans.asScala.map(s => s.id -> s).toMap

  def jobsUnder(root: Span): Seq[JobRec] = {
    val ids = subtree(root)
    jobs.values.filter(j => ids.contains(spanOf(j))).toSeq
  }

  /** Jobs charged to no span and to no streaming micro-batch. */
  def unattributed: Int = jobs.values.count(j => j.batch < 0 && spanOf(j) == 0)

  /** Milliseconds of `root`'s wall time covered by at least one of its jobs. */
  def busyMs(root: Span): Long = {
    val iv = jobsUnder(root).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total
  }

  def spansJson: Iterator[String] = spans.asScala.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":"${s.kind}","start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${(s.endNs - s.startNs) / 1e6}}"""
  } ++ jobs.values.toSeq.sortBy(_.jobId).iterator.map { j =>
    s"""{"job":${j.jobId},"span":${spanOf(j)},"batch":${j.batch},"module":${Json.str(j.module)},"start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages},"tasks":${j.tasks},"cpu_ms":${j.cpuMs},"shuffle_write":${j.shuffleWrite},"spill":${j.spill}}"""
  }
}

/** Minimal JSON writing for flat result objects. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
