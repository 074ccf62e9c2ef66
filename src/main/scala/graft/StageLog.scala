package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Diagnostic stage-timing listener, shared by the Bench/Explain
  * mains and enabled with GRAFT_STAGES=1: one line per completed stage
  * (wall ms, task/record counts) — pinpoints hot or under-parallelized
  * stages without the Spark UI.
  */
object StageLog {

  /** Per-query summed executor stage time, for the bench's co-tenant-immune
    * observable (VERDICT r11 "What's wrong #2": on this microVM the same
    * query's WALL clock swings 3–13× with co-tenant load, which repeatedly
    * read as regressions; summed executor run/CPU time tracks the work the
    * query actually did and is stable across such draws).
    *
    * Usage: one aggregator per session; `start(name)` before a query's
    * action, `finish(sc)` after — finish drains the async listener bus so a
    * late stage-completion can't be charged to the next query, then returns
    * (executorRunTime ms, executorCpuTime ms) summed over the stages that
    * completed while `name` was current. Queries run sequentially on the
    * bench driver, so current-query attribution is exact.
    */
  final class QueryStageAgg(sc: SparkContext) extends SparkListener {
    private val current = new java.util.concurrent.atomic.AtomicReference[String]
    private var runMs = 0L
    private var cpuMs = 0L
    sc.addSparkListener(this)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (current.get != null) synchronized {
        runMs += e.stageInfo.taskMetrics.executorRunTime
        cpuMs += e.stageInfo.taskMetrics.executorCpuTime / 1000000L
      }
    def start(name: String): Unit = {
      // drain BEFORE resetting too: stage completions from untimed work just
      // before this block (a warmup request, a trainStep reset() rebuild)
      // can still be in flight on the async bus and would otherwise be
      // charged to this query's first run (ADVICE r12).
      org.apache.spark.graft.ListenerDrain.drain(sc)
      synchronized { runMs = 0L; cpuMs = 0L; current.set(name) }
    }
    def finish(): (Long, Long) = {
      org.apache.spark.graft.ListenerDrain.drain(sc)
      synchronized { current.set(null); (runMs, cpuMs) }
    }
  }

  /** Driver planning milliseconds per bench line: the analysis,
    * optimization and planning phases Spark's `QueryPlanningTracker`
    * records for every query the line executes, summed over them. Reported
    * by a `QueryExecutionListener`, which Spark calls from the listener bus
    * like the stage events above. Only executed queries report: the eager
    * analyses of intermediate DataFrames, built on the way to the executed
    * one, are not in any tracker this sees.
    */
  final class QueryPlanAgg(spark: org.apache.spark.sql.SparkSession)
      extends org.apache.spark.sql.util.QueryExecutionListener {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    private val phases = Seq(ANALYSIS, OPTIMIZATION, PLANNING)
    private val ms = scala.collection.mutable.Map.empty[String, Long]
    private var on = false
    spark.listenerManager.register(this)
    private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      synchronized {
        if (on) for (p <- phases; s <- qe.tracker.phases.get(p))
          ms(p) = ms.getOrElse(p, 0L) + s.durationMs
      }
    override def onSuccess(f: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           ns: Long): Unit = record(qe)
    override def onFailure(f: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           e: Exception): Unit = record(qe)
    def start(): Unit = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      synchronized { ms.clear(); phases.foreach(ms(_) = 0L); on = true }
    }
    def finish(): Map[String, Long] = {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      synchronized { on = false; ms.toMap }
    }
  }

  def attachIfEnabled(sc: SparkContext): Unit =
    if (sys.env.contains("GRAFT_STAGES"))
      sc.addSparkListener(new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val wall = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
          println(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%3d " +
            f"wall=${wall.getOrElse(-1L)}%6d ms " +
            f"in=${si.taskMetrics.inputMetrics.recordsRead}%9d " +
            f"sh_r=${si.taskMetrics.shuffleReadMetrics.recordsRead}%9d " +
            f"sh_w=${si.taskMetrics.shuffleWriteMetrics.recordsWritten}%9d  " +
            si.name.takeWhile(_ != '\n').take(60))
        }
      })
}
