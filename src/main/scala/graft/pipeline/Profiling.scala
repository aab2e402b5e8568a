package graft.pipeline

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Profiling/audit hooks — the analog of the reference's dask
  * `Profiler → bokeh HTML` wiring (cli.py:35-42), re-expressed over
  * Spark's two listener surfaces:
  *
  *   - [[JobCounter]] (a `SparkListener`): counts jobs/stages and sums
  *     shuffle bytes. [[Profiling.measure]] wraps a block with one and
  *     returns the delta — which also makes claims like "the valid-data
  *     check runs ONE job for any number of areas" or "one action per
  *     sink" machine-checkable in tests instead of manually observed.
  *   - [[AuditListener]] (a `QueryExecutionListener`): one
  *     [[ActionAudit]] per completed ACTION (sink write, collect) with
  *     the action name, wall time, and the executed plan's exchange count
  *     — its `jsonLine` is the per-action line of the run's audit report.
  *
  * (The Spark UI covers interactive profiling; these hooks exist for
  * headless runs — GraftSession disables the UI — and for asserting job
  * counts in specs.) */
object Profiling {

  final case class Snapshot(jobs: Int, stages: Int,
      shuffleWriteBytes: Long, shuffleReadBytes: Long)

  /** Job/stage/shuffle counter. Listener callbacks are async (the
    * listener bus), so readers must [[drain]] before trusting totals —
    * [[Profiling.measure]] does. */
  final class JobCounter extends SparkListener {
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    private val shuffleWrite = new AtomicLong
    private val shuffleRead = new AtomicLong

    override def onJobStart(job: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }

    def snapshot: Snapshot =
      Snapshot(jobs.get, stages.get, shuffleWrite.get, shuffleRead.get)
  }

  /** Run `body` under a fresh [[JobCounter]] and return its result with
    * the jobs/stages/shuffle-bytes the block cost, read after the
    * listener bus has [[drain]]ed, so counts are exact, not racy. */
  def measure[T](spark: SparkSession)(body: => T): (T, Snapshot) = {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      val result = body
      drain(spark)
      (result, counter.snapshot)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** Wait until every listener event posted so far has been delivered:
    * the jobs and stages of finished actions, and the execution-listener
    * callbacks ([[AuditListener]]) of finished queries. A bus that does
    * not drain within Spark's own timeout throws, so a stuck bus is a
    * failure, never an undercount. */
  def drain(spark: SparkSession): Unit = ListenerBusDrain(spark.sparkContext)

  /** One completed (or failed) Spark ACTION, structured: the unit of the
    * per-run audit report ([[graft.pipeline.Launcher.runOnce]]'s
    * `auditReport`). */
  final case class ActionAudit(action: String, wallMs: Long, exchanges: Int,
      rowsOut: Option[Long], error: Option[String] = None) {
    def jsonLine: String = {
      val m = ActionAudit.mapper // shared: one audit line per action is a hot path
      val node = m.createObjectNode()
      node.put("action", action)
      node.put("wall_ms", wallMs)
      node.put("exchanges", exchanges)
      rowsOut.foreach(node.put("rows_out", _))
      error.foreach(node.put("error", _))
      m.writeValueAsString(node)
    }
  }

  object ActionAudit {
    /** ObjectMapper construction is heavyweight; writes are thread-safe,
      * so one shared instance serves every audit line. */
    private val mapper =
      new com.fasterxml.jackson.databind.ObjectMapper()
  }

  /** Structured per-action listener: one [[ActionAudit]] per completed
    * action (sink write, collect) with wall time, the executed plan's
    * exchange count, and rows when the root plan node exposes a
    * `numOutputRows` metric (writes and aggregates do).
    *
    * Exchanges are counted on the typed plan, through AQE query stages
    * and subqueries: the plan's string form prints an adaptive plan's
    * final and initial trees both, which double-counts. A reused
    * exchange is not counted again. */
  final class AuditListener(sink: ActionAudit => Unit)
      extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }.size
      val rows = plan.metrics.get("numOutputRows").map(_.value)
      sink(ActionAudit(funcName, durationNs / 1000000, exchanges, rows))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      sink(ActionAudit(funcName, 0, 0, None, Some(exception.getMessage)))
  }

  /** Install an [[AuditListener]]; returns it so callers can remove it
    * via `spark.listenerManager.unregister`. */
  def installAudit(spark: SparkSession, sink: ActionAudit => Unit): AuditListener = {
    val l = new AuditListener(sink)
    spark.listenerManager.register(l)
    l
  }
}
