package graft.pipeline

import java.util.concurrent.ExecutionException
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** `process_jobs` (launcher.py:432-457): run the plugin chain over the
  * context, priority group by priority group (lower number first,
  * launcher.py:434), with an optional per-plugin timeout and
  * AbortProcessing semantics.
  *
  * Abort contract: the Runner holds the one abort check, like the
  * reference's single `except AbortProcessing` around the worker loop
  * (launcher.py:456-457). The chain stops at the first aborted context
  * (a plugin's own abort, a crash or a timeout): the aborting plugin's
  * [[PluginResult]] has `abortedAfter` set, and the plugins after it
  * are not run and get no result.
  *
  * Timeout divergence from the reference, documented: the reference uses
  * SIGALRM (launcher.py:441-455) which preempts; on the JVM cancellation
  * is cooperative — we time out the await and cancel the session's job
  * group, which interrupts running Spark jobs but not arbitrary driver
  * code. Same contract in practice: a stuck plugin fails the job instead
  * of hanging the pipeline.
  */
object Runner {
  final case class PluginResult(plugin: String, seconds: Double,
                                abortedAfter: Option[String])
  final case class JobReport(priority: Int, results: Seq[PluginResult],
                             finalCtx: PipelineContext)

  /** Crash handler (the reference's `sendmail`-style handler chain,
    * launcher.py:483-497, hooked at 411-416): invoked with the plugin name
    * and the throwable; the job then aborts instead of crashing the
    * runner. Transport (mail/pager/log) is the handler's business. */
  type CrashHandler = (String, Throwable) => Unit

  /** Run `plugins` over each priority slice of the work-list in order.
    * Each slice sees only its own work items (the reference forks one
    * job per priority, launcher.py:269-300); frames/metadata are shared.
    * Each slice runs in a [[JobScope]] of its own, released when the
    * slice ends. */
  def processJobs(ctx: PipelineContext, plugins: Seq[Plugin],
                  timeoutPerPlugin: Duration = Duration.Inf,
                  crashHandlers: Seq[CrashHandler] = Seq.empty): Seq[JobReport] = {
    val groups = Worklist.byPriority(ctx.worklist)
    val slices = if (groups.isEmpty) Seq((Worklist.DefaultPriority, ctx.worklist)) else groups
    try {
      slices.map { case (prio, items) =>
        runChain(ctx.copy(worklist = items), plugins, prio, timeoutPerPlugin,
          crashHandlers)
      }
    } finally plugins.foreach(_.stop()) // lifecycle teardown (launcher.py:417-429)
  }

  /** Call every handler with `e`; a handler that throws does not stop
    * the others or the caller. */
  def notifyCrash(handlers: Seq[CrashHandler], plugin: String,
                  e: Throwable): Unit =
    handlers.foreach { h =>
      try h(plugin, e) catch { case NonFatal(_) => () }
    }

  private def runChain(start: PipelineContext, plugins: Seq[Plugin], prio: Int,
                       timeout: Duration,
                       crashHandlers: Seq[CrashHandler]): JobReport = {
    val jobGroup = s"graft-pipeline-p$prio"
    start.spark.sparkContext.setJobGroup(jobGroup,
      s"pipeline priority $prio", interruptOnCancel = true)
    // the one abort check: the chain stops at the first aborted context
    @annotation.tailrec
    def run(ctx: PipelineContext, rest: Seq[Plugin],
            acc: Vector[PluginResult]): (PipelineContext, Vector[PluginResult]) =
      rest match {
        case plugin +: tail if ctx.aborted.isEmpty =>
          val t0 = System.nanoTime()
          val next =
            try {
              if (timeout.isFinite) {
                implicit val ec: ExecutionContext = ExecutionContext.global
                // the job group is a THREAD-local (inheritable only at
                // thread creation): setting it on the caller thread
                // does nothing for jobs submitted from the pool thread
                // this Future runs on, so cancelJobGroup would miss the
                // runaway jobs entirely (or hit a stale group from a
                // prior priority slice). Set it on the executing thread.
                try Await.result(Future {
                  ctx.spark.sparkContext.setJobGroup(jobGroup,
                    s"pipeline priority $prio", interruptOnCancel = true)
                  // the pool thread is SHARED: clear the thread-local on
                  // the way out or unrelated work later scheduled on this
                  // pooled thread inherits the group and gets killed by a
                  // subsequent cancelJobGroup on a plugin timeout.
                  // cancelJobGroup targets already-submitted jobs, so
                  // clearing after the plugin returns loses nothing.
                  try plugin(ctx)
                  finally ctx.spark.sparkContext.clearJobGroup()
                }, timeout)
                catch {
                  case _: TimeoutException =>
                    ctx.spark.sparkContext.cancelJobGroup(jobGroup)
                    ctx.abort(s"${plugin.name}: timed out after $timeout")
                  // a Future boxes a fatal error in an ExecutionException;
                  // rethrow the error itself so it propagates like it does
                  // without a timeout
                  case e: ExecutionException
                      if e.getCause != null && !NonFatal(e.getCause) =>
                    throw e.getCause
                }
              } else plugin(ctx)
            } catch {
              case NonFatal(e) =>
                notifyCrash(crashHandlers, plugin.name, e)
                ctx.abort(s"${plugin.name} crashed: ${e.getMessage}")
            }
          val secs = (System.nanoTime() - t0) / 1e9
          run(next, tail, acc :+ PluginResult(plugin.name, secs, next.aborted))
        case _ => (ctx, acc)
      }
    // the job's cache, released however the chain ends; what a
    // timed-out plugin's thread persists later is not cached (JobScope)
    val scope = JobScope.open()
    val (finalCtx, results) =
      try run(start.copy(scope = scope), plugins, Vector.empty)
      finally {
        start.spark.sparkContext.clearJobGroup()
        scope.close()
      }
    JobReport(prio, results, finalCtx)
  }
}
