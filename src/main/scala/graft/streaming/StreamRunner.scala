package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.util.control.NonFatal

import graft.pipeline.{Messages, Plugin, ProductList, Runner}

/** Streaming front-end: the reference's subscriber loop
  * (`generate_messages` → one job per message, launcher.py:146-171,
  * 237-250, SURVEY §2.6), and nothing more — the reference has no
  * windows, no stateful operators and no exactly-once state.
  *
  * Mapping:
  *  - message intake → [[messageStream]], a text-file stream with one
  *    file per message (at scale: a Kafka source; [[runMessages]] only
  *    assumes a streaming DataFrame whose first column is the message);
  *  - one job per message, strictly sequential (`proc.start(); proc.join()`,
  *    launcher.py:244-245) → `foreachBatch` with `maxFilesPerTrigger=1`:
  *    micro-batches are sequential by contract, so the per-batch chain
  *    keeps the reference's deterministic one-at-a-time semantics;
  *  - graceful SIGTERM drain (launcher.py:151-157) → `stopGracefully`;
  *  - one-shot CLI mode (cli.py) → `Trigger.AvailableNow`: process the
  *    backlog, then stop.
  */
object StreamRunner {

  /** Hard ceiling on message rows collected to the driver per
    * micro-batch by [[runMessages]] — messages are control-plane JSON
    * (one file = one message under [[messageStream]]'s
    * maxFilesPerTrigger=1), so any batch near this bound means a data
    * table was wired into the message slot. */
  val MaxMessagesPerBatch: Int = 10000

  /** Run a per-batch job over the stream — the `foreachBatch` analog of
    * `process_files`: each micro-batch (= message) runs the supplied chain
    * exactly once, sequentially. Returns the running query. */
  def runPerMessage(stream: DataFrame, checkpointDir: String,
                    availableNow: Boolean = true)
                   (job: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, id: Long) => job(batch, id) }
      .start()

  /** Text-file message stream: one file = one posttroll-style JSON
    * message (the subscriber-socket analog; at scale the same code takes
    * a Kafka `value` column). */
  def messageStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", 1)
      .option("wholetext", true) // one file = one message, newlines and all
      .text(dir)

  /** The full reference main loop, streaming-native: `generate_messages`
    * → `message_to_jobs` → `process_jobs` (launcher.py:146-171, 269-300).
    * Every row of each micro-batch is one JSON message: it is parsed into
    * a [[graft.pipeline.PipelineContext]] ([[Messages.toContext]] — the
    * message's `data` dict becomes `input_mda`), the caller's `mkChain`
    * builds the plugin chain from the message's input paths (prepend a
    * `CreateScene(paths)` for the reference's `create_scene` slot), and
    * the chain runs priority group by priority group via
    * [[Runner.processJobs]]. `onReport` receives each message's job
    * reports (publish/audit hook — the tests' capture point). A message
    * that cannot become a job reaches `crashHandlers` as plugin
    * `message_to_jobs` and gets no report. The chain runs in the
    * query's own session (Spark's clone of the caller's), with AQE off;
    * the caller's session keeps its settings.
    *
    * Scale note: the per-batch `collect()` pulls MESSAGES to the driver,
    * not data — messages are control-plane JSON (the reference holds each
    * one in a Python dict); the frames the chain computes from those
    * paths stay fully distributed. Micro-batches are sequential by
    * contract, so jobs run one message at a time exactly like the
    * reference's `proc.start(); proc.join()`. */
  def runMessages(messages: DataFrame, spec: ProductList,
                  checkpointDir: String,
                  mkChain: Seq[String] => Seq[Plugin],
                  timeoutPerPlugin: scala.concurrent.duration.Duration =
                    scala.concurrent.duration.Duration.Inf,
                  crashHandlers: Seq[Runner.CrashHandler] = Seq.empty,
                  availableNow: Boolean = true)
                 (onReport: (String, Seq[Runner.JobReport]) => Unit): StreamingQuery =
    runPerMessage(messages, checkpointDir, availableNow) { (batch, _) =>
      val spark = batch.sparkSession
      // the query's own clone of the caller's session: AQE off here
      // leaves the caller's on. A message's chain is a few small shuffles
      // over the job's cached areas, and AQE runs each query stage as a
      // Spark job of its own, so the chain would be bound by the cost per
      // job (measured faster without it on granule_chain)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // guard the control-plane contract: the collect below is bounded
      // ONLY because the message source delivers a handful of JSON
      // messages per trigger (maxFilesPerTrigger=1 in messageStream). A
      // misconfigured fat source (someone pointing a data table at the
      // message slot) must fail loudly here, not OOM the driver.
      val rows = batch.limit(MaxMessagesPerBatch + 1)
        .select(col(batch.columns.head).cast("string"))
        .collect()
      require(rows.length <= MaxMessagesPerBatch,
        s"runMessages micro-batch exceeds $MaxMessagesPerBatch rows — " +
          "messages are control-plane JSON, not data; check the source " +
          "wiring (maxFilesPerTrigger) before raising the bound")
      rows.iterator.map(_.getString(0)).filter(_ != null)
        .foreach { json =>
          // a message that does not parse, or whose chain cannot be
          // built, fails its own job only: the crash handlers see it and
          // the loop reads the next message, as the reference's parent
          // loop outlives a crashed job process
          val job =
            try {
              val (ctx, paths) = Messages.toContext(spark, spec, json)
              Some((ctx, mkChain(paths)))
            } catch {
              case NonFatal(e) =>
                Runner.notifyCrash(crashHandlers, "message_to_jobs", e)
                None
            }
          job.foreach { case (ctx, chain) =>
            val reports = Runner.processJobs(ctx, chain,
              timeoutPerPlugin, crashHandlers)
            onReport(json, reports)
          }
        }
    }

  /** Graceful drain: finish the in-flight work, then stop — the SIGTERM
    * contract (launcher.py:151-157). `stop()` alone would INTERRUPT the
    * stream-execution thread and cancel the active micro-batch's jobs —
    * an abort, not a drain, replaying the batch (and re-firing its
    * side-effecting callbacks) on restart. So: first block until the
    * source reports no pending data (`processAllAvailable` returns only
    * at a quiescent point between batches — bounded by a watchdog, since
    * a continuous source may never quiesce), THEN stop the idle query.
    * Returns true when the query terminated within `timeoutMs`. */
  def stopGracefully(q: StreamingQuery, timeoutMs: Long = 60000): Boolean = {
    // ONE deadline across both waits: a supervisor sizes its SIGKILL
    // fuse to this budget, so drain + stop together must fit in it (two
    // full budgets back-to-back would double the promised wall time and
    // get the process killed mid-stop — a non-graceful abort)
    val deadlineNs = System.nanoTime() + timeoutMs * 1000000L
    val drained = new java.util.concurrent.CountDownLatch(1)
    val drainer = new Thread(() => {
      try q.processAllAvailable() catch { case NonFatal(_) => () }
      finally drained.countDown()
    })
    drainer.setDaemon(true)
    drainer.start()
    // watchdog: a source that keeps producing (or a dead query) must not
    // hang the shutdown path — after the budget, stop() interrupts
    drained.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    q.stop()
    val leftMs = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L)
    q.awaitTermination(leftMs)
  }
}
