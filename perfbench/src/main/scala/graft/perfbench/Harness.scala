package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, SparkEntry}
import graft.pipeline._
import graft.queries.SharedFrames
import graft.streaming.StreamRunner

/** (In package `graft` so it can reach `SharedFrames.warmFor`.)
  *
  * Epoch milliseconds at nanosecond resolution, on the same time base as
  * Spark listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Raw events of one run, kept in memory and written as JSON lines when
  * the run ends. All arithmetic on them happens in `metrics.py`. */
final class Recorder {
  val mapper = new ObjectMapper()
  private val lines = mutable.ArrayBuffer.empty[String]
  def emit(kind: String)(fill: ObjectNode => Unit): Unit = {
    val n = mapper.createObjectNode()
    n.put("kind", kind)
    fill(n)
    val s = mapper.writeValueAsString(n)
    lines.synchronized(lines += s)
  }
  def write(path: String): Unit = lines.synchronized {
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Nested spans on the driver thread: name, start, end, parent, op. */
final class Spans(rec: Recorder) {
  private var nextId = 0
  private var stack: List[Int] = Nil
  @volatile var op: Int = -1
  @volatile var phase: String = ""

  def apply[T](name: String, extra: ObjectNode => Unit = _ => ())(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = Clock.now()
    try body
    finally {
      val t1 = Clock.now()
      stack = stack.tail
      val (o, p) = (op, phase)
      rec.emit("span") { n =>
        n.put("id", id); n.put("parent", parent); n.put("name", name)
        n.put("t0", t0); n.put("t1", t1); n.put("op", o); n.put("phase", p)
        extra(n)
      }
    }
  }
}

/** A plugin inside its own span, with the work-list and manifest counts
  * it saw going in and coming out. */
final class Timed(inner: Plugin, spans: Spans) extends Plugin {
  val name: String = inner.name
  def apply(ctx: PipelineContext): PipelineContext = {
    var out: PipelineContext = null
    spans("plugin." + name, n => if (out != null) {
      n.put("items_in", ctx.worklist.size)
      n.put("items_out", out.worklist.size)
      val added = out.manifest.drop(ctx.manifest.size)
      n.put("files_out", added.size)
      n.put("bytes_out", added.map(_.bytes).sum)
    }) { out = inner(ctx); out }
  }
  override def stop(): Unit = inner.stop()
}

/** Spark job, stage and task counters, one record per job and stage. */
final class SparkTrace(rec: Recorder) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  // per (stage, attempt): tasks, run ms, cpu ns, gc ms, input bytes,
  // input records, shuffle write, shuffle read, spill, output bytes,
  // output records
  private val acc = mutable.Map.empty[(Int, Int), Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobStart(e.jobId) = e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = synchronized(jobStart.remove(e.jobId))
    rec.emit("job") { n =>
      n.put("id", e.jobId); n.put("t0", t0.getOrElse(e.time)); n.put("t1", e.time)
      n.put("ok", e.jobResult == JobSucceeded)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](11))
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime
      a(3) += m.jvmGCTime
      a(4) += m.inputMetrics.bytesRead
      a(5) += m.inputMetrics.recordsRead
      a(6) += m.shuffleWriteMetrics.bytesWritten
      a(7) += m.shuffleReadMetrics.totalBytesRead
      a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(9) += m.outputMetrics.bytesWritten
      a(10) += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val a = synchronized(acc.remove((info.stageId, info.attemptNumber())))
      .getOrElse(new Array[Long](11))
    rec.emit("stage") { n =>
      n.put("id", info.stageId)
      n.put("t0", info.submissionTime.getOrElse(0L))
      n.put("t1", info.completionTime.getOrElse(0L))
      Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "scan_bytes", "scan_rows",
        "shuffle_write", "shuffle_read", "spill", "output_bytes", "output_rows")
        .zip(a).foreach { case (k, v) => n.put(k, v) }
    }
  }
}

object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readString(Paths.get(args(0))))
    val rec = new Recorder
    rec.emit("jvm") { n =>
      n.put("main_t", Clock.now())
      n.put("uptime_ms", ManagementFactory.getRuntimeMXBean.getUptime)
    }
    val code =
      try { new Harness(spec, rec).run(); 0 }
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          rec.emit("fatal")(_.put("error", e.toString))
          1
      } finally {
        rec.emit("rss")(_.put("vmhwm_kb", vmHwmKb()))
        rec.write(spec.get("events").asText)
      }
    System.exit(code)
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)
  }

  def strings(n: JsonNode): Seq[String] =
    if (n == null) Seq.empty else n.elements().asScala.map(_.asText).toSeq
}

final class Harness(spec: JsonNode, rec: Recorder) {
  import Harness._

  private val workload = spec.get("workload").asText
  private val seconds = spec.get("seconds").asDouble
  private val trace = spec.get("trace").asBoolean
  private val work = spec.get("work").asText
  private val spans = new Spans(rec)
  private var spark: SparkSession = _
  private var opIndex = 0

  def run(): Unit = {
    spark = session(spec.get("cores").asInt, "setup.session")
    workload match {
      case "granule_chain" => granuleChain()
      case "query_pack" => queryPack()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark.stop()
  }

  /** The session `Launcher.main` builds — configure + prime — with its
    * scratch and warehouse directories inside the run's work directory,
    * plus one trivial job so that the first timed op pays no lazy
    * start-up. */
  private def session(cores: Int, setupName: String): SparkSession = {
    val t0 = Clock.now()
    val s = GraftSession.prime(GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"),
      cores.toString).getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s.range(1).count()
    setup(setupName, t0)
    s
  }

  private def restartLocal1(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = session(1, "local1.session")
  }

  private def setup(name: String, t0: Double): Unit = {
    val t1 = Clock.now()
    rec.emit("setup") { n => n.put("name", name); n.put("t0", t0); n.put("t1", t1) }
  }

  /** Run `body` as op number `opIndex` of `phase`; any exception is a
    * failed op, recorded and never retried. */
  private def op(phase: String, key: String)(body: ObjectNode => Unit): Unit = {
    val (gc0, gcMs0) = gcTotals()
    spans.op = opIndex
    spans.phase = phase
    val n = rec.mapper.createObjectNode()
    val t0 = Clock.now()
    try body(n)
    catch { case NonFatal(e) => n.put("error", e.toString) }
    val t1 = Clock.now()
    val (gc1, gcMs1) = gcTotals()
    emitOp(phase, key, t0, t1, n, gc1 - gc0, gcMs1 - gcMs0)
    if (trace) BusDrain(spark.sparkContext) // attribute every event to its op
  }

  private def emitOp(phase: String, key: String, t0: Double, t1: Double,
      fields: ObjectNode, gcCount: Long, gcMs: Long): Unit = {
    val i = opIndex
    opIndex += 1
    rec.emit("op") { n =>
      n.put("phase", phase); n.put("i", i); n.put("key", key)
      n.put("t0", t0); n.put("t1", t1)
      n.put("gc_count", gcCount); n.put("gc_ms", gcMs)
      n.setAll[JsonNode](fields)
    }
  }

  private def phase(name: String)(body: (() => Boolean) => Unit): Unit = {
    val t0 = Clock.now()
    body(() => Clock.now() - t0 < seconds * 1000)
    rec.emit("phase") { n => n.put("name", name); n.put("t0", t0); n.put("t1", Clock.now()) }
  }

  /** Listeners of the traced phase: Spark jobs/stages/tasks, the
    * program's own `Profiling` counters, and streaming progress. */
  private def traced(name: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val sparkTrace = new SparkTrace(rec)
    val counter = new Profiling.JobCounter
    sc.addSparkListener(sparkTrace)
    sc.addSparkListener(counter)
    val audit = Profiling.installAudit(spark, a => {
      val o = spans.op
      rec.emit("action") { n =>
        n.put("op", o); n.put("action", a.action); n.put("wall_ms", a.wallMs)
        n.put("exchanges", a.exchanges); a.error.foreach(n.put("error", _))
      }
    })
    val stream = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        rec.emit("batch") { n =>
          n.put("query", p.runId.toString); n.put("batch_id", p.batchId)
          n.put("t", java.time.Instant.parse(p.timestamp).toEpochMilli)
          n.put("rows", p.numInputRows)
          p.durationMs.asScala.foreach { case (k, v) => n.put(k, v.longValue) }
        }
      }
    }
    spark.streams.addListener(stream)
    try body
    finally {
      BusDrain(sc)
      sc.removeSparkListener(sparkTrace)
      sc.removeSparkListener(counter)
      spark.listenerManager.unregister(audit)
      spark.streams.removeListener(stream)
      val s = counter.snapshot
      rec.emit("job_counter") { n =>
        n.put("phase", name); n.put("jobs", s.jobs); n.put("stages", s.stages)
        n.put("shuffle_write", s.shuffleWriteBytes); n.put("shuffle_read", s.shuffleReadBytes)
      }
    }
  }

  // ---- pipeline workloads -------------------------------------------------

  private lazy val config: LoadedConfig = Launcher.load(spec.get("config").asText)

  private def putReports(n: ObjectNode, reports: Seq[Runner.JobReport]): Unit = {
    val man = n.putArray("manifest")
    reports.flatMap(_.finalCtx.manifest).foreach { f =>
      val m = man.addObject()
      m.put("area", f.area.orNull); m.put("product", f.product)
      m.put("format", f.format); m.put("path", f.path)
      m.put("rows", f.rows); m.put("bytes", f.bytes)
    }
    reports.flatMap(_.finalCtx.aborted).headOption.foreach(n.put("aborted", _))
    reports.flatMap(_.results).find(_.abortedAfter.isDefined)
      .foreach(r => n.put("aborted_by", r.plugin))
  }

  /** The subscriber loop (`Launcher.run`; in the traced phase
    * `StreamRunner.runMessages` with every plugin in its own span) on a
    * continuous trigger, fed as a closed loop with one client: each
    * message file is moved into the inbox when the previous message's
    * report returns. An op runs from that hand-off to its own report, so
    * the micro-batch bookkeeping it waits for lands in it. `phases` run
    * back to back in one query; each gets a phase record, and the end of
    * a "warmup" phase closes the warm-up set-up span begun at `setupT0`. */
  private def subscribe(dir: String, tracedRun: Boolean, setupT0: Double,
      phases: Seq[(String, Seq[String])]): Unit = {
    val inbox = Files.createDirectories(Paths.get(dir, "inbox"))
    val staging = Files.createDirectories(Paths.get(dir, "staging"))
    val queue = phases.flatMap { case (ph, ms) => ms.map(ph -> _) }.iterator
    val done = new CountDownLatch(1)
    var sent = 0
    var current = ""
    var phaseT0, handT0 = 0.0
    var (gc0, gcMs0) = gcTotals()
    def endPhase(t: Double): Unit = if (current.nonEmpty) {
      val (name, t0) = (current, phaseT0)
      rec.emit("phase") { n => n.put("name", name); n.put("t0", t0); n.put("t1", t) }
      if (name == "warmup") setup("setup.warmup", setupT0)
    }
    def handOff(): Unit = {
      val t = Clock.now()
      if (!queue.hasNext) { endPhase(t); done.countDown(); return }
      val (ph, json) = queue.next()
      if (ph != current) { endPhase(t); current = ph; phaseT0 = t }
      spans.op = opIndex
      spans.phase = ph
      val f = staging.resolve(f"msg_$sent%04d.json")
      Files.writeString(f, json)
      sent += 1
      val g = gcTotals(); gc0 = g._1; gcMs0 = g._2
      handT0 = Clock.now()
      Files.move(f, inbox.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    def onReport(json: String, reports: Seq[Runner.JobReport]): Unit = {
      val t = Clock.now()
      val (gc1, gcMs1) = gcTotals()
      val n = rec.mapper.createObjectNode()
      n.put("message", json)
      putReports(n, reports)
      emitOp(current, "", handT0, t, n, gc1 - gc0, gcMs1 - gcMs0)
      if (tracedRun) // runMessages parses inside the batch: time the same call here
        spans("messages.to_context", _.put("replay", true))(
          Messages.toContext(spark, config.productList, json))
      handOff()
    }
    val stream = StreamRunner.messageStream(spark, inbox.toString)
    val ckpt = s"$dir/checkpoint"
    val q =
      if (!tracedRun) Launcher.run(spark, config, stream, ckpt, availableNow = false)(onReport)
      else StreamRunner.runMessages(stream, config.productList, ckpt,
        paths => spans("registry.chain")(PluginRegistry.chain(config, paths))
          .map(p => new Timed(p, spans)),
        Duration.Inf, Launcher.crashChain(config), availableNow = false)(onReport)
    try {
      handOff()
      while (!done.await(200, TimeUnit.MILLISECONDS) && q.isActive) ()
      // the last report returns inside its batch: let the batch commit, so
      // that its progress event is recorded too
      if (done.getCount == 0) q.processAllAvailable()
    } finally q.stop()
    q.exception.foreach(e => throw e)
    if (done.getCount > 0) throw new IllegalStateException(s"subscriber loop in $dir stopped early")
    if (trace) BusDrain(spark.sparkContext) // attribute every event to its op
  }

  private def messages(key: String): Seq[String] = strings(spec.get(key))

  /** One query through warm-up and the timed phase; a traced run then
    * runs a traced query and a local[1] query on a fresh session. */
  private def granuleChain(): Unit = {
    subscribe(s"$work/stream-timed", tracedRun = false, Clock.now(),
      Seq("warmup" -> messages("warmup"), "timed" -> messages("timed")))
    if (trace) {
      traced("traced")(subscribe(s"$work/stream-traced", tracedRun = true, 0.0,
        Seq("traced" -> messages("traced"))))
      restartLocal1()
      subscribe(s"$work/stream-local1", tracedRun = false, 0.0, Seq("local1" -> messages("local1")))
    }
  }

  // ---- query pack ---------------------------------------------------------

  private def queryPack(): Unit = {
    val dir = spec.get("data").asText
    val byId = SparkEntry.queries.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
    // timed runs leave out the queries that read shared frames: their warm
    // (tile layout, BM25 index) costs about 15 s a run; the traced run,
    // which reports the per-pack times, keeps them
    val order = strings(spec.get("queries")).map(byId)
      .filter(q => trace || !SharedFrames.isConsumer(q))
    val packs = Seq("Relational" -> graft.queries.Relational.defs,
      "EventOps" -> graft.queries.EventOps.defs,
      "TextAnalysis" -> graft.queries.TextAnalysis.defs,
      "Dedup" -> graft.queries.Dedup.defs,
      "Similarity" -> graft.queries.Similarity.defs,
      "Media" -> graft.queries.Media.defs,
      "Trollflow" -> graft.queries.Trollflow.defs,
      "TiledRaster" -> graft.queries.TiledRaster.defs,
      "Search" -> graft.queries.Search.defs,
      "Curation" -> graft.queries.Curation.defs)
    val packOf = packs.flatMap { case (p, defs) => defs.keys.map(_ -> p) }.toMap
    val oracles = rec.mapper.createObjectNode()
    order.foreach(q => oracles.put(q, SparkEntry.oracleSql.getOrElse(q, "")))
    Files.writeString(Paths.get(spec.get("oracles").asText),
      rec.mapper.writeValueAsString(oracles))

    val t0Warm = Clock.now()
    order.foreach(q => SharedFrames.warmFor(q, spark, dir))
    setup("queries.shared_warm", t0Warm)
    val t0 = Clock.now()
    (1 to spec.get("warm_passes").asInt).foreach { _ =>
      order.foreach(q => runQuery("warmup", q, packOf(q), dir, None))
    }
    setup("setup.warmup", t0)

    val results = if (trace) Some(s"$work/results") else None
    // whole passes, a fixed number of them, so every run times the same
    // mix of queries at the same distance from JVM start
    def pass(name: String, passes: Int, res: Option[String]): Unit = phase(name) { _ =>
      (0 until passes).foreach { i =>
        order.foreach(q => runQuery(name, q, packOf(q), dir, res.filter(_ => i == 0)))
      }
    }
    pass("timed", spec.get("passes").asInt, None)
    if (trace) {
      traced("traced")(pass("traced", 1, results))
      restartLocal1()
      // shared-frame readers would need the warm again (about 30 s at
      // local[1]); the single-core pass leaves them out instead
      phase("local1") { more =>
        val it = order.filterNot(SharedFrames.isConsumer).iterator
        while (it.hasNext && more()) { val q = it.next(); runQuery("local1", q, packOf(q), dir, None) }
      }
    }
  }

  private def runQuery(name: String, q: String, pack: String, dir: String,
      results: Option[String]): Unit = {
    var df: DataFrame = null
    op(name, q) { n =>
      n.put("pack", pack)
      val b0 = Clock.now()
      df = spans("queries.build")(SparkEntry.queries(q)(spark, dir))
      n.put("build_ms", Clock.now() - b0)
      n.put("rows", spans("queries.count")(df.count()))
    }
    results.filter(_ => df != null).foreach { out =>
      spans.op = -1
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      BusDrain(spark.sparkContext)
    }
  }
}
