package graft.pipeline

import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamRunner

/** The full launcher path (launcher.py:500-514 → `process_files`,
  * launcher.py:403-408) as one composition: parse a config document with
  * the safe [[ProductListLoader]], resolve its `workers:` chain through
  * [[PluginRegistry]], and run it — either over one in-hand message
  * (`runOnce`, the reference's `test_message` path) or over a message
  * stream (`run`, the subscriber loop re-expressed as
  * [[StreamRunner.runMessages]]'s sequential per-message foreachBatch).
  *
  * The chain is rebuilt per message because `create_scene` needs the
  * message's file list (launcher.py:287) — exactly the reference's
  * per-job plugin invocation; everything else about the chain is
  * config-static. */
object Launcher {

  /** Parse `configText` as YAML (the pl.yaml shape). JSON documents work
    * too — YAML is a superset for the shapes the loader accepts. */
  def load(configText: String): LoadedConfig =
    ProductListLoader.fromYaml(configText)

  /** Resolve the config's `crash_handlers:` section into the
    * [[Runner.CrashHandler]] chain (the reference hooks these at
    * launcher.py:411-416, each handler called with the section's config
    * and the traceback).
    *
    * `sendmail` (launcher.py:483-497) composes the same
    * header/from/to/subject + trace message. The transport: when the
    * handler's config carries a `sendmail:` binary path (the reference's
    * own key, default `/usr/bin/sendmail` there), the message is piped to
    * that binary via [[processTransport]] exactly like the reference's
    * `Popen([sendmail, "-t", "-oi"])`; without the key the injected
    * `transport` (default stderr) carries it — tests inject a capture,
    * and a box with no MTA still logs the composed mail instead of
    * failing the drain. `log` writes the plugin name and error through
    * the injected transport. A config without the section gets one
    * `log` handler, so a crash is never silent. Unknown names are a
    * config error at build time, not at crash time. */
  def crashChain(config: LoadedConfig,
      transport: String => Unit = s => Console.err.println(s)): Seq[Runner.CrashHandler] =
    (if (config.crashHandlers.isEmpty) Seq(WorkerSpec("log"))
     else config.crashHandlers).map { h =>
      val conf = config.crashConfig ++ h.options
      h.fun match {
        case "sendmail" =>
          val send = conf.get("sendmail")
            .map(bin => processTransport(bin)).getOrElse(transport)
          (plugin: String, e: Throwable) => {
            val header = conf.getOrElse("header", "trollflow2spark crashed")
            val msg =
              s"""From: ${conf.getOrElse("from", "pipeline@localhost")}
                 |To: ${conf.getOrElse("to", "ops@localhost")}
                 |Subject: ${conf.getOrElse("subject", "Pipeline crash")}
                 |
                 |$header
                 |
                 |plugin: $plugin
                 |${e.toString}""".stripMargin
            send(msg)
          }
        case "log" =>
          (plugin: String, e: Throwable) =>
            transport(s"crash in $plugin: ${e.getMessage}")
        case other =>
          throw ConfigException(
            s"unknown crash handler '$other' — known: log, sendmail")
      }
    }

  /** Pipe a composed message to a mail binary — the reference's
    * `Popen([sendmail, "-t", "-oi"], stdin=PIPE); communicate(bytes)`
    * (launcher.py:483-497): `-t` reads recipients from the message
    * headers, `-oi` keeps a lone "." line from ending input. A handler
    * must never throw from inside crash handling (it would mask the
    * original failure and kill the drain — the reference ignores the
    * exit status too), so spawn/exit problems are logged to stderr and
    * swallowed. */
  def processTransport(binary: String): String => Unit = msg => {
    try {
      val pb = new ProcessBuilder(binary, "-t", "-oi")
      // child output goes straight to /dev/null: an MTA chattier than the
      // OS pipe buffer (~64 KB) would otherwise block on write and wedge
      // the crash drain on waitFor (the reference's Popen.communicate
      // drains for the same reason; we match by never buffering at all —
      // the exit status is the only signal either implementation uses)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      // the stdin WRITE needs its own bound too: an MTA that wedges
      // before reading stdin leaves write() blocked forever once the
      // message exceeds the OS pipe buffer (~64 KB — a crash message
      // embedding a Spark plan dump gets there easily), and that block
      // would stall the crash drain before waitFor's bound is reached
      val writer = new Thread(() => {
        try {
          val in = proc.getOutputStream
          in.write(msg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          in.close()
        } catch { case NonFatal(_) => () } // broken pipe = MTA died; fine
      })
      writer.setDaemon(true)
      writer.start()
      writer.join(30000)
      if (writer.isAlive) {
        proc.destroyForcibly() // unblocks the writer via broken pipe
        Console.err.println(
          s"sendmail transport '$binary' never read stdin — killed")
      }
      // bounded wait: a wedged MTA must not stall crash handling forever
      val done = proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        proc.destroyForcibly()
        Console.err.println(s"sendmail transport '$binary' timed out after 60s")
      } else if (proc.exitValue() != 0)
        Console.err.println(
          s"sendmail transport '$binary' exited ${proc.exitValue()}")
    } catch {
      case NonFatal(e) =>
        Console.err.println(s"sendmail transport '$binary' failed: $e")
    }
  }

  /** `get_test_message` (launcher.py:80-87): read the canned test
    * message from a file — first line, newline stripped — or None when
    * no file is configured. The `--test-message` dev path feeds
    * [[runOnce]] with this instead of subscribing. */
  def getTestMessage(testMessageFile: Option[String]): Option[String] =
    testMessageFile.map { p =>
      val src = scala.io.Source.fromFile(p)
      try src.getLines().nextOption().getOrElse("")
      finally src.close()
    }

  /** `print_traces` (launcher.py:382-391): dump every live thread's
    * stack — the "what is this stuck job doing" debugging hook. */
  def printTraces(out: java.io.PrintStream = System.err): Unit = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.asScala.toSeq.sortBy(_._1.getName).foreach {
      case (t, frames) =>
        out.println(s"Thread ${t.getName} (state=${t.getState})")
        frames.foreach(f => out.println(s"    at $f"))
        out.println()
    }
  }

  /** The SIGUSR1 hookup (launcher.py:374-375): `kill -USR1 <pid>`
    * dumps traces of the running pipeline JVM to `out`. Returns false
    * when the VM reserves the signal (e.g. -Xrs) instead of crashing
    * the launcher over a debugging aid. */
  def installTraceDump(signalName: String = "USR1",
      out: java.io.PrintStream = System.err): Boolean =
    try {
      sun.misc.Signal.handle(new sun.misc.Signal(signalName),
        (_: sun.misc.Signal) => printTraces(out))
      true
    } catch { case NonFatal(_) => false }

  /** One message (the `--test-message` path, launcher.py:259-266):
    * build the chain for the message's files and run every priority
    * slice.
    *
    * `auditReport` is the analog of the reference's `--dask-profiler
    * profile.html` dump (cli.py:35-42, 57-60): when set, every Spark
    * action the run triggers — each sink write, each config-sized
    * collect — lands as one JSON line (action, wall_ms, exchanges,
    * rows_out) in that file, written when the run completes. The
    * per-job audit trail an operator attaches to a ticket. */
  def runOnce(spark: SparkSession, config: LoadedConfig, messageJson: String,
      timeoutPerPlugin: Duration = Duration.Inf,
      crashHandlers: Seq[Runner.CrashHandler] = Seq.empty,
      auditReport: Option[String] = None): Seq[Runner.JobReport] = {
    val (ctx, paths) = Messages.toContext(spark, config.productList, messageJson)
    // explicit handlers win; otherwise the config's crash_handlers section
    val handlers =
      if (crashHandlers.nonEmpty) crashHandlers else crashChain(config)
    def go() = Runner.processJobs(ctx, PluginRegistry.chain(config, paths),
      timeoutPerPlugin, handlers)
    auditReport match {
      case None => go()
      case Some(path) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[Profiling.ActionAudit]
        val listener = Profiling.installAudit(spark, a =>
          buf.synchronized { buf += a })
        try go()
        finally {
          // the execution-listener bus is async: drain it, then write
          // whatever lines arrived either way
          try Profiling.drain(spark)
          finally {
            spark.listenerManager.unregister(listener)
            val lines = buf.synchronized(buf.map(_.jsonLine).toSeq)
            java.nio.file.Files.write(java.nio.file.Paths.get(path),
              lines.mkString("", "\n", "\n").getBytes("UTF-8"))
          }
        }
    }
  }

  /** The CLI one-shot (cli.py:46-64 → `process_files`): run the
    * configured chain directly on in-hand files with a metadata JSON
    * object — no message envelope, no subscriber. The files + metadata
    * are assembled into the same job document the message path builds
    * ([[Messages.filesMessage]]), so both entries share one code path,
    * exactly as the reference's CLI and subscriber both feed
    * `process_files`. The reference's `produced_files` queue is the
    * returned reports' manifests. */
  def processFiles(spark: SparkSession, config: LoadedConfig,
      files: Seq[String], metadataJson: String = "{}",
      timeoutPerPlugin: Duration = Duration.Inf,
      crashHandlers: Seq[Runner.CrashHandler] = Seq.empty,
      auditReport: Option[String] = None): Seq[Runner.JobReport] =
    runOnce(spark, config, Messages.filesMessage(files, metadataJson),
      timeoutPerPlugin, crashHandlers, auditReport)

  /** The subscriber loop: one pipeline run per message row, sequential
    * within a micro-batch (the reference's `proc.start(); proc.join()`
    * serialization). `messages` is any DataFrame whose first column is
    * the message JSON — a file/kafka/rate stream in production, a memory
    * stream in tests. */
  def run(spark: SparkSession, config: LoadedConfig, messages: DataFrame,
      checkpointDir: String,
      timeoutPerPlugin: Duration = Duration.Inf,
      crashHandlers: Seq[Runner.CrashHandler] = Seq.empty,
      availableNow: Boolean = true)
      (onReport: (String, Seq[Runner.JobReport]) => Unit): StreamingQuery =
    StreamRunner.runMessages(messages, config.productList, checkpointDir,
      paths => PluginRegistry.chain(config, paths),
      timeoutPerPlugin,
      if (crashHandlers.nonEmpty) crashHandlers else crashChain(config),
      availableNow)(onReport)

  /** Parsed bin-entry arguments (cli.py:18-44's surface re-expressed):
    * positional data files, `-p/--product-list` (required), `-m/
    * --metadata` inline JSON (cli.py's meaning of -m), `--test-message`
    * a file holding one canned message (launcher.py:504's
    * `-m/--test_message` — renamed here because the reference's two
    * entry points give `-m` conflicting meanings), `--audit-report` the
    * profiler-dump analog (cli.py:35-42's --dask-profiler). */
  final case class CliArgs(productList: String, metadataJson: String = "{}",
      testMessage: Option[String] = None, auditReport: Option[String] = None,
      logConfig: Option[String] = None, files: Seq[String] = Seq.empty)

  private val cliUsage: String =
    """usage: graft.pipeline.Launcher -p PRODUCT_LIST [-m METADATA_JSON]
      |         [-c LOG_CONFIG_YAML] [--test-message MSG_FILE]
      |         [--audit-report OUT_JSONL] [files ...]
      |Run the configured chain once over the given files (cli.py shape),
      |or over the canned message in --test-message (launcher.py's
      |test-message shape). -c takes a dictConfig-shaped YAML (the
      |reference's --log-config) routed through the queued log bridge.""".stripMargin

  /** argv → [[CliArgs]], pure (spec-covered including every bad-args
    * shape). Left = the message to print before exiting 2, exactly like
    * argparse's error path in the reference. */
  private[graft] def parseCliArgs(args: Seq[String]): Either[String, CliArgs] = {
    // argparse rejects a following FLAG as an option's value (`-p -m`
    // errors instead of recording productList="-m" and mis-reporting the
    // failure later as an unreadable product list); bare "-" stays a
    // legal value, matching argparse (ADVICE r13)
    def isFlagLike(v: String): Boolean = v.startsWith("-") && v != "-"
    @annotation.tailrec
    def loop(rest: Seq[String], acc: CliArgs,
        seenP: Boolean): Either[String, (CliArgs, Boolean)] = rest match {
      case Seq() => Right((acc, seenP))
      case (o @ ("-p" | "--product-list" | "-m" | "--metadata" |
          "-c" | "--log-config" | "--test-message" | "--audit-report"))
          +: v +: _ if isFlagLike(v) =>
        Left(s"option $o expects a value, got option $v")
      case ("-p" | "--product-list") +: v +: t =>
        loop(t, acc.copy(productList = v), seenP = true)
      case ("-m" | "--metadata") +: v +: t =>
        loop(t, acc.copy(metadataJson = v), seenP)
      case ("-c" | "--log-config") +: v +: t =>
        loop(t, acc.copy(logConfig = Some(v)), seenP)
      case "--test-message" +: v +: t =>
        loop(t, acc.copy(testMessage = Some(v)), seenP)
      case "--audit-report" +: v +: t =>
        loop(t, acc.copy(auditReport = Some(v)), seenP)
      case Seq(flag) if isFlagLike(flag) =>
        Left(s"option $flag expects a value")
      case f +: t if !isFlagLike(f) =>
        loop(t, acc.copy(files = acc.files :+ f), seenP)
      case unknown +: _ => Left(s"unknown option $unknown")
    }
    loop(args, CliArgs(productList = ""), seenP = false).flatMap {
      case (_, false) => Left("missing required -p/--product-list")
      case (acc, _) => Right(acc)
    }
  }

  /** The testable CLI body: never calls `sys.exit`, returns the process
    * exit code — 2 for argument/file errors (argparse's convention), 1
    * when any job aborted or a plugin crashed, 0 on a clean run. The
    * reference's `produced_files` queue surfaces as one `produced:`
    * line per manifest entry on stdout. `sparkFor` is lazy so bad-args
    * runs never pay a session spin-up (and specs can inject the shared
    * one). */
  def cliMain(args: Array[String], sparkFor: () => SparkSession,
      out: String => Unit = println): Int =
    parseCliArgs(args.toSeq) match {
      case Left(msg) =>
        Console.err.println(s"error: $msg"); Console.err.println(cliUsage); 2
      case Right(cli) =>
        val configText =
          try scala.io.Source.fromFile(cli.productList).mkString
          catch { case e: java.io.IOException =>
            Console.err.println(s"error: cannot read product list: $e"); return 2
          }
        val config =
          try load(configText)
          catch { case e: ConfigException =>
            Console.err.println(s"error: bad product list: ${e.getMessage}"); return 2
          }
        val message = cli.testMessage match {
          case Some(mf) =>
            try getTestMessage(Some(mf))
            catch { case e: java.io.IOException =>
              Console.err.println(s"error: cannot read test message: $e"); return 2
            }
          case None => None
        }
        val logCfg =
          try cli.logConfig.map(p =>
            Logging.parseConfig(scala.io.Source.fromFile(p).mkString))
          catch {
            case e: java.io.IOException =>
              Console.err.println(s"error: cannot read log config: $e"); return 2
            case e: ConfigException =>
              Console.err.println(s"error: bad log config: ${e.getMessage}"); return 2
            // defense in depth for the exit-2 contract: parseConfig now
            // wraps YAML/level/datefmt errors in ConfigException itself,
            // but ANY other failure on the operator's -c input is still
            // an argument error, never a stack trace (ADVICE r13)
            case NonFatal(e) =>
              Console.err.println(s"error: bad log config: $e"); return 2
          }
        val spark = sparkFor()
        installTraceDump() // the reference hooks USR1 at launch (374-375)
        // `logging_on` around the whole run, exactly like both reference
        // entry points: lifecycle + crash messages route through the
        // queued bridge instead of contending on handlers directly
        Logging.loggingOn(logCfg.getOrElse(Logging.defaultConfig())) { bridge =>
          val log = bridge.logger("graft.launcher")
          log("INFO", "Launching pipeline runner.")
          try {
            val reports = message match {
              case Some(msg) =>
                runOnce(spark, config, msg, auditReport = cli.auditReport,
                  crashHandlers = crashChain(config, s => log("ERROR", s)))
              case None => processFiles(spark, config, cli.files,
                cli.metadataJson, auditReport = cli.auditReport,
                crashHandlers = crashChain(config, s => log("ERROR", s)))
            }
            reports.flatMap(_.finalCtx.manifest)
              .foreach(w => out(s"produced: ${w.path}"))
            val aborted = reports.flatMap(_.finalCtx.aborted)
            aborted.foreach(r => log("ERROR", s"job aborted: $r"))
            if (aborted.nonEmpty) 1 else 0
          } catch { case e: ConfigException =>
            // a config error surfacing at run time (bad metadata JSON, a
            // message referencing unknown plugins) is still exit 2 — the
            // operator's input is wrong, not the pipeline
            Console.err.println(s"error: ${e.getMessage}"); 2
          }
        }
    }

  /** Bin-style entry (`launch`, launcher.py:500-514 / cli.py:46-64): the
    * one `main` a crontab or systemd unit invokes. Builds its own local
    * session; everything testable lives in [[cliMain]]. */
  def main(args: Array[String]): Unit = {
    val code = cliMain(args, () => {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      graft.GraftSession.prime(graft.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate())
    })
    if (code != 0) sys.exit(code)
  }
}
