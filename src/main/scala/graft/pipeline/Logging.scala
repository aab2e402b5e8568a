package graft.pipeline

import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The reference's queued multiprocess logging bridge (logging.py:50-162)
  * re-expressed for the JVM: dictConfig-shaped YAML configuration, a
  * shared bounded queue that WORKER contexts log through (the reference's
  * per-job subprocesses are executor/foreachBatch threads here — same
  * problem: log writers that must not contend on, or interleave into,
  * the handlers directly), and one listener thread that drains the queue
  * to the configured handlers — `logging_on`'s QueueHandler/QueueListener
  * pair (logging.py:50-71, 119-127).
  *
  * Differences from the reference, on purpose:
  *  - the queue is BOUNDED with a loud drop counter (the reference's
  *    Manager().Queue() grows without limit; a wedged listener there
  *    stalls every producer — the same class of failure the
  *    StreamRunner.MaxMessagesPerBatch guard exists for);
  *  - `reset_logging`'s global-registry scrub (logging.py:93-117) is a
  *    no-op here — handlers live in the bridge instance, not a process
  *    global, so stopping the bridge IS the reset.
  *
  * The dictConfig subset parsed: `version`, `formatters.<name>.format`
  * (python %(...)s fields) + `datefmt` (strftime codes), `handlers.
  * <name>.class` (StreamHandler → stderr console, FileHandler →
  * `filename`) + `formatter`, `root.level` + `root.handlers`, and
  * `loggers.<name>.level` overrides (most-specific dotted-prefix match,
  * python's effective-level rule). Unknown handler classes are a config
  * error at parse time, not at log time. */
object Logging {

  /** Severity order per python's logging module. */
  private val LevelOrder =
    Seq("DEBUG", "INFO", "WARNING", "ERROR", "CRITICAL").zipWithIndex.toMap

  final case class LogRecord(level: String, epochMs: Long, name: String,
      message: String)

  /** Open for extension: a custom sink (a pager, a test capture) is a
    * one-method implementation, same as subclassing logging.Handler. */
  trait Handler {
    def write(line: String): Unit
    def close(): Unit = ()
  }

  /** logging.StreamHandler (the DEFAULT_LOG_CONFIG console handler). */
  final class ConsoleHandler(out: java.io.PrintStream = System.err)
      extends Handler {
    override def write(line: String): Unit = out.println(line)
  }

  /** logging.FileHandler (append mode, like the reference's default). */
  final class FileHandler(val path: String) extends Handler {
    private val w = new java.io.PrintWriter(
      new java.io.FileWriter(path, true), true)
    override def write(line: String): Unit = w.println(line)
    override def close(): Unit = w.close()
  }

  /** Test/capture handler (pytest-caplog stand-in). */
  final class CollectingHandler extends Handler {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def write(line: String): Unit = { lines.add(line); () }
  }

  final case class LogConfig(
      rootLevel: String,
      loggerLevels: Map[String, String],
      format: String,
      datefmt: String,
      handlers: Seq[Handler])

  /** DEFAULT_LOG_CONFIG (logging.py:33-39): console handler, pytroll
    * format, root DEBUG. */
  def defaultConfig(out: java.io.PrintStream = System.err): LogConfig =
    LogConfig("DEBUG", Map.empty,
      "[%(levelname)s: %(asctime)s : %(name)s] %(message)s",
      "%Y-%m-%d %H:%M:%S", Seq(new ConsoleHandler(out)))

  /** strftime → java.time pattern for the codes dictConfig datefmt
    * strings actually use. Unknown % codes are a config error. */
  private[graft] def datefmtToJava(fmt: String): String = {
    val map = Map('Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'M' -> "mm", 'S' -> "ss", 'j' -> "DDD", '%' -> "%")
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%') {
        if (i + 1 >= fmt.length)
          throw ConfigException(s"dangling % in datefmt '$fmt'")
        val code = fmt.charAt(i + 1)
        sb.append(map.getOrElse(code,
          throw ConfigException(s"unsupported datefmt code %%$code in '$fmt'")))
        i += 2
      } else {
        // literal run, quoted so java.time never interprets it
        if (c.isLetter) sb.append('\'').append(c).append('\'')
        else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** Parse a dictConfig-shaped YAML document (the `-c/--log-config` file
    * the reference's both entry points accept). */
  def parseConfig(yamlText: String): LogConfig = {
    import scala.jdk.CollectionConverters._
    val opts = new org.yaml.snakeyaml.LoaderOptions()
    val yaml = new org.yaml.snakeyaml.Yaml(
      new org.yaml.snakeyaml.constructor.SafeConstructor(opts))
    // malformed YAML surfaces as ConfigException, not a raw snakeyaml
    // stack — parseConfig owns the whole exit-2 contract for -c inputs
    // (ADVICE r13: bad YAML used to escape as YAMLException and crash)
    val loaded =
      try yaml.load[Any](yamlText)
      catch { case e: org.yaml.snakeyaml.error.YAMLException =>
        throw ConfigException(s"log config is not valid YAML: ${e.getMessage}", e)
      }
    val root = loaded match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) => k.toString -> v }.toMap
      case other =>
        throw ConfigException(s"log config must be a mapping, got $other")
    }
    def section(name: String): Map[String, Map[String, Any]] =
      root.get(name) match {
        case Some(m: java.util.Map[_, _]) => m.asScala.map {
          case (k, v: java.util.Map[_, _]) =>
            k.toString -> v.asScala.map { case (k2, v2) => k2.toString -> v2 }.toMap
          case (k, v) =>
            throw ConfigException(s"$name.$k must be a mapping, got $v")
        }.toMap
        case None => Map.empty
        case Some(other) =>
          throw ConfigException(s"'$name' must be a mapping, got $other")
      }
    if (!root.get("version").forall(_.toString == "1"))
      throw ConfigException("only dictConfig version 1 is supported")
    val formatters = section("formatters")
    val handlerDefs = section("handlers")
    // `root:` is a FLAT mapping (level + handler list), not nested
    val rootMap = root.get("root") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) => k.toString -> v }.toMap
      case _ => Map.empty[String, Any]
    }
    val rootLevel = rootMap.get("level").map(_.toString.toUpperCase)
      .getOrElse("DEBUG")
    if (!LevelOrder.contains(rootLevel))
      throw ConfigException(s"unknown root level $rootLevel")
    val rootHandlerNames: Seq[String] = rootMap.get("handlers") match {
      case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toSeq
      case _ => handlerDefs.keys.toSeq.sorted
    }
    def fmtOf(handlerName: String): (String, String) = {
      val f = handlerDefs.getOrElse(handlerName,
        throw ConfigException(s"root references unknown handler '$handlerName'"))
        .get("formatter").map(_.toString)
      val spec = f.flatMap(formatters.get).getOrElse(Map.empty)
      (spec.get("format").map(_.toString)
        .getOrElse("[%(levelname)s: %(asctime)s : %(name)s] %(message)s"),
        spec.get("datefmt").map(_.toString).getOrElse("%Y-%m-%d %H:%M:%S"))
    }
    val handlers = rootHandlerNames.map { hn =>
      val spec = handlerDefs.getOrElse(hn,
        throw ConfigException(s"root references unknown handler '$hn'"))
      spec.get("class").map(_.toString) match {
        case Some("logging.StreamHandler") | None => new ConsoleHandler()
        case Some("logging.FileHandler") =>
          new FileHandler(spec.get("filename").map(_.toString).getOrElse(
            throw ConfigException(s"FileHandler '$hn' needs a filename")))
        case Some(other) =>
          throw ConfigException(s"unsupported handler class '$other' " +
            "(supported: logging.StreamHandler, logging.FileHandler)")
      }
    }
    // formatter: python dictConfig is per-handler; this subset applies the
    // FIRST root handler's formatter to the bridge (one listener, one
    // format — the reference's default config has exactly one too)
    val (format, datefmt) = rootHandlerNames.headOption.map(fmtOf)
      .getOrElse(("[%(levelname)s: %(asctime)s : %(name)s] %(message)s",
        "%Y-%m-%d %H:%M:%S"))
    val loggerLevels = section("loggers").flatMap { case (name, spec) =>
      spec.get("level").map(l => name -> l.toString.toUpperCase)
    }
    loggerLevels.values.foreach(l =>
      if (!LevelOrder.contains(l))
        throw ConfigException(s"unknown logger level $l"))
    // validate the datefmt HERE, where the exit-2 contract catches it —
    // an unsupported strftime code used to surface only at QueueBridge
    // construction inside loggingOn, past every -c catch (ADVICE r13)
    try java.time.format.DateTimeFormatter.ofPattern(datefmtToJava(datefmt))
    catch {
      case e: ConfigException => throw e
      case scala.util.control.NonFatal(e) =>
        throw ConfigException(s"bad datefmt '$datefmt': ${e.getMessage}", e)
    }
    LogConfig(rootLevel, loggerLevels, format, datefmt, handlers)
  }

  /** The QueueHandler/QueueListener pair as one object: worker contexts
    * call [[logger]]'s returned function (enqueue — O(1), no handler
    * contention, never blocks: over-capacity records are counted and
    * dropped LOUDLY, python's unbounded Manager queue being the wedge
    * risk); the listener thread formats and writes. */
  final class QueueBridge(config: LogConfig, capacity: Int = 8192) {
    private val queue = new ArrayBlockingQueue[LogRecord](capacity)
    private val droppedCount = new AtomicLong(0)
    @volatile private var running = true
    private val tsFmt = java.time.format.DateTimeFormatter
      .ofPattern(datefmtToJava(config.datefmt))
      .withZone(java.time.ZoneOffset.UTC)

    private def render(r: LogRecord): String =
      config.format
        .replace("%(levelname)s", r.level)
        .replace("%(asctime)s", tsFmt.format(java.time.Instant.ofEpochMilli(r.epochMs)))
        .replace("%(name)s", r.name)
        .replace("%(message)s", r.message)

    /** python's effective-level rule: the most specific dotted-prefix
      * logger with an explicit level wins; else the root level. */
    private def effectiveLevel(name: String): String = {
      var n = name
      while (n.nonEmpty) {
        config.loggerLevels.get(n) match {
          case Some(l) => return l
          case None =>
            val cut = n.lastIndexOf('.')
            n = if (cut < 0) "" else n.substring(0, cut)
        }
      }
      config.rootLevel
    }

    private val listener = new Thread(() => {
      try {
        while (running || !queue.isEmpty) {
          val r = queue.poll(50, TimeUnit.MILLISECONDS)
          if (r != null) {
            val line = render(r)
            config.handlers.foreach(_.write(line))
          }
        }
      } catch { case _: InterruptedException => () } // stop() gave up on us
    }, "graft-log-listener")
    listener.setDaemon(true)

    private[graft] def start(): this.type = { listener.start(); this }

    /** The QueueHandler face: a (level, message) sink for one named
      * logger. Below-threshold records are filtered at the PRODUCER (the
      * queue carries only what will be written, python's handler-level
      * semantics). */
    def logger(name: String): (String, String) => Unit = {
      (level, message) => {
        val lvl = level.toUpperCase
        require(LevelOrder.contains(lvl), s"unknown log level $level")
        if (LevelOrder(lvl) >= LevelOrder(effectiveLevel(name))) {
          if (!running) countDrop() // post-shutdown: counted, never silent
          else {
            val rec = LogRecord(lvl, System.currentTimeMillis(), name, message)
            if (!queue.offer(rec)) countDrop()
          }
        }
      }
    }

    private def countDrop(): Unit = {
      val n = droppedCount.incrementAndGet()
      if (n == 1L || n % 1000 == 0)
        System.err.println(s"graft-log-bridge: $n records dropped")
    }

    def dropped: Long = droppedCount.get()

    /** QueueListener.stop(): drain what is queued, then close handlers —
      * but NEVER close under a live writer (ADVICE r13: a wedged/slow
      * handler kept the listener alive past join(5000) and close() raced
      * its write()). A listener that outlives the join is interrupted
      * and given a final grace; if it still won't die the handlers stay
      * open (leak beats a torn write). Once the listener is provably
      * dead, records that slipped in after its last drain are flushed
      * synchronously here, and anything found in the queue after close
      * is COUNTED as dropped rather than lost silently.
      *
      * Residual window, accepted: a producer preempted between its
      * `running` read and its `offer` for the ENTIRE shutdown sequence
      * can still strand one record in the dead queue after the final
      * sweep — unobservable without a lock around every log call, which
      * would reintroduce exactly the handler contention this bridge
      * exists to remove. The flush + post-close sweep bound the loss to
      * that single preempted-producer case. */
    def stop(): Unit = {
      running = false // producers now count drops instead of enqueueing
      listener.join(5000)
      if (listener.isAlive) {
        listener.interrupt()
        listener.join(1000)
      }
      if (listener.isAlive) {
        System.err.println("graft-log-bridge: listener wedged; " +
          "handlers left open to avoid racing a live writer")
        return
      }
      // late records that passed the running check before the flip but
      // enqueued after the listener's last poll: flush, don't lose
      var r = queue.poll()
      while (r != null) {
        val line = render(r)
        config.handlers.foreach(_.write(line))
        r = queue.poll()
      }
      config.handlers.foreach(_.close())
      // a producer mid-offer during the close: counted as dropped
      var leftover = 0L
      while (queue.poll() != null) leftover += 1
      if (leftover > 0) {
        droppedCount.addAndGet(leftover)
        System.err.println(
          s"graft-log-bridge: $leftover records arrived after close, dropped")
      }
    }
  }

  /** `logging_on` (logging.py:50-71) as a loan: start the bridge, run
    * the body with it, always stop — the configure/reset pairing of
    * `configure_logging` included (stopping the bridge closes its
    * handlers; nothing global to reset on the JVM). */
  def loggingOn[A](config: LogConfig = defaultConfig())(body: QueueBridge => A): A = {
    val bridge = new QueueBridge(config).start()
    try body(bridge)
    finally bridge.stop()
  }
}
