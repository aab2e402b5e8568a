package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.pipeline._
import graft.streaming.StreamRunner

/** [[Launcher]]: the reference's full entry path — YAML config → safe
  * load → registry chain → message-driven runs (launcher.py:500-514,
  * 403-408) — with nothing constructed in code but the message. */
class LauncherSpec extends SparkSpec {

  private def configText(outDir: String): String =
    s"""product_list:
       |  output_dir: $outDir
       |  fname_pattern: "{area}_{product}.{format}"
       |  metadata_aliases:
       |    platform_name:
       |      noaa15: NOAA-15
       |  areas:
       |    euro:
       |      products:
       |        N:
       |          formats:
       |            - format: parquet
       |workers:
       |  - fun: create_scene
       |  - fun: metadata_alias
       |  - fun: load_composites
       |    product: "'N'"
       |    y: r_regionkey
       |    x: r_regionkey
       |    value: cast(r_regionkey as double)
       |  - fun: save_datasets
       |  - fun: check_results
       |""".stripMargin

  test("runOnce: test-message path runs the YAML-configured chain") {
    val outDir = Files.createTempDirectory("graft_launch1").toString
    val cfg = Launcher.load(configText(outDir))
    val reports = Launcher.runOnce(spark, cfg,
      s"""{"type": "file", "data": {"uri": "$sf/region.parquet",
         |  "platform_name": "noaa15"}}""".stripMargin)
    assert(reports.size == 1)
    val ctx = reports.head.finalCtx
    assert(ctx.aborted.isEmpty, s"aborted: ${ctx.aborted}")
    assert(ctx.metadata("platform_name") == "NOAA-15") // alias applied
    assert(ctx.manifest.map(f => (f.area, f.product, f.format)) ==
      Seq((Some("euro"), "N", "parquet")))
    ctx.manifest.foreach(f => assert(Files.exists(Paths.get(f.path))))
  }

  test("processFiles: the CLI one-shot runs bare files + metadata JSON") {
    val outDir = Files.createTempDirectory("graft_launch_cli").toString
    val cfg = Launcher.load(configText(outDir))
    // cli.py:46-64: positional files + the -m metadata dict, no envelope
    val reports = Launcher.processFiles(spark, cfg,
      files = Seq(s"$sf/region.parquet"),
      metadataJson = """{"platform_name": "noaa15"}""")
    assert(reports.size == 1)
    val ctx = reports.head.finalCtx
    assert(ctx.aborted.isEmpty, s"aborted: ${ctx.aborted}")
    assert(ctx.metadata("platform_name") == "NOAA-15") // alias applied
    assert(ctx.manifest.map(f => (f.area, f.product, f.format)) ==
      Seq((Some("euro"), "N", "parquet")))
    ctx.manifest.foreach(f => assert(Files.exists(Paths.get(f.path))))
    // malformed / non-object metadata is a config error, not a crash
    intercept[ConfigException] {
      Launcher.processFiles(spark, cfg, Seq(s"$sf/region.parquet"), "[1,2]")
    }
  }

  test("cliMain: bin-entry argv drives processFiles/runOnce with exit codes") {
    // bad args exit 2 BEFORE any session spin-up (sparkFor must not fire)
    def noSpark(): org.apache.spark.sql.SparkSession =
      fail("bad-args path must not build a session")
    assert(Launcher.cliMain(Array("-p"), () => noSpark()) == 2) // missing value
    assert(Launcher.cliMain(Array("f1"), () => noSpark()) == 2) // missing -p
    assert(Launcher.cliMain(Array("-p", "x.yaml", "--bogus", "v"),
      () => noSpark()) == 2) // unknown option
    assert(Launcher.cliMain(Array("-p", "/no/such/file.yaml"),
      () => noSpark()) == 2) // unreadable product list
    // the parse surface itself (argparse-shape, pure)
    val parsed = Launcher.parseCliArgs(Seq("-p", "pl.yaml", "-m",
      """{"a":1}""", "--audit-report", "out.jsonl", "f1", "f2")).toOption.get
    assert(parsed == Launcher.CliArgs("pl.yaml", """{"a":1}""",
      None, Some("out.jsonl"), None, Seq("f1", "f2")))
    // the cli.py one-shot: -p + -m + positional files, exit 0, one
    // produced: line per manifest entry
    val outDir = Files.createTempDirectory("graft_cli_main").toString
    val pl = Files.createTempFile("graft_pl", ".yaml")
    Files.writeString(pl, configText(outDir))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Launcher.cliMain(Array(
      "-p", pl.toString,
      "-m", """{"platform_name": "noaa15"}""",
      s"$sf/region.parquet"), () => spark, lines += _)
    assert(code == 0, s"clean run exited $code")
    assert(lines.size == 1 && lines.head.startsWith("produced: "),
      s"produced lines: $lines")
    assert(Files.exists(Paths.get(lines.head.stripPrefix("produced: "))))
    // the launcher.py test-message shape: --test-message FILE
    val msgFile = Files.createTempFile("graft_msg", ".json")
    Files.writeString(msgFile,
      s"""{"type": "file", "data": {"uri": "$sf/region.parquet", "platform_name": "noaa15"}}\n""")
    val lines2 = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(Launcher.cliMain(Array("-p", pl.toString,
      "--test-message", msgFile.toString), () => spark, lines2 += _) == 0)
    assert(lines2.size == 1 && lines2.head.startsWith("produced: "))
    // a missing test-message file is an argument error, exit 2
    assert(Launcher.cliMain(Array("-p", pl.toString,
      "--test-message", "/no/such/msg.json"), () => spark) == 2)
    // argparse shape: a following FLAG is not a value (ADVICE r13 —
    // `-p -m x.json` used to record productList="-m" and fail later
    // with an unreadable-product-list message pointing the wrong way)
    assert(Launcher.cliMain(Array("-p", "-m", "x.json"),
      () => noSpark()) == 2)
    assert(Launcher.parseCliArgs(Seq("-p", "-m", "x.json")).isLeft)
    // ...while bare "-" stays a legal value/positional, like argparse
    assert(Launcher.parseCliArgs(Seq("-p", "pl.yaml", "-"))
      .toOption.get.files == Seq("-"))
    // -c exit-2 contract: malformed YAML and an unsupported datefmt are
    // argument errors, never stack traces (ADVICE r13)
    val badYaml = Files.createTempFile("graft_logcfg_bad", ".yaml")
    Files.writeString(badYaml, "{ not: [valid")
    assert(Launcher.cliMain(Array("-p", pl.toString, "-c",
      badYaml.toString, s"$sf/region.parquet"), () => spark) == 2)
    val badFmt = Files.createTempFile("graft_logcfg_fmt", ".yaml")
    Files.writeString(badFmt,
      """version: 1
        |formatters: {f: {datefmt: '%Q'}}
        |handlers: {h: {class: logging.StreamHandler, formatter: f}}
        |root: {handlers: [h]}
        |""".stripMargin)
    assert(Launcher.cliMain(Array("-p", pl.toString, "-c",
      badFmt.toString, s"$sf/region.parquet"), () => spark) == 2)
  }

  test("auditReport dumps one JSON line per Spark action (sink writes included)") {
    // the --dask-profiler analog (cli.py:35-42, 57-60): a per-run report
    // file holding every action the job triggered, as JSON lines
    val outDir = Files.createTempDirectory("graft_launch_audit").toString
    val report = Paths.get(outDir, "audit.jsonl")
    val cfg = Launcher.load(configText(outDir))
    val reports = Launcher.processFiles(spark, cfg,
      files = Seq(s"$sf/region.parquet"),
      metadataJson = """{"platform_name": "noaa15"}""",
      auditReport = Some(report.toString))
    val ctx = reports.head.finalCtx
    assert(ctx.aborted.isEmpty, s"aborted: ${ctx.aborted}")
    assert(Files.exists(report), "audit report file not written")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = scala.io.Source.fromFile(report.toFile).getLines().toSeq
      .map(mapper.readTree)
    // one write action per manifest sink (Spark 4's QueryExecutionListener
    // reports DataFrameWriter.save as "command"), each with wall time and
    // the executed plan's exchange count
    val saves = lines.filter(l =>
      Set("command", "save")(l.get("action").asText))
    assert(saves.size == ctx.manifest.size,
      s"expected ${ctx.manifest.size} save lines, got:\n${lines.mkString("\n")}")
    saves.foreach { l =>
      assert(l.has("wall_ms") && l.get("wall_ms").asLong >= 0)
      assert(l.has("exchanges") && l.get("exchanges").asInt >= 0)
    }
  }

  test("crash_handlers section: sendmail-shaped message reaches the transport") {
    val cfg = Launcher.load(
      """product_list:
        |  areas:
        |    euro:
        |      products: {N: {productname: N}}
        |crash_handlers:
        |  config:
        |    from: pipeline@sat.example
        |    to: ops@sat.example
        |    subject: "Processing crashed"
        |    header: "The chain failed"
        |  handlers:
        |    - fun: sendmail
        |workers:
        |  - fun: create_scene
        |  - fun: load_composites
        |    broken: "this is ( not sql"
        |""".stripMargin)
    val mails = scala.collection.mutable.ArrayBuffer.empty[String]
    val reports = Launcher.runOnce(spark, cfg,
      s"""{"type": "file", "data": {"uri": "$sf/region.parquet"}}""",
      crashHandlers = Launcher.crashChain(cfg, m => mails.synchronized { mails += m }))
    // the broken expression crashed load_composites; the job aborted
    // instead of crashing the runner, and the handler fired once
    assert(reports.head.finalCtx.aborted.exists(_.contains("load_composites")))
    val mail = mails.synchronized(mails.toList)
    assert(mail.size == 1)
    assert(mail.head.contains("Subject: Processing crashed"))
    assert(mail.head.contains("The chain failed"))
    assert(mail.head.contains("plugin: load_composites"))
    // unknown handler names fail at build time
    val bad = cfg.copy(crashHandlers = Seq(WorkerSpec("pager_duty")))
    intercept[ConfigException](Launcher.crashChain(bad))
  }

  test("crashChain without a crash_handlers section: one log handler on the transport") {
    val cfg = Launcher.load(
      """product_list:
        |  areas:
        |    euro:
        |      products: {N: {productname: N}}
        |workers:
        |  - fun: create_scene
        |""".stripMargin)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val chain = Launcher.crashChain(cfg, lines += _)
    assert(chain.size == 1)
    chain.head("message_to_jobs", new IllegalArgumentException("bad message"))
    assert(lines.toList == List("crash in message_to_jobs: bad message"))
  }

  test("sendmail: a configured binary receives the message on stdin") {
    // stand-in MTA: a script that appends stdin to a capture file —
    // proves the real process transport (spawn, -t -oi args, stdin pipe,
    // wait) without an actual mail daemon
    val dir = Files.createTempDirectory("graft_sendmail")
    val capture = dir.resolve("captured.mail")
    val script = dir.resolve("fake_sendmail.sh")
    Files.writeString(script,
      s"""#!/bin/sh
         |echo "argv:$$@" >> $capture
         |cat >> $capture
         |""".stripMargin)
    script.toFile.setExecutable(true)
    val cfg = Launcher.load(
      s"""product_list:
         |  areas:
         |    euro:
         |      products: {N: {productname: N}}
         |crash_handlers:
         |  config:
         |    from: pipeline@sat.example
         |    to: ops@sat.example
         |    subject: "Processing crashed"
         |    header: "The chain failed"
         |    sendmail: $script
         |  handlers:
         |    - fun: sendmail
         |workers:
         |  - fun: create_scene
         |  - fun: load_composites
         |    broken: "this is ( not sql"
         |""".stripMargin)
    val reports = Launcher.runOnce(spark, cfg,
      s"""{"type": "file", "data": {"uri": "$sf/region.parquet"}}""",
      crashHandlers = Launcher.crashChain(cfg))
    assert(reports.head.finalCtx.aborted.exists(_.contains("load_composites")))
    val mail = Files.readString(capture)
    assert(mail.contains("argv:-t -oi")) // reference's Popen argv
    assert(mail.contains("From: pipeline@sat.example"))
    assert(mail.contains("To: ops@sat.example"))
    assert(mail.contains("Subject: Processing crashed"))
    assert(mail.contains("plugin: load_composites"))
    // a missing binary must not throw out of crash handling
    Launcher.processTransport("/nonexistent/sendmail")("msg")
  }

  test("run: message stream drives one configured pipeline per message") {
    val outDir = Files.createTempDirectory("graft_launch2").toString
    val src = Files.createTempDirectory("graft_launch_msgs")
    val ckp = Files.createTempDirectory("graft_launch_ckp")
    Seq("noaa15", "noaa19").zipWithIndex.foreach { case (platform, i) =>
      Files.writeString(src.resolve(s"msg_$i.json"),
        s"""{"type": "file", "data": {"uri": "$sf/region.parquet",
           |  "platform_name": "$platform"}}""".stripMargin)
    }
    val cfg = Launcher.load(configText(outDir))
    val seen = new ConcurrentLinkedQueue[String]()
    val q = Launcher.run(spark, cfg,
      StreamRunner.messageStream(spark, src.toString), ckp.toString) {
      (_, reports) =>
        val ctx = reports.head.finalCtx
        assert(ctx.aborted.isEmpty, s"aborted: ${ctx.aborted}")
        seen.add(ctx.metadata("platform_name"))
    }
    q.awaitTermination(120000)
    // metadata_alias rewrote noaa15 only; both messages ran
    assert(seen.toArray(Array.empty[String]).toSet == Set("NOAA-15", "noaa19"))
  }

  test("getTestMessage reads the first line; printTraces dumps live threads on USR1") {
    // get_test_message (launcher.py:80-87): first line, newline stripped
    val f = java.nio.file.Files.createTempFile("graft_testmsg", ".txt")
    java.nio.file.Files.writeString(f,
      "{\"type\": \"file\", \"data\": {}}\nsecond line ignored\n")
    assert(Launcher.getTestMessage(Some(f.toString))
      .contains("{\"type\": \"file\", \"data\": {}}"))
    assert(Launcher.getTestMessage(None).isEmpty)
    // print_traces (launcher.py:382-391): every live thread's stack
    val bos = new java.io.ByteArrayOutputStream()
    Launcher.printTraces(new java.io.PrintStream(bos, true, "UTF-8"))
    val dump = bos.toString("UTF-8")
    assert(dump.contains(s"Thread ${Thread.currentThread().getName}"),
      "trace dump misses the calling thread")
    assert(dump.contains("at "), "trace dump carries no stack frames")
    // the SIGUSR1 hookup (launcher.py:374-375): raise and observe
    val sigBos = new java.io.ByteArrayOutputStream()
    if (Launcher.installTraceDump("USR1",
        new java.io.PrintStream(sigBos, true, "UTF-8"))) {
      sun.misc.Signal.raise(new sun.misc.Signal("USR1"))
      val deadline = System.nanoTime() + 10_000_000_000L
      while (sigBos.size() == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(sigBos.toString("UTF-8").contains("Thread "),
        "USR1 did not trigger the trace dump")
    }
  }
}
