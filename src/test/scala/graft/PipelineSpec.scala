package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.Plugins._

class PipelineSpec extends SparkSpec {

  // config tree mirroring the reference's 3-level product list shape
  private val spec = ProductList(
    areas = Seq(
      AreaSpec(Some("euro"), priority = Some(1),
        products = Seq(
          ProductSpec("N", formats = Seq(FormatSpec("parquet"),
            FormatSpec("csv", Map("writer" -> "csv")))),
          ProductSpec("R", settings = Map("fill" -> "9"))),
        settings = Map("writer" -> "parquet", "fill" -> "0")),
      AreaSpec(Some("pacific"), priority = None,
        products = Seq(ProductSpec("N")),
        settings = Map("writer" -> "parquet"))),
    settings = Map("writer" -> "parquet", "root_only" -> "r"),
    common = Map("mail" -> "ops@example.org"))

  test("worklist expansion: formats default, inheritance, priorities") {
    val items = Worklist.expand(spec)
    assert(items.map(i => (i.area.get, i.product, i.format)) == Seq(
      ("euro", "N", "parquet"), ("euro", "N", "csv"),
      ("euro", "R", "tif"), ("pacific", "N", "tif")))
    // inner overrides outer; area/root settings inherited
    val csvItem = items.find(_.format == "csv").get
    assert(csvItem.settings("writer") == "csv")
    assert(csvItem.settings("root_only") == "r")
    val rItem = items.find(_.product == "R").get
    assert(rItem.settings("fill") == "9" && rItem.settings("writer") == "parquet")
    // priorities: unset -> 999, groups sorted ascending
    assert(Worklist.byPriority(items).map(_._1) == Seq(1, 999))
    // /common fallback + default (get_config_value semantics)
    assert(Worklist.configValue(spec, rItem, "mail").contains("ops@example.org"))
    assert(Worklist.configValue(spec, rItem, "nope", Some("d")).contains("d"))
  }

  test("compose fills keys and strftime datetime patterns") {
    val out = Plugins.compose("{platform}_{start_time:%Y%m%d_%H%M}_{product}.tif",
      Map("platform" -> "sat1", "start_time" -> "2026-08-12T06:30:00Z",
          "product" -> "N"))
    assert(out == "sat1_20260812_0630_N.tif")
    intercept[IllegalArgumentException] {
      Plugins.compose("{missing}", Map.empty)
    }
  }

  test("check_metadata aborts on value and age; metadata_alias rewrites") {
    val ctx = PipelineContext(spark, spec,
      metadata = Map("platform_name" -> "noaa15",
        "start_time" -> "2026-08-12T00:00:00Z"),
      frames = Map.empty, worklist = Worklist.expand(spec))
    val ok = CheckMetadata(Map("platform_name" -> Seq("noaa15", "noaa18")))(ctx)
    assert(ok.aborted.isEmpty)
    val bad = CheckMetadata(Map("platform_name" -> Seq("metop-a")))(ctx)
    assert(bad.aborted.exists(_.contains("platform_name")))
    val old = CheckMetadata(maxAgeMinutes = Some(-60),
      now = () => Instant.parse("2026-08-12T02:00:00Z"))(ctx)
    assert(old.aborted.exists(_.contains("older")))
    val aliased = MetadataAlias(Map("platform_name" ->
      Map("noaa15" -> "NOAA-15")))(ctx)
    assert(aliased.metadata("platform_name") == "NOAA-15")
    // NAIVE ISO datetimes — the commonest posttroll form, which the
    // message layer pins as supported (MessagesSpec) — must run the
    // check (naive = UTC, like Python's fromisoformat), not crash
    val naiveCtx = ctx.copy(
      metadata = ctx.metadata + ("start_time" -> "2026-08-12T00:00:00"))
    val naiveOld = CheckMetadata(maxAgeMinutes = Some(-60),
      now = () => Instant.parse("2026-08-12T02:00:00Z"))(naiveCtx)
    assert(naiveOld.aborted.exists(_.contains("older")),
      "naive start_time must age-check as UTC")
    assert(SzaCheck()(naiveCtx).aborted.isEmpty,
      "naive start_time must not crash sza_check")
    // genuinely unparseable input still fails LOUDLY with the key named
    val junkCtx = ctx.copy(
      metadata = ctx.metadata + ("start_time" -> "not-a-time"))
    val je = intercept[IllegalArgumentException] {
      CheckMetadata(maxAgeMinutes = Some(-60))(junkCtx)
    }
    assert(je.getMessage.contains("start_time"))
  }

  test("end-to-end: scene -> composites -> resample -> save -> audit -> publish") {
    val outDir = Files.createTempDirectory("graft_pipe").toString
    val ctx0 = PipelineContext(spark, spec,
      metadata = Map("platform" -> "sat1"),
      frames = Map.empty, worklist = Worklist.expand(spec))
    val chain = Seq(
      CreateScene(Seq(s"$sf/lineitem.parquet")),
      LoadComposites(Map(
        "product" -> "l_returnflag",
        "y" -> "l_orderkey % 64", "x" -> "(l_partkey * 7 + l_linenumber) % 64",
        "value" -> "cast(l_quantity as double)")),
      Aggregate(xFactor = 2, yFactor = 2),
      Resample(Seq(
        ResampleTarget("euro", 16, 16, 0, 32, 0, 32),
        ResampleTarget("pacific", 8, 8, 0, 32, 0, 32))),
      SaveDatasets(outDir),
      CheckResults())
    val reports = Runner.processJobs(ctx0, chain)
    assert(reports.map(_.priority) == Seq(1, 999))
    reports.foreach(r => assert(r.finalCtx.aborted.isEmpty,
      s"unexpected abort: ${r.finalCtx.aborted}"))
    // priority-1 slice wrote euro N (parquet + csv) and euro R
    val m1 = reports.head.finalCtx.manifest
    assert(m1.map(f => (f.area.get, f.product, f.format)).toSet == Set(
      ("euro", "N", "parquet"), ("euro", "N", "csv"), ("euro", "R", "tif")))
    m1.foreach { f =>
      assert(Files.exists(Paths.get(f.path)), f.path)
      assert(f.bytes > 0 && f.rows > 0)
      assert(!f.path.contains(".tmp_"), s"tmp file leaked: ${f.path}")
    }
    // resampled euro frame respects the 16x16 target grid
    val euro = reports.head.finalCtx.frames(Some("euro"))
    val coords = euro.agg(max(col("y")), max(col("x"))).collect().head
    assert(coords.getLong(0) < 16 && coords.getLong(1) < 16)
    // publisher: one message per manifest entry, composed topic
    val pub = FilePublisher("/file/{area}/{product}")
    val msgs = pub.messages(reports.head.finalCtx).collect()
    assert(msgs.length == m1.size)
    assert(msgs.map(_.getString(0)).toSet ==
      Set("/file/euro/N", "/file/euro/R"))
    // written parquet round-trips
    val reread = spark.read.parquet(
      m1.find(f => f.format == "parquet").get.path)
    assert(reread.count() == m1.find(_.format == "parquet").get.rows)
  }

  test("create_scene reads non-parquet sources (json, csv, orc readers)") {
    val dir = Files.createTempDirectory("graft_src_fmt")
    // stage the same rows as json-lines, headered csv, and orc
    val rows = spark.read.parquet(s"$sf/region.parquet")
    rows.coalesce(1).write.mode("overwrite").json(s"$dir/j")
    rows.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$dir/c")
    rows.coalesce(1).write.mode("overwrite").orc(s"$dir/o")
    val base = PipelineContext(spark, spec, metadata = Map.empty,
      frames = Map.empty, worklist = Seq.empty)
    val viaJson = CreateScene(Seq(s"$dir/j"), reader = "json")(base)
    assert(viaJson.aborted.isEmpty)
    assert(viaJson.frames(None).count() == rows.count())
    val viaCsv = CreateScene(Seq(s"$dir/c"), reader = "csv",
      options = Map("header" -> "true"))(base) // reader_kwargs pass-through
    assert(viaCsv.aborted.isEmpty)
    assert(viaCsv.frames(None).count() == rows.count())
    assert(viaCsv.frames(None).columns.toSet == rows.columns.toSet)
    val viaOrc = CreateScene(Seq(s"$dir/o"), reader = "orc")(base)
    assert(viaOrc.aborted.isEmpty)
    assert(viaOrc.frames(None).count() == rows.count())
    // unknown reader aborts the job like the reference's AbortProcessing
    val bad = CreateScene(Seq(s"$dir/j"), reader = "no_such_format")(base)
    assert(bad.aborted.isDefined)
  }

  test("save_datasets writes any Spark sink format (orc round-trip)") {
    val outDir = Files.createTempDirectory("graft_orc_sink").toString
    val orcSpec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), products = Seq(
        ProductSpec("N", formats = Seq(FormatSpec("orc")))))))
    val ctx0 = PipelineContext(spark, orcSpec, Map.empty,
      frames = Map.empty, worklist = Worklist.expand(orcSpec))
    val chain = Seq(
      CreateScene(Seq(s"$sf/lineitem.parquet")),
      LoadComposites(Map(
        "product" -> "l_returnflag",
        "y" -> "l_orderkey % 8", "x" -> "l_partkey % 8",
        "value" -> "cast(l_quantity as double)")),
      Resample(Seq(ResampleTarget("euro", 8, 8, 0, 8, 0, 8))),
      SaveDatasets(outDir))
    val reports = Runner.processJobs(ctx0, chain)
    val m = reports.head.finalCtx.manifest
    assert(m.map(_.format) == Seq("orc"))
    // the unrecognized format passed straight through as the writer name
    val reread = spark.read.orc(m.head.path)
    assert(reread.count() == m.head.rows && m.head.rows > 0)
  }

  test("valid-fraction pruning drops failing products from the worklist") {
    import spark.implicits._
    val frame = Seq(
      ("N", 1, 1, Some(1.0)), ("N", 1, 2, Some(2.0)),
      ("R", 1, 1, None), ("R", 1, 2, Some(3.0))
    ).toDF("product", "y", "x", "value")
    val ctx = PipelineContext(spark, spec, Map.empty,
      frames = Map(Option("euro") -> frame, None -> frame),
      worklist = Worklist.expand(spec))
    val pruned = CheckValidDataFraction(minFraction = 0.8)(ctx)
    val kept = pruned.worklist.filter(_.area.contains("euro")).map(_.product).toSet
    assert(kept == Set("N")) // R is 50% valid -> dropped
    // areas without a checked frame are untouched
    assert(pruned.worklist.exists(_.area.contains("pacific")))
    // NaN is fill too, as the reference's notnull() on a float array
    // counts it: R with a NaN cell is 50% valid -> dropped
    val nanFilled = Seq(
      ("N", 1, 1, 1.0), ("N", 1, 2, 2.0),
      ("R", 1, 1, Double.NaN), ("R", 1, 2, 3.0)
    ).toDF("product", "y", "x", "value")
    val nanPruned = CheckValidDataFraction(minFraction = 0.8)(
      ctx.copy(frames = Map(Option("euro") -> nanFilled)))
    assert(nanPruned.worklist.filter(_.area.contains("euro")).map(_.product).toSet == Set("N"))
  }

  test("valid-fraction check: one action, job count independent of area count") {
    import spark.implicits._
    val frame = Seq(
      ("N", 1, 1, Some(1.0)), ("N", 1, 2, Some(2.0)),
      ("R", 1, 1, None), ("R", 1, 2, Some(3.0))
    ).toDF("product", "y", "x", "value")
    val ctx = PipelineContext(spark, spec, Map.empty,
      frames = Map(Option("euro") -> frame, Option("pacific") -> frame,
        None -> frame),
      worklist = Worklist.expand(spec))
    // the batched form unions all checked areas into one aggregation —
    // ONE collect action whose Spark-job count does not grow with the
    // area count (AQE splits any shuffling action into one job per query
    // stage, so raw job count is a property of the plan depth, not of
    // how many areas are checked — the reference's single dask.persist
    // over all checked products, plugins/__init__.py:1014-1032).
    // Asserted via the Profiling listeners, not manual observation.
    def actionsAndJobs(areas: Map[Option[String], org.apache.spark.sql.DataFrame])
        : (PipelineContext, Int, Int) = {
      val actions = new java.util.concurrent.atomic.AtomicInteger
      val l = Profiling.installAudit(spark, _ => actions.incrementAndGet())
      try {
        val (out, cost) = Profiling.measure(spark) {
          CheckValidDataFraction(minFraction = 0.8)(
            ctx.copy(frames = areas))
        }
        (out, actions.get, cost.jobs)
      } finally spark.listenerManager.unregister(l)
    }
    val (pruned, _, jobsTwo) = actionsAndJobs(
      Map(Option("euro") -> frame, Option("pacific") -> frame, None -> frame))
    val (_, _, jobsOne) = actionsAndJobs(Map(Option("euro") -> frame))
    assert(jobsTwo == jobsOne,
      s"job count must not grow with area count: 1 area -> $jobsOne, 2 areas -> $jobsTwo")
    assert(pruned.worklist.filter(_.area.contains("euro")).map(_.product).toSet == Set("N"))
    assert(pruned.worklist.filter(_.area.contains("pacific")).map(_.product).toSet == Set("N"))
  }

  test("audit log listener emits one line per action with exchange count") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[Profiling.ActionAudit]
    val l = Profiling.installAudit(spark, a => lines.synchronized { lines += a })
    try {
      spark.read.parquet(s"$sf/region.parquet")
        .groupBy(col("r_regionkey")).count().collect()
      // QueryExecutionListener delivery is async: drain the bus
      Profiling.drain(spark)
    } finally spark.listenerManager.unregister(l)
    val audits = lines.synchronized(lines.toList)
    val got = audits.map(_.jsonLine)
    assert(got.nonEmpty, "no audit line arrived")
    assert(got.exists(s => s.contains("\"action\":") && s.contains("\"exchanges\":")),
      got.mkString("; "))
    // one groupBy = one shuffle: counted on the typed plan, not on the
    // adaptive plan's string form (which prints final and initial trees)
    assert(audits.exists(a => a.action == "collect" && a.exchanges == 1), got.mkString("; "))
  }

  test("remote upload moves staged outputs; check_s3_file flags empty remotes") {
    val staging = Files.createTempDirectory("graft_up_stage").toString
    val remote = Files.createTempDirectory("graft_up_remote").toString
    val ctx0 = PipelineContext(spark, spec, metadata = Map.empty,
      frames = Map.empty, worklist = Worklist.expand(spec))
    val chain = Seq(
      CreateScene(Seq(s"$sf/lineitem.parquet")),
      LoadComposites(Map(
        "product" -> "l_returnflag",
        "y" -> "l_orderkey % 64", "x" -> "(l_partkey * 7 + l_linenumber) % 64",
        "value" -> "cast(l_quantity as double)")),
      SaveDatasets(staging),
      RemoteUpload(s"file://$remote"),
      CheckRemoteFile())
    val reports = Runner.processJobs(ctx0, chain)
    val ctx = reports.head.finalCtx
    assert(ctx.aborted.isEmpty, s"unexpected abort: ${ctx.aborted}")
    assert(ctx.manifest.nonEmpty)
    // every manifest path rewritten to the remote and readable there
    ctx.manifest.foreach(f =>
      assert(f.path.startsWith("file:") && f.path.contains(remote), f.path))
    // move semantics: the staging zone is drained
    assert(Paths.get(staging).toFile.list().isEmpty)

    // the remote audit aborts when an output is empty at the remote —
    // an empty directory has content length 0 (the reference's
    // size == 0 check, plugins/s3.py:48-51)
    val emptyRemote = Files.createTempDirectory("graft_up_empty")
    val bad = ctx.copy(manifest = ctx.manifest :+
      WrittenFile(Some("euro"), "X", "parquet",
        s"file://$emptyRemote", 1L, 0L))
    assert(CheckRemoteFile()(bad).aborted.exists(_.contains("check_s3_file")))
    // ...and on a missing remote path
    val gone = ctx.copy(manifest = ctx.manifest :+
      WrittenFile(Some("euro"), "X", "parquet",
        s"file://$emptyRemote/never_written", 1L, 0L))
    assert(CheckRemoteFile()(gone).aborted.isDefined)
    // keep-staged mode: deleteSource=false leaves the staged copies
    val staging2 = Files.createTempDirectory("graft_up_stage2").toString
    val remote2 = Files.createTempDirectory("graft_up_remote2").toString
    val reports2 = Runner.processJobs(ctx0, Seq(chain(0), chain(1),
      SaveDatasets(staging2), RemoteUpload(s"file://$remote2", deleteSource = false)))
    assert(reports2.head.finalCtx.aborted.isEmpty)
    assert(!Paths.get(staging2).toFile.list().isEmpty,
      "delete_staged: false must keep the staged copies")
  }

  test("use_fsspec_cache stages inputs once; create_scene reads the copies") {
    val cacheDir = Files.createTempDirectory("graft_fscache").toString
    val srcFile = s"$sf/region.parquet"
    val expected = spark.read.parquet(srcFile).count()
    val base = PipelineContext(spark, spec, Map.empty, Map.empty, Seq.empty,
      inputs = Seq(srcFile))

    // stage + rewrite: ctx.inputs now point into the cache dir
    val staged = CacheInputs(cacheDir)(base)
    assert(staged.aborted.isEmpty)
    assert(staged.inputs.size == 1 && staged.inputs.head.startsWith(cacheDir),
      staged.inputs.toString)
    val cachedPath = Paths.get(staged.inputs.head)
    assert(Files.exists(cachedPath))

    // ctx.inputs wins over constructor paths (the job-dict rewrite,
    // plugins/__init__.py:93) — the bogus path is never opened
    val scene = CreateScene(Seq("/nonexistent/never/read"))(staged)
    assert(scene.aborted.isEmpty)
    assert(scene.frames(None).count() == expected)

    // filecache semantics: an already-staged file is not re-copied
    val firstMtime = Files.getLastModifiedTime(cachedPath)
    Thread.sleep(20)
    val again = CacheInputs(cacheDir)(base)
    assert(again.inputs == staged.inputs)
    assert(Files.getLastModifiedTime(cachedPath) == firstMtime)

    // clear_fsspec_cache drops the staged copies; empty inputs = no-op
    val cleared = ClearInputCache(cacheDir)(staged)
    assert(cleared.aborted.isEmpty)
    assert(!Files.exists(cachedPath))
    assert(CacheInputs(cacheDir)(base.copy(inputs = Seq.empty)).inputs.isEmpty)
  }

  test("aborted context short-circuits downstream plugins") {
    val ctx = PipelineContext(spark, spec, Map.empty, Map.empty,
      Worklist.expand(spec)).abort("boom")
    val reports = Runner.processJobs(ctx, Seq[Plugin](
      CreateScene(Seq(s"$sf/lineitem.parquet")),
      SaveDatasets("/nonexistent/should/not/be/created"),
      CheckResults()))
    reports.foreach(r => assert(r.finalCtx.aborted.contains("boom")))
    assert(!Files.exists(Paths.get("/nonexistent/should/not/be/created")))
  }
}
