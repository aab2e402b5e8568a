package graft

import java.nio.file.{Files, Paths}
import graft.operators.Raster
import graft.pipeline._
import graft.pipeline.Plugins._

/** [[PluginRegistry]]: a reference-shaped YAML document drives the same
  * end-to-end chain PipelineSpec builds in code — the full launcher path
  * (read_config → workers → process_jobs, launcher.py:403-408) with the
  * safe loader in front. */
class RegistrySpec extends SparkSpec {

  test("YAML config end-to-end: load -> build chain -> run -> files written") {
    val outDir = Files.createTempDirectory("graft_reg").toString
    val cfg = ProductListLoader.fromYaml(
      s"""product_list:
         |  output_dir: $outDir
         |  fname_pattern: "{area}_{product}.{format}"
         |  reader: parquet
         |  aggregate:
         |    x: 2
         |    y: 2
         |  resample_targets:
         |    - {area: euro, width: 16, height: 16,
         |       src_y_min: 0, src_y_max: 32, src_x_min: 0, src_x_max: 32}
         |  metadata_aliases:
         |    platform:
         |      sat1: SAT-1
         |  areas:
         |    euro:
         |      priority: 1
         |      products:
         |        N:
         |          formats:
         |            - format: parquet
         |            - format: csv
         |              writer: csv
         |workers:
         |  - fun: create_scene
         |  - fun: metadata_alias
         |  - fun: load_composites
         |    product: l_returnflag
         |    y: l_orderkey % 64
         |    x: (l_partkey * 7 + l_linenumber) % 64
         |    value: cast(l_quantity as double)
         |  - fun: aggregate
         |  - fun: resample
         |  - fun: save_datasets
         |  - fun: check_results
         |""".stripMargin)

    val chain = PluginRegistry.chain(cfg, Seq(s"$sf/lineitem.parquet"))
    assert(chain.map(_.name) == Seq("create_scene", "metadata_alias",
      "load_composites", "aggregate", "resample", "save_datasets",
      "check_results"))

    val ctx0 = PipelineContext(spark, cfg.productList,
      metadata = Map("platform" -> "sat1"),
      frames = Map.empty, worklist = Worklist.expand(cfg.productList))
    val reports = Runner.processJobs(ctx0, chain)
    assert(reports.map(_.priority) == Seq(1))
    val ctx = reports.head.finalCtx
    assert(ctx.aborted.isEmpty, s"unexpected abort: ${ctx.aborted}")
    // metadata_alias applied the configured alias map
    assert(ctx.metadata("platform") == "SAT-1")
    // both formats of euro/N written
    assert(ctx.manifest.map(f => (f.area.get, f.product, f.format)).toSet ==
      Set(("euro", "N", "parquet"), ("euro", "N", "csv")))
    ctx.manifest.foreach(f => assert(Files.exists(Paths.get(f.path)), f.path))
  }

  test("s3-shaped config ports verbatim: staged write, upload hop, remote audit") {
    // the reference's s3 layout (plugins/s3.py): output_dir is the REMOTE
    // URI, save_datasets only ever touches staging_zone, and the dotted
    // `trollflow2.plugins.s3.uploader` worker publishes staging→remote.
    // Here the remote is a file:// URI — the Hadoop FS path is identical
    // for s3a://, which this sandbox has no endpoint for.
    val staging = Files.createTempDirectory("graft_s3stage").toString
    val remote = Files.createTempDirectory("graft_s3remote").toString
    val cfg = ProductListLoader.fromYaml(
      s"""product_list:
         |  output_dir: file://$remote
         |  staging_zone: $staging
         |  fname_pattern: "{area}_{product}.{format}"
         |  reader: parquet
         |  areas:
         |    euro:
         |      products:
         |        N:
         |          formats:
         |            - format: parquet
         |workers:
         |  - fun: create_scene
         |  - fun: load_composites
         |    product: l_returnflag
         |    y: l_orderkey % 64
         |    x: (l_partkey * 7 + l_linenumber) % 64
         |    value: cast(l_quantity as double)
         |  - fun: save_datasets
         |  - fun: trollflow2.plugins.s3.uploader
         |  - fun: check_s3_file
         |""".stripMargin)
    val chain = PluginRegistry.chain(cfg, Seq(s"$sf/lineitem.parquet"))
    assert(chain.map(_.name) == Seq("create_scene", "load_composites",
      "save_datasets", "s3.uploader", "check_s3_file"))
    // save_datasets was rebuilt to publish INTO the staging zone
    val sd = chain.collect { case s: SaveDatasets => s }.head
    assert(sd.outDir == staging && sd.stagingZone.isEmpty)

    val ctx0 = PipelineContext(spark, cfg.productList,
      metadata = Map.empty, frames = Map.empty,
      worklist = Worklist.expand(cfg.productList))
    val reports = Runner.processJobs(ctx0, chain)
    val ctx = reports.head.finalCtx
    assert(ctx.aborted.isEmpty, s"unexpected abort: ${ctx.aborted}")
    // manifest filenames updated to the remote (the reference's
    // "upload data and update the filenames")
    assert(ctx.manifest.nonEmpty)
    ctx.manifest.foreach { f =>
      assert(f.path.startsWith("file:") && f.path.contains(remote), f.path)
    }
    // remote copy is a readable parquet sink; staged copy was moved away
    val reread = spark.read.parquet(ctx.manifest.head.path)
    assert(reread.count() == ctx.manifest.head.rows)
    assert(Paths.get(staging).toFile.list().isEmpty,
      "S3Mover.move semantics: staged files must be dropped after upload")

    // an uploader without a staging zone is the reference's KeyError —
    // rejected at build time
    val bad = ProductListLoader.fromYaml(
      s"""product_list:
         |  output_dir: file://$remote
         |  areas: {euro: {products: {N: {formats: [{format: parquet}]}}}}
         |workers:
         |  - fun: save_datasets
         |  - fun: s3.uploader
         |""".stripMargin)
    val e = intercept[ConfigException](PluginRegistry.chain(bad, Seq.empty))
    assert(e.getMessage.contains("staging_zone"))
  }

  test("factories decode config shapes: check_metadata, save_datasets, resample") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  output_dir: /tmp/out
        |  eager_writing: true
        |  staging_zone: /tmp/staging
        |  overviews: [4, 8]
        |  check_metadata:
        |    platform_name: [noaa15, noaa18]
        |    start_time: -40
        |  min_valid_data_fraction: 10.0
        |  resampler: ewa
        |  rows_per_scan: 4
        |  resample_targets:
        |    - {area: euro, width: 2, height: 2, weight_min: 0.05,
        |       src_y_min: 0, src_y_max: 4, src_x_min: 0, src_x_max: 4}
        |    - {area: pacific, width: 2, height: 2, mode: nearest,
        |       src_y_min: 0, src_y_max: 4, src_x_min: 0, src_x_max: 4}
        |  areas: {}
        |workers:
        |  - fun: check_metadata
        |  - fun: check_valid_data_fraction
        |  - fun: save_datasets
        |  - fun: resample
        |""".stripMargin)
    val chain = PluginRegistry.chain(cfg, Seq.empty)
    val cm = chain(0).asInstanceOf[CheckMetadata]
    assert(cm.allowed == Map("platform_name" -> Seq("noaa15", "noaa18")))
    assert(cm.maxAgeMinutes.contains(-40L))
    // the reference's setting is a PERCENT; the plugin compares a [0,1]
    // fraction — 10.0 means 10%, not a 10x-impossible bar
    assert(chain(1).asInstanceOf[CheckValidDataFraction].minFraction == 0.1)
    val sd = chain(2).asInstanceOf[SaveDatasets]
    assert(sd.outDir == "/tmp/out" && sd.eagerWriting)
    assert(sd.stagingZone.contains("/tmp/staging"))
    assert(sd.overviews == Seq(4, 8))
    // ewa settings: per-target field, then the product-list setting, then
    // Raster.Ewa's defaults
    val Seq(euro, pacific) = chain(3).asInstanceOf[Resample].targets
    assert(euro.mode == "ewa" && pacific.mode == "nearest")
    assert(euro.ewa == Raster.Ewa(weightMin = 0.05, rowsPerScan = Some(4)))
    assert(pacific.ewa == Raster.Ewa(rowsPerScan = Some(4)))
  }

  test("call_on_done resolves named callbacks; callback_move needs early_moving") {
    def cfg(body: String) = ProductListLoader.fromYaml(
      s"""product_list:
        |  output_dir: /tmp/out
        |  areas: {}
        |workers:
        |  - fun: save_datasets
        |$body""".stripMargin)
    // bare and dotted (the reference's !!python/name string) both resolve
    val ok = PluginRegistry.chain(cfg(
      """    early_moving: true
        |    call_on_done: [callback_close, trollflow2.plugins.callback_move, callback_log]
        |""".stripMargin), Seq.empty).head.asInstanceOf[SaveDatasets]
    assert(ok.callbacks.size == 3 && ok.earlyMoving)
    // the reference's contract: callback_move only works with early_moving
    val e1 = intercept[ConfigException] {
      PluginRegistry.chain(cfg(
        """    call_on_done: [callback_move]
          |""".stripMargin), Seq.empty)
    }
    assert(e1.getMessage.contains("early_moving"))
    val e2 = intercept[ConfigException] {
      PluginRegistry.chain(cfg(
        """    call_on_done: [callback_teleport]
          |""".stripMargin), Seq.empty)
    }
    assert(e2.getMessage.contains("callback_teleport"))
  }

  test("worker inline options override product-list settings") {
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  output_dir: /tmp/root_dir
        |  areas: {}
        |workers:
        |  - fun: save_datasets
        |    output_dir: /tmp/worker_dir
        |""".stripMargin)
    val sd = PluginRegistry.chain(cfg, Seq.empty).head.asInstanceOf[SaveDatasets]
    assert(sd.outDir == "/tmp/worker_dir")
  }

  test("scalar conversion failures surface as ConfigException, not parser internals") {
    val base = ProductListLoader.fromYaml(
      """product_list:
        |  output_dir: /tmp/out
        |  eager_writing: maybe
        |  areas: {}
        |""".stripMargin)
    val e = intercept[ConfigException] {
      PluginRegistry.build(base, WorkerSpec("save_datasets"), Seq.empty)
    }
    assert(e.getMessage.contains("eager_writing"))
    val agg = ProductListLoader.fromYaml(
      "product_list:\n  aggregate: {x: 2.5}\n  areas: {}\n")
    val e2 = intercept[ConfigException] {
      PluginRegistry.build(agg, WorkerSpec("aggregate"), Seq.empty)
    }
    assert(e2.getMessage.contains("aggregate.x"))
    val rs = ProductListLoader.fromYaml(
      """product_list:
        |  reduce_data: maybe
        |  resample_targets:
        |    - {area: euro, width: 1, height: 1,
        |       src_y_min: 0, src_y_max: 2, src_x_min: 0, src_x_max: 2}
        |  areas: {}
        |""".stripMargin)
    val e3 = intercept[ConfigException] {
      PluginRegistry.build(rs, WorkerSpec("resample"), Seq.empty)
    }
    assert(e3.getMessage.contains("reduce_data"))
  }

  test("worker options keep document order (load_composites with 5+ columns)") {
    // a derived expression may reference a column declared before it;
    // hash-ordered options would plan the dependent column first for
    // some key sets — the loader must preserve document order
    val cfg = ProductListLoader.fromYaml(
      """product_list:
        |  areas: {}
        |workers:
        |  - fun: load_composites
        |    product: "'N'"
        |    y: r_regionkey
        |    x: r_regionkey * 2
        |    value: cast(r_regionkey as double)
        |    doubled: value * 2
        |    shifted: doubled + 1
        |""".stripMargin)
    val opts = cfg.workers.head.options.toSeq
    assert(opts.map(_._1) ==
      Seq("product", "y", "x", "value", "doubled", "shifted"))
    // and the chain actually resolves the dependent columns in order
    val ctx0 = PipelineContext(spark, cfg.productList, Map.empty,
      frames = Map((None: Option[String]) ->
        spark.read.parquet(s"$sf/region.parquet")),
      worklist = Seq.empty)
    val out = PluginRegistry.chain(cfg, Seq.empty).head(ctx0)
    assert(out.aborted.isEmpty, s"aborted: ${out.aborted}")
    assert(out.frames(None).columns.contains("shifted"))
  }

  test("fsspec_cache config builds the cache/clear pair with the fsspec knob") {
    val cacheDir = Files.createTempDirectory("graft_regcache").toString
    // the reference's root-level mapping (plugins/__init__.py:1149-1150):
    // `type` is the fsspec protocol (accepted, ignored here);
    // options.cache_storage is fsspec filecache's storage-dir knob
    val cfg = ProductListLoader.fromYaml(
      s"""product_list:
         |  fsspec_cache:
         |    type: filecache
         |    options:
         |      cache_storage: $cacheDir
         |  areas: {}
         |workers:
         |  - fun: use_fsspec_cache
         |  - fun: create_scene
         |  - fun: clear_fsspec_cache
         |""".stripMargin)
    val chain = PluginRegistry.chain(cfg, Seq(s"$sf/region.parquet"))
    assert(chain.map(_.name) ==
      Seq("use_fsspec_cache", "create_scene", "clear_fsspec_cache"))
    assert(chain(0).asInstanceOf[CacheInputs].cacheDir == cacheDir)
    assert(chain(2).asInstanceOf[ClearInputCache].cacheDir == cacheDir)
    // end-to-end through the cache: scene rows come from the staged copy.
    // The scan action must run BEFORE clear_fsspec_cache — frames are
    // lazy, and the reference likewise runs the clear worker only after
    // save_datasets has materialized everything.
    val ctx0 = PipelineContext(spark, cfg.productList, Map.empty,
      frames = Map.empty, worklist = Seq.empty,
      inputs = Seq(s"$sf/region.parquet"))
    val staged = chain(1)(chain(0)(ctx0))
    assert(staged.aborted.isEmpty, s"aborted: ${staged.aborted}")
    assert(staged.frames(None).count() ==
      spark.read.parquet(s"$sf/region.parquet").count())
    chain(2)(staged)
    assert(!Files.exists(Paths.get(cacheDir)))
    // missing fsspec_cache setting is a config error
    val e = intercept[ConfigException] {
      PluginRegistry.build(ProductListLoader.fromYaml(
        "product_list:\n  areas: {}\n"), WorkerSpec("use_fsspec_cache"), Seq.empty)
    }
    assert(e.getMessage.contains("fsspec_cache"))
  }

  test("unknown plugin and missing required settings raise ConfigException") {
    val base = ProductListLoader.fromYaml("product_list:\n  areas: {}\n")
    val unknown = intercept[ConfigException] {
      PluginRegistry.build(base, WorkerSpec("no_such_plugin"), Seq.empty)
    }
    assert(unknown.getMessage.contains("registry knows"))
    intercept[ConfigException] {
      PluginRegistry.build(base, WorkerSpec("save_datasets"), Seq.empty)
    }
    // resample without geometry: the documented areas.yaml divergence
    val r = intercept[ConfigException] {
      PluginRegistry.build(base, WorkerSpec("resample"), Seq.empty)
    }
    assert(r.getMessage.contains("resample_targets"))
  }
}
