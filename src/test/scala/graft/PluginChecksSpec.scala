package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.pipeline._
import graft.operators.Raster
import graft.pipeline.Plugins._

/** Plugin-chain checks mirroring the reference's TestCovers / TestSZACheck /
  * TestCheckSunlightCoverage / TestFilePublisher
  * (tests/test_trollflow2.py:1358, 1668, 1800) plus the SaveDatasets
  * execution-shape contracts (single action per sink, eager vs batched,
  * call_on_done ordering). */
class PluginChecksSpec extends SparkSpec {

  private def oneProductSpec(settings: Map[String, String] = Map.empty,
      area: String = "euro", extraAreas: Seq[AreaSpec] = Seq.empty) =
    ProductList(areas = AreaSpec(Some(area),
      products = Seq(ProductSpec("N", settings = settings))) +: extraAreas)

  private def ctxOf(spec: ProductList,
      frames: Map[Option[String], org.apache.spark.sql.DataFrame],
      metadata: Map[String, String] = Map.empty) =
    PipelineContext(spark, spec, metadata, frames, Worklist.expand(spec))

  // -------------------------------------------------------------- covers

  private val bounds = Map(
    "euro" -> AreaBounds(-10.0, 40.0, 35.0, 70.0),
    "pacific" -> AreaBounds(140.0, 180.0, -50.0, 10.0))

  test("covers prunes low-coverage areas and republishes the percentage") {
    import spark.implicits._
    // pass footprint: lon [0, 20], lat [40, 60] -> inside euro, misses pacific
    val scene = Seq((0.0, 40.0), (20.0, 60.0)).toDF("lon", "lat")
    val spec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), products = Seq(ProductSpec("N")),
        settings = Map("min_coverage" -> "5")),
      AreaSpec(Some("pacific"), products = Seq(ProductSpec("N")),
        settings = Map("min_coverage" -> "5")),
      // min_coverage unset -> kept untouched, no coverage computed (ref :644-648)
      AreaSpec(Some("euro2"), products = Seq(ProductSpec("N")))))
    val out = Covers(bounds, "lon", "lat")(ctxOf(spec, Map(None -> scene)))
    assert(out.aborted.isEmpty)
    val kept = out.worklist.map(i => i.area.get -> i.settings).toMap
    assert(kept.keySet == Set("euro", "euro2"))
    // euro: 20x20 overlap of a 50x35 box = 22.857..%
    val pct = kept("euro")("area_coverage_percent").toDouble
    assert(math.abs(pct - 100.0 * 400.0 / 1750.0) < 1e-9)
    assert(!kept("euro2").contains("area_coverage_percent"))
  }

  test("covers aborts on mismatched collection_area_id, passes matching one") {
    import spark.implicits._
    val scene = Seq((0.0, 40.0)).toDF("lon", "lat")
    val spec = oneProductSpec()
    val abort = Covers(bounds, "lon", "lat", coverageByCollectionArea = true)(
      ctxOf(spec, Map(None -> scene), Map("collection_area_id" -> "mars")))
    assert(abort.aborted.exists(_.contains("mars")))
    val ok = Covers(bounds, "lon", "lat", coverageByCollectionArea = true)(
      ctxOf(spec, Map(None -> scene), Map("collection_area_id" -> "euro")))
    assert(ok.aborted.isEmpty)
  }

  test("covers keeps everything when no footprint is derivable") {
    import spark.implicits._
    val scene = Seq((1, 2)).toDF("a", "b") // no lon/lat columns
    val spec = oneProductSpec(Map("min_coverage" -> "99"))
    val out = Covers(bounds, "lon", "lat")(ctxOf(spec, Map(None -> scene)))
    assert(out.worklist.size == 1) // kept despite impossible threshold
  }

  // ----------------------------------------------------------- sza_check

  test("sza_check drops by minimum (nighttime) and maximum (daytime) limits") {
    val t = Instant.parse("2026-08-12T12:00:00Z")
    val sza = Solar.szaDeg(0.5, 0.5, t)
    def specWith(extra: (String, String)*) = oneProductSpec(
      Map("sunzen_check_lon" -> "0.5", "sunzen_check_lat" -> "0.5") ++ extra)
    def run(spec: ProductList) =
      SzaCheck()(ctxOf(spec, Map.empty, Map("start_time" -> t.toString))).worklist
    // nighttime product: dropped when the sun is higher than the limit allows
    assert(run(specWith("sunzen_minimum_angle" -> (sza + 1).toString)).isEmpty)
    assert(run(specWith("sunzen_minimum_angle" -> (sza - 1).toString)).size == 1)
    // daytime product: dropped when the sun is lower than required
    assert(run(specWith("sunzen_maximum_angle" -> (sza - 1).toString)).isEmpty)
    assert(run(specWith("sunzen_maximum_angle" -> (sza + 1).toString)).size == 1)
    // minimum wins when both are set (the reference's continue, :763-779)
    assert(run(specWith("sunzen_minimum_angle" -> (sza - 1).toString,
      "sunzen_maximum_angle" -> (sza - 1).toString)).size == 1)
    // unconfigured products pass through
    assert(run(oneProductSpec()).size == 1)
  }

  // -------------------------------------------- check_sunlight_coverage

  test("sunlight coverage prunes by min/max and republishes the percentage") {
    // noon over the box -> fully sunlit
    val md = Map("start_time" -> "2026-08-12T12:00:00Z")
    val day = Map("equator" -> AreaBounds(-5.0, 5.0, -5.0, 5.0))
    def run(settings: Map[String, String]) = SunlightCoverage(day)(
      ctxOf(oneProductSpec(settings, area = "equator"), Map.empty, md)).worklist
    val kept = run(Map("sunlight_min" -> "50"))
    assert(kept.size == 1)
    assert(kept.head.settings("area_sunlight_coverage_percent").toDouble == 100.0)
    assert(run(Map("sunlight_max" -> "50")).isEmpty)
    assert(run(Map.empty).size == 1) // unconfigured -> untouched
  }

  test("OrbitModel laws: unit track vectors, inclination band, swath monotonicity") {
    val rnd = new scala.util.Random(17)
    val orb = CircularOrbit()
    val maxSinLat = math.abs(math.sin(math.toRadians(orb.inclinationDeg)))
    for (_ <- 1 to 200) {
      val m = rnd.nextDouble() * 300
      val (s, c, lon) = orb.track(m)
      assert(math.abs(s * s + c * c - 1.0) < 1e-12, "track (sin,cos) not unit")
      assert(math.abs(s) <= maxSinLat + 1e-12,
        "ground track left the inclination latitude band")
      // every SAMPLED sub-satellite point lies inside its own swath
      val msnap = math.floor(m / orb.stepMin) * orb.stepMin
      val (s2, _, lon2) = orb.track(msnap)
      assert(orb.inSwath(math.toDegrees(math.asin(s2)), lon2, 300.0),
        s"track point at m=$msnap outside its own swath")
      // widening the swath never loses coverage
      val lat = math.toDegrees(math.asin(s))
      if (orb.inSwath(lat, lon, 300.0))
        assert(orb.copy(swathHalfAngleDeg = orb.swathHalfAngleDeg * 2)
          .inSwath(lat, lon, 300.0), "wider swath lost a covered point")
    }
    // antipode of a sampled track point is never in a <90-degree swath
    val (s0, _, lon0) = orb.track(0.0)
    assert(!orb.inSwath(-math.toDegrees(math.asin(s0)), lon0 + 180.0, 0.0))
  }

  test("check_pass cuts sunlight coverage to the overpass footprint") {
    // zero-length scene window -> the orbit contributes exactly one
    // sub-satellite point: the ascending node at (lat 0, lon 0), swath =
    // a 12-degree cap around it
    val md = Map("start_time" -> "2026-08-12T12:00:00Z",
      "end_time" -> "2026-08-12T12:00:00Z")
    val areas = Map(
      "equator" -> AreaBounds(-5.0, 5.0, -5.0, 5.0),
      "far" -> AreaBounds(70.0, 80.0, 10.0, 20.0))
    val orbit = CircularOrbit(ascNodeLonDeg = 0.0)
    def run(area: String, settings: Map[String, String]) =
      SunlightCoverage(areas, orbit = orbit)(
        ctxOf(oneProductSpec(settings, area = area), Map.empty, md)).worklist
    // the pass goes right over the equator box (every grid point within
    // ~6.7 degrees of the node): pass-cut coverage = full noon sun
    val hit = run("equator", Map("sunlight_min" -> "50", "check_pass" -> "true"))
    assert(hit.size == 1)
    assert(hit.head.settings("area_sunlight_coverage_percent").toDouble == 100.0)
    // the far box (75 degrees away) is outside the swath: check_pass
    // scores it 0.0 (ref plugins/__init__.py:886-888) and min prunes it...
    assert(run("far", Map("sunlight_min" -> "50", "check_pass" -> "true")).isEmpty)
    // ...while the same box WITHOUT check_pass is sunlit and kept
    val noPass = run("far", Map("sunlight_min" -> "50"))
    assert(noPass.size == 1)
    assert(noPass.head.settings("area_sunlight_coverage_percent").toDouble == 100.0)
  }

  test("check_pass with SGP4 TLE propagation hits and misses the right areas") {
    // the q150 fixture TLE: its ascending pass crosses western Europe in
    // the first ~20 minutes after epoch and never touches the Americas —
    // the real-propagation version of the synthetic-orbit test above
    val tle = graft.pipeline.Tle.parse(
      graft.queries.Trollflow.q150TleLine1,
      graft.queries.Trollflow.q150TleLine2)
    val orbit = Sgp4Orbit(tle)
    // 90-min window starting at the TLE epoch
    val md = Map("start_time" -> "2024-01-30T22:27:00Z",
      "end_time" -> "2024-01-30T23:57:00Z")
    val areas = Map(
      // crossed by the ascending pass (track samples 5-9) but dark at
      // 22:27 UTC -> pass-cut sunlight is 0, so a min prunes it
      "euro" -> AreaBounds(-10.0, 40.0, 35.0, 70.0),
      // crossed by the descending pass near the date line in daylight
      "pacific" -> AreaBounds(140.0, 180.0, -50.0, 10.0),
      // never touched: the pass-misses-area -> 0.0 branch (ref :886-888)
      "americas" -> AreaBounds(-120.0, -60.0, -30.0, 50.0))
    def run(area: String, settings: Map[String, String]) =
      SunlightCoverage(areas, orbit = orbit)(
        ctxOf(oneProductSpec(settings, area = area), Map.empty, md)).worklist
    val pacific = run("pacific", Map("sunlight_min" -> "50", "check_pass" -> "true"))
    assert(pacific.size == 1)
    assert(pacific.head.settings("area_sunlight_coverage_percent").toDouble == 100.0)
    assert(run("euro", Map("sunlight_min" -> "50", "check_pass" -> "true")).isEmpty)
    assert(run("americas", Map("sunlight_min" -> "1", "check_pass" -> "true")).isEmpty)
    // americas without the pass cut is broadly sunlit and survives
    assert(run("americas", Map("sunlight_min" -> "50")).size == 1)
    // EPOCH ALIGNMENT: a scene window starting 200 min after the TLE
    // epoch must sample the orbit's 200-290-min segment (where the
    // track's first americas pass, samples 216-220 min, lies) — not
    // minutes 0-90. Directly on the model: the americas grid is
    // OUTSIDE the swath for the epoch-aligned first window and INSIDE
    // it once the base offset moves the window onto the later segment.
    val amGrid = for { i <- 0 until 8; j <- 0 until 8 } yield
      (-30.0 + (j + 0.5) * 80.0 / 8, -120.0 + (i + 0.5) * 60.0 / 8)
    assert(!amGrid.exists { case (la, lo) => orbit.inSwath(la, lo, 90.0) },
      "americas must be untouched in the first 90 min after the epoch")
    assert(amGrid.exists { case (la, lo) => orbit.inSwath(la, lo, 90.0, 200.0) },
      "americas must enter the swath for a window based 200 min after the epoch")
    // and the PLUGIN derives that base from the item's start_time vs the
    // model's absolute epoch: at 01:47 UTC the americas pass is real but
    // dark, so the pass-cut percent records 0-ish and a min=0 keeps it
    val late = Map("start_time" -> "2024-01-31T01:47:00Z",
      "end_time" -> "2024-01-31T03:17:00Z")
    def runLate(area: String, settings: Map[String, String]) =
      SunlightCoverage(areas, orbit = orbit)(
        ctxOf(oneProductSpec(settings, area = area), Map.empty, late)).worklist
    val am = runLate("americas", Map("sunlight_min" -> "0", "check_pass" -> "true"))
    assert(am.size == 1)
    // pass-cut percent recorded (the cut was non-empty — alignment put
    // the americas corner inside it; the night pass just isn't sunlit)
    assert(am.head.settings.contains("area_sunlight_coverage_percent"))
    assert(runLate("euro", Map("sunlight_min" -> "1", "check_pass" -> "true")).isEmpty,
      "euro is only crossed in the first 20 min after the TLE epoch")
  }

  // ------------------------------------------------------- save_datasets

  private def saveSpec = oneProductSpec()

  test("resample use_coarsest_area / use_finest_area re-grid the native scene") {
    import spark.implicits._
    // two products at different native resolutions over the same extent:
    // A on a 4x4 grid (values = y*4+x), B on 2x2 (values = y*2+x) — the
    // multi-resolution-channel case of test_trollflow2's resample-mode
    // tests (test_trollflow2.py:1032-1050)
    val a = for { y <- 0 to 3; x <- 0 to 3 }
      yield ("A", y.toLong, x.toLong, (y * 4 + x).toDouble)
    val b = for { y <- 0 to 1; x <- 0 to 1 }
      yield ("B", y.toLong, x.toLong, (y * 2 + x).toDouble)
    val scene = (a ++ b).toDF("product", "y", "x", "value")
    val spec = oneProductSpec()
    val base = ctxOf(spec, Map((None: Option[String]) -> scene))

    // coarsest: target = B's 2x2 grid; A block-means 2x2 cells
    val coarse = Resample(Seq.empty, nativeMode = Some("coarsest"))(base)
    assert(coarse.aborted.isEmpty)
    val cFrame = coarse.frames(None)
    val cA = cFrame.filter($"product" === "A").orderBy($"y", $"x")
      .select($"value").as[Double].collect().toSeq
    // block means of [[0,1,4,5]] etc: (0+1+4+5)/4 = 2.5 ...
    assert(cA == Seq(2.5, 4.5, 10.5, 12.5))
    assert(cFrame.filter($"product" === "B").count() == 4) // untouched grid
    // every product now shares the 2x2 grid
    assert(cFrame.agg(org.apache.spark.sql.functions.max($"y")).as[Long].head() == 1L)

    // finest: target = A's 4x4 grid; B replicates each cell 2x2
    val fine = Resample(Seq.empty, nativeMode = Some("finest"))(base)
    assert(fine.aborted.isEmpty)
    val fFrame = fine.frames(None)
    val fB = fFrame.filter($"product" === "B").orderBy($"y", $"x")
      .select($"value").as[Double].collect().toSeq
    assert(fB == Seq(0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 1.0,
      2.0, 2.0, 3.0, 3.0, 2.0, 2.0, 3.0, 3.0))
    assert(fFrame.filter($"product" === "A").count() == 16)

    // non-integer factor aborts (the native resampler's contract)
    val odd = (for { y <- 0 to 2; x <- 0 to 2 }
      yield ("C", y.toLong, x.toLong, 1.0)).toDF("product", "y", "x", "value")
    val mixed = ctxOf(spec, Map((None: Option[String]) -> scene.unionByName(odd)))
    val bad = Resample(Seq.empty, nativeMode = Some("coarsest"))(mixed)
    assert(bad.aborted.exists(_.contains("integer factor")))
  }

  test("save_datasets runs exactly one Spark job per sink (observed count)") {
    import spark.implicits._
    val frame = Seq(("N", 1.0), ("N", 2.0), ("R", 3.0)).toDF("product", "value")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val outDir = Files.createTempDirectory("graft_onejob").toString
    spark.sparkContext.addSparkListener(listener)
    val out =
      try SaveDatasets(outDir)(ctxOf(saveSpec, Map(None -> frame)))
      finally {
        // let the async listener bus drain before removing
        try Profiling.drain(spark)
        finally spark.sparkContext.removeSparkListener(listener)
      }
    assert(out.manifest.size == 1 && out.manifest.head.rows == 2L)
    assert(jobs.get() == 1, s"expected 1 job for 1 sink, saw ${jobs.get()}")
  }

  test("save_datasets skips zero-row products without a manifest entry or file") {
    import spark.implicits._
    val frame = Seq(("OTHER", 1.0)).toDF("product", "value")
    val outDir = Files.createTempDirectory("graft_zero").toString
    val out = SaveDatasets(outDir)(ctxOf(saveSpec, Map(None -> frame)))
    assert(out.manifest.isEmpty)
    val leftovers = Files.list(Paths.get(outDir)).toArray
    assert(leftovers.isEmpty, s"unexpected files: ${leftovers.mkString(",")}")
  }

  test("batched building fails before any write; eagerWriting writes then fails") {
    import spark.implicits._
    val good = Seq(("N", 1.0)).toDF("product", "value")
    val bad = Seq((1, 2)).toDF("a", "b") // no product column -> analysis error
    val spec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), priority = Some(1), products = Seq(ProductSpec("N"))),
      AreaSpec(Some("pacific"), priority = Some(2), products = Seq(ProductSpec("N")))))
    val frames = Map(Option("euro") -> good, Option("pacific") -> bad)
    val batchedDir = Files.createTempDirectory("graft_batched").toString
    intercept[Exception] {
      SaveDatasets(batchedDir)(ctxOf(spec, frames))
    }
    assert(Files.list(Paths.get(batchedDir)).toArray.isEmpty,
      "batched mode must not write any file when a later sink fails analysis")
    val eagerDir = Files.createTempDirectory("graft_eager").toString
    intercept[Exception] {
      SaveDatasets(eagerDir, eagerWriting = true)(ctxOf(spec, frames))
    }
    assert(Files.exists(Paths.get(eagerDir, "euro_N.tif")),
      "eager mode writes the first file before the second sink is built")
  }

  test("call_on_done callbacks fire in order per committed file") {
    import spark.implicits._
    val frame = Seq(("N", 1.0)).toDF("product", "value")
    val calls = ArrayBuffer.empty[String]
    val outDir = Files.createTempDirectory("graft_cb").toString
    val out = SaveDatasets(outDir, callbacks = Seq(
      f => calls += s"close:${f.product}",
      f => calls += s"move:${f.product}:rows=${f.rows}"))(
      ctxOf(saveSpec, Map(None -> frame)))
    assert(out.manifest.size == 1)
    assert(calls.toSeq == Seq("close:N", "move:N:rows=1"))
  }

  test("staging default publishes all-or-nothing; early_moving per sink") {
    import spark.implicits._
    // two areas, the second with a writer that fails AT WRITE TIME (after
    // the first sink's write committed) — the renamed_files semantics say
    // the first file must then stay in staging, unpublished; early_moving
    // says it was already moved when its own write committed
    val good = Seq(("N", 1.0)).toDF("product", "value")
    val spec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), priority = Some(1), products = Seq(ProductSpec("N"))),
      AreaSpec(Some("pacific"), priority = Some(2), products = Seq(
        ProductSpec("N", settings = Map("writer" -> "no_such_writer"))))))
    val frames = Map(Option("euro") -> good, Option("pacific") -> good)
    def run(early: Boolean): (Int, Int) = {
      val out = Files.createTempDirectory("graft_defer_out").toString
      val stage = Files.createTempDirectory("graft_defer_stage").toString
      intercept[Exception] {
        SaveDatasets(out, stagingZone = Some(stage), earlyMoving = early)(
          ctxOf(spec, frames))
      }
      (Files.list(Paths.get(out)).toArray.length,
        Files.list(Paths.get(stage)).toArray.length)
    }
    assert(run(early = false) == ((0, 1)),
      "deferred mode: written file held in staging, outDir untouched")
    assert(run(early = true) == ((1, 0)),
      "early_moving: first file already published when the second failed")
  }

  test("deferred publication fires callbacks with the final outDir path") {
    import spark.implicits._
    val frame = Seq(("N", 1.0)).toDF("product", "value")
    val outDir = Files.createTempDirectory("graft_defer_cb_out").toString
    val stage = Files.createTempDirectory("graft_defer_cb_stage").toString
    val seen = ArrayBuffer.empty[String]
    val out = SaveDatasets(outDir, stagingZone = Some(stage),
      callbacks = Seq(f => seen += f.path))(ctxOf(saveSpec, Map(None -> frame)))
    assert(out.manifest.size == 1)
    assert(seen.toSeq == Seq(out.manifest.head.path))
    assert(seen.head.startsWith(outDir),
      "callbacks must observe the published location, never the staged one")
    assert(Files.list(Paths.get(stage)).count() == 0)
  }

  // ------------------------------------------------------------ resample

  test("resample nearest mode picks the center-nearest source cell") {
    import spark.implicits._
    // 3x3 source grid onto a 1x1 target: nearest = the center cell (1,1),
    // average = mean of all nine — distinct values prove the mode split
    val cells = for { y <- 0 until 3; x <- 0 until 3 }
      yield ("N", y, x, math.pow(y * 3 + x, 2))
    val frame = cells.toDF("product", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val out = Resample(Seq(
      ResampleTarget("euro", 1, 1, 0, 3, 0, 3, mode = "nearest"),
      ResampleTarget("pacific", 1, 1, 0, 3, 0, 3)))(ctx)
    val near = out.frames(Some("euro")).collect()
    assert(near.length == 1)
    assert(near.head.getAs[Double]("value") == 16.0) // source (1,1) = 4^2
    assert(near.head.getAs[Long]("y") == 0L && near.head.getAs[Long]("x") == 0L)
    val avg = out.frames(Some("pacific")).collect().head.getAs[Double]("value")
    assert(math.abs(avg - 204.0 / 9.0) < 1e-12)
  }

  test("resample nearest breaks distance ties on (y, x)") {
    import spark.implicits._
    // 2x2 source onto a 1x1 target: all four centers are equidistant from
    // the target center, so the tie-break alone picks source (0,0)
    val frame = Seq(("N", 1, 1, 4.0), ("N", 1, 0, 3.0), ("N", 0, 1, 2.0),
      ("N", 0, 0, 1.0)).toDF("product", "y", "x", "value")
    val out = Resample(Seq(ResampleTarget("euro", 1, 1, 0, 2, 0, 2,
      mode = "nearest")))(ctxOf(oneProductSpec(), Map(None -> frame)))
    assert(out.frames(Some("euro")).collect().map(_.getAs[Double]("value"))
      .toSeq == Seq(1.0))
  }

  test("resample nearest measures true distance under unequal y/x scales") {
    import spark.implicits._
    // rows [0,6) onto height 1, cols [0,8) onto width 2: target (0,0)'s
    // center is source (3.0, 2.0). Source (2,0) is 0.5 rows and 1.5 cols
    // away (d² = 2.5); source (0,2) is 2.5 rows and 0.5 cols away
    // (d² = 6.5). The integer distances carry a 2H factor on y and 2W on
    // x, so a bare dy² + dx² (1 + 36 = 37 vs 25 + 4 = 29) would pick (0,2)
    val frame = Seq(("N", 0, 2, 1.0), ("N", 2, 0, 2.0))
      .toDF("product", "y", "x", "value")
    val out = Resample(Seq(ResampleTarget("euro", 2, 1, 0, 6, 0, 8,
      mode = "nearest")))(ctxOf(oneProductSpec(), Map(None -> frame)))
    val got = out.frames(Some("euro")).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("y") == 0L && got.head.getAs[Long]("x") == 0L)
    assert(got.head.getAs[Double]("value") == 2.0)
  }

  test("resample bilinear reproduces a linear field exactly at target centers") {
    import spark.implicits._
    // dense 4x4 grid with v = 10y + x: bilinear interpolation of a linear
    // field is exact, so each interior target center must equal 10*sy + sx
    // where (sy, sx) is the continuous source coordinate of the center
    val cells = for { y <- 0 until 4; x <- 0 until 4 }
      yield ("N", y, x, 10.0 * y + x)
    val frame = cells.toDF("product", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val out = Resample(Seq(
      ResampleTarget("euro", 2, 2, 0, 4, 0, 4, mode = "bilinear")))(ctx)
    val got = out.frames(Some("euro")).collect()
      .map(r => (r.getAs[Long]("y"), r.getAs[Long]("x")) -> r.getAs[Double]("value"))
      .toMap
    assert(got.size == 4)
    // target (ty,tx) center -> source coord sy = (ty+0.5)*2 - 0.5
    for (ty <- 0 until 2; tx <- 0 until 2) {
      val sy = (ty + 0.5) * 2 - 0.5; val sx = (tx + 0.5) * 2 - 0.5
      assert(math.abs(got((ty.toLong, tx.toLong)) - (10 * sy + sx)) < 1e-9,
        s"target ($ty,$tx)")
    }
  }

  test("resample bilinear renormalizes over missing corners") {
    import spark.implicits._
    // only ONE source cell exists: every covered target takes its value
    val frame = Seq(("N", 1, 1, 7.0)).toDF("product", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val out = Resample(Seq(
      ResampleTarget("euro", 2, 2, 0, 4, 0, 4, mode = "bilinear")))(ctx)
    val got = out.frames(Some("euro")).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Double]("value") == 7.0))
  }

  test("resample ewa splats gaussian weights; distance-1 weight is weight_min") {
    import spark.implicits._
    // source row y=0 of [0,1)x[0,2) onto a 1x2 target: source centers land
    // exactly ON target center 0 (d=0, w=1) and at distance 1 from it
    // (d=1, w=weight_min=0.01), so target 0 blends
    // (0*1 + 10*0.01) / 1.01 — the footprint edge sits exactly at r
    val frame = Seq(("N", 0, 0, 0.0), ("N", 0, 1, 10.0))
      .toDF("product", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val out = Resample(Seq(
      ResampleTarget("euro", 2, 1, 0, 1, 0, 2, mode = "ewa")))(ctx)
    val got = out.frames(Some("euro")).collect()
      .map(r => r.getAs[Long]("x") -> r.getAs[Double]("value")).toMap
    assert(got.size == 2)
    assert(math.abs(got(0L) - 0.1 / 1.01) < 1e-12)
    assert(math.abs(got(1L) - (10.0 + 0.0 * 0.01) / 1.01) < 1e-12)
  }

  test("resample ewa maximum_weight_mode keeps the heaviest contribution") {
    import spark.implicits._
    val frame = Seq(("N", 0, 0, 0.0), ("N", 0, 1, 10.0))
      .toDF("product", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val out = Resample(Seq(
      ResampleTarget("euro", 2, 1, 0, 1, 0, 2, mode = "ewa",
        ewa = Raster.Ewa(maximumWeightMode = true))))(ctx)
    val got = out.frames(Some("euro")).collect()
      .map(r => r.getAs[Long]("x") -> r.getAs[Double]("value")).toMap
    assert(got == Map(0L -> 0.0, 1L -> 10.0))
  }

  test("resample ewa rows_per_scan widens the cross-scan footprint (swath ellipse)") {
    import spark.implicits._
    // one column of 4 rows = one scan (rps=4) onto a 4x1 target grid whose
    // centers coincide with the source centers, so every |dy| is an exact
    // integer. Scan rows 0/3 are edge rows (s=2), rows 1/2 near-center
    // (s=4/3): the circular footprint weights every distance-1 neighbor
    // 0.01 and nothing further, the swath ellipse weights a distance-1
    // neighbor 100^(-1/s²) and an edge row reaches distance 2 exactly on
    // its ellipse boundary (e2=1 -> w=0.01)
    val frame = Seq(("N", 0, 0, 0.0), ("N", 1, 0, 10.0),
        ("N", 2, 0, 20.0), ("N", 3, 0, 30.0))
      .toDF("product", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val tgt = ResampleTarget("euro", 1, 4, 0, 4, 0, 1, mode = "ewa",
      ewa = Raster.Ewa(rowsPerScan = Some(4)))
    val got = Resample(Seq(tgt))(ctx).frames(Some("euro")).collect()
      .map(r => r.getAs[Long]("y") -> r.getAs[Double]("value")).toMap
    val ln = math.log(100.0)
    def w(e2: Double) = math.exp(-e2 * ln)
    val a = w(9.0 / 16.0) // |dy|=1 measured against a near-center row (s=4/3)
    val b = w(1.0 / 4.0)  // |dy|=1 measured against an edge row (s=2)
    // ty=0: own cell (w=1, v=0) + y=1 (w=a, v=10); y=2's ellipse (s=4/3)
    // does not reach distance 2 (e2=2.25)
    assert(math.abs(got(0L) - 10 * a / (1 + a)) < 1e-12)
    // ty=1: y=0 is an edge row (w=b), y=2 near-center (w=a), and y=3's
    // edge-row ellipse touches distance 2 exactly (w=0.01)
    assert(math.abs(got(1L) -
      (10 + 20 * a + 30 * 0.01) / (b + 1 + a + 0.01)) < 1e-12)
    // the circular footprint blends the same cells differently — the
    // ellipse is an observable semantic, not a reparameterization
    val circ = Resample(Seq(tgt.copy(ewa = Raster.Ewa())))(ctx)
      .frames(Some("euro")).collect()
      .map(r => r.getAs[Long]("y") -> r.getAs[Double]("value")).toMap
    assert(math.abs(circ(0L) - 10 * 0.01 / 1.01) < 1e-12)
    assert(circ(0L) != got(0L) && circ(1L) != got(1L))
  }

  test("resample ewa weight_sum_min drops under-covered target cells") {
    import spark.implicits._
    // single source cell: target 0 accumulates w=1, target 1 only the
    // tail w=0.01 — a 0.5 threshold keeps the covered cell only
    val frame = Seq(("N", 0, 0, 7.0)).toDF("product", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val out = Resample(Seq(
      ResampleTarget("euro", 2, 1, 0, 1, 0, 2, mode = "ewa",
        ewa = Raster.Ewa(weightSumMin = 0.5))))(ctx)
    val got = out.frames(Some("euro")).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("x") == 0L)
    assert(got.head.getAs[Double]("value") == 7.0)
  }

  test("aggregate and every resample mode keep scene key columns of any name") {
    import spark.implicits._
    // every column other than y/x/value is a key, so key names the
    // kernels might use internally must pass through untouched
    val frame = (for { y <- 0 until 4; x <- 0 until 4 }
      yield ("N", 7L, 8L, 9L, y, x, 10.0 * y + x))
      .toDF("product", "n", "ty", "y0", "y", "x", "value")
    val ctx = ctxOf(oneProductSpec(), Map(None -> frame))
    val agg = Aggregate(xFactor = 2, yFactor = 2)(ctx).frames(None)
    val modes = Seq("average", "nearest", "bilinear", "ewa")
    val out = Resample(modes.map(m => ResampleTarget(m, 2, 2, 0, 4, 0, 4, mode = m)))(ctx)
    for ((label, df) <- ("aggregate" -> agg) +: modes.map(m => m -> out.frames(Some(m)))) {
      assert(df.columns.toSeq.sorted == Seq("n", "product", "ty", "value", "x", "y", "y0"),
        s"$label: ${df.columns.mkString(", ")}")
      val rows = df.collect()
      assert(rows.length == 4, label)
      assert(rows.forall(r => r.getAs[Long]("n") == 7L && r.getAs[Long]("ty") == 8L &&
        r.getAs[Long]("y0") == 9L), label)
    }
  }

  // ------------------------------------------------------ metadata_alias

  test("metadata_alias rewrites list-valued metadata element-wise") {
    val ctx = ctxOf(saveSpec, Map.empty,
      Map("sensor" -> "avhrr,mhs", "platform_name" -> "noaa15"))
    val out = MetadataAlias(Map(
      "sensor" -> Map("avhrr" -> "avhrr/3"),
      "platform_name" -> Map("noaa15" -> "NOAA-15")))(ctx)
    assert(out.metadata("sensor") == "avhrr/3,mhs")
    assert(out.metadata("platform_name") == "NOAA-15")
  }

  // ------------------------------------------------------ file_publisher

  test("file_publisher emits full file metadata plus dispatch messages") {
    import spark.implicits._
    val frame = Seq(("N", 1.0)).toDF("product", "value")
    val outDir = Files.createTempDirectory("graft_pub").toString
    val spec = oneProductSpec(Map(
      "productname" -> "cloud_top_height", "areaname" -> "Europe",
      "dispatch.0.path" -> "/incoming/{product}.{format}",
      "dispatch.0.scheme" -> "ftp", "dispatch.0.hostname" -> "ops.example.org"))
    val ctx0 = ctxOf(spec, Map(None -> frame))
    // coverage percentages flow from the pruning plugins into the message
    val withCov = ctx0.copy(worklist = ctx0.worklist.map(i => i.copy(
      settings = i.settings + ("area_coverage_percent" -> "22.5"))))
    val saved = SaveDatasets(outDir)(withCov)
    val msgs = FilePublisher("/file/{area}/{product}").messageSeq(saved)
    assert(msgs.map(_.msg_type) == Seq("file", "dispatch"))
    val m = msgs.head
    assert(m.topic == "/file/euro/N")
    assert(m.uri == Paths.get(outDir, "euro_N.tif").toString)
    assert(m.uid == "euro_N.tif")
    assert(m.product == "N" && m.productname == "cloud_top_height")
    assert(m.area == "euro" && m.areaname == "Europe")
    assert(m.area_coverage_percent.contains(22.5))
    assert(m.area_sunlight_coverage_percent.isEmpty)
    assert(m.rows == 1L && m.bytes > 0L)
    val d = msgs(1)
    assert(d.target.contains("ftp://ops.example.org/incoming/N.tif"))
    assert(d.source.contains(m.uri))
    // a Spark publisher takes them as a frame of the same shape
    val df = msgs.toDF()
    assert(df.columns.take(2).toSeq == Seq("topic", "msg_type"))
    assert(df.count() == 2)
  }
}
