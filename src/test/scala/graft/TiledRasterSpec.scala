package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, LessThan, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min, Sum}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.operators.Raster
import graft.queries.{TiledRaster, Trollflow}

/** The tile-row raster encoding (SURVEY §1.2 mapping (b)): tall ≡ tiled
  * on the fixture grid, and the plan shapes that make tiles the 100 TB
  * path — the block aggregate adds ZERO exchanges beyond the layout
  * build, and the resample's exchange carries target-grain rows via
  * map-side partial aggregation, never pixel rows. */
class TiledRasterSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private val pk = Seq("area", "product")

  /** A [[Raster]] kernel's rows before `shaped` rounds them: target ->
    * (raw bits of the value, support count when the kernel has one). */
  private def rawBits(df: DataFrame): Map[Seq[Any], (Long, Option[Int])] = {
    val n = df.columns.contains("__n")
    val got = df.collect().toSeq.map { r =>
      Seq(r.getAs[Any]("area"), r.getAs[Any]("product"), r.getAs[Any]("y"),
        r.getAs[Any]("x")) -> (java.lang.Double.doubleToRawLongBits(r.getAs[Double]("value")),
        Option.when(n)(r.getAs[Int]("__n")))
    }
    assert(got.map(_._1).distinct.size == got.size, "a target cell appears twice")
    got.toMap
  }

  private def assertSameBits(tiled: DataFrame, tall: DataFrame, what: String): Unit = {
    val (a, b) = (rawBits(tiled), rawBits(tall))
    assert(a.nonEmpty, s"$what: an empty result would vacuously pass")
    val diff = (a.toSet diff b.toSet) ++ (b.toSet diff a.toSet)
    if (diff.nonEmpty)
      fail(s"$what: tiled and tall raw values differ on ${diff.size} entries, e.g. ${diff.take(3)}")
  }

  /** The bilinear kernel over the tiled and the tall pixels of `dir`, at
    * target mapping (128·t + off)/100, agrees on raw bits. */
  private def assertBilinearBits(dir: String, off: Int): Unit = {
    val axis = Raster.Axis(128, off, 100, 100)
    assertSameBits(Raster.bilinear(TiledRaster.croppedPixels(spark, dir), pk, axis, axis),
      Raster.bilinear(Trollflow.croppedCells(spark, dir, pk), pk, axis, axis),
      s"bilinear at offset $off")
  }

  /** The executed plan's nodes. An InMemoryTableScanExec is a leaf of
    * this walk, so the cached tile layout's own build plan, which a
    * consumer never re-pays, is not in it. */
  private def nodes(p: SparkPlan): PlanShape = PlanShape(p, PlanShape.Leaf)

  /** A consumer query's plan above the shared tile layout, which it must
    * read. */
  private def aboveLayout(df: DataFrame): PlanShape = {
    val ns = PlanShape.of(df, PlanShape.Leaf)
    assert(ns.has[InMemoryTableScanExec], s"not reading the shared tile layout:\n${ns.render}")
    ns
  }

  test("tiled block aggregate == tall block aggregate, bit for bit") {
    val tiled = rows(TiledRaster.q164TiledBlockAggregate(spark, sf))
    val tall = rows(TiledRaster.tallBlockAggregate(spark, sf))
    assert(tiled.nonEmpty, "empty result would vacuously pass")
    assert(tiled == tall, "tile encoding diverged from the tall encoding")
  }

  test("tiled nearest resample == tall nearest resample, bit for bit") {
    val tiled = rows(TiledRaster.q165TiledResampleNearest(spark, sf))
    val tall = rows(TiledRaster.tallResampleNearest(spark, sf))
    assert(tiled.nonEmpty, "empty result would vacuously pass")
    assert(tiled == tall, "tile encoding diverged from the tall encoding")
    // and before rounding: the one kernel over both layouts' pixels
    assertSameBits(Raster.nearest(TiledRaster.croppedPixels(spark, sf), pk, Trollflow.areaGrid),
      Raster.nearest(Trollflow.croppedCells(spark, sf, pk), pk, Trollflow.areaGrid), "nearest")
  }

  test("tiled bilinear resample (halo) == tall bilinear resample, bit for bit") {
    val tiled = rows(TiledRaster.q167TiledResampleBilinear(spark, sf))
    val tall = rows(TiledRaster.tallResampleBilinear(spark, sf))
    assert(tiled.nonEmpty, "empty result would vacuously pass")
    assert(tiled == tall, "tile encoding diverged from the tall encoding")
    assertBilinearBits(sf, 14)
  }

  test("tiled ewa resample (scatter) == tall ewa resample, bit for bit") {
    // compared after rounding only: sum(w·v)/sum(w) adds the weights in
    // partition order, which differs between the layouts' plans, so a few
    // raw values differ in their last bits (2 of 5 000 rows at sf0.001,
    // 390 of 32 550 at sf0.01)
    val tiled = rows(TiledRaster.q168TiledResampleEwa(spark, sf))
    val tall = rows(TiledRaster.tallResampleEwa(spark, sf))
    assert(tiled.nonEmpty, "empty result would vacuously pass")
    assert(tiled == tall, "scatter tile encoding diverged from the tall encoding")
  }

  test("q168 plan: scatter splat partial-aggregates to ONE target-grain exchange") {
    val df = SparkEntry.queries("q168_tiled_resample_ewa")(spark, sf)
    val above = aboveLayout(df)
    // scatter needs no halo: contributions are computed where the source
    // lives and MERGED at the target key — one partial-combined exchange
    assert(above.hashExchanges == 1, s"ewa scatter grew extra shuffles:\n${above.render}")
    assert(above.partial[Sum],
      s"splat lost its map-side partial aggregation:\n${above.render}")
    assert(above.joins.isEmpty && above.windows.isEmpty,
      s"ewa scatter reintroduced a join or window:\n${above.render}")
  }

  test("halo reads actually fire: tiled == tall at a halo-active offset") {
    // At the registered offset 14, y0 = (128t+14) div 100 skips every
    // residue ≡ 31 (mod 32) on this grid — no target's corners straddle
    // a tile edge. Re-run the SAME query at off = 50, where y0 = 31
    // (t = 24) and x0 = 31 exist, so corners come from two, three and
    // four tiles — and pin tiled ≡ tall there: a pixel placed in the
    // wrong tile or at the wrong index diverges HERE even though the
    // registered geometry cannot see it.
    val off = 50
    val n = TiledRaster.TileSize
    val crossings = (0 until 100).map(t => (128 * t + off) / 100)
      .filter(y0 => y0 % n == n - 1 && y0 + 1 < 128)
    assert(crossings.nonEmpty,
      "offset 50 no longer produces tile-edge crossings — pick another")
    val tiled = rows(TiledRaster.tiledBilinear(spark, sf, off))
    val tall = rows(TiledRaster.tallResampleBilinear(spark, sf, off))
    assert(tiled.nonEmpty && tiled == tall,
      "tiled form diverged from the tall form at the tile-crossing offset")
    assertBilinearBits(sf, off)
  }

  test("halo bilinear survives a missing tile: halo-only groups blend mask-aware") {
    // the dense fixture has every crop tile. Carve tile (1,1) out of the
    // source entirely: no tile row exists for it, targets deep inside the
    // hole lose all four corners (den=0, dropped), and targets at the
    // hole's edges blend mask-aware from the neighbor tiles' corners that
    // DO exist — and the result must still equal the tall form bit for
    // bit.
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tiles_sparse")
    val n = TiledRaster.TileSize
    spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(not(
        (col("l_orderkey") % 256).between(n, 2 * n - 1) &&
          ((col("l_partkey") * 7 + col("l_linenumber")) % 256)
            .between(n, 2 * n - 1)))
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val dir = tmp.toString
    val tiledDf = TiledRaster.q167TiledResampleBilinear(spark, dir)
    val tiled = rows(tiledDf)
    val tall = rows(TiledRaster.tallResampleBilinear(spark, dir))
    assert(tiled.nonEmpty && tiled == tall,
      "tiled form diverged from the tall form on the sparse grid")
    assertBilinearBits(dir, 14)
    // the hole really exercised the mask-aware path: some surviving
    // targets blend from fewer than 4 corners
    val partial = tiledDf.filter(col("n_nb") < 4).count()
    assert(partial > 0, "sparse fixture produced no partial blends")
    // and some targets vanished entirely (all four corners in the hole)
    val dense = TiledRaster.q167TiledResampleBilinear(spark, sf).count()
    assert(tiled.size < dense,
      "sparse fixture lost no targets — the hole missed the crop region")
  }

  test("q167 plan: ONE halo shuffle, zero joins — the map_overlap shape") {
    val df = SparkEntry.queries("q167_tiled_resample_bilinear")(spark, sf)
    val above = aboveLayout(df)
    // the scatter pays one target-grain exchange past the layout: each
    // cell's corner rows meet at their target key, and nothing joins
    assert(above.hashExchanges == 1, s"bilinear grew extra shuffles:\n${above.render}")
    assert(above.joins.isEmpty, s"bilinear reintroduced a join:\n${above.render}")
    // the corner gather partial-aggregates map-side (max(when) combine)
    assert(above.partial[Max],
      s"corner gather lost its map-side combine:\n${above.render}")
  }

  test("tile table: dense row-major arrays, null fill, full coverage") {
    import org.apache.spark.sql.functions._
    val t = TiledRaster.tiles(spark, sf) // session-shared, persisted
    val n = TiledRaster.TileSize
    // every tile is a dense TileSize^2 array
    assert(t.filter(size(col("cells")) =!= n * n).count() == 0)
    // spot-check placement: cell (y, x) of the tall derivation appears
    // at cells[(y % n) * n + (x % n)] of tile (y div n, x div n)
    val cellsTall = queries.Trollflow.raster(spark, sf)
      .groupBy(col("area"), col("product"), col("y"), col("x"))
      .agg(avg(col("value")).as("cell"))
    val sample = cellsTall.orderBy(col("area"), col("product"), col("y"),
      col("x")).limit(5).collect()
    sample.foreach { r =>
      val (area, product) = (r.getString(0), r.getString(1))
      val (y, x) = (r.getLong(2), r.getLong(3))
      val tile = t.filter(col("area") === area && col("product") === product
          && col("tile_y") === y / n && col("tile_x") === x / n)
        .select(col("cells")).head().getSeq[Any](0)
      val got = tile(((y % n) * n + (x % n)).toInt)
      assert(got == r.getDouble(4), s"cell ($y, $x) misplaced in its tile")
    }
  }

  test("tile assembly plan: exactly the two layout-build shuffles") {
    // cold view: empty the CacheManager so it can't plan-match
    // the assembly into an InMemoryRelation — this pin is about the
    // BUILD's shape, which the cached path would hide
    spark.sharedState.cacheManager.clearCache()
    val p = TiledRaster.tilesPlan(spark, sf).queryExecution.executedPlan
    val ns = nodes(p)
    // pixel-grain cell means + tile-grain array packing — paid ONCE at
    // layout-build time (the consumers below read the shared frame)
    assert(ns.hashExchanges == 2, s"tile assembly grew extra shuffles:\n${ns.render}")
    assert(!ns.has[InMemoryTableScanExec],
      s"cold build still cache-matched:\n${ns.render}")
  }

  test("q164 plan: block means are tile-local — ZERO exchanges past the layout") {
    val df = SparkEntry.queries("q164_tiled_block_aggregate")(spark, sf)
    // the consumer reads the session-shared tile frame; the block-mean
    // kernel runs per tile ROW, so nothing shuffles at all (the tall
    // form pays a pixel-keyed exchange for the block grouping; the
    // final orderBy is a range-partitioned exchange over block-grain
    // rows, not a hash one)
    val above = aboveLayout(df)
    assert(above.hashExchanges == 0,
      s"block aggregate grew a post-layout shuffle:\n${above.render}")
    assert(above.windows.isEmpty, "block aggregate should not need a window")
  }

  test("q165 plan: resample shuffles target-grain rows — partial min before the exchange") {
    val df = SparkEntry.queries("q165_tiled_resample_nearest")(spark, sf)
    // the one target-cell aggregation exchange past the shared layout
    val above = aboveLayout(df)
    assert(above.hashExchanges == 1, s"resample grew extra shuffles:\n${above.render}")
    // map-side combine: a partial min aggregate must sit BELOW the
    // target exchange, so pixels collapse to <= one candidate per target
    // cell per partition before anything crosses the network
    assert(above.partial[Min],
      s"no map-side partial aggregation before the target exchange:\n${above.render}")
    // nearest is an argmin aggregate, never a per-target window sort
    // over pixel rows (the tall twin's Raster.nearest has none either)
    assert(above.windows.isEmpty, "tiled resample reintroduced the window")
  }

  test("q166 plan: valid fraction is a per-tile kernel plus one product-grain rollup") {
    val df = SparkEntry.queries("q166_tiled_valid_fraction")(spark, sf)
    // one (area, product) rollup past the shared layout — the non-null
    // count itself runs inside each tile's array (filter+size kernel)
    val above = aboveLayout(df)
    assert(above.hashExchanges == 1, s"valid fraction grew extra shuffles:\n${above.render}")
    // denominator is the ALLOCATED grid: every fraction is in (0, 1],
    // and n_cells/(n_tiles * TileSize^2) reproduces it exactly
    val n = TiledRaster.TileSize * TiledRaster.TileSize
    df.collect().foreach { r =>
      val (vf, cells, tiles) = (r.getDouble(2), r.getLong(3), r.getLong(4))
      assert(vf > 0 && vf <= 1.0, s"fraction out of range: $r")
      // vf is rounded at 5 dp, so the recomputation agrees to half-ULP
      // of that grain
      assert(math.abs(vf - (1e-9 + cells.toDouble / (tiles * n))) <= 5.1e-6,
        s"fraction disagrees with its own counts: $r")
    }
  }

  test("q165 plan: reduce_data crop prunes whole tile rows before the explode") {
    val p = SparkEntry.queries("q165_tiled_resample_nearest")(spark, sf)
      .queryExecution.executedPlan
    // the crop predicate is on the tile KEYS (tile_y/tile_x < 4): a
    // filter or a scan predicate BELOW the pixel explode, not a filter
    // on exploded pixels (whose inferred isnotnull(tile_*) guards would
    // sit below it too, hence the match on the bound itself)
    def bounds(e: Expression, key: String): Boolean = e.exists {
      case LessThan(a: Attribute, _: Literal) => a.name == key
      case _ => false
    }
    def cropsTiles(ns: PlanShape): Boolean = Seq("tile_y", "tile_x").forall { key =>
      ns.nodes.exists {
        case f: FilterExec => bounds(f.condition, key)
        case s: InMemoryTableScanExec => s.predicates.exists(bounds(_, key))
        case _ => false
      }
    }
    val explodes = nodes(p).all[GenerateExec]
    assert(explodes.nonEmpty && explodes.forall(g => cropsTiles(nodes(g.child))),
      s"tile-grain crop missing below the pixel explode:\n${PlanShape.render(p)}")
  }
}
