package graft

import org.apache.spark.sql.DataFrame

import graft.queries.TiledRaster

/** The tile-row raster encoding (SURVEY §1.2 mapping (b)): tall ≡ tiled
  * on the fixture grid, and the plan shapes that make tiles the 100 TB
  * path — the block aggregate adds ZERO exchanges beyond the layout
  * build, and the resample's exchange carries target-grain rows via
  * map-side partial min, never pixel rows. */
class TiledRasterSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The consumer-side plan text ABOVE the cached tile layout: an
    * executed InMemoryRelation renders its own adaptive build plan twice
    * (Final + Initial), so counting exchanges on the full string would
    * double-count the layout build that the consumer never re-pays. */
  private def aboveLayout(p: String): String = p.split("InMemoryRelation").head

  private def hashExchanges(p: String): Int =
    p.linesIterator.count(_.contains("Exchange hashpartitioning"))

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
  }

  test("tiled bilinear resample (halo) == tall bilinear resample, bit for bit") {
    val tiled = rows(TiledRaster.q167TiledResampleBilinear(spark, sf))
    val tall = rows(TiledRaster.tallResampleBilinear(spark, sf))
    assert(tiled.nonEmpty, "empty result would vacuously pass")
    assert(tiled == tall, "halo tile encoding diverged from the tall encoding")
  }

  test("tiled ewa resample (scatter) == tall ewa resample, bit for bit") {
    val tiled = rows(TiledRaster.q168TiledResampleEwa(spark, sf))
    val tall = rows(TiledRaster.tallResampleEwa(spark, sf))
    assert(tiled.nonEmpty, "empty result would vacuously pass")
    assert(tiled == tall, "scatter tile encoding diverged from the tall encoding")
  }

  test("q168 plan: scatter splat partial-aggregates to ONE target-grain exchange") {
    val p = SparkEntry.queries("q168_tiled_resample_ewa")(spark, sf)
      .queryExecution.executedPlan.toString
    val above = aboveLayout(p)
    // scatter needs no halo: contributions are computed where the source
    // lives and MERGED at the target key — one partial-combined exchange
    assert(hashExchanges(above) == 1, s"ewa scatter grew extra shuffles:\n$p")
    assert(above.contains("partial_sum"),
      s"splat lost its map-side partial aggregation:\n$p")
    assert(!above.contains("SortMergeJoin") && !above.contains("Window"),
      s"ewa scatter reintroduced a join or window:\n$p")
  }

  test("halo reads actually fire: tiled == tall at a halo-active offset") {
    // At the registered offset 14, y0 = (128t+14) div 100 skips every
    // residue ≡ 31 (mod 32) on this grid — no corner crosses a tile
    // edge, so q167's halo fragments ship unread (documented there).
    // Re-run the SAME kernel at off = 50, where y0 = 31 (t = 24) and
    // x0 = 31 exist, so all four halo reads (r[ly], b[lx], r[ly+1],
    // b[lx+1], br[0]) fire — and pin tiled ≡ tall there: a wrong halo
    // payload, index, or destination tile diverges HERE even though the
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
      "halo form diverged from the tall form at the halo-active offset")
  }

  test("halo bilinear survives a missing tile: halo-only groups blend mask-aware") {
    // the dense fixture never fires the null-halo branches (every crop
    // tile exists, every fragment arrives). Carve tile (1,1) out of the
    // source entirely: its group then exists on HALO alone (c null, r/b/
    // br from the neighbors), targets deep inside the hole lose all four
    // corners (den=0, dropped), and targets at the hole's edges blend
    // mask-aware from the fragments that DO exist — and the result must
    // still equal the tall corner-scatter form bit for bit.
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
      "halo form diverged from the tall form on the sparse grid")
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
    val p = SparkEntry.queries("q167_tiled_resample_bilinear")(spark, sf)
      .queryExecution.executedPlan.toString
    val above = aboveLayout(p)
    // the tall form shuffles pixel-grain corner rows; the halo form pays
    // one tile-grain exchange (halo assembly) and the blend is row-local
    assert(hashExchanges(above) == 1, s"halo form grew extra shuffles:\n$p")
    assert(!above.contains("SortMergeJoin") && !above.contains("BroadcastHashJoin")
      && !above.contains("ShuffledHashJoin"),
      s"halo form reintroduced a join:\n$p")
    // halo assembly partial-aggregates map-side (max(when) combine)
    assert(above.contains("partial_max"),
      s"halo assembly lost its map-side combine:\n$p")
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
    val p = TiledRaster.tilesPlan(spark, sf)
      .queryExecution.executedPlan.toString
    // pixel-grain cell means + tile-grain array packing — paid ONCE at
    // layout-build time (the consumers below read the shared frame)
    assert(hashExchanges(p) == 2, s"tile assembly grew extra shuffles:\n$p")
    assert(!p.contains("InMemoryRelation"), s"cold build still cache-matched:\n$p")
  }

  test("q164 plan: block means are tile-local — ZERO exchanges past the layout") {
    val p = SparkEntry.queries("q164_tiled_block_aggregate")(spark, sf)
      .queryExecution.executedPlan.toString
    // the consumer reads the session-shared tile frame; the block-mean
    // kernel runs per tile ROW, so nothing shuffles at all (the tall
    // form pays a pixel-keyed exchange for the block grouping; the
    // final orderBy is a rangepartitioning exchange over block-grain
    // rows, not a hash one)
    assert(p.contains("InMemoryTableScan"),
      s"q164 is not reading the shared tile layout:\n$p")
    assert(hashExchanges(aboveLayout(p)) == 0,
      s"block aggregate grew a post-layout shuffle:\n$p")
    assert(!aboveLayout(p).contains("Window"),
      "block aggregate should not need a window")
  }

  test("q165 plan: resample shuffles target-grain rows — partial min before the exchange") {
    val df = SparkEntry.queries("q165_tiled_resample_nearest")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the one target-cell aggregation exchange past the shared layout
    assert(p.contains("InMemoryTableScan"),
      s"q165 is not reading the shared tile layout:\n$p")
    assert(hashExchanges(aboveLayout(p)) == 1,
      s"resample grew extra shuffles:\n$p")
    // map-side combine: a partial_min HashAggregate must sit BELOW the
    // target exchange, so pixels collapse to <= one candidate per target
    // cell per partition before anything crosses the network
    assert(aboveLayout(p).contains("partial_min"),
      s"no map-side partial aggregation before the target exchange:\n$p")
    // nearest is an argmin aggregate, never a per-target window sort
    // over pixel rows (the tall twin's Raster.nearest has none either)
    assert(!aboveLayout(p).contains("Window"),
      "tiled resample reintroduced the window")
  }

  test("q166 plan: valid fraction is a per-tile kernel plus one product-grain rollup") {
    val df = SparkEntry.queries("q166_tiled_valid_fraction")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // one (area, product) rollup past the shared layout — the non-null
    // count itself runs inside each tile's array (filter+size kernel)
    assert(hashExchanges(aboveLayout(p)) == 1,
      s"valid fraction grew extra shuffles:\n$p")
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
      .queryExecution.executedPlan.toString
    // the crop predicate is on the tile KEYS (tile_y/tile_x < 4), visible
    // as a filter on the tile aggregation's output, not on exploded pixels
    assert(p.contains("tile_y") && p.contains("tile_x"),
      s"tile-grain crop keys missing from the plan:\n$p")
  }
}
