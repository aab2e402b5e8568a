package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Raster

/** Tile-row raster encoding — SURVEY §1.2 mapping (b), the declared
  * 100 TB mirror of the reference's chunked dask arrays
  * (plugins/__init__.py:34-35: a Scene's rasters are xarray DataArrays
  * backed by dask CHUNKS, and every reference raster operator executes
  * chunk-at-a-time).
  *
  * Encoding: one row per (area, product, tile_y, tile_x) carrying a
  * dense row-major `ArrayType(DoubleType)` of [[TileSize]]² cells, null
  * = fill (the reference's NaN, doc/source/plugins.rst:320). Against the
  * tall one-row-per-pixel encoding (mapping (a), [[Trollflow]]), the
  * tile encoding changes the SCALE story, not the semantics:
  *
  *  - a 100 TB raster is ~10¹³ pixels — tall rows mean per-pixel shuffle
  *    keys for every operator; tiles cut row count (and shuffle-key
  *    volume) by TileSize² (1024× here, ~10⁶× at a production 1024²
  *    chunk size);
  *  - operators whose support fits inside a tile (block aggregate with
  *    block | tile) become PER-ROW array kernels — zero exchange beyond
  *    the layout build, embarrassingly tile-parallel exactly like the
  *    reference's dask block map (`coarsen` runs per chunk);
  *  - operators that cross tile edges (the resamplers q165, q167, q168)
  *    explode WITHIN the tile row and run the shared [[Raster]] kernel:
  *    its hash aggregate combines per-target candidates map-side BEFORE
  *    the exchange, so the shuffle carries target-grain rows, never
  *    pixel-grain ones.
  *
  * Each query runs at per-(area, product) grain (the reference
  * aggregates each product's raster independently), with DuckDB oracles
  * over the TALL derivation proving tall ≡ tiled on the fixture grid,
  * and TiledRasterSpec pinning the Spark-side tall twins equal bit for
  * bit.
  *
  * The in-tile kernels' lambdas (`transform`/`aggregate`) run
  * interpreted, not codegen — the trade is deliberate: they REMOVE the
  * per-pixel exchange entirely (the one case the array-at-a-time form
  * wins; compare Dedup q121's docstring where the same rewrite LOST
  * because the window's shuffle stayed either way).
  */
object TiledRaster extends QueryPack {

  /** Tile edge in pixels. 32 on the 256×256 fixture grid (64 tiles per
    * product raster — enough parallelism at test scale); a production
    * 100 TB deployment picks the dask-typical 512–1024 (the math below
    * only assumes the q39/q55 block and crop sizes divide it). */
  val TileSize = 32

  /** Blocks per tile edge for the q39-semantics block aggregate: 8-pixel
    * blocks over 32-pixel tiles → 4×4 = 16 blocks, never straddling a
    * tile edge. */
  private val B = 8
  private val BlocksPerSide = TileSize / B

  /** Tile assembly — the write-once LAYOUT step (at 100 TB this table
    * is written once and every raster operator reads it; in the fixture
    * queries it is built in-line from the tall parquet derivation).
    * Two shuffles, both at assembly time only: pixel-grain cell means
    * (the reference's one-value-per-pixel Scene contract), then
    * tile-grain array packing. `try_element_at` fills absent pixels
    * with null — the NaN-fill convention.
    *
    * [[tiles]] serves the session-shared memoized frame (the
    * [[SharedFrames]] warm-layout contract every stored family uses:
    * consumers are timed against the layout, not its build); this is
    * the raw assembly plan the layout-shape spec pins. */
  private[graft] def tilesPlan(spark: SparkSession, dir: String): DataFrame = {
    val n = TileSize
    Trollflow.raster(spark, dir)
      .groupBy(col("area"), col("product"), col("y"), col("x"))
      .agg(avg(col("value")).as("cell"))
      .withColumn("tile_y", expr(s"y div $n"))
      .withColumn("tile_x", expr(s"x div $n"))
      .withColumn("idx", expr(s"CAST((y % $n) * $n + (x % $n) AS INT)"))
      .groupBy(col("area"), col("product"), col("tile_y"), col("tile_x"))
      .agg(map_from_entries(collect_list(struct(col("idx"), col("cell"))))
        .as("m"))
      .select(col("area"), col("product"), col("tile_y"), col("tile_x"),
        expr(s"transform(sequence(0, ${n * n - 1}), i -> try_element_at(m, i))")
          .as("cells"))
  }

  /** The tile table every tiled operator reads: the session-shared
    * persisted frame (one per (session, dir) — mirroring how a
    * deployment reads the stored layout instead of re-assembling per
    * query). */
  def tiles(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(spark, dir, "tiles")(tilesPlan(spark, dir))

  /** T1 `aggregate` over TILES (q39's block-mean semantics at
    * per-product grain): 8×8 block means computed INSIDE each tile's
    * array — blocks divide tiles, so after the layout build the
    * operator is a per-row kernel with ZERO exchange (the tall form
    * shuffles every pixel; pinned by TiledRasterSpec). The in-array
    * fold accumulates (sum, count) over each block's 64 positions,
    * skipping nulls — count(*) semantics of the tall twin's cells rows. */
  def q164TiledBlockAggregate(spark: SparkSession, dir: String): DataFrame = {
    val n = TileSize
    val blocks =
      s"""transform(sequence(0, ${BlocksPerSide * BlocksPerSide - 1}), b ->
         |  aggregate(
         |    sequence(0, ${B * B - 1}),
         |    named_struct('s', 0D, 'c', 0L),
         |    (a, j) -> if(
         |      cells[CAST((b div $BlocksPerSide) * ${B * n} + (j div $B) * $n
         |            + (b % $BlocksPerSide) * $B + (j % $B) AS INT)] IS NULL,
         |      a,
         |      named_struct(
         |        's', a.s + cells[CAST((b div $BlocksPerSide) * ${B * n}
         |              + (j div $B) * $n + (b % $BlocksPerSide) * $B
         |              + (j % $B) AS INT)],
         |        'c', a.c + 1L)),
         |    a -> named_struct('b', b, 's', a.s, 'c', a.c)))""".stripMargin
    tiles(spark, dir)
      .select(col("area"), col("product"), col("tile_y"), col("tile_x"),
        explode(expr(blocks)).as("blk"))
      .filter(col("blk.c") > 0)
      .select(col("area"), col("product"),
        (col("tile_y") * BlocksPerSide + expr(s"blk.b div $BlocksPerSide")).as("by"),
        (col("tile_x") * BlocksPerSide + expr(s"blk.b % $BlocksPerSide")).as("bx"),
        round(lit(1e-9) + col("blk.s") / col("blk.c"), 4).as("block_mean"),
        col("blk.c").as("n_cells"))
      .orderBy(col("area"), col("product"), col("by"), col("bx"))
  }

  val q164Sql: String =
    s"""WITH ${Trollflow.rasterSql},
       |cells AS (
       |  SELECT area, product, y, x, avg(value) AS cell
       |  FROM raster GROUP BY 1, 2, 3, 4)
       |SELECT area, product, y // 8 AS by, x // 8 AS bx,
       |  round(1e-9 + avg(cell), 4) AS block_mean, count(*) AS n_cells
       |FROM cells
       |GROUP BY 1, 2, 3, 4
       |ORDER BY area, product, by, bx""".stripMargin

  /** T2 nearest `resample` over TILES (q55's semantics at per-product
    * grain). The `reduce_data` crop (y,x < 128) prunes at TILE grain —
    * 128 = 4·TileSize, so `tile_y < 4 AND tile_x < 4` is the exact crop
    * and the filter eliminates whole tile ROWS before any work. Cells
    * then posexplode WITHIN the tile row (narrow — no exchange) and
    * [[Raster.nearest]]'s `min(struct(d², y, x, value))` partial-
    * aggregates map-side: each partition combines its pixels down to one
    * candidate per target cell BEFORE the exchange, so the shuffle
    * carries O(target cells) rows per partition — never pixel rows
    * (pinned by TiledRasterSpec). Ties break on (y, x), matching the
    * oracle's window order, via the struct's lexicographic min. */
  def q165TiledResampleNearest(spark: SparkSession, dir: String): DataFrame =
    Trollflow.shaped(Raster.nearest(croppedPixels(spark, dir), pk, Trollflow.areaGrid),
      pk, "nearest", None)

  val q165Sql: String =
    s"""WITH ${Trollflow.rasterSql},
       |cells AS (
       |  SELECT area, product, y, x, avg(value) AS cell
       |  FROM raster WHERE y < 128 AND x < 128
       |  GROUP BY 1, 2, 3, 4),
       |m AS (
       |  SELECT area, product, y, x, cell,
       |    (y * 100) // 256 AS ty, (x * 100) // 256 AS tx
       |  FROM cells),
       |d AS (
       |  SELECT area, product, ty, tx, cell, y, x,
       |    (y * 100 + 50 - (ty * 256 + 128)) AS dy,
       |    (x * 100 + 50 - (tx * 256 + 128)) AS dx
       |  FROM m),
       |r AS (
       |  SELECT area, product, ty, tx, cell,
       |    row_number() OVER (PARTITION BY area, product, ty, tx
       |                       ORDER BY dy * dy + dx * dx, y, x) AS rn
       |  FROM d)
       |SELECT area, product, ty, tx, round(1e-9 + cell, 4) AS nearest
       |FROM r WHERE rn = 1
       |ORDER BY area, product, ty, tx""".stripMargin

  /** F6/A1 valid-data fraction over TILES — the reference's literal
    * `valid.sum() / valid.size` contract (plugins/__init__.py:1062-1064:
    * notnull count over the ALLOCATED array size, NaN = fill): per
    * (area, product), non-null cells over tiles × TileSize². The null
    * slots of the dense tile arrays ARE the fill pixels, so the
    * denominator falls out of the encoding — where the tall form (q41)
    * can only see rows that exist. Per-row array kernel (`filter` +
    * `size`) then one (area, product)-grain aggregation: zero exchange
    * at pixel grain past the layout build, same scale shape as q164. */
  def q166TiledValidFraction(spark: SparkSession, dir: String): DataFrame = {
    val n = TileSize
    tiles(spark, dir)
      .select(col("area"), col("product"),
        size(filter(col("cells"), c => c.isNotNull)).as("n_valid"))
      .groupBy(col("area"), col("product"))
      .agg(
        round(lit(1e-9) + sum(col("n_valid")) /
          (count(lit(1)) * lit(n * n)), 5).as("valid_frac"),
        sum(col("n_valid")).as("n_cells"),
        count(lit(1)).as("n_tiles"))
      .orderBy(col("area"), col("product"))
  }

  val q166Sql: String =
    s"""WITH ${Trollflow.rasterSql},
       |cells AS (
       |  SELECT DISTINCT area, product, y, x FROM raster),
       |per_tile AS (
       |  SELECT area, product, y // $TileSize AS ty, x // $TileSize AS tx,
       |    count(*) AS n_valid
       |  FROM cells GROUP BY 1, 2, 3, 4)
       |SELECT area, product,
       |  round(1e-9 + sum(n_valid)::DOUBLE /
       |    (count(*) * ${TileSize * TileSize}), 5) AS valid_frac,
       |  sum(n_valid)::BIGINT AS n_cells, count(*) AS n_tiles
       |FROM per_tile
       |GROUP BY 1, 2
       |ORDER BY area, product""".stripMargin

  /** T2 bilinear `resample` over TILES (q63's semantics at per-(area,
    * product) grain): each target cell center maps to the continuous
    * source coordinate (128·t + 14)/100 on both axes; its value is the
    * weight-renormalized mask-aware blend of the ≤ 4 surrounding cells.
    *
    * The same scale shape as q165 and q168: cells posexplode WITHIN the
    * cropped tile rows, then [[Raster.bilinear]] scatters each cell to the
    * targets it is a corner of and gathers the four corners in ONE
    * target-grain hash aggregate whose `max(when(corner, value))` partials
    * combine map-side. Scatter means a corner across a tile edge costs
    * nothing extra, so no halo exchange is needed (dask's `map_overlap`
    * pattern would be the GATHER form's price). No joins (pinned in
    * TiledRasterSpec).
    *
    * Measured (warm layout, sf0.1, 4 cores, QTime best-of-3, 4
    * alternating pairs): this form runs 0.65–0.77 s (median 0.73) against
    * 1.02–1.28 s (median 1.16) for the in-array halo kernel it replaced,
    * which shuffled every tile's whole array to assemble it with its
    * halo. */
  def q167TiledResampleBilinear(spark: SparkSession, dir: String): DataFrame =
    tiledBilinear(spark, dir, off = 14)

  /** [[q167TiledResampleBilinear]] with the target-mapping offset
    * explicit: source coordinate (128·t + off)/100 on both axes, which no
    * integer [[Raster.Grid]] states for off ≠ 14. TiledRasterSpec runs
    * off = 50, whose corners cross tile edges. */
  private[graft] def tiledBilinear(spark: SparkSession, dir: String,
      off: Int): DataFrame = {
    val axis = Raster.Axis(128, off, 100, 100)
    Trollflow.shaped(Raster.bilinear(croppedPixels(spark, dir), pk, axis, axis),
      pk, "bilinear", Some("n_nb"))
  }

  val q167Sql: String =
    s"""WITH ${Trollflow.rasterSql},
       |cells AS (
       |  SELECT area, product, y, x, avg(value) AS cell
       |  FROM raster WHERE y < 128 AND x < 128
       |  GROUP BY 1, 2, 3, 4),
       |targets AS (
       |  SELECT area, product, ty, tx,
       |    (128 * ty + 14) // 100 AS y0, (128 * tx + 14) // 100 AS x0,
       |    ((128 * ty + 14) % 100) / 100.0 AS fy,
       |    ((128 * tx + 14) % 100) / 100.0 AS fx
       |  FROM (SELECT DISTINCT area, product FROM cells),
       |       range(0, 100) t1(ty), range(0, 100) t2(tx)),
       |j AS (
       |  SELECT t.*,
       |    c00.cell AS v00, c01.cell AS v01, c10.cell AS v10, c11.cell AS v11
       |  FROM targets t
       |  LEFT JOIN cells c00 ON t.area = c00.area AND t.product = c00.product
       |    AND t.y0 = c00.y AND t.x0 = c00.x
       |  LEFT JOIN cells c01 ON t.area = c01.area AND t.product = c01.product
       |    AND t.y0 = c01.y AND t.x0 + 1 = c01.x
       |  LEFT JOIN cells c10 ON t.area = c10.area AND t.product = c10.product
       |    AND t.y0 + 1 = c10.y AND t.x0 = c10.x
       |  LEFT JOIN cells c11 ON t.area = c11.area AND t.product = c11.product
       |    AND t.y0 + 1 = c11.y AND t.x0 + 1 = c11.x),
       |b AS (
       |  SELECT area, product, ty, tx,
       |    (1.0 - fy) * (1.0 - fx) * coalesce(v00, 0.0)
       |      + (1.0 - fy) * fx * coalesce(v01, 0.0)
       |      + fy * (1.0 - fx) * coalesce(v10, 0.0)
       |      + fy * fx * coalesce(v11, 0.0) AS num,
       |    (1.0 - fy) * (1.0 - fx) * (CASE WHEN v00 IS NULL THEN 0.0 ELSE 1.0 END)
       |      + (1.0 - fy) * fx * (CASE WHEN v01 IS NULL THEN 0.0 ELSE 1.0 END)
       |      + fy * (1.0 - fx) * (CASE WHEN v10 IS NULL THEN 0.0 ELSE 1.0 END)
       |      + fy * fx * (CASE WHEN v11 IS NULL THEN 0.0 ELSE 1.0 END) AS den,
       |    (CASE WHEN v00 IS NULL THEN 0 ELSE 1 END)
       |      + (CASE WHEN v01 IS NULL THEN 0 ELSE 1 END)
       |      + (CASE WHEN v10 IS NULL THEN 0 ELSE 1 END)
       |      + (CASE WHEN v11 IS NULL THEN 0 ELSE 1 END) AS n_nb
       |  FROM j)
       |SELECT area, product, ty, tx,
       |  round(1e-9 + num / den, 4) AS bilinear, n_nb
       |FROM b WHERE den > 0
       |ORDER BY area, product, ty, tx""".stripMargin

  /** T2 ewa `resample` over TILES (q123's scatter-splat semantics at
    * per-(area, product) grain): each source cell splats a
    * gaussian-weighted contribution onto every target cell within
    * r = 1.0 of its mapped position; targets blend sum(w·v)/sum(w).
    *
    * SCATTER is the tile-friendly direction (the reference's own EWA
    * works this way over dask chunks): cells posexplode WITHIN the tile
    * row, then [[Raster.ewa]] fans them out by the plan-time constant 9
    * (3×3 candidate window), and its target-grain hash aggregate
    * partial-combines map-side — the same exchange shape as q165, with
    * sums instead of a min. No halo needed: scatter means a contribution
    * is computed where the SOURCE lives and merged at the target key, so
    * cross-tile support costs nothing extra. The tile layout has two
    * scale patterns: in-tile kernel with zero exchange (q164, q166), and
    * scatter + partial aggregation (q165, q167, q168). */
  def q168TiledResampleEwa(spark: SparkSession, dir: String): DataFrame =
    Trollflow.shaped(Raster.ewa(croppedPixels(spark, dir), pk, Trollflow.cropGrid),
      pk, "ewa", Some("n_contrib"))

  val q168Sql: String =
    s"""WITH ${Trollflow.rasterSql},
       |cells AS (
       |  SELECT area, product, y, x, avg(value) AS cell
       |  FROM raster WHERE y < 128 AND x < 128
       |  GROUP BY 1, 2, 3, 4),
       |pos AS (
       |  SELECT area, product, cell, y * 200 + 100 AS ny, x * 200 + 100 AS nx,
       |    (y * 200 + 100 - 128 + ${256L * (1L << 20)}) // 256 - ${1L << 20} AS tyb,
       |    (x * 200 + 100 - 128 + ${256L * (1L << 20)}) // 256 - ${1L << 20} AS txb
       |  FROM cells),
       |splat AS (
       |  SELECT area, product, cell, ny, nx, tyb + ky AS ty, txb + kx AS tx,
       |    (ny / 256.0 - (tyb + ky + 0.5)) AS dy,
       |    (nx / 256.0 - (txb + kx + 0.5)) AS dx
       |  FROM pos, range(-1, 2) g1(ky), range(-1, 2) g2(kx)),
       |wtd AS (
       |  SELECT area, product, ty, tx, cell,
       |    exp((dy * dy + dx * dx) * -4.605170185988092) AS w
       |  FROM splat
       |  WHERE dy * dy + dx * dx <= 1.0
       |    AND ty >= 0 AND ty < 100 AND tx >= 0 AND tx < 100)
       |SELECT area, product, ty, tx,
       |  round(1e-9 + sum(w * cell) / sum(w), 4) AS ewa,
       |  count(*) AS n_contrib
       |FROM wtd
       |GROUP BY 1, 2, 3, 4
       |ORDER BY area, product, ty, tx""".stripMargin

  /** The `reduce_data` crop's non-fill pixels as a tall (area, product,
    * y, x, value) frame: the crop (y, x < 128 = 4·TileSize) prunes whole
    * tile rows on the tile KEYS, then cells posexplode WITHIN each tile
    * row — narrow, no exchange. The tiled resamplers' one input. */
  private[graft] def croppedPixels(spark: SparkSession, dir: String): DataFrame = {
    val n = TileSize
    tiles(spark, dir)
      .filter(col("tile_y") < 128 / n && col("tile_x") < 128 / n)
      .select(col("area"), col("product"), col("tile_y"), col("tile_x"),
        posexplode(col("cells")).as(Seq("idx", "value")))
      .filter(col("value").isNotNull)
      .select(col("area"), col("product"),
        (col("tile_y") * n + expr(s"idx div $n")).as("y"),
        (col("tile_x") * n + expr(s"idx % $n")).as("x"), col("value"))
  }

  private val pk = Seq("area", "product")

  /** Tall twins at the SAME per-product grain: the shared [[Raster]]
    * kernels over the tall derivation's cell means, so the spec's
    * tall ≡ tiled pins hold the tile layout (q164's in-tile kernel, and
    * the resamplers' [[croppedPixels]] input) to the one definition the
    * plugins and the Trollflow queries use (the DuckDB
    * oracle independently re-derives the same results from the tall
    * CTE). Pixel-grain shuffles throughout: the encoding the tile table
    * exists to replace at scale. */
  private[graft] def tallBlockAggregate(spark: SparkSession, dir: String): DataFrame =
    Trollflow.shaped(Raster.blockMean(Raster.cellMeans(Trollflow.raster(spark, dir), pk),
      pk, Seq("y" -> 8L, "x" -> 8L)), pk, "block_mean", Some("n_cells"), "by", "bx")

  /** [[tiledBilinear]] over the tall cell means, at any offset. */
  private[graft] def tallResampleBilinear(spark: SparkSession, dir: String,
      off: Int = 14): DataFrame = {
    val axis = Raster.Axis(128, off, 100, 100)
    Trollflow.shaped(Raster.bilinear(Trollflow.croppedCells(spark, dir, pk), pk, axis, axis),
      pk, "bilinear", Some("n_nb"))
  }

  private[graft] def tallResampleEwa(spark: SparkSession, dir: String): DataFrame =
    Trollflow.shaped(Raster.ewa(Trollflow.croppedCells(spark, dir, pk), pk, Trollflow.cropGrid),
      pk, "ewa", Some("n_contrib"))

  private[graft] def tallResampleNearest(spark: SparkSession, dir: String): DataFrame =
    Trollflow.shaped(Raster.nearest(Trollflow.croppedCells(spark, dir, pk), pk, Trollflow.areaGrid),
      pk, "nearest", None)

  val declared: Seq[Query] = Seq(
    Query("q164_tiled_block_aggregate", q164TiledBlockAggregate, q164Sql, SharedFrames.Tiles),
    Query("q165_tiled_resample_nearest", q165TiledResampleNearest, q165Sql, SharedFrames.Tiles),
    Query("q166_tiled_valid_fraction", q166TiledValidFraction, q166Sql, SharedFrames.Tiles),
    Query("q167_tiled_resample_bilinear", q167TiledResampleBilinear, q167Sql, SharedFrames.Tiles),
    Query("q168_tiled_resample_ewa", q168TiledResampleEwa, q168Sql, SharedFrames.Tiles)
  )
}
