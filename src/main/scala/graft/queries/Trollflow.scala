package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Raster
import graft.sources.Tables

/** Reference-parity pack: the trollflow2 operator semantics re-expressed as
  * relational queries over the fixture tables (citations are into
  * /root/reference).
  *
  * The reference's Scene is a raster keyed by (product, y, x) with NaN as
  * fill (doc/source/plugins.rst:320); we derive an equivalent tall raster
  * from `lineitem` — area = l_returnflag, product = l_linestatus,
  * y/x = deterministic grid coords from the keys — so every raster operator
  * (aggregate, resample, valid-fraction) is exercised with a DuckDB oracle
  * on real fixture data.
  */
object Trollflow extends QueryPack {

  /** Tall raster derivation shared by q39–q41 (and [[TiledRaster]]'s
    * tile assembly). One narrow projection; the grid keys are pure
    * arithmetic so Catalyst still prunes/pushes around them. */
  private[graft] def raster(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("area"),
      col("l_linestatus").as("product"),
      (col("l_orderkey") % 256).as("y"),
      ((col("l_partkey") * 7 + col("l_linenumber")) % 256).as("x"),
      col("l_quantity").cast("double").as("value"),
      col("l_discount").cast("double").as("disc"))

  private[graft] val rasterSql: String =
    """raster AS (
      |  SELECT l_returnflag AS area, l_linestatus AS product,
      |    l_orderkey % 256 AS y, (l_partkey * 7 + l_linenumber) % 256 AS x,
      |    CAST(l_quantity AS DOUBLE) AS value, CAST(l_discount AS DOUBLE) AS disc
      |  FROM lineitem)""".stripMargin

  private val areaKey = Seq("area")

  /** The resample queries' source: per-pixel cell means over `keys` of
    * the raster's `reduce_data` crop (y, x < 128) — the crop filter
    * pushes into the parquet scan, before the shuffle. */
  private[graft] def croppedCells(spark: SparkSession, dir: String,
      keys: Seq[String]): DataFrame =
    Raster.cellMeans(raster(spark, dir).filter(col("y") < 128 && col("x") < 128), keys)

  /** The whole 256×256 source grid onto a 100×100 target area (q40/q55
    * resample only its cropped quarter). */
  private[graft] val areaGrid = Raster.Grid(0, 256, 0, 256, 100, 100)

  /** The cropped 128×128 window onto a 100×100 target area. */
  private[graft] val cropGrid = Raster.Grid(0, 128, 0, 128, 100, 100)

  /** A [[Raster]] kernel result in the pack's output shape: target
    * coordinates renamed, the value under the pack-wide float guard
    * round(1e-9 + ·, 4), the support count renamed (or dropped), rows
    * sorted. */
  private[graft] def shaped(df: DataFrame, keys: Seq[String], value: String,
      n: Option[String], y: String = "ty", x: String = "tx"): DataFrame =
    df.select(keys.map(col) ++ Seq(col("y").as(y), col("x").as(x),
        round(lit(1e-9) + col("value"), 4).as(value)) ++ n.map(col("__n").as(_)): _*)
      .orderBy((keys :+ y :+ x).map(col): _*)

  /** T1 `aggregate` (plugins/__init__.py:124-130): block-downsample the
    * raster by {x: 8, y: 8} pixel blocks — cell mean then block mean, a
    * two-level hash aggregate with map-side partials at both levels. */
  def q39BlockAggregate(spark: SparkSession, dir: String): DataFrame =
    shaped(Raster.blockMean(Raster.cellMeans(raster(spark, dir), areaKey), areaKey,
      Seq("y" -> 8L, "x" -> 8L)), areaKey, "block_mean", Some("n_cells"), "by", "bx")

  val q39Sql: String =
    s"""WITH $rasterSql,
      |cells AS (
      |  SELECT area, y, x, avg(value) AS cell
      |  FROM raster GROUP BY 1, 2, 3)
      |SELECT area, y // 8 AS by, x // 8 AS bx,
      |  round(1e-9 + avg(cell), 4) AS block_mean, count(*) AS n_cells
      |FROM cells
      |GROUP BY 1, 2, 3
      |ORDER BY area, by, bx""".stripMargin

  /** T2 `resample` (plugins/__init__.py:133-201): remap the 256×256 source
    * grid onto a 100×100 target area with `reduce_data=True` semantics —
    * the source is cropped to the target's bounding box *before* the
    * shuffle (the filter pushes into the parquet scan), then cells are
    * area-averaged into target bins. */
  def q40Resample(spark: SparkSession, dir: String): DataFrame =
    shaped(Raster.average(croppedCells(spark, dir, areaKey), areaKey, areaGrid),
      areaKey, "resampled", Some("n_src"))

  val q40Sql: String =
    s"""WITH $rasterSql,
      |cells AS (
      |  SELECT area, y, x, avg(value) AS cell
      |  FROM raster WHERE y < 128 AND x < 128
      |  GROUP BY 1, 2, 3)
      |SELECT area, (y * 100) // 256 AS ty, (x * 100) // 256 AS tx,
      |  round(1e-9 + avg(cell), 4) AS resampled, count(*) AS n_src
      |FROM cells
      |GROUP BY 1, 2, 3
      |ORDER BY area, ty, tx""".stripMargin

  /** T2 `resample`, nearest-neighbor mode (plugins/__init__.py:149-192 —
    * the reference's default `radius_of_influence` nearest resampler):
    * every source cell maps into its covering target cell; the target
    * takes the value of the source cell whose center is nearest to the
    * target cell's center ([[Raster.nearest]]). The oracle compares
    * distances in a ×100-scaled integer space (source center `100·y+50`,
    * target center `256·ty+128`); the kernel's 2H/2W-scaled distances
    * order candidates identically when H = W, so both engines pick by
    * exact integer arithmetic; ties break on (y, x). The argmin combines
    * map-side on the target key — no shuffle beyond the one the cell
    * means already need. */
  def q55ResampleNearest(spark: SparkSession, dir: String): DataFrame =
    shaped(Raster.nearest(croppedCells(spark, dir, areaKey), areaKey, areaGrid),
      areaKey, "nearest", None)

  val q55Sql: String =
    s"""WITH $rasterSql,
      |cells AS (
      |  SELECT area, y, x, avg(value) AS cell
      |  FROM raster WHERE y < 128 AND x < 128
      |  GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT area, y, x, cell,
      |    (y * 100) // 256 AS ty, (x * 100) // 256 AS tx
      |  FROM cells),
      |d AS (
      |  SELECT area, ty, tx, cell, y, x,
      |    (y * 100 + 50 - (ty * 256 + 128)) AS dy,
      |    (x * 100 + 50 - (tx * 256 + 128)) AS dx
      |  FROM m),
      |r AS (
      |  SELECT area, ty, tx, cell,
      |    row_number() OVER (PARTITION BY area, ty, tx
      |                       ORDER BY dy * dy + dx * dx, y, x) AS rn
      |  FROM d)
      |SELECT area, ty, tx, round(1e-9 + cell, 4) AS nearest
      |FROM r WHERE rn = 1
      |ORDER BY area, ty, tx""".stripMargin

  /** T2 `resample`, bilinear mode (plugins/__init__.py:149-192 — the
    * reference's `bilinear` resampler choice): every target cell center
    * maps to a continuous source coordinate; its value is the
    * weight-renormalized blend of the ≤ 4 surrounding source cells that
    * exist (mask-aware bilinear, the NaN-fill behavior of the reference's
    * resamplers; [[Raster.bilinear]]). Corner indices and fractions are
    * exact rational arithmetic — source index = (128·t + 14)/100, which
    * the kernel's axis map (256·t + 28)/200 states as the same rational,
    * so both engines round the fraction to the same double — and the
    * blend is one fixed-order expression over the four corners, so both
    * engines compute bit-identical doubles before rounding.
    *
    * Scale: each cell scatters to the ≤ 4 (target, corner) pairs it
    * belongs to (a down-sampling: at most one target per corner and
    * axis), and one hash aggregate on (area, ty, tx) gathers the corners:
    * one shuffle above the cell means, no join, no broadcast, no window;
    * output one row per covered target cell. */
  def q63ResampleBilinear(spark: SparkSession, dir: String): DataFrame =
    shaped(Raster.bilinear(croppedCells(spark, dir, areaKey), areaKey,
      cropGrid.yAxis, cropGrid.xAxis), areaKey, "bilinear", Some("n_nb"))

  val q63Sql: String =
    s"""WITH $rasterSql,
      |cells AS (
      |  SELECT area, y, x, avg(value) AS cell
      |  FROM raster WHERE y < 128 AND x < 128
      |  GROUP BY 1, 2, 3),
      |targets AS (
      |  SELECT area, ty, tx,
      |    (128 * ty + 14) // 100 AS y0, (128 * tx + 14) // 100 AS x0,
      |    ((128 * ty + 14) % 100) / 100.0 AS fy,
      |    ((128 * tx + 14) % 100) / 100.0 AS fx
      |  FROM (SELECT DISTINCT area FROM cells),
      |       range(0, 100) t1(ty), range(0, 100) t2(tx)),
      |j AS (
      |  SELECT t.*,
      |    c00.cell AS v00, c01.cell AS v01, c10.cell AS v10, c11.cell AS v11
      |  FROM targets t
      |  LEFT JOIN cells c00 ON t.area = c00.area AND t.y0 = c00.y AND t.x0 = c00.x
      |  LEFT JOIN cells c01 ON t.area = c01.area AND t.y0 = c01.y AND t.x0 + 1 = c01.x
      |  LEFT JOIN cells c10 ON t.area = c10.area AND t.y0 + 1 = c10.y AND t.x0 = c10.x
      |  LEFT JOIN cells c11 ON t.area = c11.area AND t.y0 + 1 = c11.y AND t.x0 + 1 = c11.x),
      |b AS (
      |  SELECT area, ty, tx,
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
      |SELECT area, ty, tx, round(1e-9 + num / den, 4) AS bilinear, n_nb
      |FROM b WHERE den > 0
      |ORDER BY area, ty, tx""".stripMargin

  /** T2 `resample`, ewa mode (plugins/__init__.py:134-146 — the
    * reference's elliptical-weighted-average swath resampler, here the
    * circular-footprint form of [[Raster.ewa]]):
    * SCATTER resampling. Each source cell's center maps to a continuous
    * position in the 100×100 target grid (py = ((2y+1)·100)/(2·128), a
    * power-of-two denominator so the double is exact); the cell splats a
    * gaussian-weighted contribution onto every target cell whose center
    * is within r = weight_distance_max = 1.0 of that position,
    *   w = exp(-d² · ln(1/weight_min))  with weight_min = 0.01
    * (w = 0.01 exactly at d = r), and each target cell blends what landed
    * on it: sum(w·v)/sum(w).
    *
    * Exactness: candidate generation is integer arithmetic (the base
    * index floor(py − ½) via positive-biased integer division, identical
    * in both engines); dy/dx are exact doubles (denominator 2⁸); the only
    * engine-sensitive steps — exp and the summation order — sit under
    * round(1e-9 + ·, 4), the pack-wide float guard. The oracle writes
    * ln(1/0.01) as the double literal the JVM's `math.log` returns.
    *
    * Scale: the explode factor is the constant (2·ceil(r)+1)² = 9, then
    * ONE hash aggregate on (area, ty, tx) — one shuffle, no window, no
    * join. The scatter direction is what makes EWA linear over swath
    * pixels; a gather formulation would need a radius search per target
    * cell. */
  def q123ResampleEwa(spark: SparkSession, dir: String): DataFrame =
    shaped(Raster.ewa(croppedCells(spark, dir, areaKey), areaKey, cropGrid),
      areaKey, "ewa", Some("n_contrib"))

  val q123Sql: String =
    s"""WITH $rasterSql,
      |cells AS (
      |  SELECT area, y, x, avg(value) AS cell
      |  FROM raster WHERE y < 128 AND x < 128
      |  GROUP BY 1, 2, 3),
      |pos AS (
      |  SELECT area, cell, y * 200 + 100 AS ny, x * 200 + 100 AS nx,
      |    (y * 200 + 100 - 128 + ${256L * (1L << 20)}) // 256 - ${1L << 20} AS tyb,
      |    (x * 200 + 100 - 128 + ${256L * (1L << 20)}) // 256 - ${1L << 20} AS txb
      |  FROM cells),
      |splat AS (
      |  SELECT area, cell, ny, nx, tyb + ky AS ty, txb + kx AS tx,
      |    (ny / 256.0 - (tyb + ky + 0.5)) AS dy,
      |    (nx / 256.0 - (txb + kx + 0.5)) AS dx
      |  FROM pos, range(-1, 2) g1(ky), range(-1, 2) g2(kx)),
      |wtd AS (
      |  SELECT area, ty, tx, cell,
      |    exp((dy * dy + dx * dx) * -4.605170185988092) AS w
      |  FROM splat
      |  WHERE dy * dy + dx * dx <= 1.0
      |    AND ty >= 0 AND ty < 100 AND tx >= 0 AND tx < 100)
      |SELECT area, ty, tx,
      |  round(1e-9 + sum(w * cell) / sum(w), 4) AS ewa,
      |  count(*) AS n_contrib
      |FROM wtd
      |GROUP BY 1, 2, 3
      |ORDER BY area, ty, tx""".stripMargin

  /** T2 `resample`, ewa SWATH mode — [[q123ResampleEwa]] with the
    * reference's per-scan elliptical footprint
    * (RESAMPLER_DEFAULT_OPTIONS["ewa"] `rows_per_scan` /
    * `weight_delta_max`, plugins/__init__.py:137,144; pyresample's EWA
    * weights swath pixels by an ellipse whose cross-scan axis grows
    * toward the scan edge — the bow-tie). The swath is scans of
    * rows_per_scan = 4 source rows; within a scan, row m-distance from
    * the scan center m = |2·(y mod 4) − 3| (an exact odd integer) scales
    * the cross-scan semi-axis s = 1 + m/3 ∈ {4/3, 2}: center rows splat
    * a near-circular footprint, edge rows a 2×-taller ellipse. Weight is
    * wmin on the ellipse boundary:
    *   w = exp(−e2 · ln(1/wmin)),  e2 = dx² + dy²/s²  (r = 1).
    *
    * Exactness: m and the candidate base indices are integer arithmetic;
    * dy/dx are exact doubles (denominator 2⁸); s = 1 + m/3.0 is one IEEE
    * division both engines perform identically; e2 is written with the
    * same operator shape in both engines so the e2 ≤ 1 boundary cannot
    * disagree; exp and summation order sit under the 4-dp round guard.
    *
    * Scale: identical to q123 — the explode fan-out is the plan-time
    * constant (2·ceil(2r)+1)·(2·ceil(r)+1) = 15 (the cross-scan reach
    * covers the widest scan-edge ellipse), then ONE hash aggregate on
    * (area, ty, tx). One shuffle, no window, no join. */
  def q131ResampleEwaSwath(spark: SparkSession, dir: String): DataFrame =
    shaped(Raster.ewa(croppedCells(spark, dir, areaKey), areaKey, cropGrid,
      Raster.Ewa(rowsPerScan = Some(4))), areaKey, "ewa", Some("n_contrib"))

  val q131Sql: String =
    s"""WITH $rasterSql,
      |cells AS (
      |  SELECT area, y, x, avg(value) AS cell
      |  FROM raster WHERE y < 128 AND x < 128
      |  GROUP BY 1, 2, 3),
      |pos AS (
      |  SELECT area, cell,
      |    1.0 + abs(y % 4 * 2 - 3) / 3.0 AS s,
      |    y * 200 + 100 AS ny, x * 200 + 100 AS nx,
      |    (y * 200 + 100 - 128 + ${256L * (1L << 20)}) // 256 - ${1L << 20} AS tyb,
      |    (x * 200 + 100 - 128 + ${256L * (1L << 20)}) // 256 - ${1L << 20} AS txb
      |  FROM cells),
      |splat AS (
      |  SELECT area, cell, s, tyb + ky AS ty, txb + kx AS tx,
      |    (ny / 256.0 - (tyb + ky + 0.5)) AS dy,
      |    (nx / 256.0 - (txb + kx + 0.5)) AS dx
      |  FROM pos, range(-2, 3) g1(ky), range(-1, 2) g2(kx)),
      |wtd AS (
      |  SELECT area, ty, tx, cell,
      |    exp((dx * dx + dy * dy / (s * s)) * -4.605170185988092) AS w
      |  FROM splat
      |  WHERE dx * dx + dy * dy / (s * s) <= 1.0
      |    AND ty >= 0 AND ty < 100 AND tx >= 0 AND tx < 100)
      |SELECT area, ty, tx,
      |  round(1e-9 + sum(w * cell) / sum(w), 4) AS ewa,
      |  count(*) AS n_contrib
      |FROM wtd
      |GROUP BY 1, 2, 3
      |ORDER BY area, ty, tx""".stripMargin

  /** F6 `check_valid_data_fraction` (plugins/__init__.py:955-1079): treat
    * value as fill (NaN-analog) where disc > 0.08, compute per-(area,
    * product) valid fraction, keep only products meeting the threshold —
    * the data-dependent work-list pruning filter. */
  def q41ValidFraction(spark: SparkSession, dir: String): DataFrame =
    raster(spark, dir)
      .withColumn("valid", when(col("disc") > 0.08, lit(0.0)).otherwise(lit(1.0)))
      .groupBy(col("area"), col("product"))
      .agg(round(lit(1e-9) + avg(col("valid")), 5).as("valid_frac"),
        count(lit(1)).as("n_px"))
      .filter(col("valid_frac") >= 0.7)
      .orderBy(col("area"), col("product"))

  val q41Sql: String =
    s"""WITH $rasterSql
      |SELECT area, product,
      |  round(1e-9 + avg(CASE WHEN disc > 0.08 THEN 0.0 ELSE 1.0 END), 5) AS valid_frac,
      |  count(*) AS n_px
      |FROM raster
      |GROUP BY 1, 2
      |HAVING round(1e-9 + avg(CASE WHEN disc > 0.08 THEN 0.0 ELSE 1.0 END), 5) >= 0.7
      |ORDER BY area, product""".stripMargin

  /** Solar zenith angle (degrees) at (lat, lon, ts) — standard declination
    * + hour-angle approximation, all codegen trig built-ins. Shared by the
    * F4 day/night check (q42) and the F5 sunlight-coverage check (q45). */
  private def szaDeg(lat: Column, lon: Column, ts: Column): Column = {
    val doy = dayofyear(ts).cast("double")
    val hourFrac = hour(ts).cast("double") +
      minute(ts).cast("double") / 60.0 +
      second(ts).cast("double") / 3600.0
    val decl = lit(-23.44) * cos(radians(lit(360.0 / 365.0) * (doy + 10.0)))
    val ha = lit(15.0) * (hourFrac - 12.0) + lon
    degrees(acos(
      sin(radians(lat)) * sin(radians(decl)) +
      cos(radians(lat)) * cos(radians(decl)) * cos(radians(ha))))
  }

  /** F4 `sza_check` (plugins/__init__.py:739-783): solar-zenith-angle
    * day/night pruning. Observer lon/lat derive from user_id; the zenith
    * angle comes from the standard declination + hour-angle formula —
    * trig built-ins only, so the filter stays inside codegen and the
    * column pruning still reaches the scan. */
  def q42SzaCheck(spark: SparkSession, dir: String): DataFrame = {
    val lat = ((col("user_id") * 37) % 120 - 60).cast("double") + 0.5
    val lon = ((col("user_id") * 73) % 360 - 180).cast("double") + 0.5
    Tables.events(spark, dir)
      .withColumn("sza", szaDeg(lat, lon, col("ts")))
      .filter(col("sza") < 80.0) // keep daytime products
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_day"),
        round(lit(1e-9) + avg(col("sza")), 4).as("avg_sza"))
      .orderBy(col("event_type"))
  }

  val q42Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    degrees(acos(
      |      sin(radians(((user_id * 37) % 120 - 60)::DOUBLE + 0.5))
      |        * sin(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(CAST(ts AS TIMESTAMP))::DOUBLE + 10.0)))))
      |      + cos(radians(((user_id * 37) % 120 - 60)::DOUBLE + 0.5))
      |        * cos(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(CAST(ts AS TIMESTAMP))::DOUBLE + 10.0)))))
      |        * cos(radians(15.0 * (date_part('hour', CAST(ts AS TIMESTAMP))::DOUBLE
      |                              + date_part('minute', CAST(ts AS TIMESTAMP))::DOUBLE / 60.0
      |                              + date_part('second', CAST(ts AS TIMESTAMP))::DOUBLE / 3600.0
      |                              - 12.0)
      |                      + ((user_id * 73) % 360 - 180)::DOUBLE + 0.5)))) AS sza
      |  FROM events)
      |SELECT event_type, count(*) AS n_day, round(1e-9 + avg(sza), 4) AS avg_sza
      |FROM e
      |WHERE sza < 80.0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** F3 `covers` (plugins/__init__.py:582-684): per-area geographic
    * coverage of the "pass". The pass footprint is the bounding box of the
    * event points per event_type; coverage = overlap fraction with each
    * configured target area; areas under min_coverage are dropped, and the
    * coverage percentage is kept on the surviving work-list rows (the
    * reference publishes it, plugins/__init__.py:663). */
  def q43CoverageFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val areas = Seq(
      ("euro", -10.0, 40.0, 35.0, 70.0),
      ("pacific", 140.0, 180.0, -50.0, 10.0),
      ("americas", -120.0, -60.0, -30.0, 50.0)
    ).toDF("area_name", "a_lon_min", "a_lon_max", "a_lat_min", "a_lat_max")
    val pass = Tables.events(spark, dir)
      .select(col("event_type"),
        (((col("user_id") * 73) % 360 - 180).cast("double") + 0.5).as("lon"),
        (((col("user_id") * 37) % 120 - 60).cast("double") + 0.5).as("lat"))
      .groupBy(col("event_type"))
      .agg(min(col("lon")).as("p_lon_min"), max(col("lon")).as("p_lon_max"),
        min(col("lat")).as("p_lat_min"), max(col("lat")).as("p_lat_max"))
    pass.crossJoin(broadcast(areas))
      .withColumn("overlap",
        greatest(lit(0.0),
          least(col("p_lon_max"), col("a_lon_max")) - greatest(col("p_lon_min"), col("a_lon_min"))) *
        greatest(lit(0.0),
          least(col("p_lat_max"), col("a_lat_max")) - greatest(col("p_lat_min"), col("a_lat_min"))))
      .withColumn("coverage_pct",
        round(lit(1e-9) + col("overlap") / ((col("a_lon_max") - col("a_lon_min")) * (col("a_lat_max") - col("a_lat_min"))) * 100.0, 4))
      .filter(col("coverage_pct") >= 5.0)
      .select(col("event_type"), col("area_name"), col("coverage_pct"))
      .orderBy(col("event_type"), col("area_name"))
  }

  val q43Sql: String =
    """WITH areas(area_name, a_lon_min, a_lon_max, a_lat_min, a_lat_max) AS (VALUES
      |    ('euro', -10.0, 40.0, 35.0, 70.0),
      |    ('pacific', 140.0, 180.0, -50.0, 10.0),
      |    ('americas', -120.0, -60.0, -30.0, 50.0)),
      |pass AS (
      |  SELECT event_type,
      |    min(((user_id * 73) % 360 - 180)::DOUBLE + 0.5) AS p_lon_min,
      |    max(((user_id * 73) % 360 - 180)::DOUBLE + 0.5) AS p_lon_max,
      |    min(((user_id * 37) % 120 - 60)::DOUBLE + 0.5) AS p_lat_min,
      |    max(((user_id * 37) % 120 - 60)::DOUBLE + 0.5) AS p_lat_max
      |  FROM events GROUP BY 1),
      |cov AS (
      |  SELECT event_type, area_name,
      |    round(1e-9 + 
      |      greatest(0.0, least(p_lon_max, a_lon_max) - greatest(p_lon_min, a_lon_min))
      |      * greatest(0.0, least(p_lat_max, a_lat_max) - greatest(p_lat_min, a_lat_min))
      |      / ((a_lon_max - a_lon_min) * (a_lat_max - a_lat_min)) * 100.0, 4) AS coverage_pct
      |  FROM pass CROSS JOIN areas)
      |SELECT event_type, area_name, coverage_pct
      |FROM cov
      |WHERE coverage_pct >= 5.0
      |ORDER BY event_type, area_name""".stripMargin

  /** T3/T4 `plist_iter` + `get_config_value` (dict_tools.py:26-62, 80-99):
    * flatten the area→product→format config tree with most-local-wins
    * inheritance. The "config" grounds in fixture dims: areas = regions,
    * products = nations, formats = a sparse per-product override table with
    * the reference's `[{format: tif}]` default (dict_tools.py:58);
    * effective settings are coalesce chains (format > product > area >
    * root), priorities default 999 (launcher.py:59). */
  def q44WorklistExpand(spark: SparkSession, dir: String): DataFrame = {
    val areas = Tables.region(spark, dir).select(
      col("r_regionkey").as("areakey"),
      col("r_name").as("area"),
      when(col("r_regionkey") % 3 === 0, col("r_regionkey") + 1).as("a_priority"),
      when(col("r_regionkey") % 2 === 0, lit("geotiff_a")).as("a_writer"))
    val products = Tables.nation(spark, dir).select(
      col("n_regionkey").as("p_areakey"),
      col("n_name").as("product"),
      col("n_nationkey").as("productkey"),
      when(col("n_nationkey") % 5 === 0, lit("cf")).as("p_writer"),
      when(col("n_nationkey") % 3 === 0, col("n_nationkey").cast("double")).as("p_fill"))
    val formats = Tables.nation(spark, dir)
      .filter(col("n_nationkey") % 4 === 0)
      .select(col("n_nationkey").as("f_productkey"), explode(array(
        struct(lit("tif").as("fmt"), lit(null).cast("string").as("f_writer")),
        struct(lit("png").as("fmt"), lit("simple_image").as("f_writer")))).as("f"))
      .select(col("f_productkey"), col("f.fmt").as("fmt"), col("f.f_writer").as("f_writer"))
    products
      .join(areas, col("p_areakey") === col("areakey"))
      .join(formats, col("productkey") === col("f_productkey"), "left")
      .select(
        col("area"), col("product"),
        coalesce(col("fmt"), lit("tif")).as("format"),
        coalesce(col("f_writer"), col("p_writer"), col("a_writer"), lit("geotiff")).as("writer"),
        coalesce(col("p_fill"), lit(0.0)).as("fill_value"),
        coalesce(col("a_priority"), lit(999)).cast("int").as("priority"))
      .orderBy(col("priority"), col("area"), col("product"), col("format"))
  }

  val q44Sql: String =
    """WITH areas AS (
      |  SELECT r_regionkey AS areakey, r_name AS area,
      |    CASE WHEN r_regionkey % 3 = 0 THEN r_regionkey + 1 END AS a_priority,
      |    CASE WHEN r_regionkey % 2 = 0 THEN 'geotiff_a' END AS a_writer
      |  FROM region),
      |products AS (
      |  SELECT n_regionkey AS p_areakey, n_name AS product, n_nationkey AS productkey,
      |    CASE WHEN n_nationkey % 5 = 0 THEN 'cf' END AS p_writer,
      |    CASE WHEN n_nationkey % 3 = 0 THEN n_nationkey::DOUBLE END AS p_fill
      |  FROM nation),
      |formats AS (
      |  SELECT n_nationkey AS f_productkey, f.fmt AS fmt, f.f_writer AS f_writer
      |  FROM nation,
      |    unnest([{'fmt': 'tif', 'f_writer': NULL},
      |            {'fmt': 'png', 'f_writer': 'simple_image'}]) t(f)
      |  WHERE n_nationkey % 4 = 0)
      |SELECT area, product,
      |  coalesce(fmt, 'tif') AS format,
      |  coalesce(f_writer, p_writer, a_writer, 'geotiff') AS writer,
      |  coalesce(p_fill, 0.0) AS fill_value,
      |  CAST(coalesce(a_priority, 999) AS INT) AS priority
      |FROM products
      |JOIN areas ON p_areakey = areakey
      |LEFT JOIN formats ON productkey = f_productkey
      |ORDER BY priority, area, product, format""".stripMargin

  /** F5 `check_sunlight_coverage` (plugins/__init__.py:786-902): sunlit
    * fraction of each target area at scene time — an 8×8 deterministic
    * sample grid per area, a point is sunlit iff its solar zenith < 90°,
    * areas below min coverage are dropped. The grid is a few hundred rows
    * regardless of data scale (computed once per area, memoized by shape,
    * as the reference memoizes per (area, check_pass)). */
  def q45SunlightCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val areas = Seq(
      ("euro", -10.0, 40.0, 35.0, 70.0),
      ("pacific", 140.0, 180.0, -50.0, 10.0),
      ("americas", -120.0, -60.0, -30.0, 50.0)
    ).toDF("area_name", "lon_min", "lon_max", "lat_min", "lat_max")
    val sceneTs = Tables.events(spark, dir).agg(max(col("ts")).as("scene_ts"))
    areas.crossJoin(broadcast(sceneTs))
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .withColumn("j", explode(sequence(lit(0), lit(7))))
      .withColumn("plon",
        col("lon_min") + (col("i") + 0.5) * (col("lon_max") - col("lon_min")) / 8.0)
      .withColumn("plat",
        col("lat_min") + (col("j") + 0.5) * (col("lat_max") - col("lat_min")) / 8.0)
      .withColumn("sza", szaDeg(col("plat"), col("plon"), col("scene_ts")))
      .groupBy(col("area_name"))
      .agg(round(lit(1e-9) + avg(when(col("sza") < 90.0, 1.0).otherwise(0.0)), 5).as("sunlit_frac"),
        count(lit(1)).as("n_points"))
      .filter(col("sunlit_frac") >= 0.05)
      .orderBy(col("area_name"))
  }

  val q45Sql: String =
    """WITH areas(area_name, lon_min, lon_max, lat_min, lat_max) AS (VALUES
      |    ('euro', -10.0, 40.0, 35.0, 70.0),
      |    ('pacific', 140.0, 180.0, -50.0, 10.0),
      |    ('americas', -120.0, -60.0, -30.0, 50.0)),
      |st AS (SELECT max(CAST(ts AS TIMESTAMP)) AS scene_ts FROM events),
      |grid AS (
      |  SELECT area_name, scene_ts,
      |    lon_min + (i + 0.5) * (lon_max - lon_min) / 8.0 AS plon,
      |    lat_min + (j + 0.5) * (lat_max - lat_min) / 8.0 AS plat
      |  FROM areas CROSS JOIN st, range(0, 8) ti(i), range(0, 8) tj(j)),
      |sz AS (
      |  SELECT area_name,
      |    degrees(acos(
      |      sin(radians(plat))
      |        * sin(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(scene_ts)::DOUBLE + 10.0)))))
      |      + cos(radians(plat))
      |        * cos(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(scene_ts)::DOUBLE + 10.0)))))
      |        * cos(radians(15.0 * (date_part('hour', scene_ts)::DOUBLE
      |                              + date_part('minute', scene_ts)::DOUBLE / 60.0
      |                              + date_part('second', scene_ts)::DOUBLE / 3600.0
      |                              - 12.0)
      |                      + plon)))) AS sza
      |  FROM grid)
      |SELECT area_name,
      |  round(1e-9 + avg(CASE WHEN sza < 90.0 THEN 1.0 ELSE 0.0 END), 5) AS sunlit_frac,
      |  count(*) AS n_points
      |FROM sz
      |GROUP BY area_name
      |HAVING round(1e-9 + avg(CASE WHEN sza < 90.0 THEN 1.0 ELSE 0.0 END), 5) >= 0.05
      |ORDER BY area_name""".stripMargin

  /** F5's `check_pass: true` variant (plugins/__init__.py:823-846,
    * 871-902): the reference cuts the area polygon by the satellite
    * OVERPASS footprint (trollsched `Pass` from TLE orbit propagation)
    * before intersecting with the twilight polygon, so the coverage
    * fraction is "sunlit share of the part of the area the satellite
    * actually sees", and an area the pass never touches scores 0.0
    * (:886-888). Here the overpass footprint comes from a deterministic
    * synthetic circular orbit — standard ground-track math (sun-sync
    * inclination 98.7°, 101-min period, ascending node at −80°E at the
    * scene-window start, Earth rotating 0.25068°/min under the track),
    * swath = all points within 12° central angle of the sub-satellite
    * track sampled every 2 min across the 90-min scene window. A fixed
    * epoch (the window start derives from the fixture's max event ts)
    * keeps every number oracle-reproducible; q150 is the same query
    * with the track swapped for real SGP4/TLE propagation. Per area:
    * points in pass, the q45-style whole-area sunlit fraction, and the
    * pass-cut fraction (0.0 when the pass misses the area — at the
    * fixture epoch the track crosses `americas` near the terminator, so
    * the cut fraction (0.86) genuinely differs from the whole-area one
    * (0.81), and the other two areas exercise the miss branch).
    *
    * Scale: 3 areas × 64 grid points × 46 track samples = 8832 rows,
    * computed once per scene regardless of corpus size (the reference
    * memoizes per (area, check_pass) the same way); the only data-sized
    * term is the one-row max(ts) aggregate. */
  def q139OverpassSunlight(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val areas = Seq(
      ("euro", -10.0, 40.0, 35.0, 70.0),
      ("pacific", 140.0, 180.0, -50.0, 10.0),
      ("americas", -120.0, -60.0, -30.0, 50.0)
    ).toDF("area_name", "lon_min", "lon_max", "lat_min", "lat_max")
    val t0 = Tables.events(spark, dir)
      .agg((max(col("ts")) - expr("INTERVAL 90 MINUTES")).as("t0"))
    val incl = lit(98.7)
    // sin/cos of the track latitude without an asin round-trip:
    // sin(tlat) = sin(incl)·sin(u), cos(tlat) = sqrt(1 − sin²) (valid —
    // |tlat| ≤ 90°), so both engines run the identical arithmetic
    val sinT = sin(radians(incl)) * sin(col("u"))
    val tlon = lit(-80.0) +
      degrees(atan2(cos(radians(incl)) * sin(col("u")), cos(col("u")))) -
      lit(0.25068) * col("m")
    val pts = areas.crossJoin(broadcast(t0))
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .withColumn("j", explode(sequence(lit(0), lit(7))))
      .withColumn("plon",
        col("lon_min") + (col("i") + 0.5) * (col("lon_max") - col("lon_min")) / 8.0)
      .withColumn("plat",
        col("lat_min") + (col("j") + 0.5) * (col("lat_max") - col("lat_min")) / 8.0)
      .withColumn("sunlit",
        when(szaDeg(col("plat"), col("plon"), col("t0")) < 90.0, 1.0).otherwise(0.0))
      .withColumn("k", explode(sequence(lit(0), lit(45))))
      .withColumn("m", col("k") * 2.0)
      .withColumn("u", radians(col("m") / 101.0 * 360.0))
      .withColumn("a", degrees(acos(least(lit(1.0), greatest(lit(-1.0),
        sin(radians(col("plat"))) * sinT +
          cos(radians(col("plat"))) * sqrt(lit(1.0) - sinT * sinT) *
            cos(radians(col("plon") - tlon)))))))
      .groupBy(col("area_name"), col("plon"), col("plat"), col("sunlit"))
      .agg(round(lit(1e-9) + min(col("a")), 4).as("min_ang"))
      .withColumn("in_pass", when(col("min_ang") <= 12.0, 1.0).otherwise(0.0))
    pts.groupBy(col("area_name"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("in_pass")).cast("long").as("n_in_pass"),
        round(lit(1e-9) + avg(col("sunlit")), 5).as("area_sunlit_frac"),
        when(sum(col("in_pass")) > 0,
          round(lit(1e-9) + sum(col("in_pass") * col("sunlit")) / sum(col("in_pass")), 5))
          .otherwise(0.0).as("pass_sunlit_frac"))
      .orderBy(col("area_name"))
  }

  val q139Sql: String =
    """WITH areas(area_name, lon_min, lon_max, lat_min, lat_max) AS (VALUES
      |    ('euro', -10.0, 40.0, 35.0, 70.0),
      |    ('pacific', 140.0, 180.0, -50.0, 10.0),
      |    ('americas', -120.0, -60.0, -30.0, 50.0)),
      |st AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 90 MINUTE AS t0 FROM events),
      |grid AS (
      |  SELECT area_name, t0,
      |    lon_min + (i + 0.5) * (lon_max - lon_min) / 8.0 AS plon,
      |    lat_min + (j + 0.5) * (lat_max - lat_min) / 8.0 AS plat
      |  FROM areas CROSS JOIN st, range(0, 8) ti(i), range(0, 8) tj(j)),
      |sz AS (
      |  SELECT area_name, plon, plat,
      |    CASE WHEN degrees(acos(
      |      sin(radians(plat))
      |        * sin(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(t0)::DOUBLE + 10.0)))))
      |      + cos(radians(plat))
      |        * cos(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(t0)::DOUBLE + 10.0)))))
      |        * cos(radians(15.0 * (date_part('hour', t0)::DOUBLE
      |                              + date_part('minute', t0)::DOUBLE / 60.0
      |                              + date_part('second', t0)::DOUBLE / 3600.0
      |                              - 12.0)
      |                      + plon)))) < 90.0 THEN 1.0 ELSE 0.0 END AS sunlit
      |  FROM grid),
      |trk AS (
      |  SELECT area_name, plon, plat, sunlit, k * 2.0 AS m,
      |    radians(k * 2.0 / 101.0 * 360.0) AS u
      |  FROM sz, range(0, 46) tk(k)),
      |ang AS (
      |  SELECT area_name, plon, plat, sunlit,
      |    degrees(acos(least(1.0, greatest(-1.0,
      |      sin(radians(plat)) * (sin(radians(98.7)) * sin(u))
      |      + cos(radians(plat))
      |        * sqrt(1.0 - (sin(radians(98.7)) * sin(u)) * (sin(radians(98.7)) * sin(u)))
      |        * cos(radians(plon - (-80.0
      |            + degrees(atan2(cos(radians(98.7)) * sin(u), cos(u)))
      |            - 0.25068 * m))))))) AS a
      |  FROM trk),
      |pt AS (
      |  SELECT area_name, plon, plat, sunlit, round(1e-9 + min(a), 4) AS min_ang
      |  FROM ang GROUP BY 1, 2, 3, 4)
      |SELECT area_name, count(*) AS n_points,
      |  sum(CASE WHEN min_ang <= 12.0 THEN 1 ELSE 0 END)::BIGINT AS n_in_pass,
      |  round(1e-9 + avg(sunlit), 5) AS area_sunlit_frac,
      |  CASE WHEN sum(CASE WHEN min_ang <= 12.0 THEN 1.0 ELSE 0.0 END) > 0
      |    THEN round(1e-9 + sum(CASE WHEN min_ang <= 12.0 THEN sunlit ELSE 0.0 END)
      |      / sum(CASE WHEN min_ang <= 12.0 THEN 1.0 ELSE 0.0 END), 5)
      |    ELSE 0.0 END AS pass_sunlit_frac
      |FROM pt
      |GROUP BY area_name
      |ORDER BY area_name""".stripMargin

  /** TLE fixture for q150: a synthetic sun-synchronous imager (incl
    * 98.7°, ~101.3-min period) with a FIXED epoch 2024-01-30T22:27 UTC —
    * minutes before the events fixture's last timestamp, so the
    * propagated pass and the scene window tell one coherent story. The
    * checksums are valid; Tle.parse validates them. */
  private[graft] val q150TleLine1 =
    "1 99999U 24001A   24030.93541667  .00000100  00000-0  10000-3 0  0011"
  private[graft] val q150TleLine2 =
    "2 99999  98.7000 120.0000 0011000  90.0000 270.1000 14.21000000  0014"

  /** The SGP4-propagated ground track: 46 sub-satellite points at 2-min
    * steps across the 90-min scene window, computed ONCE at class init
    * by [[graft.pipeline.Sgp4]] (the real Spacetrack Report #3
    * propagator, test-vector-verified in Sgp4Spec) and rounded to 6 dp.
    * Both the Spark plan and the DuckDB oracle embed THESE values as
    * literals — the track is pass-schedule configuration (the reference
    * computes it driver-side from the TLE via pyorbital the same way,
    * plugins/__init__.py:823-846), so the oracle pins everything
    * downstream of the propagator while Sgp4Spec pins the propagator
    * itself against the published STR#3 vector. */
  /** SGP4 track points of the fixture TLE at 2-min steps, 6-dp rounded —
    * shared by q150 (46 samples, the scene window) and q151 (720
    * samples, a 24 h scheduling horizon). */
  private def sgp4TrackPoints(n: Int): Seq[(Int, Double, Double)] = {
    val orb = graft.pipeline.Plugins.Sgp4Orbit(
      graft.pipeline.Tle.parse(q150TleLine1, q150TleLine2))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    (0 until n).map { k =>
      val (s, _, lon) = orb.track(k * 2.0)
      (k, r6(math.toDegrees(math.asin(s))), r6(lon))
    }
  }

  private lazy val q150Track: Seq[(Int, Double, Double)] =
    sgp4TrackPoints(46)

  /** F5 with REAL TLE propagation (plugins/__init__.py:823-846 via
    * pyorbital's `Orbital`): identical query shape to q139 — per area,
    * the whole-area sunlit fraction and the overpass-cut fraction — but
    * the overpass footprint comes from [[q150Track]], the SGP4
    * propagation of [[q150TleLine1]]/[[q150TleLine2]]. At this fixture
    * epoch the ascending pass crosses `euro` (samples 5-9) and the
    * descending pass crosses `pacific` near the date line (samples
    * 26-32), while `americas` is never touched and exercises the
    * pass-misses-area → 0.0 branch (:886-888).
    *
    * Scale: 3 areas × 64 grid points × 46 track samples = 8832 rows from
    * a broadcast literal, computed once per scene regardless of corpus
    * size; the only data-sized term is the one-row max(ts) aggregate —
    * same design as q139. */
  def q150Sgp4Overpass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val areas = Seq(
      ("euro", -10.0, 40.0, 35.0, 70.0),
      ("pacific", 140.0, 180.0, -50.0, 10.0),
      ("americas", -120.0, -60.0, -30.0, 50.0)
    ).toDF("area_name", "lon_min", "lon_max", "lat_min", "lat_max")
    val t0 = Tables.events(spark, dir)
      .agg((max(col("ts")) - expr("INTERVAL 90 MINUTES")).as("t0"))
    val track = q150Track.toDF("k", "tlat", "tlon")
    val pts = areas.crossJoin(broadcast(t0))
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .withColumn("j", explode(sequence(lit(0), lit(7))))
      .withColumn("plon",
        col("lon_min") + (col("i") + 0.5) * (col("lon_max") - col("lon_min")) / 8.0)
      .withColumn("plat",
        col("lat_min") + (col("j") + 0.5) * (col("lat_max") - col("lat_min")) / 8.0)
      .withColumn("sunlit",
        when(szaDeg(col("plat"), col("plon"), col("t0")) < 90.0, 1.0).otherwise(0.0))
      .crossJoin(broadcast(track))
      .withColumn("a", degrees(acos(least(lit(1.0), greatest(lit(-1.0),
        sin(radians(col("plat"))) * sin(radians(col("tlat"))) +
          cos(radians(col("plat"))) * cos(radians(col("tlat"))) *
            cos(radians(col("plon") - col("tlon"))))))))
      .groupBy(col("area_name"), col("plon"), col("plat"), col("sunlit"))
      .agg(round(lit(1e-9) + min(col("a")), 4).as("min_ang"))
      .withColumn("in_pass", when(col("min_ang") <= 12.0, 1.0).otherwise(0.0))
    pts.groupBy(col("area_name"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("in_pass")).cast("long").as("n_in_pass"),
        round(lit(1e-9) + avg(col("sunlit")), 5).as("area_sunlit_frac"),
        when(sum(col("in_pass")) > 0,
          round(lit(1e-9) + sum(col("in_pass") * col("sunlit")) / sum(col("in_pass")), 5))
          .otherwise(0.0).as("pass_sunlit_frac"))
      .orderBy(col("area_name"))
  }

  lazy val q150Sql: String = {
    val trackValues = q150Track
      .map { case (k, la, lo) => String.format(java.util.Locale.ROOT,
        "(%d, %.6f, %.6f)", Int.box(k), Double.box(la), Double.box(lo)) }
      .mkString(",\n    ")
    s"""WITH areas(area_name, lon_min, lon_max, lat_min, lat_max) AS (VALUES
      |    ('euro', -10.0, 40.0, 35.0, 70.0),
      |    ('pacific', 140.0, 180.0, -50.0, 10.0),
      |    ('americas', -120.0, -60.0, -30.0, 50.0)),
      |track(k, tlat, tlon) AS (VALUES
      |    $trackValues),
      |st AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 90 MINUTE AS t0 FROM events),
      |grid AS (
      |  SELECT area_name, t0,
      |    lon_min + (i + 0.5) * (lon_max - lon_min) / 8.0 AS plon,
      |    lat_min + (j + 0.5) * (lat_max - lat_min) / 8.0 AS plat
      |  FROM areas CROSS JOIN st, range(0, 8) ti(i), range(0, 8) tj(j)),
      |sz AS (
      |  SELECT area_name, plon, plat,
      |    CASE WHEN degrees(acos(
      |      sin(radians(plat))
      |        * sin(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(t0)::DOUBLE + 10.0)))))
      |      + cos(radians(plat))
      |        * cos(radians(-23.44 * cos(radians(360.0/365.0 * (dayofyear(t0)::DOUBLE + 10.0)))))
      |        * cos(radians(15.0 * (date_part('hour', t0)::DOUBLE
      |                              + date_part('minute', t0)::DOUBLE / 60.0
      |                              + date_part('second', t0)::DOUBLE / 3600.0
      |                              - 12.0)
      |                      + plon)))) < 90.0 THEN 1.0 ELSE 0.0 END AS sunlit
      |  FROM grid),
      |ang AS (
      |  SELECT area_name, plon, plat, sunlit,
      |    degrees(acos(least(1.0, greatest(-1.0,
      |      sin(radians(plat)) * sin(radians(tlat::DOUBLE))
      |      + cos(radians(plat)) * cos(radians(tlat::DOUBLE))
      |        * cos(radians(plon - tlon::DOUBLE)))))) AS a
      |  FROM sz CROSS JOIN track),
      |pt AS (
      |  SELECT area_name, plon, plat, sunlit, round(1e-9 + min(a), 4) AS min_ang
      |  FROM ang GROUP BY 1, 2, 3, 4)
      |SELECT area_name, count(*) AS n_points,
      |  sum(CASE WHEN min_ang <= 12.0 THEN 1 ELSE 0 END)::BIGINT AS n_in_pass,
      |  round(1e-9 + avg(sunlit), 5) AS area_sunlit_frac,
      |  CASE WHEN sum(CASE WHEN min_ang <= 12.0 THEN 1.0 ELSE 0.0 END) > 0
      |    THEN round(1e-9 + sum(CASE WHEN min_ang <= 12.0 THEN sunlit ELSE 0.0 END)
      |      / sum(CASE WHEN min_ang <= 12.0 THEN 1.0 ELSE 0.0 END), 5)
      |    ELSE 0.0 END AS pass_sunlit_frac
      |FROM pt
      |GROUP BY area_name
      |ORDER BY area_name""".stripMargin
  }

  private lazy val q151Track: Seq[(Int, Double, Double)] =
    sgp4TrackPoints(720)

  /** Pass-schedule base epoch: the fixture TLE's epoch rounded to the
    * second, as exact epoch-NANOS (the repo's integer time idiom) —
    * embedded identically in both engines. */
  private val q151BaseNs: Long =
    java.time.Instant.parse("2024-01-30T22:27:00Z").getEpochSecond * 1000000000L

  /** Satellite PASS SCHEDULING — the trollsched face of the reference
    * (trollsched `Pass` objects feed the `covers` plugin,
    * plugins/__init__.py:580-684): detect every overpass window of the
    * fixture TLE over each production area across a 24 h horizon, and
    * attribute the fixture's events to the window that captured them.
    *
    * Shape: [[q151Track]] (720 SGP4 samples at 2-min steps) × the 8×8
    * area grids → per (area, sample) closest-approach angle (q139's
    * rounded-min idiom) → in-pass samples (≤ 12°) → contiguous runs via
    * gaps-and-islands (k − row_number — pure integer arithmetic, both
    * engines identical) → one row per pass window: [start_min,
    * end_min) (end covers the last sample's 2-min slot), sample count,
    * closest approach (max-elevation proxy), and the count of events
    * with ts_ns inside the window (exact integer nanos).
    *
    * Scale: everything upstream of the event attribution is
    * config-sized (3 areas × 64 points × 720 samples = 138 k rows from
    * broadcast literals, window partitions ≤ 720 rows); the attribution
    * is ONE events scan against a broadcast of ≤ dozens of windows —
    * the only data-sized term, and exactly how a 100 TB telemetry
    * attribution would run. */
  def q151PassSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val areas = Seq(
      ("euro", -10.0, 40.0, 35.0, 70.0),
      ("pacific", 140.0, 180.0, -50.0, 10.0),
      ("americas", -120.0, -60.0, -30.0, 50.0)
    ).toDF("area_name", "lon_min", "lon_max", "lat_min", "lat_max")
    val track = q151Track.toDF("k", "tlat", "tlon")
    val ang = areas
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .withColumn("j", explode(sequence(lit(0), lit(7))))
      .withColumn("plon",
        col("lon_min") + (col("i") + 0.5) * (col("lon_max") - col("lon_min")) / 8.0)
      .withColumn("plat",
        col("lat_min") + (col("j") + 0.5) * (col("lat_max") - col("lat_min")) / 8.0)
      .crossJoin(broadcast(track))
      .withColumn("a", degrees(acos(least(lit(1.0), greatest(lit(-1.0),
        sin(radians(col("plat"))) * sin(radians(col("tlat"))) +
          cos(radians(col("plat"))) * cos(radians(col("tlat"))) *
            cos(radians(col("plon") - col("tlon"))))))))
      .groupBy(col("area_name"), col("k"))
      .agg(round(lit(1e-9) + min(col("a")), 4).as("min_ang"))
    val inPass = ang.filter(col("min_ang") <= 12.0)
    val byArea = Window.partitionBy(col("area_name")).orderBy(col("k"))
    val runs = inPass
      .withColumn("grp", col("k") - row_number().over(byArea))
      .groupBy(col("area_name"), col("grp"))
      .agg((min(col("k")) * 2).cast("long").as("start_min"),
        (max(col("k")) * 2 + 2).cast("long").as("end_min"),
        count(lit(1)).as("n_samples"),
        min(col("min_ang")).as("closest_deg"))
    val windows = runs.withColumn("pass_idx",
      row_number().over(
        Window.partitionBy(col("area_name")).orderBy(col("start_min")))
        .cast("long"))
    val ev = Tables.events(spark, dir).select(col("ts_ns"))
    val hits = ev.join(broadcast(windows),
        col("ts_ns") >= lit(q151BaseNs) + col("start_min") * 60000000000L &&
          col("ts_ns") < lit(q151BaseNs) + col("end_min") * 60000000000L)
      .groupBy(col("area_name"), col("pass_idx"))
      .agg(count(lit(1)).as("n_events"))
    windows.join(broadcast(hits), Seq("area_name", "pass_idx"), "left")
      .select(col("area_name"), col("pass_idx"), col("start_min"),
        col("end_min"), col("n_samples"), col("closest_deg"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("area_name"), col("pass_idx"))
  }

  lazy val q151Sql: String = {
    val trackValues = q151Track
      .map { case (k, la, lo) => String.format(java.util.Locale.ROOT,
        "(%d, %.6f, %.6f)", Int.box(k), Double.box(la), Double.box(lo)) }
      .mkString(",\n    ")
    s"""WITH areas(area_name, lon_min, lon_max, lat_min, lat_max) AS (VALUES
      |    ('euro', -10.0, 40.0, 35.0, 70.0),
      |    ('pacific', 140.0, 180.0, -50.0, 10.0),
      |    ('americas', -120.0, -60.0, -30.0, 50.0)),
      |track(k, tlat, tlon) AS (VALUES
      |    $trackValues),
      |grid AS (
      |  SELECT area_name,
      |    lon_min + (i + 0.5) * (lon_max - lon_min) / 8.0 AS plon,
      |    lat_min + (j + 0.5) * (lat_max - lat_min) / 8.0 AS plat
      |  FROM areas, range(0, 8) ti(i), range(0, 8) tj(j)),
      |ang AS (
      |  SELECT area_name, k, round(1e-9 + min(degrees(acos(least(1.0, greatest(-1.0,
      |      sin(radians(plat)) * sin(radians(tlat::DOUBLE))
      |      + cos(radians(plat)) * cos(radians(tlat::DOUBLE))
      |        * cos(radians(plon - tlon::DOUBLE))))))), 4) AS min_ang
      |  FROM grid CROSS JOIN track
      |  GROUP BY area_name, k),
      |ip AS (
      |  SELECT area_name, k, min_ang,
      |    k - row_number() OVER (PARTITION BY area_name ORDER BY k) AS grp
      |  FROM ang WHERE min_ang <= 12.0),
      |runs AS (
      |  SELECT area_name, grp,
      |    (min(k) * 2)::BIGINT AS start_min,
      |    (max(k) * 2 + 2)::BIGINT AS end_min,
      |    count(*) AS n_samples,
      |    min(min_ang) AS closest_deg
      |  FROM ip GROUP BY area_name, grp),
      |win AS (
      |  SELECT area_name, start_min, end_min, n_samples, closest_deg,
      |    row_number() OVER (PARTITION BY area_name ORDER BY start_min)::BIGINT AS pass_idx
      |  FROM runs),
      |hits AS (
      |  SELECT w.area_name, w.pass_idx, count(*) AS n_events
      |  FROM events e JOIN win w
      |    ON epoch_ns(CAST(e.ts AS TIMESTAMP)) >= $q151BaseNs + w.start_min * 60000000000
      |   AND epoch_ns(CAST(e.ts AS TIMESTAMP)) < $q151BaseNs + w.end_min * 60000000000
      |  GROUP BY w.area_name, w.pass_idx)
      |SELECT win.area_name, win.pass_idx, win.start_min, win.end_min,
      |  win.n_samples, win.closest_deg,
      |  coalesce(hits.n_events, 0) AS n_events
      |FROM win LEFT JOIN hits
      |  ON win.area_name = hits.area_name AND win.pass_idx = hits.pass_idx
      |ORDER BY win.area_name, win.pass_idx""".stripMargin
  }

  val declared: Seq[Query] = Seq(
    Query("q39_block_aggregate", q39BlockAggregate, q39Sql),
    Query("q139_overpass_sunlight", q139OverpassSunlight, q139Sql),
    Query("q150_sgp4_overpass", q150Sgp4Overpass, q150Sql),
    Query("q151_pass_schedule", q151PassSchedule, q151Sql),
    Query("q40_resample", q40Resample, q40Sql),
    Query("q41_valid_fraction", q41ValidFraction, q41Sql),
    Query("q42_sza_check", q42SzaCheck, q42Sql),
    Query("q43_coverage_filter", q43CoverageFilter, q43Sql),
    Query("q44_worklist_expand", q44WorklistExpand, q44Sql),
    Query("q45_sunlight_coverage", q45SunlightCoverage, q45Sql),
    Query("q55_resample_nearest", q55ResampleNearest, q55Sql),
    Query("q63_resample_bilinear", q63ResampleBilinear, q63Sql),
    Query("q123_resample_ewa", q123ResampleEwa, q123Sql),
    Query("q131_resample_ewa_swath", q131ResampleEwaSwath, q131Sql)
  )
}
