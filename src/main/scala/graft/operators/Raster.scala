package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The tall-layout raster kernels: the one definition of the reference's
  * `aggregate` (plugins/__init__.py:124-130) and `resample` (:133-201)
  * math. The plugin chain ([[graft.pipeline.Plugins]]), the Trollflow
  * resample queries, and TiledRaster's tall twins and pixel paths all call
  * these; the callers add only crops, renames, rounding and sort order.
  *
  * A tall raster is one row per (keys…, y, x, value). Every kernel takes
  * the frame, its key columns and the target geometry, and returns
  * (keys…, y, x, value, __n): target coordinates under the source's y/x
  * names, the resampled value, and `__n`, the support count — source rows
  * (cellMeans, blockMean, average), present corners (bilinear) or splat
  * contributions (ewa). [[nearest]] returns no count: no caller reports
  * one. Internal and count columns carry the `__` prefix, so any other
  * column of a scene is a key and passes through. Kernels never crop:
  * restricting the source to its window ([[Grid.crop]]) is resampling
  * semantics the caller states.
  *
  * Target indices and nearest-mode distances are exact integer math;
  * bilinear fractions and ewa offsets are one correctly rounded division
  * of exact integers. Callers that state the same geometry with different
  * constants (the oracle queries' ×100 spaces) therefore get the same
  * doubles.
  */
object Raster {

  /** A resample target: the source window [srcYMin, srcYMax) ×
    * [srcXMin, srcXMax) mapped onto a height × width target grid. */
  final case class Grid(srcYMin: Long, srcYMax: Long, srcXMin: Long, srcXMax: Long,
      height: Int, width: Int) {
    def ry: Long = srcYMax - srcYMin
    def rx: Long = srcXMax - srcXMin

    /** Source rows inside the window. Out-of-window cells are never part
      * of a resample: a truncating `div` would fold cells just outside
      * the window onto edge target cells. */
    def crop(df: DataFrame): DataFrame =
      df.filter(col("y") >= srcYMin && col("y") < srcYMax &&
        col("x") >= srcXMin && col("x") < srcXMax)

    /** The target row/column covering a source cell. */
    def ty: Column = expr(s"((y - $srcYMin) * $height) div $ry")
    def tx: Column = expr(s"((x - $srcXMin) * $width) div $rx")

    /** The [[bilinear]] axes: target center t sits at source coordinate
      * srcMin + (t + ½)·r/size − ½ = (2r·t + 2·srcMin·size + r − size) /
      * (2·size). */
    def yAxis: Axis = Axis(2 * ry, 2 * srcYMin * height + ry - height, 2L * height, height)
    def xAxis: Axis = Axis(2 * rx, 2 * srcXMin * width + rx - width, 2L * width, width)
  }

  /** One axis of a [[bilinear]] target mapping: target t ∈ [0, n) sits
    * at source coordinate (a·t + b)/d, with a, d > 0. Its upper-left
    * corner is floorDiv(a·t + b, d) and its fraction the exact-integer
    * remainder over d, one correctly rounded division. All index math is
    * exact integer arithmetic, floorDiv(e, a) = (e − pmod(e, a)) div a. */
  final case class Axis(a: Long, b: Long, d: Long, n: Long) {
    require(a > 0 && d > 0 && n > 0, s"bilinear axis needs a, d, n > 0: $this")

    private def floorDiv(e: String, by: Long): String = s"(($e) - pmod($e, ${by}L)) div ${by}L"

    /** SQL for the first and last target (before clamping to [0, n))
      * whose corner `k` (0 or 1) is source cell `c`: the t with
      * d·(c−k) ≤ a·t + b < d·(c−k+1). */
    def targets(c: String, k: String): (String, String) = {
      val base = s"${d}L * ($c - $k)"
      (floorDiv(s"$base + (${a - 1 - b}L)", a), floorDiv(s"$base + (${d - 1 - b}L)", a))
    }

    /** The fraction of target column `t` past its corner. */
    def fraction(t: String): Column = expr(s"pmod(${a}L * $t + (${b}L), ${d}L)") / lit(d.toDouble)
  }

  /** The EWA knobs, with the reference's RESAMPLER_DEFAULT_OPTIONS["ewa"]
    * defaults (plugins/__init__.py:134-146): footprint radius in
    * target-cell units, the weight at that radius, the minimum accumulated
    * weight for a target cell to be emitted (-1 = emit all),
    * maximum_weight_mode (keep the heaviest contribution instead of
    * blending), and the swath geometry: with `rowsPerScan` set the
    * footprint is the swath ellipse, whose cross-scan semi-axis widens
    * toward the scan edges, capped at `weightDeltaMax` (see [[ewa]]). */
  final case class Ewa(distanceMax: Double = 1.0, weightMin: Double = 0.01,
      weightSumMin: Double = -1.0, maximumWeightMode: Boolean = false,
      rowsPerScan: Option[Int] = None, weightDeltaMax: Double = 10.0)

  /** One value per pixel: the mean of the rows sharing (keys, y, x). */
  def cellMeans(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy((keys :+ "y" :+ "x").map(col): _*)
      .agg(avg(col("value")).as("value"), count(lit(1)).as("__n"))

  /** Block mean: `value` averaged over integer blocks of each listed
    * axis (`axis div factor`); axes not listed must be in `keys`. One
    * hash aggregate with map-side partials. */
  def blockMean(df: DataFrame, keys: Seq[String], blocks: Seq[(String, Long)]): DataFrame =
    df.groupBy(keys.map(col) ++ blocks.map { case (a, f) => expr(s"$a div $f").as(a) }: _*)
      .agg(avg(col("value")).as("value"), count(lit(1)).as("__n"))

  /** Area average: the mean of the source rows each target cell covers. */
  def average(df: DataFrame, keys: Seq[String], g: Grid): DataFrame =
    df.groupBy(keys.map(col) :+ g.ty.as("y") :+ g.tx.as("x"): _*)
      .agg(avg(col("value")).as("value"), count(lit(1)).as("__n"))

  /** Nearest neighbour: each target cell takes the source row whose
    * center is nearest its own center, ties broken on (y, x). The argmin
    * is a lexicographic `min(struct(d², y, x, value))`, so it combines
    * map-side and shuffles target-grain rows only.
    *
    * Distances live in a 2·height(width)-scaled integer space:
    * dy = (2(y−y0)+1)·H − (2ty+1)·(y1−y0). dy carries a hidden 2H factor
    * and dx a 2W factor, so the Euclidean comparison cross-weights by the
    * OTHER axis' factor (dy²·W² + dx²·H²); a bare dy²+dx² would bias the
    * pick toward the finer-scaled axis whenever H ≠ W. */
  def nearest(df: DataFrame, keys: Seq[String], g: Grid): DataFrame = {
    val dy = (col("y").cast("long") - g.srcYMin) * 2 * g.height + g.height -
      (col("__ty").cast("long") * 2 + 1) * g.ry
    val dx = (col("x").cast("long") - g.srcXMin) * 2 * g.width + g.width -
      (col("__tx").cast("long") * 2 + 1) * g.rx
    val d2 = dy * dy * lit(g.width.toLong * g.width) + dx * dx * lit(g.height.toLong * g.height)
    df.withColumn("__ty", g.ty).withColumn("__tx", g.tx)
      .groupBy(keys.map(col) :+ col("__ty") :+ col("__tx"): _*)
      .agg(min(struct(d2.as("d2"), col("y"), col("x"), col("value"))).as("__best"))
      .select(keys.map(col) :+ col("__ty").as("y") :+ col("__tx").as("x") :+
        col("__best.value").as("value"): _*)
  }

  /** Mask-aware bilinear over `cells` (one row per (keys, y, x)): each
    * target cell (ty, tx) blends the ≤ 4 cells around its source
    * coordinate (ys(ty), xs(tx)), renormalized over the corners that
    * exist with a non-null value (the reference's NaN-fill behaviour).
    *
    * Plan: SCATTER, as [[ewa]]. Each cell is corner k ∈ {0, 1} of a
    * contiguous range of targets on each axis ([[Axis.targets]]); the
    * cell explodes over those (k, t) pairs on both axes and ONE hash
    * aggregate on (keys, ty, tx) gathers each target's corners. A
    * (target, corner) pair has at most one cell, so each corner's value
    * is a `max(when(corner, value))`. No join, no broadcast, no
    * `distinct`. The blend is one fixed-order expression, so every caller
    * computes bit-identical doubles. A null key groups like any other
    * key, as in [[average]], [[nearest]] and [[ewa]]. */
  def bilinear(cells: DataFrame, keys: Seq[String], ys: Axis, xs: Axis): DataFrame = {
    def scatter(df: DataFrame, c: String, m: Axis, k: String, t: String): DataFrame = {
      val (lo, hi) = m.targets(c, k)
      df.withColumn(k, explode(array(lit(0L), lit(1L))))
        .withColumn("__lo", greatest(lit(0L), expr(lo)))
        .withColumn("__hi", least(lit(m.n - 1), expr(hi)))
        .filter(col("__lo") <= col("__hi"))
        .withColumn(t, explode(sequence(col("__lo"), col("__hi"))))
    }
    val corners = Seq(("00", 0, 0), ("01", 0, 1), ("10", 1, 0), ("11", 1, 1))
    val values = corners.map { case (tag, ky, kx) =>
      max(when(col("__ky") === ky && col("__kx") === kx, col("value"))).as(s"__v_$tag")
    }
    val gathered = scatter(scatter(cells, "y", ys, "__ky", "__ty"), "x", xs, "__kx", "__tx")
      .groupBy(keys.map(col) :+ col("__ty") :+ col("__tx"): _*)
      .agg(values.head, values.tail: _*)
      .withColumn("__fy", ys.fraction("__ty"))
      .withColumn("__fx", xs.fraction("__tx"))
    def wgt(tag: String): Column = tag match {
      case "00" => (lit(1.0) - col("__fy")) * (lit(1.0) - col("__fx"))
      case "01" => (lit(1.0) - col("__fy")) * col("__fx")
      case "10" => col("__fy") * (lit(1.0) - col("__fx"))
      case "11" => col("__fy") * col("__fx")
    }
    def present(tag: String): Column =
      when(col(s"__v_$tag").isNull, lit(0.0)).otherwise(lit(1.0))
    val tags = corners.map(_._1)
    val num = tags.map(t => wgt(t) * coalesce(col(s"__v_$t"), lit(0.0))).reduce(_ + _)
    val den = tags.map(t => wgt(t) * present(t)).reduce(_ + _)
    val n = tags.map(present).reduce(_ + _).cast("int")
    gathered.withColumn("__den", den)
      .filter(col("__den") > 0)
      .select(keys.map(col) :+ col("__ty").as("y") :+ col("__tx").as("x") :+
        (num / col("__den")).as("value") :+ n.as("__n"): _*)
  }

  /** EWA (plugins/__init__.py:134-146 — the reference's
    * elliptical-weighted-average swath resampler) over `cells` (one row
    * per (keys, y, x)): SCATTER resampling. Each source cell splats a
    * gaussian-weighted contribution onto every target cell whose center
    * lies within `distanceMax` target-cell units of the cell's continuous
    * target-space position, and each target cell blends what landed on it:
    *   w = exp(-d² · ln(1/weight_min) / r²)   (w = weight_min exactly at
    * d = r). `maximumWeightMode` keeps the single heaviest contribution
    * instead of blending; cells whose accumulated weight is below
    * `weightSumMin` are dropped. Divergence: the reference's footprint is
    * the elliptical per-scan ellipse from swath geometry; without
    * `rowsPerScan` the grid model has no scan metadata, so the footprint
    * is circular.
    *
    * Plan: bounded explode ((2·ceil(r)+1)² candidates per source cell, 9
    * at the default r=1) → ONE hash aggregate on the target key. One
    * shuffle, no window, no self-join — the scatter direction is what
    * keeps it linear at swath scale (the gather modes would need a
    * per-target radius search). */
  def ewa(cells: DataFrame, keys: Seq[String], g: Grid, p: Ewa = Ewa()): DataFrame = {
    val h = g.height.toLong; val wd = g.width.toLong
    val ry = g.ry; val rx = g.rx
    val r = p.distanceMax
    require(r > 0 && p.weightMin > 0 && p.weightMin < 1,
      s"ewa: need weight_distance_max > 0 and weight_min in (0,1): $p")
    val reach = math.ceil(r).toInt
    // cross-scan (y) reach: the swath ellipse can extend to
    // min(2r, weightDeltaMax); circular footprint stays at r
    val reachY = p.rowsPerScan match {
      case Some(_) => math.ceil(math.min(2 * r, p.weightDeltaMax)).toInt
      case None => reach
    }
    // cross-scan semi-axis scale per source row (swath mode):
    // rows_per_scan splits the swath into scans; within a scan the
    // footprint widens linearly from the center row to 2× at the
    // scan-edge rows (the bow-tie), capped so that r·s <= weightDeltaMax.
    // m = |2·rowInScan - (rps-1)| is an exact integer; s = 1 + m/(rps-1)
    val sCol = p.rowsPerScan match {
      case Some(rps) =>
        require(rps >= 2, s"ewa: rows_per_scan must be >= 2: $rps")
        val row = ((col("y") - g.srcYMin) % rps + rps) % rps
        val m = abs(row * 2 - (rps - 1))
        least(lit(1.0) + m.cast("double") / (rps - 1.0), lit(p.weightDeltaMax / r))
      case None => lit(1.0)
    }
    // continuous target-space position of the source center:
    // py = __ny / (2·ry) with __ny = ((y-y0)·2+1)·H — integer numerators
    // so the base candidate floor(py - 0.5) is exact integer division
    // (positive-biased: both engines agree on non-negative operands)
    val bias = 1L << 20
    val cand = cells
      .withColumn("__s", sCol)
      .withColumn("__ny", (col("y") - g.srcYMin) * 2 * h + h)
      .withColumn("__nx", (col("x") - g.srcXMin) * 2 * wd + wd)
      .withColumn("__tyb", expr(s"(__ny - $ry + ${2 * ry * bias}) div ${2 * ry} - $bias"))
      .withColumn("__txb", expr(s"(__nx - $rx + ${2 * rx * bias}) div ${2 * rx} - $bias"))
      .withColumn("__ky", explode(sequence(lit(-reachY), lit(reachY))))
      .withColumn("__kx", explode(sequence(lit(-reach), lit(reach))))
      .withColumn("__ty", col("__tyb") + col("__ky"))
      .withColumn("__tx", col("__txb") + col("__kx"))
      .withColumn("__dy", col("__ny") / (2.0 * ry) - (col("__ty") + 0.5))
      .withColumn("__dx", col("__nx") / (2.0 * rx) - (col("__tx") + 0.5))
    val inGrid = col("__ty") >= 0 && col("__ty") < h && col("__tx") >= 0 && col("__tx") < wd
    val splat = p.rowsPerScan match {
      case None => // circular footprint: w = wmin at d = r
        cand
          .withColumn("__d2", col("__dy") * col("__dy") + col("__dx") * col("__dx"))
          .filter(col("__d2") <= r * r && inGrid)
          .withColumn("__w", exp(col("__d2") * (-math.log(1.0 / p.weightMin) / (r * r))))
      case Some(_) => // swath ellipse: w = wmin on the boundary
        cand
          .withColumn("__e2",
            (col("__dx") * col("__dx") +
              col("__dy") * col("__dy") / (col("__s") * col("__s"))) / (r * r))
          .filter(col("__e2") <= 1.0 && inGrid)
          .withColumn("__w", exp(col("__e2") * -math.log(1.0 / p.weightMin)))
    }
    val blend =
      if (p.maximumWeightMode) // deterministic ties: heaviest weight, then (y, x)
        max_by(col("value"), struct(col("__w"), col("y"), col("x")))
      else sum(col("__w") * col("value")) / sum(col("__w"))
    splat.groupBy(keys.map(col) :+ col("__ty") :+ col("__tx"): _*)
      .agg(blend.as("value"), sum(col("__w")).as("__wsum"), count(lit(1)).as("__n"))
      .filter(col("__wsum") >= p.weightSumMin)
      .select(keys.map(col) :+ col("__ty").as("y") :+ col("__tx").as("x") :+
        col("value") :+ col("__n"): _*)
  }
}
