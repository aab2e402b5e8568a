package graft

import scala.util.Random

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import graft.operators.Raster
import graft.operators.Raster.{Axis, Grid}
import graft.pipeline._
import graft.pipeline.Plugins.{Resample, ResampleTarget}

/** The shared raster kernels: cache lifetimes of the queries built on
  * them, [[Raster.bilinear]] against a plain-Scala reference, and the
  * bilinear plan shape. */
class RasterSpec extends SparkSpec {

  test("q63 bilinear leaves nothing in the cache") {
    // the scatter reads the cell means without a persist; one that
    // nothing unpersists would outlive the query in a long-lived session
    spark.sharedState.cacheManager.clearCache()
    val rows = SparkEntry.queries("q63_resample_bilinear")(spark, sf).collect()
    assert(rows.nonEmpty, "empty result would vacuously pass")
    assert(spark.sharedState.cacheManager.isEmpty,
      "q63 left a cached frame behind")
  }

  private type Cell = (String, Long, Long)

  /** The bilinear blend, target by target: the corner and fraction of
    * each axis, the four corner lookups, and the kernel's fixed-order
    * weighted sums. (value bits, present corners) per covered target. */
  private def reference(cells: Map[Cell, Option[Double]], ys: Axis,
      xs: Axis): Map[Cell, (Long, Int)] = {
    def split(m: Axis, t: Long): (Long, Double) = {
      val e = m.a * t + m.b
      (Math.floorDiv(e, m.d), Math.floorMod(e, m.d).toDouble / m.d.toDouble)
    }
    val out = for {
      key <- cells.keys.map(_._1).toSeq.distinct
      ty <- 0L until ys.n
      tx <- 0L until xs.n
    } yield {
      val (y0, fy) = split(ys, ty)
      val (x0, fx) = split(xs, tx)
      val v = Seq((0, 0), (0, 1), (1, 0), (1, 1))
        .map { case (i, j) => cells.get((key, y0 + i, x0 + j)).flatten }
      val w = Seq((1.0 - fy) * (1.0 - fx), (1.0 - fy) * fx, fy * (1.0 - fx), fy * fx)
      val num = w.zip(v).map { case (wi, vi) => wi * vi.getOrElse(0.0) }.reduce(_ + _)
      val den = w.zip(v).map { case (wi, vi) => wi * (if (vi.isEmpty) 0.0 else 1.0) }
        .reduce(_ + _)
      ((key, ty, tx), num, den, v.count(_.isDefined))
    }
    out.collect { case (t, num, den, n) if den > 0 =>
      t -> (java.lang.Double.doubleToRawLongBits(num / den), n)
    }.toMap
  }

  /** A random raster over [y0, y1) × [x0, x1) for `keys`: about 15 %
    * of cells missing, 20 % null values and one NaN. */
  private def raster(seed: Long, keys: Seq[String], y0: Long, y1: Long, x0: Long,
      x1: Long): Map[Cell, Option[Double]] = {
    val rnd = new Random(seed)
    val cells = for {
      key <- keys
      y <- y0 until y1
      x <- x0 until x1
      if rnd.nextDouble() >= 0.15
    } yield (key, y, x) -> (if (rnd.nextDouble() < 0.2) None
      else Some(rnd.nextGaussian() * 100))
    val nan = cells(rnd.nextInt(cells.size))._1
    cells.toMap.updated(nan, Some(Double.NaN))
  }

  test("bilinear is bit-identical to the reference blend") {
    import spark.implicits._
    val cases = Seq(
      // down-sampling, non-square
      Grid(0, 20, 0, 16, 7, 5) -> (0L, 20L, 0L, 16L),
      // up-sampling, non-square
      Grid(0, 6, 0, 5, 13, 11) -> (0L, 6L, 0L, 5L),
      // negative origin, the raster reaching past the window
      Grid(-4, 9, -3, 7, 6, 9) -> (-6L, 11L, -5L, 9L),
      // offset origin
      Grid(5, 17, 3, 12, 10, 4) -> (4L, 18L, 2L, 13L))
    val axes = cases.map { case (g, box) => (g.yAxis, g.xAxis, box) } :+
      // a raw axis map with a negative offset, as the tall twin states it
      ((Axis(3, -7, 5, 9), Axis(128, 50, 100, 12), (-3L, 12L, 0L, 16L)))
    axes.zipWithIndex.foreach { case ((ys, xs, (y0, y1, x0, x1)), i) =>
      // one case has a null key, which resamples like any other key
      val keys = if (i == 2) Seq("a", null) else Seq("a", "b")
      val cells = raster(i.toLong, keys, y0, y1, x0, x1)
      val frame = cells.toSeq.map { case ((k, y, x), v) => (k, y, x, v) }
        .toDF("key", "y", "x", "value")
      val got = Raster.bilinear(frame, Seq("key"), ys, xs).collect().map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (java.lang.Double.doubleToRawLongBits(r.getDouble(3)), r.getInt(4))
      }.toMap
      val want = reference(cells, ys, xs)
      assert(want.size > 10 && want.values.exists(_._2 < 4), s"case $i is too easy")
      assert(keys.forall(k => want.keys.exists(_._1 == k)), s"case $i lost a key")
      assert(got.size == want.size, s"case $i: ${got.size} targets, want ${want.size}")
      val wrong = want.filter { case (t, w) => !got.get(t).contains(w) }
      assert(wrong.isEmpty, s"case $i: ${wrong.size} targets differ, e.g. " +
        wrong.take(3).map { case (t, w) => s"$t: got ${got.get(t)}, want $w" }.mkString("; "))
    }
  }

  test("the plugin's bilinear area plans no join and one shuffle above the cell means") {
    // the session the subscriber loop runs a message's chain in
    val session = StreamSession(spark)
    val scene = session.read.parquet(Granule.write(spark))
    val target = ResampleTarget("bil", 10, 10, 0, 16, 2, 14, mode = "bilinear")
    val spec = ProductList(areas = Seq(AreaSpec(Some("bil"))))
    val ctx = PipelineContext(session, spec, Map.empty, Map(None -> scene),
      Worklist.expand(spec))
    val area = Resample(Seq(target))(ctx).frames(Some("bil"))
    val plan = PlanShape.of(area, PlanShape.Leaf)
    val below = PlanShape.of(Raster.cellMeans(target.grid.crop(scene), Seq("product")),
      PlanShape.Leaf)
    def shuffles(s: PlanShape) = s.count[ShuffleExchangeExec]
    assert(plan.joins.isEmpty, s"a join is back:\n${plan.render}")
    assert(!plan.has[BroadcastExchangeExec], s"a broadcast is back:\n${plan.render}")
    assert(shuffles(plan) - shuffles(below) == 1,
      s"want one shuffle above the cell means' ${shuffles(below)}:\n${plan.render}")
  }
}
