package graft

import java.nio.file.{Files, Paths}
import scala.concurrent.duration._
import graft.pipeline._
import graft.pipeline.Plugins._

class RunnerSpec extends SparkSpec {

  private val spec = ProductList(areas = Seq(
    AreaSpec(Some("euro"), products = Seq(ProductSpec("N", formats = Seq(FormatSpec("parquet")))))))

  private def baseCtx() = {
    import spark.implicits._
    val frame = Seq(("N", 0L, 0L, 1.0), ("N", 0L, 1L, 3.0),
      ("N", 1L, 0L, 5.0), ("N", 1L, 1L, 7.0),
      ("N", 2L, 2L, 9.0)).toDF("product", "y", "x", "value")
    PipelineContext(spark, spec, Map.empty,
      frames = Map(Option("euro") -> frame), worklist = Worklist.expand(spec))
  }

  test("staging zone: files commit via the staging dir and land in outDir") {
    val out = Files.createTempDirectory("graft_out").toString
    val staging = Files.createTempDirectory("graft_staging").toString
    val save = SaveDatasets(out, stagingZone = Some(staging))
    val done = save(baseCtx())
    assert(done.manifest.size == 1)
    val f = done.manifest.head
    assert(f.path.startsWith(out))
    assert(Files.exists(Paths.get(f.path)))
    // staging zone drained: nothing left behind
    assert(Files.list(Paths.get(staging)).count() == 0)
  }

  test("overviews: each written raster gains block-mean .ovN siblings") {
    val out = Files.createTempDirectory("graft_ov").toString
    val save = SaveDatasets(out, overviews = Seq(2))
    val done = save(baseCtx())
    assert(done.manifest.size == 2)
    val ov = done.manifest.find(_.path.endsWith(".ov2")).get
    val full = done.manifest.find(!_.path.endsWith(".ov2")).get
    assert(full.rows == 5)
    // 2x2 block-mean of cells (0..2)^2 -> blocks (0,0),(0,0),(0,0),(0,0),(1,1)
    val rows = spark.read.parquet(ov.path)
      .orderBy("y", "x").collect()
    assert(ov.rows == 2)
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((0L, 0L, 4.0), (1L, 1L, 9.0)))
  }

  test("per-plugin timeout aborts the job instead of hanging") {
    val slow = new Plugin {
      val name = "slow_plugin"
      def apply(ctx: PipelineContext): PipelineContext = {
        Thread.sleep(10000); ctx
      }
    }
    val reports = Runner.processJobs(baseCtx(), Seq(slow),
      timeoutPerPlugin = 500.millis)
    assert(reports.head.finalCtx.aborted.exists(_.contains("timed out")))
    assert(reports.head.results.head.abortedAfter.isDefined)
  }

  test("a timed-out plugin's persists leave no cache entry, before or after the timeout") {
    spark.sharedState.cacheManager.clearCache()
    val persistedLate = new java.util.concurrent.CountDownLatch(1)
    val slow = new Plugin {
      val name = "slow_persisting_plugin"
      def apply(ctx: PipelineContext): PipelineContext = {
        val early = ctx.scope.persist(ctx.frames(Some("euro")))
        early.count()
        Thread.sleep(4000) // the Runner times out and ends the job meanwhile
        val late = ctx.scope.persist(early.filter("value > 1"))
        persistedLate.countDown()
        ctx.copy(frames = ctx.frames + (Option("euro") -> late))
      }
    }
    val reports = Runner.processJobs(baseCtx(), Seq(slow),
      timeoutPerPlugin = 2.seconds)
    assert(reports.head.finalCtx.aborted.exists(_.contains("timed out")))
    assert(Cache.entries(spark) == 0, "the job ended with a cache entry")
    assert(persistedLate.await(30, SECONDS), "the plugin never reached its late persist")
    assert(Cache.entries(spark) == 0, "a persist after the timeout left a cache entry")
  }

  test("the chain stops at the first abort: later plugins neither run nor report") {
    var ran = false
    val stop = new Plugin {
      val name = "stop_plugin"
      def apply(ctx: PipelineContext): PipelineContext = ctx.abort("stop here")
    }
    val after = new Plugin {
      val name = "after_plugin"
      def apply(ctx: PipelineContext): PipelineContext = { ran = true; ctx }
    }
    val report = Runner.processJobs(baseCtx(), Seq(stop, after)).head
    assert(!ran, "a plugin ran after the abort")
    assert(report.results.map(_.plugin) == Seq("stop_plugin"))
    assert(report.results.head.abortedAfter.contains("stop here"))
    assert(report.finalCtx.aborted.contains("stop here"))
  }

  test("crash handlers fire and the job aborts cleanly") {
    val boom = new Plugin {
      val name = "boom_plugin"
      def apply(ctx: PipelineContext): PipelineContext =
        throw new IllegalStateException("kaboom")
    }
    var handled = Option.empty[(String, String)]
    val reports = Runner.processJobs(baseCtx(), Seq(boom),
      crashHandlers = Seq((p, e) => handled = Some((p, e.getMessage))))
    assert(handled.contains(("boom_plugin", "kaboom")))
    assert(reports.head.finalCtx.aborted.exists(_.contains("kaboom")))
    // a failing handler must not mask the abort
    val reports2 = Runner.processJobs(baseCtx(), Seq(boom),
      crashHandlers = Seq((_, _) => throw new RuntimeException("handler died")))
    assert(reports2.head.finalCtx.aborted.exists(_.contains("kaboom")))
  }

  test("a fatal error in a plugin propagates instead of becoming a crash abort") {
    val interrupted = new Plugin {
      val name = "interrupted_plugin"
      def apply(ctx: PipelineContext): PipelineContext =
        throw new InterruptedException("shutting down")
    }
    // with a timeout the plugin runs in a Future, which boxes the error
    for (timeout <- Seq(Duration.Inf, 30.seconds)) {
      var handled = false
      val e = intercept[InterruptedException] {
        Runner.processJobs(baseCtx(), Seq(interrupted), timeoutPerPlugin = timeout,
          crashHandlers = Seq((_, _) => handled = true))
      }
      assert(e.getMessage == "shutting down", s"timeout $timeout")
      assert(!handled, s"a crash handler saw a fatal error (timeout $timeout)")
    }
  }

  test("plugins are stopped exactly once after processing, even on crash") {
    // test_launcher.py:599-603 (stop after processing) and :635-638
    // (plugins without stop work fine — the trait default is a no-op)
    class Counting extends Plugin {
      val name = "counting_plugin"
      var stops = 0
      def apply(ctx: PipelineContext): PipelineContext = ctx
      override def stop(): Unit = stops += 1
    }
    val ok = new Counting
    Runner.processJobs(baseCtx(), Seq(ok))
    assert(ok.stops == 1)
    // teardown runs even when a later plugin crashes the job
    val before = new Counting
    val boom = new Plugin {
      val name = "boom_plugin"
      def apply(ctx: PipelineContext): PipelineContext =
        throw new IllegalStateException("kaboom")
    }
    Runner.processJobs(baseCtx(), Seq(before, boom))
    assert(before.stops == 1)
  }
}
