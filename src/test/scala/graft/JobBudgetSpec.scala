package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.pipeline._
import graft.pipeline.Plugins.CheckValidDataFraction

/** The Spark jobs a granule message costs: each resampled area is
  * computed once, in the valid-fraction check, and each group of sinks is
  * written by one action. No resample kernel plans a broadcast exchange,
  * which would be a Spark job of its own. */
class JobBudgetSpec extends SparkSpec {

  test("an accepted granule message runs at most 12 Spark jobs") {
    // the session the subscriber loop runs a message's chain in
    val session = StreamSession(spark)
    val granule = Granule.write(spark)
    val cfg = Granule.config(Files.createTempDirectory("graft_budget").toString)
    val (ctx, paths) = Messages.toContext(session, cfg.productList,
      Granule.message(granule))
    val (reports, cost) = Profiling.measure(session) {
      Runner.processJobs(ctx, PluginRegistry.chain(cfg, paths))
    }
    val done = reports.head.finalCtx
    assert(done.aborted.isEmpty, s"aborted: ${done.aborted}")
    assert(done.manifest.map(_.product).toSet == Set("ch1", "ch2"),
      done.manifest.mkString("\n"))
    // create_scene's schema read, the valid-fraction check's one
    // aggregate, and one write for the parquet sinks. The bound is
    // tighter than the test's name, which is kept so the test keeps its
    // identity across runs.
    assert(cost.jobs <= 3, s"an accepted message ran ${cost.jobs} Spark jobs")
  }

  test("under the job scope the valid-fraction check's jobs do not grow with areas") {
    // the two chains of PipelineSpec's valid-fraction check, run by the
    // Runner so that the checked areas are persisted, in the session the
    // subscriber loop runs them in (under AQE each persisted area is also
    // a cache query stage, one job of its own)
    val session = StreamSession(spark)
    import session.implicits._
    val frame = Seq(
      ("N", 1, 1, Some(1.0)), ("N", 1, 2, Some(2.0)),
      ("R", 1, 1, None), ("R", 1, 2, Some(3.0))
    ).toDF("product", "y", "x", "value")
    val spec = ProductList(areas = Seq("euro", "pacific").map(a =>
      AreaSpec(Some(a), products = Seq(ProductSpec("N"), ProductSpec("R")))))
    def jobs(frames: Map[Option[String], DataFrame]): Int = {
      val ctx = PipelineContext(session, spec, Map.empty, frames, Worklist.expand(spec))
      val (reports, cost) = Profiling.measure(session) {
        Runner.processJobs(ctx, Seq(CheckValidDataFraction(minFraction = 0.8)))
      }
      assert(reports.head.finalCtx.worklist.filter(_.area.contains("euro"))
        .map(_.product) == Seq("N"))
      cost.jobs
    }
    val two = jobs(Map(Option("euro") -> frame, Option("pacific") -> frame, None -> frame))
    val one = jobs(Map(Option("euro") -> frame))
    assert(two == one, s"1 area -> $one jobs, 2 areas -> $two")
  }
}
