package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.pipeline._
import graft.streaming.StreamRunner

/** No frame a job caches outlives the job, whatever ended it, and the
  * subscriber loop leaves its caller's session as it found it. */
class JobScopeSpec extends SparkSpec {

  test("Launcher.run: no cached frame outlives its message's job") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val granule = Granule.write(spark)
    val out = Files.createTempDirectory("graft_scope_out").resolve("out")
    val dir = Files.createTempDirectory("graft_scope_stream")
    val inbox = Files.createDirectories(dir.resolve("inbox"))
    // accepted, rejected by check_metadata, crashed in save_datasets
    // (its out dir is a regular file), accepted
    val messages = Seq(Granule.message(granule), Granule.message(granule, "fy3d"),
      Granule.message(granule), Granule.message(granule))
    val crashIndex = 2
    val cfg = Granule.config(out.toString)
    val seen = new ConcurrentLinkedQueue[(Seq[Runner.PluginResult], PipelineContext, Int)]()
    val cachedAtCrash = new ConcurrentLinkedQueue[Int]()
    val done = new CountDownLatch(1)
    var sent = 0
    def handOff(): Unit =
      if (sent == messages.size) done.countDown()
      else {
        if (sent == crashIndex) {
          Files.move(out, out.resolveSibling("out.before"))
          Files.writeString(out, "not a directory")
        } else if (Files.isRegularFile(out)) Files.delete(out)
        val staged = dir.resolve(s"msg_$sent.json")
        Files.writeString(staged, messages(sent))
        Files.move(staged, inbox.resolve(staged.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
        sent += 1
      }
    val q = Launcher.run(spark, cfg, StreamRunner.messageStream(spark, inbox.toString),
      dir.resolve("checkpoint").toString,
      crashHandlers = Seq((_, _) => cachedAtCrash.add(Cache.entries(spark))),
      availableNow = false) { (_, reports) =>
      val report = reports.head
      seen.add((report.results, report.finalCtx, Cache.entries(spark)))
      handOff()
    }
    try {
      handOff()
      assert(done.await(180, TimeUnit.SECONDS) && q.isActive,
        s"stream stopped early: ${q.exception}")
    } finally q.stop()
    val jobs = seen.asScala.toSeq
    assert(jobs.size == 4)
    def abortedBy(results: Seq[Runner.PluginResult]) =
      results.find(_.abortedAfter.isDefined).map(_.plugin)
    assert(jobs.map(j => abortedBy(j._1)) ==
      Seq(None, Some("check_metadata"), Some("save_datasets"), None))
    assert(jobs(2)._2.aborted.exists(_.contains("crashed")), jobs(2)._2.aborted)
    assert(jobs.map(_._2.manifest.nonEmpty) == Seq(true, false, false, true))
    // the crash came after the valid-fraction check cached its areas
    assert(cachedAtCrash.asScala.toSeq.map(_ > 0) == Seq(true),
      s"cache entries seen by the crash handler: $cachedAtCrash")
    assert(jobs.map(_._3) == Seq(0, 0, 0, 0),
      "cache entries left after each message's job")
    assert(Cache.entries(spark) == 0, "cache entries left after the query stopped")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore,
      "the subscriber loop changed its caller's session")
  }
}
