package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import graft.streaming.StreamRunner

class StreamRunnerSpec extends SparkSpec {

  /** Stage one JSON message file per body in a fresh source dir (one
    * file per arriving message) plus a fresh checkpoint dir. */
  private def stageMessages(bodies: Seq[String]): (String, String) = {
    val src = Files.createTempDirectory("graft_stream_src")
    val ckp = Files.createTempDirectory("graft_stream_ckp")
    bodies.zipWithIndex.foreach { case (body, i) =>
      Files.writeString(src.resolve(s"msg_$i.json"), body)
    }
    (src.toString, ckp.toString)
  }

  private def fileMessage(table: String, platform: String): String =
    s"""{"type": "file", "data": {"uri": "$sf/$table.parquet",
       |  "platform_name": "$platform"}}""".stripMargin

  test("one job per message: sequential foreachBatch over file stream") {
    val (src, ckp) = stageMessages(Seq(
      fileMessage("region", "noaa15"), fileMessage("nation", "noaa19")))
    val batches = new ConcurrentLinkedQueue[(Long, Long)]()
    val stream = StreamRunner.messageStream(spark, src)
    val q = StreamRunner.runPerMessage(stream, ckp) { (batch, id) =>
      batches.add((id, batch.count()))
    }
    q.awaitTermination(120000)
    val seen = batches.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
    // maxFilesPerTrigger=1 -> one batch per staged message, in order
    assert(seen == Seq((0L, 1L), (1L, 1L)))
  }

  test("runMessages: generate_messages -> message_to_jobs -> process_jobs") {
    import graft.pipeline._
    // two posttroll-style messages, each naming a real parquet input
    val (src, ckp) = stageMessages(Seq(
      fileMessage("region", "noaa15"), fileMessage("nation", "noaa19")))
    val spec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), products = Seq(ProductSpec("scene")))))
    val done = new ConcurrentLinkedQueue[(String, Long)]()
    val q = StreamRunner.runMessages(
      StreamRunner.messageStream(spark, src), spec, ckp,
      paths => Seq(Plugins.CreateScene(paths))) { (json, reports) =>
        val ctx = reports.head.finalCtx
        assert(ctx.aborted.isEmpty, s"job aborted: ${ctx.aborted}")
        // input_mda flowed from the message into the context
        assert(json.contains(ctx.metadata("platform_name")))
        done.add((ctx.metadata("platform_name"), ctx.frames(None).count()))
    }
    q.awaitTermination(120000)
    val seen = done.toArray(Array.empty[(String, Long)]).toMap
    // one job per message, sequentially; each scene read its own input
    assert(seen == Map(
      "noaa15" -> spark.read.parquet(s"$sf/region.parquet").count(),
      "noaa19" -> spark.read.parquet(s"$sf/nation.parquet").count()))
  }

  test("runMessages rejects a fat micro-batch instead of collecting it") {
    import graft.pipeline._
    // a "message" source that is actually a data table: one file carrying
    // MaxMessagesPerBatch+1 rows (line-per-row text, NOT wholetext, so the
    // single trigger sees them all). The guard must fail the query loudly
    // — the alternative is a driver-side collect of the whole table.
    val src = Files.createTempDirectory("graft_fat_src")
    val ckp = Files.createTempDirectory("graft_fat_ckp")
    val lines = (0 to StreamRunner.MaxMessagesPerBatch)
      .map(i => s"""{"type": "file", "data": {"uri": "x$i"}}""")
    Files.write(src.resolve("fat.txt"), lines.mkString("\n").getBytes("UTF-8"))
    val fat = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(src.toString) // one row per LINE — 10001 rows in one batch
    val spec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), products = Seq(ProductSpec("scene")))))
    val q = StreamRunner.runMessages(fat, spec, ckp.toString,
      _ => Seq.empty) { (_, _) => fail("fat batch reached the job runner") }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("micro-batch exceeds")),
      s"expected the fat-batch guard, got: ${messages(e).mkString(" | ")}")
  }

  test("runMessages: a malformed message reaches the crash handlers and the loop goes on") {
    import graft.pipeline._
    val (src, ckp) = stageMessages(Seq(fileMessage("region", "noaa15"),
      "not a json message", fileMessage("nation", "noaa19")))
    val spec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), products = Seq(ProductSpec("scene")))))
    val crashes = new ConcurrentLinkedQueue[(String, Throwable)]()
    val done = new ConcurrentLinkedQueue[String]()
    val q = StreamRunner.runMessages(StreamRunner.messageStream(spark, src),
      spec, ckp, paths => Seq(Plugins.CreateScene(paths)),
      crashHandlers = Seq((plugin, e) => { crashes.add((plugin, e)); () })) {
      (_, reports) =>
        val ctx = reports.head.finalCtx
        assert(ctx.aborted.isEmpty, s"job aborted: ${ctx.aborted}")
        done.add(ctx.metadata("platform_name"))
    }
    assert(q.awaitTermination(120000), "query did not finish its backlog")
    assert(q.exception.isEmpty, s"query failed: ${q.exception}")
    assert(done.toArray.toSet == Set("noaa15", "noaa19"))
    val seen = crashes.toArray(Array.empty[(String, Throwable)]).toSeq
    assert(seen.map(_._1) == Seq("message_to_jobs"))
  }

  test("graceful stop terminates a continuous query") {
    val (src, ckp) = stageMessages(Seq(fileMessage("region", "noaa15")))
    val stream = StreamRunner.messageStream(spark, src)
    val q = StreamRunner.runPerMessage(stream, ckp, availableNow = false) {
      (_, _) => ()
    }
    // let it process the backlog, then drain
    Thread.sleep(2000)
    assert(StreamRunner.stopGracefully(q))
    assert(!q.isActive)
  }
}
