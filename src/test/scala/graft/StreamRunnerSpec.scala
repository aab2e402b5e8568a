package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.streaming.StreamRunner

class StreamRunnerSpec extends SparkSpec {

  /** Stage the sf0.001 events parquet as N "messages" (files) in a fresh
    * source dir, mirroring one file per arriving message. */
  private def stageMessages(n: Int): (String, String) = {
    val src = Files.createTempDirectory("graft_stream_src")
    val ckp = Files.createTempDirectory("graft_stream_ckp")
    val eventsFile = Paths.get(s"$sf/events.parquet") // single-file fixture
    (1 to n).foreach { i =>
      Files.copy(eventsFile, src.resolve(s"msg_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    (src.toString, ckp.toString)
  }

  // Schema must keep the on-file column names (parquet matches by name);
  // the ts -> ts_ns rename happens on the streaming frame.
  private def eventsSchema = spark.read.parquet(s"$sf/events.parquet").schema

  test("one job per message: sequential foreachBatch over file stream") {
    val (src, ckp) = stageMessages(2)
    val batches = new ConcurrentLinkedQueue[(Long, Long)]()
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
    val q = StreamRunner.runPerMessage(stream, ckp) { (batch, id) =>
      batches.add((id, batch.count()))
    }
    q.awaitTermination(120000)
    val perFile = spark.read.parquet(s"$sf/events.parquet").count()
    val seen = batches.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
    // maxFilesPerTrigger=1 -> one batch per staged message, in order
    assert(seen.map(_._1) == Seq(0L, 1L))
    assert(seen.map(_._2).sum == 2 * perFile)
  }

  test("watermarked hourly aggregation matches the batch computation") {
    val (src, ckp) = stageMessages(1)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
      .withColumnRenamed("ts", "ts_ns")
    val q = StreamRunner.runAggregate(
      StreamRunner.hourlyVolume(stream), "hourly_test", ckp)
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_test")
      .orderBy(col("hour"), col("event_type")).collect()
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type")).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getTimestamp(0) == b.getTimestamp(0))
      assert(s.getString(1) == b.getString(1))
      assert(s.getLong(2) == b.getLong(2))
      assert(math.abs(s.getDouble(3) - b.getDouble(3)) < 1e-6)
    }
  }

  test("streaming dedup drops re-delivered messages across batches") {
    // the same message file staged twice = an exact re-delivery
    val (src, ckp) = stageMessages(2)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
      .withColumnRenamed("ts", "ts_ns")
    val total = new java.util.concurrent.atomic.AtomicLong()
    val q = StreamRunner.dedupStream(stream, Seq("event_id"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        total.addAndGet(batch.count()); ()
      }
      .start()
    q.awaitTermination(120000)
    val perFile = spark.read.parquet(s"$sf/events.parquet").count()
    // both copies streamed, but every event_id passed through exactly once
    assert(total.get() == perFile)
  }

  test("admission gate: corpus-known keys bounce, replays bounce, the rest enter") {
    import org.apache.spark.sql.functions._
    // historical corpus = the even event_ids; the stream replays every
    // event twice — admitted = each ODD event_id exactly once
    val (src, ckp) = stageMessages(2)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
      .withColumnRenamed("ts", "ts_ns")
    val corpus = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") % 2 === 0).select("event_id")
    val admitted = new java.util.concurrent.atomic.AtomicLong()
    val dupAdmitted = new java.util.concurrent.atomic.AtomicLong()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = StreamRunner.admissionGate(stream, corpus, Seq("event_id"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("event_id").collect().foreach { r =>
          admitted.incrementAndGet()
          if (!seen.add(r.getLong(0))) dupAdmitted.incrementAndGet()
        }
        ()
      }
      .start()
    q.awaitTermination(120000)
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") % 2 =!= 0).select("event_id").distinct().count()
    assert(dupAdmitted.get() == 0, "an event_id was admitted twice")
    assert(admitted.get() == expected,
      s"admitted ${admitted.get()} != $expected odd event_ids")
    assert(seen.stream().allMatch(id => id % 2 != 0),
      "a corpus-known (even) key slipped through the gate")
  }

  test("near-dup gate: corpus near-dups bounce on LSH bands, fresh docs enter once") {
    import org.apache.spark.sql.functions._
    import graft.queries.Dedup
    val src = Files.createTempDirectory("graft_neardup_src")
    val ckp = Files.createTempDirectory("graft_neardup_ckp")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // historical corpus = the even doc_ids; its persisted LSH index
    val corpusBands = Dedup.bandTableOf(docs.filter(col("doc_id") % 2 === 0))
    // the stream: the whole fixture delivered twice (replays) plus five
    // "mutants" — even-doc text under NEW odd ids. A mutant is the case
    // the exact admission gate cannot catch (fresh key, duplicated
    // content); identical text means an identical shingle set, hence all
    // four band fingerprints collide deterministically.
    val docsFile = Paths.get(s"$sf/documents.parquet")
    (1 to 2).foreach { i =>
      Files.copy(docsFile, src.resolve(s"msg_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val mutants = docs.filter(col("doc_id") % 2 === 0)
      .orderBy(col("doc_id")).limit(5)
      .withColumn("doc_id", col("doc_id") + lit(100001L))
    val mutDir = Files.createTempDirectory("graft_neardup_mut")
    mutants.coalesce(1).write.mode("overwrite").parquet(mutDir.toString)
    val part = Files.list(mutDir).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, src.resolve("msg_3.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = StreamRunner.fileStream(spark, src.toString, docs.schema)
      .withColumn("ts_ns", lit(1700000000000000000L)) // ingest tick
    val admitted = new java.util.concurrent.atomic.AtomicLong()
    val dupAdmitted = new java.util.concurrent.atomic.AtomicLong()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = StreamRunner.nearDupGate(stream, corpusBands, Seq("doc_id"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("doc_id").collect().foreach { r =>
          admitted.incrementAndGet()
          if (!seen.add(r.getLong(0))) dupAdmitted.incrementAndGet()
        }
        ()
      }
      .start()
    q.awaitTermination(120000)
    // independent expectation via the BATCH signature path (aggregated
    // bandTable, not the gate's row-local kernel): bounced = any band
    // fingerprint colliding with the corpus index
    val streamedDocs = docs.unionByName(mutants)
    val bounced = Dedup.bandTableOf(streamedDocs)
      .join(corpusBands.select(col("band"), col("bfp")).distinct(),
        Seq("band", "bfp"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val expected = streamedDocs.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet -- bounced
    val mutantIds = mutants.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mutantIds.forall(bounced), "a same-text mutant escaped the LSH gate")
    assert(docs.filter(col("doc_id") % 2 === 0).count() ==
      bounced.count(_ % 2 == 0), "a corpus doc escaped its own index")
    assert(dupAdmitted.get() == 0, "a doc_id was admitted twice")
    val seenSet = {
      val it = seen.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result()
    }
    assert(seenSet == expected,
      s"admitted ${seenSet.size} docs != expected ${expected.size}: " +
        s"extra=${(seenSet -- expected).take(5)} missing=${(expected -- seenSet).take(5)}")
  }

  test("near-dup gate closed loop: indexing admitted docs makes a replay bounce fully") {
    import org.apache.spark.sql.functions._
    import graft.queries.Dedup
    // the production lifecycle: stream docs through the gate, fold the
    // ADMITTED docs into the LSH index (the batch upsert a nightly
    // indexing job runs = union of band tables), then the same delivery
    // replayed against the updated index must admit NOTHING.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy(col("doc_id")).limit(80)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val index0 = Dedup.bandTableOf(corpus)
    def runGate(index: org.apache.spark.sql.DataFrame, tag: String): Set[Long] = {
      val src = Files.createTempDirectory(s"graft_loop_src_$tag")
      val ckp = Files.createTempDirectory(s"graft_loop_ckp_$tag")
      val tmp = Files.createTempDirectory(s"graft_loop_tmp_$tag")
      docs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, src.resolve("msg_1.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val stream = StreamRunner.fileStream(spark, src.toString, docs.schema)
        .withColumn("ts_ns", lit(1700000000000000000L))
      val q = StreamRunner.nearDupGate(stream, index, Seq("doc_id"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("doc_id").collect().foreach(r => seen.add(r.getLong(0)))
          ()
        }
        .start()
      q.awaitTermination(120000)
      val it = seen.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result()
    }
    val admitted = runGate(index0, "a")
    assert(admitted.nonEmpty, "first pass should admit the dissimilar odd docs")
    assert(admitted.forall(_ % 2 == 1), "a corpus doc escaped its own index")
    // batch upsert: the updated index is just the union of band tables
    val index1 = index0.unionByName(
      Dedup.bandTableOf(docs.filter(col("doc_id").isin(admitted.toSeq: _*))))
    val admitted2 = runGate(index1, "b")
    assert(admitted2.isEmpty,
      s"replay against the updated index admitted ${admitted2.take(5)}")
  }

  test("self-indexing gate: the index grows per batch, replays and intra-batch dups bounce") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_sig_src")
    val ckp = Files.createTempDirectory("graft_sig_ckp")
    val idx = Files.createTempDirectory("graft_sig_idx").resolve("index").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy(col("doc_id")).limit(40).persist()
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft_sig_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, src.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // batch 1: the 40 docs PLUS an intra-batch mutant of the smallest doc
    // (same text, bigger id) — only the original may survive the batch
    val mutant = docs.orderBy(col("doc_id")).limit(1)
      .withColumn("doc_id", col("doc_id") + lit(900001L))
    stage(docs.unionByName(mutant), "msg_1")
    // batch 2: the same 40 docs again under NEW ids (near-dup replay with
    // fresh keys — the case only the grown index can catch)
    stage(docs.withColumn("doc_id", col("doc_id") + lit(500000L)), "msg_2")
    val perBatch = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val stream = StreamRunner.fileStream(spark, src.toString, docs.schema)
      .withColumn("ts_ns", lit(1700000000000000000L))
    val q = StreamRunner.selfIndexingGate(stream, idx, ckp.toString) { admitted =>
      perBatch.add(admitted.select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    q.awaitTermination(180000)
    val batches = perBatch.toArray(Array.empty[Set[Long]]).toSeq
    assert(batches.length == 2, s"expected 2 micro-batches, got ${batches.length}")
    val origIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val minId = origIds.min
    // independent expectation for batch 1 via the BATCH aggregation path:
    // a row is admitted iff no smaller key owns any of its band groups
    val b1 = graft.queries.Dedup.bandTableOf(docs.unionByName(mutant))
    val owners = b1.groupBy(col("band"), col("bfp"))
      .agg(min(col("doc_id")).as("own"))
    val expected1 = (origIds + (minId + 900001L)) --
      b1.join(owners, Seq("band", "bfp")).filter(col("doc_id") =!= col("own"))
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(batches.head == expected1,
      s"batch 1 admitted ${batches.head.size} != expected ${expected1.size}: " +
        s"extra=${(batches.head -- expected1).take(5)} " +
        s"missing=${(expected1 -- batches.head).take(5)}")
    // the same-text mutant lost every band group to the smaller original
    assert(!batches.head.contains(minId + 900001L))
    // batch 2: all re-keyed near-dups bounce against the batch-1-built
    // index (every re-keyed doc shares at least one band with an indexed
    // batch-1 winner by construction)
    assert(batches(1).isEmpty,
      s"re-keyed replay admitted ${batches(1).take(5)} against the grown index")
    // the index on disk holds exactly the admitted docs' band rows
    val indexRows = spark.read.parquet(idx).count()
    assert(indexRows == 4L * batches.head.size,
      s"index rows $indexRows != 4 bands x ${batches.head.size} admitted docs")
    docs.unpersist()
  }

  test("self-indexing gate replay: a torn write of the SAME batch id cannot bounce it") {
    import org.apache.spark.sql.functions._
    import graft.queries.Dedup
    // simulate the crash window: a prior attempt of batch 0 wrote its
    // band partition, but the streaming checkpoint never committed — on
    // restart the batch replays with the same id and MUST reproduce the
    // same admitted set, not bounce against its own torn write
    val src = Files.createTempDirectory("graft_replay_src")
    val ckp = Files.createTempDirectory("graft_replay_ckp")
    val idx = Files.createTempDirectory("graft_replay_idx").resolve("index").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy(col("doc_id")).limit(30)
    val tmp = Files.createTempDirectory("graft_replay_tmp")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, src.resolve("msg_1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // the torn write: every doc's bands already sit under batch_id=0
    Dedup.bandTableOf(docs).select(col("band"), col("bfp"))
      .write.mode("overwrite").parquet(s"$idx/batch_id=0")
    val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stream = StreamRunner.fileStream(spark, src.toString, docs.schema)
      .withColumn("ts_ns", lit(1700000000000000000L))
    val q = StreamRunner.selfIndexingGate(stream, idx, ckp.toString) { b =>
      b.select("doc_id").collect().foreach(r => admitted.add(r.getLong(0)))
    }
    q.awaitTermination(120000)
    // the torn partition gated nothing: the batch admitted exactly what a
    // clean first run admits (every doc not losing a band to a smaller id)
    assert(!admitted.isEmpty,
      "replayed batch bounced against its own torn index write")
    val b1 = Dedup.bandTableOf(docs)
    val owners = b1.groupBy(col("band"), col("bfp"))
      .agg(min(col("doc_id")).as("own"))
    val losers = b1.join(owners, Seq("band", "bfp"))
      .filter(col("doc_id") =!= col("own"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val expected = docs.select("doc_id").collect().map(_.getLong(0)).toSet -- losers
    val got = { val it = admitted.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
    assert(got == expected,
      s"replay admitted ${got.size} != expected ${expected.size}")
  }

  test("quality gate: stream-admitted docs equal the batch classifier's p >= 0.5 set") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_qg_src")
    val ckp = Files.createTempDirectory("graft_qg_ckp")
    val docsFile = Paths.get(s"$sf/documents.parquet")
    Files.copy(docsFile, src.resolve("msg_1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stream = StreamRunner.fileStream(spark, src.toString, docs.schema)
    val q = StreamRunner.qualityGate(stream)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("doc_id").collect().foreach(r => admitted.add(r.getLong(0)))
        ()
      }
      .start()
    q.awaitTermination(120000)
    // batch-parity: same filter over the same frozen classifier
    val expected = docs
      .filter(graft.queries.Curation.registryCols(col("text"))("p") >= 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = { val it = admitted.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
    assert(got == expected,
      s"stream admitted ${got.size} != batch ${expected.size}")
    assert(got.nonEmpty && got.size < docs.count(),
      "quality gate should split the fixture non-trivially")
  }

  test("decontam gate: stream-bounced docs equal q124's batch flagged set") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns.h32
    val src = Files.createTempDirectory("graft_dc_src")
    val ckp = Files.createTempDirectory("graft_dc_ckp")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // q124's split protocol: train (bucket < 90) is the protected set the
    // Bloom is built from; test (bucket >= 95) is what streams in
    val bucketed = docs.withColumn("bucket",
      h32(concat(lit("split_"), col("doc_id"))) % 100)
    val train = bucketed.filter(col("bucket") < 90).drop("bucket")
    val test = bucketed.filter(col("bucket") >= 95).drop("bucket")
    val bits = graft.queries.Curation.bloomBitsOf(train)
    // stream ONLY the test docs through the gate (flat file: the file
    // source lists the directory, it does not recurse into subdirs)
    val staging = Files.createTempDirectory("graft_dc_stage")
    test.coalesce(1).write.mode("overwrite")
      .parquet(staging.resolve("out").toString)
    val part = Files.list(staging.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, src.resolve("msg_1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stream = StreamRunner.fileStream(spark, src.toString, docs.schema)
    val q = StreamRunner.decontamGate(stream, bits)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("doc_id").collect().foreach(r => admitted.add(r.getLong(0)))
        ()
      }
      .start()
    q.awaitTermination(120000)
    val got = { val it = admitted.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
    val streamed = test.select("doc_id").collect().map(_.getLong(0)).toSet
    val bounced = streamed -- got
    // THE equivalence: the stream-bounced set IS q124's flagged set on
    // the same protocol (same Bloom geometry, same split)
    val flagged = graft.queries.Curation.q124BloomDecontam(spark, sf)
      .filter(col("contaminated") === 1)
      .select("test_doc").collect().map(_.getLong(0)).toSet
    assert(bounced == flagged,
      s"stream bounced ${bounced.size} != q124 flagged ${flagged.size}; " +
        s"extra=${(bounced -- flagged).take(5)} missing=${(flagged -- bounced).take(5)}")
    // the gate must split the fixture non-trivially: q124's exact-hit
    // docs all bounce (no false negatives), and clean docs pass
    assert(bounced.nonEmpty && got.nonEmpty,
      s"degenerate split: bounced=${bounced.size} admitted=${got.size}")
    val exactHit = graft.queries.Curation.q124BloomDecontam(spark, sf)
      .filter(col("n_exact") > 0)
      .select("test_doc").collect().map(_.getLong(0)).toSet
    assert(exactHit.subsetOf(bounced),
      "Bloom false negative: an exact-contaminated doc passed the gate")
  }

  test("self-indexing gate with eval Bloom bounces contaminated docs at ingest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val src = Files.createTempDirectory("graft_sib_src")
    val ckp = Files.createTempDirectory("graft_sib_ckp")
    val idx = Files.createTempDirectory("graft_sib_idx").resolve("index").toString
    // protected eval suite: one known document
    val evalSuite = Seq(
      (900L, "the quick brown fox jumps over the lazy dog every single day"))
      .toDF("doc_id", "text")
    val bits = graft.queries.Curation.bloomBitsOf(evalSuite)
    // the stream: one doc sharing an 8-gram with the suite (contaminated),
    // one clean doc, one short doc (< 8 tokens, no shingles -> passes)
    val batch = Seq(
      (1L, "we saw the quick brown fox jumps over the lazy dog yesterday evening"),
      (2L, "completely unrelated text about distributed query engines and shuffles at scale"),
      (3L, "too short to shingle"))
      .toDF("doc_id", "text")
    val staging = Files.createTempDirectory("graft_sib_stage")
    batch.coalesce(1).write.mode("overwrite")
      .parquet(staging.resolve("out").toString)
    val part = Files.list(staging.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, src.resolve("msg_1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stream = StreamRunner.fileStream(spark, src.toString, batch.schema)
      .withColumn("ts_ns", lit(1700000000000000000L))
    val q = StreamRunner.selfIndexingGate(stream, idx, ckp.toString,
        evalBloomBits = Some(bits)) { b =>
      b.select("doc_id").collect().foreach(r => admitted.add(r.getLong(0)))
      ()
    }
    q.awaitTermination(120000)
    val got = { val it = admitted.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
    assert(got == Set(2L, 3L),
      s"expected contaminated doc 1 to bounce at ingest, got admitted=$got")
  }

  test("decontam gate admits the same set under any micro-batch slicing") {
    import spark.implicits._
    // the gate is row-local, so ONE file vs one-file-per-doc must admit
    // identically (the scaladoc's slicing-independence claim, pinned)
    val evalSuite = Seq(
      (900L, "the quick brown fox jumps over the lazy dog every single day"))
      .toDF("doc_id", "text")
    val bits = graft.queries.Curation.bloomBitsOf(evalSuite)
    val docs = Seq(
      1L -> "we saw the quick brown fox jumps over the lazy dog yesterday at dusk",
      2L -> "a completely unrelated note about shuffle partitions and joins",
      3L -> "the lazy dog every single day sleeps while the quick brown fox jumps over it",
      4L -> "short text")
    def runSliced(slices: Seq[Seq[(Long, String)]]): Set[Long] = {
      val src = Files.createTempDirectory("graft_slice_src")
      val ckp = Files.createTempDirectory("graft_slice_ckp")
      slices.zipWithIndex.foreach { case (rows, i) =>
        val tmp = Files.createTempDirectory(s"graft_slice_tmp_$i")
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(tmp.resolve("o").toString)
        val part = Files.list(tmp.resolve("o")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.copy(part, src.resolve(f"msg_$i%03d.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val q = StreamRunner.decontamGate(
          StreamRunner.fileStream(spark, src.toString, schema), bits)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("doc_id").collect().foreach(r => admitted.add(r.getLong(0)))
          ()
        }
        .start()
      q.awaitTermination(120000)
      val it = admitted.iterator(); val bld = Set.newBuilder[Long]
      while (it.hasNext) bld += it.next()
      bld.result()
    }
    val oneBatch = runSliced(Seq(docs))
    val perDoc = runSliced(docs.map(Seq(_)))
    assert(oneBatch == perDoc,
      s"slicing changed the admitted set: $oneBatch vs $perDoc")
    // doc 1 carries a full eval 8-gram ("the quick brown fox jumps over
    // the lazy") and must bounce; doc 3 shares only sub-8-gram runs
    // ("lazy dog every single day") and passes — the gate is exact at
    // the 8-gram grain, not a fuzzy phrase match
    assert(oneBatch == Set(2L, 3L, 4L),
      s"only doc 1 carries a full eval 8-gram: $oneBatch")
  }

  test("full ingest stack: quality -> eval Bloom -> self-indexing LSH -> exactly-once sink") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val src = Files.createTempDirectory("graft_stack_src")
    val ckp = Files.createTempDirectory("graft_stack_ckp")
    val idx = Files.createTempDirectory("graft_stack_idx").resolve("index").toString
    val out = Files.createTempDirectory("graft_stack_out").resolve("clean").toString
    // the protected eval suite
    val evalSuite = Seq(
      (900L, "the quick brown fox jumps over the lazy dog every single day"))
      .toDF("doc_id", "text")
    val bits = graft.queries.Curation.bloomBitsOf(evalSuite)
    def stage(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft_stack_tmp_$name")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.resolve("o").toString)
      val part = Files.list(tmp.resolve("o")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // batch 0: 1 = eval-contaminated (good quality — it must die on the
    // BLOOM, not the quality gate); 2 = clean + good quality; 3 = low
    // quality (no stopwords, short); 4 = intra-batch near-dup of 2
    // (same text, bigger key -> loses band ownership); 5 = clean unique
    val goodA = "the data value a is the data value of a cluster the data value"
    val goodB = "a table stores the data value rows while the data value columns stay a mystery"
    stage(Seq(
      1L -> "we saw the quick brown fox jumps over the lazy dog near a big data value meadow",
      2L -> goodA,
      3L -> "zzzz qqqq wwww xxxx yyyy gggg hhhh jjjj",
      4L -> goodA,
      5L -> goodB), "msg_1")
    // batch 1: 2 replayed (exact gate), 6 = near-dup of 5 under a NEW
    // key (only the GROWN index can bounce it), 7 = clean unique
    stage(Seq(
      2L -> goodA,
      6L -> goodB,
      7L -> "the final clean document keeps a data value and the data value again safely"),
      "msg_2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = StreamRunner.fileStream(spark, src.toString, schema)
      .withColumn("ts_ns", lit(1700000000000000000L))
    val sink = StreamRunner.idempotentBatchSink(out) _
    val nextId = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamRunner.selfIndexingGate(
        StreamRunner.qualityGate(stream), idx, ckp.toString,
        evalBloomBits = Some(bits)) { admitted =>
      // micro-batches are strictly sequential: the counter tracks the id
      sink(admitted.select("doc_id", "text"), nextId.getAndIncrement())
    }
    q.awaitTermination(180000)
    val landed = spark.read.parquet(out)
    val byBatch = landed.select(col("batch_id").cast("long"), col("doc_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(byBatch == Map(0L -> Set(2L, 5L), 1L -> Set(7L)),
      s"ingest stack admitted the wrong docs per batch: $byBatch")
    // and the quality gate really was the thing that killed doc 3
    // (it is NOT contaminated and NOT a near-dup)
    val p3 = Seq(3L -> "zzzz qqqq wwww xxxx yyyy gggg hhhh jjjj")
      .toDF("doc_id", "text")
      .select(graft.queries.Curation.registryCols(col("text"))("p").as("p"))
      .collect().head.getDouble(0)
    assert(p3 < 0.5, s"doc 3 should fail the quality gate, p=$p3")
  }

  test("idempotent sink: batch replays write once, partial writes heal") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Files.createTempDirectory("graft_once_out").resolve("data").toString
    val batch = (1L to 50L).toDF("v")
    val sink = StreamRunner.idempotentBatchSink(out) _
    // the recovery contract: the same (data, id) delivered twice lands once
    sink(batch, 0L); sink(batch, 0L)
    sink(batch.withColumn("v", col("v") + 100), 1L)
    val all = spark.read.parquet(out)
    assert(all.count() == 100, "a replayed batch id wrote twice")
    assert(all.select("batch_id").distinct().count() == 2)
    // a partial write (no _SUCCESS marker — crash mid-write) heals whole:
    // fabricate a torn partition, then deliver its batch
    val torn = java.nio.file.Paths.get(out, "batch_id=2")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-corrupt.parquet"), "torn bytes")
    sink(batch.withColumn("v", col("v") + 200), 2L)
    val healed = spark.read.parquet(s"$out/batch_id=2")
    assert(healed.count() == 50, "partial write was not overwritten whole")
    assert(!Files.exists(torn.resolve("part-corrupt.parquet")),
      "torn partial file survived the healing overwrite")
    // and now that its marker exists, a replay of id 2 is a no-op
    val before = Files.list(torn).count()
    sink(batch.limit(1), 2L)
    assert(Files.list(torn).count() == before,
      "a committed batch id was rewritten on replay")
    assert(spark.read.parquet(out).count() == 150)
  }

  test("runMessages: generate_messages -> message_to_jobs -> process_jobs") {
    import graft.pipeline._
    val src = Files.createTempDirectory("graft_msg_src")
    val ckp = Files.createTempDirectory("graft_msg_ckp")
    // two posttroll-style messages, each naming a real parquet input
    Seq("region" -> "noaa15", "nation" -> "noaa19").zipWithIndex.foreach {
      case ((table, platform), i) =>
        Files.writeString(src.resolve(s"msg_$i.json"),
          s"""{"type": "file", "data": {"uri": "$sf/$table.parquet",
             |  "platform_name": "$platform"}}""".stripMargin)
    }
    val spec = ProductList(areas = Seq(
      AreaSpec(Some("euro"), products = Seq(ProductSpec("scene")))))
    val done = new ConcurrentLinkedQueue[(String, Long)]()
    val q = StreamRunner.runMessages(
      StreamRunner.messageStream(spark, src.toString), spec, ckp.toString,
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

  test("stream-static enrichment joins each batch against a dimension") {
    val (src, ckp) = stageMessages(1)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
    // static dim: event_type -> weight
    import spark.implicits._
    val dim = Seq(("click", 1), ("view", 2), ("purchase", 3), ("signup", 4),
      ("error", 5)).toDF("event_type", "weight")
    val total = new java.util.concurrent.atomic.AtomicLong()
    val matched = new java.util.concurrent.atomic.AtomicLong()
    val q = StreamRunner.runPerMessage(
      StreamRunner.enrich(stream, dim, Seq("event_type")), ckp) { (batch, _) =>
        total.addAndGet(batch.count())
        matched.addAndGet(batch.filter(col("weight").isNotNull).count()); ()
    }
    q.awaitTermination(120000)
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .join(dim, Seq("event_type")).count()
    assert(total.get() == expected && matched.get() == expected)
  }

  test("stream-stream interval join matches the batch interval join") {
    val (src, ckp) = stageMessages(1)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
      .withColumnRenamed("ts", "ts_ns")
    val left = stream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts_ns").as("l_ts_ns"))
    val right = stream.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts_ns").as("r_ts_ns"))
    val total = new java.util.concurrent.atomic.AtomicLong()
    val q = StreamRunner.intervalJoinStreams(left, right, "user_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        total.addAndGet(batch.count()); ()
      }
      .start()
    q.awaitTermination(120000)
    val ev = graft.sources.Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_ns").as("c_ts"))
    val expected = p.join(c, col("user_id") === col("c_user") &&
      col("c_ts") >= col("p_ts") - lit(1800L * 1000 * 1000 * 1000) &&
      col("c_ts") <= col("p_ts")).count()
    assert(total.get() == expected,
      s"streamed ${total.get()} joined rows, batch says $expected")
  }

  test("streaming label join: interval-joined signups == q159's converted set") {
    // the ONLINE face of q159's supervised-label construction: a
    // purchase stream interval-joined against the signup stream over the
    // 7-day horizon yields exactly the signups q159 labels converted=1
    val (src, ckp) = stageMessages(1)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
      .withColumnRenamed("ts", "ts_ns")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts_ns").as("l_ts_ns"))
    val signups = stream.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_id"),
        col("ts_ns").as("r_ts_ns"))
    val converted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = StreamRunner.intervalJoinStreams(purchases, signups, "user_id",
        window = "7 days", watermark = "14 days")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("s_id").collect().foreach(r => converted.add(r.getLong(0)))
        ()
      }
      .start()
    q.awaitTermination(120000)
    val got = { val it = converted.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
    val expected = graft.queries.EventOps.q159TimeToEvent(spark, sf)
      .filter(col("converted") === 1)
      .select("signup_event_id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"stream-labeled ${got.size} signups != batch ${expected.size}; " +
        s"extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
    assert(got.nonEmpty, "degenerate fixture: no conversions at all")
  }

  test("session windows close at the watermark and match batch sessionization") {
    val src = Files.createTempDirectory("graft_sess_src")
    val ckp = Files.createTempDirectory("graft_sess_ckp")
    // two time-ordered files so the watermark advances between batches
    val ev = graft.sources.Tables.events(spark, sf)
    val cut = ev.agg(expr("percentile_approx(ts_ns, 0.5D)")).collect().head.getLong(0)
    ev.filter(col("ts_ns") < cut).coalesce(1).write.mode("overwrite")
      .parquet(src.resolve("part1").toString)
    ev.filter(col("ts_ns") >= cut).coalesce(1).write.mode("overwrite")
      .parquet(src.resolve("part2").toString)
    val stage = Files.createTempDirectory("graft_sess_files")
    var i = 0
    for (part <- Seq("part1", "part2")) {
      Files.list(src.resolve(part)).filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          val dst = stage.resolve(s"f$i.parquet")
          Files.copy(f, dst)
          // the file source orders the backlog by modification time: pin
          // it so part1 is always batch 0 and the watermark advances
          // monotonically with event time
          Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
          i += 1
        }
    }
    val schema = ev.select(col("ts_ns"), col("user_id")).schema
    val stream = StreamRunner
      .fileStream(spark, stage.toString, schema)
    val q = StreamRunner.sessionWindows(stream, watermark = "0 seconds")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("sessions_test")
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sessions_test")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // batch truth: lag-based sessions, keeping only sessions CLOSED by the
    // final watermark (last event + gap <= max event time)
    val gapNs = 1800L * 1000 * 1000 * 1000
    val maxTs = ev.agg(max(col("ts_ns"))).collect().head.getLong(0)
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_ns"))
    val closed = ev
      .withColumn("prev", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts_ns") - col("prev") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), max(col("ts_ns")).as("last_ts"))
      .filter(col("last_ts") + gapNs <= maxTs)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == closed,
      s"streamed ${streamed.size} users vs batch ${closed.size}")
  }

  test("dynamic-gap session windows merge per-event gaps like the simulation") {
    // gap depends on the EVENT: purchases hold a session open for 60
    // minutes, everything else 30 — the session_window(col, expr) overload
    // the streaming helper exposes. Ground truth is an independent scan:
    // an event extends the current session iff its time is strictly
    // inside the session's running end ([start, end) windows), and the
    // end advances to max(end, ts + gap(event)).
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ns"), col("event_type"))
    val gapExpr = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))
    val got = StreamRunner.sessionWindowsDynamic(ev, gapExpr)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = ev.collect()
      .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getString(2)))
      .groupBy(_._1)
    val sim = rows.map { case (user, evs) =>
      var nSessions = 0L
      var curEnd = Long.MinValue
      evs.sortBy(_._2).foreach { case (_, tsUs, typ) =>
        val gapUs = (if (typ == "purchase") 60L else 30L) * 60 * 1000000
        if (tsUs >= curEnd) { nSessions += 1; curEnd = tsUs + gapUs }
        else curEnd = math.max(curEnd, tsUs + gapUs)
      }
      user -> (nSessions, evs.size.toLong)
    }
    assert(got == sim, {
      val diff = sim.collect { case (u, v) if got.get(u) != Some(v) =>
        s"$u: sim=$v got=${got.get(u)}"
      }
      s"dynamic sessions diverge for ${diff.size} users: ${diff.take(5).mkString("; ")}"
    })
  }

  test("streaming count-min sketch matches the batch sketch cell-for-cell") {
    val src = Files.createTempDirectory("graft_cm_src")
    val ckp = Files.createTempDirectory("graft_cm_ckp")
    // stage the documents fixture as two arriving files: the sketch must
    // accumulate across micro-batches (cells are mergeable by addition)
    val docsFile = Paths.get(s"$sf/documents.parquet")
    (1 to 2).foreach { i =>
      Files.copy(docsFile, src.resolve(s"docs_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val docsSchema = spark.read.parquet(docsFile.toString).schema
    def toks(df: org.apache.spark.sql.DataFrame) = df.select(
      explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
    val stream = StreamRunner.fileStream(spark, src.toString, docsSchema)
    val q = StreamRunner.runAggregate(
      StreamRunner.countMinCells(toks(stream)), "cm_test", ckp.toString)
    q.awaitTermination(120000)
    val streamed = spark.table("cm_test")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // bounded state: never more than depth x width cells
    assert(streamed.size <= 4 * 1024)
    val batch = StreamRunner.countMinCells(
      toks(spark.read.parquet(docsFile.toString)))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // two copies of the fixture streamed in -> exactly 2x every batch cell
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, v) => assert(streamed(k) == 2 * v) }
    // one-sided error: the sketch estimate of any token >= its true count
    val exact = toks(spark.read.parquet(docsFile.toString))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(5).collect()
    exact.foreach { r =>
      val est = (0 until 4).map { j =>
        val b = java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"cm${j}_${r.getString(0)}".getBytes("UTF-8")).take(4)
            .map(x => f"$x%02x").mkString, 16) % 1024
        batch((j, b))
      }.min
      assert(est >= r.getLong(1), s"CM underestimated '${r.getString(0)}'")
    }
  }

  test("streaming HLL windowed distinct matches batch exactly per window") {
    val (src, ckp) = stageMessages(1)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
      .withColumnRenamed("ts", "ts_ns")
    val q = StreamRunner.runAggregate(
      StreamRunner.approxDistinctUsers(stream), "hll_test", ckp)
    q.awaitTermination(120000)
    val streamed = spark.table("hll_test")
      .collect().map(r => r.getTimestamp(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    // batch runs the SAME sketch (deterministic: register maxima are
    // partitioning-invariant and the harmonic sum is exact), so the
    // streaming estimate must agree bit-for-bit window by window
    val batch = StreamRunner.approxDistinctUsers(
      graft.sources.Tables.events(spark, sf).withColumnRenamed("ts", "ignored"))
      .collect().map(r => r.getTimestamp(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
    // exact per-window counts via the SAME window grouping (avoids any
    // driver-side timestamp/timezone reconstruction)
    val exact = graft.sources.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("d"))
      .select(col("w.start"), col("d"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    streamed.foreach { case (k, (est, n)) =>
      assert(batch(k)._1 == est, s"window $k estimate diverged")
      assert(batch(k)._2 == n)
      // sanity: estimate within HLL error of the exact distinct count.
      // Only meaningful above the sketch's small-range floor (the raw
      // estimator without linear-counting correction reads ~0.7·m ≈ 46
      // for near-empty registers, m = 64) — same contract as q78/q86,
      // which sketch large cardinalities.
      if (exact(k) >= 100)
        assert(est > exact(k) * 0.5 && est < exact(k) * 2.0,
          s"window $k: est $est vs exact ${exact(k)}")
    }
  }

  test("streaming dedup drops a re-delivery whose timestamp was re-stamped") {
    import org.apache.spark.sql.functions._
    // re-delivery with a REWRITTEN timestamp (a re-ingest that stamps
    // arrival time): the old dropDuplicates(keys :+ ts) saw a distinct
    // (key, ts) pair and admitted the copy; keys-only
    // dropDuplicatesWithinWatermark bounces it inside the horizon
    val src = Files.createTempDirectory("graft_dd_restamp_src")
    val ckp = Files.createTempDirectory("graft_dd_restamp_ckp")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val scratch = Files.createTempDirectory("graft_dd_restamp_scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, Paths.get(s"$src/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stage("msg_1.parquet", ev)
    Thread.sleep(50) // the copy must list as the LATER file
    stage("msg_2.parquet", ev.withColumn("ts",
      col("ts") + expr("INTERVAL 1 MINUTE"))) // well inside the 2h horizon
    val total = new java.util.concurrent.atomic.AtomicLong()
    val stream = StreamRunner.fileStream(spark, src.toString, ev.schema)
      .withColumnRenamed("ts", "ts_ns")
    val q = StreamRunner.dedupStream(stream, Seq("event_id"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        total.addAndGet(batch.count()); ()
      }
      .start()
    q.awaitTermination(120000)
    assert(total.get() == ev.count(),
      "a re-stamped re-delivery slipped past the keys-only dedup gate")
  }

  test("decontam gate: a null-text doc passes (no contamination evidence) instead of vanishing") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_dc_null_src")
    val ckp = Files.createTempDirectory("graft_dc_null_ckp")
    val protectedText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val train = spark.range(1).select(lit(0L).as("doc_id"),
      lit(protectedText).as("text"))
    val bits = graft.queries.Curation.bloomBitsOf(train)
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, protectedText),            // contaminated
        org.apache.spark.sql.Row(2L, "one two three four five six seven eight nine ten"),
        org.apache.spark.sql.Row(3L, null))),                   // null text
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val staging = Files.createTempDirectory("graft_dc_null_stage")
    docs.coalesce(1).write.mode("overwrite")
      .parquet(staging.resolve("out").toString)
    val part = Files.list(staging.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, src.resolve("msg_1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stream = StreamRunner.fileStream(spark, src.toString, docs.schema)
    val q = StreamRunner.decontamGate(stream, bits)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckp.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("doc_id").collect().foreach(r => admitted.add(r.getLong(0)))
        ()
      }
      .start()
    q.awaitTermination(120000)
    val got = { val it = admitted.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
    // contaminated doc bounces; the clean doc AND the null-text doc pass —
    // a NULL predicate filtered as false would make doc 3 vanish, neither
    // admitted nor bounced, with admission depending on whether
    // decontamination happened to be enabled
    assert(got == Set(2L, 3L), s"gate admitted $got, expected Set(2, 3)")
  }

  test("SCD2 maintenance: stream-maintained dim == q154 batch rebuild, replays heal") {
    val src = Files.createTempDirectory("graft_scd2_src")
    val ckp = Files.createTempDirectory("graft_scd2_ckp")
    val dim = Files.createTempDirectory("graft_scd2_dim").resolve("dim").toString
    // changelog slices in the exact (ts_ns, event_id) order q154's
    // windows use — the per-user ordered-arrival contract of a CDC feed
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
    val ordered = ev.orderBy(col("ts_ns"), col("event_id")).collect()
    val nSlices = 4
    val per = math.ceil(ordered.length / nSlices.toDouble).toInt
    ordered.grouped(per).zipWithIndex.foreach { case (rows, i) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), ev.schema)
      val tmp = Files.createTempDirectory(s"graft_scd2_tmp_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      // flat file: the file source lists the dir, it does not recurse
      Files.copy(part, src.resolve(f"msg_$i%02d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val stream = StreamRunner.fileStream(spark, src.toString, ev.schema)
    val q = StreamRunner.runScd2Maintain(stream, dim, ckp.toString)
    q.awaitTermination(180000)
    // one committed delta per micro-batch (compactEvery=8 > 4 slices:
    // no base yet — the whole dimension lives in the delta log)
    val fs = new org.apache.hadoop.fs.Path(dim).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val snaps = fs.listStatus(new org.apache.hadoop.fs.Path(dim))
      .filter(_.getPath.getName.startsWith("delta_"))
    assert(snaps.length == nSlices, s"expected $nSlices deltas, got ${snaps.length}")
    // THE equivalence: the maintained dimension equals the batch rebuild
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("user_id"), r.getAs[Long]("ver"), r.getAs[String]("state"),
      r.getAs[Long]("valid_from_ns"), r.getAs[Long]("valid_to_ns"),
      r.getAs[Long]("n_events"), r.getAs[Int]("is_current"))
    val streamed = StreamRunner.scd2Snapshot(spark, dim).collect().map(key).toSet
    val batch = graft.queries.EventOps.q154Scd2Intervals(spark, sf)
      .collect().map(key).toSet
    assert(streamed == batch,
      s"stream dim ${streamed.size} rows != batch ${batch.size}; " +
        s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    // replay safety: a replayed id with a committed delta is a no-op
    val lastId = snaps.map(_.getPath.getName.stripPrefix("delta_").toLong).max
    val lastPath = new org.apache.hadoop.fs.Path(s"$dim/delta_$lastId")
    val mtime0 = fs.listStatus(lastPath).map(_.getModificationTime).max
    val lastSlice = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ordered.grouped(per).toSeq.last.toSeq), ev.schema)
    StreamRunner.scd2MaintainSink(dim)(lastSlice, lastId)
    val mtime1 = fs.listStatus(lastPath).map(_.getModificationTime).max
    assert(mtime1 == mtime0, "replay of a committed delta rewrote it")
    // torn-write healing: drop the marker (crash mid-write) and replay —
    // the delta rebuilds whole from the merged state before lastId,
    // same answer
    fs.delete(new org.apache.hadoop.fs.Path(lastPath, "_SUCCESS"), false)
    StreamRunner.scd2MaintainSink(dim)(lastSlice, lastId)
    assert(fs.exists(new org.apache.hadoop.fs.Path(lastPath, "_SUCCESS")))
    val healed = StreamRunner.scd2Snapshot(spark, dim).collect().map(key).toSet
    assert(healed == batch, "healed delta log diverged from the batch rebuild")
    // out-of-order arrival throws instead of corrupting closed history:
    // replay the FIRST event of a user who has later events too (their
    // watermark after the full replay is strictly ahead of it)
    val multiUser = ordered.groupBy(_.getAs[Long]("user_id"))
      .collectFirst { case (_, rows)
          if rows.map(_.getAs[Long]("ts_ns")).distinct.length >= 2 =>
        rows.minBy(r => (r.getAs[Long]("ts_ns"), r.getAs[Long]("event_id")))
      }.get
    val early = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(multiUser)), ev.schema)
    val e = intercept[IllegalArgumentException] {
      StreamRunner.scd2ApplyBatch(
        StreamRunner.scd2CurrentState(spark, dim), early).count()
    }
    assert(e.getMessage.contains("ordered"))
    // slicing independence: replaying the same ordered changelog in TWO
    // batches (different boundary) instead of four yields the SAME dim —
    // the merge is associative over ordered slices
    val dim2 = Files.createTempDirectory("graft_scd2_dim2").resolve("dim").toString
    val per2 = math.ceil(ordered.length / 2.0).toInt
    ordered.grouped(per2).zipWithIndex.foreach { case (rows2, i) =>
      val df2 = spark.createDataFrame(
        spark.sparkContext.parallelize(rows2.toSeq), ev.schema)
      StreamRunner.scd2MaintainSink(dim2)(df2, i.toLong)
    }
    val streamed2 = StreamRunner.scd2Snapshot(spark, dim2).collect().map(key).toSet
    assert(streamed2 == batch, "2-slice replay diverged from the batch rebuild")
    // checkpoint-reset guard: a batch id BEHIND a committed commit
    // (batch counter restarted at 0 against a dim that saw delta_1)
    // must refuse rather than fork history behind the stale "latest"
    val er = intercept[IllegalArgumentException] {
      StreamRunner.scd2MaintainSink(dim2)(lastSlice, 0L)
    }
    assert(er.getMessage.contains("checkpoint reset"))
  }

  test("SCD2 merge-on-read: a 1-user batch writes O(1-user) rows; compaction bounds the log") {
    // THE scale property of the base+delta layout: maintaining a
    // dimension of U users after one user's change must cost O(that
    // user's rebuilt versions) of sink I/O, not O(U) — the full-snapshot
    // rewrite this layout replaced was O(U) per batch by construction
    val dim = Files.createTempDirectory("graft_scd2mor_dim").resolve("dim").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
    val ordered = ev.orderBy(col("ts_ns"), col("event_id")).collect()
    val fs = new org.apache.hadoop.fs.Path(dim).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // seed the dimension with the full changelog as batch 0
    StreamRunner.scd2MaintainSink(dim)(
      spark.createDataFrame(
        spark.sparkContext.parallelize(ordered.toSeq), ev.schema), 0L)
    val dimUsers = StreamRunner.scd2Snapshot(spark, dim)
      .select("user_id").distinct().count()
    assert(dimUsers > 10, s"fixture too small for the proof ($dimUsers users)")
    // batch 1: ONE user, one brand-new event after their watermark
    val u = ordered.last.getAs[Long]("user_id")
    val maxTs = ordered.map(_.getAs[Long]("ts_ns")).max
    val one = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(u, 999999L, maxTs + 1000L, "zz"))), ev.schema)
    StreamRunner.scd2MaintainSink(dim)(one, 1L)
    val deltaRows = spark.read.parquet(s"$dim/delta_1").count()
    // the delta carries exactly the user's rebuilt versions: the closed
    // previously-open version + the new "zz" version = 2 rows — and
    // NEVER scales with the dimension's user count
    assert(deltaRows == 2, s"1-user delta wrote $deltaRows rows")
    assert(deltaRows < dimUsers, "delta I/O scaled with the dimension")
    // the merged view agrees with a direct batch apply on the same input
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("user_id"), r.getAs[Long]("ver"), r.getAs[String]("state"),
      r.getAs[Long]("valid_from_ns"), r.getAs[Long]("valid_to_ns"),
      r.getAs[Long]("n_events"), r.getAs[Int]("is_current"))
    val viaDeltas = StreamRunner.scd2Snapshot(spark, dim).collect().map(key).toSet
    val direct = StreamRunner.scd2ApplyBatch(
      graft.queries.EventOps.q154Scd2Intervals(spark, sf), one)
      .drop("wm_ns", "wm_eid").collect().map(key).toSet
    assert(viaDeltas == direct, "MoR view diverged from direct batch apply")
    // compaction: drive a dim with compactEvery=2 — bases appear, the
    // merged answer is unchanged, and cleanup keeps ONE generation of
    // vacuum grace: commits older than the PREVIOUS base are reclaimed
    // (so storage is bounded at two generations) while the previous
    // generation itself survives, protecting concurrent readers that
    // listed the store just before the compaction (the MoR vacuum race)
    val dimC = Files.createTempDirectory("graft_scd2mor_c").resolve("dim").toString
    val per = math.ceil(ordered.length / 6.0).toInt
    ordered.grouped(per).zipWithIndex.foreach { case (rows, i) =>
      StreamRunner.scd2MaintainSink(dimC, compactEvery = 2)(
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq), ev.schema), i.toLong)
    }
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dimC))
      .map(_.getPath.getName).filter(n =>
        n.startsWith("base_") || n.startsWith("delta_")).toSet
    val bases = names.filter(_.startsWith("base_"))
      .map(_.stripPrefix("base_").toLong).toSeq.sorted
    assert(bases.size == 2,
      s"vacuum grace should retain exactly two base generations: $names")
    val prevBase = bases.head
    val tooOld = names.filter(n =>
      n.stripPrefix("base_").stripPrefix("delta_").toLong < prevBase)
    assert(tooOld.isEmpty,
      s"commits older than the previous base not reclaimed: $tooOld")
    val compacted = StreamRunner.scd2Snapshot(spark, dimC).collect().map(key).toSet
    val batchRebuild = graft.queries.EventOps.q154Scd2Intervals(spark, sf)
      .collect().map(key).toSet
    assert(compacted == batchRebuild, "compacted log diverged from batch rebuild")
  }

  test("SCD2 legacy snap_ layout is migrated, not silently ignored") {
    // a dimension written by the pre-MoR sink (whole snapshots under
    // snap_<k>, no wm_eid column) must be ADOPTED as the base — reading
    // it as empty would silently fork all prior history
    val dim = Files.createTempDirectory("graft_scd2mig").resolve("dim").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
    // legacy snapshot = full batch apply, old schema (wm_ns only)
    val legacyDim = StreamRunner.scd2ApplyBatch(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ver", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("state", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("valid_from_ns", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("valid_to_ns", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("is_current", org.apache.spark.sql.types.IntegerType)))),
      ev)
    legacyDim.drop("wm_eid").write.mode("overwrite").parquet(s"$dim/snap_0")
    // one new event for one user, after everyone's watermark
    val maxRow = ev.orderBy(col("ts_ns").desc, col("event_id").desc).head()
    val one = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(maxRow.getAs[Long]("user_id"), 888888L,
        maxRow.getAs[Long]("ts_ns") + 500L, "mig"))), ev.schema)
    StreamRunner.scd2MaintainSink(dim)(one, 1L)
    val fs = new org.apache.hadoop.fs.Path(dim).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val names2 = fs.listStatus(new org.apache.hadoop.fs.Path(dim))
      .map(_.getPath.getName).toSet
    assert(!names2.exists(_.startsWith("snap_")), s"legacy snaps remain: $names2")
    assert(names2.contains("base_0") && names2.contains("delta_1"))
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("user_id"), r.getAs[Long]("ver"), r.getAs[String]("state"),
      r.getAs[Long]("valid_from_ns"), r.getAs[Long]("valid_to_ns"),
      r.getAs[Long]("n_events"), r.getAs[Int]("is_current"))
    val migrated = StreamRunner.scd2Snapshot(spark, dim).collect().map(key).toSet
    val direct = StreamRunner.scd2ApplyBatch(legacyDim, one)
      .drop("wm_ns", "wm_eid").collect().map(key).toSet
    assert(migrated == direct, "migrated dimension diverged from direct apply")
  }

  test("event ingest stack: streaming dedup -> SCD2 maintenance == batch on unique events") {
    // the composed event-side pipeline: re-delivered changelog rows are
    // dropped by the watermarked dedup BEFORE they can inflate version
    // event-counts, and the maintained dimension still equals the batch
    // rebuild over the unique events
    val src = Files.createTempDirectory("graft_scd2s_src")
    val ckp = Files.createTempDirectory("graft_scd2s_ckp")
    val dim = Files.createTempDirectory("graft_scd2s_dim").resolve("dim").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
    val ordered = ev.orderBy(col("ts_ns"), col("event_id")).collect()
    val per = math.ceil(ordered.length / 2.0).toInt
    ordered.grouped(per).zipWithIndex.foreach { case (rows, i) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), ev.schema)
      // each slice staged TWICE under different file names: the second
      // delivery is a full duplicate the dedup gate must absorb
      Seq("a", "b").foreach { tag =>
        val tmp = Files.createTempDirectory(s"graft_scd2s_tmp_${i}_$tag")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.copy(part, src.resolve(f"msg_$i%02d$tag.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val stream = StreamRunner.fileStream(spark, src.toString, ev.schema)
    val deduped = StreamRunner.dedupStream(stream, Seq("event_id"), "2 hours")
    val q = StreamRunner.runScd2Maintain(deduped, dim, ckp.toString)
    q.awaitTermination(240000)
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("user_id"), r.getAs[Long]("ver"), r.getAs[String]("state"),
      r.getAs[Long]("valid_from_ns"), r.getAs[Long]("valid_to_ns"),
      r.getAs[Long]("n_events"), r.getAs[Int]("is_current"))
    val streamed = StreamRunner.scd2Snapshot(spark, dim).collect().map(key).toSet
    val batch = graft.queries.EventOps.q154Scd2Intervals(spark, sf)
      .collect().map(key).toSet
    assert(streamed == batch,
      s"dedup->SCD2 stack diverged: ${ (streamed -- batch).take(3) } / " +
        s"${ (batch -- streamed).take(3) }")
  }

  test("scd2ApplyBatch property: random streams + random slicings == plain-Scala SCD2") {
    import org.apache.spark.sql.types._
    val dimSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ver", LongType),
      StructField("state", StringType), StructField("valid_from_ns", LongType),
      StructField("valid_to_ns", LongType), StructField("n_events", LongType),
      StructField("is_current", IntegerType)))
    val evSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts_ns", LongType), StructField("event_type", StringType)))
    val types = Array("a", "b", "c")
    for (inst <- 0 until 4) {
      val rnd = new scala.util.Random(100 + inst)
      // small ts range FORCES ties within and across slices — the edge
      // the fixture may not exercise at every boundary
      val events = (1 to 8).flatMap { u =>
        (0 until rnd.nextInt(25)).map { i =>
          (u.toLong, (u * 1000 + i).toLong,
            rnd.nextInt(12).toLong * 1000000000L, types(rnd.nextInt(3)))
        }
      }
      if (events.nonEmpty) {
        val ordered = events.sortBy(e => (e._3, e._2))
        // independent plain-Scala SCD2 over the full ordered stream
        val expected = ordered.groupBy(_._1).flatMap { case (u, evs) =>
          val sorted = evs.sortBy(e => (e._3, e._2))
          val runs = sorted.foldLeft(List.empty[(String, Long, Long)]) {
            case (acc, (_, _, ts, tp)) => acc match {
              case (t0, from, n) :: rest if t0 == tp => (t0, from, n + 1) :: rest
              case _ => (tp, ts, 1L) :: acc
            }
          }.reverse
          runs.zipWithIndex.map { case ((tp, from, n), i) =>
            val to = if (i == runs.length - 1) -1L else runs(i + 1)._2
            (u, (i + 1).toLong, tp, from, to, n, if (to == -1L) 1 else 0)
          }
        }.toSet
        // random slicing: 1..4 cuts of the ordered stream
        val nCuts = 1 + rnd.nextInt(4)
        val cuts = (Seq(0, ordered.length) ++
          Seq.fill(nCuts)(rnd.nextInt(ordered.length + 1))).distinct.sorted
        var dim = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dimSchema)
        cuts.sliding(2).foreach { case Seq(a, b) =>
          if (b > a) {
            val slice = spark.createDataFrame(
              spark.sparkContext.parallelize(ordered.slice(a, b).map(e =>
                org.apache.spark.sql.Row(e._1, e._2, e._3, e._4))), evSchema)
            dim = StreamRunner.scd2ApplyBatch(dim, slice)
              // materialize: the next merge must not recompute this one
              .persist()
          }
          case _ => ()
        }
        val got = dim.drop("wm_ns").collect().map(r =>
          (r.getAs[Long]("user_id"), r.getAs[Long]("ver"), r.getAs[String]("state"),
            r.getAs[Long]("valid_from_ns"), r.getAs[Long]("valid_to_ns"),
            r.getAs[Long]("n_events"), r.getAs[Int]("is_current"))).toSet
        assert(got == expected,
          s"instance $inst (cuts $cuts): merged dim diverged; " +
            s"extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
      }
    }
  }

  test("tile ingest: streamed scenes land as tile partitions; replay and revision are scene-idempotent") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("graft_ti_src")
    val ckp = Files.createTempDirectory("graft_ti_ckp")
    val store = Files.createTempDirectory("graft_ti_store").resolve("tiles").toString
    val px = graft.queries.Trollflow.raster(spark, sf)
      .select(col("area"), col("product"), col("y"), col("x"), col("value"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft_ti_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, src.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def drain(checkpoint: String): Unit = {
      val q = StreamRunner.tileIngest(
        StreamRunner.fileStream(spark, src.toString, px.schema),
        store, checkpoint)
      q.awaitTermination(120000)
      ()
    }
    def storeRows(): Set[(String, String, Long, Long, Seq[Any])] =
      spark.read.parquet(store)
        .select(col("area"), col("product"), col("tile_y"), col("tile_x"),
          col("cells"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getSeq[Any](4))).toSet
    def tilesOf(df: org.apache.spark.sql.DataFrame) =
      graft.queries.TiledRaster.tilesOf(df)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getSeq[Any](4))).toSet
    val areas = px.select("area").distinct()
      .collect().map(_.getString(0)).sorted
    val a1 = areas.head
    // message 1: one area's scenes; message 2: the rest
    stage(px.filter(col("area") === a1), "msg_1")
    drain(ckp.toString)
    stage(px.filter(col("area") =!= a1), "msg_2")
    drain(ckp.toString)
    // the store now equals the batch-built tile table over the full frame
    val full = tilesOf(px)
    assert(full.nonEmpty && storeRows() == full,
      "streamed tile store diverged from the batch tile assembly")
    // REPLAY: a fresh checkpoint re-delivers both messages — the dynamic
    // partition overwrite rewrites each scene to identical content
    val ckp2 = Files.createTempDirectory("graft_ti_ckp2")
    drain(ckp2.toString)
    assert(storeRows() == full, "replay corrupted the tile store")
    // REVISION: a changed scene for a1 replaces ONLY a1's partitions
    stage(px.filter(col("area") === a1)
      .withColumn("value", col("value") * 2), "msg_3")
    drain(ckp.toString)
    val revised = tilesOf(px.filter(col("area") =!= a1).unionByName(
      px.filter(col("area") === a1).withColumn("value", col("value") * 2)))
    assert(storeRows() == revised,
      "scene revision did not replace exactly its own partitions")
    // FULL replay with the revision present (fresh checkpoint, all three
    // messages): the file source delivers one message per batch in
    // arrival order, so the store converges on the LAST version of the
    // revised scene — the recovery path of the message-atomic contract
    val ckp3 = Files.createTempDirectory("graft_ti_ckp3")
    drain(ckp3.toString)
    assert(storeRows() == revised,
      "full replay with a revision present did not converge on the revision")
  }

  test("semantic decontam gate == batch triad flags, exact default and conf-routed") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id"), col("embedding"))
    val cells = graft.queries.Similarity.decontamCells(spark, sf)
    def flagged(np: Int): Set[Long] =
      graft.queries.Similarity.blockedDecontamFlags(spark, sf, np)
        .filter(col("flag") === 1)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val all = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    // stream the corpus embeddings through the gate, once per mode
    def admittedVia(nprobe: Option[Int]): Set[Long] = {
      nprobe.foreach(n =>
        spark.conf.set(StreamRunner.DecontamNprobeConf, n.toString))
      try {
        val src = Files.createTempDirectory("graft_sdg_src")
        val ckp = Files.createTempDirectory("graft_sdg_ckp")
        val tmp = Files.createTempDirectory("graft_sdg_tmp")
        corpus.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.copy(part, src.resolve("msg_1.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val admitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
        val stream = StreamRunner.fileStream(spark, src.toString, corpus.schema)
        val q = StreamRunner.semanticDecontamGate(stream, cells)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckp.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.select("vec_id").collect()
              .foreach(r => admitted.add(r.getLong(0)))
            ()
          }
          .start()
        q.awaitTermination(120000)
        val it = admitted.iterator(); val b = Set.newBuilder[Long]
        while (it.hasNext) b += it.next(); b.result()
      } finally nprobe.foreach(_ =>
        spark.conf.unset(StreamRunner.DecontamNprobeConf))
    }
    // conf unset -> EXACT mode (q162's semantics) is the default
    val exactAdmitted = admittedVia(None)
    val exactFlagged = flagged(0)
    assert(exactFlagged.nonEmpty && exactAdmitted.nonEmpty,
      s"degenerate fixture: flagged=${exactFlagged.size} admitted=${exactAdmitted.size}")
    assert(exactAdmitted == all -- exactFlagged,
      s"exact gate diverged from batch q162 flags; " +
        s"extra=${(exactAdmitted -- (all -- exactFlagged)).take(5)} " +
        s"missing=${((all -- exactFlagged) -- exactAdmitted).take(5)}")
    // conf-gated routing -> the q163 twin, bounced set == routed flags
    val routedAdmitted = admittedVia(Some(2))
    assert(routedAdmitted == all -- flagged(2),
      "routed gate diverged from batch q163 flags")
    // routing can only ADMIT more, never flag more (subset law)
    assert(exactAdmitted.subsetOf(routedAdmitted),
      "routed gate flagged a document the exact gate admitted")
    // a NULL embedding admits — no contamination evidence, the same
    // rule as the Bloom gate's shingle-less docs
    val nullRow = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(99999L, null)),
      corpus.schema)
    assert(StreamRunner.semanticDecontamGate(nullRow, cells).count() == 1,
      "null-embedding row was dropped by the semantic gate")
  }

  test("graceful stop terminates a continuous query") {
    val (src, ckp) = stageMessages(1)
    val stream = StreamRunner.fileStream(spark, src, eventsSchema)
    val q = StreamRunner.runPerMessage(stream, ckp, availableNow = false) {
      (_, _) => ()
    }
    // let it process the backlog, then drain
    Thread.sleep(2000)
    assert(StreamRunner.stopGracefully(q))
    assert(!q.isActive)
  }
}
