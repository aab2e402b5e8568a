package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

import graft.pipeline.{Messages, Plugin, ProductList, Runner}

/** Streaming front-end (reference: `generate_messages` →
  * one-job-per-message, launcher.py:146-171, 237-250, SURVEY §2.6).
  *
  * Mapping:
  *  - message intake → a file-source stream (at scale: Kafka source; the
  *    API below only assumes a streaming DataFrame);
  *  - one job per message, strictly sequential (`proc.start(); proc.join()`,
  *    launcher.py:244-245) → `foreachBatch` with `maxFilesPerTrigger=1`:
  *    micro-batches are sequential by contract, so the per-batch chain
  *    keeps the reference's deterministic one-at-a-time semantics;
  *  - old-data admission (`check_metadata start_time: -120`,
  *    plugins/__init__.py:705-711) → event-time watermark + windowed aggs:
  *    state for windows older than the watermark is dropped, which is the
  *    scale-safe version of the same contract (bounded state, late data
  *    ignored);
  *  - graceful SIGTERM drain (launcher.py:151-157) → `stopGracefully`;
  *  - one-shot CLI mode (cli.py) → `Trigger.AvailableNow`: process the
  *    backlog, then stop.
  */
object StreamRunner {

  /** Hard ceiling on message rows collected to the driver per
    * micro-batch by [[runMessages]] — messages are control-plane JSON
    * (one file ≈ one message under [[fileStream]]'s
    * maxFilesPerTrigger=1), so any batch near this bound means a data
    * table was wired into the message slot. */
  val MaxMessagesPerBatch: Int = 10000

  /** Normalize an event-time column to int64 epoch-nanos. The fixture's
    * physical encoding has drifted across generations (int64
    * TIMESTAMP(NANOS) vs TIMESTAMP(MICROS) read as TIMESTAMP_NTZ), and a
    * streamed events frame carries whichever the files have — so every
    * time-consuming helper below normalizes instead of assuming. Matches
    * [[graft.sources.Tables.events]]; ContractSpec pins the encodings. */
  def normalizeNs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        df.withColumn(c, expr(s"unix_micros(cast(`$c` as timestamp)) * 1000L"))
    }

  /** File-source message stream: one file ≈ one message.
    * `maxFilesPerTrigger=1` keeps batches message-sized and sequential. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .format(format)
      .load(dir)

  /** Watermarked tumbling-window aggregation over the events schema (the
    * streaming form of the batch q18): per (hour, event_type) counts and
    * value sums, with state bounded by the admission watermark. Takes a
    * `ts_ns` event-time column in either fixture encoding. */
  def hourlyVolume(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    normalizeNs(events, "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Run a per-batch job over the stream — the `foreachBatch` analog of
    * `process_files`: each micro-batch (= message) runs the supplied chain
    * exactly once, sequentially. Returns the running query. */
  def runPerMessage(stream: DataFrame, checkpointDir: String,
                    availableNow: Boolean = true)
                   (job: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, id: Long) => job(batch, id) }
      .start()

  /** Text-file message stream: one file = one posttroll-style JSON
    * message (the subscriber-socket analog; at scale the same code takes
    * a Kafka `value` column). */
  def messageStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", 1)
      .option("wholetext", true) // one file = one message, newlines and all
      .text(dir)

  /** The full reference main loop, streaming-native: `generate_messages`
    * → `message_to_jobs` → `process_jobs` (launcher.py:146-171, 269-300).
    * Every row of each micro-batch is one JSON message: it is parsed into
    * a [[graft.pipeline.PipelineContext]] ([[Messages.toContext]] — the
    * message's `data` dict becomes `input_mda`), the caller's `mkChain`
    * builds the plugin chain from the message's input paths (prepend a
    * `CreateScene(paths)` for the reference's `create_scene` slot), and
    * the chain runs priority group by priority group via
    * [[Runner.processJobs]]. `onReport` receives each message's job
    * reports (publish/audit hook — the tests' capture point).
    *
    * Scale note: the per-batch `collect()` pulls MESSAGES to the driver,
    * not data — messages are control-plane JSON (the reference holds each
    * one in a Python dict); the frames the chain computes from those
    * paths stay fully distributed. Micro-batches are sequential by
    * contract, so jobs run one message at a time exactly like the
    * reference's `proc.start(); proc.join()`. */
  def runMessages(messages: DataFrame, spec: ProductList,
                  checkpointDir: String,
                  mkChain: Seq[String] => Seq[Plugin],
                  timeoutPerPlugin: scala.concurrent.duration.Duration =
                    scala.concurrent.duration.Duration.Inf,
                  crashHandlers: Seq[Runner.CrashHandler] = Seq.empty,
                  availableNow: Boolean = true)
                 (onReport: (String, Seq[Runner.JobReport]) => Unit): StreamingQuery =
    runPerMessage(messages, checkpointDir, availableNow) { (batch, _) =>
      val spark = batch.sparkSession
      // guard the control-plane contract: the collect below is bounded
      // ONLY because the message source delivers a handful of JSON
      // messages per trigger (maxFilesPerTrigger=1 in messageStream). A
      // misconfigured fat source (someone pointing a data table at the
      // message slot) must fail loudly here, not OOM the driver.
      val rows = batch.limit(MaxMessagesPerBatch + 1)
        .select(col(batch.columns.head).cast("string"))
        .collect()
      require(rows.length <= MaxMessagesPerBatch,
        s"runMessages micro-batch exceeds $MaxMessagesPerBatch rows — " +
          "messages are control-plane JSON, not data; check the source " +
          "wiring (maxFilesPerTrigger) before raising the bound")
      rows.iterator.map(_.getString(0)).filter(_ != null)
        .foreach { json =>
          val (ctx, paths) = Messages.toContext(spark, spec, json)
          val reports = Runner.processJobs(ctx, mkChain(paths),
            timeoutPerPlugin, crashHandlers)
          onReport(json, reports)
        }
    }

  /** Run a streaming aggregation. Defaults — complete mode into the
    * in-memory table — are the TEST/DEV shape (the full current result
    * per trigger, like the reference recomputing per job); note that in
    * complete mode the watermark does NOT evict window state and the
    * memory sink re-materializes on the driver, so a long-running
    * production query must pass `outputMode = "update"` (or "append")
    * and a real `format` — that pairing is where the watermarked
    * aggregations' bounded-state contract actually holds. */
  def runAggregate(agg: DataFrame, queryName: String, checkpointDir: String,
                   availableNow: Boolean = true,
                   outputMode: String = "complete",
                   format: String = "memory"): StreamingQuery =
    agg.writeStream
      .queryName(queryName)
      .outputMode(outputMode)
      .format(format)
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0L))
      .start()

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension table (the streaming face of the reference's per-job
    * metadata lookups). The static side is re-read per micro-batch under
    * the hood but planned as a broadcast hash join when small — state-
    * free, so unlike stream-stream joins it needs no watermark. */
  def enrich(stream: DataFrame, dim: DataFrame,
             keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys)

  /** Streaming exact-dedup: drop re-deliveries of the same key across
    * micro-batches, with state bounded by the event-time watermark (keys
    * older than the watermark are evicted — the streaming face of the
    * batch dedup pack, and the standard at-least-once → effectively-once
    * repair for replayed message streams). Takes a `ts_ns` event-time
    * column in either fixture encoding. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "2 hours"): DataFrame = {
    require(keys.nonEmpty, "dedupStream needs at least one dedup key")
    normalizeNs(events, "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", watermark)
      // KEYS-ONLY dedup with watermark-bounded state: the old
      // dropDuplicates(keys :+ "ts") let a re-delivery with a re-stamped
      // timestamp pass the gate (same key, different ts = distinct to
      // it); dropDuplicatesWithinWatermark dedups on the keys alone and
      // still evicts state at the watermark horizon
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Streaming admission gate — the streaming face of q100's
    * incremental-ingest dedup: a new document enters the corpus only if
    * its content key is unseen in BOTH the historical corpus and the
    * stream so far. The historical side is a stream-static left_anti
    * join (state-free: the static side re-plans per micro-batch, and at
    * production scale it is the materialized content-key table the batch
    * dedup pass already writes — small enough keyed storage to
    * broadcast-or-shuffle per batch, never the raw corpus); the
    * within-stream side is the watermarked dropDuplicates gate, so
    * replayed deliveries and intra-stream dupes both bounce. State is
    * O(stream keys inside the watermark horizon) — the historical keys
    * live in storage, not in stream state. */
  def admissionGate(stream: DataFrame, corpusKeys: DataFrame,
      keys: Seq[String], watermark: String = "2 hours"): DataFrame =
    dedupStream(stream, keys, watermark)
      .join(corpusKeys.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Streaming NEAR-dup admission gate — the LSH face of
    * [[admissionGate]]: a streamed document is rejected when ANY of its
    * 4 MinHash band fingerprints collides with the historical corpus'
    * LSH index (the (band, bfp) table a batch q30-style pass persists —
    * [[graft.queries.Dedup.bandTable]]). Signatures are computed
    * ROW-LOCALLY ([[graft.queries.Dedup.rowBandFps]] — numerically
    * identical to the batch aggregation), so the stream side adds zero
    * shuffles and zero state; "no band collides" is four stream-static
    * left_anti joins, one per band key, each state-free (the static
    * index re-plans per micro-batch). Combined with the watermarked
    * exact gate ([[dedupStream]] on `keys`), replays, intra-stream
    * dupes, and corpus near-dups all bounce; stream state stays
    * O(stream keys inside the watermark horizon). Documents with < 3
    * tokens carry no shingles, hence null fingerprints and no near-dup
    * evidence: they pass the LSH stage (null never equi-matches) and
    * rely on the exact gate alone — same as batch, where a shingle-less
    * doc never enters the postings. */
  def nearDupGate(stream: DataFrame, corpusBands: DataFrame,
      keys: Seq[String], textCol: String = "text",
      watermark: String = "2 hours"): DataFrame = {
    val fps = graft.queries.Dedup.rowBandFps(col(textCol))
    fps.zipWithIndex.foldLeft(dedupStream(stream, keys, watermark)) {
      case (df, (fp, band)) =>
        df.withColumn("_bfp", fp)
          .join(corpusBands.filter(col("band") === band)
              .select(col("bfp").as("_bfp")).distinct(),
            Seq("_bfp"), "left_anti")
          .drop("_bfp")
    }
  }

  /** Self-maintaining streaming near-dup gate — the full production
    * ingest loop in ONE streaming query: the LSH index the gate checks
    * GROWS as documents are admitted, so later deliveries of the same
    * (or near-duplicate) content bounce even when nothing was indexed
    * up front. Micro-batches run strictly sequentially, which makes the
    * read-then-append on `indexDir` safe without coordination:
    *
    *  1. replays inside the stream bounce on the watermarked exact gate
    *     ([[dedupStream]] on `key`);
    *  2. rows whose row-local band fingerprints
    *     ([[graft.queries.Dedup.rowBandFps]]) collide with the index
    *     parquet at `indexDir` bounce (batch-side left_semi — the index
    *     is re-read per micro-batch, exactly the stream-static
    *     contract);
    *  3. intra-batch near-dups reduce to a canonical owner: for every
    *     (band, bfp) group inside the batch the minimum key wins, and a
    *     row is admitted only if no smaller key owns any of its bands
    *     (chains that dodge this single-round rule collapse anyway on
    *     the next delivery, because admitted rows are indexed);
    *  4. the admitted rows' band rows are written to the
    *     `batch_id=<id>` partition of `indexDir` with
    *     [[idempotentBatchSink]] semantics, and the admitted rows flow
    *     to `onBatch`.
    *
    * REPLAY SAFETY: foreachBatch replays a batch (same id, same rows)
    * after a crash, so the collision check reads only partitions with
    * `batch_id < id` — a torn write from the failed attempt of THIS id
    * can never bounce the batch against itself — and the batch's own
    * partition is overwritten whole. The replay therefore recomputes the
    * identical admitted set and re-delivers it to `onBatch`, whose
    * downstream must be idempotent per batch id (use
    * [[idempotentBatchSink]]).
    *
    * RECOVERY UNIT: the `batch_id < id` guard ties index partitions to
    * the checkpoint's batch counter, so the index and the checkpoint
    * form ONE recovery unit (exactly like any stateful sink's state):
    * restore or move them TOGETHER. Restarting with a fresh checkpoint
    * against a populated index would silently re-admit and clobber —
    * the gate detects that (existing `batch_id` ≥ the stream's counter,
    * or a non-partitioned legacy layout) and fails loudly instead. To
    * seed from an existing batch-built index (e.g.
    * [[graft.queries.Dedup.bandTableOf]] over the historical corpus),
    * pass it as `seedBands` — a static side checked alongside the
    * growing index, outside the recovery unit.
    *
    * State stays O(stream keys inside the watermark horizon): the index
    * lives in storage, not in stream state. */
  def selfIndexingGate(stream: DataFrame, indexDir: String,
      checkpointDir: String, key: String = "doc_id",
      textCol: String = "text", watermark: String = "2 hours",
      seedBands: Option[DataFrame] = None,
      evalBloomBits: Option[Array[Long]] = None)(
      onBatch: DataFrame => Unit): StreamingQuery = {
    val bandSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("bfp",
        org.apache.spark.sql.types.LongType)))
    // eval-suite decontamination runs FIRST: a document contaminated
    // against the protected suite must bounce at ingest — before it can
    // claim a band-group ownership or grow the index ([[decontamGate]],
    // row-local, stateless)
    val guarded = evalBloomBits match {
      case Some(bits) => decontamGate(stream, bits, textCol)
      case None => stream
    }
    dedupStream(guarded, Seq(key), watermark)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        // ONE signature pass per batch: later sets (survivor bands, the
        // index write) derive from this persisted explode instead of
        // re-running the shingle+MinHash kernel per consumer
        val fps = graft.queries.Dedup.rowBandFps(col(textCol))
        val bands = batch.select(
            col(key),
            posexplode(array(fps: _*)).as(Seq("band", "bfp")))
          .filter(col("bfp").isNotNull)
          .persist()
        try {
          val idxPath = new org.apache.hadoop.fs.Path(indexDir)
          val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // recovery-unit validation: an index partition AHEAD of the
          // stream's batch counter, or a non-partitioned (legacy/foreign)
          // layout, means the checkpoint was reset or points elsewhere —
          // proceeding would silently re-admit and clobber; fail loudly
          if (fs.exists(idxPath)) {
            val entries = fs.listStatus(idxPath)
            entries.foreach { st =>
              val n = st.getPath.getName
              if (st.isDirectory && n.startsWith("batch_id=") &&
                  n.stripPrefix("batch_id=").toLongOption.isDefined) {
                val k = n.stripPrefix("batch_id=").toLong
                require(k <= id,
                  s"index at $indexDir carries batch_id=$k beyond the " +
                    s"stream's batch $id: the LSH index and the streaming " +
                    "checkpoint form one recovery unit — restore or " +
                    "re-point them together (seed an external index via " +
                    "seedBands instead)")
              } else if (!n.startsWith("_") && !n.startsWith("."))
                throw new IllegalArgumentException(
                  s"index at $indexDir contains non-partitioned entry $n — " +
                    "not a selfIndexingGate index (seed external band " +
                    "tables via seedBands)")
            }
          }
          // replay safety: only COMMITTED partitions (batch_id < id) gate
          // this batch — a torn write from a failed attempt of the SAME
          // id must not bounce the batch against itself
          val index =
            if (fs.exists(idxPath))
              spark.read.option("basePath", indexDir)
                .schema(bandSchema.add(org.apache.spark.sql.types.StructField(
                  "batch_id", org.apache.spark.sql.types.LongType)))
                .parquet(indexDir)
                .filter(col("batch_id") < id)
            else spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), bandSchema)
          val gateBands = seedBands match {
            case Some(sb) => index.select(col("band"), col("bfp"))
              .unionByName(sb.select(col("band"), col("bfp")))
            case None => index.select(col("band"), col("bfp"))
          }
          val bounced = bands
            .join(gateBands, Seq("band", "bfp"), "left_semi")
            .select(col(key)).distinct()
          val sBands = bands.join(bounced, Seq(key), "left_anti")
          val owners = sBands.groupBy(col("band"), col("bfp"))
            .agg(min(col(key)).as("_owner"))
          val losers = sBands.join(owners, Seq("band", "bfp"))
            .filter(col(key) =!= col("_owner"))
            .select(col(key)).distinct()
          val adBands = sBands.join(losers, Seq(key), "left_anti").persist()
          try {
            // the batch's own partition is overwritten whole — the
            // idempotentBatchSink contract, healing torn writes
            adBands.select(col("band"), col("bfp"))
              .write.mode("overwrite").parquet(s"$indexDir/batch_id=$id")
            // admitted = batch minus rejected: shingle-less rows carry no
            // bands, hence no near-dup evidence — they pass (the exact
            // gate upstream already handled replays), same as batch
            // dedup. Persisted: a callback running several actions must
            // not re-run the whole gate (index read + joins) per action.
            val admitted = batch.join(bounced.unionByName(losers), Seq(key),
              "left_anti").persist()
            try onBatch(admitted)
            finally { admitted.unpersist(); () }
          } finally { adBands.unpersist(); () }
        } finally { bands.unpersist(); () }
        ()
      }
      .start()
  }

  /** Streaming DECONTAMINATION gate — eval-suite protection at ingest:
    * a streamed document bounces when ANY of its 8-gram shingles is a
    * member of the protected set's Bloom filter (q124's exact geometry,
    * [[graft.queries.Curation.bloomBitsOf]] builds the bitset from the
    * eval suite once at gate setup). The probe is ROW-LOCAL
    * ([[graft.queries.Curation.bloomMember]] over the row's
    * `shingle_h32` array, the bitset riding the plan as a 128 KiB
    * array<long> literal — the broadcast-occupied-set design of q124,
    * shipped to every executor): zero joins, zero shuffles, zero stream
    * state, and the admitted set is micro-batch-slicing-independent.
    * Bloom semantics mean no false negatives — nothing sharing an
    * 8-gram with the eval suite can slip through — at q124's measured
    * false-positive rate. Documents with < 8 tokens carry no shingles
    * and pass (no contamination evidence), exactly like the batch
    * triad. Compose with [[qualityGate]]/[[selfIndexingGate]] for the
    * full admission stack. */
  def decontamGate(stream: DataFrame, evalBloomBits: Array[Long],
      textCol: String = "text"): DataFrame = {
    val bits = typedLit(evalBloomBits.toSeq)
    // coalesce(…, true): a NULL text column yields a NULL shingle array
    // and a NULL predicate, which filter would silently DROP — but
    // no-contamination-evidence means PASS (the same rule that admits
    // shingle-less short docs), and admission must not depend on
    // whether decontamination happens to be enabled
    stream.filter(coalesce(!exists(
      graft.functions.TextFns.shingleH32(col(textCol), 8),
      h => graft.queries.Curation.bloomMember(h, bits)), lit(true)))
  }

  /** Conf key for [[semanticDecontamGate]]'s routing: `0` (default) =
    * EXACT — every document is scored against every coarse cell, the
    * streaming twin of batch q162; `n > 0` = IVF-ROUTED — only the n
    * nearest cells are scored, the twin of batch q163. */
  val DecontamNprobeConf = "spark.graft.decontam.nprobe"

  /** Streaming SEMANTIC decontamination gate — the embedding-space twin
    * of [[decontamGate]]'s lexical Bloom filter, and the streaming face
    * of the batch triad q146/q162/q163: admit a document unless its max
    * cosine against the protected eval suite reaches `threshold`.
    *
    * The suite rides as a PLAN LITERAL ([[
    * graft.queries.Similarity.decontamCells]] — k coarse-cell rows with
    * centroids and member arrays, computed once at gate setup; the
    * bounded-artifact design of q124's 128 KiB bitset, sized by the
    * protected benchmark, never the corpus), so the gate is ROW-LOCAL:
    * zero joins, zero shuffles, zero stream state, and admission is
    * micro-batch-slicing-independent.
    *
    * Routing is CONF-GATED via [[DecontamNprobeConf]]: exact mode
    * (default — q162's semantics, guaranteed-zero false negatives
    * against the suite) folds over every cell; nprobe > 0 scores only
    * the nprobe nearest cells by centroid distance, ties broken by cell
    * id exactly like q163's oracle — routed admissions are a SUPERSET
    * of exact admissions (flags ⊆ exact flags, the subset law pinned in
    * CorpusOpsSpec on random suite slices), so routing can only ADMIT
    * more, never leak a flagged document past a downstream exact
    * re-check. Every kernel (self-dot, member dot, d2) is the batch
    * triad's own zip_with/aggregate fold — parity with
    * [[graft.queries.Similarity.blockedDecontamFlags]] is bit-for-bit
    * (StreamRunnerSpec). A NULL embedding admits: no contamination
    * evidence, the same rule as the Bloom gate's shingle-less docs. */
  def semanticDecontamGate(stream: DataFrame,
      cells: Seq[graft.queries.Similarity.DecontamCell],
      vecCol: String = "embedding", threshold: Double = 0.35): DataFrame = {
    val nprobe = stream.sparkSession.conf
      .getOption(DecontamNprobeConf).map(_.trim.toInt).getOrElse(0)
    val cellsLit = array(cells.sortBy(_.cell).map(c =>
      struct(
        typedLit(c.cv).as("cv"),
        lit(c.cnrm).as("cnrm"),
        lit(c.cell).as("cell"),
        typedLit(c.evs).as("evs"))): _*)
    val v = col(vecCol).cast("array<double>")
    def dotFold(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    // collision-safe scratch column: the gate takes an ARBITRARY frame,
    // so a fixed "__nrm" would clobber (and then drop) a user column of
    // that name
    val nrmName = Iterator.from(0).map(i => s"__graft_nrm$i")
      .find(n => !stream.columns.contains(n)).get
    val nrm = col(nrmName)
    val probed =
      if (nprobe <= 0) cellsLit
      else slice(array_sort(transform(cellsLit, s => struct(
        (nrm - lit(2.0) * dotFold(v, s.getField("cv")) + s.getField("cnrm"))
          .as("d2"),
        s.getField("cell").as("cell"),
        s.getField("evs").as("evs")))), 1, nprobe)
    val maxCos = aggregate(probed, lit(-1.0), (acc, s) =>
      greatest(acc, aggregate(s.getField("evs"), lit(-1.0), (a2, m) =>
        greatest(a2, dotFold(v, m.getField("_1"))
          / sqrt(nrm * m.getField("_2"))))))
    val contaminated = round(lit(1e-9) + maxCos, 5) >= threshold
    stream.withColumn(nrmName, dotFold(v, v))
      .filter(coalesce(!contaminated, lit(true)))
      .drop(nrmName)
  }

  /** Streaming quality-admission gate — the second standard stream
    * filter beside the near-dup gates: admit only documents the frozen
    * registry classifier ([[graft.queries.Curation.registryCols]] —
    * the SAME column definition q140/q141/q147 score with in batch)
    * rates at `p ≥ minP`. A pure row-local codegen kernel: no state,
    * no shuffle, and stream-admitted vs batch-curated corpora agree by
    * construction. */
  def qualityGate(stream: DataFrame, minP: Double = 0.5,
      textCol: String = "text"): DataFrame =
    stream.filter(
      graft.queries.Curation.registryCols(col(textCol))("p") >= minP)

  /** Streaming SCENE → TILE ingest: the operational loop of the
    * reference (one message = one scene's rasters, processed and SAVED
    * per message — launcher.py's process loop) landing in the tile-row
    * layout ([[graft.queries.TiledRaster]]) instead of one-off files.
    *
    * Per micro-batch: assemble the batch's tall pixel rows (area,
    * product, y, x, value) into tile rows — the SAME
    * [[graft.queries.TiledRaster.tilesOf]] definition the batch queries
    * use, so stream-built and batch-built tiles agree by construction —
    * and DYNAMIC-partition-overwrite exactly the (area, product)
    * partitions present in the batch. Scene-replacement semantics fall
    * out: a re-delivered or replayed message rewrites its OWN scene's
    * partitions to identical content (idempotent recovery — the
    * partition is this sink's analog of [[idempotentBatchSink]]'s
    * batch_id directory), a revised scene replaces the old one whole,
    * and untouched scenes' partitions are never rewritten. The store is
    * plain partitioned parquet: readers see whole scenes via partition
    * discovery, and partition pruning serves per-scene reads without
    * touching the rest of the corpus.
    *
    * INPUT CONTRACT — scenes must be MESSAGE-ATOMIC, exactly the
    * reference's model (one posttroll message carries whole scenes):
    * each micro-batch must hold complete, single-version scenes. The
    * [[fileStream]] source guarantees this (one file = one message,
    * `maxFilesPerTrigger=1` = one message per batch, files processed in
    * arrival order — so a full replay that includes a later revision
    * converges on the revision, proven in StreamRunnerSpec). A source
    * that splits one scene across batches would have the later batch's
    * dynamic overwrite drop the earlier pixels, and one that packs two
    * VERSIONS of a scene into one batch would blend them through the
    * per-pixel mean — both are contract violations of the
    * scene-per-message shape, not recoverable downstream because the
    * tall rows carry no version column to disambiguate. */
  def tileIngest(stream: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val tiles = graft.queries.TiledRaster.tilesOf(batch)
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "dynamic")
        try tiles.write.mode("overwrite")
          .partitionBy("area", "product").parquet(storeDir)
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
      .start()

  /** Exactly-once parquet sink for `foreachBatch`: Structured Streaming
    * guarantees batch REPLAY after a failure (same id, same data), not
    * sink-side non-duplication — an at-least-once sink turns every
    * recovery into duplicate rows. The standard repair is an IDEMPOTENT
    * sink keyed by the batch id: rows land in `batch_id=<id>` partition
    * directories; a replayed id whose partition already carries the
    * `_SUCCESS` marker is a no-op, and a partial write WITHOUT the marker
    * (the crash happened mid-write) is overwritten whole. Readers see
    * exactly-once output by construction (`spark.read.parquet(outDir)`
    * with partition discovery). At production scale a transactional
    * table format subsumes the marker protocol; the directory contract
    * here is the plain-parquet equivalent. */
  def idempotentBatchSink(outDir: String)(batch: DataFrame, id: Long): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$outDir/batch_id=$id")
    val fs = dir.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      batch.write.mode("overwrite").parquet(dir.toString)
    }
  }

  // ---------------------------------------------------------------------
  // Streaming CDC apply: SCD2 dimension maintenance
  // ---------------------------------------------------------------------

  /** The SCD2 dimension schema [[graft.queries.EventOps.q154Scd2Intervals]]
    * emits, plus two internal bookkeeping columns carried on the open
    * (current) version row only: `wm_ns`/`wm_eid` — the max applied
    * (ts_ns, event_id) PAIR, the same ordering key q154's windows use.
    * The pair (not the bare timestamp) is what lets the next merge
    * REJECT out-of-order arrivals loudly even on equal-timestamp
    * boundaries: an event whose ts equals the watermark but whose
    * event_id orders before an already-applied equal-ts event is a
    * contract violation the bare-ts guard would silently admit. */
  private val scd2Schema = StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ver",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("state",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("valid_from_ns",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("valid_to_ns",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_events",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("is_current",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("wm_ns",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("wm_eid",
      org.apache.spark.sql.types.LongType)))

  /** The bookkeeping columns [[scd2Snapshot]] strips before handing the
    * dimension back in q154 shape. */
  private val scd2Bookkeeping = Seq("wm_ns", "wm_eid")

  /** Pure micro-batch SCD2 MERGE: apply a changelog slice to an existing
    * type-2 dimension — close open intervals whose user changed state,
    * extend those that didn't, append new versions, admit new users —
    * and return the next dimension. The streaming face of
    * [[graft.queries.EventOps.q154Scd2Intervals]]: replaying a changelog
    * through this merge batch-by-batch yields EXACTLY the table the
    * batch query builds from the same events (StreamRunnerSpec pins it).
    *
    * Contract: per-user event order across batches must follow the
    * (ts_ns, event_id) order q154's windows use — the normal shape of a
    * CDC changelog. A batch carrying an event OLDER than a user's
    * applied watermark throws rather than silently rewriting closed
    * history (the dimension is append/extend-only by construction).
    *
    * Mechanics, all set-based: affected users' open versions become
    * carry-in pseudo-rows (side 0 — they sort before same-timestamp
    * events) unioned with the batch; one per-user ordered window
    * recomputes state-change markers and local version numbers exactly
    * like q154; a (user, local-version)-grain aggregation rebuilds the
    * open-and-newer versions; closed versions and untouched users pass
    * through untouched.
    *
    * Scale design: cost is O(batch + affected users' open versions + a
    * pass over the stored dimension for the semi/anti splits). The
    * windows partition by user_id (state bounded per user), the merge
    * shuffles on user_id once, and nothing is corpus-wide. At production
    * scale the snapshot write below is a transactional-format MERGE
    * (only touched files rewrite); the plain-parquet snapshot here is
    * the same plan with a full-copy commit, exactly like
    * [[idempotentBatchSink]]'s directory contract. */
  def scd2ApplyBatch(dim: DataFrame, events: DataFrame): DataFrame = {
    val (untouched, closed, rebuilt) = scd2MergeParts(dim, events)
    untouched.unionByName(closed).unionByName(rebuilt)
  }

  /** The DELTA a micro-batch produces against an SCD2 dimension: ONLY
    * the rebuilt versions of affected users (the previously-open version
    * re-emitted closed-or-extended, plus any new versions). Untouched
    * users and already-closed versions are absent — this is the
    * O(batch), not O(dimension), write the merge-on-read sink commits
    * per batch. Shadowing a base row at (user_id, ver) grain is the
    * reader's job ([[scd2MergedState]]). */
  def scd2Delta(dim: DataFrame, events: DataFrame): DataFrame =
    scd2MergeParts(dim, events)._3

  /** Shared core of [[scd2ApplyBatch]]/[[scd2Delta]]: split the
    * dimension into (untouched users, affected users' closed versions,
    * affected users' rebuilt versions), all in [[scd2Schema]] column
    * order.
    *
    * Mechanics, all set-based: affected users' open versions become
    * carry-in pseudo-rows (side 0 — they sort before same-timestamp
    * events) unioned with the batch; one per-user ordered window
    * recomputes state-change markers and local version numbers exactly
    * like q154; a (user, local-version)-grain aggregation rebuilds the
    * open-and-newer versions. */
  private def scd2MergeParts(dim: DataFrame,
      events: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val users = events.select(col("user_id")).distinct()
    // accept both a bookkeeping-bearing snapshot and a bare q154 frame
    // (first adoption of an existing batch-built dimension): without
    // bookkeeping the open version's start is the best known watermark
    // LOWER BOUND, and the event_id half of the pair is unknowable from
    // a q154 frame — Long.MinValue keeps equal-ts adoption permissive
    // (documented contract: the ordered-arrival guard only hardens to
    // the full (ts_ns, event_id) pair once this merge has applied a
    // batch and recorded the true watermark pair)
    val dimW0 =
      if (dim.columns.contains("wm_ns")) dim
      else dim.withColumn("wm_ns", when(col("is_current") === 1,
        col("valid_from_ns")).otherwise(lit(null).cast("long")))
    val dimW =
      if (dimW0.columns.contains("wm_eid")) dimW0
      else dimW0.withColumn("wm_eid", when(col("is_current") === 1,
        lit(Long.MinValue)).otherwise(lit(null).cast("long")))
    val untouched = dimW.join(users, Seq("user_id"), "left_anti")
    val affected = dimW.join(users, Seq("user_id"), "left_semi")
    val closed = affected.filter(col("is_current") === 0)
    val open = affected.filter(col("is_current") === 1)
    // loud ordered-arrival check on the (ts_ns, event_id) PAIR: one tiny
    // per-affected-user aggregate; struct comparison is lexicographic,
    // so an equal-ts event whose id orders at-or-before the applied
    // watermark pair is rejected too (<=: replaying the exact watermark
    // event is a duplicate, not a new arrival)
    val violations = events.groupBy(col("user_id"))
      .agg(min(struct(col("ts_ns").as("t"), col("event_id").as("e")))
        .as("min_p"))
      .join(open.select(col("user_id"),
        struct(col("wm_ns").as("t"), col("wm_eid").as("e")).as("wm_p")),
        Seq("user_id"))
      .filter(col("min_p") <= col("wm_p")).count()
    require(violations == 0,
      s"$violations users carry batch events at or before their applied " +
        "(ts_ns, event_id) watermark — the changelog must arrive " +
        "per-user ordered")
    val carry = open.select(col("user_id"),
      lit(Long.MinValue).as("event_id"),
      col("valid_from_ns").as("ts_ns"),
      col("state").as("event_type"),
      lit(0L).as("side"),
      col("ver").as("base_ver"),
      col("n_events").as("base_n"),
      // the carry row's watermark-pair candidate is the STORED pair —
      // valid_from_ns would understate it when later same-state events
      // extended the version
      struct(col("wm_ns").as("t"), col("wm_eid").as("e")).as("wmp"))
    val ev = events.select(col("user_id"), col("event_id"), col("ts_ns"),
      col("event_type"), lit(1L).as("side"),
      lit(null).cast("long").as("base_ver"),
      lit(null).cast("long").as("base_n"),
      struct(col("ts_ns").as("t"), col("event_id").as("e")).as("wmp"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("side"), col("event_id"))
    val marked = carry.unionByName(ev)
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("ver_local", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val groups = marked
      .groupBy(col("user_id"), col("ver_local"))
      // first() without ordering is safe here: every row of a
      // (user, ver_local) group carries the SAME event_type — a type
      // change is exactly what increments ver_local
      .agg(first(col("event_type")).as("state"),
        min(col("ts_ns")).as("valid_from_ns"),
        sum(col("side")).as("n_new"),
        max(lit(1L) - col("side")).as("has_carry"),
        max(col("wmp")).as("grp_wmp"),
        max(col("base_ver")).as("bv"),
        max(col("base_n")).as("bn"))
    // per-user constants ride a tiny second window (bv/bn live on the
    // carry group only; every group of the user needs bv; the new
    // watermark pair is the max over carry-stored and batch pairs)
    val wu = Window.partitionBy(col("user_id"))
    val rebuilt0 = groups
      .withColumn("bv_u", max(col("bv")).over(wu))
      .withColumn("new_wmp", max(col("grp_wmp")).over(wu))
      .select(col("user_id"),
        when(col("bv_u").isNull, col("ver_local"))
          .otherwise(col("bv_u") + col("ver_local") - 1).as("ver"),
        col("state"), col("valid_from_ns"),
        (col("n_new") + when(col("has_carry") === 1L, col("bn"))
          .otherwise(lit(0L))).as("n_events"),
        col("new_wmp"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("ver"))
    val rebuilt = rebuilt0
      .withColumn("valid_to_ns",
        coalesce(lead(col("valid_from_ns"), 1).over(wv), lit(-1L)))
      .withColumn("is_current", (col("valid_to_ns") === -1L).cast("int"))
      .withColumn("wm_ns", when(col("is_current") === 1,
        col("new_wmp.t")).otherwise(lit(null).cast("long")))
      .withColumn("wm_eid", when(col("is_current") === 1,
        col("new_wmp.e")).otherwise(lit(null).cast("long")))
      .select(scd2Schema.fieldNames.map(col).toSeq: _*)
    (untouched.select(scd2Schema.fieldNames.map(col).toSeq: _*),
      closed.select(scd2Schema.fieldNames.map(col).toSeq: _*),
      rebuilt)
  }

  /** Committed commits of one kind (`base_<k>` or `delta_<k>`) with id
    * strictly BEFORE `beforeId`, ascending. A commit is a directory
    * carrying the `_SUCCESS` marker; torn writes (no marker) are
    * invisible — exactly the [[idempotentBatchSink]] recovery unit,
    * applied per commit. */
  private def scd2Commits(fs: org.apache.hadoop.fs.FileSystem,
      dimDir: String, prefix: String,
      beforeId: Long): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(dimDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .flatMap { st =>
        st.getPath.getName.stripPrefix(prefix).toLongOption
          .filter(k => k < beforeId && fs.exists(
            new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
          .map(k => k -> st.getPath)
      }
      .sortBy(_._1)
  }

  /** Merge-on-read SCD2 state strictly BEFORE `beforeId` (bookkeeping
    * columns included): latest committed base ∪ the committed deltas
    * after it, latest-writer-wins at (user_id, ver) grain — q79's
    * merge-on-read compaction shape, applied to the dimension log.
    * SCD2 is append/extend-only, so shadowing IS the whole merge:
    * no tombstones exist (versions are never deleted, only closed —
    * and a closed version is a later WRITE of the same (user, ver)
    * key, not a delete).
    *
    * Scale design: a batch's delta is O(affected users' open-and-newer
    * versions); compaction bounds the delta count at
    * `compactEvery`, so the reader unions ONE base + ≤compactEvery
    * small deltas and resolves winners with one (user_id, ver) hash
    * aggregation — the classic MoR read amplification bound. */
  private def scd2MergedState(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dimDir: String,
      beforeId: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = scd2Commits(fs, dimDir, "base_", beforeId).lastOption
    val baseId = base.map(_._1).getOrElse(Long.MinValue)
    val deltas = scd2Commits(fs, dimDir, "delta_", beforeId)
      .filter(_._1 > baseId)
    val frames =
      base.map { case (k, p) =>
        spark.read.parquet(p.toString).withColumn("commit_id", lit(k))
      }.toSeq ++
      deltas.map { case (k, p) =>
        spark.read.parquet(p.toString).withColumn("commit_id", lit(k))
      }
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], scd2Schema)
    else {
      val w = Window.partitionBy(col("user_id"), col("ver"))
        .orderBy(col("commit_id").desc)
      frames.reduce(_.unionByName(_))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn", "commit_id")
    }
  }

  /** Read the current stream-maintained dimension — the q154 schema
    * (bookkeeping columns dropped). */
  def scd2Snapshot(spark: SparkSession, dimDir: String): DataFrame =
    scd2CurrentState(spark, dimDir).drop(scd2Bookkeeping: _*)

  /** Read the current stream-maintained dimension WITH its bookkeeping
    * columns — the frame a further [[scd2ApplyBatch]] can consume
    * directly (the ordered-arrival guard needs the watermark pair). */
  def scd2CurrentState(spark: SparkSession, dimDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dimDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    scd2MergedState(spark, fs, dimDir, Long.MaxValue)
  }

  /** `foreachBatch` SCD2 maintenance sink, merge-on-read: apply the
    * micro-batch changelog to the merged state before this id and
    * commit ONLY the rebuilt rows ([[scd2Delta]]) under
    * `delta_<batchId>` — O(batch), not O(dimension), I/O per batch.
    * Every `compactEvery` committed deltas, the merged state is
    * rewritten as `base_<batchId>` and older commits are removed,
    * bounding read amplification.
    *
    * Exactly-once by the commit recovery unit: a REPLAYED id whose
    * delta already carries `_SUCCESS` is a no-op; a torn write has no
    * marker, is invisible to [[scd2MergedState]], and the replay
    * overwrites it whole — and because the input is always the merged
    * state with id < batchId, a replay reads the SAME input the
    * original attempt did. Compaction is likewise torn-write safe: a
    * base without its marker is invisible, and the cleanup of
    * shadowed commits only runs after the base's marker exists (a
    * crash between the two just re-runs cleanup on the next batch). */
  def scd2MaintainSink(dimDir: String, compactEvery: Int = 8)(
      batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dimDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // layout migration: a dimension written by the pre-MoR sink holds
    // whole snapshots under snap_<k>. Silently ignoring them would make
    // the dimension read as EMPTY and fork all prior history — the
    // exact failure the recovery guards exist to prevent — so the
    // latest committed snapshot is adopted as base_<k> (bookkeeping
    // upgraded: the old schema lacks wm_eid; open rows get the
    // permissive Long.MinValue lower bound, same as bare-q154 adoption)
    // and the snap_ directories removed, ONCE, before normal operation.
    scd2MigrateLegacySnapshots(spark, fs, dimDir, id)
    // recovery-unit validation (the selfIndexingGate rule, applied to
    // commits): a COMMITTED base or delta strictly AHEAD of this batch
    // id means the stream's checkpoint was reset or points elsewhere —
    // proceeding would write an early commit while readers keep seeing
    // the stale later ones. Fail loudly instead.
    Seq("base_", "delta_").foreach { prefix =>
      scd2Commits(fs, dimDir, prefix, Long.MaxValue).foreach { case (k, _) =>
        require(k <= id,
          s"dimension at $dimDir already carries committed $prefix$k " +
            s"ahead of batch $id — checkpoint reset? refusing to " +
            "fork history; clear the dimension or restore the checkpoint")
      }
    }
    val target = new org.apache.hadoop.fs.Path(s"$dimDir/delta_$id")
    if (!fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))) {
      val dim = scd2MergedState(spark, fs, dimDir, id)
      val delta = scd2Delta(dim,
        batch.select(col("user_id"), col("event_id"), col("ts_ns"),
          col("event_type")))
      delta.write.mode("overwrite").parquet(target.toString)
    }
    // compaction check runs on every call — including replay no-ops —
    // so a crash mid-compaction heals on the next visit
    val bases = scd2Commits(fs, dimDir, "base_", Long.MaxValue)
    val baseId = bases.lastOption.map(_._1).getOrElse(Long.MinValue)
    val deltasSinceBase =
      scd2Commits(fs, dimDir, "delta_", Long.MaxValue).filter(_._1 > baseId)
    if (deltasSinceBase.size >= compactEvery) {
      val baseTarget = new org.apache.hadoop.fs.Path(s"$dimDir/base_$id")
      if (!fs.exists(new org.apache.hadoop.fs.Path(baseTarget, "_SUCCESS")))
        scd2MergedState(spark, fs, dimDir, Long.MaxValue)
          .write.mode("overwrite").parquet(baseTarget.toString)
      // cleanup with ONE generation of vacuum grace: delete only
      // commits older than the PREVIOUS base. A concurrent
      // scd2Snapshot reader that listed the store just before this
      // compaction resolved at most {base_prev, deltas after it} —
      // those files survive this pass, so the reader never hits
      // FileNotFound mid-scan (the classic MoR vacuum race); the
      // previous generation is reclaimed by the NEXT compaction,
      // bounding storage at two generations.
      val graceBefore = baseId // the base shadowed by the one just written
      if (graceBefore != Long.MinValue)
        Seq("base_", "delta_").foreach { prefix =>
          scd2Commits(fs, dimDir, prefix, graceBefore).foreach { case (_, p) =>
            fs.delete(p, true)
          }
        }
    }
  }

  /** One-time adoption of a pre-MoR dimension directory: promote the
    * latest committed `snap_<k>` to `base_<k>` (adding the `wm_eid`
    * bookkeeping column the old schema lacked) and remove the legacy
    * snapshots. Refuses a legacy snapshot AHEAD of the current batch id
    * for the same reason the commit guard does. No-op when no `snap_`
    * directories exist. */
  private def scd2MigrateLegacySnapshots(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dimDir: String,
      id: Long): Unit = {
    val snaps = scd2Commits(fs, dimDir, "snap_", Long.MaxValue)
    if (snaps.nonEmpty) {
      val (k, p) = snaps.last
      require(k <= id,
        s"legacy snapshot snap_$k at $dimDir is ahead of batch $id — " +
          "checkpoint reset? refusing to fork history")
      val legacy = spark.read.parquet(p.toString)
      val upgraded =
        if (legacy.columns.contains("wm_eid")) legacy
        else legacy.withColumn("wm_eid", when(col("is_current") === 1,
          lit(Long.MinValue)).otherwise(lit(null).cast("long")))
      upgraded.write.mode("overwrite").parquet(s"$dimDir/base_$k")
      // only after the base commit is durable do the legacy dirs go
      snaps.foreach { case (_, sp) => fs.delete(sp, true) }
    }
  }

  /** Wire a changelog stream into [[scd2MaintainSink]] — the streaming
    * face of q154: drain the backlog (AvailableNow), one delta commit
    * per micro-batch, exactly-once across restarts via the checkpoint +
    * commit recovery units. */
  def runScd2Maintain(stream: DataFrame, dimDir: String,
      checkpointDir: String, compactEvery: Int = 8): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        scd2MaintainSink(dimDir, compactEvery)(batch, id)
      }
      .start()

  /** Stream-stream interval join: match each left event with right events
    * of the same key that happened inside the preceding `window`. Both
    * sides carry a watermark and the join condition bounds event-time
    * distance — together that is what lets Spark EVICT join state (a
    * keyed stream-stream join without a time-range condition buffers both
    * streams forever). State per key is O(events inside the watermark
    * horizon), independent of stream length.
    *
    * The right side's key column is renamed internally so callers can
    * join two projections of the same source without ambiguity. */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
      leftTs: String = "l_ts_ns", rightTs: String = "r_ts_ns",
      window: String = "30 minutes", watermark: String = "2 hours"): DataFrame = {
    val l = normalizeNs(left, leftTs)
      .withColumn("l_evt", timestamp_micros(expr(s"$leftTs div 1000")))
      .withWatermark("l_evt", watermark)
    val r = normalizeNs(right, rightTs).withColumnRenamed(key, s"${key}_r")
      .withColumn("r_evt", timestamp_micros(expr(s"$rightTs div 1000")))
      .withWatermark("r_evt", watermark)
    l.join(r, col(key) === col(s"${key}_r") &&
        col("r_evt") >= col("l_evt") - expr(s"INTERVAL $window") &&
        col("r_evt") <= col("l_evt"))
      .drop(s"${key}_r")
  }

  /** Event-time session windows via the built-in `session_window`:
    * dynamic-gap windows merge as events arrive, watermark closes (and emits) sessions whose
    * gap has provably expired, and state is O(open sessions). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    sessionWindowsDynamic(events, lit(gap), watermark)

  /** Dynamic-gap session windows: the gap is an EXPRESSION evaluated per
    * event (e.g. `when(col("event_type") === "purchase", "90 minutes")
    * .otherwise("30 minutes")`) — the session definition real funnels
    * need, where a checkout keeps a session alive longer than a
    * pageview. Same state story as the fixed-gap form: windows merge as
    * events arrive, the watermark closes (and emits) sessions whose
    * maximum possible extension has provably expired, state is O(open
    * sessions). */
  def sessionWindowsDynamic(events: DataFrame, gapExpr: Column,
      watermark: String = "2 hours"): DataFrame =
    normalizeNs(events, "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gapExpr))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n_events"))

  /** Streaming count-min sketch — the streaming face of the batch heavy-
    * hitter pass (q102): every token hashes into depth×width cells and the
    * grouped counts ARE the sketch, so aggregation state is bounded by
    * depth·width CELLS regardless of stream length or key cardinality —
    * the property that makes frequency tracking viable on an unbounded
    * stream (per-token state would grow with the vocabulary forever).
    * Works on a static frame too (the parity test runs both); on a
    * stream, run with complete/update mode — cells only ever increase.
    *
    * Unlike the batch q102 (which pre-aggregates per-token counts before
    * fanning out ×depth), a streaming query gets ONE aggregation, so the
    * fan-out happens on the raw token stream — the constant-factor price
    * of the single-agg restriction, paid map-side. */
  def countMinCells(tokens: DataFrame, tokenCol: String = "tok",
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val rows = (0 until depth).map { j =>
      struct(lit(j).as("j"),
        (graft.functions.TextFns.h32(concat(lit(s"cm${j}_"), col(tokenCol)))
          % width).as("b"))
    }
    tokens
      .select(explode(array(rows: _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("cell"))
  }

  /** Streaming windowed approximate-distinct via the [[graft.functions.Hll]]
    * sketch — `count(distinct user)` per event-time window on a stream,
    * with 64 bytes of aggregation state per open window instead of a
    * per-user state map (an exact streaming distinct keeps every key it
    * has seen inside the watermark horizon; the sketch is the version
    * whose state does not grow with cardinality). Watermark bounds how
    * long windows stay open; the register buffers are mergeable by max,
    * so partial aggregation works across micro-batches exactly as it
    * does map-side in batch. Takes a `ts_ns` event-time column in either
    * fixture encoding. */
  def approxDistinctUsers(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    normalizeNs(events, "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withWatermark("ts", watermark)
      .withColumn("h",
        graft.functions.TextFns.h32(concat(lit("u_"), col("user_id"))))
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(graft.functions.Hll.approxDistinct(col("h")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("approx_users"),
        col("n_events"))

  /** Graceful drain: finish the in-flight work, then stop — the SIGTERM
    * contract (launcher.py:151-157). `stop()` alone would INTERRUPT the
    * stream-execution thread and cancel the active micro-batch's jobs —
    * an abort, not a drain, replaying the batch (and re-firing its
    * side-effecting callbacks) on restart. So: first block until the
    * source reports no pending data (`processAllAvailable` returns only
    * at a quiescent point between batches — bounded by a watchdog, since
    * a continuous source may never quiesce), THEN stop the idle query.
    * Returns true when the query terminated within `timeoutMs`. */
  def stopGracefully(q: StreamingQuery, timeoutMs: Long = 60000): Boolean = {
    // ONE deadline across both waits: a supervisor sizes its SIGKILL
    // fuse to this budget, so drain + stop together must fit in it (two
    // full budgets back-to-back would double the promised wall time and
    // get the process killed mid-stop — a non-graceful abort)
    val deadlineNs = System.nanoTime() + timeoutMs * 1000000L
    val drained = new java.util.concurrent.CountDownLatch(1)
    val drainer = new Thread(() => {
      try q.processAllAvailable() catch { case NonFatal(_) => () }
      finally drained.countDown()
    })
    drainer.setDaemon(true)
    drainer.start()
    // watchdog: a source that keeps producing (or a dead query) must not
    // hang the shutdown path — after the budget, stop() interrupts
    drained.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    q.stop()
    val leftMs = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L)
    q.awaitTermination(leftMs)
  }
}
