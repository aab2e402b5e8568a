package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Scaling-slope probe: times the most expensive queries at two scale
  * factors (default sf0.01 vs sf0.1 — 10× the data) and reports the
  * per-query ratio. A query whose time grows much faster than the data
  * (slope ≫ 10× on 10× data) has a hidden superlinear term — a pair
  * blowup, an unblocked join, a collapsing partition — that plan-shape
  * audits alone can miss. This turns the "would survive 100 TB" claim
  * from an argument about shapes into a measured slope.
  *
  * Interpretation note: small-SF times carry a fixed floor (planning,
  * codegen, task dispatch — tenths of a second), so healthy sublinear
  * slopes (≪ 10) are common and expected; the signal is a slope WELL
  * ABOVE the data ratio. SPARK_GRAFT_SCALE_BAR (default 15) marks the
  * "investigate" threshold in the artifact.
  *
  * Protocol matches Bench: GraftSession, per-dir shared-frame warmup, a
  * sacrificial untimed head query per dir, best-of-3 with cache-clear
  * between reps (SPARK_GRAFT_SCALE_REPS overrides — see [[timeAll]] on
  * why two reps were not enough), consumer GC breather, failures
  * recorded as -1 (never an abort). Queries default to the top SPARK_GRAFT_SCALE_N (default 20)
  * most expensive rows of the latest BENCH_HISTORY round;
  * SPARK_GRAFT_SCALE_ONLY=q83,q72 overrides (and suppresses the artifact
  * write — a partial dev run must not clobber the round's record).
  * Writes SCALE_r{N}.json, N = SPARK_GRAFT_ROUND or max BENCH_rNN.json
  * artifact + 1 (the round in progress — Bench.appendHistory's
  * convention, stable whether the probe runs before or after the
  * round's bench), and prints the same JSON line.
  */
object ScaleProbe {
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def main(args: Array[String]): Unit = {
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val sfBig = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val bar = sys.env.getOrElse("SPARK_GRAFT_SCALE_BAR", "15").toDouble
    val topN = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "20").toInt
    val names = pickQueries(topN, sfBig)
    require(names.nonEmpty, "no queries selected (history missing and no override)")
    val spark = GraftSession.prime(GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val timesSmall = timeAll(spark, sfSmall, names)
    val timesBig = timeAll(spark, sfBig, names)
    val round = Rounds.inProgress()
    // ONE slope formula for both the per-query entries and the headline:
    // a query with any failed side reports -1 ("a failure is a result")
    val slopes: Map[String, Double] = names.map { n =>
      val (ts, tb) = (timesSmall(n), timesBig(n))
      n -> (if (ts > 0 && tb >= 0) tb / ts else -1.0)
    }.toMap
    val entries = names.map { n =>
      String.format(java.util.Locale.ROOT,
        """"%s":{"t_small":%.3f,"t_big":%.3f,"slope":%.2f}""",
        n.takeWhile(_ != '_'), Double.box(timesSmall(n)),
        Double.box(timesBig(n)), Double.box(slopes(n)))
    }
    val maxSlope = slopes.values.max
    val failed = slopes.values.count(_ < 0)
    val failedField = if (failed > 0) s""","failed":$failed""" else ""
    val line = String.format(java.util.Locale.ROOT,
      """{"metric":"scale_slope","sf_small":"%s","sf_big":"%s","data_ratio":10.0,"bar":%.1f,"max_slope":%.2f%s,"queries":{%s}}""",
      sfSmall, sfBig, Double.box(bar), Double.box(maxSlope), failedField,
      entries.mkString(","))
    // a SCALE_ONLY-restricted dev run must never clobber the round's
    // official artifact with a partial line (the same guard Bench.emit
    // applies for SPARK_GRAFT_ONLY) — it prints, nothing more
    if (!sys.env.contains("SPARK_GRAFT_SCALE_ONLY"))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(f"SCALE_r$round%02d.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case _: java.io.IOException => () }
    println(line)
    spark.stop()
  }

  /** Best-of-N seconds per query at one scale dir — Bench's measurement
    * contract (warm shared frames untimed, clear cache between reps).
    * N defaults to 3 (SPARK_GRAFT_SCALE_REPS): the slope divides by
    * t_small, which sits on the fixed dispatch floor, so ONE noisy small
    * rep moves the headline by a full point (round 11 saw the same q152
    * measure 2.96× and 3.78× across two best-of-2 probe runs with zero
    * plan change); a third rep keeps the min stable run-over-run. */
  private def reps: Int =
    // tolerate a malformed env value (same never-abort-on-env-typo
    // convention as Rounds.inProgress) — a typo'd REPS must not kill the
    // whole probe artifact-less
    sys.env.get("SPARK_GRAFT_SCALE_REPS").flatMap(_.toIntOption).getOrElse(3)
  private def timeAll(spark: SparkSession, sfDir: String,
      names: Seq[String]): Map[String, Double] = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    names.headOption.foreach { name =>
      queries.SharedFrames.warmFor(name, spark, sfDir)
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case NonFatal(_) => () }
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
    names.map { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        queries.SharedFrames.warmFor(name, spark, sfDir)
        // consumer GC breather before t0, exactly as Bench.runPack: the
        // postings rebuild's allocation debt must not land as a pause
        // inside the timed run (it would deflate a t_small slope or fake
        // a >bar t_big one)
        if (queries.SharedFrames.isConsumer(name)) System.gc()
        val t0 = System.nanoTime()
        // a throwing query is a RESULT, not an abort: Bench records it as
        // -1 + errors; aborting here would ship the round with NO scale
        // artifact at all — and the mandatory new-this-round queries are
        // exactly the ones most likely to throw
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case NonFatal(e) =>
            System.err.println(s"[scale] $name failed at $sfDir: " +
              Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n'))
            false
        }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        if (ok) sec else -1.0
      }
      val ts = Seq.fill(math.max(1, reps))(once())
      // min of the SUCCESSFUL reps; -1 only when every rep failed
      val ok = ts.filter(_ >= 0)
      val best = if (ok.nonEmpty) ok.min else -1.0
      System.gc()
      name -> best
    }.toMap
  }


  /** Top-N most expensive queries of the latest BENCH_HISTORY round of
    * this probe's (cpus, sf) shape, mapped back to full names;
    * SPARK_GRAFT_SCALE_ONLY overrides. */
  private def pickQueries(topN: Int, sfBig: String): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    sys.env.get("SPARK_GRAFT_SCALE_ONLY") match {
      case Some(csv) => SparkEntry.select(csv.split(",").toSeq)
      case None =>
        // the bench rows of this probe's shape: its cores, its big sf
        val rows = History.rows(cpus.toInt, History.sfOf(sfBig))
        if (rows.isEmpty) Seq.empty
        else {
          val last = rows.map(_.round).max
          val byId = all.groupBy(_.takeWhile(_ != '_')).view.mapValues(_.head)
          val top = rows.filter(r => r.round == last && r.sec > 0)
            .sortBy(-_.sec).map(_.query).flatMap(byId.get).distinct.take(topN)
          // ALWAYS probe two families on top of the expensive ones:
          // (a) the shared-postings consumers — their timed cost is
          // warm-postings query cost, exactly where a hidden superlinear
          // term (bucket-join blowup, candidate explosion) would hide
          // behind a cheap-looking pack number; (b) queries NEW THIS
          // ROUND — they have no history to flag a regression against
          // yet. Newness is judged against the last COMPLETED round, not
          // the max history round: when the round's own bench runs
          // before the probe (the usual order), the in-progress round's
          // rows already list the new queries and the max-round compare
          // would silently skip exactly the queries that most need a
          // first slope (round 13's q162 got missed this way).
          val inProgress = Rounds.inProgress()
          val baseRound = rows.map(_.round).filter(_ < inProgress)
            .foldLeft(0)(math.max) match {
            case 0 => last // no completed round on file: fall back
            case r => r
          }
          val lastIds = rows.filter(_.round == baseRound).map(_.query).toSet
          val mandatory = all.filter(n => queries.SharedFrames.isConsumer(n) ||
            !lastIds.contains(n.takeWhile(_ != '_')))
          (top ++ mandatory).distinct
        }
    }
  }
}
