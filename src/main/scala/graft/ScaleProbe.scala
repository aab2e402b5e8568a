package graft

import org.apache.spark.sql.SparkSession

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
  * Protocol is Bench's ([[Measure]]): one session, a warm-up per dir,
  * best-of-3 per query (SPARK_GRAFT_SCALE_REPS overrides — see [[reps]]
  * on why two reps were not enough), failures recorded as -1 (never an
  * abort). Queries default to the top SPARK_GRAFT_SCALE_N (default 20)
  * most expensive rows of the latest BENCH_HISTORY round;
  * SPARK_GRAFT_ONLY=q83,q72 overrides (and, as for Bench, suppresses the
  * artifact write). Writes SCALE_r{N}.json, N = SPARK_GRAFT_ROUND or max
  * BENCH_rNN.json artifact + 1 (the round in progress — Bench.appendHistory's
  * convention, stable whether the probe runs before or after the
  * round's bench), and prints the same JSON line.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfSmall = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val sfBig = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val bar = sys.env.getOrElse("SPARK_GRAFT_SCALE_BAR", "15").toDouble
    val topN = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "20").toInt
    val names = if (Measure.only.isDefined) Measure.selected else pickQueries(topN, sfBig)
    require(names.nonEmpty, "no queries selected (history missing and no override)")
    val spark = Measure.session()
    val timesSmall = timeAll(spark, sfSmall, names)
    val timesBig = timeAll(spark, sfBig, names)
    // ONE slope formula for both the per-query entries and the headline:
    // a query with any failed side reports -1 ("a failure is a result")
    val slopes: Map[String, Double] = names.map { n =>
      val (ts, tb) = (timesSmall(n), timesBig(n))
      n -> (if (ts > 0 && tb >= 0) tb / ts else -1.0)
    }.toMap
    val entries = names.map { n =>
      s""""${n.takeWhile(_ != '_')}":{"t_small":${Measure.fmt(timesSmall(n), 3)},""" +
        s""""t_big":${Measure.fmt(timesBig(n), 3)},"slope":${Measure.fmt(slopes(n))}}"""
    }
    val failed = slopes.values.count(_ < 0)
    val failedField = if (failed > 0) s""","failed":$failed""" else ""
    val line = s"""{"metric":"scale_slope","sf_small":"$sfSmall","sf_big":"$sfBig",""" +
      s""""data_ratio":10.0,"bar":${Measure.fmt(bar, 1)},""" +
      s""""max_slope":${Measure.fmt(slopes.values.max)}$failedField,""" +
      s""""queries":{${entries.mkString(",")}}}"""
    Measure.record(f"SCALE_r${Rounds.inProgress()}%02d.json", line)
    println(line)
    spark.stop()
  }

  /** Reps per query, default 3: the slope divides by t_small, which sits
    * on the fixed dispatch floor, so ONE noisy small rep moves the
    * headline by a full point (round 11 saw the same q152 measure 2.96×
    * and 3.78× across two best-of-2 probe runs with zero plan change); a
    * third rep keeps the min stable run-over-run. A malformed value falls
    * back to the default (as in Rounds.inProgress): an env typo must not
    * kill the probe artifact-less. */
  private def reps: Int =
    sys.env.get("SPARK_GRAFT_SCALE_REPS").flatMap(_.toIntOption).getOrElse(3)

  /** [[Measure.best]] seconds per query at one scale dir, -1 for a
    * failure. */
  private def timeAll(spark: SparkSession, sfDir: String,
      names: Seq[String]): Map[String, Double] = {
    Measure.warmUp(spark, sfDir, names)
    names.map { name =>
      name -> Measure.best(spark, name, sfDir, reps).fold({ e =>
        System.err.println(s"[scale] $name failed at $sfDir: $e")
        -1.0
      }, identity)
    }.toMap
  }

  /** Top-N most expensive queries of the latest BENCH_HISTORY round of
    * this probe's (cpus, sf) shape, mapped back to full names. */
  private def pickQueries(topN: Int, sfBig: String): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    // the bench rows of this probe's shape: its cores, its big sf
    val (cpus, sf) = (Measure.cpus.toInt, History.sfOf(sfBig))
    val last = History.latest(cpus, sf)
    val byId = all.groupBy(_.takeWhile(_ != '_')).view.mapValues(_.head)
    val top = last.filter(_.sec > 0).sortBy(-_.sec).map(_.query).flatMap(byId.get)
      .distinct.take(topN)
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
    val completed = History.latest(cpus, sf, before = Rounds.inProgress())
    val lastIds = (if (completed.nonEmpty) completed else last).map(_.query).toSet
    val mandatory = all.filter(n => queries.SharedFrames.isConsumer(n) ||
      !lastIds.contains(n.takeWhile(_ != '_')))
    // no history of this shape: nothing to rank, and every query would
    // count as new
    if (last.isEmpty) Seq.empty else (top ++ mandatory).distinct
  }
}
