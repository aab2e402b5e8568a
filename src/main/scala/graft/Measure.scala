package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.queries.SharedFrames

/** The one measurement protocol of [[Bench]], [[QTime]], [[ScaleProbe]]
  * and [[Verify]], so pack, isolated and slope numbers pay the same
  * costs:
  *
  *   - [[session]]: `local[SPARK_GRAFT_CPUS]` (default 32, the bench
  *     shape) with [[GraftSession]]'s configuration, primed up front
  *     because the family warms plan postings queries before any
  *     [[SparkEntry.queries]] wrapper would prime it;
  *   - [[warmUp]]: one scan to load the parquet footers, codegen and
  *     shuffle machinery, then an untimed sacrificial run of the first
  *     query, which otherwise absorbs the JIT/codegen warm-up every
  *     later query gets for free (q129 as a chunk head timed 2.9 s
  *     against 0.7 s warm);
  *   - [[best]]: the timed loop and its failure policy;
  *   - [[release]]: drop every cached frame after a run.
  *
  * SPARK_GRAFT_ONLY (`q30,q72`, matched by [[SparkEntry.select]]) is the
  * one query filter; a filtered run is partial and [[record]]s no
  * artifact. */
object Measure {
  /** Cores of the session. Rounds 4–6 defaulted Bench to 4, so every
    * pack number ran on 1/8th of the cores its isolated comparison got:
    * the "pack is 11× isolated" mystery was mostly this. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The SPARK_GRAFT_ONLY patterns, when set. */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  /** The queries SPARK_GRAFT_ONLY selects; every query when unset. */
  def selected: Seq[String] = SparkEntry.select(only.getOrElse(Nil))

  /** A session from the environment. `analyze` names a fixture dir
    * whose persisted ANALYZE profile is refreshed before priming, so the
    * session plans with the stats every later session hydrates;
    * best-effort, since a skipped profile only leaves the stats rule off. */
  def session(analyze: Option[String] = None): SparkSession = {
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    analyze.foreach { dir =>
      try graft.plans.StatsStore.analyze(spark, dir, graft.plans.StatsStore.ProfiledTables)
      catch { case NonFatal(e) => System.err.println(s"analyze skipped: ${err(e)}") }
    }
    GraftSession.prime(spark)
  }

  def warmUp(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    names.headOption.foreach(once(spark, _, sfDir)) // a failure re-surfaces when timed
    System.gc()
  }

  /** Best-of-`reps` seconds of `name`, or the one-line error of the first
    * rep that failed: a failure is a result, never retried or averaged
    * away. */
  def best(spark: SparkSession, name: String, sfDir: String,
      reps: Int): Either[String, Double] =
    bestOf(reps)(once(spark, name, sfDir))

  /** Runs `rep` up to `reps` times (at least once), stopping at the first
    * failure, then a GC breather so this query's allocation debt does
    * not land as a pause inside the next one's timing (q83: 1.6 s
    * isolated, 3.9 s mid-pack without it). */
  private[graft] def bestOf(reps: Int)(rep: => Either[String, Double]): Either[String, Double] = {
    val result = (2 to reps).foldLeft(rep)((acc, _) => acc.flatMap(t => rep.map(math.min(t, _))))
    System.gc()
    result
  }

  /** One timed rep. The query's shared families are warmed untimed first:
    * at scale a postings table is written once and joined many times,
    * so the number that matters is the warm-postings cost. A consumer
    * then gets a GC breather, or the warm's allocation debt lands inside
    * the timed run (r9's q29/q30 ran 2.4–3.6× isolated without it). The
    * cache is released after every rep, so each rep pays the query's
    * full cold cost. */
  private[graft] def once(spark: SparkSession, name: String,
      sfDir: String): Either[String, Double] = {
    val out = try {
      SharedFrames.warmFor(name, spark, sfDir)
      if (SharedFrames.isConsumer(name)) System.gc()
      Right(seconds(SparkEntry.queries(name)(spark, sfDir).count()))
    } catch { case NonFatal(e) => Left(err(e)) }
    release(spark)
    out
  }

  def release(spark: SparkSession): Unit = spark.sharedState.cacheManager.clearCache()

  /** Wall time of `body` in seconds. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** One-line exception summary that stays a valid JSON string. */
  def err(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(140)
    (e.getClass.getSimpleName + ": " + msg)
      .map(c => if (c == '"' || c == '\\' || c < ' ' || c > '~') '\'' else c)
  }

  /** Locale-stable render: the default-locale formatter writes comma
    * decimals on e.g. de_DE JVMs, which breaks the JSON artifacts. */
  def fmt(v: Double, decimals: Int = 2): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  /** Writes `line` to the round artifact `file`, unless the run is
    * partial: a filtered dev run (or a bench child, which is filtered to
    * its chunk) must never clobber a round's record. Best-effort;
    * returns whether the run is a full one. */
  def record(file: String, line: String): Boolean = only.isEmpty && {
    try Files.write(Paths.get(file), (line + "\n").getBytes("UTF-8"))
    catch { case _: java.io.IOException => () }
    true
  }
}
