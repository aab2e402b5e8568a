package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query measurement tool: one session setup, three modes.
  *
  *   sbt "runMain graft.QTime q30_minhash_lsh [reps] [explain]"
  *
  * Times each named query with Bench's protocol ([[Measure]]: the same
  * warm-up, warm shared families, cold cache per rep), so isolated and
  * pack numbers measure the same cost, and optionally prints the
  * formatted physical plan. A failing query prints `QTIME <name> FAILED:
  * <error>`; the other names are still timed and the run exits 1.
  *
  *   sbt "runMain graft.QTime plan <out-dir> [suffix]"
  *
  * Writes `explain("formatted")` for every declared query — or the
  * SPARK_GRAFT_ONLY subset — captured from the exact Dataset the bench
  * times (shared frames warmed first, so consumer plans read the warm
  * layout, not a rebuild).
  *
  *   sbt "runMain graft.QTime final <out-dir> [suffix] q96_sorted_neighborhood"
  *
  * Executes each named query and writes the AQE FINAL executed plan — the
  * plan the bench actually pays for, after runtime re-optimization
  * (SMJ→SHJ conversion, coalescing, skew splits) — which
  * `explain("formatted")` cannot show (it prints `isFinalPlan=false`
  * before execution).
  *
  * Both plan modes write `<out-dir>/<qNN><suffix>.txt` (suffix `_before`
  * and `_final` by default), never touch bench artifacts, and exit
  * nonzero if any query failed, like timing mode. The output directory
  * is required: without it they print a usage line and exit 2.
  * SPARK_GRAFT_ANALYZE=1 (timing and final modes) refreshes the persisted
  * ANALYZE profile before priming, so the plan is the stats-hydrated one
  * Bench's children run (the bench parent writes graft_table_stats, every
  * child hydrates it). Without this an isolated number can measure a
  * DIFFERENT plan than the pack's. */
object QTime {
  def main(args: Array[String]): Unit = {
    if (Set("plan", "final").exists(args.headOption.contains) && args.length < 2) {
      System.err.println(s"usage: QTime ${args.head} <out-dir> [suffix] [query ...]")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val analyze = !args.headOption.contains("plan") &&
      sys.env.get("SPARK_GRAFT_ANALYZE").contains("1")
    val spark = Measure.session(Option.when(analyze)(sfDir))
    val failed = args.toSeq match {
      case "plan" +: rest =>
        writePlans(spark, sfDir, rest.head,
          rest.lift(1).getOrElse("_before"), Measure.selected, "plandump")(
          _.queryExecution.explainString(ExplainMode.fromString("formatted")))
      case "final" +: rest =>
        writePlans(spark, sfDir, rest.head,
          rest.lift(1).getOrElse("_final"), rest.drop(2), "finalplan") { df =>
          // run df's OWN plan (count() would plan and run a new one, leaving
          // this one at isFinalPlan=false): AdaptiveSparkPlanExec then
          // renders its final physical plan including AQEShuffleRead nodes
          df.queryExecution.toRdd.foreach(_ => ())
          val plan = df.queryExecution.executedPlan.toString
          Measure.release(spark)
          plan
        }
      case _ => time(spark, sfDir, args)
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Prints one QTIME line per named query; returns the number that
    * failed. */
  private def time(spark: SparkSession, sfDir: String, args: Array[String]): Int = {
    val names = args.filter(a => !a.forall(_.isDigit) && a != "explain").toSeq
    val reps = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(2)
    Measure.warmUp(spark, sfDir, names)
    names.count { name =>
      // a plan that fails to build fails the timing below
      if (args.contains("explain"))
        try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        catch { case NonFatal(_) => () }
      Measure.best(spark, name, sfDir, reps) match {
        case Right(sec) => println(f"QTIME $name min=$sec%.3f"); false
        case Left(e) => println(s"QTIME $name FAILED: $e"); true
      }
    }
  }

  /** Render each named query's plan into `<outDir>/<qNN><suffix>.txt`;
    * returns the number of queries that failed. */
  private def writePlans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String], tag: String)(
      render: DataFrame => String): Int = {
    Files.createDirectories(Paths.get(outDir))
    names.count { name =>
      // NonFatal only: an OOM/linkage error must propagate, and any
      // per-query failure makes the run exit nonzero — a fully failed
      // dump must not look successful to a calling script
      try {
        queries.SharedFrames.warmFor(name, spark, sfDir)
        val plan = render(SparkEntry.queries(name)(spark, sfDir))
        Files.write(Paths.get(outDir, s"${name.takeWhile(_ != '_')}$suffix.txt"),
          plan.getBytes("UTF-8"))
        false
      } catch { case NonFatal(e) =>
        System.err.println(s"[$tag] $name FAILED: ${e.getMessage}")
        true
      }
    }
  }
}
