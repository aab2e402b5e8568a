package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation by key salting — the manual fallback for the hot-key
  * patterns AQE's skew-join splitting doesn't reach (e.g. a single key
  * holding >50% of a 100 TB fact table, or skewed high-cardinality
  * aggregations feeding a downstream join).
  *
  * The salted aggregate is result-identical to its unsalted form; only
  * the partitioning changes: a hot key's rows spread over `buckets` partitions
  * instead of hammering one straggler task.
  */
object Salting {

  /** Measured salt fan-out for a grouped aggregation on `table`'s
    * `groupKeys`, fed by [[graft.plans.StatsStore]]'s ANALYZE profile —
    * the q103 loop closed: the skew audit's "suggested fan-out" consumed
    * by the operator instead of reported and ignored.
    *
    * Rule: with NDV(keys) measured groups and P cores, a plain hash
    * aggregation runs at most NDV-way parallel in its final stage —
    * when NDV < P the measured remedy is ceil(P / NDV) salt buckets
    * (every core gets a partial group), clamped to [1, P] (salting past
    * the core count only adds merge rows). A table with no fresh stats
    * returns `fallback` — the operator stays usable before the first
    * ANALYZE, exactly like a warehouse CBO. NDV of a multi-key grouping
    * is lower-bounded by its widest column (the conservative side: a
    * too-LOW NDV estimate over-salts, which costs merge rows, never
    * correctness or a straggler). */
  def bucketsFromStats(spark: org.apache.spark.sql.SparkSession,
      dir: String, table: String, groupKeys: Seq[String],
      fallback: Int): Int = {
    val p = spark.sparkContext.defaultParallelism
    graft.plans.StatsStore.statsFor(spark, dir, table)
      .flatMap { s =>
        val ndv = groupKeys.flatMap(k => s.ndv.get(k).filter(_ > 0))
        if (ndv.isEmpty) None
        else Some((((p + ndv.max - 1) / ndv.max).toInt).max(1).min(p))
      }
      .getOrElse(fallback)
  }

  /** Deterministic per-row salt in [0, buckets): content-hashed, so reruns
    * and retries land rows in the same bucket (no rand(), which would
    * break task-retry determinism). */
  private def salt(df: DataFrame, buckets: Int): Column =
    pmod(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)), lit(buckets))

  /** Two-phase salted aggregation: partial aggregate on (keys, salt) —
    * spreading a hot group over `buckets` tasks — then merge partials on
    * the keys. Supported: count, sum, min, max, avg (avg decomposes into
    * sum+count so the merge is exact). */
  def saltedAggregate(df: DataFrame, keys: Seq[String],
                      aggs: Map[String, String], buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    val saltCol = "_graft_salt"
    val salted = df.withColumn(saltCol, salt(df, buckets))

    val partials: Seq[Column] = aggs.toSeq.flatMap {
      case (c, "count") => Seq(count(col(c)).as(s"__cnt_$c"))
      case (c, "sum")   => Seq(sum(col(c)).as(s"__sum_$c"))
      case (c, "min")   => Seq(min(col(c)).as(s"__min_$c"))
      case (c, "max")   => Seq(max(col(c)).as(s"__max_$c"))
      case (c, "avg")   => Seq(sum(col(c)).as(s"__sum_$c"), count(col(c)).as(s"__cnt_$c"))
      case (c, op)      => throw new IllegalArgumentException(s"unsupported agg $op($c)")
    }
    val finals: Seq[Column] = aggs.toSeq.map {
      case (c, "count") => sum(col(s"__cnt_$c")).as(s"count_$c")
      case (c, "sum")   => sum(col(s"__sum_$c")).as(s"sum_$c")
      case (c, "min")   => min(col(s"__min_$c")).as(s"min_$c")
      case (c, "max")   => max(col(s"__max_$c")).as(s"max_$c")
      case (c, "avg")   =>
        (sum(col(s"__sum_$c")) / sum(col(s"__cnt_$c"))).as(s"avg_$c")
      case (c, op)      => throw new IllegalArgumentException(s"unsupported agg $op($c)")
    }
    salted
      .groupBy((keys.map(col) :+ col(saltCol)): _*)
      .agg(partials.head, partials.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(finals.head, finals.tail: _*)
  }
}
