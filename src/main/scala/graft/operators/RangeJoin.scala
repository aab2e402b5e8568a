package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join: attach to each left row every right
  * interval containing its point (`start <= point < end`).
  *
  * Spark's native plan for a pure range predicate is a nested-loop join —
  * fine when one side broadcasts, quadratic disaster when both sides are
  * big. `bucketed` makes the big×big case an equi-join: intervals are
  * exploded into the fixed-width buckets they overlap, points join on
  * their bucket id, and the exact range predicate filters the candidates.
  * Cost is |points| + Σ interval-width/bucket — linear, shuffle on the
  * bucket key, skew handled by AQE (or [[Salting]] for a pathological
  * bucket).
  */
object RangeJoin {

  /** Broadcast path: correct choice when `intervals` is dimension-sized.
    * The range predicate rides the broadcast nested-loop join. */
  def broadcastJoin(points: DataFrame, pointCol: String,
                    intervals: DataFrame, startCol: String, endCol: String,
                    joinType: String = "inner"): DataFrame =
    points.join(broadcast(intervals),
      points(pointCol) >= intervals(startCol) &&
        points(pointCol) < intervals(endCol),
      joinType)

  /** Bucketed path for big×big: both sides keyed by `floor(value /
    * bucketWidth)`; intervals replicate into each bucket they span. */
  def bucketed(points: DataFrame, pointCol: String,
               intervals: DataFrame, startCol: String, endCol: String,
               bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth=$bucketWidth must be positive")
    val b = "_graft_bucket"
    val pB = points.withColumn(b, floor(col(pointCol) / bucketWidth))
    val iB = intervals.withColumn(b,
      explode(sequence(
        floor(col(startCol) / bucketWidth),
        // end is exclusive: an interval ending exactly on a bucket edge
        // does not reach into that bucket
        floor((col(endCol) - 1) / bucketWidth))))
    pB.join(iB, Seq(b))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop(b)
  }
}
