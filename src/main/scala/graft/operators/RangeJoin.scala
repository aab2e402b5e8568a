package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-interval range join: attach to each left row every right
  * interval containing its point (`start <= point < end`).
  *
  * Spark's native plan for a pure range predicate is a nested-loop join —
  * fine when the interval side broadcasts, which is the only shape the
  * queries use (q48's campaign windows are dimension-sized).
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
}
