package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Backward as-of join: for each left row, attach the chosen columns of the
  * latest right row with `right.ts <= left.ts` and equal key.
  *
  * Implemented with the union + ordered-window technique rather than a
  * range cross-join: both sides are tagged, unioned, and a single
  * `last(_, ignoreNulls)` window per key carries the most recent right ROW
  * (as one struct — see the body) forward onto left rows. Cost is one
  * shuffle on the key plus a
  * per-key sort — linear in input, no pair explosion, and skew is handled
  * by AQE. This is the plan shape a 100 TB as-of join needs (point-in-time
  * feature joins etc.).
  *
  * Equal timestamps: right rows sort before left rows, so `<=` (inclusive)
  * semantics; ties among right rows are broken by `rightTieBreak` for
  * determinism.
  */
object AsOfJoin {
  def backward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ts: String,
      rightCols: Map[String, String],
      rightTieBreak: String
  ): DataFrame = joined(left, right, key, ts, rightCols, rightTieBreak,
    descending = false)

  /** Forward as-of join: for each left row, attach the chosen columns of
    * the EARLIEST right row with `right.ts >= left.ts` and equal key —
    * the "time to next event" direction (label joins: next conversion
    * after an observation, next error after a deploy). Same union +
    * ordered-window plan as [[backward]], scanning in DESCENDING
    * timestamp order; inclusive at equal timestamps, ties among right
    * rows resolved to the SMALLEST `rightTieBreak`. */
  def forward(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ts: String,
      rightCols: Map[String, String],
      rightTieBreak: String
  ): DataFrame = joined(left, right, key, ts, rightCols, rightTieBreak,
    descending = true)

  private def joined(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ts: String,
      rightCols: Map[String, String],
      rightTieBreak: String,
      descending: Boolean
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val side = "_graft_side"
    val tie = "_graft_tie"
    val pack = "_graft_pack"

    // the matched right row travels as ONE struct: carrying each output
    // column through its own last(_, ignoreNulls) window would mix
    // values from DIFFERENT right rows whenever a right column is null
    // (the per-column carry skips back to an older row for just that
    // column); a struct is non-null for every right row regardless of
    // its fields, so the whole-row contract holds. The tie-break keeps
    // its NATIVE type — a cast("long") would null out non-numeric
    // tie-breaks and silently surrender determinism.
    val rBase = right.select(
      col(key), col(ts), lit(0).as(side), col(rightTieBreak).as(tie),
      struct(rightCols.toSeq.map { case (in, out) => col(in).as(out) }: _*)
        .as(pack))
    val l2 = left.withColumn(side, lit(1))
      .withColumn(tie, lit(null).cast(rBase.schema(tie).dataType))
      .withColumn(pack, lit(null).cast(rBase.schema(pack).dataType))

    // null-pad the left-only columns so the union schemas line up
    val r2 = leftCols.filterNot(c => c == key || c == ts).foldLeft(rBase) {
      case (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    val unioned = l2.unionByName(r2.select(l2.columns.map(col).toSeq: _*))
    // backward scans ascending: the carried right row is the latest with
    // ts <= left.ts, ties to the LARGEST tiebreak (last carried wins).
    // forward scans descending: the carried right row is the earliest
    // with ts >= left.ts, and the tiebreak sorts descending so the last
    // carried (= the winner) is the SMALLEST — symmetric determinism.
    // Right rows (side 0) precede left rows at equal ts in both
    // directions, which is what makes both joins inclusive.
    val ord =
      if (descending) Seq(col(ts).desc, col(side), col(tie).desc)
      else Seq(col(ts), col(side), col(tie))
    val w = Window.partitionBy(col(key))
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = unioned
      .withColumn(pack, last(col(pack), ignoreNulls = true).over(w))
    rightCols.values.foldLeft(filled) { case (df, out) =>
      df.withColumn(out, col(pack).getField(out))
    }.filter(col(side) === 1).drop(side, tie, pack)
  }
}
