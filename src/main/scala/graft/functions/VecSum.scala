package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Element-wise vector-fold aggregators (sum / min / max) over
  * `array<double>` rows, as ONE fixed-width buffer per group.
  *
  * This is the centroid-recompute kernel for the k-means / quantizer
  * queries. The declarative alternative — `posexplode` the vectors and
  * `groupBy(label, pos)` — multiplies the aggregation input by the
  * dimensionality (64× more rows hashed, shuffled and merged) just to
  * reassemble the array afterwards with a sort-by-position collect. At
  * 100 TB the explode is the dominant cost of every Lloyd iteration;
  * this buffer keeps the input at vector grain with map-side partials
  * and a dim-width state (a primitive array of running sums).
  *
  * Ragged AND zero-length inputs throw (embeddings are fixed-width,
  * non-empty by contract — same strictness as `dot_f64`): an empty row
  * is indistinguishable from the empty zero-buffer, so without the
  * explicit check an empty vector arriving first in a partition would
  * silently bypass the ragged-length guard (and silently deflate a
  * centroid) while the same row arriving later throws. Nulls are
  * ignored like any SQL aggregate.
  * The empty-relation buffer stays `Array.empty`, finishing to an empty
  * array — groups always have ≥1 row under `groupBy`, so consumers never
  * see it. Float order: per-element sums accumulate in row order with
  * partial-merge reordering, exactly like the built-in `sum`; consumers
  * round to fixed decimals before anything order-sensitive (the
  * repo-wide parity idiom).
  */
sealed abstract class VecFold(name: String, op: (Double, Double) => Double)
  extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {

  override def zero: Array[Double] = Array.emptyDoubleArray

  override def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = {
    if (a == null) b
    else if (a.isEmpty)
      throw new IllegalArgumentException(s"$name: zero-length input vector")
    else if (b.isEmpty) {
      // bootstrap from the first row — the identity element differs per
      // op (0 for sum, +∞/−∞ for min/max), so a copy is the one form
      // that is correct for all of them
      val buf = new Array[Double](a.length)
      var i = 0
      while (i < buf.length) { buf(i) = a(i); i += 1 }
      buf
    } else {
      if (a.length != b.length)
        throw new IllegalArgumentException(
          s"$name: length mismatch (${a.length} vs ${b.length})")
      var i = 0
      while (i < b.length) { b(i) = op(b(i), a(i)); i += 1 }
      b
    }
  }

  override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
    if (x.isEmpty) y
    else if (y.isEmpty) x
    else {
      if (x.length != y.length)
        throw new IllegalArgumentException(
          s"$name: partial length mismatch (${x.length} vs ${y.length})")
      var i = 0
      while (i < x.length) { x(i) = op(x(i), y(i)); i += 1 }
      x
    }
  }

  override def finish(b: Array[Double]): Seq[Double] = b.toSeq

  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object VecSum extends VecFold("vec_sum", _ + _)

/** Element-wise minimum — the per-dimension extent half of a scalar
  * quantizer's stats pass (q58): one dim-width buffer instead of a
  * per-component explode + groupBy(pos). */
object VecMin extends VecFold("vec_min", math.min)

/** Element-wise maximum — see [[VecMin]]. */
object VecMax extends VecFold("vec_max", math.max)
