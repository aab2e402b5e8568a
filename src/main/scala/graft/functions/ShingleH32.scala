package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel fusing `tokens → shingles → h32` into one pass:
  * `shingle_h32(text, n) -> array<bigint>` hashes every n-token window of
  * a space-separated text, numerically identical to
  * `transform(shingles(tokens(text), n), h32)` (split on single 0x20,
  * empties dropped, windows joined with one 0x20 — the md5 input bytes are
  * byte-for-byte the same).
  *
  * Why it exists: the declarative chain runs as interpreted higher-order
  * functions (`ArrayTransform`/`ArrayFilter` are CodegenFallback) and
  * materializes every token string, every sliced window array and every
  * joined shingle string before hashing — one Java object per token per
  * window. This kernel walks the text's UTF-8 bytes once, records token
  * spans as two int arrays, and streams each window's bytes straight into
  * the md5 digest: zero intermediate strings. The shingle expansion feeds
  * every inverted-index join in the dedup pack (q29/q30/q56/q71/q83/q88)
  * — the hottest per-row loop in the engine after [[HashExprs.h32]]
  * itself.
  */
object ShingleH32 {
  private val md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  private val EMPTY = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  /** Row-level kernel shared by interpreted eval and generated code. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    if (n <= 0) return EMPTY
    val bytes = text.getBytes
    val len = bytes.length
    val SP: Byte = 0x20
    // pass 1: count tokens (split on single 0x20, empties dropped)
    var count = 0
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == SP) i += 1
      if (i < len) {
        count += 1
        while (i < len && bytes(i) != SP) i += 1
      }
    }
    if (count < n) return EMPTY
    // pass 2: record token spans
    val starts = new Array[Int](count)
    val ends = new Array[Int](count)
    var t = 0
    i = 0
    while (i < len) {
      while (i < len && bytes(i) == SP) i += 1
      if (i < len) {
        starts(t) = i
        while (i < len && bytes(i) != SP) i += 1
        ends(t) = i
        t += 1
      }
    }
    // pass 3: digest each window's bytes directly (token bytes joined by
    // a single 0x20 — identical md5 input to array_join(slice(...), " "))
    val out = new Array[Long](count - n + 1)
    val d = md.get()
    var s = 0
    while (s <= count - n) {
      d.reset()
      var j = s
      while (j < s + n) {
        if (j > s) d.update(SP)
        d.update(bytes, starts(j), ends(j) - starts(j))
        j += 1
      }
      val dig = d.digest()
      out(s) = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "shingle_h32(text, n) takes 2 arguments")
    ShingleH32Expr(exprs.head, exprs(1))
  }
}

/** `shingle_h32(string, int) -> array<bigint>`; see [[ShingleH32]]. */
case class ShingleH32Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"shingle_h32 expects (string, int), got $other")
    }
  }

  override protected def nullSafeEval(text: Any, n: Any): Any =
    ShingleH32.shingles(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, n) => s"graft.functions.ShingleH32.shingles($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleH32Expr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "shingle_h32"
}
