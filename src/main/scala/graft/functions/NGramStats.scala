package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document n-gram multiplicity statistics —
  * `ngram_stats(tokens, n) -> struct<top: bigint, total: bigint,
  * uniq: bigint>` where `top` is the occurrence count of the most
  * frequent n-gram, `total` the number of n-gram positions, `uniq` the
  * number of distinct n-grams; n-gram identity is the h32 md5 hash of
  * the space-joined tokens (exactly
  * `('0x' || substr(md5(array_to_string(toks[i:i+n-1], ' ')), 1, 8))::BIGINT`
  * in the DuckDB oracle).
  *
  * Why a kernel: the declarative form — transform(shingles) →
  * array_sort → fold / array_distinct — runs entirely in Spark's
  * higher-order-function interpreter (HOFs are CodegenFallback), paying
  * per-element lambda dispatch and object churn four times over per
  * document. This is one static call: hash the n-grams into a long
  * array, sort, one run-length pass. Same numbers, ~20× less per-row
  * cost on the repetition filter (the Gopher-rules hot loop).
  */
object NGramStats {
  private val SPACE = UTF8String.fromString(" ")

  /** Row-level kernel shared by interpreted eval and generated code.
    * Returns null when any token is null: the declarative chain this
    * mirrors (`md5(array_to_string(shingle, ' '))`) nulls the hash for a
    * null token, whereas concatWs would silently skip it and hash a
    * shortened join. */
  def stats(toks: ArrayData, n: Int): InternalRow = {
    val cnt = toks.numElements() - n + 1
    if (n <= 0 || cnt <= 0)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val hs = new Array[Long](cnt)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < cnt) {
      var j = 0
      while (j < n) {
        val t = toks.getUTF8String(i + j)
        if (t == null) return null
        parts(j) = t
        j += 1
      }
      hs(i) = HashExprs.h32(UTF8String.concatWs(SPACE, parts: _*))
      i += 1
    }
    java.util.Arrays.sort(hs)
    var top = 1L; var uniq = 1L; var run = 1L
    var k = 1
    while (k < cnt) {
      if (hs(k) == hs(k - 1)) { run += 1; if (run > top) top = run }
      else { run = 1; uniq += 1 }
      k += 1
    }
    new GenericInternalRow(Array[Any](top, cnt.toLong, uniq))
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "ngram_stats(tokens, n) takes 2 arguments")
    NGramStatsExpr(exprs.head, exprs(1))
  }
}

/** `ngram_stats(array<string>, int) -> struct`; see [[NGramStats]]. */
case class NGramStatsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("top", LongType, nullable = false),
    StructField("total", LongType, nullable = false),
    StructField("uniq", LongType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"ngram_stats expects (array<string>, int), got $other")
    }
  }

  // the kernel nulls the result for arrays containing null tokens even
  // when the array column itself is non-nullable
  override def nullable: Boolean = true

  override protected def nullSafeEval(toks: Any, n: Any): Any =
    NGramStats.stats(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"""${ev.value} = graft.functions.NGramStats.stats($t, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NGramStatsExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "ngram_stats"
}
