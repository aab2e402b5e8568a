package graft.functions


import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native kernel fusing `transform(toks, h32)` + the modular polynomial
  * fold of [[TextFns.rollingFp]] into one pass:
  * `rolling_fp(array<string>, b) -> bigint` with
  * acc ← (acc·b + h32(tok)) % 1000000007, acc₀ = 0.
  *
  * Numerically identical to the declarative
  * `aggregate(transform(toks, h32), 0L, (acc, h) -> (acc*b + h) % P)` —
  * same md5 bytes, same left-to-right integer recurrence (acc < P and
  * b ≤ 131 keep acc·b + h far inside int64) — including the null
  * contract: a null element nulls the whole fingerprint.
  *
  * Why it exists: the declarative chain runs `ArrayTransform` +
  * `ArrayAggregate` as interpreted lambda nodes (CodegenFallback) and
  * allocates an intermediate hash array per row. The content-key
  * fingerprint is the first key of the whole dedup cascade (q26/q28 and
  * every consumer of the duplicate-cluster labels: q59/q60/q93/q96/
  * q100/q104/q108) — at 100 TB it runs once per document per key, which
  * makes the per-row lambda interpretation the dominant constant factor
  * of the cheapest dedup pass. */
object RollingFp {
  val P: Long = 1000000007L

  /** Row-level kernel shared by interpreted eval and generated code.
    * Returns null (boxed) if any element is null. Per-element hashing
    * delegates to [[HashExprs.h32]] — the engine's ONE cross-engine
    * hash definition; a second copy here could drift from the kernel
    * every oracle identity is checked against. */
  def fp(toks: ArrayData, b: Long): Any = {
    val n = toks.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      acc = (acc * b + HashExprs.h32(toks.getUTF8String(i))) % P
      i += 1
    }
    acc
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "rolling_fp(toks, b) takes 2 arguments")
    RollingFpExpr(exprs.head, exprs(1))
  }
}

/** `rolling_fp(array<string>, bigint) -> bigint`; see [[RollingFp]]. */
case class RollingFpExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), LongType) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"rolling_fp expects (array<string>, bigint), got $other")
    }
  }

  override protected def nullSafeEval(toks: Any, b: Any): Any =
    RollingFp.fp(toks.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, b) => {
      val r = ctx.freshName("r")
      s"""
         |Object $r = graft.functions.RollingFp.fp($toks, $b);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((Long) $r).longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RollingFpExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "rolling_fp"
}
