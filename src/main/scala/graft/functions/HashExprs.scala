package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the engine's cross-engine hash (see
  * [[TextFns.h32]]): unsigned 32-bit value of the first 4 md5 bytes.
  *
  * Numerically identical to the declarative chain
  * `conv(substring(md5(x), 1, 8), 16, 10).cast(long)` — the first 8 hex
  * chars ARE the first 4 digest bytes big-endian — but computed without
  * materializing the 32-char hex string, the substring copy, or the
  * base-16 re-parse. h32 sits in the innermost loop of every dedup /
  * MinHash / fingerprint query (one call per shingle — tens of billions
  * of calls at 100 TB), which makes those three avoided allocations the
  * single hottest constant factor in the engine.
  */
object HashExprs {
  private val md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Row-level kernel shared by interpreted eval and generated code. */
  def h32(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "h32_md5(s) takes 1 argument")
    H32Md5(exprs.head)
  }
}

/** `h32_md5(string) -> bigint`; see [[HashExprs]]. */
case class H32Md5(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case StringType => TypeCheckSuccess
      case other => TypeCheckFailure(s"h32_md5 expects string, got $other")
    }
  }

  override protected def nullSafeEval(s: Any): Any =
    HashExprs.h32(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.HashExprs.h32($s)")

  override protected def withNewChildInternal(newChild: Expression): H32Md5 =
    copy(child = newChild)

  override def prettyName: String = "h32_md5"
}
