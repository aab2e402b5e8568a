package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for whitespace tokenization:
  * `ws_tokens(text) -> array<string>`, numerically identical to the
  * declarative `filter(split(text, " "), t -> length(t) > 0)` (split on
  * every single 0x20, empties dropped — the DuckDB equivalent is
  * `list_filter(string_split(text, ' '), t -> len(t) > 0)`).
  *
  * Why it exists: the declarative chain materializes the full split
  * array (including one empty string per space run) and then runs
  * `ArrayFilter` — an interpreted CodegenFallback lambda — per row.
  * Tokenization fronts nearly every text query in the engine (q23-q28,
  * the LM/quality/curation passes); this walks the UTF-8 bytes once and
  * emits exactly the non-empty token slices, no lambda frames and no
  * discarded empties. Token values are byte-identical (UTF8String
  * slices of the same spans). */
object WsTokens {
  private val SP: Byte = 0x20

  /** Row-level kernel shared by interpreted eval and generated code. */
  def tokens(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == SP) i += 1
      if (i < len) {
        val start = i
        while (i < len && bytes(i) != SP) i += 1
        out.add(UTF8String.fromBytes(bytes, start, i - start))
      }
    }
    new GenericArrayData(out.toArray)
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "ws_tokens(text) takes 1 argument")
    WsTokensExpr(exprs.head)
  }
}

/** `ws_tokens(string) -> array<string>`; see [[WsTokens]]. */
case class WsTokensExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case StringType => TypeCheckSuccess
      case other => TypeCheckFailure(s"ws_tokens expects string, got $other")
    }
  }

  override protected def nullSafeEval(text: Any): Any =
    WsTokens.tokens(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.WsTokens.tokens($t)")

  override protected def withNewChildInternal(newChild: Expression): WsTokensExpr =
    copy(child = newChild)

  override def prettyName: String = "ws_tokens"
}
