package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for Unicode NFC normalization:
  * `nfc_normalize(text) -> string`, canonical composition per UAX #15 —
  * the same function DuckDB exposes as `nfc_normalize`, which is what
  * makes the oracle twin exact (both engines implement the same Unicode
  * normalization tables; verified byte-identical on the combining-mark
  * sequences the corpus queries inject).
  *
  * Why it exists: Spark has no built-in normalizer, and a Scala UDF here
  * would box every row and block whole-stage codegen in the scrub
  * pipelines that front it. The kernel short-circuits on
  * already-normalized text (`Normalizer.isNormalized` is a cheap
  * quick-check scan for ASCII and most NFC text — the overwhelming case
  * in a real corpus), so the normalize allocation is only paid by rows
  * that actually carry decomposed sequences. */
object NfcNormalize {

  /** Row-level kernel shared by interpreted eval and generated code. */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      text
    else
      UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "nfc_normalize(text) takes 1 argument")
    NfcNormalizeExpr(exprs.head)
  }
}

/** `nfc_normalize(string) -> string`; see [[NfcNormalize]]. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case StringType => TypeCheckSuccess
      case other => TypeCheckFailure(s"nfc_normalize expects string, got $other")
    }
  }

  override protected def nullSafeEval(text: Any): Any =
    NfcNormalize.nfc(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.NfcNormalize.nfc($t)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}
