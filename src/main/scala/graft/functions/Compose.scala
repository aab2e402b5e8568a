package graft.functions

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.util.matching.Regex

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** trollsift-style template composition (reference: `compose` filling
  * `{platform_name}_{start_time:%Y%m%d_%H%M}` patterns from row attrs,
  * used at plugins/__init__.py:211-212, 528, 534).
  *
  * `{key}` substitutes verbatim; `{key:%FMT}` parses the value as an ISO
  * instant and renders it with strftime-style codes. Missing keys raise —
  * same contract as Python's str.format.
  */
object Compose {
  private val Placeholder: Regex = """\{([A-Za-z0-9_]+)(?::([^}]+))?\}""".r

  /** Driver-side / plain-Scala compose (used by the pipeline plugins). */
  def compose(pattern: String, values: Map[String, String]): String =
    Placeholder.replaceAllIn(pattern, m => {
      val v = values.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"compose: missing key ${m.group(1)}"))
      val out = Option(m.group(2)) match {
        case Some(fmt) if fmt.startsWith("%") =>
          DateTimeFormatter.ofPattern(strftimeToJava(fmt)).format(
            Instant.parse(v).atZone(ZoneOffset.UTC))
        case _ => v
      }
      Regex.quoteReplacement(out)
    })

  /** strftime → DateTimeFormatter pattern: recognized %-codes map to
    * pattern letters and EVERYTHING else is single-quoted as a literal —
    * a bare replace would leave literal letters (e.g. the 'h' in
    * `%Hh`) to be re-interpreted as pattern letters, rendering garbage.
    * Unrecognized codes throw a named error instead of producing a
    * silently-wrong filename. */
  private def strftimeToJava(fmt: String): String = {
    val codes = Map('Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'M' -> "mm", 'S' -> "ss", 'j' -> "DDD", 'b' -> "MMM",
      'B' -> "MMMM", 'a' -> "EEE", 'A' -> "EEEE", 'f' -> "SSSSSS")
    val sb = new StringBuilder
    val litRun = new StringBuilder
    def flush(): Unit = if (litRun.nonEmpty) {
      sb.append('\'').append(litRun.toString.replace("'", "''")).append('\'')
      litRun.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val code = fmt.charAt(i + 1)
        if (code == '%') { litRun.append('%'); i += 2 }
        else codes.get(code) match {
          case Some(p) => flush(); sb.append(p); i += 2
          case None => throw new IllegalArgumentException(
            s"compose: unsupported strftime code %$code in '$fmt'")
        }
      } else { litRun.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** Row-level entry point invoked from both interpreted eval and the
    * generated code — a single static call, so the expression stays inside
    * whole-stage codegen (no per-row closure/UDF dispatch). */
  def composeRow(pattern: UTF8String, map: MapData): UTF8String = {
    val n = map.numElements()
    val keys = map.keyArray()
    val vals = map.valueArray()
    var m = Map.empty[String, String]
    var i = 0
    while (i < n) {
      m += keys.getUTF8String(i).toString ->
        (if (vals.isNullAt(i)) null else vals.getUTF8String(i).toString)
      i += 1
    }
    UTF8String.fromString(compose(pattern.toString, m))
  }
}

/** Native Catalyst expression for [[Compose.compose]] over a
  * `map<string,string>` column (SURVEY §7.3's custom-expression slot: a
  * codegen'd expression beats a Scala UDF — no serialization of closures,
  * null handling for free, participates in whole-stage codegen). */
case class ComposeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (StringType, MapType(StringType, StringType, _)) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"compose_tpl expects (string, map<string,string>), got $other")
    }
  }

  override protected def nullSafeEval(pattern: Any, map: Any): Any =
    Compose.composeRow(pattern.asInstanceOf[UTF8String], map.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, m) =>
      s"${ev.value} = graft.functions.Compose.composeRow($p, $m);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ComposeExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "compose_tpl"
}
