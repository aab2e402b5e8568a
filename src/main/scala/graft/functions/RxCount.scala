package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native non-overlapping regex match COUNTER.
  *
  * `size(regexp_extract_all(s, p, 0))` — and Spark's own `regexp_count`,
  * which is runtime-replaced to exactly that — materializes an
  * ArrayData of every match string just to take its length. This kernel
  * runs the same `java.util.regex` find loop and counts, allocating
  * nothing per match. PII scans (q126) and any corpus-wide pattern audit
  * call this once per document per pattern — at 100 TB the avoided
  * per-match UTF8String allocations are pure win, and the semantics are
  * identical by construction (same Matcher, same non-overlapping
  * left-to-right walk, same zero-width advancement).
  *
  * [[graft.plans.RewriteRegexpCount]] rewrites the declarative form to
  * this kernel, so the optimization is a plan property: the portable
  * oracle-friendly spelling still executes natively.
  */
object RxCount {
  /** Hot path for plan-literal patterns: the [[Pattern]] is compiled
    * ONCE at planning time and embedded in the expression / generated
    * class, so there is no cache, no lock, and no lookup per row
    * ([[Pattern]] is immutable and thread-safe; matchers are created
    * per call). */
  def countWith(p: Pattern, s: UTF8String): Int = {
    val m = p.matcher(s.toString)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Non-foldable (per-row) patterns get a per-thread last-pattern
    * memo instead of a shared map: dynamic workloads usually carry
    * runs of identical patterns (a pattern column joined in, a
    * partition-constant), so one slot captures the common case with
    * zero contention and strictly bounded memory — and an adversarial
    * all-distinct pattern stream degrades to compile-per-row without
    * evicting anything another query depends on. */
  private val lastPattern = new ThreadLocal[Pattern] {
    override def initialValue(): Pattern = Pattern.compile("")
  }

  /** Row-level kernel shared by interpreted eval and generated code. */
  def count(s: UTF8String, regex: UTF8String): Int = {
    val r = regex.toString
    var p = lastPattern.get()
    if (p.pattern() != r) {
      p = Pattern.compile(r)
      lastPattern.set(p)
    }
    countWith(p, s)
  }

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "rx_count(s, pattern) takes 2 arguments")
    RxCountExpr(exprs.head, exprs(1))
  }
}

/** `rx_count(string, pattern) -> int`; see [[RxCount]]. */
case class RxCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckSuccess
      case other => TypeCheckFailure(s"rx_count expects (string, string), got $other")
    }
  }

  /** For a foldable pattern child (the plan-literal case every rewrite
    * of `regexp_count` produces), compile once here and reuse for every
    * row; `None` when the pattern is per-row or a null literal. */
  @transient private lazy val staticPattern: Option[Pattern] =
    if (right.foldable) {
      Option(right.eval()).map(v => Pattern.compile(v.toString))
    } else None

  override protected def nullSafeEval(s: Any, r: Any): Any =
    staticPattern match {
      case Some(p) => RxCount.countWith(p, s.asInstanceOf[UTF8String])
      case None =>
        RxCount.count(s.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    staticPattern match {
      case Some(p) =>
        val ref = ctx.addReferenceObj("rxCountPattern", p,
          classOf[Pattern].getName)
        defineCodeGen(ctx, ev,
          (s, _) => s"graft.functions.RxCount.countWith($ref, $s)")
      case None =>
        defineCodeGen(ctx, ev,
          (s, r) => s"graft.functions.RxCount.count($s, $r)")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RxCountExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "rx_count"
}
