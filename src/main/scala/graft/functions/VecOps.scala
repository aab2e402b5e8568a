package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native vector arithmetic for the similarity pack.
  *
  * `dot_f64(a, b)` computes the strict left-to-right dot product of two
  * `array<double>` columns — the exact floating-point sequence of the
  * declarative form `aggregate(zip_with(a, b, *), 0.0, +)` (and of
  * DuckDB's `list_reduce`), so swapping it into an oracle-checked query
  * changes the plan, not the bits.
  *
  * Why an expression and not the fold: the fold builds an intermediate
  * zipped array per row and evaluates a chain of lambda nodes per
  * element; this is a single static call inside whole-stage codegen —
  * one tight loop over the unsafe array data, no per-row allocation.
  * On the 100 TB path the dot product is the innermost loop of every
  * ANN re-rank; it is the one place where expression overhead is paid
  * O(N·k·dim) times.
  */
object VecOps {
  /** Row-level kernel shared by interpreted eval and generated code.
    * Strict contract (documented divergence from the fold's null
    * propagation, which cannot occur on the embeddings surface): arrays
    * must be same-length and element-non-null, else this throws. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_f64: length mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"dot_f64: null element at $i")
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Column form; requires [[graft.GraftSession.registerFunctions]] (or
    * the extensions entry point) to have installed `dot_f64`. */
  def dotCol(a: Column, b: Column): Column = call_function("dot_f64", a, b)

  /** Row-level kernel for [[OuterF64]]: the full n×n outer-product grid
    * of a vector with itself, row-major (`pos = i*n + j` → v[i]·v[j]).
    * One tight loop, one primitive-array allocation — the declarative
    * nested `transform`+`flatten` equivalent allocates a lambda frame
    * per element and boxes every struct, profiled at ~3× the total cost
    * of the correlation audit it feeds. */
  def outer(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n * n)
    var i = 0
    while (i < n) {
      val xi = a.getDouble(i)
      var j = 0
      while (j < n) {
        out(i * n + j) = xi * a.getDouble(j)
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** Column form of the self outer product; same requirement. */
  def outerCol(a: Column): Column = call_function("outer_f64", a)

  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "dot_f64(a, b) takes 2 arguments")
    DotF64(exprs.head, exprs(1))
  }

  def outerBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "outer_f64(a) takes 1 argument")
    OuterF64(exprs.head)
  }
}

/** `dot_f64(array<double>, array<double>) -> double`; see [[VecOps]]. */
case class DotF64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"dot_f64 expects (array<double>, array<double>), got $other")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecOps.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF64 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f64"
}

/** `outer_f64(array<double>) -> array<double>` (n² row-major self outer
  * product); see [[VecOps.outer]]. */
case class OuterF64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"outer_f64 expects array<double>, got $other")
    }
  }

  override protected def nullSafeEval(a: Any): Any =
    VecOps.outer(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VecOps.outer($a);")

  override protected def withNewChildInternal(newChild: Expression): OuterF64 =
    copy(child = newChild)

  override def prettyName: String = "outer_f64"
}
