package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions._

/** Session-extensions entry point — makes the library installable without
  * code changes:
  *
  * {{{
  *   spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * Injects the engine's custom expressions and optimizer rules into every
  * new session. [[GraftExtensions.functions]] and [[GraftExtensions.rules]]
  * are the one install list: [[graft.GraftSession.registerFunctions]]
  * installs the same list on an already-running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_],
      builder: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** `compose_tpl(pattern, map)`. */
  val composeTpl: FunctionDescription =
    fn("compose_tpl", classOf[ComposeExpr], exprs => {
      require(exprs.length == 2, "compose_tpl(pattern, map) takes 2 arguments")
      ComposeExpr(exprs.head, exprs(1))
    })

  /** Every custom SQL function, as (name, info, builder). */
  val functions: Seq[FunctionDescription] = Seq(
    composeTpl,
    fn("dot_f64", classOf[DotF64], VecOps.builder),
    fn("outer_f64", classOf[OuterF64], VecOps.outerBuilder),
    fn("h32_md5", classOf[H32Md5], HashExprs.builder),
    fn("ngram_stats", classOf[NGramStatsExpr], NGramStats.builder),
    fn("shingle_h32", classOf[ShingleH32Expr], ShingleH32.builder),
    fn("rolling_fp", classOf[RollingFpExpr], RollingFp.builder),
    fn("ws_tokens", classOf[WsTokensExpr], WsTokens.builder),
    fn("nfc_normalize", classOf[NfcNormalizeExpr], NfcNormalize.builder),
    fn("rx_count", classOf[RxCountExpr], RxCount.builder))

  /** Every custom optimizer rule. */
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(RewriteMd5H32, RewriteRegexpCount, StatsBroadcastJoins)
}
