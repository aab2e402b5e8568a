package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.plans.GraftExtensions

/** Every custom SQL function's generated code compiles when two calls
  * share one whole-stage codegen method. Spark falls back to the
  * interpreted plan when a stage's code does not compile, so a clash
  * of fixed local names shows only as a logged error and a slower
  * stage; this spec compiles the stage source itself. */
class FunctionCodegenSpec extends SparkSpec {

  /** Collect `spark.range(4)` projected through `calls`, then compile the
    * source of every whole-stage codegen node of the executed plan. */
  private def compileStages(calls: Seq[String]): Unit = {
    val df = spark.range(4).selectExpr(calls: _*)
    assert(df.collect().length == 4)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, s"no whole-stage codegen in\n$plan")
    stages.foreach(w => CodeGenerator.compile(w.doCodeGen()._2))
  }

  test("two rolling_fp calls in one codegen stage compile") {
    compileStages(Seq(
      "rolling_fp(array(cast(id AS STRING), 'x'), 131L)",
      "rolling_fp(array('y', cast(id AS STRING)), 7L)"))
  }

  test("every custom function compiles twice in one codegen stage") {
    val s = "cast(id AS STRING)"
    val d = "cast(id AS DOUBLE)"
    val calls = Map(
      "compose_tpl" -> Seq(s"compose_tpl(concat('{k}', $s), map('k', $s))",
        s"compose_tpl('a{k}', map('k', 'v', 'j', $s))"),
      "dot_f64" -> Seq(s"dot_f64(array($d, 1D), array(2D, 3D))",
        s"dot_f64(array(1D, $d), array($d, 0.5D))"),
      "outer_f64" -> Seq(s"outer_f64(array($d, 1D))", s"outer_f64(array(2D, $d))"),
      "h32_md5" -> Seq(s"h32_md5($s)", s"h32_md5(concat('x', $s))"),
      "ngram_stats" -> Seq(s"ngram_stats(array($s, 'x', 'y'), 2)",
        s"ngram_stats(array('y', $s), 1)"),
      "shingle_h32" -> Seq(s"shingle_h32(concat('a b c ', $s), 2)",
        s"shingle_h32(concat($s, ' x y'), 3)"),
      "rolling_fp" -> Seq(s"rolling_fp(array($s, 'x'), 131L)",
        s"rolling_fp(array('y', $s), 7L)"),
      "ws_tokens" -> Seq(s"ws_tokens(concat('a b ', $s))",
        s"ws_tokens(concat($s, '  c'))"),
      "nfc_normalize" -> Seq(s"nfc_normalize($s)", s"nfc_normalize(concat('e', $s))"),
      "rx_count" -> Seq(s"rx_count(concat('ab ab ', $s), 'ab')",
        s"rx_count($s, '[0-9]')"))
    assert(calls.keySet == GraftExtensions.functions.map(_._1.funcName).toSet,
      "give every function in GraftExtensions.functions two calls here")
    calls.foreach { case (name, twice) =>
      withClue(s"$name: ")(compileStages(twice))
    }
  }
}
