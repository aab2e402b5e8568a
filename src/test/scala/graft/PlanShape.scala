package graft

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Partial}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, InputAdapter,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.Profiling

/** The typed plan walker of the plan-shape specs: every plan pin asserts
  * on the physical nodes and expressions collected here, never on the
  * plan's rendered text. `nodes` holds every node of `roots`, through
  * AQE's wrapper, query stages and subqueries, once per place it occurs;
  * `caches` says whether the walk goes on into a cached relation's plan
  * at its scan. */
final class PlanShape(roots: Seq[SparkPlan], caches: PlanShape.Caches) {

  val nodes: Seq[SparkPlan] = roots.flatMap(PlanShape.walk(_, caches))

  def all[T <: SparkPlan](implicit t: ClassTag[T]): Seq[T] = nodes.collect { case n: T => n }

  def count[T <: SparkPlan: ClassTag]: Int = all[T].size

  def has[T <: SparkPlan: ClassTag]: Boolean = all[T].nonEmpty

  /** Shuffles that hash-partition their rows (not range or single). */
  def hashExchanges: Int = all[ShuffleExchangeExec]
    .count(_.outputPartitioning.isInstanceOf[HashPartitioning])

  /** Every join node, the cartesian product included. */
  def joins: Seq[BaseJoinExec] = all[BaseJoinExec]

  def windows: Seq[WindowExecBase] = all[WindowExecBase]

  /** Some aggregate computes an `F` in Partial mode, i.e. combines it
    * map-side before its exchange. */
  def partial[F <: AggregateFunction](implicit f: ClassTag[F]): Boolean =
    all[BaseAggregateExec].exists(_.aggregateExpressions.exists(e =>
      e.mode == Partial && f.runtimeClass.isInstance(e.aggregateFunction)))

  def generators: Seq[Generator] = all[GenerateExec].map(_.generator)

  def scans: Seq[FileSourceScanExec] = all[FileSourceScanExec]

  /** Every expression of every node, sub-expressions included. */
  def expressions: Seq[Expression] = PlanShape.expressions(nodes)

  def hasExpr[E <: Expression](implicit e: ClassTag[E]): Boolean =
    expressions.exists { case _: E => true; case _ => false }

  /** For each whole-stage-codegen stage, the expressions of the nodes
    * fused into it: the walk stops at the stage's inputs. */
  def codegenStageExprs: Seq[Seq[Expression]] = {
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Seq.empty
      case _ => p +: p.children.flatMap(fused)
    }
    all[WholeStageCodegenExec].map(w => PlanShape.expressions(fused(w.child)))
  }

  /** The walked plans as text, for a failure message. */
  def render: String = PlanShape.render(roots: _*)
}

object PlanShape extends AdaptiveSparkPlanHelper {

  /** What a walk does at a scan of a cached (persisted) relation. */
  sealed trait Caches
  /** Walk on into the cached plan, as `explain` prints it inline: an
    * absence pin sees what the cache holds, too. */
  case object Inline extends Caches
  /** Stop at the scan: the cache's build plan is not the consumer's cost. */
  case object Leaf extends Caches

  private def walk(p: SparkPlan, caches: Caches): Seq[SparkPlan] =
    collectWithSubqueries(p) { case n => n }.flatMap {
      case s: InMemoryTableScanExec if caches == Inline => s +: walk(s.relation.cachedPlan, caches)
      case n => Seq(n)
    }

  private def expressions(nodes: Seq[SparkPlan]): Seq[Expression] =
    nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  def apply(plan: SparkPlan, caches: Caches = Inline): PlanShape = new PlanShape(Seq(plan), caches)

  /** `df`'s executed plan as it stands: before `df` runs, an adaptive
    * plan is its initial plan. */
  def of(df: DataFrame, caches: Caches = Inline): PlanShape =
    apply(df.queryExecution.executedPlan, caches)

  /** `df`'s plan after running it: AQE's final plan, with the runtime
    * statistics of its query stages. `collect()` runs `df`'s own
    * QueryExecution; `count()` would plan and run another. */
  def ran(df: DataFrame, caches: Caches = Inline): PlanShape = {
    df.collect()
    of(df, caches)
  }

  /** The shape of `build`'s plan together with the plans of the local
    * checkpoints `build` ran. A lazy checkpoint runs while
    * the builder runs, and the query's plan then shows only an RDD scan
    * where a persist showed the cached plan; the checkpoint plans are
    * walked as their initial (not yet adaptive) plan, like the query's
    * own. */
  def built(spark: SparkSession)(build: => DataFrame): PlanShape = {
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpoints.add(qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        })
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build
      // listener events arrive on the bus thread
      Profiling.drain(spark)
      new PlanShape(df.queryExecution.executedPlan +: checkpoints.asScala.toSeq, Inline)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The attribute names a window partitions by; a constant key, which
    * declares a deliberately single-partition window, names none. */
  def keys(w: WindowExecBase): Seq[String] =
    w.partitionSpec.filterNot(_.foldable).flatMap(_.references.map(_.name))

  /** The join hints of `df`'s optimized logical plan, subqueries
    * included: the strategies a builder forced, not the ones the
    * planner chose. */
  def joinHints(df: DataFrame): Seq[HintInfo] =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case j: Join => j.hint }
      .flatMap(h => h.leftHint.toSeq ++ h.rightHint.toSeq)

  /** Plans as text, for failure messages only: no pin matches on it. */
  def render(plans: QueryPlan[_]*): String = plans.map(_.treeString).mkString("\n").take(3000)
}
