package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.queries.{Query, SharedFrames}
import graft.queries.SharedFrames.Family

/** Each query's declared shared families are exactly the memoized family
  * frames its plan reads. Bench, QTime and the perfbench harness warm
  * and time queries by these declarations, so an undeclared read would
  * time a family build inside a query, and a stale one would warm a
  * family for nothing (cache pressure on the timed run). */
class SharedFamiliesSpec extends SparkSpec {

  /** Families whose cache entries (keyed by their cache builder) `plan`
    * scans. A query-internal persist is descended into (q31, q98 and
    * q101 reach their family only through one); a family's own cached
    * plan is not, since families build on each other (source-grain
    * postings derive from `sh`). */
  private def familiesRead(plan: SparkPlan,
      families: Seq[(AnyRef, Family)]): Set[Family] =
    plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => familiesRead(a.inputPlan, families)
      case s: InMemoryTableScanExec =>
        families.collectFirst { case (b, f) if b eq s.relation.cacheBuilder => f }
          .fold(familiesRead(s.relation.cachedPlan, families))(Set(_))
    }.flatten.toSet

  test("declared shared families equal the families each plan reads") {
    SharedFrames.families.foreach(_.warm(spark, sf))
    val familyOfKey = SharedFrames.families.flatMap(f => f.keys.map(_ -> f)).toMap
    val cm = spark.sharedState.cacheManager
    try {
      val mismatches = Query.all.flatMap { q =>
        val plan = SparkEntry.queries(q.name)(spark, sf).queryExecution.executedPlan
        val families = SharedFrames.memoized(spark, sf).toSeq.flatMap { case (k, df) =>
          cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
            .map(_.cachedRepresentation.cacheBuilder -> familyOfKey(k))
        }
        val read = familiesRead(plan, families)
        val declared = q.reads.toSet
        assert(SharedFrames.isConsumer(q.name) == declared.nonEmpty)
        if (read == declared) None
        else Some(s"${q.name}: declared ${declared.map(_.keys.head)}, " +
          s"reads ${read.map(_.keys.head)}")
      }
      assert(mismatches.isEmpty, mismatches.mkString("\n"))
    } finally cm.clearCache()
  }
}
