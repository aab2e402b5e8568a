package graft

import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
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

  /** Families whose frames `plan` scans: a cache entry (keyed by its
    * cache builder) or a checkpoint (keyed by its RDD, the dupLabels
    * family). A query-internal persist is descended into (q31, q98 and
    * q101 reach their family only through one); a family's own cached
    * plan is not, since families build on each other (source-grain
    * postings derive from `sh`). */
  private def familiesRead(plan: SparkPlan,
      families: Seq[(AnyRef, Family)]): Set[Family] = {
    def owner(handle: AnyRef) = families.collectFirst { case (h, f) if h eq handle => f }
    plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => familiesRead(a.inputPlan, families)
      case s: InMemoryTableScanExec =>
        owner(s.relation.cacheBuilder)
          .fold(familiesRead(s.relation.cachedPlan, families))(Set(_))
      case r: RDDScanExec => owner(r.rdd).toSet
    }.flatten.toSet
  }

  /** Every family frame of the session by the handle its scans carry. */
  private def familyHandles(): Seq[(AnyRef, Family)] = {
    val familyOfKey = SharedFrames.families.flatMap(f => f.keys.map(_ -> f)).toMap
    val cm = spark.sharedState.cacheManager
    SharedFrames.memoized(spark, sf).toSeq.flatMap { case (k, df) =>
      familyOfKey.get(k).toSeq.flatMap { family =>
        cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .map(c => Seq(c.cachedRepresentation.cacheBuilder))
          .getOrElse(df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd })
          .map(_ -> family)
      }
    }
  }

  test("declared shared families equal the families each plan reads") {
    SharedFrames.families.foreach(_.warm(spark, sf))
    val cm = spark.sharedState.cacheManager
    try {
      val mismatches = Query.all.flatMap { q =>
        val plan = SparkEntry.queries(q.name)(spark, sf).queryExecution.executedPlan
        val read = familiesRead(plan, familyHandles())
        val declared = q.reads.toSet
        assert(SharedFrames.isConsumer(q.name) == declared.nonEmpty)
        if (read == declared) None
        else Some(s"${q.name}: declared ${declared.map(_.keys.head)}, " +
          s"reads ${read.map(_.keys.head)}")
      }
      assert(mismatches.isEmpty, mismatches.mkString("\n"))
    } finally cm.clearCache()
  }

  test("the dupLabels family is a checkpoint that its seven readers name") {
    SharedFrames.DupLabels.warm(spark, sf)
    val labels = SharedFrames.memoized(spark, sf)("dupLabels")
    assert(spark.sharedState.cacheManager
      .lookupCachedData(labels.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
      "dupLabels must hold no CacheManager entry")
    assert(labels.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined)
    val readers = Query.all.filter(_.reads.contains(SharedFrames.DupLabels)).map(_.id).toSet
    assert(readers == Set("q59", "q60", "q113", "q122", "q135", "q138", "q153"))
  }
}
