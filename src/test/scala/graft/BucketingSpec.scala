package graft

import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.operators.Bucketing

/** Co-located bucketed join: the pre-shuffled layout must make the join
  * itself exchange-free (and sort-free with sorted buckets), and return
  * exactly what the shuffle join returns. */
class BucketingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("co-bucketed join plans no Exchange and no Sort, matches shuffle join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // Spark ≥3.1 no longer propagates in-bucket sort order by default
    // (single-file-per-bucket reads were a perf trap for huge buckets);
    // writeBucketed's repartition gives one file per bucket, so opting
    // back in is safe and elides the join-side Sort entirely.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      Bucketing.writeBucketed(li, "li_bkt", "l_orderkey", buckets = 8)
      Bucketing.writeBucketed(ord, "ord_bkt", "o_orderkey", buckets = 8)
      // dataset-qualified key refs: bare col(key) === col(key) throws
      // AMBIGUOUS_REFERENCE whenever both tables carry the key name
      val (l, r) = (spark.table("li_bkt"), spark.table("ord_bkt"))
      val joined = l.join(r, l("l_orderkey") === r("o_orderkey"))
      val expected = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
      assert(joined.count() == expected && expected > 0)
      val plan = joined.queryExecution.executedPlan
      assert(collectWithSubqueries(plan) { case e: Exchange => e }.isEmpty,
        s"bucketed join must not shuffle:\n$plan")
      assert(collectWithSubqueries(plan) { case s: SortExec => s }.isEmpty,
        s"sorted buckets must not re-sort:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS ord_bkt")
    }
  }

  test("aggregation on the bucket key is exchange-free too") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    try {
      Bucketing.writeBucketed(li, "li_agg_bkt", "l_orderkey", buckets = 8)
      val agg = spark.table("li_agg_bkt")
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      assert(agg.count() > 0)
      val plan = agg.queryExecution.executedPlan
      assert(collectWithSubqueries(plan) { case e: Exchange => e }.isEmpty,
        s"bucket-key aggregation must not shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS li_agg_bkt")
  }
}
