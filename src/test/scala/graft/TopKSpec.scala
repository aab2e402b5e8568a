package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.expressions.Window
import graft.operators.TopK

class TopKSpec extends SparkSpec {

  test("topk equals the window-rank form, ties to smaller id") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("value"), col("event_id").cast("long").as("id"))
    val viaAgg = ev.groupBy(col("user_id"))
      .agg(TopK.topk(3)(col("value"), col("id")).as("top"))
      .select(col("user_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("user_id"), (col("i") + 1).as("rk"),
        col("t._1").as("value"), col("t._2").as("id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("id"))
    val viaWindow = ev.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("user_id"), col("rk"), col("value"), col("id"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
    assert(viaAgg.count() > 0)
  }

  test("topk buffer stays bounded and ordered under merge") {
    val agg = TopK.TopKAgg(3)
    val xs = Seq((1.0, 5L), (3.0, 1L), (3.0, 0L), (2.0, 7L), (9.0, 9L), (0.5, 2L))
    val (left, right) = xs.splitAt(3)
    val merged = agg.merge(
      left.foldLeft(agg.zero)(agg.reduce),
      right.foldLeft(agg.zero)(agg.reduce))
    assert(merged == Vector((9.0, 9L), (3.0, 0L), (3.0, 1L)))
    // merge order does not matter
    val merged2 = agg.merge(
      right.foldLeft(agg.zero)(agg.reduce),
      left.foldLeft(agg.zero)(agg.reduce))
    assert(merged2 == merged)
  }

  test("topk ranks NaN scores like the window desc-sort (NaN greatest)") {
    import spark.implicits._
    val ev = Seq(
      (1, Double.NaN, 4L), (1, 9.0, 1L), (1, 3.0, 2L), (1, 7.0, 3L))
      .toDF("k", "value", "id")
    val viaAgg = ev.groupBy(col("k"))
      .agg(TopK.topk(2)(col("value"), col("id")).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "t")))
      .select((col("i") + 1).as("rk"), col("t._2").as("id"))
    val w = Window.partitionBy(col("k")).orderBy(col("value").desc, col("id"))
    val viaWindow = ev.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2).select(col("rk"), col("id"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
    // NaN sorts greatest in Spark's desc order -> rank 1
    assert(viaAgg.filter(col("rk") === 1).collect().head.getLong(1) == 4L)
  }

  test("topk aggregates with map-side partials (no full sort in the plan)") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("value"), col("event_id").cast("long").as("id"))
    val plan = PlanShape.of(ev.groupBy(col("user_id"))
      .agg(TopK.topk(3)(col("value"), col("id")).as("top")))
    // ObjectHashAggregate runs in partial mode below the exchange
    assert(plan.has[ObjectHashAggregateExec])
    assert(!plan.has[SortAggregateExec])
  }
}
