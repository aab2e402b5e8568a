package graft

import org.apache.spark.sql.functions._
import graft.operators.Salting

class SaltingSpec extends SparkSpec {

  test("salted aggregate merges partials exactly (count/sum/min/max/avg)") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val plain = li.groupBy(col("l_returnflag"))
      .agg(count(col("l_quantity")).as("count_l_quantity"),
        sum(col("l_quantity")).as("sum_l_quantity"),
        min(col("l_quantity")).as("min_l_quantity"),
        max(col("l_quantity")).as("max_l_quantity"))
      .orderBy("l_returnflag").collect().toSeq
    val salted = Salting.saltedAggregate(li, Seq("l_returnflag"),
        Map("l_quantity" -> "count"), buckets = 16)
    // counts are exact under salting
    val sc = Salting.saltedAggregate(li, Seq("l_returnflag"),
        Map("l_quantity" -> "sum"), buckets = 16)
      .orderBy("l_returnflag").collect().toSeq
    assert(salted.orderBy("l_returnflag").collect().map(_.getLong(1)).toSeq ==
      plain.map(_.getLong(1)).toSeq)
    // sums match within fp tolerance (different partial grouping order)
    sc.zip(plain).foreach { case (s, p) =>
      assert(math.abs(s.getDouble(1) - p.getDouble(2)) < 1e-6)
    }
    // min/max are order-insensitive -> exact
    val mm = Salting.saltedAggregate(li, Seq("l_returnflag"),
        Map("l_extendedprice" -> "min"), buckets = 16)
      .orderBy("l_returnflag").collect().toSeq
    val mmPlain = li.groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice"))).orderBy("l_returnflag").collect().toSeq
    assert(mm.map(_.getDouble(1)) == mmPlain.map(_.getDouble(1)))
    // unsupported op rejected
    intercept[IllegalArgumentException] {
      Salting.saltedAggregate(li, Seq("l_returnflag"),
        Map("l_quantity" -> "median"), 4)
    }
  }
}
