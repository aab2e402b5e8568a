package graft

import graft.operators.RangeJoin

class RangeJoinSpec extends SparkSpec {

  test("interval end is exclusive in both paths") {
    import spark.implicits._
    val pts = Seq((1L, 100L), (2L, 200L)).toDF("id", "v")
    val iv = Seq((10L, 50L, 200L)).toDF("k", "s", "e") // 200 excluded
    assert(RangeJoin.broadcastJoin(pts, "v", iv, "s", "e").count() == 1)
  }
}
