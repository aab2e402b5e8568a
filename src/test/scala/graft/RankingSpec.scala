package graft

import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ranking

object RankingSpec {
  /** A window of [[Ranking.globalRank]]'s two-phase rank: the in-block
    * row number partitions by the block, and the offsets prefix sum is a
    * declared single-partition window over the block table, ordered by
    * the block. */
  def twoPhase(w: WindowExecBase): Boolean =
    PlanShape.keys(w).contains("__rk_block") || (PlanShape.keys(w).isEmpty &&
      w.partitionSpec.nonEmpty && w.orderSpec.exists(_.references.exists(_.name == "__rk_b")))
}

class RankingSpec extends SparkSpec {

  test("two-phase global rank is bit-identical to the naive global window") {
    val d = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
    val naive = d.withColumn("rk",
      row_number().over(Window.orderBy(col("o_totalprice"), col("o_orderkey")))
        .cast("long"))
    // integer price bucket: order-aligned with the sort key
    val twoPhase = Ranking.globalRank(d,
      floor(col("o_totalprice") / 10000).cast("int"),
      Seq(col("o_totalprice"), col("o_orderkey")))
    assert(naive.exceptAll(twoPhase).count() == 0 &&
      twoPhase.exceptAll(naive).count() == 0)
    assert(twoPhase.count() == d.count())
  }

  test("string-prefix blocks work and ranks are a 1..n permutation") {
    val d = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val ranked = Ranking.globalRank(d, substring(col("text"), 1, 1),
      Seq(col("text"), col("doc_id")))
    val n = d.count()
    val rks = ranked.select("rk").collect().map(_.getLong(0)).sorted
    assert(rks.toSeq == (1L to n).toSeq, "ranks are not a dense 1..n range")
  }

  test("no corpus-wide window: every window partitions by the block") {
    val d = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val windows = PlanShape.of(Ranking.globalRank(d, substring(col("text"), 1, 1),
      Seq(col("text"), col("doc_id")))).windows
    assert(windows.nonEmpty)
    windows.foreach(w => assert(RankingSpec.twoPhase(w),
      s"corpus-wide window crept in: ${PlanShape.render(w)}"))
  }
}
