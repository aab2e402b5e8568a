package graft
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val dir = "/root/testdata/sf0.01"
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q02_selective_revenue", "q03_segment_revenue",
               "q05_region_revenue", "q23_token_stats",
               "q29_ngram_jaccard", "q33_ann_bruteforce",
               "q40_resample", "q100_incremental_dedup",
               "q106_corr_audit", "q116_curriculum")
    for (name <- names) {
      println(s"\n===== $name =====")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
