package graft

import org.apache.spark.sql.functions._
import graft.queries.Curation

class CurationSpec extends SparkSpec {

  test("q56 contamination: hits bounded by shingle counts, flag consistent") {
    val df = Curation.q56Contamination(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("n_hit") > col("n_sh")).count() == 0,
      "a test doc cannot hit more train shingles than it has")
    assert(df.filter(
      (col("contaminated") === 1) =!= (col("n_hit") > 0)).count() == 0,
      "contaminated flag must equal n_hit > 0")
    df.unpersist()
  }

  test("q60 curation composes: kills are disjoint and survivors add up") {
    import org.apache.spark.sql.functions.sum
    val flagged = graft.queries.TextAnalysis.q57Repetition(spark, sf)
      .filter(col("flagged") === 1).select(col("doc_id"))
    val dupKill = graft.queries.Dedup.dupLabels(spark, sf)
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val total = graft.sources.Tables.documents(spark, sf).count()
    val killed = flagged.union(dupKill).distinct().count()
    val survived = Curation.q60CuratedCorpus(spark, sf)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(survived == total - killed)
    assert(survived > 0 && killed > 0)
  }

  test("q56 test docs are exactly q52's test bucket (shingle-bearing)") {
    import graft.functions.TextFns.{h32, shingles, tokens}
    val expected = graft.sources.Tables.documents(spark, sf)
      .filter(h32(concat(lit("split_"), col("doc_id"))) % 100 >= 95)
      .filter(size(shingles(tokens(col("text")), 8)) > 0)
      .select(col("doc_id"))
    val got = Curation.q56Contamination(spark, sf).select(col("test_doc"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("q65 packing conserves tokens and fills examples") {
    import org.apache.spark.sql.functions.{sum => fsum, max => fmax}
    import graft.functions.TextFns.tokens
    val packed = Curation.q65SequencePacking(spark, sf).cache()
    val corpusTokens = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(tokens(col("text"))).cast("long").as("n"))
      .agg(fsum(col("n"))).head().getLong(0)
    assert(packed.agg(fsum(col("n_tokens"))).head().getLong(0) == corpusTokens)
    // every example but the last starts within its 2048-token window:
    // example_id is dense from 0
    val n = packed.count()
    assert(packed.agg(fmax(col("example_id"))).head().getLong(0) == n - 1)
    packed.unpersist()
  }
}
