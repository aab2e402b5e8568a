package graft

// The multimodal queries of queries/Media.scala, run through SparkEntry.queries.
class MultimodalSpec extends SparkSpec {

  test("q117 perceptual near-dup: exact duplicates collide at hamming 0") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q117_perceptual_dup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("da") < r.getAs[Long]("db"))
      val h = r.getAs[Int]("hamming")
      assert(h >= 0 && h <= 10)
    }
    // every exact-duplicate text pair must appear with hamming 0 (the
    // dHash grid is a pure function of the payload bytes)
    val d = graft.sources.Tables.documents(spark, sf)
      .filter(length(col("text")) >= 80)
      .select(col("doc_id"), md5(col("text")).as("m"))
    val exactPairs = d.as("a").join(d.as("b"),
        col("a.m") === col("b.m") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val zero = rows.filter(_.getAs[Int]("hamming") == 0)
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(exactPairs.subsetOf(zero),
      s"missing exact-dup pairs: ${exactPairs -- zero}")
  }
}
