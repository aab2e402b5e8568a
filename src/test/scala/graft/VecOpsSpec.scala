package graft

import org.apache.spark.sql.functions._
import graft.functions.{DotF64, VecOps}

class VecOpsSpec extends SparkSpec {

  test("dot_f64 is bit-identical to the declarative fold on the fixture") {
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = e
      .withColumn("native", VecOps.dotCol(col("v"), col("v")))
      .withColumn("fold",
        aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x))
    // exact comparison on purpose: same left-to-right FP sequence
    assert(both.filter(col("native") =!= col("fold")).count() == 0)
    assert(both.count() > 0)
  }

  test("dot_f64: null array -> null, length mismatch throws") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0, 2.0)), Seq(3.0, 4.0)),
                 (None, Seq(1.0, 1.0)))
      .toDF("a", "b")
      .withColumn("d", VecOps.dotCol(col("a"), col("b")))
    val rows = df.orderBy(col("b")).collect()
    assert(rows(1).getDouble(2) == 11.0)
    assert(rows(0).isNullAt(2))
    val bad = Seq((Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
      .withColumn("d", VecOps.dotCol(col("a"), col("b")))
    intercept[Exception] { bad.collect() }
  }

  test("outer_f64 is bit-identical to the declarative nested transform") {
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val decl = flatten(transform(sequence(lit(0), size(col("v")) - 1), i =>
      transform(sequence(lit(0), size(col("v")) - 1), j =>
        element_at(col("v"), i + 1) * element_at(col("v"), j + 1))))
    val both = e
      .withColumn("native", VecOps.outerCol(col("v")))
      .withColumn("fold", decl)
    assert(both.filter(col("native") =!= col("fold")).count() == 0)
    assert(both.count() > 0)
    // row-major layout: pos = i*n + j
    val r = both.select(col("v"), col("native")).head()
    val v = r.getSeq[Double](0)
    val o = r.getSeq[Double](1)
    assert(o.length == v.length * v.length)
    assert(o(5 * v.length + 7) == v(5) * v(7))
  }

  test("dot_f64 stays inside whole-stage codegen") {
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(VecOps.dotCol(
        col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("d"))
    assert(PlanShape.of(e).codegenStageExprs.exists(_.exists(_.isInstanceOf[DotF64])))
  }
}
