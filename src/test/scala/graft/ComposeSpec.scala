package graft

import org.apache.spark.sql.functions._
import graft.functions.{Compose, ComposeExpr}

class ComposeSpec extends SparkSpec {

  test("compose_tpl expression matches the Scala implementation per row") {
    GraftSession.registerFunctions(spark)
    import spark.implicits._
    val df = Seq(
      ("sat1", "2026-08-12T06:30:00Z", "overview"),
      ("sat2", "2026-01-03T23:05:59Z", "cloudtop")
    ).toDF("platform", "start_time", "product")
      .withColumn("fname", expr(
        "compose_tpl('{platform}_{start_time:%Y%m%d_%H%M}_{product}.tif', " +
          "map('platform', platform, 'start_time', start_time, 'product', product))"))
    val rows = df.select("platform", "start_time", "product", "fname").collect()
    rows.foreach { r =>
      val expected = Compose.compose(
        "{platform}_{start_time:%Y%m%d_%H%M}_{product}.tif",
        Map("platform" -> r.getString(0), "start_time" -> r.getString(1),
            "product" -> r.getString(2)))
      assert(r.getString(3) == expected)
    }
    assert(rows.map(_.getString(3)).toSeq == Seq(
      "sat1_20260812_0630_overview.tif", "sat2_20260103_2305_cloudtop.tif"))
  }

  test("compose_tpl stays inside whole-stage codegen") {
    GraftSession.registerFunctions(spark)
    // a real scan (not a constant-foldable local relation) so the projection
    // actually lands in a WholeStageCodegen stage
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("out",
        expr("compose_tpl('{lang}/{source}', map('lang', lang, 'source', source))"))
    // some node fused into a WholeStageCodegen stage evaluates compose_tpl
    val plan = PlanShape.of(df)
    assert(plan.codegenStageExprs.exists(_.exists(_.isInstanceOf[ComposeExpr])), plan.render)
    val one = df.select("lang", "source", "out").limit(1).collect().head
    assert(one.getString(2) == s"${one.getString(0)}/${one.getString(1)}")
  }

  test("null map yields null output; missing key raises") {
    GraftSession.registerFunctions(spark)
    import spark.implicits._
    val df = Seq(Tuple1("x")).toDF("k")
      .withColumn("out",
        expr("compose_tpl('{k}', cast(null as map<string,string>))"))
    assert(df.select("out").collect().head.isNullAt(0))
    intercept[Exception] {
      Seq(Tuple1("x")).toDF("k")
        .withColumn("out", expr("compose_tpl('{nope}', map('k', k))"))
        .collect()
    }
  }
}
