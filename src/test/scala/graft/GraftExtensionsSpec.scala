package graft

import org.apache.spark.sql.catalyst.expressions.{Conv, Literal, RegExpExtractAll}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{ComposeExpr, H32Md5, RxCountExpr}
import graft.plans.GraftExtensions

class GraftExtensionsSpec extends SparkSpec {

  test("extensions builder constructs and evaluates compose_tpl") {
    val (ident, info, builder) = GraftExtensions.composeTpl
    assert(ident.funcName == "compose_tpl")
    assert(info.getName == "compose_tpl")
    val expr = builder(Seq(
      Literal(UTF8String.fromString("{k}!"), org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.catalyst.expressions.CreateMap(Seq(
        Literal(UTF8String.fromString("k"), org.apache.spark.sql.types.StringType),
        Literal(UTF8String.fromString("v"), org.apache.spark.sql.types.StringType)))))
    assert(expr.isInstanceOf[ComposeExpr])
    assert(expr.eval(null).toString == "v!")
    intercept[IllegalArgumentException] { builder(Seq.empty) }
  }

  test("md5-h32 idiom rewrites to the native kernel and stays bit-identical") {
    import org.apache.spark.sql.functions._
    // the portable declarative fingerprint, exactly as the oracles write it
    val decl = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
    val df = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), decl.as("h"))
    // GraftSession installed RewriteMd5H32 on this session: the physical
    // plan must carry the fused kernel, not the conv/substring chain
    val plan = PlanShape.of(df)
    assert(plan.hasExpr[H32Md5], s"rewrite did not fire:\n${plan.render}")
    assert(!plan.hasExpr[Conv], s"declarative chain survived:\n${plan.render}")
    // and the rewritten result is bit-identical to the explicit kernel
    val native = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.TextFns.h32(col("text")).as("h"))
    assert(df.exceptAll(native).count() == 0 &&
      native.exceptAll(df).count() == 0)
  }

  test("size(regexp_extract_all) rewrites to rx_count and matches exactly") {
    import org.apache.spark.sql.functions._
    val pats = Seq(
      "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", // q126's email
      "ab", "a*", "", "x(y)?z", "\\bq[a-z]+")   // incl. zero-width/empty/groups
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), concat(col("text"),
        lit(" u1@ex.org xyz xz ab abab aaa query")).as("t"))
    pats.foreach { p =>
      val declared = docs.select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(p), lit(0))).as("n"))
      val plan = PlanShape.of(declared)
      assert(plan.hasExpr[RxCountExpr], s"rewrite did not fire for '$p':\n${plan.render}")
      assert(!plan.hasExpr[RegExpExtractAll],
        s"array materialization survived for '$p'")
      // ground truth: evaluate the UNrewritten form via the expression
      // tree directly (bypassing the optimizer is not possible on a
      // session with the rule installed, so compare against the native
      // kernel's independent java.util.regex walk AND a literal matcher)
      val got = declared.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      docs.collect().foreach { r =>
        val m = java.util.regex.Pattern.compile(p).matcher(r.getString(1))
        var n = 0
        while (m.find()) n += 1
        assert(got(r.getLong(0)) == n,
          s"'$p' on doc ${r.getLong(0)}: ${got(r.getLong(0))} != $n")
      }
    }
    // null semantics match size's modern (non-legacy) behavior: null in,
    // null out — on subject and on pattern
    val row = spark.sql(
      "SELECT size(regexp_extract_all(CAST(NULL AS STRING), 'a', 0)) AS a, " +
        "rx_count('aaa', CAST(NULL AS STRING)) AS b").collect()(0)
    assert(row.isNullAt(0) && row.isNullAt(1))
    // group index != 0 is left alone (keeps Spark's group validation)
    val g1 = docs.select(
      size(regexp_extract_all(col("t"), lit("x(y)?z"), lit(1))).as("n"))
    assert(!PlanShape.of(g1).hasExpr[RxCountExpr],
      "group-1 extract must not rewrite")
  }

  test("analyze profiles a table with a map column (NDV sentinel, width measured)") {
    // Spark rejects hashing MapType (legacy.allowHashOnMapType=false), so
    // approx_count_distinct over a map column used to fail the WHOLE
    // analyze pass — the fix skips the NDV aggregate for maps (sentinel
    // -1) while still measuring their width via to_json.
    import org.apache.spark.sql.functions._
    import graft.plans.StatsStore
    val dir = java.nio.file.Files.createTempDirectory("graft_mapstats").toString
    spark.range(100)
      .select(col("id"),
        map(lit("k"), col("id").cast("string")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/mapped.parquet")
    try {
      StatsStore.analyze(spark, dir, Seq("mapped"))
      val s = StatsStore.statsFor(spark, dir, "mapped").get
      assert(s.nRows == 100)
      assert(s.ndv("id") > 0, "plain column NDV missing")
      assert(s.ndv("props") == -1L, "map column must carry the NDV sentinel")
      assert(s.rowBytes > 8.0, "map width not measured")
    } finally StatsStore.clear(spark)
  }

  test("stats freshness: a changed source re-profiles at load, never serves stale") {
    // the default-on flip in GraftSession.prime rides load()'s count, so
    // a profile recorded against files that have since been regenerated
    // must NOT hydrate as-is: pricing a grown table from old rows ×
    // width is how a stats-driven broadcast turns into an executor OOM.
    // Round 14: instead of dropping the table to no-stats planning,
    // load() re-runs the one-pass profile for exactly the changed table
    // and persists it back (PlanAuditSpec covers the ten-table partial
    // case; this is the single-table contract).
    import org.apache.spark.sql.functions._
    import graft.plans.StatsStore
    val dir = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    spark.range(50).select(col("id")).write
      .mode("overwrite").parquet(s"$dir/t.parquet")
    try {
      StatsStore.analyze(spark, dir, Seq("t"))
      StatsStore.statsByPathClearForTest()
      StatsStore.load(spark)
      assert(StatsStore.statsFor(spark, dir, "t").exists(_.nRows == 50),
        "fresh profile failed to hydrate")
      // regenerate the source at the same path (10× the rows): load()
      // must serve the RE-PROFILED numbers, never the stale 50
      spark.range(500).select(col("id")).write
        .mode("overwrite").parquet(s"$dir/t.parquet")
      StatsStore.statsByPathClearForTest()
      assert(StatsStore.load(spark) == 1, "re-profiled row must count as usable")
      assert(StatsStore.statsFor(spark, dir, "t").exists(_.nRows == 500),
        "stale profile served — since-grown table would broadcast from old stats")
      // and the refreshed row persisted: the next load is pure hydration
      StatsStore.statsByPathClearForTest()
      StatsStore.load(spark)
      assert(StatsStore.statsFor(spark, dir, "t").exists(_.nRows == 500))
      // a source that VANISHED still drops out (nothing left to profile)
      val fs = new org.apache.hadoop.fs.Path(s"$dir/t.parquet")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), true)
      StatsStore.statsByPathClearForTest()
      assert(StatsStore.load(spark) == 0)
      assert(StatsStore.statsFor(spark, dir, "t").isEmpty,
        "profile of a deleted source must not hydrate")
      // ...and the dead row was PRUNED from the persisted store, so
      // future JVMs stop re-attempting a doomed re-analysis forever
      val storeRows = spark.read.parquet(
        spark.conf.get("spark.sql.warehouse.dir") + "/" + StatsStore.TableName)
        .filter(org.apache.spark.sql.functions.col("table") === "t").count()
      assert(storeRows == 0, "vanished-source row survived in the stats store")
    } finally StatsStore.clear(spark)
  }

  test("analyze skips an unreadable table but persists the rest") {
    // one missing fixture must not abort the whole pass (the bench would
    // then silently run with stats-driven planning OFF instead of with
    // the nine profiles that did succeed)
    import org.apache.spark.sql.functions._
    import graft.plans.StatsStore
    val dir = java.nio.file.Files.createTempDirectory("graft_partial").toString
    spark.range(10).select(col("id")).write
      .mode("overwrite").parquet(s"$dir/good.parquet")
    try {
      val reported = StatsStore.analyze(spark, dir, Seq("nosuch", "good"))
      assert(reported.count() == 1)
      assert(StatsStore.statsFor(spark, dir, "good").exists(_.nRows == 10))
      assert(StatsStore.statsFor(spark, dir, "nosuch").isEmpty)
      // and the good profile survived to the persisted store
      StatsStore.statsByPathClearForTest()
      StatsStore.load(spark)
      assert(StatsStore.statsFor(spark, dir, "good").isDefined)
    } finally StatsStore.clear(spark)
  }

  test("applying the extensions class injects without error") {
    // builder-time injection can't be observed on the already-running
    // shared session (extensions apply to new sessions only) and the
    // registry hookup is private[sql]; this verifies the injection call
    // path itself is sound
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }
}
