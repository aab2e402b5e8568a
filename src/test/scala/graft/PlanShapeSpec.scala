package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions.col

/** The plan walker's cache modes, and the source lint that keeps plan
  * pins on typed nodes. */
class PlanShapeSpec extends SparkSpec {

  test("an inline walk sees into a persisted frame's plan; a leaf walk stops at its scan") {
    val cached = spark.range(4).toDF("a")
      .crossJoin(spark.range(3).toDF("b").hint("shuffle_replicate_nl")).persist()
    try {
      val consumer = cached.groupBy(col("a")).count()
      val inline = PlanShape.of(consumer)
      val leaf = PlanShape.of(consumer, PlanShape.Leaf)
      assert(inline.has[InMemoryTableScanExec] && leaf.has[InMemoryTableScanExec])
      // an absence pin on the inline walk is not vacuous under a cache
      assert(inline.has[CartesianProductExec], inline.render)
      assert(!leaf.has[CartesianProductExec], leaf.render)
    } finally cached.unpersist()
  }

  test("no spec matches on plan text: plans render only in PlanShape.render") {
    import SourceText._
    val rendered = ("""explainString\(|treeString|""" +
      """\b(?:executedPlan|optimizedPlan|sparkPlan|analyzed|queryExecution)\s*\.\s*toString\b""").r
    // a plan spliced into an interpolated string is rendered too
    val spliced = """\$\{[^}]*\b(?:executedPlan|optimizedPlan|sparkPlan)\s*\}""".r
    val owner = """(?m)^  (?:[\w\[\]]+ )*def (\w+)""".r
    val found = scalaFiles("src/test/scala").flatMap { path =>
      val raw = Files.readString(path)
      val code = strip(raw)
      (rendered.findAllMatchIn(code) ++ spliced.findAllMatchIn(raw)).map { m =>
        val before = code.substring(0, m.start)
        val site = owner.findAllMatchIn(before).toSeq.lastOption.fold("")(_.group(1))
        (path.getFileName.toString, site,
          s"${path.getFileName}:${before.count(_ == '\n') + 1}: ${m.matched}")
      }
    }
    val (helper, stray) = found.partition { case (file, site, _) =>
      file == "PlanShape.scala" && site == "render" }
    assert(stray.isEmpty, "assert on PlanShape's typed nodes, and render a plan for a " +
      "failure message with PlanShape.render:\n" + stray.map(_._3).mkString("\n"))
    assert(helper.nonEmpty, "PlanShape.render no longer renders: drop its exception")
  }
}
