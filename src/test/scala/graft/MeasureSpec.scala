package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.queries.SharedFrames

/** [[Measure]]'s timed loop at sf0.001: the record it returns, the cache
  * release after every rep, the failure policy, and the Bench contract
  * line built from its records. */
class MeasureSpec extends SparkSpec {
  private val consumer = "q46_bm25"
  private val missing = "/nonexistent/sf0.001"

  test("best on a shared-family consumer is Right and releases the cache after every rep") {
    assert(SharedFrames.isConsumer(consumer))
    val cm = spark.sharedState.cacheManager
    var reps = 0
    val result = Measure.bestOf(3) {
      val rep = Measure.once(spark, consumer, sf)
      reps += 1
      assert(cm.isEmpty, s"rep $reps left a cache entry")
      rep
    }
    assert(reps == 3)
    assert(result.exists(_ > 0), result)
    assert(Measure.best(spark, consumer, sf, 2).exists(_ > 0))
    assert(cm.isEmpty)
  }

  test("a failing query is one attempt and a one-line JSON-safe Left") {
    var attempts = 0
    val result = Measure.bestOf(3) {
      attempts += 1
      Measure.once(spark, "q01_pricing_summary", missing)
    }
    assert(attempts == 1)
    val msg = result.swap.getOrElse(fail(s"expected a failure, got $result"))
    assert(msg.nonEmpty && !msg.exists(_ < ' '), msg)
    assert(new ObjectMapper().readTree("\"" + msg + "\"").asText == msg)
    assert(Measure.best(spark, "q01_pricing_summary", missing, 2) == result)
  }

  test("a golden Bench contract line from one Right and one Left record parses") {
    val ok = Measure.best(spark, "q01_pricing_summary", sf, 1)
    val failed = Measure.best(spark, "q02_selective_revenue", missing, 1)
    val line = Bench.jsonLine(sf,
      Seq("q01_pricing_summary" -> ok, "q02_selective_revenue" -> failed), Map.empty)
    val root = new ObjectMapper().readTree(line)
    Seq("metric", "value", "unit", "queries", "errors", "failed", "sf")
      .foreach(k => assert(root.has(k), s"$k missing from $line"))
    assert(root.get("metric").asText == "total" && root.get("unit").asText == "sec")
    assert(root.get("queries").get("q01").asDouble > 0)
    assert(root.get("queries").get("q02").asDouble == -1)
    assert(root.get("errors").get("q02").asText == failed.swap.getOrElse(""))
    assert(root.get("failed").asInt == 1)
    assert(root.get("sf").asText == sf)
  }

  test("History.latest is a shape's most recent round before a bound") {
    val f = java.nio.file.Files.createTempFile("bench_history", ".jsonl")
    try {
      java.nio.file.Files.write(f, Seq(
        """{"round":14,"query":"q01","sec":0.4,"cpus":4,"sf":0.01}""",
        """{"round":15,"query":"q01","sec":0.5,"cpus":4,"sf":0.01}""",
        """{"round":15,"query":"_cal","sec":0.9,"cpus":4,"sf":0.01}""",
        """{"round":16,"query":"q01","sec":0.6,"cpus":32,"sf":0.01}"""
      ).mkString("", "\n", "\n").getBytes("UTF-8"))
      assert(History.latest(4, "0.01", path = f) ==
        Seq(History.Row(15, "q01", 0.5), History.Row(15, "_cal", 0.9)))
      assert(History.latest(4, "0.01", before = 15, path = f) == Seq(History.Row(14, "q01", 0.4)))
      assert(History.latest(4, "0.01", before = 14, path = f).isEmpty)
      assert(History.latest(8, "0.01", path = f).isEmpty)
    } finally java.nio.file.Files.delete(f)
  }
}
