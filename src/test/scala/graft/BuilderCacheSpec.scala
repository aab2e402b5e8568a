package graft

import java.nio.file.Files

import graft.queries.{Query, SharedFrames}

/** Query plan builders own no cache: every CacheManager entry belongs to
  * a [[SharedFrames]] family, whatever order plans are built, rebuilt and
  * run in. A builder-level persist registers its entry when the plan is
  * BUILT, so building a plan twice re-registers it and building one
  * without running it strands it until a `clearCache()`. */
class BuilderCacheSpec extends SparkSpec {

  /** Builders that keep a cache entry of their own, with the reason. */
  private val kept: Map[String, String] = Map(
    "q96_sorted_neighborhood" ->
      "its `ranked` persist is plan-matched across perfbench's timed passes (ROADMAP)",
    "q31_simhash" -> "slower without its persist; a checkpoint hides its Postings3 read",
    "q98_source_overlap" -> "slower without its persist; a checkpoint hides its Postings3 read",
    "q101_quality_blend" -> "slower without its persist; a checkpoint hides its BigramLm read",
    "q122_dedup_by_source" -> "reads its labeled docs twice; a checkpoint hides its DupLabels read")

  /** The kept persists by (file, enclosing builder). */
  private val keptSites: Set[(String, String)] = Set(
    "Dedup.scala" -> "q96SortedNeighborhood",
    "Dedup.scala" -> "q31Simhash",
    "Curation.scala" -> "q98SourceOverlap",
    "Curation.scala" -> "q101QualityBlend",
    "Curation.scala" -> "q122DedupBySource")

  /** CacheManager entries that no memoized SharedFrames frame holds. */
  private def strayEntries(): Int = {
    val cm = spark.sharedState.cacheManager
    val family = SharedFrames.memoized(spark, sf).values.toSeq.flatMap { df =>
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    }.distinctBy(System.identityHashCode)
    // public in the bytecode, package-private to Scala callers
    val entries = classOf[org.apache.spark.sql.execution.CacheManager]
      .getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    entries - family.size
  }

  test("building, rebuilding and running a plan leaves only family entries") {
    val cm = spark.sharedState.cacheManager
    try {
      val leaks = Query.all.flatMap { q =>
        cm.clearCache()
        SharedFrames.warmFor(q.name, spark, sf)
        val allowed = if (kept.contains(q.name)) 1 else 0
        def build() = SparkEntry.queries(q.name)(spark, sf)
        lazy val rebuilt = build()
        val steps = Seq[(String, () => Unit)](
          "warm" -> (() => ()),
          "build" -> (() => build()),
          "build again" -> (() => rebuilt),
          "run" -> (() => rebuilt.count()))
        steps.iterator.map { case (step, body) => body(); step -> strayEntries() }
          .collectFirst { case (step, n) if n > allowed =>
            s"${q.name}: $n stray cache entries after $step" }
      }
      assert(leaks.isEmpty, s"${leaks.size} builders own a cache entry:\n" +
        leaks.mkString("\n"))
    } finally cm.clearCache()
  }

  test("no builder in queries/ persists, caches or keeps a memo map of its own") {
    import SourceText._
    val site = """\.persist\(|\.cache\(\)|WeakHashMap|TrieMap""".r
    val builder = """(?m)^  (?:[\w\[\]]+ )*def (\w+)""".r
    val found = scalaFiles("src/main/scala/graft/queries")
      .filterNot(_.getFileName.toString == "SharedFrames.scala")
      .flatMap { path =>
        val code = strip(Files.readString(path))
        site.findAllMatchIn(code).map { m =>
          val owner = builder.findAllMatchIn(code.substring(0, m.start))
            .toSeq.lastOption.fold("<top level>")(_.group(1))
          (path.getFileName.toString, owner, m.matched)
        }
      }
    val stray = found.filterNot { case (file, owner, _) => keptSites((file, owner)) }
    assert(stray.isEmpty, "session memos and persists belong in SharedFrames:\n" +
      stray.map { case (f, o, m) => s"$f $o: $m" }.mkString("\n"))
    assert(found.map { case (f, o, _) => (f, o) }.toSet == keptSites,
      "a kept site is gone: drop it from keptSites")
  }
}
