package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, QueryExecution,
  RDDScanExec, SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.Profiling

/** Plan-shape regression tests: the scale properties the Scaladocs claim
  * are asserted here, so a refactor that silently reintroduces a shuffle,
  * loses a broadcast, or widens a scan fails the build — "the plan you'd
  * want" is part of the contract, not a one-off audit. */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def plan(name: String): String = {
    // audit each query's OWN plan: an earlier test's persist() registers
    // a cache entry that plan-matches identical subtrees in LATER
    // queries (e.g. q72's persisted tf is q94's first aggregation), so
    // without this the audited string depends on suite order. Bench
    // clears the cache between queries for the same reason.
    spark.sharedState.cacheManager.clearCache()
    val (df, checkpoints) = withCheckpointPlans(SparkEntry.queries(name)(spark, sf))
    (df.queryExecution.executedPlan +: checkpoints).mkString("\n")
  }

  /** `build`'s result and the plans of the local checkpoints it ran. A
    * lazy checkpoint runs its plan while the builder runs, and the
    * query's plan then shows only an RDD scan where a persist showed the
    * cached plan inline; the checkpoint plans print here instead, as
    * their initial (not yet adaptive) plan, like the query's own. */
  private def withCheckpointPlans(build: => DataFrame): (DataFrame, Seq[SparkPlan]) = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") ran.add(qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        })
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build
      // listener events arrive on the bus thread
      Profiling.drain(spark)
      (df, ran.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** How many reads of `name`'s AQE final plan one subtree serves while
    * it is computed once per run: the most scans of one checkpoint RDD,
    * or one plus the ReusedExchange nodes, counting only nodes whose
    * output has a column named with one of `columns` (a prefix, since
    * renamed copies carry suffixes). A builder that persisted the
    * subtree showed this as in-memory scans; one that checkpoints it or
    * leaves it to exchange reuse shows it here. */
  private def onceReads(name: String, columns: String*): Int = {
    spark.sharedState.cacheManager.clearCache()
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // runs the adaptive plan to its final form
    def carries(p: SparkPlan) = p.output.exists(a => columns.exists(a.name.startsWith))
    val nodes = collectWithSubqueries(df.queryExecution.executedPlan) {
      case n if carries(n) => n
    }
    val checkpointReads = nodes.collect { case r: RDDScanExec => r.rdd }
      .groupBy(System.identityHashCode).values.map(_.size).maxOption.getOrElse(0)
    math.max(checkpointReads, 1 + nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  private def hashExchanges(p: String): Int =
    p.linesIterator.count(_.contains("Exchange hashpartitioning"))

  /** One window of an executed query's AQE final plan. `partitionKeys`
    * are the non-constant partition expressions — empty for a
    * single-partition window. `aggregateInput`: the shuffle stage that
    * feeds the window holds the output of a grouped aggregate (its rows
    * are groups, not corpus rows); `inputRows` is that stage's row count
    * as AQE measured it. */
  private case class WindowShape(partitionKeys: Seq[String],
      aggregateInput: Boolean, inputRows: Option[Long])

  private def windowShapes(name: String): Seq[WindowShape] = {
    spark.sharedState.cacheManager.clearCache()
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // runs the adaptive plan to its final form
    def stage(p: SparkPlan): Option[ShuffleQueryStageExec] = p match {
      case s: ShuffleQueryStageExec => Some(s)
      case u: UnaryExecNode => stage(u.child)
      case _ => None
    }
    def grouped(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec => a.groupingExpressions.nonEmpty
      case u @ (_: ProjectExec | _: FilterExec | _: WholeStageCodegenExec |
          _: InputAdapter) => grouped(u.children.head)
      case _ => false
    }
    collectWithSubqueries(df.queryExecution.executedPlan) { case w: WindowExec => w }
      .map { w =>
        val feed = stage(w.child)
        WindowShape(w.partitionSpec.filterNot(_.foldable).map(_.sql),
          feed.exists(s => grouped(s.shuffle.child)),
          feed.flatMap(_.getRuntimeStatistics.rowCount.map(_.toLong)))
      }
  }

  /** "No window over corpus-sized input": every window either partitions
    * by a data key (`allowedKey`), or is a single-partition window over a
    * grouped aggregate whose key has at most `maxGroups` values. */
  private def assertNoCorpusWindow(name: String, allowedKey: Option[String],
      maxGroups: Long): Unit = {
    val shapes = windowShapes(name)
    assert(shapes.nonEmpty, s"$name: no window in the plan")
    shapes.foreach {
      case WindowShape(Seq(), agg, rows) =>
        assert(agg, s"$name: single-partition window over ungrouped (corpus) rows")
        assert(rows.exists(_ <= maxGroups),
          s"$name: single-partition window input $rows exceeds $maxGroups groups")
      case WindowShape(keys, _, _) =>
        assert(allowedKey.exists(k => keys.exists(_.contains(k))),
          s"$name: window partitioned by unexpected keys $keys")
    }
  }

  test("q02 selective revenue: filters push into the scan, no shuffle") {
    val p = plan("q02_selective_revenue")
    assert(hashExchanges(p) == 0)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [IsNotNull("))
  }

  test("q05 region revenue: all dimension joins are broadcast") {
    val p = plan("q05_region_revenue")
    // five dims (region, nation, customer, supplier + order keys path)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 4)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q57 repetition: zero hash exchanges (per-row kernel form)") {
    assert(hashExchanges(plan("q57_repetition")) == 0)
  }

  test("q33 ANN baseline: bounded TopK aggregation, no window sort") {
    val p = plan("q33_ann_bruteforce")
    assert(p.contains("ObjectHashAggregate"))
    assert(!p.contains("Window ["), "window rank crept back into q33")
  }

  test("q07 per-customer top-3: bounded TopK aggregation, no window sort") {
    val p = plan("q07_top_orders_per_customer")
    assert(p.contains("ObjectHashAggregate"), "TopK aggregation missing")
    assert(!p.contains("Window ["),
      "q07 regressed to ranking the whole orders table in a window")
  }

  test("document scans project only the needed columns") {
    for (name <- Seq("q24_quality_score", "q52_data_split", "q57_repetition")) {
      val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan(name)).toSeq
      assert(schemas.nonEmpty, s"$name shows no ReadSchema")
      schemas.foreach { s =>
        assert(!s.contains("source") && !s.contains("lang"),
          s"$name reads unneeded columns: $s")
      }
    }
  }

  test("q70 IVF-PQ: codebook and ADC tables broadcast, bounded TopK rank") {
    val p = plan("q70_ivfpq_adc")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "codebook/ADC join lost its broadcast")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) >= 1,
      "sub build lost its broadcast codebook-array join")
    assert(p.contains("ObjectHashAggregate"), "TopK aggregation missing")
    // encode/coarse argmins are struct-min aggregations over the sub table
    assert(!p.contains("Window ["),
      "an argmin regressed to a window sort over the sub table")
  }

  test("q71 boilerplate: lexicon probe is a broadcast join") {
    val p = plan("q71_boilerplate")
    assert(p.contains("BroadcastHashJoin"), "boilerplate lexicon not broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q72 tf-idf: document-frequency join is broadcast") {
    val p = plan("q72_tfidf")
    assert(p.contains("BroadcastHashJoin"), "df table not broadcast")
  }

  test("q73 weighted sample: global top-k without a global sort") {
    val p = plan("q73_weighted_sample")
    assert(p.contains("ObjectHashAggregate"), "TopK aggregation missing")
    // the only Sort allowed is the final 10-row output ordering
    assert(!p.contains("SortMergeJoin") && !p.contains("Window ["),
      "weighted sample should not sort or window the corpus")
  }

  test("q01 flagship: single agg shuffle, partial aggregation map-side") {
    val p = plan("q01_pricing_summary")
    assert(hashExchanges(p) == 1)
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "no map-side partial aggregation in q01")
  }

  test("q78 HLL sketch: register max is partial-aggregated map-side") {
    val p = plan("q78_hll_sketch")
    assert(p.contains("partial_max") || p.contains("partial_"),
      "HLL register merge lost its map-side partial — the exchange would " +
        "carry every row instead of <=64 registers per partition")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q79 changelog compaction: one key shuffle + one group shuffle, no self-join") {
    val p = plan("q79_changelog_compact")
    assert(hashExchanges(p) <= 2, "compaction grew extra shuffles")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "latest-per-key must be a window, never a join against the maxima")
  }

  test("q80 SemDeDup: seeds broadcast, argmin without window, members persisted") {
    val p = plan("q80_semdedup")
    // k=sqrt(N) seed distances ride a broadcast nested-loop (seeds are
    // the tiny side), and the per-vector argmin is a min(struct) hash
    // aggregation — a Window here would re-shuffle N*k rows into
    // per-vector partitions
    assert(p.contains("BroadcastNestedLoopJoin"),
      "seed distance stage lost its broadcast")
    assert(!p.contains("Window ["),
      "assignment argmin must be an aggregation, not a window rank")
    assert(onceReads("q80_semdedup", "cluster") >= 2,
      "member table recomputed per self-join side instead of computed once")
    assert(!p.contains("CartesianProduct"),
      "pairwise stage must stay an equi-join on the cluster id")
  }

  test("dedup pack: no forced broadcast of corpus-sized side tables") {
    // The per-doc shingle-count table is one row PER DOCUMENT and the LSH
    // candidate list is O(near-dups) — both linear in corpus size. A
    // broadcast() hint on either overrides the planner's size check and
    // is a driver OOM at 10⁹ docs. These five plans must carry NO
    // broadcast join hints: whatever broadcasting happens is the planner/
    // AQE's size-measured choice, which degrades gracefully to a shuffle
    // join at scale. (The deliberate bounded broadcasts — stop-shingle
    // hot set, 1-row ndocs — live inside the persisted postings subtree
    // and are size-bounded by construction.)
    for (name <- Seq("q29_ngram_jaccard", "q30_minhash_lsh",
        "q108_containment", "q119_lsh_recall", "q129_lsh_precision")) {
      val lp = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(!lp.contains("strategy=broadcast"),
        s"$name carries a forced-broadcast hint on a corpus-derived table")
    }
  }

  test("q29 jaccard: capped postings cached for both join sides and counts") {
    val p = plan("q29_ngram_jaccard")
    // the df-capped postings are persisted post-anti-join: the self-join
    // sides and the per-doc count aggregate all read the cache instead
    // of re-running the explode+md5+anti-join chain
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3,
      "capped postings must be cached across self-join sides and counts")
    assert(!p.contains("CartesianProduct"))
  }

  test("q81 PageRank: dims broadcast, transition matrix reused across iterations") {
    val p = plan("q81_pagerank")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "customer/supplier dimensions lost their broadcast")
    assert(onceReads("q81_pagerank", "w") >= 3,
      "each iteration should reuse the transition matrix computed once, " +
        "not rebuild the corpus-sized edge aggregation")
  }

  test("q83 dup spans: df-cap is a broadcast anti-join, postings persisted") {
    val p = plan("q83_dup_spans")
    assert(p.contains("LeftAnti"), "stop-shingle cap lost its anti-join")
    assert(p.contains("InMemoryTableScan"),
      "positional postings recomputed per self-join side instead of persisted")
    assert(!p.contains("CartesianProduct"))
  }

  test("q84 quantile sketch: bin counts partial-aggregated, extent broadcast") {
    val p = plan("q84_quantile_sketch")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "histogram lost its map-side partial — the exchange would carry " +
        "every row instead of <=256 bins per partition")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "(min,max,n) extent row must be broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q87 contrastive mining: scored pass persisted, bounded TopK, no window") {
    val p = plan("q87_contrastive_mining")
    assert(onceReads("q87_contrastive_mining", "cos_raw") >= 2,
      "scored pass recomputed per pos/neg branch instead of computed once")
    assert(p.contains("ObjectHashAggregate"), "TopK aggregation missing")
    assert(!p.contains("Window ["), "window rank crept into the top-1 branches")
  }

  test("q88 importance weights: bucket tables broadcast, TopK instead of sort") {
    val p = plan("q88_importance_weights")
    assert(p.contains("BroadcastHashJoin"), "log-ratio table lost its broadcast")
    assert(p.contains("ObjectHashAggregate"), "TopK aggregation missing")
    assert(!p.contains("Window ["),
      "global top-10 must not window-rank the corpus")
  }

  test("q82 gap-fill: grid scales with keys, not events") {
    val p = plan("q82_gap_fill")
    assert(!p.contains("CartesianProduct"),
      "user x hour grid must come from a broadcast h0 + explode, not a cartesian")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q89 triangles: edge list built once, reused by every join side") {
    val p = plan("q89_triangle_count")
    assert(onceReads("q89_triangle_count", "src") >= 3,
      "edge list must be materialized once and reused")
    assert(!p.contains("CartesianProduct"))
  }

  test("q90 retention: cell table cached, size lookup broadcast") {
    val p = plan("q90_retention_cohorts")
    assert(onceReads("q90_retention_cohorts", "n_users") >= 2,
      "cohort-cell table must be computed once for the offset-0 size lookup")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q91 outliers: moments ride a single window pass, no join") {
    val p = plan("q91_outlier_days")
    assert(p.linesIterator.count(_.contains("Window [")) == 1,
      "per-user moments must collapse into one Window operator")
    assert(!p.contains("Join"), "moments must not come from a join")
    assert(hashExchanges(p) == 2,
      "expected exactly the daily-agg and window exchanges")
  }

  test("q92 chunking: pure narrow projection, zero hash exchanges") {
    assert(hashExchanges(plan("q92_context_chunks")) == 0)
  }

  test("q93 prefix dup: verify rides the head-fingerprint equi-join") {
    val p = plan("q93_prefix_dup")
    assert(p.contains("StartsWith"),
      "token-boundary verify predicate must sit in the join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the k8 equi-join, not an all-pairs join")
  }

  test("q114 concentration: the per-user aggregate's exchange is reused for the total") {
    // the total is derived FROM the per-user aggregate (not a second
    // events pass), so at runtime AQE reuses the user_id shuffle: the
    // final adaptive plan must carry a ReusedExchange and the events
    // scan must be column-pruned to user_id alone. (r14 note: a persist
    // here was tried and MEASURED SLOWER than the exchange reuse —
    // building the columnar cache costs more than the shared shuffle.)
    spark.sharedState.cacheManager.clearCache()
    val df = SparkEntry.queries("q114_concentration")(spark, sf)
    df.collect() // materialize so the ADAPTIVE final plan is inspectable
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "q114's total re-scans events instead of reusing the per-user shuffle")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(schemas.nonEmpty, "q114 shows no ReadSchema (vacuous pin)")
    assert(schemas.forall(_ == "ReadSchema: struct<user_id:bigint>"),
      s"q114 reads more than user_id from events: $schemas")
  }

  test("q94 entropy: one repartition serves both aggregations") {
    assert(hashExchanges(plan("q94_token_entropy")) == 1,
      "doc_id partitioning must satisfy both the token and the doc rollup")
  }

  test("q95 bloom prune: three broadcast probes, lane table built once") {
    val p = plan("q95_bloom_prune")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 3)
    assert(!p.contains("SortMergeJoin"))
    assert(onceReads("q95_bloom_prune", "mask") >= 3,
      "lane table must be computed once for the three probe joins")
  }

  test("q96 sorted neighborhood: two-phase rank, no corpus-wide window") {
    val p = plan("q96_sorted_neighborhood")
    // block-local row_number + tiny block-prefix sum; a single global
    // Window.orderBy would show an un-partitioned corpus-sized window.
    // (The cached rank subtree prints once per consumer, so count per
    // kind, not total.) Every window is either partitioned by the sort
    // block or runs over the ~40-row block-totals table.
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("__rk_b"),
      s"corpus-wide window crept in: $w"))
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      "ranked table must be cached for both neighbor-join sides")
    assert(!p.contains("CartesianProduct"))
  }

  test("q97 winsorized stats: per-group percentile partial-aggregated, stats broadcast") {
    val p = plan("q97_winsorized_stats")
    assert(p.contains("partial_percentile"),
      "percentile must keep its map-side partial")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q98 source overlap: distinct postings built once, sizes broadcast") {
    val p = plan("q98_source_overlap")
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      "source-shingle postings must be cached across all consumers")
    assert(!p.contains("CartesianProduct"))
  }

  test("q99 label errors: signature table cached for both bucket-join sides") {
    val p = plan("q99_label_errors")
    assert(onceReads("q99_label_errors", "sig") >= 2,
      "signature table recomputed per self-join side instead of computed once")
    assert(!p.contains("CartesianProduct"),
      "neighborhood candidates must come from the signature equi-join")
  }

  test("q100 incremental dedup: batch broadcasts, corpus side never shuffles") {
    val p = plan("q100_incremental_dedup")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "batch probe / dup-mark joins lost their broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus keys must stream past the broadcast batch, never sort-merge")
  }

  test("q101 quality blend: moments broadcast back, scored pass cached") {
    val p = plan("q101_quality_blend")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "single-row moments aggregate must be broadcast")
    assert(p.contains("InMemoryTableScan"),
      "scored table recomputed for the moments agg and the report")
    assert(!p.contains("Window ["),
      "normalization must not rank/window the corpus")
  }

  test("q102 count-min: sketch built from pre-aggregated counts, probes broadcast") {
    val p = plan("q102_countmin_hitters")
    assert(onceReads("q102_countmin_hitters", "tok") >= 2,
      "per-token counts must be computed once (sketch, top-20 and probe reuse them)")
    assert(p.contains("BroadcastHashJoin"), "probe join lost its broadcast")
    // the 4-row-per-token explode must sit ABOVE the token aggregation:
    // a generate over raw tokens would 4x the corpus-sized stream
    assert(!p.contains("SortMergeJoin"))
  }

  test("q103 skew profile: totals broadcast, nothing events-sized after first agg") {
    val p = plan("q103_key_skew")
    assert(p.contains("BroadcastHashJoin"), "per-type totals lost their broadcast")
    assert(onceReads("q103_key_skew", "user_id") >= 2,
      "per-key counts must be computed once for the totals agg and the hot-key pass")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q115 min-cost supplier: dimension lookups broadcast, no window") {
    val p = plan("q115_min_cost_supplier")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "part/supplier dimensions lost their broadcast")
    assert(!p.contains("Window ["),
      "min-per-group must be aggregation + join-back, not a window rank")
  }

  test("q117 perceptual dup: signature table cached, banded equi-join only") {
    val p = plan("q117_perceptual_dup")
    assert(onceReads("q117_perceptual_dup", "sig") >= 2,
      "signature table recomputed per band-join side instead of computed once")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the half-band equi-join")
  }

  test("q104 cross-language leak: one shuffle on the content key") {
    val p = plan("q104_crosslang_dup")
    assert(!p.contains("Join"), "cross-lang audit must be a pure aggregation")
  }

  test("q108 containment: postings cached, counts joined onto pairs") {
    val p = plan("q108_containment")
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      "postings must be cached across the self-join sides")
    assert(p.contains("LeftAnti"), "stop-shingle cap lost its anti-join")
  }

  test("q109 PMI: unigram table cached, totals broadcast, bounded top-20") {
    val p = plan("q109_pmi_collocations")
    assert(onceReads("q109_pmi_collocations", "tok", "c2") >= 2,
      "unigram counts must be computed once for the w1/w2 joins")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be a bounded take, not a full sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "single-row totals must be broadcast")
  }

  test("q105 Zipf: rank windows are per-language, never corpus-wide") {
    val p = plan("q105_zipf_audit")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("lang#"),
      s"un-partitioned vocab window crept in: $w"))
  }

  test("q106 correlation: moment table cached, diagonal lookups broadcast") {
    val p = plan("q106_corr_audit")
    assert(onceReads("q106_corr_audit", "sxy") >= 2,
      "d² moment table must be computed once for the diagonal and off-diagonal reads")
    assert(p.contains("BroadcastHashJoin"), "diagonal stats lost their broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be a bounded take, not a full sort")
  }

  test("q107 novelty: postings built once, no pairwise join") {
    val p = plan("q107_novelty_curve")
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      "shingle postings must be cached for first-seen agg and probe side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q56/q107/q124 ride ONE shared 8-gram postings cache") {
    // the three 8-gram consumers must all read Curation.sh8Postings —
    // three separate tokenize+md5 explodes over the corpus collapse into
    // one persisted table (the Dedup.shPostings hoist, applied here).
    // Materialize all three and count persisted RDDs: exactly one new.
    // New RDD ids, not a size difference: the context cleaner unpersists
    // the garbage-collected checkpoints of earlier tests meanwhile.
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (name <- Seq("q56_contamination", "q107_novelty_curve",
        "q124_bloom_decontam"))
      SparkEntry.queries(name)(spark, sf).collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet.count(!before(_))
    assert(added == 1,
      s"expected ONE shared 8-gram postings cache, got $added new persisted RDDs")
  }

  test("q132 hybrid RRF: both lists are bounded top-k cuts, rank windows " +
      "run over the cuts only") {
    val p = plan("q132_hybrid_rrf")
    // each retrieval list is cut by a bounded take on its rounded score —
    // the corpus is never globally sorted
    assert(p.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2,
      "sparse and dense top-50 cuts must both be bounded takes")
    // the rank windows run over the 50-row cuts and carry the constant
    // partition key that declares them deliberately bounded — a bare
    // corpus window would print an empty partition spec
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, "rank windows missing")
    windows.foreach(w => assert(w.contains("windowspecdefinition(0,"),
      s"unbounded window crept into the fusion: $w"))
    assert(!p.contains("CartesianProduct"), "probe must broadcast")
  }

  test("q116 curriculum: rank windows are block-partitioned, never corpus-wide") {
    // the global rank must be the q96 two-phase composition: every
    // Window either partitions by the quality block (__rk_block) or runs
    // over the block table — one row per floor(quality·1000), quality in
    // [0, 1], so at most 1001 blocks plus a null block. The block-table
    // windows are the offsets prefix sum and the total row count
    // (Ranking.globalRank's totalOut). A bare Window.orderBy would hold
    // the whole corpus in one partition.
    assertNoCorpusWindow("q116_curriculum", Some("__rk_block"), 1002)
  }

  test("q121 winnowing: per-doc selection windows, cached postings, capped join") {
    val p = plan("q121_winnowing")
    // selection windows partition by doc_id — a corpus-wide window here
    // would serialize the whole fingerprint selection
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("doc_id"),
      s"corpus-wide window crept in: $w"))
    assert(onceReads("q121_winnowing", "fp") >= 2,
      "selected fingerprints must be computed once for hot-set agg + join sides")
    assert(p.contains("LeftAnti"), "fingerprint df-cap lost its anti-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q122 dedup stratification: canonical lookup broadcast, labels cached") {
    val p = plan("q122_dedup_by_source")
    assert(p.contains("BroadcastHashJoin"),
      "canonical-source lookup must broadcast (component-count-sized)")
    assert(p.contains("InMemoryTableScan"),
      "labeled docs must be cached for canonical + kill passes")
    assert(!p.contains("CartesianProduct"))
  }

  test("LSH signature width is corpus-derived: bucket population stays ~64") {
    import graft.queries.Similarity.sigBits
    // the scale law: smallest k with 64·2^k >= N, floor 8, cap 30
    assert(sigBits(1000) == 8) // test-SF corpora stay at the 8-bit floor
    assert(sigBits(64L << 8) == 8) // boundary: exactly 2^8 buckets of 64
    assert(sigBits((64L << 8) + 1) == 9) // one past -> width grows
    assert(sigBits(1L << 26) == 20) // 67M vectors -> 2^20 buckets
    assert(sigBits(100L * 1000 * 1000 * 1000) == 30) // capped (100B vectors)
    // monotone non-decreasing, and population N/2^k never exceeds 64
    // once past the floor region
    var prev = 8
    for (e <- 10 to 40) {
      val n = 1L << e
      val k = sigBits(n)
      assert(k >= prev, s"width must not shrink as N grows (N=2^$e)")
      prev = k
      if (k > 8 && k < 30)
        assert(n.toDouble / (1L << k) <= 64.0 + 1e-9,
          s"bucket population exceeds target at N=2^$e")
    }
    // the q32/q34 plans carry the width as literals: at test SF the
    // signature is the 8-bit floor, so exactly 8 plane dot-products
    // appear as dot_f64 calls in the projection
    val p = plan("q34_ann_lsh")
    assert(p.contains("dot_f64"))
  }

  test("q124 bloom: the occupied-position probe is a broadcast join — " +
      "the probe side never shuffle-joins the train corpus") {
    val p = plan("q124_bloom_decontam")
    // the bloom membership join must broadcast the O(m)-bounded position
    // set; only the exact-control join may shuffle by hash
    assert(p.contains("BroadcastHashJoin"),
      "bloom position probe lost its broadcast")
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj <= 3, s"unexpected sort-merge joins ($smj) — the bloom " +
      "path should join only against the broadcast position set")
  }

  test("q125 chunking: map-only — no join, no window, no hash exchange " +
      "before the presentation sort") {
    val p = plan("q125_chunk_sliding")
    assert(hashExchanges(p) == 0,
      "chunking must not shuffle — it is per-document arithmetic")
    assert(!p.contains("Join"), "chunking needs no join")
    assert(!p.contains("Window ["), "chunking needs no window")
  }

  test("q126/q127/q128 scrub + blocklist + truncation: one small-key " +
      "aggregation, no join, no window") {
    for (name <- Seq("q126_pii_scrub", "q127_blocklist_filter",
        "q128_truncation_loss")) {
      val p = plan(name)
      assert(hashExchanges(p) == 1,
        s"$name is scan → row kernel → one agg on a small key; got:\n$p")
      assert(!p.contains("Join"), s"$name needs no join")
      assert(!p.contains("Window ["), s"$name needs no window")
    }
  }

  test("q129 precision audit: verify join semi-reduced by candidates, " +
      "postings cached") {
    val p = plan("q129_lsh_precision")
    // the exact-Jaccard pass must touch candidate collisions only —
    // the candidate semi-join gates the collision join's aggregation
    assert(p.contains("LeftSemi"), "candidate semi-reduction lost")
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      "capped postings must be cached across the collision join sides")
    assert(!p.contains("CartesianProduct"))
  }

  test("q123 ewa: scatter-splat — bounded explode into one aggregate, " +
      "no join, no window") {
    // exchange COUNT is sensitive to cross-suite cache state: a frame
    // persisted by an earlier suite substitutes an InMemoryRelation whose
    // partitioning no longer satisfies the agg, adding one exchange. Pin
    // the pristine plan (Verify/Bench likewise clear between queries).
    spark.sharedState.cacheManager.clearCache()
    // same shape contract for the circular (q123) and swath-ellipse
    // (q131) variants: the ellipse only changes weights and the constant
    // fan-out (9 vs 15), never the plan class
    for (name <- Seq("q123_resample_ewa", "q131_resample_ewa_swath")) {
      val p = plan(name)
      // two generators (ky, kx) with constant-length sequences — the
      // splat fan-out is a plan-time constant, not data-dependent
      assert(p.linesIterator.count(_.contains("Generate explode")) == 2,
        s"$name must splat via the two bounded explodes")
      // cells agg + splat agg: shuffles stay constant-count; the scatter
      // direction means no join and no radius-search window anywhere
      assert(hashExchanges(p) == 2,
        s"$name should shuffle only for the cell agg and the target-key agg")
      assert(!p.contains("Join"), s"$name is scatter — no gather join")
      assert(!p.contains("Window ["), s"$name must not use a window")
    }
  }

  test("q69 k-means: assignment is a broadcast centroid-array join, no window") {
    val p = plan("q69_kmeans_refine")
    // both assignment passes: N×k broadcast join against k centroid ARRAYS
    // (dot-kernel distance) — never the N×64 component explode joined
    // against k×64 centroid rows
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) >= 2,
      "assignment lost its broadcast centroid-array join")
    assert(!p.contains("SortMergeJoin"),
      "a shuffle join crept into the assignment pass")
    // argmin is the lexicographic struct-min aggregation, not a window rank
    assert(!p.contains("Window ["), "argmin must not use a window sort")
  }

  test("q35 centroid stats: vector rows join broadcast arrays, zero explodes") {
    val p = plan("q35_label_centroids")
    assert(p.contains("BroadcastHashJoin"),
      "centroid-array join lost its broadcast")
    assert(!p.contains("Window ["), "q35 must not use a window")
    // round 12: the centroid BUILD runs through the VecSum vector-grain
    // aggregator, so NO explode remains anywhere — neither the build nor
    // the distance pass multiplies rows by the dimensionality
    assert(!p.contains("Generate posexplode"),
      "a component explode crept back into the centroid path")
    assert(p.contains("vecsum") || p.contains("VecSum"),
      s"centroid build lost the VecSum kernel:\n${p.take(1500)}")
  }

  test("q58 quantization: array-at-a-time — zero explodes, stats broadcast") {
    val p = plan("q58_quantization")
    assert(!p.contains("Generate posexplode"),
      "q58 regressed to the per-component explode")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row dimension-stats frame must broadcast")
    assert(!p.contains("Window ["), "q58 must not use a window")
  }

  test("q36 IVF: coarse assignment rides the same centroid-array shape") {
    val p = plan("q36_ann_ivf")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) >= 1,
      "coarse assignment lost its broadcast centroid-array join")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 1,
      "cluster-probe / query join lost its broadcast")
    assert(!p.contains("Window ["),
      "argmin/top-k must stay aggregations, not window sorts")
  }

  test("q133/q136 hygiene + NFC: row-local kernels + one source agg, no joins") {
    for (name <- Seq("q133_encoding_hygiene", "q136_unicode_nfc")) {
      val p = plan(name)
      assert(hashExchanges(p) == 1,
        s"$name should shuffle once, for the source-key aggregation")
      assert(!p.contains("Join"), s"$name is a scan + agg — no join")
      assert(!p.contains("Window ["), s"$name must not use a window")
    }
  }

  test("q134 k-center rounds are shuffle-free: narrow map + bounded argmax") {
    // each selection round = min-distance update (narrow) + TakeOrdered(1);
    // no hash exchange, no join, no window anywhere in the final state plan
    val p = plan("q134_kcenter_coreset")
    assert(hashExchanges(p) == 0,
      "a k-center round introduced a shuffle — the rounds must stay narrow")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "k-center must not join — centers ride as literals")
  }

  test("q135 folds: one corpus pass — labels join, then fold aggregation") {
    val p = plan("q135_leakage_safe_folds")
    // corpus ⋈ labels (labels may be corpus-fraction-sized: NO forced
    // broadcast), then the (fold,grp) distinct expansion + fold agg
    assert(!p.contains("BroadcastHashJoin"),
      "labels side must not be force-broadcast (corpus-fraction-sized)")
    assert(p.contains("Join"), "q135 lost its labels join")
    assert(!p.contains("Window ["), "q135 must not use a window")
  }

  test("q137 paragraph dedup: min-struct canonical, no window over ph") {
    val p = plan("q137_paragraph_dedup")
    // the canonical-instance choice must stay a map-side-combinable
    // aggregation — a row_number window partitioned by ph would pile a
    // corpus-frequent boilerplate paragraph onto one partition
    assert(!p.contains("Window ["),
      "q137 regressed to a window over paragraph hashes (skew bomb)")
    // canonical table joins back without a forced broadcast (it is
    // distinct-paragraph-sized, i.e. corpus-scale)
    assert(p.contains("Join"), "q137 lost its canonical join")
    assert(!p.contains("CartesianProduct"), "q137 must never cross-join")
  }

  test("q140 calibration: row-kernel scoring, 10-key agg, bin-table total") {
    val p = plan("q140_calibration_audit")
    // scoring is a zero-join row kernel; the total is a sum over the
    // <=10 bin rows, so no join at all
    assert(!p.contains("SortMergeJoin"), "q140 must not shuffle-join")
    assert(!p.contains("Join"), "q140's total must not join back")
    // the one window is the single-partition total over the bin
    // aggregate: bins 0..9 plus a null bin, never corpus rows
    assertNoCorpusWindow("q140_calibration_audit", None, 11)
    assert(hashExchanges(p) <= 2,
      "q140 should shuffle only for the bin agg (+ the bin-table total)")
  }

  test("q139 overpass sunlight: constant-size grid, single data-sized agg") {
    val p = plan("q139_overpass_sunlight")
    // the only corpus-sized term is the one-row max(ts) aggregate; the
    // grid×track expansion is plan-constant and rides a broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the one-row scene timestamp must broadcast onto the constant grid")
    assert(!p.contains("SortMergeJoin"), "q139 must not shuffle-join")
    assert(!p.contains("Window ["), "q139 must not use a window")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(schemas.forall(_.contains("ts")) && schemas.forall(!_.contains("user_id")),
      s"q139 should read only events.ts: $schemas")
  }

  test("q141 agreement: zero-shuffle row kernel into one global agg") {
    val p = plan("q141_label_agreement")
    assert(hashExchanges(p) == 0,
      "q141 must reduce to a single map-side-combined global aggregation")
    assert(!p.contains("Join"), "q141 must not join")
    assert(!p.contains("Window ["), "q141 must not use a window")
  }

  test("q142 shuffle audit: cell-grain aggs only, no cartesian/window") {
    val p = plan("q142_shuffle_uniformity")
    assert(!p.contains("CartesianProduct"), "q142 must never cross-join")
    assert(!p.contains("Window ["), "q142 must not use a window")
    // everything after the scan lives at (source, shard) grain or finer:
    // the cells agg, the per-source rollup, and the source equi-join
    assert(hashExchanges(p) <= 3,
      s"q142 grew extra shuffles:\n$p")
  }

  test("q111 drift: rides the shared postings cache, sig compare stays source-grain") {
    val p = plan("q111_minhash_drift")
    assert(p.contains("InMemoryTableScan"),
      "q111 must derive source postings from the shared postings cache")
    assert(!p.contains("CartesianProduct"), "q111 must never cross-join")
    assert(!p.contains("Window ["), "q111 must not use a window")
  }

  test("q144 anisotropy: bounded-grain aggs, no window, no cartesian") {
    val p = plan("q144_anisotropy_audit")
    assert(!p.contains("CartesianProduct"), "q144 must never cross-join")
    assert(!p.contains("Window ["), "q144 must not use a window")
    // (label, dim) cells, label norms, the label-grain join, and the
    // final tiny sort — nothing at vector grain crosses an exchange twice
    assert(hashExchanges(p) <= 4, s"q144 grew extra shuffles:\n$p")
  }

  test("q149 agreement: shared postings, sig-blocked semantic join, no cartesian") {
    val p = plan("q149_decontam_agreement")
    assert(p.contains("InMemoryTableScan"),
      "q149 must ride the shared 8-gram postings cache")
    assert(!p.contains("CartesianProduct"), "q149 must never cross-join")
    // the semantic side must stay a signature-bucket equi-join (sig=tsig)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "q149's semantic side degenerated to a nested-loop join")
  }

  test("q148 bootstrap: bounded-grain aggs only, no window, no cartesian") {
    val p = plan("q148_bootstrap_ci")
    assert(!p.contains("CartesianProduct"), "q148 must never cross-join")
    assert(!p.contains("Window ["), "q148 must not use a window")
    // (source, b) replicate agg, the source-grain CI + mean aggs, their
    // join — everything past the explode lives at O(sources·32) grain
    assert(hashExchanges(p) <= 4, s"q148 grew extra shuffles:\n$p")
  }

  test("q147 acquisition: bounded top-k, never a global sort") {
    val p = plan("q147_uncertainty_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "q147 must select via per-partition top-k heaps, not a sort+limit")
    assert(hashExchanges(p) == 0, s"q147 must not shuffle:\n$p")
    assert(!p.contains("Window ["), "q147 must not use a window")
  }

  test("q146 decontam: row-local max-cos kernel, one label-grain shuffle") {
    val p = plan("q146_semantic_decontam")
    // the eval suite rides in as ONE broadcast array row; the per-vector
    // max-cos is a fold, so the only hash exchange is the label agg
    assert(hashExchanges(p) <= 1, s"q146 grew a vector-grain shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "q146 must cross the 1-row broadcast eval array")
    assert(!p.contains("SortMergeJoin"), "q146 must not shuffle-join")
    assert(!p.contains("Window ["), "q146 must not use a window")
  }

  test("q145 padding: zero joins, one aggregation over a row kernel") {
    val p = plan("q145_padding_waste")
    assert(!p.contains("Join"), "q145 must not join")
    assert(!p.contains("Window ["), "q145 must not use a window")
    assert(hashExchanges(p) <= 1,
      s"q145 must be one map-side-combined agg:\n$p")
  }

  test("q152 boilerplate removal: no ph-partitioned window, equi-joins only") {
    val p = plan("q152_boilerplate_removal")
    assert(!p.contains("Window ["),
      "q152 must not window-partition by segment hash (hot-key pile-up)")
    assert(!p.contains("CartesianProduct"), "q152 must never cross-join")
    assert(p.contains("partial_count"),
      "q152's df count must partial-aggregate map-side")
  }

  test("q153 cluster representative: cluster-grain aggs, no pair blowup") {
    val p = plan("q153_cluster_representative")
    assert(!p.contains("CartesianProduct"), "q153 must never cross-join")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "q153's cluster stats must partial-aggregate map-side")
  }

  test("q151 pass schedule: events scan prunes to ts_ns, windows broadcast") {
    val p = plan("q151_pass_schedule")
    // the only data-sized term: events joined against the broadcast
    // window table — never a shuffle-join of events by window key
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "q151's event attribution must broadcast the window table")
    assert(!p.contains("SortMergeJoin"),
      "q151 must not shuffle the events table against config-sized windows")
  }

  test("q157 SCD2 probe: as-of union-window shape, no range join, user-partitioned windows") {
    val p = plan("q157_scd2_probe")
    // the containment join is expressed as AsOfJoin's union + ordered
    // window — an interval predicate would plan as a nested-loop join
    // that explodes at probe x version scale
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "q157 must never plan the interval containment as a nested-loop join")
    assert(p.contains("Union"), "q157 lost the as-of union shape")
    // every window partitions by user_id — state bounded per user, never
    // corpus-wide
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")),
      s"q157 has a window not partitioned by user_id:\n${windows.mkString("\n")}")
  }

  test("q126 PII scan: match counting runs the native rx_count kernel") {
    val p = plan("q126_pii_scrub")
    assert(p.contains("rx_count"),
      "q126's counts must rewrite to the allocation-free rx_count kernel")
    assert(!p.contains("regexp_extract_all"),
      "q126 must not materialize match arrays just to count them")
  }

  test("q158 BPE apply: joinless corpus pass, one lang-grain shuffle") {
    val p = plan("q158_bpe_apply")
    // the trained merges are plan literals: the corpus pass must carry
    // NO join anywhere — a join against a merge table would ship the
    // model as data instead of code
    assert(!p.contains("Join"), s"q158 must be joinless:\n${p.take(1500)}")
    assert(hashExchanges(p) == 1,
      s"q158 should shuffle exactly once (the lang aggregation), got ${hashExchanges(p)}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "q158's lang aggregation must partial-aggregate map-side")
  }

  test("q159 time-to-event: as-of union-window shape, no range join") {
    val p = plan("q159_time_to_event")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "q159 must never plan the next-event match as a nested-loop range join")
    assert(p.contains("Union"), "q159 lost the as-of union shape")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")),
      s"q159 has a window not partitioned by user_id:\n${windows.mkString("\n")}")
  }

  test("q143 sweep: rides the shared capped postings, no cartesian") {
    val p = plan("q143_jaccard_sweep")
    assert(p.contains("InMemoryTableScan"),
      "q143 must read the session-shared capped postings cache")
    assert(!p.contains("CartesianProduct"), "q143 must never cross-join")
    // the candidate join must stay an equi-join on the shingle hash
    // (the only nested-loop join in the tree is the cached postings
    // build's 1-row ndocs stat cross — plan-constant, not pair-grain)
    assert("Join \\[h#\\d".r.findFirstIn(p).isDefined ||
      p.contains("Join [h#"),
      s"q143 lost the shingle-hash equi-join:\n${p.take(2000)}")
  }

  test("q46/q132 probe prunes the BM25 index to query terms via broadcast") {
    // SURVEY §6's index scale story: the probe joins the TINY query-term
    // list as the broadcast build side against the index scan, so the
    // full postings list is pruned map-side BEFORE any shuffle — no
    // exchange of the index ever happens. Pinned structurally: a
    // BroadcastHashJoin whose streamed side is the (cached) index scan
    // with zero Exchange between join and scan.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // AQE off: the pin is a static plan property, and collect() does not
    // descend into an un-executed AdaptiveSparkPlan wrapper
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (name <- Seq("q46_bm25", "q132_hybrid_rrf")) {
      graft.queries.SharedFrames.warmFor(name, spark, sf)
      val ep = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val probes = ep.collect {
        case j: BroadcastHashJoinExec =>
          val streamed = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
            case _ => j.left
          }
          (j, streamed)
      }.filter { case (_, streamed) =>
        streamed.collectFirst { case s: InMemoryTableScanExec => s }.isDefined &&
        streamed.collectFirst { case e: Exchange => e }.isEmpty
      }
      assert(probes.nonEmpty,
        s"$name lost the broadcast term-prune against the un-shuffled " +
          s"index scan:\n${ep.toString.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("membership fingerprints are commutative sums, never collected arrays") {
    // q60's "train" split is ~90% of the corpus and a degenerate q59
    // cluster can swallow most documents: a sort_array(collect_list(id))
    // fingerprint buffers every member id in ONE aggregation buffer (the
    // round-11 scale probe's worst slope). The sum-of-hashes idiom keeps
    // O(1) agg state — pinned here as partial_sum in the physical plan
    // (map-side combine) with no collect_list anywhere in the tree.
    // q100's admitted_fp joined the idiom in round 13: its group is the
    // admitted *batch* (bounded), but a fat delivery with few languages
    // concentrates the same way, and the sum idiom is a drop-in.
    for (name <- Seq("q59_dup_clusters", "q60_curated_corpus",
        "q101_quality_blend", "q100_incremental_dedup")) {
      val p = plan(name)
      assert(!p.contains("collect_list"),
        s"$name regressed to an unbounded collect_list fingerprint")
      assert(p.contains("partial_sum"),
        s"$name's fingerprint aggregation lost its map-side partial:\n${p.take(1500)}")
    }
  }

  test("q162 cell-blocked decontam ≡ broadcast q146; suite only collects per cell") {
    // the broadcast plan folds the whole eval suite into ONE array row —
    // fine for a fixed benchmark, a driver/broadcast bottleneck if the
    // suite scales with the corpus. The registered blocked variant must
    // (a) agree with the broadcast reference EXACTLY (its default mode
    // compares every pair, just chunked per cell — identity is
    // structural, not recall luck), and (b) never collect the suite into
    // a single row: every collect_list in its physical plan is keyed by
    // the coarse CELL.
    val broad = SparkEntry.queries("q146_semantic_decontam")(spark, sf)
      .collect().map(_.toString).toSeq
    val blocked = SparkEntry.queries("q162_decontam_blocked")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(broad == blocked,
      s"cell-blocked decontam diverged from the broadcast reference:\n$broad\nvs\n$blocked")
    val p = plan("q162_decontam_blocked")
    p.linesIterator.filter(_.contains("collect_list")).foreach { l =>
      assert(l.contains("keys=[cell"),
        s"blocked q146 collects an array NOT keyed by cell (suite-sized row risk):\n$l")
    }
    // the nprobe>0 IVF-routing mode is the production approximation:
    // precision 1 by construction, so at EVERY nprobe its per-label flag
    // counts must be a lower bound of the exact counts — and its probe
    // assembly must be the bounded TopK object-hash aggregation, never a
    // window rank or a k-wide collect
    val exact = broad.map { s =>
      val c = s.stripPrefix("[").stripSuffix("]").split(",")
      c(0) -> c(2).toLong
    }.toMap
    for (np <- Seq(2, 10)) {
      val routed = graft.queries.Similarity
        .q146BlockedDecontam(spark, sf, nprobe = np)
      if (np == 2) {
        val rp = routed.queryExecution.executedPlan.toString
        assert(rp.contains("ObjectHashAggregate"),
          "routing mode lost the bounded TopK probe aggregation")
        assert(!rp.contains("Window ["),
          "probe assembly regressed to a window rank over N*k rows")
      }
      routed.collect().foreach { r =>
        val (lab, flags) = (r.get(0).toString, r.getLong(2))
        assert(flags <= exact(lab),
          s"nprobe=$np flagged MORE than exact for label $lab ($flags > ${exact(lab)})")
        if (np == 10) assert(flags == exact(lab),
          s"nprobe=k must reproduce exact counts (label $lab: $flags != ${exact(lab)})")
      }
    }
  }

  test("stats-driven broadcast: q05's un-hinted join flips to BHJ from measured stats") {
    // q160's ANALYZE surface feeding the engine: with the static
    // autoBroadcastJoinThreshold DISABLED (the 100 TB posture — file
    // size is a bad proxy for hashed-relation memory), the q05 customer
    // join is a SortMergeJoin... until StatsBroadcastJoins hints it
    // broadcast from StatsStore's measured rows x width. The explicit
    // broadcast() dims (region/nation/supplier) are user hints in both
    // runs — the FLIP is exactly the un-hinted customer side, and the
    // deliberately small budget keeps orders/lineitem (measured bigger)
    // on the shuffle path: the rule selects, not blankets.
    import graft.plans.StatsStore
    def bhjCount(): Int =
      plan("q05_region_revenue").linesIterator
        .count(_.contains("BroadcastHashJoin"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // pin the rule OFF for the baseline: GraftSession.prime defaults it
    // ON whenever a persisted profile loads (and the analyze below
    // persists one before the first prime of a fresh session) — this
    // test drives the flip by hand
    spark.conf.set(StatsStore.EnabledConf, "false")
    try {
      val stats = StatsStore.analyze(spark, sf,
        Seq("region", "nation", "customer", "supplier", "orders", "lineitem"))
      assert(stats.count() == 6)
      // measured stats exist and rank sanely: customer under lineitem
      val cust = StatsStore.statsFor(spark, sf, "customer").get
      val li = StatsStore.statsFor(spark, sf, "lineitem").get
      assert(cust.estBytes > 0 && cust.estBytes < li.estBytes)
      assert(cust.ndv("c_custkey") > 0, "per-column NDV missing")
      val off = bhjCount()
      spark.conf.set(StatsStore.EnabledConf, "true")
      // budget between customer's and orders' measured bytes: the flip
      // must be selective, not a blanket broadcast of everything
      val ord = StatsStore.statsFor(spark, sf, "orders").get
      assert(cust.estBytes < ord.estBytes)
      spark.conf.set(StatsStore.ThresholdConf,
        ((cust.estBytes + ord.estBytes) / 2).toString)
      val on = bhjCount()
      assert(on == off + 1,
        s"expected exactly the customer join to flip to broadcast: off=$off on=$on")
      // fresh-JVM path: the persisted stats table rehydrates the map
      StatsStore.statsByPathClearForTest()
      assert(bhjCount() == off, "cleared stats must stop hinting")
      assert(StatsStore.load(spark) >= 6)
      assert(bhjCount() == on, "rehydrated stats must hint again")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset(StatsStore.EnabledConf)
      spark.conf.unset(StatsStore.ThresholdConf)
      StatsStore.clear(spark)
    }
  }

  test("stats-broadcast selectivity: an equality-filtered big side flips to broadcast") {
    // round-13 NDV selectivity: orders is measured BIGGER than the
    // budget, but `o_custkey = <literal>` keeps ~rows/ndv of it — the
    // rule prices the filtered side at estBytes × SkewSafety/ndv and
    // flips the join to broadcast, where the unfiltered-priced rule left
    // a SortMergeJoin on the table. A range predicate must NOT reduce
    // the estimate (no NDV model for ranges — conservative direction).
    import graft.plans.StatsStore
    import org.apache.spark.sql.functions._
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(StatsStore.EnabledConf, "false")
    try {
      StatsStore.analyze(spark, sf, Seq("orders", "lineitem"))
      val ord = StatsStore.statsFor(spark, sf, "orders").get
      assert(ord.ndv("o_custkey") > 16, "fixture NDV too small to exercise 4/ndv")
      // budget BELOW the whole orders table but far above the filtered slice
      spark.conf.set(StatsStore.ThresholdConf, (ord.estBytes / 2).toString)
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      def probe(filtered: org.apache.spark.sql.DataFrame): String =
        li.join(filtered, li("l_orderkey") === filtered("o_orderkey"))
          .groupBy(col("o_custkey")).count()
          .queryExecution.executedPlan.toString
      val eqSide = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_custkey") === 7)
      val rangeSide = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 0.0)
      spark.conf.set(StatsStore.EnabledConf, "false")
      assert(!probe(eqSide).contains("BroadcastHashJoin"),
        "baseline: rule off must leave the sort-merge join")
      spark.conf.set(StatsStore.EnabledConf, "true")
      assert(probe(eqSide).contains("BroadcastHashJoin"),
        "equality-filtered side (est rows/ndv) failed to flip to broadcast")
      assert(!probe(rangeSide).contains("BroadcastHashJoin"),
        "a RANGE filter must not reduce the estimate below the budget")
      // ADVICE r13: an alias smuggling a DIFFERENT expression under a
      // profiled column's NAME must not price against that column's NDV.
      // rand() blocks predicate pushdown, so the Filter stays above the
      // Project — exactly the shape the old name-based lookup got wrong
      // (it saw `o_custkey = 7`, priced 4/ndv(o_custkey), broadcast an
      // unreduced orders scan). exprId resolution prices it at 1.0.
      val aliasSide = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey"),
          floor(rand(42) * 1000000).cast("long").as("o_custkey"))
        .filter(col("o_custkey") === 7)
      assert(!probe(aliasSide).contains("BroadcastHashJoin"),
        "alias-shadowed column was priced against the profiled NDV")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset(StatsStore.EnabledConf)
      spark.conf.unset(StatsStore.ThresholdConf)
      StatsStore.clear(spark)
    }
  }

  test("stats-broadcast default-on sweep: measured-bigger sides stay on the shuffle path") {
    // Round-12 promotion: GraftSession.prime turns StatsBroadcastJoins on
    // whenever a persisted ANALYZE profile loads (the bench parent writes
    // one per run). This sweep is the no-regression proof: with the rule
    // active under the 100 TB posture (static file-size threshold OFF),
    // no join in the relational/event pack broadcasts a profiled scan
    // whose MEASURED bytes exceed the budget — dims flip to broadcast,
    // facts stay sort-merge. Plus the q103→Salting loop: q67's fan-out
    // comes from the measured NDV, not the hard-coded constant.
    import graft.plans.StatsStore
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      StatsStore.analyze(spark, sf, Seq("region", "nation", "customer",
        "supplier", "part", "orders", "lineitem"))
      spark.conf.set(StatsStore.EnabledConf, "true")
      val budget = (10L * 1024 * 1024)
      val sweep = Seq("q03_segment_revenue", "q04_order_status_volume",
        "q05_region_revenue", "q07_top_orders_per_customer",
        "q11_big_spenders", "q12_customers_without_orders",
        "q13_nation_setops", "q15_above_avg_parts",
        "q115_min_cost_supplier")
      for (name <- sweep) {
        val ep = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
        val overBudget = ep.collect { case b: BroadcastExchangeExec => b }
          .flatMap(_.collectLeaves().collect { case f: FileSourceScanExec => f })
          .flatMap(_.relation.location.rootPaths.map(_.toString))
          .flatMap(p => StatsStore.statsForPath(p).map(p -> _))
          .filter(_._2.estBytes > budget)
        assert(overBudget.isEmpty,
          s"$name broadcasts a measured-bigger side: " +
            overBudget.map { case (p, s) => s"$p=${s.estBytes}B" }.mkString(","))
        // the rule must also never ADD a broadcast that fails to remove
        // the corresponding shuffle: total exchanges can only shrink
        // (checked implicitly by the q05 flip test; here we just demand
        // the plan still builds and answers — a planning exception would
        // have thrown above)
      }
      // q103's loop closed: the salted aggregation's fan-out is measured.
      // lineitem has 3 return flags; with P cores the stats-fed fan-out
      // is ceil(P / NDV) (approx NDV may be off by the sketch's small-n
      // error, never by enough to reach the 32 fallback on 3 groups).
      val p = spark.sparkContext.defaultParallelism
      val ndv = StatsStore.statsFor(spark, sf, "lineitem").get.ndv("l_returnflag")
      assert(ndv >= 2 && ndv <= 5, s"suspicious returnflag NDV $ndv")
      val buckets = graft.operators.Salting.bucketsFromStats(
        spark, sf, "lineitem", Seq("l_returnflag"), fallback = 32)
      assert(buckets == ((p + ndv - 1) / ndv).max(1).min(p).toInt,
        s"stats-fed fan-out $buckets is not the measured ceil($p/$ndv)")
      assert(buckets != 32 || p >= 64,
        "q67 fan-out fell back to the constant despite fresh stats")
      // and the fan-out is live inside q67's plan: the salted partial
      // aggregation carries the salt column
      val q67 = plan("q67_salted_agg")
      assert(q67.contains("_graft_salt"), "q67 lost its salt stage")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset(StatsStore.EnabledConf)
      StatsStore.clear(spark)
    }
  }

  test("stale stats re-profile incrementally: one regenerated table, nine untouched hints") {
    // round-14 incremental ANALYZE: a stale fingerprint used to drop its
    // table to no-stats planning for the whole session; load() now
    // re-profiles JUST the changed table (one bounded pass) while the
    // other profiles hydrate from disk untouched — and the refreshed row
    // persists, so the NEXT load is pure hydration again.
    import graft.plans.StatsStore
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tmp = Files.createTempDirectory("graft_stats_inc")
    tables.foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), tmp.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val dir = tmp.toString
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(StatsStore.EnabledConf, "false")
    try {
      StatsStore.analyze(spark, dir, tables)
      val origCust = StatsStore.statsFor(spark, dir, "customer").get
      val origDocsRows = StatsStore.statsFor(spark, dir, "documents").get.nRows
      // REGENERATE one table at the same path: half the rows, new file
      val docsPath = s"$dir/documents.parquet"
      val half = spark.read.parquet(docsPath).filter(col("doc_id") % 2 === 0)
        .collect()
      val halfDf = spark.createDataFrame(
        java.util.Arrays.asList(half: _*),
        spark.read.parquet(docsPath).schema)
      val stage = Files.createTempDirectory("graft_stats_inc_stage")
      halfDf.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.delete(Paths.get(docsPath))
      Files.copy(part, Paths.get(docsPath))
      // fresh-JVM simulation: empty map, hydrate from the persisted store
      StatsStore.statsByPathClearForTest()
      val n = StatsStore.load(spark)
      assert(n == tables.size,
        s"expected all ${tables.size} profiles usable after load, got $n")
      // the regenerated table carries RE-PROFILED numbers...
      val docs = StatsStore.statsFor(spark, dir, "documents").get
      assert(docs.nRows == half.length && docs.nRows < origDocsRows,
        s"documents did not re-profile: ${docs.nRows} vs ${half.length}")
      // ...and the other nine kept their original profiles
      assert(StatsStore.statsFor(spark, dir, "customer").get == origCust)
      tables.filterNot(_ == "documents").foreach { t =>
        assert(StatsStore.statsFor(spark, dir, t).isDefined, s"$t lost its profile")
      }
      // broadcast hints survive: customer still flips its join under the
      // rule, priced from the kept profile
      spark.conf.set(StatsStore.EnabledConf, "true")
      spark.conf.set(StatsStore.ThresholdConf,
        (origCust.estBytes * 2).toString)
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      val ords = spark.read.parquet(s"$dir/orders.parquet")
      val p = ords.join(cust, ords("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment")).count()
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        "customer lost its stats-driven broadcast hint after the partial refresh")
      // the refreshed row PERSISTED: a second fresh-map load is pure
      // hydration (fingerprints all match) and sees the new rowcount
      StatsStore.statsByPathClearForTest()
      assert(StatsStore.load(spark) == tables.size)
      assert(StatsStore.statsFor(spark, dir, "documents").get.nRows == half.length,
        "re-profiled row did not persist back to the stats table")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset(StatsStore.EnabledConf)
      spark.conf.unset(StatsStore.ThresholdConf)
      StatsStore.clear(spark)
    }
  }
}
