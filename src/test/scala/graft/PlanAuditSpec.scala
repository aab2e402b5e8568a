package graft

import org.apache.spark.sql.catalyst.expressions.{Explode, IsNotNull, PosExplode,
  RegExpExtractAll, StartsWith}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, Count, Max, Min,
  Partial, Percentile, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, RDDScanExec,
  SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec,
  ScalaAggregator}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange,
  ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.types.LongType

import graft.functions.{DotF64, RxCountExpr, VecSum}

/** Plan-shape regression tests: the scale properties the Scaladocs claim
  * are asserted here, on typed plan nodes ([[PlanShape]]), so a refactor
  * that silently reintroduces a shuffle, loses a broadcast, or widens a
  * scan fails the build — "the plan you'd want" is part of the contract,
  * not a one-off audit. */
class PlanAuditSpec extends SparkSpec {

  /** `name`'s plan as its builder leaves it, with the checkpoint plans
    * the builder ran; cached plans are walked inline. Each query's OWN
    * plan: an earlier test's persist() registers a cache entry that
    * plan-matches identical subtrees in LATER queries (e.g. q72's
    * persisted tf is q94's first aggregation), so without clearing the
    * cache the shape depends on suite order. Bench clears the cache
    * between queries for the same reason. */
  private def shape(name: String): PlanShape = {
    spark.sharedState.cacheManager.clearCache()
    PlanShape.built(spark)(SparkEntry.queries(name)(spark, sf))
  }

  /** `name`'s AQE final plan after running it, cache scans as leaves. */
  private def ranShape(name: String): PlanShape = {
    spark.sharedState.cacheManager.clearCache()
    PlanShape.ran(SparkEntry.queries(name)(spark, sf), PlanShape.Leaf)
  }

  /** How many reads of `name`'s AQE final plan one subtree serves while
    * it is computed once per run: the most scans of one checkpoint RDD,
    * or one plus the ReusedExchange nodes, counting only nodes whose
    * output has a column named with one of `columns` (a prefix, since
    * renamed copies carry suffixes). A builder that persisted the
    * subtree showed this as in-memory scans; one that checkpoints it or
    * leaves it to exchange reuse shows it here. */
  private def onceReads(name: String, columns: String*): Int = {
    val nodes = ranShape(name).nodes
      .filter(_.output.exists(a => columns.exists(a.name.startsWith)))
    val checkpointReads = nodes.collect { case r: RDDScanExec => r.rdd }
      .groupBy(System.identityHashCode).values.map(_.size).maxOption.getOrElse(0)
    math.max(checkpointReads, 1 + nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  /** One window of an executed query's AQE final plan. `partitionKeys`
    * are the non-constant partition keys — empty for a single-partition
    * window. `aggregateInput`: the shuffle stage that feeds the window
    * holds the output of a grouped aggregate (its rows are groups, not
    * corpus rows); `inputRows` is that stage's row count as AQE measured
    * it. */
  private case class WindowShape(partitionKeys: Seq[String],
      aggregateInput: Boolean, inputRows: Option[Long])

  private def windowShapes(name: String): Seq[WindowShape] = {
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
    ranShape(name).windows.map { w =>
      val feed = stage(w.child)
      WindowShape(PlanShape.keys(w),
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

  /** Every window partitions by `key`. */
  private def keyedWindows(s: PlanShape, key: String): Boolean =
    s.windows.nonEmpty && s.windows.forall(PlanShape.keys(_).contains(key))

  private def broadcastJoin(s: PlanShape): Boolean =
    s.has[BroadcastHashJoinExec] || s.has[BroadcastNestedLoopJoinExec]

  test("q02 selective revenue: filters push into the scan, no shuffle") {
    val s = shape("q02_selective_revenue")
    assert(s.hashExchanges == 0)
    // the selective ship-date range itself reaches the lineitem scan,
    // not only the inferred null guards
    assert(s.scans.exists(_.dataFilters.exists(f => !f.isInstanceOf[IsNotNull] &&
      f.references.exists(_.name == "l_shipdate"))), s.render)
  }

  test("q05 region revenue: all dimension joins are broadcast") {
    val s = shape("q05_region_revenue")
    // five dims (region, nation, customer, supplier + order keys path)
    assert(s.count[BroadcastHashJoinExec] >= 4)
    assert(!s.has[SortMergeJoinExec])
  }

  test("q57 repetition: zero hash exchanges (per-row kernel form)") {
    assert(shape("q57_repetition").hashExchanges == 0)
  }

  test("q33 ANN baseline: bounded TopK aggregation, no window sort") {
    val s = shape("q33_ann_bruteforce")
    assert(s.has[ObjectHashAggregateExec])
    assert(s.windows.isEmpty, "window rank crept back into q33")
  }

  test("q07 per-customer top-3: bounded TopK aggregation, no window sort") {
    val s = shape("q07_top_orders_per_customer")
    assert(s.has[ObjectHashAggregateExec], "TopK aggregation missing")
    assert(s.windows.isEmpty,
      "q07 regressed to ranking the whole orders table in a window")
  }

  test("document scans project only the needed columns") {
    for (name <- Seq("q24_quality_score", "q52_data_split", "q57_repetition")) {
      val scans = shape(name).scans
      assert(scans.nonEmpty, s"$name shows no scan")
      scans.foreach { scan =>
        val read = scan.requiredSchema.fieldNames
        assert(!read.exists(c => c.contains("source") || c.contains("lang")),
          s"$name reads unneeded columns: ${read.mkString(",")}")
      }
    }
  }

  test("q70 IVF-PQ: codebook and ADC tables broadcast, bounded TopK rank") {
    val s = shape("q70_ivfpq_adc")
    assert(s.count[BroadcastHashJoinExec] >= 2, "codebook/ADC join lost its broadcast")
    assert(s.count[BroadcastNestedLoopJoinExec] >= 1,
      "sub build lost its broadcast codebook-array join")
    assert(s.has[ObjectHashAggregateExec], "TopK aggregation missing")
    // encode/coarse argmins are struct-min aggregations over the sub table
    assert(s.windows.isEmpty, "an argmin regressed to a window sort over the sub table")
  }

  test("q71 boilerplate: lexicon probe is a broadcast join") {
    val s = shape("q71_boilerplate")
    assert(s.has[BroadcastHashJoinExec], "boilerplate lexicon not broadcast")
    assert(!s.has[SortMergeJoinExec])
  }

  test("q72 tf-idf: document-frequency join is broadcast") {
    assert(shape("q72_tfidf").has[BroadcastHashJoinExec], "df table not broadcast")
  }

  test("q73 weighted sample: global top-k without a global sort") {
    val s = shape("q73_weighted_sample")
    assert(s.has[ObjectHashAggregateExec], "TopK aggregation missing")
    // the only Sort allowed is the final 10-row output ordering
    assert(!s.has[SortMergeJoinExec] && s.windows.isEmpty,
      "weighted sample should not sort or window the corpus")
  }

  test("q01 flagship: single agg shuffle, partial aggregation map-side") {
    val s = shape("q01_pricing_summary")
    assert(s.hashExchanges == 1)
    assert(s.partial[Sum], "no map-side partial aggregation in q01")
  }

  test("q78 HLL sketch: register max is partial-aggregated map-side") {
    val s = shape("q78_hll_sketch")
    assert(s.partial[Max],
      "HLL register merge lost its map-side partial — the exchange would " +
        "carry every row instead of <=64 registers per partition")
    assert(!s.has[SortMergeJoinExec])
  }

  test("q79 changelog compaction: one key shuffle + one group shuffle, no self-join") {
    val s = shape("q79_changelog_compact")
    assert(s.hashExchanges <= 2, "compaction grew extra shuffles")
    assert(s.joins.isEmpty, "latest-per-key must be a window, never a join against the maxima")
  }

  test("q80 SemDeDup: seeds broadcast, argmin without window, members persisted") {
    val s = shape("q80_semdedup")
    // k=sqrt(N) seed distances ride a broadcast nested-loop (seeds are
    // the tiny side), and the per-vector argmin is a min(struct) hash
    // aggregation — a Window here would re-shuffle N*k rows into
    // per-vector partitions
    assert(s.has[BroadcastNestedLoopJoinExec], "seed distance stage lost its broadcast")
    assert(s.windows.isEmpty, "assignment argmin must be an aggregation, not a window rank")
    assert(onceReads("q80_semdedup", "cluster") >= 2,
      "member table recomputed per self-join side instead of computed once")
    assert(!s.has[CartesianProductExec],
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
      val hints = PlanShape.joinHints(SparkEntry.queries(name)(spark, sf))
      assert(!hints.exists(_.strategy.contains(BROADCAST)),
        s"$name carries a forced-broadcast hint on a corpus-derived table")
    }
  }

  test("q29 jaccard: capped postings cached for both join sides and counts") {
    val s = shape("q29_ngram_jaccard")
    // the df-capped postings are persisted post-anti-join: the self-join
    // sides and the per-doc count aggregate all read the cache instead
    // of re-running the explode+md5+anti-join chain
    val cappedReads = s.all[InMemoryTableScanExec].count(m =>
      PlanShape(m.relation.cachedPlan, PlanShape.Leaf).joins.exists(_.joinType == LeftAnti))
    assert(cappedReads >= 3, "capped postings must be cached across self-join sides and counts")
    assert(!s.has[CartesianProductExec])
  }

  test("q81 PageRank: dims broadcast, transition matrix reused across iterations") {
    val s = shape("q81_pagerank")
    assert(s.count[BroadcastHashJoinExec] >= 2,
      "customer/supplier dimensions lost their broadcast")
    assert(onceReads("q81_pagerank", "w") >= 3,
      "each iteration should reuse the transition matrix computed once, " +
        "not rebuild the corpus-sized edge aggregation")
  }

  test("q83 dup spans: df-cap is a broadcast anti-join, postings persisted") {
    val s = shape("q83_dup_spans")
    assert(s.joins.exists(_.joinType == LeftAnti), "stop-shingle cap lost its anti-join")
    assert(s.has[InMemoryTableScanExec],
      "positional postings recomputed per self-join side instead of persisted")
    assert(!s.has[CartesianProductExec])
  }

  test("q84 quantile sketch: bin counts partial-aggregated, extent broadcast") {
    val s = shape("q84_quantile_sketch")
    assert(s.partial[Count],
      "histogram lost its map-side partial — the exchange would carry " +
        "every row instead of <=256 bins per partition")
    assert(broadcastJoin(s), "(min,max,n) extent row must be broadcast")
    assert(!s.has[SortMergeJoinExec])
  }

  test("q87 contrastive mining: scored pass persisted, bounded TopK, no window") {
    val s = shape("q87_contrastive_mining")
    assert(onceReads("q87_contrastive_mining", "cos_raw") >= 2,
      "scored pass recomputed per pos/neg branch instead of computed once")
    assert(s.has[ObjectHashAggregateExec], "TopK aggregation missing")
    assert(s.windows.isEmpty, "window rank crept into the top-1 branches")
  }

  test("q88 importance weights: bucket tables broadcast, TopK instead of sort") {
    val s = shape("q88_importance_weights")
    assert(s.has[BroadcastHashJoinExec], "log-ratio table lost its broadcast")
    assert(s.has[ObjectHashAggregateExec], "TopK aggregation missing")
    assert(s.windows.isEmpty, "global top-10 must not window-rank the corpus")
  }

  test("q82 gap-fill: grid scales with keys, not events") {
    val s = shape("q82_gap_fill")
    assert(!s.has[CartesianProductExec],
      "user x hour grid must come from a broadcast h0 + explode, not a cartesian")
    assert(!s.has[SortMergeJoinExec])
  }

  test("q89 triangles: edge list built once, reused by every join side") {
    val s = shape("q89_triangle_count")
    assert(onceReads("q89_triangle_count", "src") >= 3,
      "edge list must be materialized once and reused")
    assert(!s.has[CartesianProductExec])
  }

  test("q90 retention: cell table cached, size lookup broadcast") {
    val s = shape("q90_retention_cohorts")
    assert(onceReads("q90_retention_cohorts", "n_users") >= 2,
      "cohort-cell table must be computed once for the offset-0 size lookup")
    assert(s.has[BroadcastHashJoinExec])
  }

  test("q91 outliers: moments ride a single window pass, no join") {
    val s = shape("q91_outlier_days")
    assert(s.windows.size == 1, "per-user moments must collapse into one Window operator")
    assert(s.joins.isEmpty, "moments must not come from a join")
    assert(s.hashExchanges == 2, "expected exactly the daily-agg and window exchanges")
  }

  test("q92 chunking: pure narrow projection, zero hash exchanges") {
    assert(shape("q92_context_chunks").hashExchanges == 0)
  }

  test("q93 prefix dup: verify rides the head-fingerprint equi-join") {
    val s = shape("q93_prefix_dup")
    assert(s.joins.exists(j => j.leftKeys.nonEmpty &&
      j.condition.exists(_.exists(_.isInstanceOf[StartsWith]))),
      "token-boundary verify predicate must sit in the join")
    assert(!s.has[CartesianProductExec] && !s.has[BroadcastNestedLoopJoinExec],
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
    val s = PlanShape.ran(SparkEntry.queries("q114_concentration")(spark, sf))
    assert(s.has[ReusedExchangeExec],
      "q114's total re-scans events instead of reusing the per-user shuffle")
    assert(s.scans.nonEmpty, "q114 shows no scan (vacuous pin)")
    s.scans.foreach { scan =>
      assert(scan.requiredSchema.map(f => f.name -> f.dataType) == Seq("user_id" -> LongType),
        s"q114 reads more than user_id from events: ${scan.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("q94 entropy: one repartition serves both aggregations") {
    assert(shape("q94_token_entropy").hashExchanges == 1,
      "doc_id partitioning must satisfy both the token and the doc rollup")
  }

  test("q95 bloom prune: three broadcast probes, lane table built once") {
    val s = shape("q95_bloom_prune")
    assert(s.count[BroadcastHashJoinExec] == 3)
    assert(!s.has[SortMergeJoinExec])
    assert(onceReads("q95_bloom_prune", "mask") >= 3,
      "lane table must be computed once for the three probe joins")
  }

  test("q96 sorted neighborhood: two-phase rank, no corpus-wide window") {
    val s = shape("q96_sorted_neighborhood")
    // block-local row_number + tiny block-prefix sum; a single global
    // Window.orderBy would show an un-partitioned corpus-sized window.
    // Every window is either partitioned by the sort block or runs over
    // the ~40-row block-totals table.
    assert(s.windows.nonEmpty)
    s.windows.foreach(w => assert(RankingSpec.twoPhase(w),
      s"corpus-wide window crept in: ${PlanShape.render(w)}"))
    assert(s.count[InMemoryTableScanExec] >= 2,
      "ranked table must be cached for both neighbor-join sides")
    assert(!s.has[CartesianProductExec])
  }

  test("q97 winsorized stats: per-group percentile partial-aggregated, stats broadcast") {
    val s = shape("q97_winsorized_stats")
    assert(s.partial[Percentile], "percentile must keep its map-side partial")
    assert(s.has[BroadcastHashJoinExec])
  }

  test("q98 source overlap: distinct postings built once, sizes broadcast") {
    val s = shape("q98_source_overlap")
    assert(s.count[InMemoryTableScanExec] >= 2,
      "source-shingle postings must be cached across all consumers")
    assert(!s.has[CartesianProductExec])
  }

  test("q99 label errors: signature table cached for both bucket-join sides") {
    val s = shape("q99_label_errors")
    assert(onceReads("q99_label_errors", "sig") >= 2,
      "signature table recomputed per self-join side instead of computed once")
    assert(!s.has[CartesianProductExec],
      "neighborhood candidates must come from the signature equi-join")
  }

  test("q100 incremental dedup: batch broadcasts, corpus side never shuffles") {
    val s = shape("q100_incremental_dedup")
    assert(s.count[BroadcastHashJoinExec] >= 2,
      "batch probe / dup-mark joins lost their broadcast")
    assert(!s.has[SortMergeJoinExec],
      "corpus keys must stream past the broadcast batch, never sort-merge")
  }

  test("q101 quality blend: moments broadcast back, scored pass cached") {
    val s = shape("q101_quality_blend")
    assert(broadcastJoin(s), "single-row moments aggregate must be broadcast")
    assert(s.has[InMemoryTableScanExec],
      "scored table recomputed for the moments agg and the report")
    assert(s.windows.isEmpty, "normalization must not rank/window the corpus")
  }

  test("q102 count-min: sketch built from pre-aggregated counts, probes broadcast") {
    val s = shape("q102_countmin_hitters")
    assert(onceReads("q102_countmin_hitters", "tok") >= 2,
      "per-token counts must be computed once (sketch, top-20 and probe reuse them)")
    assert(s.has[BroadcastHashJoinExec], "probe join lost its broadcast")
    // the 4-row-per-token explode must sit ABOVE the token aggregation:
    // a generate over raw tokens would 4x the corpus-sized stream
    assert(!s.has[SortMergeJoinExec])
  }

  test("q103 skew profile: totals broadcast, nothing events-sized after first agg") {
    val s = shape("q103_key_skew")
    assert(s.has[BroadcastHashJoinExec], "per-type totals lost their broadcast")
    assert(onceReads("q103_key_skew", "user_id") >= 2,
      "per-key counts must be computed once for the totals agg and the hot-key pass")
    assert(!s.has[SortMergeJoinExec])
  }

  test("q115 min-cost supplier: dimension lookups broadcast, no window") {
    val s = shape("q115_min_cost_supplier")
    assert(s.count[BroadcastHashJoinExec] >= 2, "part/supplier dimensions lost their broadcast")
    assert(s.windows.isEmpty,
      "min-per-group must be aggregation + join-back, not a window rank")
  }

  test("q117 perceptual dup: signature table cached, banded equi-join only") {
    val s = shape("q117_perceptual_dup")
    assert(onceReads("q117_perceptual_dup", "sig") >= 2,
      "signature table recomputed per band-join side instead of computed once")
    assert(!s.has[CartesianProductExec] && !s.has[BroadcastNestedLoopJoinExec],
      "candidates must come from the half-band equi-join")
  }

  test("q104 cross-language leak: one shuffle on the content key") {
    assert(shape("q104_crosslang_dup").joins.isEmpty,
      "cross-lang audit must be a pure aggregation")
  }

  test("q108 containment: postings cached, counts joined onto pairs") {
    val s = shape("q108_containment")
    assert(s.count[InMemoryTableScanExec] >= 2, "postings must be cached across the self-join sides")
    assert(s.joins.exists(_.joinType == LeftAnti), "stop-shingle cap lost its anti-join")
  }

  test("q109 PMI: unigram table cached, totals broadcast, bounded top-20") {
    val s = shape("q109_pmi_collocations")
    assert(onceReads("q109_pmi_collocations", "tok", "c2") >= 2,
      "unigram counts must be computed once for the w1/w2 joins")
    assert(s.has[TakeOrderedAndProjectExec], "top-20 must be a bounded take, not a full sort")
    assert(broadcastJoin(s), "single-row totals must be broadcast")
  }

  test("q105 Zipf: rank windows are per-language, never corpus-wide") {
    assert(keyedWindows(shape("q105_zipf_audit"), "lang"),
      "un-partitioned vocab window crept in")
  }

  test("q106 correlation: moment table cached, diagonal lookups broadcast") {
    val s = shape("q106_corr_audit")
    assert(onceReads("q106_corr_audit", "sxy") >= 2,
      "d² moment table must be computed once for the diagonal and off-diagonal reads")
    assert(s.has[BroadcastHashJoinExec], "diagonal stats lost their broadcast")
    assert(!s.has[SortMergeJoinExec])
    assert(s.has[TakeOrderedAndProjectExec], "top-10 must be a bounded take, not a full sort")
  }

  test("q107 novelty: postings built once, no pairwise join") {
    val s = shape("q107_novelty_curve")
    assert(s.count[InMemoryTableScanExec] >= 2,
      "shingle postings must be cached for first-seen agg and probe side")
    assert(!s.has[CartesianProductExec])
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
    val s = shape("q132_hybrid_rrf")
    // each retrieval list is cut by a bounded take on its rounded score —
    // the corpus is never globally sorted
    assert(s.count[TakeOrderedAndProjectExec] >= 2,
      "sparse and dense top-50 cuts must both be bounded takes")
    // the rank windows run over the 50-row cuts and carry the constant
    // partition key that declares them deliberately bounded — a bare
    // corpus window would have an empty partition spec
    assert(s.windows.nonEmpty, "rank windows missing")
    s.windows.foreach(w => assert(w.partitionSpec.nonEmpty && PlanShape.keys(w).isEmpty,
      s"unbounded window crept into the fusion: ${PlanShape.render(w)}"))
    assert(!s.has[CartesianProductExec], "probe must broadcast")
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
    val s = shape("q121_winnowing")
    // selection windows partition by doc_id — a corpus-wide window here
    // would serialize the whole fingerprint selection
    assert(keyedWindows(s, "doc_id"), "corpus-wide window crept in")
    assert(onceReads("q121_winnowing", "fp") >= 2,
      "selected fingerprints must be computed once for hot-set agg + join sides")
    assert(s.joins.exists(_.joinType == LeftAnti), "fingerprint df-cap lost its anti-join")
    assert(!s.has[CartesianProductExec])
  }

  test("q122 dedup stratification: canonical lookup broadcast, labels cached") {
    val s = shape("q122_dedup_by_source")
    assert(s.has[BroadcastHashJoinExec],
      "canonical-source lookup must broadcast (component-count-sized)")
    assert(s.has[InMemoryTableScanExec], "labeled docs must be cached for canonical + kill passes")
    assert(!s.has[CartesianProductExec])
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
    assert(shape("q34_ann_lsh").hasExpr[DotF64])
  }

  test("q124 bloom: the occupied-position probe is a broadcast join — " +
      "the probe side never shuffle-joins the train corpus") {
    val s = shape("q124_bloom_decontam")
    // the bloom membership join must broadcast the O(m)-bounded position
    // set; only the exact-control join may shuffle by hash
    assert(s.has[BroadcastHashJoinExec], "bloom position probe lost its broadcast")
    val smj = s.count[SortMergeJoinExec]
    assert(smj <= 3, s"unexpected sort-merge joins ($smj) — the bloom " +
      "path should join only against the broadcast position set")
  }

  test("q125 chunking: map-only — no join, no window, no hash exchange " +
      "before the presentation sort") {
    val s = shape("q125_chunk_sliding")
    assert(s.hashExchanges == 0, "chunking must not shuffle — it is per-document arithmetic")
    assert(s.joins.isEmpty, "chunking needs no join")
    assert(s.windows.isEmpty, "chunking needs no window")
  }

  test("q126/q127/q128 scrub + blocklist + truncation: one small-key " +
      "aggregation, no join, no window") {
    for (name <- Seq("q126_pii_scrub", "q127_blocklist_filter",
        "q128_truncation_loss")) {
      val s = shape(name)
      assert(s.hashExchanges == 1,
        s"$name is scan → row kernel → one agg on a small key; got:\n${s.render}")
      assert(s.joins.isEmpty, s"$name needs no join")
      assert(s.windows.isEmpty, s"$name needs no window")
    }
  }

  test("q129 precision audit: verify join semi-reduced by candidates, " +
      "postings cached") {
    val s = shape("q129_lsh_precision")
    // the exact-Jaccard pass must touch candidate collisions only —
    // the candidate semi-join gates the collision join's aggregation
    assert(s.joins.exists(_.joinType == LeftSemi), "candidate semi-reduction lost")
    assert(s.count[InMemoryTableScanExec] >= 2,
      "capped postings must be cached across the collision join sides")
    assert(!s.has[CartesianProductExec])
  }

  test("q123 ewa: scatter-splat — bounded explode into one aggregate, " +
      "no join, no window") {
    // exchange COUNT is sensitive to cross-suite cache state: a frame
    // persisted by an earlier suite substitutes an InMemoryRelation whose
    // partitioning no longer satisfies the agg, adding one exchange. Pin
    // the pristine plan (Verify/Bench likewise clear between queries).
    // same shape contract for the circular (q123) and swath-ellipse
    // (q131) variants: the ellipse only changes weights and the constant
    // fan-out (9 vs 15), never the plan class
    for (name <- Seq("q123_resample_ewa", "q131_resample_ewa_swath")) {
      val s = shape(name)
      // two generators (ky, kx) with constant-length sequences — the
      // splat fan-out is a plan-time constant, not data-dependent
      assert(s.generators.count(_.isInstanceOf[Explode]) == 2,
        s"$name must splat via the two bounded explodes")
      // cells agg + splat agg: shuffles stay constant-count; the scatter
      // direction means no join and no radius-search window anywhere
      assert(s.hashExchanges == 2,
        s"$name should shuffle only for the cell agg and the target-key agg")
      assert(s.joins.isEmpty, s"$name is scatter — no gather join")
      assert(s.windows.isEmpty, s"$name must not use a window")
    }
  }

  test("q69 k-means: assignment is a broadcast centroid-array join, no window") {
    val s = shape("q69_kmeans_refine")
    // both assignment passes: N×k broadcast join against k centroid ARRAYS
    // (dot-kernel distance) — never the N×64 component explode joined
    // against k×64 centroid rows
    assert(s.count[BroadcastNestedLoopJoinExec] >= 2,
      "assignment lost its broadcast centroid-array join")
    assert(!s.has[SortMergeJoinExec], "a shuffle join crept into the assignment pass")
    // argmin is the lexicographic struct-min aggregation, not a window rank
    assert(s.windows.isEmpty, "argmin must not use a window sort")
  }

  test("q35 centroid stats: vector rows join broadcast arrays, zero explodes") {
    val s = shape("q35_label_centroids")
    assert(s.has[BroadcastHashJoinExec], "centroid-array join lost its broadcast")
    assert(s.windows.isEmpty, "q35 must not use a window")
    // round 12: the centroid BUILD runs through the VecSum vector-grain
    // aggregator, so NO explode remains anywhere — neither the build nor
    // the distance pass multiplies rows by the dimensionality
    assert(!s.generators.exists(_.isInstanceOf[PosExplode]),
      "a component explode crept back into the centroid path")
    assert(s.expressions.exists {
      case a: ScalaAggregator[_, _, _] => a.agg == VecSum
      case _ => false
    }, s"centroid build lost the VecSum kernel:\n${s.render}")
  }

  test("q58 quantization: array-at-a-time — zero explodes, stats broadcast") {
    val s = shape("q58_quantization")
    assert(!s.generators.exists(_.isInstanceOf[PosExplode]),
      "q58 regressed to the per-component explode")
    assert(s.has[BroadcastNestedLoopJoinExec] || s.has[BroadcastExchangeExec],
      "the 1-row dimension-stats frame must broadcast")
    assert(s.windows.isEmpty, "q58 must not use a window")
  }

  test("q36 IVF: coarse assignment rides the same centroid-array shape") {
    val s = shape("q36_ann_ivf")
    assert(s.count[BroadcastNestedLoopJoinExec] >= 1,
      "coarse assignment lost its broadcast centroid-array join")
    assert(s.count[BroadcastHashJoinExec] >= 1, "cluster-probe / query join lost its broadcast")
    assert(s.windows.isEmpty, "argmin/top-k must stay aggregations, not window sorts")
  }

  test("q133/q136 hygiene + NFC: row-local kernels + one source agg, no joins") {
    for (name <- Seq("q133_encoding_hygiene", "q136_unicode_nfc")) {
      val s = shape(name)
      assert(s.hashExchanges == 1, s"$name should shuffle once, for the source-key aggregation")
      assert(s.joins.isEmpty, s"$name is a scan + agg — no join")
      assert(s.windows.isEmpty, s"$name must not use a window")
    }
  }

  test("q134 k-center rounds are shuffle-free: narrow map + bounded argmax") {
    // each selection round = min-distance update (narrow) + TakeOrdered(1);
    // no hash exchange, no join, no window anywhere in the final state plan
    val s = shape("q134_kcenter_coreset")
    assert(s.hashExchanges == 0,
      "a k-center round introduced a shuffle — the rounds must stay narrow")
    assert(s.joins.isEmpty, "k-center must not join — centers ride as literals")
  }

  test("q135 folds: one corpus pass — labels join, then fold aggregation") {
    val s = shape("q135_leakage_safe_folds")
    // corpus ⋈ labels (labels may be corpus-fraction-sized: NO forced
    // broadcast), then the (fold,grp) distinct expansion + fold agg
    assert(!s.has[BroadcastHashJoinExec],
      "labels side must not be force-broadcast (corpus-fraction-sized)")
    assert(s.joins.exists(_.leftKeys.nonEmpty), "q135 lost its labels join")
    assert(s.windows.isEmpty, "q135 must not use a window")
  }

  test("q137 paragraph dedup: min-struct canonical, no window over ph") {
    val s = shape("q137_paragraph_dedup")
    // the canonical-instance choice must stay a map-side-combinable
    // aggregation — a row_number window partitioned by ph would pile a
    // corpus-frequent boilerplate paragraph onto one partition
    assert(s.windows.isEmpty, "q137 regressed to a window over paragraph hashes (skew bomb)")
    // canonical table joins back without a forced broadcast (it is
    // distinct-paragraph-sized, i.e. corpus-scale)
    assert(s.joins.exists(_.leftKeys.nonEmpty), "q137 lost its canonical join")
    assert(!s.has[CartesianProductExec], "q137 must never cross-join")
  }

  test("q140 calibration: row-kernel scoring, 10-key agg, bin-table total") {
    val s = shape("q140_calibration_audit")
    // scoring is a zero-join row kernel; the total is a sum over the
    // <=10 bin rows, so no join at all
    assert(s.joins.isEmpty, "q140's total must not join back")
    // the one window is the single-partition total over the bin
    // aggregate: bins 0..9 plus a null bin, never corpus rows
    assertNoCorpusWindow("q140_calibration_audit", None, 11)
    assert(s.hashExchanges <= 2, "q140 should shuffle only for the bin agg (+ the bin-table total)")
  }

  test("q139 overpass sunlight: constant-size grid, single data-sized agg") {
    val s = shape("q139_overpass_sunlight")
    // the only corpus-sized term is the one-row max(ts) aggregate; the
    // grid×track expansion is plan-constant and rides a broadcast
    assert(broadcastJoin(s), "the one-row scene timestamp must broadcast onto the constant grid")
    assert(!s.has[SortMergeJoinExec], "q139 must not shuffle-join")
    assert(s.windows.isEmpty, "q139 must not use a window")
    val reads = s.scans.map(_.requiredSchema.fieldNames.toSeq)
    assert(reads.nonEmpty && reads.forall(_ == Seq("ts")), s"q139 should read only events.ts: $reads")
  }

  test("q141 agreement: zero-shuffle row kernel into one global agg") {
    val s = shape("q141_label_agreement")
    assert(s.hashExchanges == 0,
      "q141 must reduce to a single map-side-combined global aggregation")
    assert(s.joins.isEmpty, "q141 must not join")
    assert(s.windows.isEmpty, "q141 must not use a window")
  }

  test("q142 shuffle audit: cell-grain aggs only, no cartesian/window") {
    val s = shape("q142_shuffle_uniformity")
    assert(!s.has[CartesianProductExec], "q142 must never cross-join")
    assert(s.windows.isEmpty, "q142 must not use a window")
    // everything after the scan lives at (source, shard) grain or finer:
    // the cells agg, the per-source rollup, and the source equi-join
    assert(s.hashExchanges <= 3, s"q142 grew extra shuffles:\n${s.render}")
  }

  test("q111 drift: rides the shared postings cache, sig compare stays source-grain") {
    val s = shape("q111_minhash_drift")
    assert(s.has[InMemoryTableScanExec],
      "q111 must derive source postings from the shared postings cache")
    assert(!s.has[CartesianProductExec], "q111 must never cross-join")
    assert(s.windows.isEmpty, "q111 must not use a window")
  }

  test("q144 anisotropy: bounded-grain aggs, no window, no cartesian") {
    val s = shape("q144_anisotropy_audit")
    assert(!s.has[CartesianProductExec], "q144 must never cross-join")
    assert(s.windows.isEmpty, "q144 must not use a window")
    // (label, dim) cells, label norms, the label-grain join, and the
    // final tiny sort — nothing at vector grain crosses an exchange twice
    assert(s.hashExchanges <= 4, s"q144 grew extra shuffles:\n${s.render}")
  }

  test("q149 agreement: shared postings, sig-blocked semantic join, no cartesian") {
    val s = shape("q149_decontam_agreement")
    assert(s.has[InMemoryTableScanExec], "q149 must ride the shared 8-gram postings cache")
    assert(!s.has[CartesianProductExec], "q149 must never cross-join")
    // the semantic side must stay a signature-bucket equi-join (sig=tsig)
    assert(!s.has[BroadcastNestedLoopJoinExec],
      "q149's semantic side degenerated to a nested-loop join")
  }

  test("q148 bootstrap: bounded-grain aggs only, no window, no cartesian") {
    val s = shape("q148_bootstrap_ci")
    assert(!s.has[CartesianProductExec], "q148 must never cross-join")
    assert(s.windows.isEmpty, "q148 must not use a window")
    // (source, b) replicate agg, the source-grain CI + mean aggs, their
    // join — everything past the explode lives at O(sources·32) grain
    assert(s.hashExchanges <= 4, s"q148 grew extra shuffles:\n${s.render}")
  }

  test("q147 acquisition: bounded top-k, never a global sort") {
    val s = shape("q147_uncertainty_sample")
    assert(s.has[TakeOrderedAndProjectExec],
      "q147 must select via per-partition top-k heaps, not a sort+limit")
    assert(s.hashExchanges == 0, s"q147 must not shuffle:\n${s.render}")
    assert(s.windows.isEmpty, "q147 must not use a window")
  }

  test("q146 decontam: row-local max-cos kernel, one label-grain shuffle") {
    val s = shape("q146_semantic_decontam")
    // the eval suite rides in as ONE broadcast array row; the per-vector
    // max-cos is a fold, so the only hash exchange is the label agg
    assert(s.hashExchanges <= 1, s"q146 grew a vector-grain shuffle:\n${s.render}")
    assert(s.has[BroadcastNestedLoopJoinExec], "q146 must cross the 1-row broadcast eval array")
    assert(!s.has[SortMergeJoinExec], "q146 must not shuffle-join")
    assert(s.windows.isEmpty, "q146 must not use a window")
  }

  test("q145 padding: zero joins, one aggregation over a row kernel") {
    val s = shape("q145_padding_waste")
    assert(s.joins.isEmpty, "q145 must not join")
    assert(s.windows.isEmpty, "q145 must not use a window")
    assert(s.hashExchanges <= 1, s"q145 must be one map-side-combined agg:\n${s.render}")
  }

  test("q152 boilerplate removal: no ph-partitioned window, equi-joins only") {
    val s = shape("q152_boilerplate_removal")
    assert(s.windows.isEmpty,
      "q152 must not window-partition by segment hash (hot-key pile-up)")
    assert(!s.has[CartesianProductExec], "q152 must never cross-join")
    assert(s.partial[Count], "q152's df count must partial-aggregate map-side")
  }

  test("q153 cluster representative: cluster-grain aggs, no pair blowup") {
    val s = shape("q153_cluster_representative")
    assert(!s.has[CartesianProductExec], "q153 must never cross-join")
    assert(s.partial[Count] || s.partial[Min],
      "q153's cluster stats must partial-aggregate map-side")
  }

  test("q151 pass schedule: events scan prunes to ts_ns, windows broadcast") {
    val s = shape("q151_pass_schedule")
    // the only data-sized term: events joined against the broadcast
    // window table — never a shuffle-join of events by window key
    assert(broadcastJoin(s), "q151's event attribution must broadcast the window table")
    assert(!s.has[SortMergeJoinExec],
      "q151 must not shuffle the events table against config-sized windows")
  }

  test("q157 SCD2 probe: as-of union-window shape, no range join, user-partitioned windows") {
    val s = shape("q157_scd2_probe")
    // the containment join is expressed as AsOfJoin's union + ordered
    // window — an interval predicate would plan as a nested-loop join
    // that explodes at probe x version scale
    assert(!s.has[BroadcastNestedLoopJoinExec] && !s.has[CartesianProductExec],
      "q157 must never plan the interval containment as a nested-loop join")
    assert(s.has[UnionExec], "q157 lost the as-of union shape")
    // every window partitions by user_id — state bounded per user, never
    // corpus-wide
    assert(keyedWindows(s, "user_id"), "q157 has a window not partitioned by user_id")
  }

  test("q126 PII scan: match counting runs the native rx_count kernel") {
    val s = shape("q126_pii_scrub")
    assert(s.hasExpr[RxCountExpr],
      "q126's counts must rewrite to the allocation-free rx_count kernel")
    assert(!s.hasExpr[RegExpExtractAll],
      "q126 must not materialize match arrays just to count them")
  }

  test("q158 BPE apply: joinless corpus pass, one lang-grain shuffle") {
    val s = shape("q158_bpe_apply")
    // the trained merges are plan literals: the corpus pass must carry
    // NO join anywhere — a join against a merge table would ship the
    // model as data instead of code
    assert(s.joins.isEmpty, s"q158 must be joinless:\n${s.render}")
    assert(s.hashExchanges == 1,
      s"q158 should shuffle exactly once (the lang aggregation), got ${s.hashExchanges}")
    assert(s.partial[Count] || s.partial[Sum],
      "q158's lang aggregation must partial-aggregate map-side")
  }

  test("q159 time-to-event: as-of union-window shape, no range join") {
    val s = shape("q159_time_to_event")
    assert(!s.has[BroadcastNestedLoopJoinExec] && !s.has[CartesianProductExec],
      "q159 must never plan the next-event match as a nested-loop range join")
    assert(s.has[UnionExec], "q159 lost the as-of union shape")
    assert(keyedWindows(s, "user_id"), "q159 has a window not partitioned by user_id")
  }

  test("q143 sweep: rides the shared capped postings, no cartesian") {
    val s = shape("q143_jaccard_sweep")
    assert(s.has[InMemoryTableScanExec],
      "q143 must read the session-shared capped postings cache")
    assert(!s.has[CartesianProductExec], "q143 must never cross-join")
    // the candidate join must stay an inner equi-join on the shingle
    // hash (the only nested-loop join in the tree is the cached postings
    // build's 1-row ndocs stat cross — plan-constant, not pair-grain)
    assert(s.joins.exists(j => j.joinType == Inner &&
      j.leftKeys.headOption.exists(_.references.exists(_.name == "h"))),
      s"q143 lost the shingle-hash equi-join:\n${s.render}")
  }

  test("q46/q132 probe prunes the BM25 index to query terms via broadcast") {
    // SURVEY §6's index scale story: the probe joins the TINY query-term
    // list as the broadcast build side against the index scan, so the
    // full postings list is pruned map-side BEFORE any shuffle — no
    // exchange of the index ever happens. Pinned structurally: a
    // BroadcastHashJoin whose streamed side is the (cached) index scan
    // with zero Exchange between join and scan.
    // AQE off: the pin is a static plan property of the planned joins
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (name <- Seq("q46_bm25", "q132_hybrid_rrf")) {
      graft.queries.SharedFrames.warmFor(name, spark, sf)
      val s = PlanShape.of(SparkEntry.queries(name)(spark, sf), PlanShape.Leaf)
      val probes = s.all[BroadcastHashJoinExec].filter { j =>
        val streamed = PlanShape(if (j.buildSide == BuildLeft) j.right else j.left, PlanShape.Leaf)
        streamed.has[InMemoryTableScanExec] && !streamed.has[Exchange]
      }
      assert(probes.nonEmpty,
        s"$name lost the broadcast term-prune against the un-shuffled index scan:\n${s.render}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("membership fingerprints are commutative sums, never collected arrays") {
    // q60's "train" split is ~90% of the corpus and a degenerate q59
    // cluster can swallow most documents: a sort_array(collect_list(id))
    // fingerprint buffers every member id in ONE aggregation buffer (the
    // round-11 scale probe's worst slope). The sum-of-hashes idiom keeps
    // O(1) agg state — pinned here as a Partial-mode sum in the physical
    // plan (map-side combine) with no collect_list anywhere in the tree.
    // q100's admitted_fp joined the idiom in round 13: its group is the
    // admitted *batch* (bounded), but a fat delivery with few languages
    // concentrates the same way, and the sum idiom is a drop-in.
    for (name <- Seq("q59_dup_clusters", "q60_curated_corpus",
        "q101_quality_blend", "q100_incremental_dedup")) {
      val s = shape(name)
      assert(!s.hasExpr[CollectList], s"$name regressed to an unbounded collect_list fingerprint")
      assert(s.partial[Sum],
        s"$name's fingerprint aggregation lost its map-side partial:\n${s.render}")
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
    shape("q162_decontam_blocked").all[BaseAggregateExec]
      .filter(_.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[CollectList]))
      .foreach { a =>
        assert(a.groupingExpressions.headOption.exists(_.references.exists(_.name.startsWith("cell"))),
          s"blocked q146 collects an array NOT keyed by cell (suite-sized row risk):\n" +
            PlanShape.render(a))
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
        val rs = PlanShape.of(routed)
        assert(rs.has[ObjectHashAggregateExec],
          "routing mode lost the bounded TopK probe aggregation")
        assert(rs.windows.isEmpty, "probe assembly regressed to a window rank over N*k rows")
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
    def bhjCount(): Int = shape("q05_region_revenue").count[BroadcastHashJoinExec]
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
      def broadcasts(filtered: org.apache.spark.sql.DataFrame): Boolean =
        PlanShape.of(li.join(filtered, li("l_orderkey") === filtered("o_orderkey"))
          .groupBy(col("o_custkey")).count()).has[BroadcastHashJoinExec]
      val eqSide = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_custkey") === 7)
      val rangeSide = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 0.0)
      spark.conf.set(StatsStore.EnabledConf, "false")
      assert(!broadcasts(eqSide),
        "baseline: rule off must leave the sort-merge join")
      spark.conf.set(StatsStore.EnabledConf, "true")
      assert(broadcasts(eqSide),
        "equality-filtered side (est rows/ndv) failed to flip to broadcast")
      assert(!broadcasts(rangeSide),
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
      assert(!broadcasts(aliasSide),
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
        val overBudget = PlanShape.of(SparkEntry.queries(name)(spark, sf), PlanShape.Leaf)
          .all[BroadcastExchangeExec].flatMap(b => PlanShape(b, PlanShape.Leaf).scans)
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
      // aggregation groups by the salt column
      val salted = shape("q67_salted_agg").all[BaseAggregateExec].filter { a =>
        a.aggregateExpressions.exists(_.mode == Partial) &&
          a.groupingExpressions.exists(_.references.exists(_.name == "_graft_salt"))
      }
      assert(salted.nonEmpty, "q67 lost its salt stage")
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
      val joined = ords.join(cust, ords("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment")).count()
      assert(PlanShape.of(joined).has[BroadcastHashJoinExec],
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
