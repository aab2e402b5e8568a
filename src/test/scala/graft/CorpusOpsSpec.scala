package graft

/** Semantic invariants for the round-4 pack (q89-q95) — properties the
  * DuckDB oracle can't see because both engines could get them wrong the
  * same way (graph identities, Bloom guarantees, entropy bounds). */
class CorpusOpsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q89 triangle participation sums to a multiple of 3") {
    val rows = run("q89_triangle_count").collect()
    assert(rows.nonEmpty)
    // each triangle contributes exactly one count to each of its 3 corners
    val tot = rows.map(_.getAs[Long]("n_tri")).sum
    assert(tot % 3 == 0, s"total participation $tot not a multiple of 3")
    // degree is bounded by the number of other nodes
    rows.foreach(r => assert(r.getAs[Long]("degree") <= rows.length - 1))
  }

  test("q90 retention is 1.0 at offset 0 and never exceeds cohort size") {
    val rows = run("q90_retention_cohorts").collect()
    val base = rows.filter(_.getAs[Long]("offset_wk") == 0L)
    assert(base.nonEmpty, "no offset-0 cohort rows")
    base.foreach(r =>
      assert(math.abs(r.getAs[Double]("retention") - 1.0) < 1e-6))
    rows.foreach { r =>
      assert(r.getAs[Long]("offset_wk") >= 0L)
      assert(r.getAs[Double]("retention") <= 1.0 + 1e-9)
    }
  }

  test("q91 every reported outlier day is >= 2 sigma above its user mean") {
    val rows = run("q91_outlier_days").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("z") >= 2.0,
      s"z=${r.getAs[Double]("z")} below the 2-sigma cut"))
  }

  test("q92 chunk geometry is consistent (count, stride, padding)") {
    val rows = run("q92_context_chunks").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_toks")
      val c = r.getAs[Long]("n_chunks")
      val pad = r.getAs[Long]("pad")
      assert(c == (n - 1) / 24 + 1, s"n_chunks $c wrong for $n tokens")
      assert(pad == math.max(0L, 32L - (n - 24L * (c - 1))),
        s"pad $pad wrong for $n tokens / $c chunks")
    }
  }

  test("q93 prefix pairs are strict (prefix shorter) and text-verified") {
    val d = graft.sources.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = run("q93_prefix_dup").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("prefix_toks") < r.getAs[Long]("full_toks"))
      val a = d(r.getAs[Long]("prefix_doc"))
      val b = d(r.getAs[Long]("full_doc"))
      assert(b.startsWith(a + " "), "reported pair is not a token-boundary prefix")
    }
  }

  test("q94 entropy is within [0, ln(n_uniq)] and evenness within [0, 1]") {
    run("q94_token_entropy").collect().foreach { r =>
      // 1e-5 epsilon: values are rounded to 5 dp, so a uniform document
      // can land half an ulp-of-rounding above the exact ln(n_uniq)
      val h = r.getAs[Double]("entropy")
      val bound = math.log(r.getAs[Long]("n_uniq").toDouble)
      assert(h >= -1e-5 && h <= bound + 1e-5,
        s"entropy $h outside [0, $bound]")
      val e = r.getAs[Double]("evenness")
      assert(e >= -1e-5 && e <= 1.0 + 1e-5)
    }
  }

  test("q96 sorted neighborhood finds every exact-dup adjacency at jac 1.0") {
    val pairs = run("q96_sorted_neighborhood").collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getAs[Double]("jac") >= 0.8))
    // q28's content key IS q96's sort key (bag-of-words normal form), so
    // each exact-dup group of size g sorts contiguously and contributes
    // at least g-1 unit-Jaccard neighbor pairs
    val expected = run("q28_exact_dedup").collect()
      .map(_.getAs[Long]("n_docs") - 1).sum
    val unit = pairs.count(_.getAs[Double]("jac") >= 1.0 - 1e-9)
    assert(unit >= expected,
      s"$unit unit-Jaccard pairs < $expected exact-dup adjacencies")
  }

  test("q97 winsorized mean never exceeds the raw mean, clipping bounded") {
    val rows = run("q97_winsorized_stats").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_wins") <= r.getAs[Double]("mean_raw") + 1e-9)
      // at most ~10% of a source sits strictly above its own p90
      assert(r.getAs[Long]("n_clipped") <=
        math.ceil(0.1 * r.getAs[Long]("n_docs")).toLong)
    }
  }

  test("q98 overlap matrix covers all source pairs with valid Jaccards") {
    val rows = run("q98_source_overlap").collect()
    assert(rows.length == 20 * 19 / 2)
    rows.foreach { r =>
      val inter = r.getAs[Long]("inter")
      assert(inter <= math.min(r.getAs[Long]("na"), r.getAs[Long]("nb")))
      val j = r.getAs[Double]("jac")
      assert(j >= 0.0 && j <= 1.0 + 1e-9)
    }
  }

  test("q137 paragraph dedup: arithmetic closes, one keeper per distinct paragraph") {
    val rows = run("q137_paragraph_dedup").collect()
    assert(rows.length == 20, s"expected 20 sources, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed") ==
        r.getAs[Long]("n_paras"))
      val pct = r.getAs[Double]("removed_pct")
      assert(pct >= 0.0 && pct <= 1.0 + 1e-9)
    }
    // exactly one instance of every distinct paragraph survives globally
    val inst = graft.queries.Dedup.paraInstances(spark, sf)
    val distinctPh = inst.select("ph").distinct().count()
    assert(rows.map(_.getAs[Long]("n_kept")).sum == distinctPh,
      "kept-instance total must equal the distinct-paragraph count")
  }

  test("q137 paragraph grain agrees with q76's CDC chunk geometry") {
    // same boundary rule: paragraph count per doc equals q76's n_chunks,
    // minus one exactly when the document's final token is itself a
    // boundary (q137 merges the empty trailing segment; q76 counts it)
    val perDoc = graft.queries.Dedup.paraInstances(spark, sf)
      .groupBy("doc_id").count().collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
    val chunks = run("q76_cdc_chunking").collect()
    assert(chunks.nonEmpty)
    chunks.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nc = r.getAs[Long]("n_chunks")
      val np = perDoc.getOrElse(id, 0L)
      assert(np == nc || np == nc - 1,
        s"doc $id: $np paragraphs vs $nc CDC chunks")
    }
  }

  test("q141 agreement: cells close over the corpus, kappa ties to po/pe") {
    val r = run("q141_label_agreement").collect()
    assert(r.length == 1)
    val row = r.head
    val n = row.getAs[Long]("n_docs")
    val cells = Seq("n_11", "n_10", "n_01", "n_00").map(row.getAs[Long](_))
    assert(cells.sum == n, s"confusion cells ${cells.sum} != n_docs $n")
    assert(cells.forall(_ > 0), s"degenerate confusion matrix: $cells")
    val (po, pe, k) = (row.getAs[Double]("po"), row.getAs[Double]("pe"),
      row.getAs[Double]("kappa"))
    assert(po >= 0 && po <= 1 && pe > 0 && pe < 1)
    // kappa re-derives from the published po/pe (both pre-rounded, so
    // the identity holds to the rounding grain)
    assert(math.abs(k - (po - pe) / (1 - pe)) < 1e-4,
      s"kappa $k inconsistent with po=$po pe=$pe")
  }

  test("q142 shuffle audit: strata close over the corpus, stats non-negative") {
    val rows = run("q142_shuffle_uniformity").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val corpus = graft.sources.Tables.documents(spark, sf).count()
    assert(total == corpus, s"per-source docs $total != corpus $corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_shards") >= 1 && r.getAs[Long]("n_shards") <= 16)
      assert(r.getAs[Double]("chi2") >= 0.0)
      assert(r.getAs[Double]("max_dev") >= 0.0)
      // max per-shard deviation can't exceed the stratum itself
      assert(r.getAs[Double]("max_dev") <= r.getAs[Long]("n_docs").toDouble)
    }
  }

  test("q143 sweep: suffix-sums close and the >=0.6 tail equals q29's pairs") {
    val rows = run("q143_jaccard_sweep").collect()
    assert(rows.nonEmpty)
    val byDec = rows.map(r => r.getAs[Int]("decile") -> r).toMap
    rows.foreach { r =>
      val d = r.getAs[Int]("decile")
      assert(d >= 0 && d <= 9)
      // cum_pairs_ge is the suffix-sum of n_pairs over deciles >= d
      val suffix = rows.filter(_.getAs[Int]("decile") >= d)
        .map(_.getAs[Long]("n_pairs")).sum
      assert(r.getAs[Long]("cum_pairs_ge") == suffix,
        s"decile $d cum ${r.getAs[Long]("cum_pairs_ge")} != suffix $suffix")
    }
    // pricing the q29 threshold off the sweep must agree with q29 itself:
    // jac >= 0.6 pairs = every decile-6..9 pair (bins are round-to-5dp
    // exact, so the 0.6 boundary bins identically in both queries)
    val tail = rows.filter(_.getAs[Int]("decile") >= 6)
      .map(_.getAs[Long]("n_pairs")).sum
    val q29Pairs = run("q29_ngram_jaccard").count()
    assert(tail == q29Pairs, s"sweep tail $tail != q29 pair count $q29Pairs")
    assert(byDec.keySet.subsetOf((0 to 9).toSet))
  }

  test("q144 anisotropy: Jensen bound holds and strata close over the corpus") {
    val rows = run("q144_anisotropy_audit").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(total == corpus, s"per-label vecs $total != corpus $corpus")
    rows.foreach { r =>
      val (mu, ms, a) = (r.getAs[Double]("mu_nrm"),
        r.getAs[Double]("mean_sq_norm"), r.getAs[Double]("anisotropy"))
      // Jensen: ||E x||^2 <= E ||x||^2 (slack for the 6dp centroid rounding)
      assert(mu <= ms + 1e-3, s"label ${r.get(0)}: mu_nrm $mu > mean_sq_norm $ms")
      assert(a >= 0.0 && a <= 1.0 + 1e-3, s"anisotropy $a outside [0,1]")
      assert(math.abs(a - mu / ms) < 1e-4, s"anisotropy $a inconsistent")
      assert(r.getAs[Double]("max_abs_mean") >= 0.0)
    }
  }

  test("q145 padding: capacity identity, corpus closure, truncation only at the top cap") {
    val rows = run("q145_padding_waste").collect()
    assert(rows.nonEmpty)
    val caps = Set(16L, 32L, 64L, 128L)
    assert(rows.map(_.getAs[Int]("cap").toLong).forall(caps))
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val corpus = graft.sources.Tables.documents(spark, sf).count()
    assert(total == corpus, s"bucketed docs $total != corpus $corpus")
    rows.foreach { r =>
      val cap = r.getAs[Int]("cap").toLong
      val capacity = cap * r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("used_tokens") + r.getAs[Long]("pad_tokens") == capacity,
        s"cap $cap: used+pad != capacity")
      val pf = r.getAs[Double]("pad_frac")
      assert(pf >= 0.0 && pf < 1.0)
      if (cap != 128)
        assert(r.getAs[Long]("truncated_tokens") == 0L,
          s"cap $cap truncated below the top bucket")
    }
    // the fixture's >128-token tail makes the truncation arm non-vacuous
    assert(rows.find(_.getAs[Int]("cap") == 128)
      .exists(_.getAs[Long]("truncated_tokens") > 0L),
      "expected truncation in the 128 bucket at this fixture")
  }

  test("q149 agreement matrix: closure, Bloom superset law, consistent ratios") {
    import org.apache.spark.sql.functions._
    val rows = run("q149_decontam_agreement").collect()
    assert(rows.length == 3)
    val nTest = graft.sources.Tables.documents(spark, sf)
      .filter(graft.functions.TextFns.h32(
        concat(lit("split_"), col("doc_id"))) % 100 >= 95).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") == nTest)
      val (both, oa, ob, n) = (r.getAs[Long]("n_both"), r.getAs[Long]("n_only_a"),
        r.getAs[Long]("n_only_b"), r.getAs[Long]("n_docs"))
      val agree = r.getAs[Double]("agreement")
      assert(math.abs(agree - (n - oa - ob).toDouble / n) < 1e-4)
      val jac = r.getAs[Double]("jaccard")
      val any = both + oa + ob
      if (any > 0) assert(math.abs(jac - both.toDouble / any) < 1e-4)
      else assert(jac == 0.0)
    }
    // the Bloom guarantee: no false negatives — every exact-lexical flag
    // is also a Bloom flag, so 'lex only' must be empty in (bloom, lex)
    val bl = rows.find(r => r.getAs[String]("method_a") == "bloom" &&
      r.getAs[String]("method_b") == "lex").get
    assert(bl.getAs[Long]("n_only_b") == 0L,
      "a lexically-flagged doc escaped the Bloom filter (false negative)")
    // the fixture plants lexical contamination — the matrix is non-vacuous
    assert(bl.getAs[Long]("n_both") > 0L, "no lexical contamination found")
  }

  test("q148 bootstrap: strata close, intervals ordered and bracket the mean") {
    val rows = run("q148_bootstrap_ci").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.sources.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (m, lo, hi) = (r.getAs[Double]("mean_q"),
        r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      assert(m >= 0.0 && m <= 1.0)
      assert(lo <= hi, s"${r.get(0)}: ci_lo $lo > ci_hi $hi")
      assert(hi - lo < 0.5, s"${r.get(0)}: degenerate interval [$lo, $hi]")
      // 32 Poisson replicates cluster tightly around the point mean
      assert(lo <= m + 0.01 && m - 0.01 <= hi,
        s"${r.get(0)}: mean $m outside [$lo, $hi]")
    }
  }

  test("q147 acquisition: global min-margin batch, sorted and consistent") {
    val rows = run("q147_uncertainty_sample").collect()
    assert(rows.length == 20)
    val margins = rows.map(_.getAs[Double]("margin"))
    assert(margins.zip(margins.tail).forall { case (a, b) => a <= b },
      "acquisition batch must come back in ascending-margin order")
    rows.foreach { r =>
      val (p, m) = (r.getAs[Double]("p"), r.getAs[Double]("margin"))
      assert(p >= 0.0 && p <= 1.0)
      assert(math.abs(m - math.abs(p - 0.5)) < 1e-5,
        s"margin $m inconsistent with p $p")
    }
    // global top-k, not partition-local: no unselected doc may beat the
    // batch's worst margin (ties may straddle the cut)
    val worst = margins.max
    val selected = rows.map(_.getAs[Long]("doc_id")).toSet
    val strictlyBetter = {
      import org.apache.spark.sql.functions._
      val toks = graft.functions.TextFns.tokens(col("text"))
      // recompute margins corpus-wide with the same frozen model
      val feat = graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"),
          size(toks).as("n_words"),
          length(regexp_replace(col("text"), " ", "")).as("word_chars"),
          size(filter(toks, t => array_contains(
            array(lit("the"), lit("a"), lit("data"), lit("value")), t)))
            .as("n_stop"))
      val x1 = round(lit(1e-9) + least(lit(1.0), col("n_words").cast("double") / 100.0), 5)
      val x2 = round(lit(1e-9) + col("n_stop").cast("double") / col("n_words"), 5)
      val x3 = round(lit(1e-9) + least(lit(1.0),
        (col("word_chars").cast("double") / col("n_words")) / 8.0), 5)
      val z = round(lit(1e-9) + lit(-3.0) + lit(2.0) * x1 + lit(8.0) * x2 + lit(2.0) * x3, 6)
      val p = round(lit(1e-9) + lit(1.0) / (lit(1.0) + exp(-z)), 6)
      feat.select(col("doc_id"), round(lit(1e-9) + abs(p - lit(0.5)), 6).as("m"))
        .filter(col("m") < worst && !col("doc_id").isin(selected.toSeq: _*))
        .count()
    }
    assert(strictlyBetter == 0,
      s"$strictlyBetter unselected docs have strictly smaller margins than the batch")
  }

  test("q146 decontam: strata close over the held-in corpus, flags non-vacuous") {
    import org.apache.spark.sql.functions._
    val rows = run("q146_semantic_decontam").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_corpus")).sum
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 50 =!= 0).count()
    assert(total == corpus, s"per-label corpus $total != held-in $corpus")
    rows.foreach { r =>
      val (n, f, rate) = (r.getAs[Long]("n_corpus"), r.getAs[Long]("n_flagged"),
        r.getAs[Double]("flag_rate"))
      assert(f >= 0 && f <= n)
      assert(math.abs(rate - f.toDouble / n) < 1e-4,
        s"flag_rate $rate inconsistent with $f/$n")
    }
    val flagged = rows.map(_.getAs[Long]("n_flagged")).sum
    assert(flagged > 0, "threshold should flag the fixture's similarity tail")
    assert(flagged < total, "threshold must not flag everything")
  }

  test("q95 Bloom filter: no false negatives, bounded false-positive leakage") {
    val rows = run("q95_bloom_prune").collect()
    val urgent = rows.find(_.getAs[String]("o_orderpriority") == "1-URGENT").get
    // the Bloom guarantee: every member key passes
    assert(urgent.getAs[Long]("n_pass") == urgent.getAs[Long]("n_orders"))
    val rest = rows.filter(_.getAs[String]("o_orderpriority") != "1-URGENT")
    val fp = rest.map(_.getAs[Long]("n_pass")).sum.toDouble /
      rest.map(_.getAs[Long]("n_orders")).sum
    // 2^20 bits / 3 probes vs ~300 keys at sf0.001: FP rate ~1e-9
    assert(fp < 0.01, s"false-positive leakage $fp")
  }

  test("q152 boilerplate: df law, funnel consistency, non-trivial split") {
    val rows = run("q152_boilerplate_removal").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, rem, shapes, touched) = (r.getAs[Long]("n_segments"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("n_shapes"),
        r.getAs[Long]("n_docs_touched"))
      assert(rem <= n, "removed more segments than exist")
      assert(shapes <= rem, "more shapes than removed instances")
      assert(touched <= rem, "more touched docs than removed instances")
    }
    // every boilerplate SHAPE has >= 3 instances corpus-wide, so the
    // corpus-wide removed total must cover 3 per distinct shape; distinct
    // shapes corpus-wide <= sum of per-source shape counts, so bound via
    // an independent recomputation of the distinct flagged-shape count
    val totalRemoved = rows.map(_.getAs[Long]("n_removed")).sum
    import org.apache.spark.sql.functions._
    val distinctShapes = graft.queries.Dedup.paraInstances(spark, sf)
      .groupBy(col("ph")).agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3).count()
    assert(totalRemoved >= 3 * distinctShapes,
      s"df>=3 law violated: $totalRemoved removed < 3x$distinctShapes shapes")
    assert(totalRemoved > 0 && rows.exists(r =>
      r.getAs[Long]("n_removed") < r.getAs[Long]("n_segments")),
      "boilerplate split should be non-trivial on the fixture")
  }

  test("q153 representative: best beats min-id's quality, clusters are real") {
    import org.apache.spark.sql.functions._
    val rows = run("q153_cluster_representative").collect()
    assert(rows.nonEmpty)
    // independent per-doc quality recomputation (the q24 blend)
    val toks = graft.functions.TextFns.tokens(col("text"))
    val q = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(toks).as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("word_chars"),
        size(filter(toks, t => array_contains(
          array(lit("the"), lit("a"), lit("data"), lit("value")), t))).as("n_stop"))
      .select(col("doc_id"), graft.queries.TextAnalysis.qualityCol.as("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2, "a dup cluster needs >= 2 members")
      val best = r.getAs[Long]("best_doc"); val minD = r.getAs[Long]("min_doc")
      assert(r.getAs[Double]("best_quality") == q(best),
        "best_quality must be the best doc's own q24 score")
      assert(q(best) >= q(minD) - 1e-12,
        s"argmax-quality rep $best scores below the min-id rep $minD")
      val differs = r.getAs[Int]("quality_beats_minid")
      assert((differs == 1) == (best != minD))
      if (best != minD)
        assert(q(best) >= q(minD), "policy difference without a quality gain")
    }
    // the policy question must be non-trivial on the fixture
    assert(rows.exists(_.getAs[Int]("quality_beats_minid") == 1))
    assert(rows.exists(_.getAs[Int]("quality_beats_minid") == 0))
  }

  test("q154 SCD2: intervals partition events, versions chain, one open per user") {
    val rows = run("q154_scd2_intervals").collect()
    assert(rows.nonEmpty)
    // event closure: version event counts sum to the whole events table
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == graft.sources.Tables.events(spark, sf).count())
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, vs) =>
      val sorted = vs.sortBy(_.getAs[Long]("ver"))
      // versions are consecutive 1..k
      assert(sorted.map(_.getAs[Long]("ver")).toSeq == (1L to vs.length).toSeq,
        s"user $u versions not consecutive")
      // exactly ONE open (current) version — the last
      assert(sorted.map(_.getAs[Int]("is_current")).toSeq ==
        Seq.fill(vs.length - 1)(0) :+ 1, s"user $u open-version shape wrong")
      // validity chains: each version's valid_to is the next valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_ns") == b.getAs[Long]("valid_from_ns"),
            s"user $u validity gap between versions")
          assert(a.getAs[Long]("valid_from_ns") < a.getAs[Long]("valid_to_ns"))
          // adjacent versions carry DIFFERENT states (else they'd merge)
          assert(a.getAs[String]("state") != b.getAs[String]("state"),
            s"user $u adjacent versions share a state")
        case _ => ()
      }
    }
  }

  test("q157 SCD2 probe == independent as-of join over the raw changelog") {
    import org.apache.spark.sql.functions._
    val rows = run("q157_scd2_probe").collect()
    assert(rows.nonEmpty)
    // every purchase event probes exactly once
    val ev = graft.sources.Tables.events(spark, sf)
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(rows.length.toLong == nPurch, s"${rows.length} probes != $nPurch purchases")
    assert(rows.map(_.getAs[Long]("probe_event_id")).distinct.length == rows.length)
    // the probe's state must be the last changelog event's type at-or-
    // before the probe ts — SCD2 containment ≡ as-of on the raw stream
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("probe_event_id"), col("user_id"), col("ts_ns"))
    val changelog = ev.select(col("user_id"), col("ts_ns"),
      col("event_type").as("cl_type"), col("event_id").as("cl_event_id"))
    val viaChangelog = graft.operators.AsOfJoin.backward(
        probes, changelog, key = "user_id", ts = "ts_ns",
        rightCols = Map("cl_type" -> "cl_type"),
        rightTieBreak = "cl_event_id")
      .collect().map(r => r.getAs[Long]("probe_event_id") ->
        r.getAs[String]("cl_type")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("probe_event_id")
      assert(r.getAs[String]("state") == viaChangelog(id),
        s"probe $id: SCD2 state ${r.getAs[String]("state")} != " +
          s"changelog as-of ${viaChangelog(id)}")
      // the probe itself is a purchase and sits inside its version:
      // state_since <= probe ts
      assert(r.getAs[Long]("state_since_ns") <= r.getAs[Long]("probe_ts_ns"))
    }
  }

  test("q158 BPE apply: bounds, corpus closure, and a full plain-JVM replay agrees") {
    import org.apache.spark.sql.functions._
    val rows = run("q158_bpe_apply").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nt = r.getAs[Long]("n_tokens")
      val nc = r.getAs[Long]("n_chars")
      val np = r.getAs[Long]("n_pieces")
      // merges only shrink: one piece per token at best, one per char at worst
      assert(np >= nt && np <= nc, s"${r.getAs[String]("lang")}: np=$np outside [$nt,$nc]")
      assert(r.getAs[Double]("fertility") >= 1.0)
      val comp = r.getAs[Double]("compression")
      assert(comp >= 0.0 && comp < 1.0)
    }
    // third-engine replay: apply q155's learned merges with plain JVM
    // string ops over every token and reproduce the per-lang totals
    val merges = run("q155_bpe_merges").collect()
      .sortBy(_.getAs[Int]("round"))
      .map(r => (r.getAs[String]("pattern"), r.getAs[String]("merged")))
    assert(merges.length == 3)
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val manual = toks.groupBy(_._1).map { case (lang, ts) =>
      var nTok = 0L; var nChar = 0L; var nPiece = 0L
      ts.foreach { case (_, t) =>
        nTok += 1; nChar += t.length
        var w = "_" + t.map(_.toString).mkString("_ _") + "_"
        merges.foreach { case (p, m) => w = w.replace(p, m) }
        nPiece += w.split(" ").length
      }
      lang -> ((nTok, nChar, nPiece))
    }
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val (nt, nc, np) = manual(lang)
      assert((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_pieces")) == ((nt, nc, np)),
        s"$lang: Spark totals != plain-JVM replay ($nt,$nc,$np)")
    }
    assert(rows.map(_.getAs[String]("lang")).toSet == manual.keySet)
  }

  test("q155 BPE: winning counts non-increasing, merges well-formed and distinct") {
    val rows = run("q155_bpe_merges").collect().sortBy(_.getAs[Int]("round"))
    assert(rows.map(_.getAs[Int]("round")).toSeq == Seq(1, 2, 3))
    // each adopted pair's count can only shrink or hold: a later round's
    // best pair was available (or bounded by a constituent) earlier
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2),
      s"BPE winning counts must be non-increasing: ${ns.toSeq}")
    val pats = rows.map(_.getAs[String]("pattern"))
    assert(pats.distinct.length == 3, "adopted merges must be distinct")
    rows.foreach { r =>
      val pat = r.getAs[String]("pattern"); val m = r.getAs[String]("merged")
      assert(pat.matches("_[^ ]+_ _[^ ]+_"), s"malformed pair '$pat'")
      assert(m == pat.replace("_ _", ""), s"merged symbol mismatch '$m'")
      assert(r.getAs[Long]("n") > 0)
    }
  }

  test("q156 affinity: cosine bounds, full matrix, self-consistent counts") {
    val rows = run("q156_source_affinity").collect()
    val sources = (rows.map(_.getAs[String]("src_a")) ++
      rows.map(_.getAs[String]("src_b"))).distinct
    // complete upper triangle over the source set
    assert(rows.length == sources.length * (sources.length - 1) / 2)
    rows.foreach { r =>
      val a = r.getAs[Double]("affinity")
      assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9, s"cosine $a out of range")
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    }
    // per-source vector counts are consistent across every pair row
    val counts = rows.flatMap(r => Seq(
      r.getAs[String]("src_a") -> r.getAs[Long]("n_a"),
      r.getAs[String]("src_b") -> r.getAs[Long]("n_b"))).toMap
    rows.foreach { r =>
      assert(counts(r.getAs[String]("src_a")) == r.getAs[Long]("n_a"))
      assert(counts(r.getAs[String]("src_b")) == r.getAs[Long]("n_b"))
    }
  }
  test("q61 LM scoring: derived unigram counts equal a direct pair count") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    // q61 derives cu(w) from the bigram count table (Σ cb over bigrams
    // whose first token is w) instead of a second aggregation pass over
    // the corpus-sized pair expansion. The identity only holds because
    // every pair contributes exactly one bigram whose first token IS the
    // pair's w1 — rebuild both sides here from the raw fixture and pin it.
    val pairs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(posexplode(slice(col("toks"), lit(1),
        greatest(size(col("toks")) - 1, lit(0)))).as(Seq("i", "w1")),
        col("toks"))
      .select(col("w1"),
        concat(col("w1"), lit(" "), element_at(col("toks"), col("i") + 2)).as("bg"))
    val direct = pairs.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val derived = pairs.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cb")).as("cu"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(direct.nonEmpty && direct == derived)
    // and the query's per-doc pair counts reconcile with the token counts
    val nPairs = run("q61_lm_score").agg(sum(col("n_pairs"))).collect()(0).getLong(0)
    val expected = graft.sources.Tables.documents(spark, sf)
      .select(greatest(size(TextFns.tokens(col("text"))) - 1, lit(0)).as("np"))
      .agg(sum(col("np"))).collect()(0).getLong(0)
    assert(nPairs == expected,
      s"per-doc pair mass $nPairs != token-derived $expected")
  }
  test("paraInstances: plain-JVM replay reproduces every (doc, pidx, ph)") {
    import org.apache.spark.sql.functions.col
    // third-engine check of the CDC paragraph table both q137 and q152
    // (and the bucketed para store) consume: re-derive the segmentation
    // with none of Spark's array expressions — plain string/digest code —
    // and require the exact (doc_id, pidx, ph) set. Guards the boundary
    // rule (3-token window h32 % 16 == 0 ends a paragraph at i+3), the
    // cut dedup when the final token is itself a boundary, and the
    // hash-of-joined-tokens identity, none of which the DuckDB oracle
    // can distinguish from a consistently-wrong pair of engines.
    def h32(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val bounds = toks.sliding(3).filter(_.length == 3).zipWithIndex
        .collect { case (w, i) if h32(w.mkString(" ")) % 16 == 0 => i + 3 }
        .toSeq
      val cuts = (Seq(0) ++ bounds ++ Seq(toks.length)).distinct.sorted
      cuts.zip(cuts.tail).zipWithIndex.map { case ((a, b), pidx) =>
        (id, pidx.toLong, h32(toks.slice(a, b).mkString(" ")))
      }
    }.toSet
    val got = graft.queries.Dedup.paraInstances(spark, sf)
      .select(col("doc_id"), col("pidx"), col("ph")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty && got == expected,
      s"paragraph table diverged from the replay: " +
        s"${(got -- expected).take(3)} vs ${(expected -- got).take(3)}")
  }

  test("routed decontam flags are a subset of exact flags on RANDOM suite slices, at every nprobe") {
    import org.apache.spark.sql.functions._
    // the q162/q163 subset law on slices the implementation was never
    // tuned against: a seeded hash carves an arbitrary ~1/17 of the
    // vectors into the protected suite, and at EVERY nprobe the routed
    // mode may only flag documents the exact mode also flags (precision
    // 1 by construction — routing skips comparisons, it never invents
    // them), with nprobe = k reproducing the exact flags identically.
    def flaggedSet(np: Int, suite: org.apache.spark.sql.Column): Set[Long] =
      graft.queries.Similarity.blockedDecontamFlags(spark, sf, np, suite)
        .filter(col("flag") === 1)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val k = graft.sources.Tables.embeddings(spark, sf)
      .select("label").distinct().count().toInt
    for (seed <- Seq(7, 23)) {
      val suite = pmod(xxhash64(col("vec_id"), lit(seed)), lit(17)) === 0
      val exact = flaggedSet(0, suite)
      for (np <- Seq(1, 2, 3, k)) {
        val routed = flaggedSet(np, suite)
        assert(routed.subsetOf(exact),
          s"seed=$seed nprobe=$np: routed flagged " +
            s"${(routed -- exact).take(5)} that exact did not")
        if (np == k)
          assert(routed == exact,
            s"seed=$seed: nprobe=k must reproduce the exact flags " +
              s"(missing ${(exact -- routed).take(5)})")
      }
    }
  }
}
