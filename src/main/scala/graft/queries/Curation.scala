package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.TextFns.{fpSum, h32, shingleH32, tokens, P}
import graft.functions.VecOps.dotCol

/** Corpus-curation pack: the selection/splitting stage of a training-data
  * pipeline. Both operators are pure per-row hash/rank arithmetic — no
  * RNG, so assignments are reproducible across runs, engines, and
  * cluster sizes (the property that makes a 100 TB split auditable).
  */
object Curation extends QueryPack {

  /** Shared 8-gram postings: distinct (doc_id, shingle-h32), doc_id-
    * partitioned and persisted once per session. q56 (decontamination),
    * q107 (novelty curve) and q124 (bloom decontam) all read this ONE
    * table instead of each re-running the tokenize+md5 explode over the
    * full corpus — the same hoist the 3-gram pack does with
    * `Dedup.shPostings` (see there for why the pre-explode repartition
    * and persist-not-checkpoint are load-bearing: the repartition
    * parallelizes the expansion AND doc_id-prefixes every downstream
    * per-doc grouping; the InMemoryRelation keeps that partitioning).
    * Split buckets are a pure function of doc_id, so consumers that need
    * them derive the column on top of the cache — narrow, shuffle-free. */
  private[queries] def sh8Postings(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(spark, dir, "sh8") {
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(shingleH32(col("text"), 8)).as("h"))
        .distinct()
    }

  /** Deterministic train/val/test split by content-independent key hash
    * (90/5/5): split = h32("split_" + doc_id) % 100. Per-split stats
    * verify the assignment is stable and proportional. */
  def q52DataSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", h32(concat(lit("split_"), col("doc_id"))) % 100)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("split"))

  val q52Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5('split_' || doc_id), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents)
      |SELECT CASE WHEN bucket < 90 THEN 'train'
      |            WHEN bucket < 95 THEN 'val'
      |            ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  sum(length(text))::BIGINT AS total_chars,
      |  min(doc_id) AS first_doc
      |FROM d
      |GROUP BY 1
      |ORDER BY split""".stripMargin

  /** Language-balanced sampling: top-5 documents per language by a quality
    * proxy (longest average word length, doc_id tie-break) — the
    * window-rank shape of per-stratum corpus selection.
    *
    * Two-phase rank: a per-language window would drag every document of
    * a language into ONE partition (at corpus scale the largest stratum
    * is a straggler), so a salted window first keeps each
    * (lang, h32(doc_id) % 64) bucket's top-5 — the global per-language
    * top-5 is necessarily inside that union — and the final window ranks
    * ≤ 320 survivors per language. Identical output, bounded partitions. */
  def q53BalancedSample(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(tokens(col("text")))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / nWords).as("awl"))
    val wSalt = Window
      .partitionBy(col("lang"), h32(col("doc_id").cast("string")) % 64)
      .orderBy(col("awl").desc, col("doc_id"))
    val survivors = scored.withColumn("srk", row_number().over(wSalt))
      .filter(col("srk") <= 5)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("awl").desc, col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"),
        round(lit(1e-9) + col("awl"), 5).as("avg_word_len"))
      .orderBy(col("lang"), col("rk"))
  }

  val q53Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS awl
      |  FROM documents),
      |ranked AS (
      |  SELECT lang, doc_id, awl,
      |    row_number() OVER (PARTITION BY lang ORDER BY awl DESC, doc_id) AS rk
      |  FROM d)
      |SELECT lang, rk, doc_id, round(1e-9 + awl, 5) AS avg_word_len
      |FROM ranked WHERE rk <= 5
      |ORDER BY lang, rk""".stripMargin

  /** q56's split protocol over the shared 8-gram postings — the
    * doc_id-hash bucket every decontam method shares (train < 90,
    * test ≥ 95). ONE definition, consumed by q56/q124/q149 so the
    * agreement matrix (q149) judges the production rules, not copies. */
  private def bucketedSh8(spark: SparkSession, dir: String): DataFrame =
    sh8Postings(spark, dir)
      .withColumn("bucket", h32(concat(lit("split_"), col("doc_id"))) % 100)

  /** q124's Bloom geometry (k = 3 seeded positions, m = 2²⁰ bits):
    * pos = h32("b<seed>_" ∥ h) % m — re-hashes the 32-bit shingle hash,
    * never the text. Shared with q149. */
  private val bloomM = 1 << 20
  private def bloomPositions(df: DataFrame): DataFrame = df
    .withColumn("seed", explode(sequence(lit(0), lit(2))))
    .withColumn("pos",
      h32(concat(lit("b"), col("seed"), lit("_"), col("h"))) % bloomM)

  /** Train/test decontamination: a test document is contaminated if it
    * shares ANY 8-token shingle with ANY train document (the n-gram
    * overlap scan run before every eval; split = q52's hash buckets, so
    * the check composes with the split it audits).
    *
    * Scale design: this is the inverted-index form — one shingle
    * expansion feeds both split sides, the train side collapses to a
    * distinct shingle-hash set, and contamination is a shuffle equi-join
    * on the 8-byte hash. Cost is linear in postings; no test×train
    * document pairing ever materializes. At 100 TB the train set is the
    * big side and the join partitions by `h` exactly as a persisted
    * inverted index would. */
  def q56Contamination(spark: SparkSession, dir: String): DataFrame = {
    // shared 8-gram postings + the doc_id-derived split bucket (narrow)
    val sh = bucketedSh8(spark, dir)
    val train = sh.filter(col("bucket") < 90).select(col("h")).distinct()
    val test = sh.filter(col("bucket") >= 95).select(col("doc_id"), col("h"))
    val tot = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hits = test.join(train, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    tot.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id").as("test_doc"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contaminated", (col("n_hit") > 0).cast("int"))
      .orderBy(col("test_doc"))
  }

  val q56Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5('split_' || doc_id), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, bucket,
      |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      |  FROM (
      |    SELECT doc_id, bucket, unnest(list_transform(range(1, len(toks) - 6),
      |      i -> array_to_string(toks[i:i+7], ' '))) AS s
      |    FROM (SELECT doc_id, bucket,
      |            list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |          FROM d))),
      |tr AS (SELECT DISTINCT h FROM sh WHERE bucket < 90),
      |te AS (SELECT doc_id, h FROM sh WHERE bucket >= 95),
      |tot AS (SELECT doc_id, count(*) AS n_sh FROM te GROUP BY 1),
      |hits AS (
      |  SELECT te.doc_id, count(*) AS n_hit
      |  FROM te JOIN tr USING (h) GROUP BY 1)
      |SELECT tot.doc_id AS test_doc, tot.n_sh,
      |  coalesce(hits.n_hit, 0) AS n_hit,
      |  (coalesce(hits.n_hit, 0) > 0)::INT AS contaminated
      |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
      |ORDER BY test_doc""".stripMargin

  /** Bloom-filter decontamination — the broadcast-scale variant of
    * [[q56Contamination]]: instead of joining test shingles against the
    * train side's distinct-hash set (which grows with the corpus), the
    * train side is collapsed into an m-bit Bloom filter (m = 2²⁰, k = 3
    * hash functions) and membership is "all k bit positions occupied".
    * The filter is modeled as the SET of occupied positions — bit-exact
    * Bloom semantics including cross-shingle false positives, since
    * membership is decided by position only. Output compares the bloom
    * verdict against the exact join per test doc, so the false-positive
    * rate of this (m, k) at this corpus size is itself part of the
    * oracle-checked result.
    *
    * Scale design: the probe side NEVER shuffles against the train
    * corpus — occupied positions are bounded by the plan constant m
    * (2²⁰ ints ≈ 8 MB) no matter how large the train side grows, so the
    * position join stays a broadcast at 100 TB, where q56's exact
    * equi-join must repartition every probe batch by hash. The k-fan-out
    * is a constant 3-element explode. This is the membership structure an
    * incremental-ingest pipeline ships to every executor; q100's
    * broadcast direction, made size-independent of the corpus. */
  def q124BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    // train positions + test probe + exact control all ride the shared
    // postings; split bucket and Bloom geometry are the shared
    // [[bucketedSh8]]/[[bloomPositions]] definitions
    val sh = bucketedSh8(spark, dir)
    // the train-side distinct over the full 8-gram postings is the
    // dominant uncached stage — ONE val feeds both the Bloom occupied
    // set and the exact control join, so the two branches carry
    // bit-identical subtrees and runtime exchange reuse materializes the
    // distinct's shuffle once (no persist: a per-invocation cache entry
    // would leak, and the shared-postings audit counts exactly one)
    val trainH = sh.filter(col("bucket") < 90).select(col("h")).distinct()
    val occupied = bloomPositions(trainH).select(col("pos")).distinct()
    val test = sh.filter(col("bucket") >= 95).select(col("doc_id"), col("h"))
    // bloom hit = every one of the k positions is occupied
    val bloomHits = bloomPositions(test)
      .join(broadcast(occupied), Seq("pos"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("k_hits"))
      .filter(col("k_hits") === 3)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom"))
    val exactHits = test.join(trainH, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact"))
    val tot = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    tot
      .join(bloomHits, Seq("doc_id"), "left")
      .join(exactHits, Seq("doc_id"), "left")
      .select(col("doc_id").as("test_doc"), col("n_sh"),
        coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .withColumn("n_false_pos", col("n_bloom") - col("n_exact"))
      .withColumn("contaminated", (col("n_bloom") > 0).cast("int"))
      .orderBy(col("test_doc"))
  }

  val q124Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5('split_' || doc_id), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, bucket,
      |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      |  FROM (
      |    SELECT doc_id, bucket, unnest(list_transform(range(1, len(toks) - 6),
      |      i -> array_to_string(toks[i:i+7], ' '))) AS s
      |    FROM (SELECT doc_id, bucket,
      |            list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |          FROM d))),
      |tr AS (SELECT DISTINCT h FROM sh WHERE bucket < 90),
      |occupied AS (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5('b' || seed || '_' || h), 1, 8))::BIGINT % 1048576 AS pos
      |  FROM tr, range(0, 3) s(seed)),
      |te AS (SELECT doc_id, h FROM sh WHERE bucket >= 95),
      |probe AS (
      |  SELECT doc_id, h,
      |    ('0x' || substr(md5('b' || seed || '_' || h), 1, 8))::BIGINT % 1048576 AS pos
      |  FROM te, range(0, 3) s(seed)),
      |bloom AS (
      |  SELECT doc_id, count(*) AS n_bloom FROM (
      |    SELECT doc_id, h FROM probe JOIN occupied USING (pos)
      |    GROUP BY doc_id, h HAVING count(*) = 3)
      |  GROUP BY 1),
      |exact AS (
      |  SELECT te.doc_id, count(*) AS n_exact
      |  FROM te JOIN tr USING (h) GROUP BY 1),
      |tot AS (SELECT doc_id, count(*) AS n_sh FROM te GROUP BY 1)
      |SELECT tot.doc_id AS test_doc, tot.n_sh,
      |  coalesce(bloom.n_bloom, 0) AS n_bloom,
      |  coalesce(exact.n_exact, 0) AS n_exact,
      |  coalesce(bloom.n_bloom, 0) - coalesce(exact.n_exact, 0) AS n_false_pos,
      |  (coalesce(bloom.n_bloom, 0) > 0)::INT AS contaminated
      |FROM tot
      |LEFT JOIN bloom ON tot.doc_id = bloom.doc_id
      |LEFT JOIN exact ON tot.doc_id = exact.doc_id
      |ORDER BY test_doc""".stripMargin

  /** Retrieval/context chunking: split every document into sliding
    * token windows of S = 64 tokens with stride T = 48 (16-token
    * overlap) — the chunk table a RAG index or a fixed-window training
    * loader consumes. Chunk count is the closed form
    * 1 + ceil(max(0, n − S) / T) (every token lands in ≥ 1 chunk; the
    * last window is the only short one), computed in integer arithmetic
    * identical in both engines. Each chunk carries its token count and
    * an md5-h32 fingerprint of the space-joined token slice, so the
    * oracle verifies the exact text content of every chunk, not just
    * the boundaries.
    *
    * Scale design: pure per-document arithmetic — tokenize once, one
    * bounded explode (fan-out n/T chunks per doc), no shuffle at all
    * until the presentation sort. At 100 TB this is the map-only pass it
    * must be; chunk tables inherit the corpus partitioning, so the
    * downstream embed/index stages see co-located chunks per doc. */
  def q125ChunkSliding(spark: SparkSession, dir: String): DataFrame = {
    val S = 64; val T = 48
    Tables.documents(spark, dir)
      .withColumn("toks",
        filter(split(col("text"), " "), t => length(t) > 0))
      .withColumn("n", size(col("toks")))
      // ceil((n-S)/T) via positive-operand integer division — `div`, not
      // `/` (which is double division on Spark columns)
      .withColumn("n_chunks",
        lit(1) + when(col("n") > S,
          expr(s"(n - $S + ${T - 1}) div $T")).otherwise(lit(0)))
      .withColumn("chunk_id",
        explode(sequence(lit(0), col("n_chunks") - 1)))
      .withColumn("piece",
        slice(col("toks"), col("chunk_id") * T + 1, lit(S)))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * T).cast("long").as("tok_start"),
        size(col("piece")).cast("long").as("n_tok"),
        h32(concat_ws(" ", col("piece"))).as("chunk_h"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val q125Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |sized AS (
      |  SELECT doc_id, toks, len(toks) AS n,
      |    1 + CASE WHEN len(toks) > 64
      |             THEN (len(toks) - 64 + 47) // 48 ELSE 0 END AS n_chunks
      |  FROM d),
      |ids AS (
      |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id
      |  FROM sized),
      |chunks AS (
      |  SELECT doc_id, chunk_id,
      |    toks[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS piece
      |  FROM ids)
      |SELECT doc_id, chunk_id, chunk_id * 48 AS tok_start,
      |  len(piece) AS n_tok,
      |  ('0x' || substr(md5(array_to_string(piece, ' ')), 1, 8))::BIGINT AS chunk_h
      |FROM chunks
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Truncation-loss report — the context-length planning stat: for each
    * candidate context budget, what fraction of corpus tokens a
    * truncate-at-L policy would discard, and how many documents it
    * touches. Read next to q65 (packing wastes padding, truncation
    * wastes tails) and q125 (sliding chunks waste nothing but duplicate
    * overlap) — the three costs a pretraining data plan trades off.
    * Budgets 16/32/64 straddle the fixture's 25-60-token documents so
    * every row is exercised.
    *
    * Scale design: one scan → per-row token count → constant 3-way
    * explode of the budget list → one map-side-combined aggregation on
    * the 3-value budget key. No join, no window; the fan-out is a
    * plan-time constant, not data-dependent. */
  def q128TruncationLoss(spark: SparkSession, dir: String): DataFrame = {
    val nt = size(tokens(col("text")))
    Tables.documents(spark, dir)
      .select(nt.as("nt"),
        explode(array(lit(16), lit(32), lit(64))).as("ctx_len"))
      .groupBy(col("ctx_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") > col("ctx_len"), 1L).otherwise(0L)).as("n_truncated"),
        sum(col("nt")).as("tokens_total"),
        sum(when(col("nt") > col("ctx_len"), col("nt") - col("ctx_len"))
          .otherwise(0L)).as("tokens_lost"))
      .withColumn("loss_ratio", round(lit(1e-9) +
        col("tokens_lost").cast("double") / col("tokens_total"), 5))
      .orderBy(col("ctx_len"))
  }

  val q128Sql: String =
    """WITH d AS (
      |  SELECT len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS nt
      |  FROM documents),
      |b AS (SELECT unnest([16, 32, 64]) AS ctx_len)
      |SELECT ctx_len, count(*) AS n_docs,
      |  sum(CASE WHEN nt > ctx_len THEN 1 ELSE 0 END)::BIGINT AS n_truncated,
      |  sum(nt)::BIGINT AS tokens_total,
      |  sum(CASE WHEN nt > ctx_len THEN nt - ctx_len ELSE 0 END)::BIGINT AS tokens_lost,
      |  round(1e-9 + sum(CASE WHEN nt > ctx_len THEN nt - ctx_len ELSE 0 END)::DOUBLE
      |    / sum(nt), 5) AS loss_ratio
      |FROM d CROSS JOIN b
      |GROUP BY ctx_len
      |ORDER BY ctx_len""".stripMargin

  /** End-to-end corpus curation — the composed pipeline a training run
    * actually consumes: drop repetition-flagged documents (q57's Gopher
    * rules), keep one canonical document per duplicate cluster (q59's
    * connected components — survivors are the cluster representatives),
    * then split the survivors with q52's hash buckets. Reported per split
    * with a rolling fingerprint of the sorted surviving doc_ids, so the
    * oracle verifies EXACT membership of the curated corpus, not just
    * counts.
    *
    * Scale shape: two broadcast-able anti-join kill-lists (flagged docs,
    * non-canonical dup members — both corpus-fraction-sized) against the
    * full corpus, then one aggregation; the expensive evidence passes are
    * the same linear plans q57/q59 already run.
    *
    * Scale-probe note (round 13 stage table — the r12 probe's slope rose
    * 2.24→2.76 with no code change, so the decomposition was re-measured;
    * best-of-3 per stage, one warm session, sf0.01 → sf0.1):
    *
    *   documents scan            0.30 → 0.13   (I/O floor, noise-bound)
    *   q57 flagged evidence      0.42 → 0.74   (output linear: 74 → 667)
    *   dup-labels (memoized)     0.06 → 0.05   (localCheckpoint read, flat)
    *   q60 full                  0.56 → 0.88
    *   q60 minus q57 stage       0.14 → 0.14   (anti-joins + 3-row agg, FLAT)
    *
    * Every stage is at or below the 10× data ratio; the whole slope is
    * the q57 kernel pass, which at sf0.01 is floor-bound (0.42 s to scan
    * 500 docs is plan/codegen/dispatch, not data). The slope number moves
    * round-to-round because t_small IS the floor — the floor's noise is
    * the slope's noise; there is no superlinear stage to fix. The one
    * genuine 100 TB risk this query carried — the per-split collect_list
    * membership array — was replaced by the O(1) sum-of-hashes
    * fingerprint in round 12 (decimal-summed in round 13; see docs_fp). */
  /** Per-document curated survivors with their split — the frame a
    * training run materializes (see [[q60CuratedCorpus]] for the
    * aggregate view; `LayoutSpec` writes this partitioned by split). */
  def curatedDocs(spark: SparkSession, dir: String): DataFrame = {
    val flagged = TextAnalysis.q57Repetition(spark, dir)
      .filter(col("flagged") === 1).select(col("doc_id"))
    val dupKill = Dedup.dupLabels(spark, dir)
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left_anti")
      .join(dupKill, Seq("doc_id"), "left_anti")
      .withColumn("bucket", h32(concat(lit("split_"), col("doc_id"))) % 100)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("split"))
  }

  def q60CuratedCorpus(spark: SparkSession, dir: String): DataFrame = {
    curatedDocs(spark, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        // q75's order-independent membership fingerprint: a commutative
        // sum of per-id hashes, map-side combinable with O(1) agg state.
        // The previous sort_array(collect_list(doc_id)) built a per-group
        // array of EVERY surviving doc_id before folding — the "train"
        // group is ~90% of the corpus, so at 100 TB that is one
        // aggregation buffer holding billions of ids (executor OOM, no
        // partial aggregation). Same exact-membership guarantee: equal
        // multisets ⇔ equal sums mod P (w.h.p. over the hash). fpSum
        // accumulates in decimal(38,0) so the billions-of-members sum
        // never wraps BIGINT (where DuckDB's HUGEINT sum would diverge).
        fpSum(h32(concat(lit("m_"), col("doc_id")))).as("docs_fp"))
      .orderBy(col("split"))
  }

  val q60Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |rep AS (
      |  SELECT doc_id, toks FROM d WHERE len(toks) >= 3),
      |bi AS (
      |  SELECT doc_id, max(c) AS top_bi, sum(c)::BIGINT AS n_bi FROM (
      |    SELECT doc_id, s, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |        i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 8))::BIGINT)) AS s
      |      FROM rep) GROUP BY 1, 2) GROUP BY 1),
      |tri AS (
      |  SELECT doc_id, count(*) AS n_uniq, sum(c)::BIGINT AS n_tri FROM (
      |    SELECT doc_id, s, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |        i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8))::BIGINT)) AS s
      |      FROM rep) GROUP BY 1, 2) GROUP BY 1),
      |flagged AS (
      |  SELECT rep.doc_id
      |  FROM rep JOIN bi USING (doc_id) JOIN tri USING (doc_id)
      |  WHERE round(1e-9 + CAST(top_bi AS DOUBLE) / n_bi, 5) > 0.06
      |     OR round(1e-9 + CAST(n_tri - n_uniq AS DOUBLE) / n_tri, 5) > 0.05),
      |keys AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      list_sort(list_distinct(toks)), t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |      (a, b) -> (a * 131 + b) % 1000000007) AS k1,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      toks[1:8], t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |      (a, b) -> (a * 131 + b) % 1000000007) AS k2
      |  FROM d),
      |star AS (
      |  SELECT min(doc_id) OVER (PARTITION BY k1) AS src, doc_id AS dst FROM keys
      |  UNION
      |  SELECT min(doc_id) OVER (PARTITION BY k2) AS src, doc_id AS dst FROM keys),
      |edges AS (SELECT src, dst FROM star WHERE src <> dst),
      |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |nodes AS (SELECT DISTINCT src AS id FROM und),
      |walk AS (
      |  WITH RECURSIVE reach(id, r) AS (
      |    SELECT id, id FROM nodes
      |    UNION
      |    SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.id)
      |  SELECT id, min(r) AS comp FROM reach GROUP BY id),
      |dupkill AS (SELECT id AS doc_id FROM walk WHERE id <> comp),
      |kept AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('split_' || doc_id), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents
      |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
      |    AND doc_id NOT IN (SELECT doc_id FROM dupkill))
      |SELECT CASE WHEN bucket < 90 THEN 'train'
      |            WHEN bucket < 95 THEN 'val'
      |            ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  min(doc_id) AS first_doc,
      |  max(doc_id) AS last_doc,
      |  (sum(('0x' || substr(md5('m_' || doc_id), 1, 8))::BIGINT) % 1000000007)::BIGINT AS docs_fp
      |FROM kept
      |GROUP BY 1
      |ORDER BY split""".stripMargin

  /** Domain mixing weights: per-source token shares and a temperature-
    * scaled sampling weight share^α / Σ share^α (α = 0.3 — the standard
    * "flatten the natural distribution" exponent, cf. multilingual /
    * DoReMi-style mixture tuning). This is the table a data loader
    * consumes to sample sources during training. Two tiny aggregations
    * over per-doc token counts — one shuffle on `source`. */
  def q62MixWeights(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("toks"))
    // r15: tot and zsum as whole-partition window sums over the ≤20-row
    // source table (constant partition key = deliberately-bounded
    // single-partition window), NOT aggregate + crossJoin: each
    // aggregate consumed `s` again, and exchange reuse cannot unify the
    // differently-pruned copies, so the corpus tokenize pass ran 3×
    // (r14 plan: 3 documents scans; now 1). Same values: sums over the
    // same bounded table.
    val wAll = Window.partitionBy(lit(0))
    s.withColumn("tot", sum(col("toks")).over(wAll))
      .withColumn("share", col("toks").cast("double") / col("tot"))
      .withColumn("pw", pow(col("share"), 0.3))
      .withColumn("zsum", sum(col("pw")).over(wAll))
      .select(col("source"), col("n_docs"), col("toks"),
        round(lit(1e-9) + col("share"), 5).as("token_share"),
        round(lit(1e-9) + col("pw") / col("zsum"), 5).as("mix_weight"))
      .orderBy(col("source"))
  }

  val q62Sql: String =
    """WITH s AS (
      |  SELECT source, count(*) AS n_docs,
      |    sum(len(list_filter(string_split(text, ' '), t -> len(t) > 0)))::BIGINT AS toks
      |  FROM documents GROUP BY 1),
      |t AS (SELECT sum(toks)::BIGINT AS tot FROM s),
      |w AS (
      |  SELECT source, n_docs, toks,
      |    CAST(toks AS DOUBLE) / tot AS share,
      |    pow(CAST(toks AS DOUBLE) / tot, 0.3) AS pw
      |  FROM s CROSS JOIN t),
      |z AS (SELECT sum(pw) AS zsum FROM w)
      |SELECT source, n_docs, toks,
      |  round(1e-9 + share, 5) AS token_share,
      |  round(1e-9 + pw / zsum, 5) AS mix_weight
      |FROM w CROSS JOIN z
      |ORDER BY source""".stripMargin

  /** GPT-style sequence packing: concatenate the corpus in doc_id order
    * and split it into fixed 2048-token training examples; per example,
    * the docs that START inside it, their token mass, and the id range —
    * the final tensor-shaping stage before an LLM training run.
    *
    * The running token offset is a DISTRIBUTED two-phase prefix sum, not
    * a global window (which Spark plans as a single-partition sort —
    * correct at 60k docs, dead at 100 TB): per-block cumsums partition by
    * `doc_id div 8192`, block totals (corpus/8192 rows) get the only
    * global window, and their broadcast prefix joins back as each
    * block's base offset. The oracle computes the same offsets with a
    * plain global cumsum. */
  def q65SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val L = 2048
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("bk", expr("doc_id div 8192"))
    val inBlock = Window.partitionBy(col("bk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blockTotals = perDoc.groupBy(col("bk").as("b_bk"))
      .agg(sum(col("n_tok")).as("b_sum"))
    // runs over the block-TOTALS table (corpus/8192 rows): constant
    // partition key = deliberately-bounded single-partition window
    val blockPrefix = Window.partitionBy(lit(0)).orderBy(col("b_bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = blockTotals
      .withColumn("block_off", sum(col("b_sum")).over(blockPrefix) - col("b_sum"))
      .select(col("b_bk"), col("block_off"))
    perDoc
      .join(broadcast(offsets), col("bk") === col("b_bk"))
      .withColumn("off",
        col("block_off") + sum(col("n_tok")).over(inBlock) - col("n_tok"))
      .groupBy(expr(s"off div $L").as("example_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("example_id"))
  }

  val q65Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_tok
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, n_tok,
      |    (sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING))::BIGINT
      |      - n_tok AS off
      |  FROM d)
      |SELECT off // 2048 AS example_id, count(*) AS n_docs,
      |  sum(n_tok)::BIGINT AS n_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM o
      |GROUP BY 1
      |ORDER BY example_id""".stripMargin

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each document draws a deterministic uniform u from its hashed id and
    * gets priority u^(1/w) with w = n_chars, so selection probability is
    * proportional to length; the global top-10 priorities are the sample.
    * Ranking uses ln(u)/w (monotone in u^(1/w), cheaper and better
    * conditioned near u→1).
    *
    * Scale design: this is THE distributed weighted-sample algorithm —
    * priority is a pure projection (no RNG state, reproducible across
    * retries), and the global top-k runs through the bounded
    * [[graft.operators.TopK]] aggregation, so each partition contributes
    * at most k rows to the single-reducer final merge. No sort, no
    * collect, works identically at 100 TB. */
  def q73WeightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("u",
        (h32(concat(lit("ws_"), col("doc_id"))) + 1) / lit(4294967297.0))
      .withColumn("key", log(col("u")) / col("n_chars"))
      .groupBy()
      .agg(graft.operators.TopK.topk(10)(col("key"), col("doc_id")).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "t")))
      .select((col("i") + 1).cast("int").as("rk"), col("t._2").as("doc_id"),
        round(lit(1e-9) + col("t._1") * 1000, 5).as("prio_x1k"))
      .orderBy(col("rk"))

  val q73Sql: String =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    ln((('0x' || substr(md5('ws_' || doc_id), 1, 8))::BIGINT + 1)
      |       / 4294967297.0) / n_chars AS key
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, key,
      |    row_number() OVER (ORDER BY key DESC, doc_id) AS rk
      |  FROM keyed)
      |SELECT rk, doc_id, round(1e-9 + key * 1000, 5) AS prio_x1k
      |FROM ranked WHERE rk <= 10
      |ORDER BY rk""".stripMargin

  /** Deterministic training-shard assignment — the write-side layout of a
    * curated corpus: every document hashes to one of 8 shards (a
    * hash-permutation "global shuffle", so shards are an unbiased sample
    * of the corpus), and each shard reports its document count, token
    * mass and an order-independent membership fingerprint (sum of hashed
    * ids mod P) that a resumed or re-run job can compare against.
    *
    * Scale design: shard id is a pure projection, so this is one scan +
    * one 8-key aggregation with map-side partials; the commutative
    * fingerprint needs no collect_list/sort, making it stable under any
    * partitioning. The balance columns are exactly what you check before
    * `df.write.partitionBy(shard)`. */
  def q75ShardAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (h32(concat(lit("shard_"), col("doc_id"))) % 8).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        (h32(concat(lit("m_"), col("doc_id")))).as("mh"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        (sum(col("mh")) % P).as("member_fp"))
      .orderBy(col("shard"))

  val q75Sql: String =
    """SELECT
      |  ('0x' || substr(md5('shard_' || doc_id), 1, 8))::BIGINT % 8 AS shard,
      |  count(*) AS n_docs,
      |  sum(len(list_filter(string_split(text, ' '), t -> len(t) > 0)))::BIGINT AS n_tokens,
      |  sum(('0x' || substr(md5('m_' || doc_id), 1, 8))::BIGINT)::BIGINT % 1000000007 AS member_fp
      |FROM documents
      |GROUP BY 1
      |ORDER BY shard""".stripMargin

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * hashed-ngram importance resampling): score every document by how
    * much more likely its hashed-bigram profile is under the TARGET
    * distribution (here: the `en` slice) than under the RAW corpus —
    * w(doc) = Σ_bigram [ln p_t(bucket) − ln p_r(bucket)], with 256 hash
    * buckets and Laplace smoothing. Reports the top-10 documents a
    * target-matched resample would keep.
    *
    * Determinism: each bucket's log-ratio is rounded to 6 decimals BEFORE
    * the per-doc sum, so libm ulp differences between engines cannot
    * accumulate; the final weight is rounded after. Scale design: TWO
    * passes over the bigram expansion and nothing else at corpus grain —
    * one map-side-combined count to (bucket, is-target) grain (≤512
    * rows), from which the raw/target/total tables all DERIVE (they were
    * three separate corpus passes over a persisted explode before), and
    * one scoring probe joining the broadcast 256-row log-ratio table into
    * a per-doc hash aggregation; the global top-10 uses the bounded TopK
    * aggregator, never a corpus sort.
    *
    * Measured tradeoff (round 13): both passes re-run the shingleH32
    * kernel downstream of the shared document-grain exchange. The
    * alternative — explode BEFORE the repartition so the exchange
    * carries bigram-grain rows and the kernel runs once — was measured
    * at 1.28 s vs this shape's 0.99 s isolated (sf0.1): shuffling the
    * ~token-count× wider exploded rows costs more than hashing twice,
    * and at 100 TB (shuffle = disk + network, kernel = codegen'd CPU)
    * the gap only widens. The doubled kernel is the cheaper pass. */
  def q88ImportanceWeights(spark: SparkSession, dir: String): DataFrame = {
    def bi = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(shingleH32(col("text"), 2)).as("hb"))
      .select(col("doc_id"), col("lang"), (col("hb") % 256).as("b"))
    // ONE corpus pass: bucket × is-target counts (≤ 512 rows); raw/tgt/
    // totals are arithmetic over it, never further passes over bigrams
    val cnt = bi.groupBy(col("b"), (col("lang") === "en").as("is_t"))
      .agg(count(lit(1)).as("c"))
      .persist() // ≤512 rows; feeds the per-bucket table and the totals
    val raw = cnt.groupBy(col("b"))
      .agg(sum(col("c")).as("cr"),
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"))
    val totals = cnt.agg(sum(col("c")).as("tr"),
      sum(when(col("is_t"), col("c")).otherwise(0L)).as("tt"))
    val lr = raw
      .crossJoin(broadcast(totals))
      .select(col("b"), round(lit(1e-9) +
        log((coalesce(col("ct"), lit(0L)) + 1).cast("double") / (col("tt") + 256)) -
        log((col("cr") + 1).cast("double") / (col("tr") + 256)), 6).as("lr"))
    val w = bi.join(broadcast(lr), "b")
      .groupBy(col("doc_id")).agg(sum(col("lr")).as("w_raw"))
    w.agg(graft.operators.TopK.topk(10)(col("w_raw"), col("doc_id")).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "t")))
      .select((col("i") + 1).cast("int").as("rk"), col("t._2").as("doc_id"),
        round(lit(1e-9) + col("t._1"), 4).as("weight"))
      .orderBy(col("rk"))
  }

  val q88Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 8))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
      |        FROM tok WHERE len(toks) >= 2)),
      |raw AS (SELECT b, count(*) AS cr FROM bg GROUP BY 1),
      |tgt AS (SELECT b, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY 1),
      |tot AS (
      |  SELECT count(*) AS tr, count(*) FILTER (WHERE lang = 'en') AS tt FROM bg),
      |lr AS (
      |  SELECT b, round(1e-9 + ln((coalesce(ct, 0) + 1)::DOUBLE / (tt + 256))
      |                       - ln((cr + 1)::DOUBLE / (tr + 256)), 6) AS lr
      |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
      |w AS (SELECT doc_id, sum(lr) AS w_raw FROM bg JOIN lr USING (b) GROUP BY 1),
      |ranked AS (
      |  SELECT doc_id, w_raw,
      |    row_number() OVER (ORDER BY w_raw DESC, doc_id) AS rk
      |  FROM w)
      |SELECT rk::INT AS rk, doc_id, round(1e-9 + w_raw, 4) AS weight
      |FROM ranked WHERE rk <= 10
      |ORDER BY rk""".stripMargin

  /** Per-source winsorized length statistics — the outlier-robust
    * length-profile pass run before length-based filtering: each source's
    * p90 document length (exact linear-interpolated quantile) becomes the
    * clip ceiling, and the raw vs clipped means + the clipped-row count
    * quantify how heavy each source's tail is.
    *
    * Scale design: quantiles are per-GROUP (source-sized, bounded),
    * never corpus-wide — the one shape where exact percentile's
    * collect-to-buffer is safe; sources too large for that switch to the
    * q84 histogram sketch with the same output contract. The clip pass
    * re-joins the 20-row stats table by broadcast. */
  def q97WinsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("double").as("len"))
    val stats = d.groupBy(col("source").as("s_src"))
      .agg(expr("percentile(len, 0.9)").as("p90"))
    d.join(broadcast(stats), col("source") === col("s_src"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(lit(1e-9) + max(col("p90")), 4).as("p90"),
        round(lit(1e-9) + avg(col("len")), 4).as("mean_raw"),
        round(lit(1e-9) + avg(least(col("len"), col("p90"))), 4).as("mean_wins"),
        sum(when(col("len") > col("p90"), 1L).otherwise(0L)).as("n_clipped"))
      .orderBy(col("source"))
  }

  val q97Sql: String =
    """WITH d AS (SELECT source, n_chars::DOUBLE AS len FROM documents),
      |s AS (
      |  SELECT source AS s_src, quantile_cont(len, 0.9) AS p90
      |  FROM d GROUP BY 1)
      |SELECT source, count(*) AS n_docs,
      |  round(1e-9 + max(p90), 4) AS p90,
      |  round(1e-9 + avg(len), 4) AS mean_raw,
      |  round(1e-9 + avg(least(len, p90)), 4) AS mean_wins,
      |  sum(CASE WHEN len > p90 THEN 1 ELSE 0 END)::BIGINT AS n_clipped
      |FROM d JOIN s ON source = s_src
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Cross-source shingle-overlap matrix — the corpus-level contamination
    * view (q56 is doc-level): for every source pair, the Jaccard overlap
    * of their distinct 3-gram shingle sets. High-overlap pairs mean
    * double-counted content when mixing sources (q62) or train/eval
    * leakage when sources sit on opposite sides of a split.
    *
    * Scale design: the postings collapse to DISTINCT (source, shingle)
    * first — map-side-combined, so the self-join key (shingle) appears at
    * most n_sources times and the join fan-out is bounded by C(20,2) per
    * shingle BY CONSTRUCTION, with no df-cap needed (contrast q29, where
    * per-document postings make hot shingles quadratic). Per-source set
    * sizes broadcast back onto the 190-row pair table. The (doc, shingle)
    * expansion itself is the dedup pack's shared persisted postings — the
    * doc→source attachment is a co-partitioned join (both sides keyed by
    * doc_id), so this query adds no second md5 expansion to a session. */
  def q98SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // r14 optimization: the former DISTINCT (source, shingle) SELF-JOIN
    // re-exchanged the 200k-row distinct table twice and shuffled the
    // ~800k-row pair stream into the pair aggregation. The per-shingle
    // source SET is bounded by n_sources BY CONSTRUCTION (the same bound
    // that makes the C(20,2) pair table safe), so one groupBy(h) with a
    // set-valued buffer replaces the self-join outright: pairs are then
    // emitted ROW-LOCALLY from each ≤20-element sorted array and only the
    // 190-row pair aggregate ever shuffles. Plan: 5 Exchanges → 3, join
    // count on the corpus side 1 → 0 (oracle unchanged — same inter/jac
    // by definition: inter(a,b) = #shingles whose set contains both).
    val perH = Dedup.shPostings(spark, dir)
      .join(Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      // one materialization serves the size aggregation and the pair pass
      .persist()
    val sizes = perH.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val pairs = perH
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), b =>
          struct(a.as("sa"), b.as("sb")))))).as("p"))
      .groupBy(col("p.sa").as("src_a"), col("p.sb").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sizes.select(col("source").as("sa"), col("n_sh").as("na"))),
        col("src_a") === col("sa"))
      .join(broadcast(sizes.select(col("source").as("sb"), col("n_sh").as("nb"))),
        col("src_b") === col("sb"))
      .select(col("src_a"), col("src_b"), col("inter"), col("na"), col("nb"),
        round(lit(1e-9) +
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 5)
          .as("jac"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q98Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      |  FROM (
      |    SELECT source, unnest(list_transform(range(1, len(toks) - 1),
      |      i -> array_to_string(toks[i:i+2], ' '))) AS s
      |    FROM t)),
      |sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, inter, na.n_sh AS na, nb.n_sh AS nb,
      |  round(1e-9 + inter::DOUBLE / (na.n_sh + nb.n_sh - inter), 5) AS jac
      |FROM pairs
      |JOIN sizes na ON src_a = na.source
      |JOIN sizes nb ON src_b = nb.source
      |ORDER BY src_a, src_b""".stripMargin

  /** Multi-signal quality blending — the selection stage that modern
    * corpus curation (FineWeb / DataComp style) runs after individual
    * scorers: z-normalize each signal over the corpus, blend them with
    * fixed weights, and keep documents whose composite is above the mean.
    * Signals here are the q24 heuristic quality score (higher = better)
    * and the q61 self-trained bigram cross-entropy (lower = better), both
    * already rounded by their producers so the two engines blend
    * identical inputs.
    *
    * Scale design: each signal pass is the (linear) plan its own query
    * runs; normalization needs one single-row moments aggregate that
    * broadcasts back — no window over the corpus, no sort. Selection is a
    * per-row predicate on the rounded composite, so the whole decision
    * re-runs identically on any cluster shape. */
  def q101QualityBlend(spark: SparkSession, dir: String): DataFrame = {
    // fused (doc_id, source, quality) scan — previously a separate q24
    // pass joined onto a separate documents(source) projection: one
    // corpus scan and one doc_id shuffle join that carried nothing the
    // quality scan couldn't have carried itself. The xent side stays its
    // own pass (its bigram-grain model join must NOT get wider rows —
    // the measured q88 lesson: widening an exploded shuffle costs more
    // than an extra narrow pass).
    val x = TextAnalysis.q61LmScore(spark, dir)
      .select(col("doc_id"), col("xent"))
    val scored = TextAnalysis.docQuality(spark, dir)
      .join(x, Seq("doc_id"))
      .persist() // feeds the moments agg and the per-source report
    val stats = scored.agg(
      avg(col("quality")).as("mq"), stddev_samp(col("quality")).as("sq"),
      avg(col("xent")).as("mx"), stddev_samp(col("xent")).as("sx"))
    scored.crossJoin(broadcast(stats))
      .withColumn("zq", round((col("quality") - col("mq")) / col("sq"), 6))
      .withColumn("zx", round((col("xent") - col("mx")) / col("sx"), 6))
      .withColumn("blend", round(lit(1e-9) + lit(0.5) * col("zq") - lit(0.5) * col("zx"), 4))
      .withColumn("sel", when(col("blend") > 0, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sel")).as("n_sel"),
        round(lit(1e-9) + sum(col("blend") * col("sel")), 2).as("sel_blend_sum"),
        // order-independent selected-set fingerprint (q75's idiom): sum of
        // per-id hashes over the selected rows only — O(1) agg state with
        // map-side partials, vs the previous collect_list of every
        // selected doc_id per source (unbounded buffer at corpus scale).
        // sum() skips the non-selected rows' nulls; coalesce covers a
        // source with zero selected docs. fpSum's decimal accumulator
        // keeps the corpus-scale sum from wrapping BIGINT.
        coalesce(fpSum(when(col("sel") === 1,
          h32(concat(lit("m_"), col("doc_id"))))), lit(0L)).as("sel_fp"))
      .orderBy(col("source"))
  }

  val q101Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |qual AS (
      |  SELECT doc_id,
      |    round(1e-9 + 0.3 * least(1.0, CAST(n_words AS DOUBLE) / 100.0)
      |        + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_words)
      |        + 0.4 * least(1.0, (CAST(word_chars AS DOUBLE) / n_words) / 8.0),
      |      5) AS quality
      |  FROM (
      |    SELECT doc_id,
      |      len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
      |      length(replace(text, ' ', '')) AS word_chars,
      |      len(list_filter(string_split(text, ' '),
      |          t -> list_contains(['the', 'a', 'data', 'value'], t))) AS n_stop
      |    FROM documents)),
      |pairs AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
      |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM d),
      |uni AS (SELECT w1 AS u_w, count(*) AS cu FROM pairs GROUP BY 1),
      |bi AS (SELECT bg AS b_bg, count(*) AS cb FROM pairs GROUP BY 1),
      |vocab AS (
      |  SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM d)),
      |lm AS (
      |  SELECT doc_id, round(1e-9 - avg(ln((cb + 1.0) / (cu + v))), 4) AS xent
      |  FROM pairs
      |  JOIN bi ON bg = b_bg
      |  JOIN uni ON w1 = u_w
      |  CROSS JOIN vocab
      |  GROUP BY doc_id),
      |scored AS (
      |  SELECT doc_id, source, quality, xent
      |  FROM documents JOIN qual USING (doc_id) JOIN lm USING (doc_id)),
      |stats AS (
      |  SELECT avg(quality) AS mq, stddev_samp(quality) AS sq,
      |         avg(xent) AS mx, stddev_samp(xent) AS sx
      |  FROM scored),
      |blended AS (
      |  SELECT doc_id, source,
      |    round(1e-9 + 0.5 * round((quality - mq) / sq, 6)
      |               - 0.5 * round((xent - mx) / sx, 6), 4) AS blend
      |  FROM scored CROSS JOIN stats),
      |flagged AS (
      |  SELECT doc_id, source, blend,
      |    CASE WHEN blend > 0 THEN 1 ELSE 0 END AS sel
      |  FROM blended)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(sel) AS BIGINT) AS n_sel,
      |  round(1e-9 + sum(blend * sel), 2) AS sel_blend_sum,
      |  coalesce((sum(CASE WHEN sel = 1
      |      THEN ('0x' || substr(md5('m_' || doc_id), 1, 8))::BIGINT END)
      |    % 1000000007)::BIGINT, 0) AS sel_fp
      |FROM flagged
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Corpus novelty curve — how much genuinely NEW content each ingestion
    * decile contributes: a document's novelty is the fraction of its
    * 8-token shingles whose FIRST occurrence (minimum doc_id, with doc_id
    * as ingestion order) is the document itself. Plotted over deciles this
    * is the dedup-aware growth curve (C4/RefinedWeb-style): a source whose
    * tail deciles go stale is re-crawling what the corpus already holds —
    * the signal for stopping or re-weighting ingestion.
    *
    * Scale design: the inverted-index shape again — one shingle expansion,
    * a min(doc_id) aggregation per shingle hash (map-side combinable), and
    * one equi-join of the postings against that first-seen table on the
    * 8-byte hash; per-doc and per-decile rollups are narrow. Nothing is
    * ever pairwise. Decile boundaries use integer arithmetic on doc_id
    * (doc·10 ÷ (max+1)) so both engines bucket identically. */
  def q107NoveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val sh = sh8Postings(spark, dir) // feeds first-seen agg AND the probe side
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val mx = Tables.documents(spark, dir).agg(max(col("doc_id")).as("mx"))
    val perDoc = sh.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    perDoc.crossJoin(broadcast(mx))
      .groupBy(expr("doc_id * 10 div (mx + 1)").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("n_sh"),
        sum(col("n_novel")).as("n_novel"))
      .select(col("decile"), col("n_docs"), col("n_sh"), col("n_novel"),
        round(lit(1e-9) + col("n_novel").cast("double") / col("n_sh"), 5)
          .as("novelty"))
      .orderBy(col("decile"))
  }

  val q107Sql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
      |      i -> array_to_string(toks[i:i+7], ' '))) AS s
      |    FROM (SELECT doc_id,
      |            list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |          FROM documents))),
      |first AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1),
      |mx AS (SELECT max(doc_id) AS mx FROM documents),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_sh,
      |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_novel
      |  FROM sh JOIN first USING (h)
      |  GROUP BY 1)
      |SELECT doc_id * 10 // (mx + 1) AS decile, count(*) AS n_docs,
      |  CAST(sum(n_sh) AS BIGINT) AS n_sh,
      |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
      |  round(1e-9 + CAST(sum(n_novel) AS DOUBLE) / sum(n_sh), 5) AS novelty
      |FROM perdoc CROSS JOIN mx
      |GROUP BY 1
      |ORDER BY decile""".stripMargin

  /** Distributed logistic-regression training step — the FineWeb-edu /
    * fastText-quality-classifier pattern: learn to predict a document
    * property (here: is the language tag `en`) from the q24 heuristic
    * features, with three full-batch gradient-descent steps. Each step is
    * ONE aggregation over the corpus (grad_j = Σ (σ(w·x) − y)·x_j / n);
    * the 4 weights are control-plane scalars exactly like a parameter
    * vector on a driver — the corpus never moves, only 4 doubles do.
    *
    * Cross-engine determinism: features are rounded at source, z and
    * σ(z) are rounded to 6 dp per row (libm exp may differ in the last
    * ulp between engines — rounding kills it before it can compound),
    * gradients are rounded to 6 dp before the update, and the learning
    * rate is 4.0 (a power of two: w − 4·g is exact float arithmetic, so
    * both engines carry bit-identical weights into the next step). */
  def q110LogisticStep(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val feat = Tables.documents(spark, dir)
      .select(
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"),
        size(toks).as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("word_chars"),
        size(filter(toks, t =>
          array_contains(array(lit("the"), lit("a"), lit("data"), lit("value")), t)))
          .as("n_stop"))
      .select(col("y"),
        round(lit(1e-9) +
          least(lit(1.0), col("n_words").cast("double") / 100.0), 5).as("x1"),
        round(lit(1e-9) +
          col("n_stop").cast("double") / col("n_words"), 5).as("x2"),
        round(lit(1e-9) + least(lit(1.0),
          (col("word_chars").cast("double") / col("n_words")) / 8.0), 5).as("x3"))
      .persist() // 3 gradient passes + the final accuracy pass
    val lr = 4.0
    var w = Array(0.0, 0.0, 0.0, 0.0)
    def zCol = round(lit(1e-9) + lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3"), 6)
    for (_ <- 1 to 3) {
      val p = round(lit(1e-9) + lit(1.0) / (lit(1.0) + exp(-zCol)), 6)
      def grad(x: Column) = round(lit(1e-9) +
        sum((p - col("y")) * x) / count(lit(1)), 6)
      val g = feat.agg(grad(lit(1.0)), grad(col("x1")),
        grad(col("x2")), grad(col("x3"))).first()
      w = Array.tabulate(4)(j => w(j) - lr * g.getDouble(j))
    }
    feat.agg(
        count(lit(1)).as("n_docs"),
        sum(when((zCol > 0) === (col("y") === 1.0), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_docs"), col("n_correct"),
        round(lit(1e-9) + col("n_correct").cast("double") / col("n_docs"), 5)
          .as("train_acc"),
        round(lit(1e-9) + lit(w(0)), 6).as("w_bias"),
        round(lit(1e-9) + lit(w(1)), 6).as("w_len"),
        round(lit(1e-9) + lit(w(2)), 6).as("w_stop"),
        round(lit(1e-9) + lit(w(3)), 6).as("w_awl"))
  }

  val q110Sql: String =
    """WITH feat AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
      |    round(1e-9 + least(1.0, CAST(n_words AS DOUBLE) / 100.0), 5) AS x1,
      |    round(1e-9 + CAST(n_stop AS DOUBLE) / n_words, 5) AS x2,
      |    round(1e-9 + least(1.0,
      |      (CAST(word_chars AS DOUBLE) / n_words) / 8.0), 5) AS x3
      |  FROM (
      |    SELECT lang,
      |      len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
      |      length(replace(text, ' ', '')) AS word_chars,
      |      len(list_filter(string_split(text, ' '),
      |          t -> list_contains(['the', 'a', 'data', 'value'], t))) AS n_stop
      |    FROM documents)),
      |g1 AS (
      |  SELECT
      |    round(1e-9 + sum((round(1e-9 + 1.0/(1.0 + exp(-round(1e-9, 6))), 6) - y) * 1.0)
      |      / count(*), 6) AS gb,
      |    round(1e-9 + sum((round(1e-9 + 1.0/(1.0 + exp(-round(1e-9, 6))), 6) - y) * x1)
      |      / count(*), 6) AS g1,
      |    round(1e-9 + sum((round(1e-9 + 1.0/(1.0 + exp(-round(1e-9, 6))), 6) - y) * x2)
      |      / count(*), 6) AS g2,
      |    round(1e-9 + sum((round(1e-9 + 1.0/(1.0 + exp(-round(1e-9, 6))), 6) - y) * x3)
      |      / count(*), 6) AS g3
      |  FROM feat),
      |w1 AS (SELECT 0.0 - 4.0 * gb AS wb, 0.0 - 4.0 * g1 AS w1,
      |              0.0 - 4.0 * g2 AS w2, 0.0 - 4.0 * g3 AS w3 FROM g1),
      |g2 AS (
      |  SELECT wb, w1, w2, w3,
      |    round(1e-9 + sum((p - y) * 1.0) / count(*), 6) AS gb2,
      |    round(1e-9 + sum((p - y) * x1) / count(*), 6) AS g12,
      |    round(1e-9 + sum((p - y) * x2) / count(*), 6) AS g22,
      |    round(1e-9 + sum((p - y) * x3) / count(*), 6) AS g32
      |  FROM (
      |    SELECT f.*, w1.*,
      |      round(1e-9 + 1.0/(1.0 + exp(-round(1e-9 + wb + w1*x1 + w2*x2 + w3*x3, 6))), 6) AS p
      |    FROM feat f CROSS JOIN w1)
      |  GROUP BY 1, 2, 3, 4),
      |w2 AS (SELECT wb - 4.0 * gb2 AS wb, w1 - 4.0 * g12 AS w1,
      |              w2 - 4.0 * g22 AS w2, w3 - 4.0 * g32 AS w3 FROM g2),
      |g3 AS (
      |  SELECT wb, w1, w2, w3,
      |    round(1e-9 + sum((p - y) * 1.0) / count(*), 6) AS gb3,
      |    round(1e-9 + sum((p - y) * x1) / count(*), 6) AS g13,
      |    round(1e-9 + sum((p - y) * x2) / count(*), 6) AS g23,
      |    round(1e-9 + sum((p - y) * x3) / count(*), 6) AS g33
      |  FROM (
      |    SELECT f.*, w2.*,
      |      round(1e-9 + 1.0/(1.0 + exp(-round(1e-9 + wb + w1*x1 + w2*x2 + w3*x3, 6))), 6) AS p
      |    FROM feat f CROSS JOIN w2)
      |  GROUP BY 1, 2, 3, 4),
      |w3 AS (SELECT wb - 4.0 * gb3 AS wb, w1 - 4.0 * g13 AS w1,
      |              w2 - 4.0 * g23 AS w2, w3 - 4.0 * g33 AS w3 FROM g3)
      |SELECT count(*) AS n_docs,
      |  CAST(sum(CASE WHEN (round(1e-9 + wb + w1*x1 + w2*x2 + w3*x3, 6) > 0)
      |                     = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  round(1e-9 + CAST(sum(CASE WHEN (round(1e-9 + wb + w1*x1 + w2*x2 + w3*x3, 6) > 0)
      |                              = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 5) AS train_acc,
      |  round(1e-9 + max(wb), 6) AS w_bias,
      |  round(1e-9 + max(w1), 6) AS w_len,
      |  round(1e-9 + max(w2), 6) AS w_stop,
      |  round(1e-9 + max(w3), 6) AS w_awl
      |FROM feat CROSS JOIN w3""".stripMargin

  /** Effective (dedup-weighted) corpus size — the number that matters
    * when mixing sources (q62) or budgeting training epochs: per source,
    * how many documents/tokens REMAIN once every duplicate cluster
    * (q59's connected components over the union of blocking keys) is
    * collapsed to its canonical member. A source with a large raw size
    * but low effective share is re-crawl/mirror-heavy, and weighting by
    * raw size would over-train on its content.
    *
    * Scale design: the cluster labels are q59's plan (star edges, label
    * propagation); the kill-list of non-canonical members is
    * corpus-fraction-sized and broadcast onto the anti-join; everything
    * after is one aggregation on (source). */
  def q113EffectiveSize(spark: SparkSession, dir: String): DataFrame = {
    val dupKill = Dedup.dupLabels(spark, dir)
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_toks"))
    val kept = docs.join(broadcast(dupKill.withColumn("killed", lit(1L))),
        Seq("doc_id"), "left")
      .withColumn("keep", when(col("killed").isNull, 1L).otherwise(0L))
    kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_eff_docs"),
        sum(col("n_toks")).as("n_toks"),
        sum(col("n_toks") * col("keep")).as("n_eff_toks"))
      .withColumn("eff_ratio",
        round(lit(1e-9) + col("n_eff_toks").cast("double") / col("n_toks"), 5))
      .orderBy(col("source"))
  }

  /** DuckDB twin of [[Dedup.dupLabels]]: star edges over the two blocking
    * keys, recursive-CTE component walk → `walk(id, comp)`. Shared by the
    * q113 and q122 oracles. */
  private val dupWalkSqlCtes: String =
    """d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |keys AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      list_sort(list_distinct(toks)), t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |      (a, b) -> (a * 131 + b) % 1000000007) AS k1,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
      |      toks[1:8], t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |      (a, b) -> (a * 131 + b) % 1000000007) AS k2
      |  FROM d),
      |star AS (
      |  SELECT min(doc_id) OVER (PARTITION BY k1) AS src, doc_id AS dst FROM keys
      |  UNION
      |  SELECT min(doc_id) OVER (PARTITION BY k2) AS src, doc_id AS dst FROM keys),
      |edges AS (SELECT src, dst FROM star WHERE src <> dst),
      |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |nodes AS (SELECT DISTINCT src AS id FROM und),
      |walk AS (
      |  WITH RECURSIVE reach(id, r) AS (
      |    SELECT id, id FROM nodes
      |    UNION
      |    SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.id)
      |  SELECT id, min(r) AS comp FROM reach GROUP BY id)""".stripMargin

  val q113Sql: String =
    s"""WITH $dupWalkSqlCtes,
      |dupkill AS (SELECT id AS doc_id FROM walk WHERE id <> comp),
      |sized AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_toks,
      |    CASE WHEN doc_id IN (SELECT doc_id FROM dupkill) THEN 0 ELSE 1 END AS keep
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(keep) AS BIGINT) AS n_eff_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS n_toks,
      |  CAST(sum(n_toks * keep) AS BIGINT) AS n_eff_toks,
      |  round(1e-9 + CAST(sum(n_toks * keep) AS DOUBLE) / sum(n_toks), 5)
      |    AS eff_ratio
      |FROM sized
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Per-source dedup stratification — the audit that tells a curator
    * WHERE the duplicates live: for every source, how many docs the
    * dedup pass kills, and how many of those kills are CROSS-source (the
    * canonical copy lives in a different source — mirror/scrape leakage,
    * the q98 overlap matrix seen at per-document resolution). A high
    * kill_rate flags a redundant source; a high n_cross flags one that
    * republishes another's content.
    *
    * Scale design: joins the memoized dup-labels table ([[Dedup.dupLabels]]
    * — computed once per session) to the doc→source projection; canonical
    * sources arrive by a second join on the component id (components are
    * label-count-sized, not corpus-sized). Nothing here re-runs the
    * component loop. */
  def q122DedupBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val lab = Dedup.dupLabels(spark, dir)
      .join(docs, col("id") === col("doc_id"))
      .select(col("id"), col("comp"), col("source"))
      .persist() // canonical lookup + kill aggregation
    val canon = lab.filter(col("id") === col("comp"))
      .select(col("comp").as("c2"), col("source").as("canon_source"))
    val kills = lab.filter(col("id") =!= col("comp"))
      .join(broadcast(canon), col("comp") === col("c2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_killed"),
        sum(when(col("source") =!= col("canon_source"), 1L).otherwise(0L))
          .as("n_cross"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(kills, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_killed"), lit(0L)).as("n_killed"),
        coalesce(col("n_cross"), lit(0L)).as("n_cross"),
        round(lit(1e-9) +
          coalesce(col("n_killed"), lit(0L)).cast("double") / col("n_docs"), 5)
          .as("kill_rate"))
      .orderBy(col("source"))
  }

  val q122Sql: String =
    s"""WITH $dupWalkSqlCtes,
      |lab AS (
      |  SELECT id, comp, source FROM walk JOIN documents ON id = doc_id),
      |canon AS (SELECT comp AS c2, source AS canon_source FROM lab WHERE id = comp),
      |kills AS (
      |  SELECT l.source, count(*) AS n_killed,
      |    sum(CASE WHEN l.source <> canon_source THEN 1 ELSE 0 END) AS n_cross
      |  FROM lab l JOIN canon ON l.comp = c2
      |  WHERE l.id <> l.comp
      |  GROUP BY 1),
      |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT tot.source AS source, n_docs,
      |  coalesce(n_killed, 0)::BIGINT AS n_killed,
      |  coalesce(n_cross, 0)::BIGINT AS n_cross,
      |  round(1e-9 + coalesce(n_killed, 0)::DOUBLE / n_docs, 5) AS kill_rate
      |FROM tot LEFT JOIN kills ON tot.source = kills.source
      |ORDER BY source""".stripMargin

  /** Top-k key concentration — the abuse/bot-traffic audit on an event
    * stream: what share of all events do the 10 heaviest users generate?
    * A healthy product has a long tail; a concentration spike is
    * scraping, a runaway client, or a key-collapse bug upstream.
    *
    * Scale design: per-user counts aggregate map-side; the top-10 is the
    * bounded [[graft.operators.TopK]] aggregation over (count, user) —
    * never a sort of the user table — and the total rides a broadcast
    * single-row aggregate. Integer share arithmetic until the final
    * rounded division. */
  def q114Concentration(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    // the total folds out of the per-user aggregate — one events scan,
    // not a second full pass for a single scalar
    val total = perUser.agg(sum(col("c")).as("n_events"))
    perUser
      .agg(graft.operators.TopK.topk(10)(col("c").cast("double"), col("user_id"))
        .as("top"))
      .select(posexplode(col("top")).as(Seq("i", "t")))
      .select((col("i") + 1).cast("int").as("rk"),
        col("t._2").as("user_id"), col("t._1").cast("long").as("n_events_user"))
      .crossJoin(broadcast(total))
      .select(col("rk"), col("user_id"), col("n_events_user"),
        round(lit(1e-9) +
          col("n_events_user").cast("double") / col("n_events"), 5).as("share"))
      .orderBy(col("rk"))
  }

  val q114Sql: String =
    """WITH pu AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      |tot AS (SELECT count(*) AS n_events FROM events),
      |ranked AS (
      |  SELECT user_id, c,
      |    row_number() OVER (ORDER BY c DESC, user_id) AS rk
      |  FROM pu)
      |SELECT rk, user_id, c AS n_events_user,
      |  round(1e-9 + CAST(c AS DOUBLE) / n_events, 5) AS share
      |FROM ranked CROSS JOIN tot
      |WHERE rk <= 10
      |ORDER BY rk""".stripMargin

  /** Curriculum ordering — rank the corpus by the q24 quality score and
    * report each training decile's composition (the easy→hard schedule a
    * curriculum run feeds the data loader). The interesting part at
    * scale is the GLOBAL rank without a global sort: quality is bounded
    * in [0,1] and rounded to 5 dp, so floor(quality·1000) gives 1001
    * order-aligned blocks whose totals broadcast; block-local
    * row_numbers plus block offsets compose to the exact global rank
    * (the q96 two-phase shape). The 1000-way bucketing caps any single
    * window partition at the documents sharing one 3-dp quality slice —
    * ~N/1000 under any non-degenerate score distribution — where the
    * earlier 10-way split held ~N/10 in one partition at scale (any
    * monotone bucketing of the leading sort key is order-aligned, so
    * granularity is free). Deciles are integer arithmetic on that rank —
    * reproducible on any cluster shape. */
  def q116Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.q24QualityScore(spark, dir)
      .select(col("doc_id"), col("n_words"), col("quality"))
    // r15: n_docs rides the rank's own broadcast offsets (totalOut) —
    // the separate count aggregate was a third pass over the corpus
    // (skinny, but a full scan + job at 100 TB) and its crossJoin a
    // second broadcast. Same value: the block totals sum to the count.
    graft.operators.Ranking.globalRank(
        scored, floor(col("quality") * 1000).cast("int"),
        Seq(col("quality"), col("doc_id")), totalOut = Some("n_docs"))
      .withColumn("rk", col("rk") - 1)
      .groupBy(expr("rk * 10 div n_docs").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        round(lit(1e-9) + min(col("quality")), 5).as("min_q"),
        round(lit(1e-9) + max(col("quality")), 5).as("max_q"),
        sum(col("n_words")).as("token_mass"))
      .orderBy(col("decile"))
  }

  val q116Sql: String =
    """WITH q AS (
      |  SELECT doc_id, n_words,
      |    round(1e-9 + 0.3 * least(1.0, CAST(n_words AS DOUBLE) / 100.0)
      |        + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_words)
      |        + 0.4 * least(1.0, (CAST(word_chars AS DOUBLE) / n_words) / 8.0),
      |      5) AS quality
      |  FROM (
      |    SELECT doc_id,
      |      len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
      |      length(replace(text, ' ', '')) AS word_chars,
      |      len(list_filter(string_split(text, ' '),
      |          t -> list_contains(['the', 'a', 'data', 'value'], t))) AS n_stop
      |    FROM documents)),
      |ranked AS (
      |  SELECT doc_id, n_words, quality,
      |    row_number() OVER (ORDER BY quality, doc_id) - 1 AS rk
      |  FROM q),
      |n AS (SELECT count(*) AS n_docs FROM q)
      |SELECT rk * 10 // n_docs AS decile, count(*) AS n_docs,
      |  round(1e-9 + min(quality), 5) AS min_q,
      |  round(1e-9 + max(quality), 5) AS max_q,
      |  CAST(sum(n_words) AS BIGINT) AS token_mass
      |FROM ranked CROSS JOIN n
      |GROUP BY 1
      |ORDER BY decile""".stripMargin

  /** Epoch allocation under a token budget — the data-constrained-scaling
    * decision (Muennighoff et al.: repeating good data beats adding bad
    * data, up to ~4 epochs): given a training budget of 2× the corpus
    * token mass, fill from the highest q116 quality decile down, capping
    * every tier at 4 epochs; the first tier the budget cannot cover in
    * full gets a fractional epoch count and everything below gets zero.
    *
    * Scale design: the expensive pass is q116's decile table (already a
    * two-phase rank, never a global sort); the allocation itself runs on
    * TEN rows — a reverse-cumulative window over the decile table —
    * so the planner costs nothing beyond the audit it consumes. Epoch
    * arithmetic: budget and token masses are exact integers; only the
    * final fractional epoch divides, rounded at 4 dp. */
  def q118EpochAllocation(spark: SparkSession, dir: String): DataFrame = {
    val tiers = q116Curriculum(spark, dir)
      .select(col("decile"), col("token_mass"))
    // tokens of all STRICTLY higher-quality tiers (reverse prefix sum
    // over the 10-row decile table)
    // runs over the 10-row decile table: constant partition key =
    // deliberately-bounded single-partition window
    val wDesc = Window.partitionBy(lit(0)).orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // corpus total as a SECOND window over the same 10-row partition
    // (whole-partition frame), NOT a separate aggregate + crossJoin: the
    // aggregate consumed `tiers` a second time, and exchange reuse does
    // not unify the two q116 subtrees (their pruned projections differ),
    // so the ENTIRE curriculum pipeline — two corpus-scale passes —
    // executed twice (r14 plan: 12 scans / 38 exchanges; r15: half).
    // Same value bit-for-bit: sum over all 10 rows of the same table.
    val wAll = Window.partitionBy(lit(0))
    tiers
      .withColumn("cum_incl", sum(col("token_mass")).over(wDesc))
      .withColumn("cum_above", col("cum_incl") - col("token_mass"))
      .withColumn("corpus_toks", sum(col("token_mass")).over(wAll))
      .withColumn("budget", col("corpus_toks") * 2)
      .withColumn("remaining",
        greatest(lit(0L), col("budget") - col("cum_above") * 4))
      .withColumn("epochs",
        when(col("remaining") >= col("token_mass") * 4, lit(4.0))
          .otherwise(round(lit(1e-9) +
            col("remaining").cast("double") / col("token_mass"), 4)))
      .select(col("decile"), col("token_mass"), col("epochs"),
        round(lit(1e-9) + col("token_mass") * col("epochs"), 1)
          .as("allocated_toks"))
      .orderBy(col("decile").desc)
  }

  val q118Sql: String =
    """WITH q AS (
      |  SELECT doc_id, n_words,
      |    round(1e-9 + 0.3 * least(1.0, CAST(n_words AS DOUBLE) / 100.0)
      |        + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_words)
      |        + 0.4 * least(1.0, (CAST(word_chars AS DOUBLE) / n_words) / 8.0),
      |      5) AS quality
      |  FROM (
      |    SELECT doc_id,
      |      len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
      |      length(replace(text, ' ', '')) AS word_chars,
      |      len(list_filter(string_split(text, ' '),
      |          t -> list_contains(['the', 'a', 'data', 'value'], t))) AS n_stop
      |    FROM documents)),
      |ranked AS (
      |  SELECT doc_id, n_words, quality,
      |    row_number() OVER (ORDER BY quality, doc_id) - 1 AS rk
      |  FROM q),
      |n AS (SELECT count(*) AS n_docs FROM q),
      |tiers AS (
      |  SELECT rk * 10 // n_docs AS decile,
      |    CAST(sum(n_words) AS BIGINT) AS token_mass
      |  FROM ranked CROSS JOIN n
      |  GROUP BY 1),
      |total AS (SELECT CAST(sum(token_mass) AS BIGINT) AS corpus_toks FROM tiers),
      |alloc AS (
      |  SELECT decile, token_mass,
      |    CAST(sum(token_mass) OVER (ORDER BY decile DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      - token_mass AS cum_above
      |  FROM tiers)
      |SELECT decile, token_mass,
      |  CASE WHEN greatest(0, corpus_toks * 2 - cum_above * 4) >= token_mass * 4
      |       THEN 4.0
      |       ELSE round(1e-9 +
      |         CAST(greatest(0, corpus_toks * 2 - cum_above * 4) AS DOUBLE)
      |           / token_mass, 4) END AS epochs,
      |  round(1e-9 + token_mass *
      |    (CASE WHEN greatest(0, corpus_toks * 2 - cum_above * 4) >= token_mass * 4
      |          THEN 4.0
      |          ELSE round(1e-9 +
      |            CAST(greatest(0, corpus_toks * 2 - cum_above * 4) AS DOUBLE)
      |              / token_mass, 4) END), 1) AS allocated_toks
      |FROM alloc CROSS JOIN total
      |ORDER BY decile DESC""".stripMargin

  /** Calibration audit (reliability diagram + ECE terms) for a quality
    * classifier — the monitoring pass that closes the classifier-ops
    * loop the pack already opens (q110 trains the model, q99 audits its
    * labels): batch-score the corpus with a FIXED model from the
    * registry (literal weights over q110's exact feature definitions —
    * auditing a frozen model is the production shape; training stays
    * q110's job), bucket predictions into 10 probability bins, and
    * report per bin the mean predicted probability vs the empirical
    * positive rate, their gap, and the bin's expected-calibration-error
    * contribution (n_b/N·|gap_b| — ECE is their sum). A well-calibrated
    * model shows gap ≈ 0 everywhere; this fixture's heuristic model
    * predicts a spread of probabilities against a flat ~0.44 base rate,
    * exactly the miscalibration shape the audit exists to catch.
    *
    * Determinism: features, z and σ(z) round exactly as q110 does; the
    * bin comes from INTEGER arithmetic on the 6-dp-rounded probability
    * (round(p·10⁶) then divide) because `floor(p*10)` on a float flips
    * bins when p sits exactly on a tenth (two docs do at sf0.1).
    *
    * Scale design: scoring is a zero-shuffle row kernel; the audit is
    * one 10-key aggregation with map-side partials; the 1-row total
    * broadcasts back onto 10 rows. Nothing is corpus-sized after the
    * scan at any corpus size. */
  /** The frozen registry classifier shared by q140/q141/q147 — q110's
    * exact feature definitions with the registry weights (-3, 2, 8, 2),
    * every intermediate rounded exactly once, so all consumers (and
    * their SQL twins via [[registrySql]]) score identical
    * probabilities from ONE definition: pure COLUMN expressions over a
    * text column, which [[registryScored]] applies. Zero-shuffle codegen
    * row kernel over the documents scan. */
  private def registryCols(text: Column): Map[String, Column] = {
    val toks = tokens(text)
    val nWords = size(toks)
    val wordChars = length(regexp_replace(text, " ", ""))
    val nStop = size(filter(toks, t =>
      array_contains(array(lit("the"), lit("a"), lit("data"), lit("value")), t)))
    val x1 = round(lit(1e-9) +
      least(lit(1.0), nWords.cast("double") / 100.0), 5)
    val x2 = round(lit(1e-9) + nStop.cast("double") / nWords, 5)
    val x3 = round(lit(1e-9) + least(lit(1.0),
      (wordChars.cast("double") / nWords) / 8.0), 5)
    val z = round(lit(1e-9) + lit(-3.0) + lit(2.0) * x1 +
      lit(8.0) * x2 + lit(2.0) * x3, 6)
    Map("n_words" -> nWords, "x1" -> x1, "x2" -> x2, "x3" -> x3,
      "p" -> round(lit(1e-9) + lit(1.0) / (lit(1.0) + exp(-z)), 6))
  }

  private def registryScored(spark: SparkSession, dir: String): DataFrame = {
    val rc = registryCols(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id") +: col("source") +: col("lang") +:
        Seq("n_words", "x1", "x2", "x3", "p").map(k => rc(k).as(k)): _*)
  }

  /** DuckDB fragment mirroring [[registryScored]]: CTE chain ending in
    * `rp` (doc_id, source, lang, n_words, x1, x2, x3, p). */
  private val registrySql: String =
    """feat AS (
      |  SELECT doc_id, source, lang,
      |    len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
      |    len(replace(text, ' ', '')) AS word_chars,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the', 'a', 'data', 'value'))) AS n_stop
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, source, lang, n_words,
      |    round(1e-9 + least(1.0, n_words::DOUBLE / 100.0), 5) AS x1,
      |    round(1e-9 + n_stop::DOUBLE / n_words, 5) AS x2,
      |    round(1e-9 + least(1.0, (word_chars::DOUBLE / n_words) / 8.0), 5) AS x3
      |  FROM feat),
      |rp AS (
      |  SELECT doc_id, source, lang, n_words, x1, x2, x3,
      |    round(1e-9 + 1.0 / (1.0 +
      |      exp(-round(1e-9 + (-3.0) + 2.0*x1 + 8.0*x2 + 2.0*x3, 6))), 6) AS p
      |  FROM x)""".stripMargin

  def q140CalibrationAudit(spark: SparkSession, dir: String): DataFrame = {
    val binned = registryScored(spark, dir)
      .select(when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"),
        col("p"))
      .withColumn("bin", least(lit(9),
        floor(round(col("p") * 1000000, 0).cast("long") / 100000.0)).cast("int"))
    // r15: n_total = Σ n_docs over the ≤10-bin table, as a whole-
    // partition window sum (bounded single-partition by construction) —
    // the separate count aggregate consumed `binned` a second time and
    // re-ran the registry scoring pass over the corpus (r14 plan: 2
    // documents scans; now 1). Exact integer identity.
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(lit(1e-9) + avg(col("p")), 5).as("mean_p"),
        round(lit(1e-9) + avg(col("y")), 5).as("frac_pos"))
      .withColumn("n_total",
        sum(col("n_docs")).over(Window.partitionBy(lit(0))))
      .withColumn("gap", round(lit(1e-9) + col("mean_p") - col("frac_pos"), 5))
      .withColumn("ece_part", round(lit(1e-9) +
        abs(col("gap")) * col("n_docs") / col("n_total"), 6))
      .select(col("bin"), col("n_docs"), col("mean_p"), col("frac_pos"),
        col("gap"), col("ece_part"))
      .orderBy(col("bin"))
  }

  val q140Sql: String =
    s"""WITH $registrySql,
      |b AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, p,
      |    least(9, round(p * 1000000, 0)::BIGINT // 100000)::INT AS bin
      |  FROM rp),
      |tot AS (SELECT count(*) AS n_total FROM b),
      |bins AS (
      |  SELECT bin, count(*) AS n_docs,
      |    round(1e-9 + avg(p), 5) AS mean_p,
      |    round(1e-9 + avg(y), 5) AS frac_pos,
      |    any_value(n_total) AS n_total
      |  FROM b CROSS JOIN tot
      |  GROUP BY bin)
      |SELECT bin, n_docs,
      |  mean_p, frac_pos,
      |  round(1e-9 + mean_p - frac_pos, 5) AS gap,
      |  round(1e-9 + abs(round(1e-9 + mean_p - frac_pos, 5)) * n_docs / n_total, 6)
      |    AS ece_part
      |FROM bins
      |ORDER BY bin""".stripMargin

  /** Inter-labeler agreement (Cohen's κ) between the frozen registry
    * classifier (q140's model, hard-thresholded at p ≥ 0.5) and the
    * rule-based quality labeler the classifier is meant to replace
    * (stopword ratio ≥ 0.12 ∧ ≥ 25 words). Reports the full 2×2
    * confusion (n_11/n_10/n_01/n_00; model index first), observed
    * agreement p_o, chance agreement p_e from the marginals, and
    * κ = (p_o − p_e)/(1 − p_e) — the standard go/no-go gate before a
    * learned filter is allowed to replace a heuristic one in a curation
    * pipeline (κ near 0 says the model is re-deriving coin flips, not
    * the rule).
    *
    * Determinism: both labels are integer 0/1, so every confusion count
    * is exact; p_o/p_e/κ are ratios of those integers, rounded once with
    * the repo's `round(1e-9 + x, 5)` idiom.
    *
    * Scale design: label assignment is a zero-shuffle codegen row
    * kernel; the whole audit is ONE map-side-combined aggregation to a
    * single row. Nothing downstream of the scan grows with the corpus. */
  def q141LabelAgreement(spark: SparkSession, dir: String): DataFrame = {
    val lab = registryScored(spark, dir).select(
      when(col("p") >= 0.5, lit(1L)).otherwise(lit(0L)).as("m"),
      when(col("x2") >= 0.12 && col("n_words") >= 25, lit(1L))
        .otherwise(lit(0L)).as("h"))
    val cells = lab.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("m") === 1 && col("h") === 1, 1L).otherwise(0L)).as("n_11"),
      sum(when(col("m") === 1 && col("h") === 0, 1L).otherwise(0L)).as("n_10"),
      sum(when(col("m") === 0 && col("h") === 1, 1L).otherwise(0L)).as("n_01"),
      sum(when(col("m") === 0 && col("h") === 0, 1L).otherwise(0L)).as("n_00"))
    val n = col("n_docs").cast("double")
    val po = round(lit(1e-9) + (col("n_11") + col("n_00")) / n, 5)
    val pe = round(lit(1e-9) +
      ((col("n_11") + col("n_10")) * (col("n_11") + col("n_01")) +
        (col("n_01") + col("n_00")) * (col("n_10") + col("n_00"))) / (n * n), 5)
    cells.select(
      col("n_docs"), col("n_11"), col("n_10"), col("n_01"), col("n_00"),
      po.as("po"), pe.as("pe"),
      // degenerate-corpus guard: when both labelers are constant the
      // marginals make pe exactly 1.0 and (po-pe)/(1-pe) is 0/0 — Spark's
      // Divide yields null while DuckDB may not, so pin kappa to 0.0
      // (no agreement beyond chance), mirroring q149's jaccard branch
      when(pe >= 1.0, lit(0.0))
        .otherwise(round(lit(1e-9) + (po - pe) / (lit(1.0) - pe), 5))
        .as("kappa"))
  }

  val q141Sql: String =
    s"""WITH $registrySql,
      |lab AS (
      |  SELECT
      |    CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS m,
      |    CASE WHEN x2 >= 0.12 AND n_words >= 25 THEN 1 ELSE 0 END AS h
      |  FROM rp),
      |cells AS (
      |  SELECT count(*) AS n_docs,
      |    sum(CASE WHEN m = 1 AND h = 1 THEN 1 ELSE 0 END)::BIGINT AS n_11,
      |    sum(CASE WHEN m = 1 AND h = 0 THEN 1 ELSE 0 END)::BIGINT AS n_10,
      |    sum(CASE WHEN m = 0 AND h = 1 THEN 1 ELSE 0 END)::BIGINT AS n_01,
      |    sum(CASE WHEN m = 0 AND h = 0 THEN 1 ELSE 0 END)::BIGINT AS n_00
      |  FROM lab),
      |rates AS (
      |  SELECT *,
      |    round(1e-9 + (n_11 + n_00) / n_docs::DOUBLE, 5) AS po,
      |    round(1e-9 + ((n_11 + n_10) * (n_11 + n_01) +
      |      (n_01 + n_00) * (n_10 + n_00))
      |      / (n_docs::DOUBLE * n_docs::DOUBLE), 5) AS pe
      |  FROM cells)
      |SELECT n_docs, n_11, n_10, n_01, n_00, po, pe,
      |  CASE WHEN pe >= 1.0 THEN 0.0
      |       ELSE round(1e-9 + (po - pe) / (1.0 - pe), 5) END AS kappa
      |FROM rates""".stripMargin

  /** Seeded epoch-shuffle uniformity audit: training order at corpus
    * scale is a HASH, not a sort — shard-of-order = h32('ep1_' ∥ doc_id)
    * mod 16 gives every epoch a deterministic, seed-switchable
    * permutation with zero global sorts. This audit proves the property
    * that makes that safe: within every source stratum the 16 order
    * shards are statistically uniform (no source is front- or
    * back-loaded in the epoch). Per source: χ² against uniform —
    * computed in INTEGER arithmetic as Σ(16·obs − n)²/(16n) over ALL 16
    * shards, so no float-sum ordering can flip a digit — and the worst
    * per-shard absolute deviation in document units. The Σ explicitly
    * includes the (16 − observed)·n² numerator mass of EMPTY shards: a
    * source whose docs land in only half the shards is exactly the
    * front-loading pathology this audit exists to catch, and a sum over
    * observed cells alone would report it at half its true χ².
    *
    * Scale design: one shuffle to (source, shard) grain with map-side
    * partials; after that the data is |sources|×16 rows regardless of
    * corpus size. The shuffle audit is O(corpus) scan + O(sources)
    * state — the same shape at 100 TB. */
  def q142ShuffleUniformity(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("source"),
        (h32(concat(lit("ep1_"), col("doc_id"))) % 16).as("shard"))
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("obs"))
    val tot = cells.groupBy(col("source"))
      .agg(sum(col("obs")).as("n_docs"), count(lit(1)).as("n_shards"))
    cells.join(tot, Seq("source"))
      .withColumn("dev16", col("obs") * 16 - col("n_docs"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("n_shards")).as("n_shards"),
        // + the empty shards' terms: each contributes (0·16 − n)² = n²
        round(lit(1e-9) + (sum(col("dev16") * col("dev16")) +
            (lit(16L) - first(col("n_shards"))) *
              first(col("n_docs")) * first(col("n_docs"))).cast("double") /
          (lit(16.0) * first(col("n_docs"))), 4).as("chi2"),
        round(lit(1e-9) + greatest(max(abs(col("dev16"))),
            when(first(col("n_shards")) < 16, first(col("n_docs")))
              .otherwise(lit(0L))).cast("double") / 16.0, 4)
          .as("max_dev"))
      .orderBy(col("source"))
  }

  val q142Sql: String =
    """WITH b AS (
      |  SELECT source,
      |    ('0x' || substr(md5('ep1_' || doc_id), 1, 8))::BIGINT % 16 AS shard
      |  FROM documents),
      |cells AS (
      |  SELECT source, shard, count(*) AS obs FROM b GROUP BY 1, 2),
      |tot AS (
      |  SELECT source, sum(obs)::BIGINT AS n_docs, count(*) AS n_shards
      |  FROM cells GROUP BY 1)
      |SELECT c.source, any_value(n_docs) AS n_docs,
      |  any_value(n_shards) AS n_shards,
      |  round(1e-9 + (sum((obs * 16 - n_docs) * (obs * 16 - n_docs))
      |      + (16 - any_value(n_shards)) * any_value(n_docs) * any_value(n_docs))::DOUBLE
      |    / (16.0 * any_value(n_docs)), 4) AS chi2,
      |  round(1e-9 + greatest(max(abs(obs * 16 - n_docs)),
      |      CASE WHEN any_value(n_shards) < 16 THEN any_value(n_docs) ELSE 0 END)::DOUBLE
      |    / 16.0, 4) AS max_dev
      |FROM cells c JOIN tot t ON c.source = t.source
      |GROUP BY c.source
      |ORDER BY c.source""".stripMargin

  /** Sequence-length bucketing / padding-waste audit — prices the
    * batch-shape decision of training ingestion: with documents bucketed
    * to the smallest cap in {16, 32, 64, 128} subword tokens (overflow
    * truncates at the largest cap), how many pad tokens does each bucket
    * burn, and how many real tokens does truncation destroy? `pad_frac`
    * per bucket is the fraction of the bucket's token capacity spent on
    * padding — the number a packing stage (q65) exists to reclaim, and
    * the direct comparison point for choosing bucket boundaries. Subword
    * lengths use q23's BPE-ish regex kernel, so the audit prices the
    * same token count the packing/budget queries consume. The cap list
    * is a parameter of the audit (real pipelines run 512–8192); the
    * fixture's 12–152-token documents make the 128 truncation arm
    * non-vacuous at every SF.
    *
    * Determinism: lengths, caps, capacities, and pad counts are all
    * integers; the single double (pad_frac) is one rounded ratio of
    * integers.
    *
    * Scale design: a zero-shuffle row kernel (regexp count + a 4-arm
    * CASE) into ONE map-side-combined aggregation with 4 groups —
    * O(buckets) state at any corpus size. */
  def q145PaddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val caps = Seq(16, 32, 64, 128)
    val len = size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)))
    val cap = caps.init.reverse.foldLeft(lit(caps.last): Column) {
      (acc, c) => when(len <= c, lit(c)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(len.as("n_tok"), cap.as("cap"))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("n_tok"), col("cap"))).as("used_tokens"),
        sum(greatest(lit(0), col("n_tok") - col("cap"))).as("truncated_tokens"))
      .select(col("cap"), col("n_docs"), col("used_tokens"),
        (col("cap") * col("n_docs") - col("used_tokens")).as("pad_tokens"),
        round(lit(1e-9) +
          (col("cap") * col("n_docs") - col("used_tokens")).cast("double") /
          (col("cap") * col("n_docs")), 5).as("pad_frac"),
        col("truncated_tokens"))
      .orderBy(col("cap"))
  }

  val q145Sql: String =
    """WITH t AS (
      |  SELECT len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT n_tok,
      |    CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
      |         WHEN n_tok <= 64 THEN 64 ELSE 128 END AS cap
      |  FROM t),
      |g AS (
      |  SELECT cap, count(*) AS n_docs,
      |    sum(least(n_tok, cap))::BIGINT AS used_tokens,
      |    sum(greatest(0, n_tok - cap))::BIGINT AS truncated_tokens
      |  FROM b GROUP BY 1)
      |SELECT cap, n_docs, used_tokens,
      |  (cap * n_docs - used_tokens)::BIGINT AS pad_tokens,
      |  round(1e-9 + (cap * n_docs - used_tokens)::DOUBLE / (cap * n_docs), 5)
      |    AS pad_frac,
      |  truncated_tokens
      |FROM g
      |ORDER BY cap""".stripMargin

  /** Active-learning acquisition batch — the final arc of the
    * classifier-ops loop (q110 trains, q140 calibrates, q141 gates
    * against the heuristic, q99 audits label errors): pick the 20
    * documents the frozen registry classifier is LEAST sure about
    * (margin = |p − ½| smallest, doc_id tie-break) as the next batch to
    * send for human labels — uncertainty sampling, the standard
    * label-budget allocator in curation pipelines.
    *
    * Determinism: p and margin are rounded before ranking and ties break
    * on doc_id, so the selected set is unique.
    *
    * Scale design: zero-shuffle scoring into a global top-k —
    * `TakeOrderedAndProject` keeps a 20-row heap per partition and
    * merges partials on the driver (O(n log k) work, O(k·partitions)
    * driver rows), never a global sort. */
  def q147UncertaintySample(spark: SparkSession, dir: String): DataFrame =
    registryScored(spark, dir)
      .select(col("doc_id"), col("p"),
        round(lit(1e-9) + abs(col("p") - lit(0.5)), 6).as("margin"))
      .orderBy(col("margin"), col("doc_id"))
      .limit(20)

  val q147Sql: String =
    s"""WITH $registrySql
      |SELECT doc_id, p, round(1e-9 + abs(p - 0.5), 6) AS margin
      |FROM rp
      |ORDER BY margin, doc_id
      |LIMIT 20""".stripMargin

  /** Per-source quality mean with SEEDED-BOOTSTRAP confidence intervals —
    * the statistical-rigor layer on q24's point estimates: before a
    * curation decision keys off "source A scores lower than source B",
    * this prices how much of that gap is sampling noise. 32 Poisson(1)
    * bootstrap replicates, with every replicate weight derived
    * DETERMINISTICALLY from h32('bs<b>_' ∥ doc_id) through the fixed
    * Poisson(1) inverse-CDF thresholds — no RNG, so the interval is
    * reproducible across runs, engines, and cluster shapes (the same
    * property q52's splits have). The CI is the [2nd, 31st] order
    * statistic of the 32 replicate means (≈ a 94% interval by integer
    * indexing — no percentile interpolation to diverge on).
    *
    * Determinism: quality is integerized to 1e-5 grain (q5 ∈ 0..100000),
    * so every replicate sum is EXACT integer arithmetic; the only floats
    * are final rounded ratios.
    *
    * Scale design: one explode(32) over the scan (bounded ×32 row
    * inflation, map-side combined) into a (source, b)-grain aggregation —
    * O(sources·32) state; the order statistic sorts a 32-element array
    * per source. Nothing grows with the corpus. */
  def q148BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val feat = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks).as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("word_chars"),
        size(filter(toks, t =>
          array_contains(array(lit("the"), lit("a"), lit("data"), lit("value")), t)))
          .as("n_stop"))
    val q5 = round(TextAnalysis.qualityCol * 100000, 0).cast("long")
    val scored = feat.select(col("doc_id"), col("source"), q5.as("q5"))
    val u = (h32(concat(lit("bs"), col("b"), lit("_"), col("doc_id"))) % 1000000)
      .cast("double") / 1000000.0
    val w = when(u < 0.367879, 0L).when(u < 0.735759, 1L)
      .when(u < 0.919699, 2L).when(u < 0.981012, 3L)
      .when(u < 0.996340, 4L).otherwise(5L)
    // r15: the per-replicate aggregation ALSO carries the unweighted
    // sums (sq = Σ q5, nd = doc count — identical on every replicate of
    // a source, so the b=0 slice is read back via max()), which folds
    // the separate point-estimate pass into this one: previously
    // `scored` was consumed twice and the corpus scoring pass (tokenize
    // + feature extraction) executed twice, then re-joined (r14 plan: 2
    // documents scans + 1 join; now 1 scan, 0 joins). Exact integer
    // identities throughout; the replicate means are unchanged.
    val perRep = scored
      .select(col("doc_id"), col("source"), col("q5"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .select(col("source"), col("b"), col("q5"), w.as("w"))
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w") * col("q5")).as("wq"), sum(col("w")).as("ww"),
        sum(col("q5")).as("sq"), count(lit(1)).as("nd"))
    // a replicate whose weights are all zero (P(w=0)=e⁻¹ per doc, so
    // near-certain for 1-doc strata) carries no resample: drop it
    // identically in both engines instead of dividing by zero (null
    // in Spark vs NaN in DuckDB — an oracle mismatch). collect_list
    // skips the null the `when` leaves for dropped replicates — same
    // surviving set as the old pre-aggregation filter(ww > 0).
    val m = when(col("ww") > 0,
      round(lit(1e-9) + col("wq").cast("double") / (col("ww") * 100000.0), 6))
    val nRep = size(col("ms"))
    val loIdx = greatest(lit(1),
      floor((nRep * 2).cast("double") / 32).cast("int"))
    val hiIdx = least(nRep,
      floor((nRep * 31 + 31).cast("double") / 32).cast("int"))
    perRep.groupBy(col("source"))
      .agg(array_sort(collect_list(m)).as("ms"),
        max(col("nd")).as("n_docs"),
        round(lit(1e-9) + max(col("sq")).cast("double") /
          (max(col("nd")) * 100000.0), 5).as("mean_q"))
      // order-statistic indices scale with the surviving replicate count
      // (all-integer arithmetic; [2nd, 31st] when all 32 survive)
      .select(col("source"), col("n_docs"), col("mean_q"),
        round(lit(1e-9) + element_at(col("ms"), loIdx), 5).as("ci_lo"),
        round(lit(1e-9) + element_at(col("ms"), hiIdx), 5).as("ci_hi"))
      .orderBy(col("source"))
  }

  val q148Sql: String =
    """WITH feat AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
      |    len(replace(text, ' ', '')) AS word_chars,
      |    len(list_filter(string_split(text, ' '),
      |      t -> t IN ('the', 'a', 'data', 'value'))) AS n_stop
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, source,
      |    round(round(1e-9 +
      |      0.3 * least(1.0, n_words::DOUBLE / 100.0) +
      |      0.3 * (1.0 - n_stop::DOUBLE / n_words) +
      |      0.4 * least(1.0, (word_chars::DOUBLE / n_words) / 8.0), 5)
      |      * 100000, 0)::BIGINT AS q5
      |  FROM feat),
      |wts AS (
      |  SELECT source, b, q5,
      |    CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
      |         WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
      |         WHEN u < 0.996340 THEN 4 ELSE 5 END AS w
      |  FROM (
      |    SELECT source, b, q5,
      |      (('0x' || substr(md5('bs' || b || '_' || doc_id), 1, 8))::BIGINT
      |        % 1000000)::DOUBLE / 1000000.0 AS u
      |    FROM scored, unnest(range(0, 32)) AS t(b))),
      |reps AS (
      |  SELECT source, b,
      |    round(1e-9 + sum(w * q5)::DOUBLE / (sum(w) * 100000.0), 6) AS m
      |  FROM wts GROUP BY 1, 2
      |  HAVING sum(w) > 0),
      |ci AS (
      |  SELECT source, list(m ORDER BY m) AS ms FROM reps GROUP BY 1)
      |SELECT s.source, count(*) AS n_docs,
      |  round(1e-9 + sum(q5)::DOUBLE / (count(*) * 100000.0), 5) AS mean_q,
      |  round(1e-9 + any_value(ms[greatest(1, (len(ms) * 2) // 32)]), 5) AS ci_lo,
      |  round(1e-9 + any_value(ms[least(len(ms), (len(ms) * 31 + 31) // 32)]), 5)
      |    AS ci_hi
      |FROM scored s JOIN ci ON s.source = ci.source
      |GROUP BY s.source
      |ORDER BY s.source""".stripMargin

  /** Decontamination method-agreement matrix — the capstone audit over
    * the decontam triad: on ONE split protocol (q56's doc_id-hash
    * buckets: train < 90, test ≥ 95), flag every test document by each
    * production method — `lex` (exact 8-gram collision, q56's rule),
    * `bloom` (the k=3/2²⁰ Bloom approximation, q124's rule), `sem`
    * (sign-signature-blocked cosine ≥ 0.35 against the train vectors —
    * the LSH-routed form that scales, not the all-pairs form) — and
    * report, per method pair, the confusion counts, observed agreement,
    * and flagged-set Jaccard. This is the audit that answers "can the
    * Bloom filter replace the exact join" and "what does semantic add
    * over lexical" with numbers instead of anecdotes. (The fixture keys
    * embeddings and documents by one id space, so `vec_id` IS `doc_id`.)
    *
    * Scale design: lex/bloom ride the shared 8-gram postings (one
    * distinct + equi-joins; Bloom positions are k-bounded explodes);
    * sem is a bucket equi-join on the 8-bit sign signature (never
    * all-pairs, never a corpus-sized broadcast); the flags frame is
    * test-split-sized and the matrix is a 3-row aggregation. */
  def q149DecontamAgreement(spark: SparkSession, dir: String): DataFrame = {
    val sh = bucketedSh8(spark, dir)
    val trainH = sh.filter(col("bucket") < 90).select(col("h")).distinct()
    val test = sh.filter(col("bucket") >= 95).select(col("doc_id"), col("h"))
    val lex = test.join(trainH, Seq("h")).select("doc_id").distinct()
    val occupied = bloomPositions(trainH).select(col("pos")).distinct()
    val bloom = bloomPositions(test)
      .join(occupied, Seq("pos"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("k_hit"))
      .filter(col("k_hit") === 3).select("doc_id").distinct()
    val e = Similarity.vecs(spark, dir)
    val es = e
      .withColumn("sig",
        Similarity.sigCol(col("v"), Similarity.sigBits(Similarity.nVecs(spark, dir))))
      .withColumn("bucket", h32(concat(lit("split_"), col("vec_id"))) % 100)
    val trainV = es.filter(col("bucket") < 90)
      .select(col("sig").as("tsig"), col("v").as("tv"), col("nrm").as("tnrm"))
    val sem = es.filter(col("bucket") >= 95)
      .join(trainV, col("sig") === col("tsig"))
      .filter(round(lit(1e-9) +
        dotCol(col("v"), col("tv")) / sqrt(col("nrm") * col("tnrm")), 5) >= 0.35)
      .select(col("vec_id").as("doc_id")).distinct()
    val flags = Tables.documents(spark, dir)
      .withColumn("bucket", h32(concat(lit("split_"), col("doc_id"))) % 100)
      .filter(col("bucket") >= 95).select(col("doc_id"))
      .join(lex.withColumn("l", lit(1)), Seq("doc_id"), "left")
      .join(bloom.withColumn("b", lit(1)), Seq("doc_id"), "left")
      .join(sem.withColumn("s", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("l"), lit(0)).as("l"),
        coalesce(col("b"), lit(0)).as("b"), coalesce(col("s"), lit(0)).as("s"))
    val pairs = Seq(("bloom", "lex", "b", "l"), ("bloom", "sem", "b", "s"),
        ("lex", "sem", "l", "s"))
      .map { case (na, nb2, ca, cb) =>
        flags.select(lit(na).as("method_a"), lit(nb2).as("method_b"),
          col(ca).as("fa"), col(cb).as("fb"))
      }.reduce(_.unionByName(_))
    pairs.groupBy(col("method_a"), col("method_b"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("fa") === 1 && col("fb") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("fa") === 1 && col("fb") === 0, 1L).otherwise(0L)).as("n_only_a"),
        sum(when(col("fa") === 0 && col("fb") === 1, 1L).otherwise(0L)).as("n_only_b"),
        sum(when(col("fa") =!= col("fb"), 1L).otherwise(0L)).as("n_disagree"),
        sum(when(col("fa") === 1 || col("fb") === 1, 1L).otherwise(0L)).as("n_any"))
      .select(col("method_a"), col("method_b"), col("n_docs"),
        col("n_both"), col("n_only_a"), col("n_only_b"),
        round(lit(1e-9) +
          (col("n_docs") - col("n_disagree")).cast("double") / col("n_docs"), 5)
          .as("agreement"),
        when(col("n_any") === 0, lit(0.0))
          .otherwise(round(lit(1e-9) +
            col("n_both").cast("double") / col("n_any"), 5)).as("jaccard"))
      .orderBy(col("method_a"), col("method_b"))
  }

  val q149Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5('split_' || doc_id), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, bucket,
      |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
      |  FROM (
      |    SELECT doc_id, bucket, unnest(list_transform(range(1, len(toks) - 6),
      |      i -> array_to_string(toks[i:i+7], ' '))) AS s
      |    FROM (SELECT doc_id, bucket,
      |            list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |          FROM d))),
      |tr AS (SELECT DISTINCT h FROM sh WHERE bucket < 90),
      |te AS (SELECT doc_id, h FROM sh WHERE bucket >= 95),
      |lexf AS (SELECT DISTINCT doc_id FROM te JOIN tr USING (h)),
      |occ AS (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5('b' || seed || '_' || h), 1, 8))::BIGINT
      |      % 1048576 AS pos
      |  FROM tr, unnest(range(0, 3)) AS u(seed)),
      |bpos AS (
      |  SELECT doc_id, h,
      |    ('0x' || substr(md5('b' || seed || '_' || h), 1, 8))::BIGINT
      |      % 1048576 AS pos
      |  FROM te, unnest(range(0, 3)) AS u(seed)),
      |bloomf AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, h, count(*) AS k_hit
      |    FROM bpos JOIN occ USING (pos)
      |    GROUP BY 1, 2) WHERE k_hit = 3),
      |${Similarity.vecsSql},
      |${Similarity.sigSqlCtes},
      |evb AS (
      |  SELECT e.vec_id, e.embedding, e.nrm, sig.sig,
      |    ('0x' || substr(md5('split_' || vec_id), 1, 8))::BIGINT % 100 AS vbucket
      |  FROM e JOIN sig ON vec_id = s_vec),
      |semf AS (
      |  SELECT DISTINCT t.vec_id AS doc_id
      |  FROM evb t JOIN evb tv ON t.sig = tv.sig
      |    AND t.vbucket >= 95 AND tv.vbucket < 90
      |  WHERE round(1e-9 + list_reduce(list_transform(range(1, len(t.embedding) + 1),
      |      i -> t.embedding[i]::DOUBLE * tv.embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(t.nrm * tv.nrm), 5) >= 0.35),
      |flags AS (
      |  SELECT u.doc_id,
      |    CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END AS l,
      |    CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS b,
      |    CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS s
      |  FROM (SELECT doc_id FROM d WHERE bucket >= 95) u
      |  LEFT JOIN lexf l ON u.doc_id = l.doc_id
      |  LEFT JOIN bloomf b ON u.doc_id = b.doc_id
      |  LEFT JOIN semf s ON u.doc_id = s.doc_id),
      |pairs AS (
      |  SELECT 'bloom' AS method_a, 'lex' AS method_b, b AS fa, l AS fb FROM flags
      |  UNION ALL SELECT 'bloom', 'sem', b, s FROM flags
      |  UNION ALL SELECT 'lex', 'sem', l, s FROM flags)
      |SELECT method_a, method_b, count(*) AS n_docs,
      |  sum(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_both,
      |  sum(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END)::BIGINT AS n_only_a,
      |  sum(CASE WHEN fa = 0 AND fb = 1 THEN 1 ELSE 0 END)::BIGINT AS n_only_b,
      |  round(1e-9 + (count(*) -
      |    sum(CASE WHEN fa <> fb THEN 1 ELSE 0 END))::DOUBLE / count(*), 5)
      |    AS agreement,
      |  CASE WHEN sum(CASE WHEN fa = 1 OR fb = 1 THEN 1 ELSE 0 END) = 0 THEN 0.0
      |    ELSE round(1e-9 + sum(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END)::DOUBLE
      |      / sum(CASE WHEN fa = 1 OR fb = 1 THEN 1 ELSE 0 END), 5) END AS jaccard
      |FROM pairs
      |GROUP BY method_a, method_b
      |ORDER BY method_a, method_b""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q149_decontam_agreement", q149DecontamAgreement, q149Sql, SharedFrames.Postings8),
    Query("q148_bootstrap_ci", q148BootstrapCi, q148Sql),
    Query("q122_dedup_by_source", q122DedupBySource, q122Sql),
    Query("q141_label_agreement", q141LabelAgreement, q141Sql),
    Query("q142_shuffle_uniformity", q142ShuffleUniformity, q142Sql),
    Query("q145_padding_waste", q145PaddingWaste, q145Sql),
    Query("q147_uncertainty_sample", q147UncertaintySample, q147Sql),
    Query("q140_calibration_audit", q140CalibrationAudit, q140Sql),
    Query("q52_data_split", q52DataSplit, q52Sql),
    Query("q53_balanced_sample", q53BalancedSample, q53Sql),
    Query("q56_contamination", q56Contamination, q56Sql, SharedFrames.Postings8),
    Query("q60_curated_corpus", q60CuratedCorpus, q60Sql),
    Query("q62_mix_weights", q62MixWeights, q62Sql),
    Query("q65_sequence_packing", q65SequencePacking, q65Sql),
    Query("q73_weighted_sample", q73WeightedSample, q73Sql),
    Query("q75_shard_assign", q75ShardAssign, q75Sql),
    Query("q88_importance_weights", q88ImportanceWeights, q88Sql),
    Query("q97_winsorized_stats", q97WinsorizedStats, q97Sql),
    Query("q98_source_overlap", q98SourceOverlap, q98Sql, SharedFrames.Postings3),
    Query("q101_quality_blend", q101QualityBlend, q101Sql, SharedFrames.BigramLm),
    Query("q107_novelty_curve", q107NoveltyCurve, q107Sql, SharedFrames.Postings8),
    Query("q110_logistic_step", q110LogisticStep, q110Sql),
    Query("q113_effective_size", q113EffectiveSize, q113Sql),
    Query("q116_curriculum", q116Curriculum, q116Sql),
    Query("q118_epoch_alloc", q118EpochAllocation, q118Sql),
    Query("q114_concentration", q114Concentration, q114Sql),
    Query("q124_bloom_decontam", q124BloomDecontam, q124Sql, SharedFrames.Postings8),
    Query("q125_chunk_sliding", q125ChunkSliding, q125Sql),
    Query("q128_truncation_loss", q128TruncationLoss, q128Sql)
  )
}
