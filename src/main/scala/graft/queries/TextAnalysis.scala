package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.TextFns._

/** Text-analysis pack over the `documents` fixture — the training-data-
  * pipeline surface (language ID, quality scoring, token counting, document
  * fingerprinting) a 100 TB corpus engine needs.
  *
  * Everything is built from codegen'd built-in expressions (no UDFs): each
  * document row is processed independently, so every query is a single scan
  * + narrow projection followed by one aggregation/window — embarrassingly
  * parallel at any scale, with column pruning reaching the parquet scan.
  */
object TextAnalysis extends QueryPack {

  private[queries] val stopwords = Seq("the", "a", "data", "value")

  /** Token counting: whitespace tokens + a BPE-ish subword count (maximal
    * runs of ≤4 letters — deterministic proxy for a subword tokenizer),
    * aggregated per (lang, source). */
  def q23TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).as("nw"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).as("ns"),
        length(col("text")).as("nc"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("ws_tokens"),
        sum(col("ns")).as("subword_tokens"),
        round(lit(1e-9) + avg(col("nc")), 4).as("avg_chars"))
      .orderBy(col("lang"), col("source"))

  val q23Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  sum(len(list_filter(string_split(text, ' '), t -> len(t) > 0)))::BIGINT AS ws_tokens,
      |  sum(len(regexp_extract_all(text, '[a-z]{1,4}')))::BIGINT AS subword_tokens,
      |  round(1e-9 + avg(length(text)), 4) AS avg_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** The 0.3/0.3/0.4 heuristic quality blend over (n_words, word_chars,
    * n_stop) feature columns — ONE definition shared by q24's point
    * scores and [[Curation]]'s q148 bootstrap CIs (whose docs promise
    * they price exactly these point estimates). */
  private[graft] def qualityCol: org.apache.spark.sql.Column =
    round(lit(1e-9) +
      lit(0.3) * least(lit(1.0), col("n_words").cast("double") / 100.0) +
      lit(0.3) * (lit(1.0) - col("n_stop").cast("double") / col("n_words")) +
      lit(0.4) * least(lit(1.0),
        (col("word_chars").cast("double") / col("n_words")) / 8.0), 5)

  /** (doc_id, source, quality) in ONE scan — the fused projection blend
    * consumers join against. q101 previously joined q24's standalone
    * output on top of a separate documents(source) projection: two
    * corpus-grain scans and an extra doc_id shuffle join carrying
    * nothing q24's scan couldn't have carried itself. The quality
    * definition is [[qualityCol]], identical to q24's. */
  private[graft] def docQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks).as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("word_chars"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"))
      .select(col("doc_id"), col("source"), qualityCol.as("quality"))
  }

  /** Per-document quality score from length / stopword-ratio / mean word
    * length — the heuristic-filter stage of a corpus-cleaning pipeline. */
  def q24QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("word_chars"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        round(lit(1e-9) + col("word_chars").cast("double") / col("n_words"), 5).as("avg_wlen"),
        round(lit(1e-9) + col("n_stop").cast("double") / col("n_words"), 5).as("stop_ratio"),
        qualityCol.as("quality"))
      .orderBy(col("doc_id"))
  }

  val q24Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_words,
      |    length(replace(text, ' ', '')) AS word_chars,
      |    len(list_filter(string_split(text, ' '),
      |        t -> list_contains(['the', 'a', 'data', 'value'], t))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_words,
      |  round(1e-9 + CAST(word_chars AS DOUBLE) / n_words, 5) AS avg_wlen,
      |  round(1e-9 + CAST(n_stop AS DOUBLE) / n_words, 5) AS stop_ratio,
      |  round(1e-9 + 0.3 * least(1.0, CAST(n_words AS DOUBLE) / 100.0)
      |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_words)
      |      + 0.4 * least(1.0, (CAST(word_chars AS DOUBLE) / n_words) / 8.0),
      |    5) AS quality
      |FROM d
      |ORDER BY doc_id""".stripMargin

  /** n-gram-heuristic language ID: marker words vote per language, argmax
    * with deterministic tie-break, confusion matrix vs the labeled lang.
    * The marker table broadcasts; the corpus side never shuffles until the
    * final tiny confusion aggregation. */
  def q25LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val markers = Seq(
      ("the", "en"), ("fast", "en"),
      ("data", "de"), ("group", "de"),
      ("table", "es"), ("row", "es"),
      ("join", "fr"), ("merge", "fr"),
      ("hash", "zh"), ("scan", "zh")).toDF("word", "plang")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val hits = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .join(broadcast(markers), col("tok") === col("word"))
      .groupBy(col("doc_id").as("h_doc"), col("plang"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("h_doc"))
      .orderBy(col("votes").desc, col("plang"))
    val best = hits.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
    docs.join(best, col("doc_id") === col("h_doc"), "left")
      .select(col("lang"), coalesce(col("plang"), lit("und")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  val q25Sql: String =
    """WITH markers(word, plang) AS (VALUES
      |    ('the', 'en'), ('fast', 'en'), ('data', 'de'), ('group', 'de'),
      |    ('table', 'es'), ('row', 'es'), ('join', 'fr'), ('merge', 'fr'),
      |    ('hash', 'zh'), ('scan', 'zh')),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |  FROM documents),
      |hits AS (
      |  SELECT doc_id AS h_doc, plang, count(*) AS votes
      |  FROM toks JOIN markers ON tok = word
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT h_doc, plang FROM (
      |    SELECT h_doc, plang,
      |      row_number() OVER (PARTITION BY h_doc ORDER BY votes DESC, plang) AS rk
      |    FROM hits) WHERE rk = 1)
      |SELECT lang, coalesce(plang, 'und') AS predicted, count(*) AS n
      |FROM documents LEFT JOIN best ON doc_id = h_doc
      |GROUP BY 1, 2
      |ORDER BY lang, predicted""".stripMargin

  /** Document fingerprinting: rolling polynomial hash over token hashes
    * (whole doc + first-8-token prefix) — the cheap first key of a dedup
    * cascade; one narrow projection, no shuffle. */
  def q26Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        rollingFp(toks).as("fp"),
        rollingFp(slice(toks, 1, 8)).as("prefix_fp"))
      .orderBy(col("doc_id"))
  }

  val q26Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents)
      |SELECT doc_id, len(toks) AS n_tokens,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(toks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |    (a, b) -> (a * 131 + b) % 1000000007) AS fp,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(toks[1:8], t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |    (a, b) -> (a * 131 + b) % 1000000007) AS prefix_fp
      |FROM d
      |ORDER BY doc_id""".stripMargin

  /** Corpus statistics: document frequency + collection frequency per term
    * (the IDF side of TF-IDF). Explode + two-level aggregate; at scale the
    * map-side partial agg collapses each partition to ~vocab size. */
  def q27VocabStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"),
        count(lit(1)).as("coll_freq"))
      .orderBy(col("word"))

  val q27Sql: String =
    """SELECT word, count(DISTINCT doc_id) AS doc_freq, count(*) AS coll_freq
      |FROM (SELECT doc_id,
      |        unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS word
      |      FROM documents)
      |GROUP BY word
      |ORDER BY word""".stripMargin

  /** Repetition filter (the Gopher/MassiveText "repetitious text" rules,
    * token-level): per document, the fraction of bigram occurrences taken
    * by the single most frequent bigram, and the fraction of trigram
    * occurrences that are duplicates; a document is flagged when either
    * exceeds its threshold (0.06 / 0.05 — tuned to this synthetic corpus;
    * natural-text deployments use the published 2-gram 0.20 / 3-gram 0.18
    * char-fraction cuts).
    *
    * Scale design: every metric is a per-row computation over the
    * document's own n-gram array — the most frequent bigram falls out of
    * a longest-equal-run fold over the SORTED bigram array, duplicate
    * trigrams from `size - size(array_distinct)` — so the plan is a
    * single scan + narrow projection with ZERO shuffles before the final
    * presentation sort. The grouped explode/aggregate formulation (which
    * the DuckDB oracle keeps, for clarity) would shuffle every n-gram
    * occurrence twice; per-row array algebra is the 100 TB form. */
  def q57Repetition(spark: SparkSession, dir: String): DataFrame = {
    // metrics are defined over h32-hashed n-grams in BOTH engines and
    // computed by the native ngram_stats kernel (hash -> sort -> one
    // run-length pass per row; the declarative HOF chain runs in the
    // interpreter and profiled ~20x slower). The oracle hashes
    // identically, so a 32-bit collision would merge the same two
    // n-grams in both engines.
    def gs(n: Int): Column = call_function("ngram_stats", col("toks"), lit(n))
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        gs(2).as("b"), gs(3).as("t"))
      .select(col("doc_id"), col("n_tok"),
        col("b.top").as("top_bi"), col("b.total").as("n_bi"),
        col("t.uniq").as("n_uniq"), col("t.total").as("n_tri"))
      .withColumn("bi_frac",
        round(lit(1e-9) + col("top_bi").cast("double") / col("n_bi"), 5))
      .withColumn("tri_dup_frac",
        round(lit(1e-9) + (col("n_tri") - col("n_uniq")).cast("double") / col("n_tri"), 5))
      .withColumn("flagged",
        (col("bi_frac") > 0.06 || col("tri_dup_frac") > 0.05).cast("int"))
      .select(col("doc_id"), col("n_tok"), col("top_bi"),
        col("bi_frac"), col("tri_dup_frac"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  val q57Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, len(toks) AS n_tok, toks FROM d WHERE len(toks) >= 3),
      |bi AS (
      |  SELECT doc_id, max(c) AS top_bi, sum(c)::BIGINT AS n_bi FROM (
      |    SELECT doc_id, s, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |        i -> ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 8))::BIGINT)) AS s
      |      FROM base) GROUP BY 1, 2) GROUP BY 1),
      |tri AS (
      |  SELECT doc_id, count(*) AS n_uniq, sum(c)::BIGINT AS n_tri FROM (
      |    SELECT doc_id, s, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |        i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8))::BIGINT)) AS s
      |      FROM base) GROUP BY 1, 2) GROUP BY 1),
      |m AS (
      |  SELECT doc_id, n_tok,top_bi,
      |    round(1e-9 + CAST(top_bi AS DOUBLE) / n_bi, 5) AS bi_frac,
      |    round(1e-9 + CAST(n_tri - n_uniq AS DOUBLE) / n_tri, 5) AS tri_dup_frac
      |  FROM base JOIN bi USING (doc_id) JOIN tri USING (doc_id))
      |SELECT doc_id, n_tok, top_bi, bi_frac, tri_dup_frac,
      |  (bi_frac > 0.06 OR tri_dup_frac > 0.05)::INT AS flagged
      |FROM m
      |ORDER BY doc_id""".stripMargin

  /** Bigram-LM quality scoring (the CCNet/C4 "perplexity filter", self-
    * trained): an add-one-smoothed bigram language model is fit on the
    * corpus itself — unigram counts, bigram counts, vocabulary size —
    * and every document is scored by its per-pair cross-entropy
    * −avg ln((c(w1,w2)+1)/(c(w1)+V)). Gibberish and boilerplate score
    * high; fluent text scores near the corpus mean. The real pipeline
    * swaps the counts table for a pre-trained LM — the join/score shape
    * is identical.
    *
    * Scale: the TRAINED MODEL — the smoothed count table [[lmModel]] —
    * is a session-shared artifact (q61 and q101 both score with it), and
    * scoring is ONE pass over the pair expansion joined against it (a
    * bg-keyed equi-join: shuffle when the bigram vocabulary is large,
    * AQE-broadcast when measured-small). Training (inside the shared
    * builder) is two corpus passes: the bigram count aggregation — the
    * unigram table DERIVES from it, since every pair's w1 is its
    * bigram's first token — and the vocabulary distinct. The pair
    * expansion is never persisted: at corpus scale it cannot be cached,
    * and the train/score subtrees are bit-identical so runtime exchange
    * reuse shares the scan shuffle when both run in one job. */
  def q61LmScore(spark: SparkSession, dir: String): DataFrame =
    lmPairs(spark, dir)
      .join(lmModel(spark, dir), col("bg") === col("b_bg"))
      .withColumn("lp", log((col("cb") + lit(1.0)) / (col("cu") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        round(lit(1e-9) - avg(col("lp")), 4).as("xent"))
      .orderBy(col("doc_id"))

  /** The corpus pair expansion (doc_id, bg) — the unit the LM trains on
    * and scores over. Pure plan, built fresh per use (see [[q61LmScore]]
    * on why it is never cached). */
  private def lmPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        posexplode(slice(col("toks"), lit(1),
          // greatest(.,0): an empty token array makes size-1 = -1, which
          // Slice REJECTS at runtime; DuckDB's range(1, len) is just
          // empty — clamp to the oracle's behavior
          greatest(size(col("toks")) - 1, lit(0))))
          .as(Seq("i", "w1")),
        col("toks"))
      .select(col("doc_id"),
        concat(col("w1"), lit(" "), element_at(col("toks"), col("i") + 2)).as("bg"))
  }

  /** The corpus-trained bigram LM as a session-shared MODEL artifact:
    * one row per distinct bigram carrying (b_bg, cb, cu, v) — the bigram
    * count, its first word's unigram count (derived: cu(w) = Σ cb over
    * bigrams starting with w; tokens are whitespace-split so the first
    * space in bg is the token boundary), and the constant vocabulary
    * size. Shared by q61 and q101 under [[SharedFrames]]' warm contract:
    * the production analogue is a PRE-TRAINED LM loaded once per job
    * (CCNet ships KenLM artifacts; FineWeb ships classifier weights),
    * not a model re-fit inside every scoring query. The table is
    * vocab²-grain — a model-registry artifact the scorer broadcasts or
    * shuffle-joins on bg, never a corpus-sized join table. */
  private[graft] def lmModel(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(spark, dir, "lm") {
      val bi = lmPairs(spark, dir)
        .groupBy(col("bg").as("b_bg")).agg(count(lit(1)).as("cb"))
      val uni = bi.groupBy(substring_index(col("b_bg"), " ", 1).as("u_w"))
        .agg(sum(col("cb")).as("cu"))
      val vocab = Tables.documents(spark, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      bi.join(uni, substring_index(col("b_bg"), " ", 1) === col("u_w"))
        .crossJoin(vocab)
        .select(col("b_bg"), col("cb"), col("cu"), col("v"))
    }

  val q61Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
      |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg
      |  FROM d),
      |uni AS (SELECT w1 AS u_w, count(*) AS cu FROM pairs GROUP BY 1),
      |bi AS (SELECT bg AS b_bg, count(*) AS cb FROM pairs GROUP BY 1),
      |vocab AS (
      |  SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM d))
      |SELECT doc_id, count(*) AS n_pairs,
      |  round(1e-9 - avg(ln((cb + 1.0) / (cu + v))), 4) AS xent
      |FROM pairs
      |JOIN bi ON bg = b_bg
      |JOIN uni ON w1 = u_w
      |CROSS JOIN vocab
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** KMV (k-minimum-values) distinct-count sketch per language — the
    * deterministic, cross-engine-checkable cousin of HyperLogLog:
    * estimate = (k−1)·2³² / (k-th smallest distinct hash). The sketch is
    * built with the bounded [[graft.operators.TopK]] aggregator (bottom-k
    * = top-k on the negated hash), so each partition contributes at most
    * k values before the shuffle and the per-group state is k longs —
    * exactly how a mergeable KMV sketch distributes at 100 TB. Exact
    * distinct count rides along for the error column (affordable at
    * fixture scale; at 100 TB you'd keep only the sketch). */
  def q64KmvSketch(spark: SparkSession, dir: String): DataFrame = {
    val k = 16
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .select(col("lang"), h32(col("tok")).as("h"))
      .distinct()
    toks.groupBy(col("lang"))
      .agg(graft.operators.TopK.topk(k)(-col("h").cast("double"), col("h")).as("mins"),
        count(lit(1)).as("n_exact"))
      .filter(size(col("mins")) >= k)
      .withColumn("hk", element_at(col("mins"), k).getField("_2"))
      .withColumn("kmv_est",
        round(lit(1e-9) + lit((k - 1).toDouble) * 4294967296.0 / col("hk"), 1))
      .withColumn("err_pct",
        round(lit(1e-9) +
          abs(lit((k - 1).toDouble) * 4294967296.0 / col("hk") - col("n_exact"))
            * 100.0 / col("n_exact"), 1))
      .select(col("lang"), col("n_exact"), col("hk"), col("kmv_est"), col("err_pct"))
      .orderBy(col("lang"))
  }

  val q64Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT lang, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      |  FROM (SELECT lang,
      |          unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |        FROM documents)),
      |ranked AS (
      |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
      |  FROM toks),
      |kth AS (SELECT lang, h AS hk FROM ranked WHERE rk = 16),
      |exact AS (SELECT lang, count(*) AS n_exact FROM toks GROUP BY 1)
      |SELECT exact.lang, n_exact, hk,
      |  round(1e-9 + 15.0 * 4294967296 / hk, 1) AS kmv_est,
      |  round(1e-9 + abs(15.0 * 4294967296 / hk - n_exact) * 100.0 / n_exact, 1) AS err_pct
      |FROM exact JOIN kth USING (lang)
      |ORDER BY lang""".stripMargin

  /** First BPE merge candidates — step one of byte-pair-encoding
    * vocabulary induction: corpus-frequency-weighted counts of adjacent
    * character pairs within words, top-20. The word-frequency table does
    * the heavy lifting (one shuffle on the token); the character-pair
    * explosion runs over the DISTINCT vocabulary (|V| rows, not corpus
    * rows) weighted by frequency — exactly how the real BPE loop
    * amortizes, and why this is linear in corpus size plus |V|·|word|.
    * The final rank windows over at most |alphabet|² pair rows. */
  def q66BpeFirstMerge(spark: SparkSession, dir: String): DataFrame = {
    val w = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val pairs = w.filter(length(col("tok")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
    // ≤ |alphabet|² pair rows: the constant partition key declares the
    // single-partition window DELIBERATE (and bounded) instead of
    // tripping WindowExec's corpus-window warning
    val rk = Window.partitionBy(lit(0)).orderBy(col("n").desc, col("pair"))
    pairs.groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= 20)
      .select(col("pair"), col("n"), col("rk"))
      .orderBy(col("rk"))
  }

  val q66Sql: String =
    """WITH w AS (
      |  SELECT tok, count(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |    FROM documents) GROUP BY 1),
      |pairs AS (
      |  SELECT substr(tok, i, 2) AS pair, freq
      |  FROM w, unnest(range(1, len(tok))) AS u(i)
      |  WHERE len(tok) >= 2),
      |agg AS (
      |  SELECT pair, sum(freq)::BIGINT AS n FROM pairs GROUP BY 1),
      |ranked AS (
      |  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rk
      |  FROM agg)
      |SELECT pair, n, rk FROM ranked WHERE rk <= 20
      |ORDER BY rk""".stripMargin

  /** BPE vocabulary-induction LOOP — q66 ranks the FIRST merge's
    * candidates; this runs the actual training iteration three rounds
    * deep: count adjacent symbol pairs weighted by word frequency, adopt
    * the most frequent pair (ties lexicographic) as a new symbol, apply
    * it non-overlapping left-to-right to the whole vocabulary, repeat.
    * Output: the three learned merges in order with their winning
    * weighted counts — the head of the merges.txt a real BPE trainer
    * emits.
    *
    * Encoding trick for cross-engine merge parity: a word's symbol
    * sequence is the string `_c1_ _c2_ ..._` (each symbol wrapped in
    * underscores, single-space separated — the fixture alphabet has no
    * underscores), so "apply merge (x, y)" is plain
    * `replace(w, "_x_ _y_", "_xy_")`, and both engines' replace is
    * left-to-right non-overlapping with identical results even for the
    * aaa/aa overlap case (the consumed wrapper makes a re-match
    * impossible).
    *
    * Scale design: each round runs over the DISTINCT vocabulary (|V|
    * rows, frequency-weighted) — never corpus rows — exactly how
    * production BPE trainers amortize; the adopted pair is a 1-row
    * driver decision per round (the loop is inherently sequential,
    * like [[graft.operators.ConnectedComponents]]' rounds), and the
    * per-round pass is one map-side-combined pair aggregation. The
    * merges learned here replace the `bpe` entry of [[SharedFrames]]'
    * memo, the table [[q158BpeApply]] applies. */
  def q155BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // q155 IS the training loop: always recompute (its timing measures
    // training), and refresh the memo q158 applies from
    val m = bpeLearn(spark, dir, 3)
    SharedFrames.update(spark, dir, "bpe", m)
    m.toDF("round", "pattern", "merged", "n").orderBy(col("round"))
  }

  /** The BPE merge-training loop q155 reports and q158 applies: learn
    * the first `rounds` merges over the frequency-weighted DISTINCT
    * vocab (|V| rows, never corpus rows); each round's argmax is a
    * 1-row driver decision, ConnectedComponents-style control plane.
    * Returns (round, pattern, merged symbol, count). */
  private def bpeLearn(spark: SparkSession, dir: String,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    // checkpointed (lazily, so round 1's action materializes it): each
    // round's 1-row driver decision is an action, and without it every
    // round would re-run the corpus tokenize + groupBy plus all prior
    // replaces from scratch — the vocab is |V|
    // rows, exactly the thing worth keeping hot (same pattern as
    // Dedup.dupLabelsCompute)
    val v0 = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(bpeWrap(col("tok")).as("w"), col("freq"))
      .localCheckpoint(eager = false)
    var v = v0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (rnd <- 1 to rounds) {
      val toksCol = split(col("w"), " ")
      val pairs = v.select(col("freq"),
        explode(when(size(toksCol) >= 2,
          transform(sequence(lit(0), size(toksCol) - 2),
            i => concat(element_at(toksCol, i + 1), lit(" "),
              element_at(toksCol, i + 2))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      val top = pairs.groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1).collect()(0)
      val pat = top.getString(0)
      val merged = pat.replace("_ _", "")
      merges += ((rnd, pat, merged, top.getLong(1)))
      v = v.select(
        call_function("replace", col("w"), lit(pat), lit(merged)).as("w"),
        col("freq"))
    }
    merges.result()
  }

  /** Wrapped-symbol encoding shared by the BPE train/apply pair: each
    * character becomes `_c_`, symbols separated by spaces — what makes a
    * merge a plain non-overlapping `replace` with identical left-to-right
    * semantics in both engines. */
  private def bpeWrap(tok: Column): Column =
    concat(lit("_"),
      array_join(transform(sequence(lit(1), length(tok)),
        i => tok.substr(i, lit(1))), "_ _"),
      lit("_"))

  /** Tokenize the CORPUS with the trained tokenizer — the stage that
    * actually runs at 100 TB: q155 learns the merge table (3 rounds over
    * the |V|-row vocab, driver decisions), this query APPLIES it to every
    * token of every document and audits the result per language:
    * fertility (pieces per token — the multilingual tokenizer-quality
    * number) and compression (1 − pieces/chars — how much the learned
    * merges shrink the symbol stream). The audit a tokenizer change has
    * to pass before a training run re-tokenizes a corpus.
    *
    * Determinism: piece and char counts are exact integers; the two
    * ratios are rounded once with the repo idiom. The merge patterns are
    * q155's argmax decisions — lexicographic tie-breaks make them unique.
    *
    * Scale design: the learned merges are PLAN LITERALS (three replace
    * calls — the broadcast-of-a-model pattern, like q61's LM and q140's
    * registry weights); the corpus pass is one explode + a pure row
    * kernel + ONE lang-grain aggregation with map-side partials. Nothing
    * joins, nothing shuffles at corpus grain. Training runs once per
    * (session, corpus): the merge table is the `bpe` entry of
    * [[SharedFrames]]' memo (train once, apply everywhere; a driver-side
    * value, so cache clears leave it), which q155 refreshes — so this
    * query's cost IS the apply cost. */
  def q158BpeApply(spark: SparkSession, dir: String): DataFrame = {
    val merges = SharedFrames.memo(spark, dir, "bpe")(bpeLearn(spark, dir, 3))
    val applied = merges.foldLeft(bpeWrap(col("tok"))) {
      case (c, (_, pat, merged, _)) =>
        call_function("replace", c, lit(pat), lit(merged))
    }
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .select(col("lang"), length(col("tok")).cast("long").as("nc"),
        size(split(applied, " ")).cast("long").as("np"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("nc")).as("n_chars"),
        sum(col("np")).as("n_pieces"),
        round(lit(1e-9) +
          sum(col("np")).cast("double") / count(lit(1)), 5).as("fertility"),
        round(lit(1e-9) + lit(1.0) -
          sum(col("np")).cast("double") / sum(col("nc")), 5).as("compression"))
      .orderBy(col("lang"))
  }

  /** The DuckDB CTE chain learning the same 3 merges (w0 vocab → v0
    * wrapped → pairs/argmax/apply per round) — shared by q155Sql (which
    * reports the merges) and q158Sql (which applies them to the corpus). */
  private val bpeCtes: String = {
    def pairsOf(src: String, out: String): String =
      s"""$out AS (
         |  SELECT toks[i] || ' ' || toks[i+1] AS pair, sum(freq)::BIGINT AS n
         |  FROM (SELECT string_split(w, ' ') AS toks, freq FROM $src),
         |    unnest(range(1, len(toks))) AS u(i)
         |  GROUP BY 1)""".stripMargin
    def argmax(src: String, out: String): String =
      s"$out AS (SELECT pair, n FROM $src ORDER BY n DESC, pair LIMIT 1)"
    def applied(vsrc: String, msrc: String, out: String): String =
      s"""$out AS (
         |  SELECT replace($vsrc.w, $msrc.pair, replace($msrc.pair, '_ _', '')) AS w, freq
         |  FROM $vsrc CROSS JOIN $msrc)""".stripMargin
    s"""w0 AS (
      |  SELECT tok, count(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |    FROM documents) GROUP BY 1),
      |v0 AS (
      |  SELECT '_' || array_to_string(
      |      list_transform(range(1, len(tok) + 1), i -> tok[i]), '_ _') || '_' AS w,
      |    freq
      |  FROM w0),
      |${pairsOf("v0", "p1")},
      |${argmax("p1", "m1")},
      |${applied("v0", "m1", "v1")},
      |${pairsOf("v1", "p2")},
      |${argmax("p2", "m2")},
      |${applied("v1", "m2", "v2")},
      |${pairsOf("v2", "p3")},
      |${argmax("p3", "m3")}""".stripMargin
  }

  val q155Sql: String =
    s"""WITH $bpeCtes
      |SELECT 1 AS round, pair AS pattern, replace(pair, '_ _', '') AS merged, n FROM m1
      |UNION ALL
      |SELECT 2, pair, replace(pair, '_ _', ''), n FROM m2
      |UNION ALL
      |SELECT 3, pair, replace(pair, '_ _', ''), n FROM m3
      |ORDER BY round""".stripMargin

  val q158Sql: String =
    s"""WITH $bpeCtes,
      |toks AS (
      |  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |  FROM documents),
      |enc AS (
      |  SELECT lang, len(tok)::BIGINT AS nc,
      |    '_' || array_to_string(
      |      list_transform(range(1, len(tok) + 1), i -> tok[i]), '_ _') || '_' AS w
      |  FROM toks),
      |ap AS (
      |  SELECT lang, nc,
      |    len(string_split(replace(replace(replace(w,
      |      m1.pair, replace(m1.pair, '_ _', '')),
      |      m2.pair, replace(m2.pair, '_ _', '')),
      |      m3.pair, replace(m3.pair, '_ _', '')), ' '))::BIGINT AS np
      |  FROM enc CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3)
      |SELECT lang, count(*)::BIGINT AS n_tokens,
      |  sum(nc)::BIGINT AS n_chars,
      |  sum(np)::BIGINT AS n_pieces,
      |  round(1e-9 + sum(np)::DOUBLE / count(*), 5) AS fertility,
      |  round(1e-9 + 1.0 - sum(np)::DOUBLE / sum(nc), 5) AS compression
      |FROM ap
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Corpus-frequency boilerplate masking (the CCNet/C4 "remove lines
    * shared across many pages" pass, at token-bigram granularity since
    * the fixture has no line structure): a bigram present in more than 5%
    * of documents is boilerplate; each document reports how much of it is
    * covered by such bigrams — the signal a curation pipeline thresholds
    * to drop template-heavy pages.
    *
    * Scale design: the boilerplate lexicon is bounded by the distinct
    * bigram space, orders of magnitude smaller than the corpus — it
    * broadcasts, so the per-document pass is scan + broadcast-probe +
    * one (doc_id)-keyed aggregation. The document-frequency table is one
    * shuffle on the bigram hash with map-side distinct. */
  def q71Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(shingleH32(col("text"), 2)).as("h"))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("ndocs"))
    val boiler = sh.distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") * 20 > col("ndocs"))
      .select(col("h").as("bh"))
    sh.join(broadcast(boiler), col("h") === col("bh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), count(col("bh")).as("n_boiler"))
      .withColumn("boiler_pct",
        round(lit(1e-9) + col("n_boiler") / col("n_bigrams"), 4))
      .orderBy(col("doc_id"))
  }

  val q71Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 8))::BIGINT AS h
      |  FROM tok, unnest(range(1, len(toks))) AS u(i)
      |  WHERE len(toks) >= 2),
      |nd AS (SELECT count(*) AS ndocs FROM documents),
      |boiler AS (
      |  SELECT h FROM (
      |    SELECT h, count(DISTINCT doc_id) AS df FROM sh GROUP BY 1)
      |  CROSS JOIN nd WHERE df * 20 > ndocs)
      |SELECT doc_id, count(*) AS n_bigrams, count(b.h) AS n_boiler,
      |  round(1e-9 + count(b.h) / count(*), 4) AS boiler_pct
      |FROM sh LEFT JOIN boiler b ON sh.h = b.h
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** TF-IDF top terms per document — the classic relevance weighting
    * (salton-style tf·ln(N/df)), surfacing each document's three most
    * characteristic terms. Complements q46's BM25 (query-driven) with the
    * corpus-side feature-extraction view.
    *
    * Scale design: the document-frequency table is vocabulary-sized →
    * broadcast; term counting is one (doc_id, term) shuffle; the final
    * rank windows over ≤ |vocab| rows per document, partitioned by
    * doc_id so no global sort appears anywhere. */
  def q72Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("ndocs"))
    // r15: df computed DIRECTLY as "docs containing the term" via a
    // per-doc array_distinct explode — exact same counts as folding the
    // tf table (tf rows are distinct (doc,term) pairs), but the previous
    // tf.groupBy(term) re-executed the whole tf subtree (exchange reuse
    // cannot unify it with the join side's differently-shaped copy), so
    // the corpus paid a second doc_id repartition exchange + explode +
    // two aggregation levels just to derive df. The direct pass has NO
    // corpus exchange: map-side partials straight into the vocab-sized
    // term shuffle.
    val dft = Tables.documents(spark, dir)
      .select(explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .select(col("term").as("d_term"), col("df"), col("ndocs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dft), col("term") === col("d_term"))
      .withColumn("score",
        col("tf") * log(col("ndocs").cast("double") / col("df")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"),
        round(lit(1e-9) + col("score"), 5).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val q72Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS term
      |    FROM documents) GROUP BY 1, 2),
      |nd AS (SELECT count(*) AS ndocs FROM documents),
      |dft AS (
      |  SELECT term AS d_term, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT doc_id, term, tf * ln(ndocs::DOUBLE / df) AS score
      |  FROM tf JOIN dft ON term = d_term CROSS JOIN nd),
      |ranked AS (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, term, round(1e-9 + score, 5) AS tfidf
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Vocabulary coverage curve — "how much of the corpus do the top-k
    * vocabulary entries cover?", the statistic that sizes a tokenizer
    * vocabulary (and its OOV rate) before training one. Reports the
    * cumulative token-mass coverage at k ∈ {1, 2, 4, 8, 16}.
    *
    * Scale design: the only corpus-sized work is one (token) shuffle for
    * the frequency table; the cumulative window then runs over the
    * vocabulary — thousands of rows however big the corpus is — so the
    * single-partition running sum is deliberate, not a bottleneck. */
  def q74VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // r15: Σ_vocab cnt ≡ Σ_doc size(toks) — the total rides a NARROW
    // second scan (per-doc size arithmetic, map-side sum, no explode and
    // no vocabulary shuffle). The previous cnt.agg(sum) re-executed the
    // whole explode + vocab aggregation just to fold it into one row
    // (q109's nb idiom; exact integer identity either way).
    val tot = Tables.documents(spark, dir)
      .select(size(tokens(col("text"))).cast("long").as("nt"))
      .agg(sum(col("nt")).as("total"))
    // two-phase: only ranks <= 16 are consumed, and their cumulative sums
    // involve only tokens ranked above them — all of which survive a
    // salted per-bucket top-16 — so the global windows below run over
    // <= 64·16 survivor rows instead of single-partitioning the whole
    // vocabulary (1e8 rows per reducer at corpus scale)
    val wSalt = Window.partitionBy(h32(col("tok")) % 64)
      .orderBy(col("cnt").desc, col("tok"))
    val surv = cnt.withColumn("srk", row_number().over(wSalt))
      .filter(col("srk") <= 16)
    // ≤ 64·16 survivor rows (see above): constant partition key =
    // deliberately-bounded single-partition window, not a corpus window
    val w = Window.partitionBy(lit(0)).orderBy(col("cnt").desc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    surv.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("cnt").desc, col("tok"))))
      .filter(col("rk").isin(1, 2, 4, 8, 16))
      .crossJoin(broadcast(tot))
      .select(col("rk"), col("tok"), col("cnt"),
        round(lit(1e-9) + col("cum").cast("double") / col("total"), 4).as("cum_pct"))
      .orderBy(col("rk"))
  }

  val q74Sql: String =
    """WITH cnt AS (
      |  SELECT tok, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |    FROM documents) GROUP BY 1),
      |tot AS (SELECT sum(cnt)::BIGINT AS total FROM cnt),
      |cum AS (
      |  SELECT tok, cnt,
      |    sum(cnt) OVER (ORDER BY cnt DESC, tok
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    row_number() OVER (ORDER BY cnt DESC, tok) AS rk
      |  FROM cnt)
      |SELECT rk, tok, cnt, round(1e-9 + cum::DOUBLE / total, 4) AS cum_pct
      |FROM cum CROSS JOIN tot
      |WHERE rk IN (1, 2, 4, 8, 16)
      |ORDER BY rk""".stripMargin

  /** Per-language distinct-token estimate via the reusable
    * [[graft.functions.Hll]] typed Aggregator — the grouped form of q78:
    * `count(distinct tok)` per group forces an expand + full (lang, tok)
    * shuffle; the sketch ships 64 bytes per (partition, lang) instead.
    * The exact count rides along for the error report (and is the
    * oracle's strong check on the register math).
    *
    * The oracle replays the identical register computation in SQL, so a
    * hash-match here proves the Aggregator's reduce/merge/finish path is
    * numerically identical to the declarative chain. */
  def q86LangVocabHll(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .localCheckpoint(eager = false) // shared by the sketch and the exact baseline
    val est = toks.select(col("lang"), h32(col("tok")).as("h"))
      .groupBy(col("lang"))
      .agg(graft.functions.Hll.approxDistinct(col("h")).as("est_raw"))
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("exact_cnt"))
    est.join(exact, "lang")
      .select(col("lang"),
        round(lit(1e-9) + col("est_raw"), 2).as("est"),
        col("exact_cnt"),
        round(lit(1e-9) + abs(col("est_raw") - col("exact_cnt")) /
          col("exact_cnt"), 4).as("rel_err"))
      .orderBy(col("lang"))
  }

  val q86Sql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |  FROM documents),
      |r AS (
      |  SELECT lang, h & 63 AS bucket, h >> 6 AS w FROM (
      |    SELECT lang, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok)),
      |regs AS (
      |  SELECT lang, bucket,
      |    max(CASE WHEN w = 0 THEN 27
      |             ELSE 27 - length(format('{:b}', w)) END) AS reg
      |  FROM r GROUP BY 1, 2),
      |summ AS (
      |  SELECT lang, count(*) AS n_regs, sum(power(2.0, -reg)) AS s_present
      |  FROM regs GROUP BY 1),
      |ex AS (SELECT lang, count(DISTINCT tok)::BIGINT AS exact_cnt FROM tok GROUP BY 1)
      |SELECT lang,
      |  round(1e-9 + 0.709 * 4096.0 / (s_present + (64 - n_regs)), 2) AS est,
      |  exact_cnt,
      |  round(1e-9 + abs(0.709 * 4096.0 / (s_present + (64 - n_regs)) - exact_cnt)
      |    / exact_cnt, 4) AS rel_err
      |FROM summ JOIN ex USING (lang)
      |ORDER BY lang""".stripMargin

  /** Fixed-stride context-window chunking — the materialization step that
    * turns documents into overlapping training windows (size 32 tokens,
    * stride 24, so consecutive chunks share an 8-token overlap; RAG/
    * embedding pipelines and long-context packing both start here).
    * Reports per document the chunk count, the padding the final short
    * chunk would need, and a rolling fingerprint of the chunk-hash
    * sequence (the chunk table's identity, verifiable cross-engine).
    *
    * Scale design: chunk boundaries are pure per-row array arithmetic —
    * the whole query is a scan + narrow projection with no explode and no
    * shuffle, so it parallelizes perfectly at any corpus size; the chunk
    * table itself (doc_id, chunk_idx, chunk_hash) is the exploded form of
    * the same expressions and inherits the scan's partitioning. */
  def q92ContextChunks(spark: SparkSession, dir: String): DataFrame = {
    val win = 32
    val stride = 24
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        (floor((size(col("toks")) - 1) / stride) + 1).cast("long").as("n_chunks"),
        col("toks"))
      .select(col("doc_id"), col("n_toks"), col("n_chunks"),
        greatest(lit(0L),
          lit(win) - (col("n_toks") - lit(stride.toLong) * (col("n_chunks") - 1)))
          .as("pad"),
        // n_chunks = 0 guard (zero-token doc): Spark's sequence(0, -1)
        // counts DOWN to [0, -1] while the oracle's range(0, 0) is empty
        // — the same start>stop trap TextFns.shingles documents; the fold
        // seed 0 is what an empty chunk list hashes to in both engines
        when(col("n_chunks") <= 0, lit(0L)).otherwise(aggregate(
          transform(sequence(lit(0L), col("n_chunks") - 1),
            i => h32(array_join(
              slice(col("toks"), (i * stride + 1).cast("int"), lit(win)), " "))),
          lit(0L), (acc, h) => (acc * 131 + h) % P)).as("chunks_fp"))
      .orderBy(col("doc_id"))
  }

  val q92Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, len(toks)::BIGINT AS n_toks,
      |    (floor((len(toks) - 1) / 24) + 1)::BIGINT AS n_chunks, toks
      |  FROM d)
      |SELECT doc_id, n_toks, n_chunks,
      |  greatest(0, 32 - (n_toks - 24 * (n_chunks - 1)))::BIGINT AS pad,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(0, n_chunks::INT),
      |      i -> ('0x' || substr(md5(array_to_string(
      |        toks[i*24+1 : i*24+32], ' ')), 1, 8))::BIGINT)),
      |    (a, b) -> (a * 131 + b) % 1000000007) AS chunks_fp
      |FROM c
      |ORDER BY doc_id""".stripMargin

  /** Per-document Shannon entropy of the token distribution — the
    * information-density quality signal (repetitive/templated text scores
    * low even when q57's fixed n-gram ratios miss it). Also reports the
    * entropy normalized by its maximum ln(n_uniq), a 0-1 "evenness".
    *
    * Scale design: token counts are ONE map-side-combined aggregation of
    * the exploded scan keyed by (doc_id, token) — partitioned by a prefix
    * of the second aggregation's key (doc_id), so the per-document rollup
    * that turns counts into -Σ p·ln p reuses the same exchange. H is
    * computed as ln(n) - Σ c·ln(c) / n, which needs no per-document
    * normalization pass before the sum. */
  def q94TokenEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_toks"), count(lit(1)).as("n_uniq"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("slc"))
      .select(col("doc_id"), col("n_toks"), col("n_uniq"),
        round(lit(1e-9) + log(col("n_toks").cast("double")) -
          col("slc") / col("n_toks"), 5).as("entropy"),
        when(col("n_uniq") > 1,
          round(lit(1e-9) +
            (log(col("n_toks").cast("double")) - col("slc") / col("n_toks")) /
              log(col("n_uniq").cast("double")), 5))
          .otherwise(lit(0.0)).as("evenness"))
      .orderBy(col("doc_id"))

  val q94Sql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
      |    x -> len(x) > 0)) AS tok
      |  FROM documents),
      |cnt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, sum(c)::BIGINT AS n_toks, count(*) AS n_uniq,
      |    sum(c::DOUBLE * ln(c::DOUBLE)) AS slc
      |  FROM cnt GROUP BY 1)
      |SELECT doc_id, n_toks, n_uniq,
      |  round(1e-9 + ln(n_toks::DOUBLE) - slc / n_toks, 5) AS entropy,
      |  CASE WHEN n_uniq > 1 THEN
      |    round(1e-9 + (ln(n_toks::DOUBLE) - slc / n_toks)
      |      / ln(n_uniq::DOUBLE), 5)
      |  ELSE 0.0 END AS evenness
      |FROM agg
      |ORDER BY doc_id""".stripMargin

  /** Count-min-sketch heavy hitters — the streaming-compatible frequency
    * estimator (4 hash rows × 1024 buckets) next to the HLL (q78) and KMV
    * (q64) sketches: estimate token frequencies from fixed-size mergeable
    * state and report estimate vs truth for the top-20 tokens.
    *
    * Scale design: the sketch is built FROM the per-token partial counts
    * (map-side combine first, then 4 bucket rows per distinct token —
    * never 4× the raw token stream), and at most 4×1024 cells cross the
    * final exchange regardless of corpus size — that bounded state is the
    * whole point of the sketch (it is what a streaming stage would keep
    * per trigger; cells are mergeable by addition). The probe side is the
    * top-20 tokens × 4 rows joined against the 4096-cell sketch — both
    * broadcast-sized. Estimates are upward-biased only (est ≥ true by
    * construction); `err` quantifies the collision bias at this width. */
  def q102CountMinHitters(spark: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val width = 1024
    val toks = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // distinct-token-sized; sketch, top-20 and probe share its shuffle
    // (exchange reuse), so it is computed once
    val rows = (0 until depth).map { j =>
      struct(lit(j).as("j"),
        (h32(concat(lit(s"cm${j}_"), col("tok"))) % width).as("b"))
    }
    val sketch = toks
      .select(col("c"), explode(array(rows: _*)).as("jb"))
      .groupBy(col("jb.j").as("s_j"), col("jb.b").as("s_b"))
      .agg(sum(col("c")).as("cell"))
    val top = toks
      .orderBy(col("c").desc, col("tok"))
      .limit(20)
    top
      .select(col("tok"), col("c"), explode(array(rows: _*)).as("jb"))
      .join(sketch,
        col("jb.j") === col("s_j") && col("jb.b") === col("s_b"))
      .groupBy(col("tok"))
      .agg(max(col("c")).as("exact"),
        min(col("cell")).as("est"))
      .select(col("tok"), col("exact"), col("est"),
        (col("est") - col("exact")).as("err"))
      .orderBy(col("exact").desc, col("tok"))
  }

  val q102Sql: String =
    """WITH toks AS (
      |  SELECT tok, count(*) AS c FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |    FROM documents)
      |  GROUP BY 1),
      |cells AS (
      |  SELECT j, ('0x' || substr(md5('cm' || j || '_' || tok), 1, 8))::BIGINT % 1024 AS b,
      |    tok, c
      |  FROM toks CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
      |sketch AS (
      |  SELECT j AS s_j, b AS s_b, CAST(sum(c) AS BIGINT) AS cell
      |  FROM cells GROUP BY 1, 2),
      |top AS (SELECT tok, c FROM toks ORDER BY c DESC, tok LIMIT 20)
      |SELECT t.tok AS tok, max(t.c) AS exact, min(cell) AS est,
      |  min(cell) - max(t.c) AS err
      |FROM top t
      |JOIN cells p ON p.tok = t.tok
      |JOIN sketch s ON s.s_j = p.j AND s.s_b = p.b
      |GROUP BY 1
      |ORDER BY exact DESC, t.tok""".stripMargin

  /** Zipf-law audit — fit ln(freq) = a + s·ln(rank) over each language's
    * top-50 tokens by closed-form least squares. Natural corpora follow
    * s ≈ −1; a corpus whose slope drifts toward 0 is template/boilerplate
    * heavy, one that steepens is topic-collapsed — a one-row-per-language
    * distribution health check run after ingestion.
    *
    * Scale design: token counts aggregate map-side; the top-50 selection
    * is TWO-PHASE so no single partition ever sorts a whole language's
    * vocabulary (at corpus scale one language can hold 10⁸ distinct
    * tokens — a per-lang window would be a straggler): a salted window
    * ranks (lang, h32(tok) % 64) buckets in parallel and keeps each
    * bucket's top-50 — the global top-50 is necessarily contained in
    * that union — then the final window ranks ≤ 3200 survivors per
    * language. Identical output, bounded partition size. ln() values
    * are rounded to 6 dp before summation (q88's defense: libm's
    * last-ulp differences must not reach the oracle compare), and the
    * fold order of every regression sum is fixed by the rank. */
  def q105ZipfAudit(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val wSalt = Window.partitionBy(col("lang"), h32(col("tok")) % 64)
      .orderBy(col("c").desc, col("tok"))
    val survivors = counts.withColumn("srk", row_number().over(wSalt))
      .filter(col("srk") <= 50)
    val w = Window.partitionBy(col("lang")).orderBy(col("c").desc, col("tok"))
    val pts = survivors.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 50)
      .select(col("lang"),
        round(log(col("rk").cast("double")), 6).as("x"),
        round(log(col("c").cast("double")), 6).as("y"))
    pts.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lang"), col("n_pts"),
        round(lit(1e-9) +
          (col("n_pts") * col("sxy") - col("sx") * col("sy")) /
          (col("n_pts") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        round(lit(1e-9) +
          (col("sy") - col("sx") *
            ((col("n_pts") * col("sxy") - col("sx") * col("sy")) /
             (col("n_pts") * col("sxx") - col("sx") * col("sx")))) / col("n_pts"),
          4).as("intercept"))
      .orderBy(col("lang"))
  }

  val q105Sql: String =
    """WITH counts AS (
      |  SELECT lang, tok, count(*) AS c FROM (
      |    SELECT lang, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |    FROM documents)
      |  GROUP BY 1, 2),
      |pts AS (
      |  SELECT lang, round(ln(rk::DOUBLE), 6) AS x, round(ln(c::DOUBLE), 6) AS y
      |  FROM (
      |    SELECT lang, c,
      |      row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk
      |    FROM counts)
      |  WHERE rk <= 50),
      |s AS (
      |  SELECT lang, count(*) AS n_pts,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
      |  FROM pts GROUP BY 1)
      |SELECT lang, n_pts,
      |  round(1e-9 + (n_pts * sxy - sx * sy) / (n_pts * sxx - sx * sx), 4)
      |    AS slope,
      |  round(1e-9 + (sy - sx * ((n_pts * sxy - sx * sy)
      |    / (n_pts * sxx - sx * sx))) / n_pts, 4) AS intercept
      |FROM s
      |ORDER BY lang""".stripMargin

  /** PMI collocation mining — pointwise mutual information over adjacent
    * token pairs: pmi(a,b) = ln( P(ab) / (P(a)·P(b)) ). High-PMI pairs
    * are multiword units ("new york"); in a curation pipeline they feed
    * tokenizer merge candidates (q66's counts-based first merge is the
    * BPE view; PMI is the association view) and template detection
    * (boilerplate has pathological PMI structure). Pairs below 20
    * occurrences are dropped — PMI's known low-count instability.
    *
    * Scale design: two corpus explodes — the map-side-combined bigram
    * and unigram count aggregations — plus one NARROW corpus scan for
    * the pair total: Σcb ≡ Σ_doc max(len(toks)−1, 0) (the identity
    * CurationOpsSpec pins), so nb is a per-doc size arithmetic with a
    * map-side sum, never a persisted vocab²-grain table (round 11
    * persisted the unfiltered bigram counts just to sum them — the
    * persist cost was charged to every run) and never a third explode.
    * After the counts everything is vocab-grain: two counts-table
    * joins, broadcast total rows, and a bounded TakeOrdered top-20 —
    * never a sort of the bigram table. (Round 13 check on the round-11
    * regression: with the vocab²-grain persist gone, isolated QTime
    * reads 0.85 s at sf0.1 — back under the ~0.9 s round-10 level.) */
  def q109PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("toks"))
    val bi = d
      .select(posexplode(slice(col("toks"), lit(1),
          // greatest(.,0): an empty token array makes size-1 = -1, which
          // Slice REJECTS at runtime; DuckDB's range(1, len) is just
          // empty — clamp to the oracle's behavior
          greatest(size(col("toks")) - 1, lit(0))))
        .as(Seq("i", "w1")), col("toks"))
      .select(col("w1"), element_at(col("toks"), col("i") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= 20)
    val uni = d.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
    // vocab-sized; the w1 and w2 joins and the totals share its shuffle
    // (exchange reuse), so it is computed once
    // nb ≡ Σ_doc max(len(toks)−1, 0) (pinned in CurationOpsSpec): the
    // pair total is per-doc size arithmetic over a NARROW un-shuffled
    // corpus scan — no persisted vocab²-grain table, no second explode
    val nb = Tables.documents(spark, dir)
      .select(greatest(size(toks) - 1, lit(0)).cast("long").as("np"))
      .agg(sum(col("np")).as("nb"))
    val totals = uni.agg(sum(col("cu")).as("nu")).crossJoin(nb)
    bi.join(uni.select(col("tok").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("cu").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(lit(1e-9) +
        log((col("cb").cast("double") / col("nb")) /
          ((col("c1").cast("double") / col("nu")) *
           (col("c2").cast("double") / col("nu")))), 4))
      .select(col("w1"), col("w2"), col("cb"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val q109Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |bi AS (
      |  SELECT w1, w2, count(*) AS cb FROM (
      |    SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
      |      unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
      |    FROM d)
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 20),
      |uni AS (
      |  SELECT tok, count(*) AS cu FROM (SELECT unnest(toks) AS tok FROM d)
      |  GROUP BY 1),
      |totals AS (
      |  SELECT (SELECT CAST(sum(cu) AS BIGINT) FROM uni) AS nu,
      |    (SELECT count(*) FROM (
      |      SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w
      |      FROM d)) AS nb)
      |SELECT w1, w2, cb,
      |  round(1e-9 + ln((CAST(cb AS DOUBLE) / nb) /
      |    ((CAST(c1 AS DOUBLE) / nu) * (CAST(c2 AS DOUBLE) / nu))), 4) AS pmi
      |FROM bi
      |JOIN (SELECT tok AS w1, cu AS c1 FROM uni) u1 USING (w1)
      |JOIN (SELECT tok AS w2, cu AS c2 FROM uni) u2 USING (w2)
      |CROSS JOIN totals
      |ORDER BY pmi DESC, w1, w2
      |LIMIT 20""".stripMargin

  /** PII detection + redaction — the scrubbing stage every training-data
    * pipeline runs before release (emails, IPv4 addresses, SSN-shaped
    * ids). The fixture corpus is digit-free word salad, so deterministic
    * synthetic PII is first injected from `doc_id` (same expression in
    * the oracle) — the extraction and redaction kernels are then
    * genuinely exercised instead of counting zeroes. Reports, per
    * source: docs scanned, docs carrying PII, hits per category, and
    * characters removed by redaction.
    *
    * Scale design: one scan → narrow per-row projection (regexes are
    * codegen'd string kernels, no UDF) → one map-side-combined
    * aggregation on the 20-value source key. Zero joins, zero windows —
    * the shape survives any corpus size. */
  def q126PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
    val idRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val id = col("doc_id")
    val aug = concat(
      col("text"),
      when(id % 3 === 0, concat(lit(" mail u"), id.cast("string"), lit("@ex"),
        (id % 10).cast("string"), lit(".org"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" ip 10.0."), (id % 256).cast("string"),
        lit("."), (id % 100).cast("string"))).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" id 123-45-"),
        lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
    val redacted = regexp_replace(regexp_replace(regexp_replace(aug,
      lit(emailRe), lit("[EMAIL]")), lit(ipRe), lit("[IP]")), lit(idRe), lit("[ID]"))
    Tables.documents(spark, dir)
      .select(col("source"),
        size(regexp_extract_all(aug, lit(emailRe), lit(0))).as("ne"),
        size(regexp_extract_all(aug, lit(ipRe), lit(0))).as("ni"),
        size(regexp_extract_all(aug, lit(idRe), lit(0))).as("nd"),
        (length(aug) - length(redacted)).as("delta"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("ne") + col("ni") + col("nd") > 0).cast("int")).as("docs_with_pii"),
        sum(col("ne")).as("emails"),
        sum(col("ni")).as("ips"),
        sum(col("nd")).as("ids"),
        sum(col("delta")).as("chars_redacted"))
      .orderBy(col("source"))
  }

  val q126Sql: String =
    """WITH aug AS (
      |  SELECT source,
      |    text
      |      || CASE WHEN doc_id % 3 = 0 THEN ' mail u' || doc_id || '@ex'
      |           || (doc_id % 10) || '.org' ELSE '' END
      |      || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.0.' || (doc_id % 256)
      |           || '.' || (doc_id % 100) ELSE '' END
      |      || CASE WHEN doc_id % 7 = 0 THEN ' id 123-45-'
      |           || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS t
      |  FROM documents),
      |hits AS (
      |  SELECT source,
      |    len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS ne,
      |    len(regexp_extract_all(t, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS ni,
      |    len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS nd,
      |    length(t) - length(
      |      regexp_replace(regexp_replace(regexp_replace(t,
      |        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
      |        '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '[IP]', 'g'),
      |        '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[ID]', 'g')) AS delta
      |  FROM aug)
      |SELECT source, count(*) AS n_docs,
      |  sum(CASE WHEN ne + ni + nd > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii,
      |  sum(ne)::BIGINT AS emails,
      |  sum(ni)::BIGINT AS ips,
      |  sum(nd)::BIGINT AS ids,
      |  sum(delta)::BIGINT AS chars_redacted
      |FROM hits
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Blocklist (badword) filtering — the C4-style stage that drops or
    * down-weights documents containing listed terms. The list here is a
    * plan-time constant folded into the row kernel (at a real 100 TB run
    * a large list becomes a broadcast set feeding the same `filter`
    * lambda — never a join against exploded tokens). Reports, per
    * source: docs scanned, docs flagged, blocked-token volume, and the
    * average blocked-token ratio the down-weighting rule would use.
    *
    * Same shape as q126: scan → per-row projection → one aggregation on
    * the source key; embarrassingly parallel at any scale. */
  def q127BlocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val blockArr = array(Seq("slow", "big", "merge").map(lit): _*)
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("source"),
        size(toks).as("nw"),
        size(filter(toks, t => array_contains(blockArr, t))).as("nb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("nb") > 0).cast("int")).as("n_flagged"),
        sum(col("nb")).as("blocked_tokens"),
        round(lit(1e-9) + avg(col("nb").cast("double") / col("nw")), 5)
          .as("avg_block_ratio"))
      .orderBy(col("source"))
  }

  val q127Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  sum(CASE WHEN nb > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
      |  sum(nb)::BIGINT AS blocked_tokens,
      |  round(1e-9 + avg(CAST(nb AS DOUBLE) / nw), 5) AS avg_block_ratio
      |FROM (
      |  SELECT source,
      |    len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS nw,
      |    len(list_filter(string_split(text, ' '),
      |      t -> list_contains(['slow', 'big', 'merge'], t))) AS nb
      |  FROM documents) d
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Per-source domain distance — KL(source ‖ corpus) over unigram
    * distributions: how far each source's token mix sits from the pooled
    * corpus. The number mixture planning reads before setting source
    * weights (a source near the corpus adds little diversity; a far one
    * shifts the mix), and the distribution-matching view next to q88's
    * DSIR importance weights and q62's size-based mixing.
    *
    * KL needs no smoothing here: the sum runs over the source's own
    * support (p_s > 0), and every such token has corpus mass by
    * construction (the corpus pools the sources). ln(·) parity follows
    * q109's PMI pattern: both engines evaluate ln over the same exact
    * integer-count ratios and round once at the end (the 1e-9 nudge
    * covers rounding-boundary floats; the float-sum drift itself is
    * ~1e-13, far under 5 dp).
    *
    * Scale design: one explode → two map-side-combined aggregations
    * ((source, token) and token) → vocab-sized equi-join on the token
    * key → one per-source sum. Everything after the first agg is
    * vocab-sized, not corpus-sized; totals broadcast. */
  def q130DomainKl(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val bySrc = tok.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cs"))
      .localCheckpoint(eager = false) // feeds source totals AND the per-token join below
    // r15: the corpus total nc = Σ cc = Σ ns rides the ≤20-row source-
    // totals table as a whole-partition window sum (bounded single-
    // partition by construction) instead of a THIRD aggregation pass
    // re-folding the vocab-sized byTok table (exact integer identity;
    // one broadcast now carries both ns and nc).
    val srcTotals = bySrc.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
      .withColumn("nc", sum(col("ns")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(0))))
    val byTok = bySrc.groupBy(col("tok")).agg(sum(col("cs")).as("cc"))
    bySrc
      .join(byTok, Seq("tok"))
      .join(broadcast(srcTotals), Seq("source"))
      .select(col("source"),
        ((col("cs").cast("double") / col("ns")) *
          log((col("cs").cast("double") / col("ns")) /
            (col("cc").cast("double") / col("nc")))).as("term"),
        col("cs"))
      .groupBy(col("source"))
      .agg(round(lit(1e-9) + sum(col("term")), 5).as("kl"),
        count(lit(1)).as("vocab"),
        sum(col("cs")).as("tokens"))
      .orderBy(col("source"))
  }

  val q130Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |  FROM documents),
      |by_src AS (
      |  SELECT source, tok, count(*) AS cs FROM tok GROUP BY 1, 2),
      |src_totals AS (
      |  SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM by_src GROUP BY 1),
      |by_tok AS (
      |  SELECT tok, CAST(sum(cs) AS BIGINT) AS cc FROM by_src GROUP BY 1),
      |total AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM by_tok)
      |SELECT source,
      |  round(1e-9 + sum((CAST(cs AS DOUBLE) / ns) *
      |    ln((CAST(cs AS DOUBLE) / ns) / (CAST(cc AS DOUBLE) / nc))), 5) AS kl,
      |  count(*) AS vocab,
      |  CAST(sum(cs) AS BIGINT) AS tokens
      |FROM by_src
      |JOIN by_tok USING (tok)
      |JOIN src_totals USING (source)
      |CROSS JOIN total
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Encoding-hygiene audit per source: control characters, zero-width /
    * BOM codepoints, and U+FFFD replacement characters — the mojibake and
    * binary-contamination screen a web-scale ingest runs before any
    * language or quality model sees the text (a stray NUL or a
    * replacement-char run is decoder damage, not content). The fixture
    * corpus is pure printable ASCII, so — exactly like q126's synthetic
    * PII — deterministic noise is injected from `doc_id` first: BEL
    * prepended when doc_id%7=0, a zero-width space appended when
    * doc_id%5=0, U+FFFD appended when doc_id%11=0. The audit itself is
    * injection-blind (it only sees the noisy text).
    *
    * Scale: pure row-local regex kernels inside whole-stage codegen plus
    * ONE source-key aggregation — zero joins, zero extra shuffles; the
    * non-ASCII classes travel as literal codepoints into both engines so
    * neither regex dialect needs escape translation. */
  // shared by the Spark plan and the DuckDB oracle: the non-ASCII class
  // members travel as actual codepoints (via these escapes) into both
  // engines' regex compilers, so neither dialect needs escape translation
  private val zwsp = "\u200b" // zero-width space
  private val replChar = "\ufffd" // U+FFFD replacement character
  private val ctrlRe = "[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
  private val zwRe = "[\u200b-\u200d\ufeff]"

  def q133EncodingHygiene(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val noisy = concat(
      when(id % 7 === 0, lit("\u0007")).otherwise(lit("")),
      col("text"),
      when(id % 5 === 0, lit(zwsp)).otherwise(lit("")),
      when(id % 11 === 0, lit(replChar)).otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(col("source"), noisy.as("noisy"))
      .select(col("source"),
        col("noisy").rlike(ctrlRe).cast("int").as("has_ctrl"),
        col("noisy").rlike(zwRe).cast("int").as("has_zw"),
        (length(col("noisy")) -
          length(regexp_replace(col("noisy"), lit(replChar), lit("")))).as("repl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("has_ctrl")).as("docs_ctrl"),
        sum(col("has_zw")).as("docs_zw"),
        sum(col("repl")).as("repl_chars"),
        sum(((col("has_ctrl") + col("has_zw") === 0) && (col("repl") === 0))
          .cast("int")).as("clean_docs"))
      .orderBy(col("source"))
  }

  val q133Sql: String =
    s"""WITH noisy AS (
      |  SELECT source, doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN chr(7) ELSE '' END
      |      || text
      |      || CASE WHEN doc_id % 5 = 0 THEN '$zwsp' ELSE '' END
      |      || CASE WHEN doc_id % 11 = 0 THEN '$replChar' ELSE '' END AS t
      |  FROM documents),
      |flags AS (
      |  SELECT source,
      |    CASE WHEN regexp_matches(t, '$ctrlRe') THEN 1 ELSE 0 END AS has_ctrl,
      |    CASE WHEN regexp_matches(t, '$zwRe') THEN 1 ELSE 0 END AS has_zw,
      |    length(t) - length(regexp_replace(t, '$replChar', '', 'g')) AS repl
      |  FROM noisy)
      |SELECT source, count(*) AS n_docs,
      |  sum(has_ctrl)::BIGINT AS docs_ctrl,
      |  sum(has_zw)::BIGINT AS docs_zw,
      |  sum(repl)::BIGINT AS repl_chars,
      |  sum(CASE WHEN has_ctrl + has_zw = 0 AND repl = 0 THEN 1 ELSE 0 END)::BIGINT
      |    AS clean_docs
      |FROM flags
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // decomposed (non-NFC) sequences for q136's injection — combining
  // acute / ring / diaeresis; escapes keep the source ASCII while the
  // actual codepoints travel into both engines
  private val dAcute = "e\u0301" // e + COMBINING ACUTE ACCENT -> \u00e9
  private val dRing = "A\u030a" // A + COMBINING RING ABOVE -> \u00c5
  private val dUmlaut = "o\u0308" // o + COMBINING DIAERESIS -> \u00f6

  /** Unicode NFC normalization audit per source — the canonicalization
    * pass that runs before any hash-based dedup on real web text: the
    * SAME visible string arrives both precomposed and decomposed
    * (a\u0301 vs \u00e1), so un-normalized corpora silently under-dedup and
    * double-count vocabulary. The ASCII fixture gets deterministic
    * decomposed sequences appended from `doc_id` (%3: a combining acute,
    * %7: ring + diaeresis words), then the audit reports how many docs
    * normalization changes, how many codepoints it saves, and a
    * fingerprint of the normalized text (the value hash-dedup would key
    * on).
    *
    * Engine parity: Spark has no built-in normalizer — this is the
    * custom codegen expression `nfc_normalize`
    * ([[graft.functions.NfcNormalize]]); DuckDB's built-in
    * `nfc_normalize` implements the same UAX #15 tables, so the oracle
    * twin is exact. Scale: a row-local kernel with an
    * already-normalized fast path + ONE source aggregation — zero joins;
    * the corpus pays the normalize allocation only on rows that carry
    * decomposed sequences. */
  def q136UnicodeNfc(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val noisy = concat(
      col("text"),
      when(id % 3 === 0, lit(s" caf$dAcute")).otherwise(lit("")),
      when(id % 7 === 0, lit(s" ${dRing}ngstr${dUmlaut}m")).otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(col("source"), noisy.as("t"))
      .withColumn("nt", call_function("nfc_normalize", col("t")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("nt") =!= col("t")).cast("int")).as("docs_denorm"),
        sum(length(col("t")) - length(col("nt"))).as("cp_saved"),
        (sum(h32(col("nt"))) % P).as("norm_fp"))
      .orderBy(col("source"))
  }

  val q136Sql: String =
    s"""WITH noisy AS (
      |  SELECT source,
      |    text
      |      || CASE WHEN doc_id % 3 = 0 THEN ' caf$dAcute' ELSE '' END
      |      || CASE WHEN doc_id % 7 = 0 THEN ' ${dRing}ngstr${dUmlaut}m' ELSE '' END AS t
      |  FROM documents),
      |n AS (SELECT source, t, nfc_normalize(t) AS nt FROM noisy)
      |SELECT source, count(*) AS n_docs,
      |  sum(CASE WHEN nt <> t THEN 1 ELSE 0 END)::BIGINT AS docs_denorm,
      |  sum(length(t) - length(nt))::BIGINT AS cp_saved,
      |  sum(('0x' || substr(md5(nt), 1, 8))::BIGINT)::BIGINT % 1000000007 AS norm_fp
      |FROM n
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q23_token_stats", q23TokenStats, q23Sql),
    Query("q24_quality_score", q24QualityScore, q24Sql),
    Query("q25_lang_id", q25LangId, q25Sql),
    Query("q26_fingerprint", q26Fingerprint, q26Sql),
    Query("q27_vocab_stats", q27VocabStats, q27Sql),
    Query("q57_repetition", q57Repetition, q57Sql),
    Query("q61_lm_score", q61LmScore, q61Sql, SharedFrames.BigramLm),
    Query("q64_kmv_sketch", q64KmvSketch, q64Sql),
    Query("q66_bpe_first_merge", q66BpeFirstMerge, q66Sql),
    Query("q155_bpe_merges", q155BpeMerges, q155Sql),
    Query("q158_bpe_apply", q158BpeApply, q158Sql),
    Query("q71_boilerplate", q71Boilerplate, q71Sql),
    Query("q72_tfidf", q72Tfidf, q72Sql),
    Query("q74_vocab_coverage", q74VocabCoverage, q74Sql),
    Query("q86_lang_vocab_hll", q86LangVocabHll, q86Sql),
    Query("q92_context_chunks", q92ContextChunks, q92Sql),
    Query("q94_token_entropy", q94TokenEntropy, q94Sql),
    Query("q102_countmin_hitters", q102CountMinHitters, q102Sql),
    Query("q105_zipf_audit", q105ZipfAudit, q105Sql),
    Query("q109_pmi_collocations", q109PmiCollocations, q109Sql),
    Query("q126_pii_scrub", q126PiiScrub, q126Sql),
    Query("q127_blocklist_filter", q127BlocklistFilter, q127Sql),
    Query("q130_domain_kl", q130DomainKl, q130Sql),
    Query("q133_encoding_hygiene", q133EncodingHygiene, q133Sql),
    Query("q136_unicode_nfc", q136UnicodeNfc, q136Sql)
  )
}
