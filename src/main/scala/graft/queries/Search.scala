package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFns.tokens

/** Text-search pack: BM25 ranking over the documents corpus — the
  * retrieval side of a training-data pipeline (quality-weighted sampling,
  * dedup-aware search, eval-set mining all sit on this primitive).
  *
  * Fully relational: term frequencies and document frequencies come from
  * one explode + two aggregates; scoring is a broadcast join of the tiny
  * query-terms table against the postings. At 100 TB the postings list is
  * the classic inverted index as a DataFrame — partitioned by term hash,
  * pruned by the query's term set before any shuffle.
  */
object Search extends QueryPack {

  private val k1 = 1.2
  private val b = 0.75
  private val queryTerms = Seq("spark", "window", "dup")
  private val queryTermsSqlList = queryTerms.map(t => s"('$t')").mkString(", ")

  /** BM25 scores for a fixed query over the corpus; docs above a score
    * floor, ordered by doc_id (rank-free output keeps the result robust to
    * last-ulp log() differences across engines — scores are rounded, and
    * no row's membership depends on another row's score). */
  def q46Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qt = queryTerms.toDF("term")
    val idx = bm25Index(spark, dir)
    val docLen = idx.select(col("doc_id"), col("dl")).distinct()
    // exact arithmetic either way: dl sums are longs, one division at the
    // end — deriving the corpus stats from the index cannot move a float
    val corpus = docLen.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avg_dl"))
    // the index row already carries dl, so the probe needs no doc-length
    // join — prune to the query's postings, fetch df, score
    val tf = idx.join(broadcast(qt), col("tok") === col("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val df_ = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avg_dl"))))
      .groupBy(col("doc_id"))
      .agg(round(lit(1e-9) + sum(col("contrib")), 5).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .filter(col("bm25") >= 1.0)
      .orderBy(col("doc_id"))
  }

  /** The INVERTED INDEX as a session-shared artifact: one row per
    * distinct (doc, token) with the term frequency and the document's
    * token length — exactly what a production search system materializes
    * once and serves every query from (q46 and q132's sparse arm both
    * score against it; corpus stats and per-term document frequencies
    * derive from it at probe time). Built in ONE corpus pass: token
    * explode → (doc, tok) count, doc lengths re-aggregated from the
    * counts (Σ tf per doc IS the token count). The probe prunes to the
    * query's term set via a broadcast join BEFORE any shuffle; at
    * cluster scale this table is the term-sharded index service, not a
    * co-partitioned join table. */
  private[graft] def bm25Index(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.cached(spark, dir, "bm25") {
      val tf = Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val docLen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      tf.join(docLen, "doc_id")
        .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
    }

  val q46Sql: String =
    s"""WITH qt(term) AS (VALUES $queryTermsSqlList),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |  FROM documents),
      |doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM doclen),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM toks JOIN qt ON tok = term
      |  GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avg_dl)) AS contrib
      |  FROM tf
      |  JOIN df USING (term)
      |  JOIN doclen USING (doc_id)
      |  CROSS JOIN corpus)
      |SELECT doc_id, round(1e-9 + sum(contrib), 5) AS bm25, count(*) AS n_terms_hit
      |FROM scored
      |GROUP BY doc_id
      |HAVING round(1e-9 + sum(contrib), 5) >= 1.0
      |ORDER BY doc_id""".stripMargin

  /** Hybrid retrieval via reciprocal-rank fusion — the standard way a
    * curation pipeline combines sparse (BM25) and dense (embedding
    * cosine) relevance without score calibration:
    *   rrf(d) = Σ_lists 1/(60 + rank_list(d)),
    * summed over the lists that contain d (the Cormack/Clarke constant
    * 60). The sparse list is [[q46Bm25]]'s output ranked by its rounded
    * score; the dense list ranks the corpus by cosine against probe
    * vector 0 (fixture convention: `vec_id` IS the `doc_id` of the
    * embedded document — both tables enumerate the same corpus). Each
    * list is cut to its top-50 before fusing; the fused top-20 is
    * reported with both member ranks (0 = absent from that list).
    *
    * Determinism: ranks are integers over ROUNDED scores with id
    * tie-breaks, and 1/(60+rank) divides integer-derived doubles — no
    * libm anywhere in the fusion, so the rrf ordering cannot disagree
    * between engines.
    *
    * Scale: each list is produced by its own bounded top-k (TakeOrdered
    * on the rounded score — never a corpus sort); the rank windows run
    * over the 50-row cuts (constant partition key = declared bounded);
    * the fusion joins two 50-row frames. The expensive parts — BM25
    * postings probe, cosine scan — are exactly the q46/q33 plans. */
  def q132HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VecOps.dotCol
    val k = 60
    val sparse50 = q46Bm25(spark, dir)
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
    val sparseRk = sparse50.withColumn("bm25_rk", row_number().over(
      Window.partitionBy(lit(0)).orderBy(col("bm25").desc, col("doc_id"))))
    val e = Similarity.vecs(spark, dir)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val dense50 = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        round(lit(1e-9) +
          dotCol(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")), 5)
          .as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(50)
    val denseRk = dense50.withColumn("dense_rk", row_number().over(
      Window.partitionBy(lit(0)).orderBy(col("cos").desc, col("doc_id"))))
    sparseRk.select(col("doc_id"), col("bm25_rk").cast("long").as("bm25_rk"))
      .join(denseRk.select(col("doc_id"),
        col("dense_rk").cast("long").as("dense_rk")), Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(lit(1e-9) +
        coalesce(lit(1.0) / (col("bm25_rk") + k), lit(0.0)) +
        coalesce(lit(1.0) / (col("dense_rk") + k), lit(0.0)), 6))
      .select(col("doc_id"),
        coalesce(col("bm25_rk"), lit(0L)).as("bm25_rk"),
        coalesce(col("dense_rk"), lit(0L)).as("dense_rk"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  val q132Sql: String =
    s"""WITH qt(term) AS (VALUES $queryTermsSqlList),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
      |  FROM documents),
      |doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM doclen),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM toks JOIN qt ON tok = term
      |  GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avg_dl)) AS contrib
      |  FROM tf
      |  JOIN df USING (term)
      |  JOIN doclen USING (doc_id)
      |  CROSS JOIN corpus),
      |sparse AS (
      |  SELECT doc_id, round(1e-9 + sum(contrib), 5) AS bm25
      |  FROM scored GROUP BY doc_id
      |  HAVING round(1e-9 + sum(contrib), 5) >= 1.0),
      |sparse50 AS (SELECT doc_id, bm25 FROM sparse ORDER BY bm25 DESC, doc_id LIMIT 50),
      |srk AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rk
      |  FROM sparse50),
      |${Similarity.vecsSql},
      |probe AS (SELECT embedding AS qv, nrm AS qnrm FROM e WHERE vec_id = 0),
      |dense AS (
      |  SELECT vec_id AS doc_id,
      |    round(1e-9 + list_reduce(list_transform(range(1, len(embedding) + 1),
      |        i -> qv[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(qnrm * nrm), 5) AS cos
      |  FROM e CROSS JOIN probe
      |  WHERE vec_id <> 0),
      |dense50 AS (SELECT doc_id, cos FROM dense ORDER BY cos DESC, doc_id LIMIT 50),
      |drk AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY cos DESC, doc_id) AS dense_rk
      |  FROM dense50)
      |SELECT doc_id,
      |  coalesce(bm25_rk, 0) AS bm25_rk,
      |  coalesce(dense_rk, 0) AS dense_rk,
      |  round(1e-9 + coalesce(1.0 / (bm25_rk + 60), 0.0)
      |    + coalesce(1.0 / (dense_rk + 60), 0.0), 6) AS rrf
      |FROM srk FULL JOIN drk USING (doc_id)
      |ORDER BY rrf DESC, doc_id
      |LIMIT 20""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q46_bm25", q46Bm25, q46Sql, SharedFrames.Bm25Index),
    Query("q132_hybrid_rrf", q132HybridRrf, q132Sql, SharedFrames.Bm25Index)
  )
}
