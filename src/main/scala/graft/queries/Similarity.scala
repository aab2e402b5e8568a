package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.VecOps.dotCol

/** Similarity-search pack over the `embeddings` fixture: brute-force cosine
  * top-k (the correctness baseline), random-hyperplane LSH ANN and an
  * IVF-style centroid-probed ANN (the two standard scale paths).
  *
  * Determinism across engines: every dot product / norm is an explicit
  * left-to-right double fold (`aggregate`/`list_reduce`), so the floating
  * value is bit-identical in Spark and DuckDB before any rounding; ranking
  * windows order by the unrounded value with a vec_id tie-break. LSH plane
  * weights derive from md5 (h32), never from an RNG, so both engines build
  * the same planes.
  *
  * Scale notes: brute force is O(Q·N) — fine for re-ranking, wrong as the
  * primary path; the LSH variant turns search into an equi-join on an
  * 8-bit signature, and the IVF variant joins query→nearest-centroid→
  * cluster members, i.e. both become hash joins that shuffle only bucket-
  * sized candidate sets. The query side is always broadcast (tiny).
  */
object Similarity extends QueryPack {

  /** vec_id, label, v: array<double>, nrm: ||v||² (native `dot_f64`
    * kernel — same left-to-right float sequence as the declarative fold,
    * see [[graft.functions.VecOps]]). */
  private[queries] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", dotCol(col("v"), col("v")))

  /** Untyped handle on the element-wise vector-sum aggregator — the
    * centroid kernel (see [[graft.functions.VecSum]]). */
  private val vecSum = udaf(graft.functions.VecSum)

  /** Per-group centroid ARRAYS straight from vector rows: Σv/n per
    * element via [[vecSum]] (dim-width agg state, map-side partials),
    * rounded to 6 dp exactly like the per-position avg it replaces —
    * the float-parity contract with the oracle is the rounding, not the
    * summation order. Returns (groupName, cv, nv). The previous shape
    * (posexplode → groupBy(group, pos) → sort-by-position collect)
    * multiplied the aggregation input by the dimensionality; shared by
    * q35/q36/q69/q70/q144/q156 so the corpus-sized explode exists in
    * none of them. */
  private def centroidsOver(members: DataFrame, group: Column,
      groupName: String): DataFrame =
    members.groupBy(group.as(groupName))
      // count(v), not count(*): the aggregator ignores null vectors like
      // any SQL aggregate, so a null row must not inflate the divisor
      // (the replaced posexplode+avg shape excluded such rows too);
      // zero-LENGTH vectors throw inside VecFold before reaching here.
      .agg(vecSum(col("v")).as("sv"), count(col("v")).as("nv"))
      .select(col(groupName),
        transform(col("sv"), s => round(lit(1e-9) + s / col("nv"), 6)).as("cv"),
        col("nv"))

  /** Corpus vector count, memoized per (session, corpus) in
    * [[SharedFrames]]' memo: [[sigBits]] sizes the LSH signatures by it at
    * plan time, q80 its seed set and q106 its moments — one
    * metadata-cheap count per session, not one per query. */
  private[queries] def nVecs(spark: SparkSession, dir: String): Long =
    SharedFrames.memo(spark, dir, "nVecs")(Tables.embeddings(spark, dir).count())

  private[queries] val vecsSql: String =
    """e AS (
      |  SELECT vec_id, label, embedding,
      |    list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Brute-force cosine top-k for a query subset: the exact baseline every
    * ANN variant is measured against. Query side is a small filtered scan
    * (broadcast); candidates stream into the bounded
    * [[graft.operators.TopK]] aggregation — map-side partials cut each
    * input partition to ≤ k rows per query BEFORE the shuffle, so the
    * exchange carries O(queries·k·partitions) rows instead of the full
    * O(N·Q) scored stream the old window-rank form sorted. */
  def q33AnnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dotCol(col("qv"), col("v")) /
          sqrt(col("qnrm") * col("nrm")))
      .groupBy(col("qid"))
      .agg(graft.operators.TopK.topk(10)(col("cos_raw"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("qid"), (col("i") + 1).cast("int").as("rk"),
        col("t._2").as("vec_id"), round(lit(1e-9) + col("t._1"), 5).as("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val q33Sql: String =
    s"""WITH $vecsSql,
      |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm FROM e WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT qid, vec_id,
      |    list_reduce(list_transform(range(1, len(qv) + 1),
      |      i -> qv[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(qnrm * nrm) AS cos_raw
      |  FROM e JOIN q ON vec_id <> qid),
      |ranked AS (
      |  SELECT qid, vec_id, cos_raw,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT qid, rk, vec_id, round(1e-9 + cos_raw, 5) AS cos
      |FROM ranked WHERE rk <= 10
      |ORDER BY qid, rk""".stripMargin

  /** Random-hyperplane LSH ANN: 8 md5-derived hyperplanes → 8-bit signature
    * per vector (sign of w·v per plane) → candidates = exact signature
    * match (equi-join on the bucket key) → exact cosine re-rank, top-5 via
    * the bounded [[graft.operators.TopK]] aggregation (no window sort —
    * same shape as q33). */
  /** Plan-time md5-h32 (same value as `TextFns.h32` / the oracle's
    * `('0x' || substr(md5(x), 1, 8))::BIGINT`): the plane weights are
    * CONSTANTS, so they are computed once here instead of per-row in the
    * cluster. */
  private def h32Const(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** planeW(p)(d-1): plane p's weight on dimension d — md5-derived, so
    * both engines construct identical planes (the oracle rebuilds them in
    * SQL, see [[sigSqlCtes]]). 30 planes are pre-built; [[sigBits]] picks
    * how many a given corpus uses. Shared by q34/q99/q112 here and q32
    * (embedding near-dup) in [[Dedup]]. */
  private val planeW: Array[Array[Double]] =
    Array.tabulate(30)(p => Array.tabulate(64)(i =>
      ((h32Const(s"plane_${p}_${i + 1}") % 2001) - 1000) / 1000.0))

  /** Corpus-derived signature width: the smallest k with 64·2^k ≥ N
    * (floored at 8, capped at 30), i.e. expected bucket population ≈ 64
    * vectors no matter the corpus size — the property that keeps the
    * within-bucket verify linear-ish at 100 TB instead of re-quadratifying
    * at N/256 per bucket. Pure integer arithmetic so the oracle's SQL
    * twin (the `nb` CTE in [[sigSqlCtes]]) computes the identical width
    * with no float-log boundary to disagree over. */
  private[graft] def sigBits(n: Long): Int = {
    var k = 0
    while (k < 30 && (64L << k) < n) k += 1
    math.max(8, k)
  }

  /** `nbits`-bit random-hyperplane signature (sign of wₚ·v per plane) as
    * a PURE PROJECTION: one `dot_f64` call per plane against literal
    * weight arrays — no explode, no plane join, no aggregation. The
    * earlier form exploded N·64 component rows and ran two aggregations;
    * this is a narrow map inside whole-stage codegen, and every float
    * sequence is unchanged (`dot_f64` folds dimensions in ascending
    * order — exactly the order the oracle's grouped `sum(w * x)`
    * accumulates, which is why the hash compare stays bit-identical). */
  private[queries] def sigCol(v: Column, nbits: Int = 8): Column =
    (0 until nbits).map { p =>
      when(dotCol(v, lit(planeW(p))) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB CTE fragment computing the same width → planes → signature
    * chain; expects a CTE `e(vec_id, …, embedding, nrm)` in scope and
    * leaves `nb(nbits)` and `sig(s_vec, sig)`. The `nb` CTE is the SQL
    * twin of [[sigBits]] — same integer search, same floor and cap.
    * Shared with the q32 oracle. */
  private[queries] val sigSqlCtes: String =
    """nb AS (
      |  SELECT greatest(8, coalesce((
      |    SELECT min(k)::INT FROM range(0, 31) t(k)
      |    WHERE (CAST(64 AS BIGINT) << k) >= (SELECT count(*) FROM e)), 30)) AS nbits),
      |planes AS (
      |  SELECT p, d,
      |    (('0x' || substr(md5(concat_ws('_', 'plane', p, d)), 1, 8))::BIGINT % 2001 - 1000) / 1000.0 AS w,
      |    (CAST(1 AS BIGINT) << p) AS pp
      |  FROM range(0, 30) tp(p), range(1, 65) td(d)
      |  WHERE p < (SELECT nbits FROM nb)),
      |sigcompu AS (
      |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS d, embedding FROM e),
      |sigcomp AS (
      |  SELECT vec_id, d, embedding[d]::DOUBLE AS x FROM sigcompu),
      |proj AS (
      |  SELECT vec_id AS s_vec, p, pp, sum(w * x) AS s
      |  FROM sigcomp JOIN planes USING (d)
      |  GROUP BY 1, 2, 3),
      |sig AS (
      |  SELECT s_vec, sum(CASE WHEN s > 0 THEN pp ELSE 0 END) AS sig
      |  FROM proj GROUP BY 1)""".stripMargin

  def q34AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // plan-time width from the corpus size (one count action; the planes
    // themselves are literals, so the signature stays a pure projection)
    val withSig = e.withColumn("sig", sigCol(col("v"), sigBits(nVecs(spark, dir))))
    val q = withSig.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    withSig.join(broadcast(q),
        col("sig") === col("qsig") && col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dotCol(col("qv"), col("v")) /
          sqrt(col("qnrm") * col("nrm")))
      .groupBy(col("qid"))
      .agg(graft.operators.TopK.topk(5)(col("cos_raw"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("qid"), (col("i") + 1).cast("int").as("rk"),
        col("t._2").as("vec_id"), round(lit(1e-9) + col("t._1"), 5).as("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val q34Sql: String =
    s"""WITH $vecsSql,
      |$sigSqlCtes,
      |es AS (SELECT e.*, sig.sig FROM e JOIN sig ON vec_id = s_vec),
      |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm, sig AS qsig
      |      FROM es WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT qid, vec_id,
      |    list_reduce(list_transform(range(1, len(qv) + 1),
      |      i -> qv[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(qnrm * nrm) AS cos_raw
      |  FROM es JOIN q ON sig = qsig AND vec_id <> qid),
      |ranked AS (
      |  SELECT qid, vec_id, cos_raw,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT qid, rk, vec_id, round(1e-9 + cos_raw, 5) AS cos
      |FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  /** Per-label centroids + dispersion: the "train the coarse quantizer"
    * step of IVF. Centroids are rounded to 6 dp before the distance pass so
    * both engines feed identical constants into downstream arithmetic. */
  def q35LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // each vector's distance to ITS OWN label centroid: a hash join of
    // the vector rows against the k broadcast centroid ARRAYS and one
    // fold-kernel d² = |v|² − 2·v·c + |c|² — no N×64 explode anywhere
    // (centroids via the VecSum kernel, distances via dot_f64; the
    // oracle computes the identical folds over identically-rounded
    // centroid constants)
    val centA = centroidsOver(e, col("label"), "c_label")
      .withColumn("cnrm", dotCol(col("cv"), col("cv")))
    e.join(broadcast(centA), col("label") === col("c_label"))
      .select(col("label"),
        sqrt(col("nrm") - lit(2.0) * dotCol(col("v"), col("cv"))
          + col("cnrm")).as("dist"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(lit(1e-9) + avg(col("dist")), 5).as("avg_dist"),
        round(lit(1e-9) + min(col("dist")), 5).as("min_dist"),
        round(lit(1e-9) + max(col("dist")), 5).as("max_dist"))
      .orderBy(col("label"))
  }

  val q35Sql: String =
    s"""WITH $vecsSql,
      |compu AS (
      |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS d, embedding
      |  FROM embeddings),
      |comp AS (
      |  SELECT vec_id, label, d - 1 AS pos, embedding[d]::DOUBLE AS x FROM compu),
      |cent AS (
      |  SELECT label AS c_label, pos, round(1e-9 + avg(x), 6) AS c
      |  FROM comp GROUP BY 1, 2),
      |ca AS (SELECT c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
      |can AS (
      |  SELECT c_label, cv, list_reduce(list_transform(range(1, len(cv) + 1),
      |    i -> cv[i] * cv[i]), (x, y) -> x + y) AS cnrm FROM ca),
      |dist AS (
      |  SELECT vec_id, label,
      |    sqrt(e.nrm - 2 * list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * cv[i]), (x, y) -> x + y) + cnrm) AS dist
      |  FROM e JOIN can ON label = c_label)
      |SELECT label, count(*) AS n_vecs,
      |  round(1e-9 + avg(dist), 5) AS avg_dist,
      |  round(1e-9 + min(dist), 5) AS min_dist,
      |  round(1e-9 + max(dist), 5) AS max_dist
      |FROM dist
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** IVF-style ANN: assign every vector to its nearest label-centroid
    * (coarse quantization), then each query probes only its own cluster —
    * the candidate set is a hash-join on the cluster id, not a scan. */
  def q36AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // coarse assignment against k broadcast centroid ARRAYS with the
    // fold-kernel d² and a struct-min argmin — the q69 shape (N×k dot
    // products, one hash agg); centroids via the VecSum kernel, so no
    // N×64 explode feeds the quantizer either
    val centA = centroidsOver(e, col("label"), "c_label")
      .withColumn("cnrm", dotCol(col("cv"), col("cv")))
    val assigned = e.crossJoin(broadcast(centA))
      .select(col("vec_id"),
        struct((col("nrm") - lit(2.0) * dotCol(col("v"), col("cv"))
          + col("cnrm")).as("d2"), col("c_label")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("m"))
      .select(col("vec_id").as("a_vec"), col("m.c_label").as("cluster"))
      // one row per vector, consumed by BOTH the corpus and query sides -
      // without materialization the whole assignment subtree plans twice
      .localCheckpoint(eager = false)
    val withCl = e.join(assigned, col("vec_id") === col("a_vec")).drop("a_vec")
    val q = withCl.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cluster").as("qcluster"))
    withCl.join(broadcast(q),
        col("cluster") === col("qcluster") && col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dotCol(col("qv"), col("v")) /
          sqrt(col("qnrm") * col("nrm")))
      .groupBy(col("qid"))
      .agg(graft.operators.TopK.topk(5)(col("cos_raw"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("qid"), (col("i") + 1).cast("int").as("rk"),
        col("t._2").as("vec_id"), round(lit(1e-9) + col("t._1"), 5).as("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  val q36Sql: String =
    s"""WITH $vecsSql,
      |compu AS (
      |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS d, embedding FROM e),
      |compl AS (
      |  SELECT vec_id, label, d - 1 AS pos, embedding[d]::DOUBLE AS x FROM compu),
      |cent AS (
      |  SELECT label AS c_label, pos, round(1e-9 + avg(x), 6) AS c
      |  FROM compl
      |  GROUP BY 1, 2),
      |ca AS (SELECT c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
      |can AS (
      |  SELECT c_label, cv, list_reduce(list_transform(range(1, len(cv) + 1),
      |    i -> cv[i] * cv[i]), (x, y) -> x + y) AS cnrm FROM ca),
      |d2 AS (
      |  SELECT vec_id, c_label,
      |    e.nrm - 2 * list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * cv[i]), (x, y) -> x + y) + cnrm AS d2
      |  FROM e CROSS JOIN can),
      |assigned AS (
      |  SELECT vec_id AS a_vec, c_label AS cluster FROM (
      |    SELECT vec_id, c_label,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      |    FROM d2) WHERE rn = 1),
      |ec AS (SELECT e.*, assigned.cluster FROM e JOIN assigned ON vec_id = a_vec),
      |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm, cluster AS qcluster
      |      FROM ec WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT qid, vec_id,
      |    list_reduce(list_transform(range(1, len(qv) + 1),
      |      i -> qv[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(qnrm * nrm) AS cos_raw
      |  FROM ec JOIN q ON cluster = qcluster AND vec_id <> qid),
      |ranked AS (
      |  SELECT qid, vec_id, cos_raw,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT qid, rk, vec_id, round(1e-9 + cos_raw, 5) AS cos
      |FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  /** Int8 scalar quantization of the embedding store — the 4× storage /
    * bandwidth reduction step of a 100 TB vector corpus: per-dimension
    * min/max over the corpus, each component mapped to a 0..255 code
    * (floor(x+0.5) rounding, identical in both engines), reconstruction
    * error profiled per label.
    *
    * Scale design (round 12, fully array-at-a-time): the dimension
    * stats are ONE row of two 64-wide arrays via the VecMin/VecMax
    * fold aggregators (map-side partials, vector-grain input — no N×64
    * explode, no 64-key shuffle); quantization, reconstruction error
    * and mean code are then row-local zip folds against the broadcast
    * stats row, and the only remaining shuffle is the label-grain
    * error aggregation. At scale the `code` array is what you'd write
    * back as `array<tinyint>`; here the query surfaces the error
    * profile that decides whether int8 is safe for the re-rank path. */
  def q58Quantization(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val stats = e.agg(
      udaf(graft.functions.VecMin).apply(col("v")).as("mn"),
      udaf(graft.functions.VecMax).apply(col("v")).as("mx"))
    // (mn, mx) pairs zipped beside each component: per-element code,
    // dequantized value and squared error as pure projections (floor+0.5
    // rounding — the exact arithmetic the oracle's CASE computes)
    val mnmx = zip_with(col("mn"), col("mx"),
      (a, b) => struct(a.as("lo"), b.as("hi")))
    def codeOf(x: Column, p: Column): Column = {
      val lo = p.getField("lo"); val hi = p.getField("hi")
      when(hi === lo, lit(0))
        .otherwise(floor((x - lo) / ((hi - lo) / 255) + 0.5).cast("int"))
    }
    def err2Of(x: Column, p: Column): Column = {
      val lo = p.getField("lo"); val hi = p.getField("hi")
      val scale = (hi - lo) / 255
      val deq = lo + codeOf(x, p).cast("double") * scale
      (x - deq) * (x - deq)
    }
    val pv = e.crossJoin(broadcast(stats))
      .select(col("label"),
        sqrt(aggregate(zip_with(col("v"), mnmx, err2Of), lit(0.0), _ + _))
          .as("l2"),
        (aggregate(zip_with(col("v"), mnmx,
            (x, p) => codeOf(x, p).cast("double")),
          lit(0.0), _ + _) / size(col("v"))).as("mcode"))
    pv.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(lit(1e-9) + avg(col("l2")), 5).as("avg_err"),
        round(lit(1e-9) + max(col("l2")), 5).as("max_err"),
        round(lit(1e-9) + avg(col("mcode")), 4).as("mean_code"))
      .orderBy(col("label"))
  }

  val q58Sql: String =
    """WITH compu AS (
      |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS d, embedding
      |  FROM embeddings),
      |comp AS (
      |  SELECT vec_id, label, d - 1 AS pos, embedding[d]::DOUBLE AS x FROM compu),
      |stats AS (
      |  SELECT pos, min(x) AS mn, max(x) AS mx FROM comp GROUP BY 1),
      |qz AS (
      |  SELECT vec_id, label, x, mn, mx, (mx - mn) / 255 AS scale,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(floor((x - mn) / ((mx - mn) / 255) + 0.5) AS INT) END AS code
      |  FROM comp JOIN stats USING (pos)),
      |pv AS (
      |  SELECT vec_id, label,
      |    sqrt(sum((x - (mn + code * scale)) * (x - (mn + code * scale)))) AS l2,
      |    avg(code) AS mcode
      |  FROM qz GROUP BY 1, 2)
      |SELECT label, count(*) AS n_vecs,
      |  round(1e-9 + avg(l2), 5) AS avg_err,
      |  round(1e-9 + max(l2), 5) AS max_err,
      |  round(1e-9 + avg(mcode), 4) AS mean_code
      |FROM pv GROUP BY label ORDER BY label""".stripMargin

  /** ANN recall@5 — the evaluation that decides whether the LSH index is
    * usable: per query, how many of the exact top-5 (q33's brute force,
    * the ground truth) the signature-bucketed q34 retrieves. Queries
    * whose bucket held no candidates score 0 — the miss the bit-width /
    * multi-probe knobs trade against cost. Composes the two existing
    * definitions; the oracle nests both query CTEs verbatim. */
  def q68AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = q33AnnBruteforce(spark, dir).filter(col("rk") <= 5)
      .select(col("qid"), col("vec_id"))
    val lsh = q34AnnLsh(spark, dir)
      .select(col("qid").as("l_qid"), col("vec_id").as("l_vec"))
    val hits = bf.join(lsh,
        col("qid") === col("l_qid") && col("vec_id") === col("l_vec"))
      .groupBy(col("qid").as("h_qid")).agg(count(lit(1)).as("n_hit"))
    bf.groupBy(col("qid")).agg(count(lit(1)).as("n_bf"))
      .join(hits, col("qid") === col("h_qid"), "left")
      .select(col("qid"), col("n_bf"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(lit(1e-9) + col("n_hit").cast("double") / col("n_bf"), 2))
      .orderBy(col("qid"))
  }

  val q68Sql: String =
    "WITH bf AS (" + q33Sql + "),\n" +
      "lsh AS (" + q34Sql + "),\n" +
      """b5 AS (SELECT qid, vec_id FROM bf WHERE rk <= 5),
        |hits AS (
        |  SELECT b5.qid, count(*) AS n_hit
        |  FROM b5 JOIN lsh ON b5.qid = lsh.qid AND b5.vec_id = lsh.vec_id
        |  GROUP BY 1),
        |tot AS (SELECT qid, count(*) AS n_bf FROM b5 GROUP BY 1)
        |SELECT tot.qid AS qid, n_bf, coalesce(n_hit, 0) AS n_hit,
        |  round(1e-9 + CAST(coalesce(n_hit, 0) AS DOUBLE) / n_bf, 2) AS recall
        |FROM tot LEFT JOIN hits ON tot.qid = hits.qid
        |ORDER BY tot.qid""".stripMargin

  /** One Lloyd iteration of k-means over the embedding corpus, seeded from
    * the per-label centroids (the IVF "train the coarse quantizer" loop
    * that q36 stops short of): assign → recompute centroids → reassign,
    * reporting per-cluster size, mean squared distance and how far the
    * centroid moved. A production run loops this plan to convergence; one
    * step is enough to oracle-check every piece (assignment argmin,
    * centroid recompute, movement).
    *
    * Scale design: centroids are k×64 rows — broadcast on both assignment
    * passes, so each pass is a map-side join + one (vec_id)-keyed
    * aggregation. Round 12: BOTH centroid recomputes run at VECTOR grain
    * through the [[graft.functions.VecSum]] element-wise aggregator (one
    * dim-width buffer per cluster, map-side partials) — the previous
    * posexplode + groupBy(label, pos) multiplied the aggregation input
    * 64× just to re-assemble arrays afterwards, and the Lloyd member
    * join shipped component rows instead of vectors. Nothing quadratic,
    * no driver-side centroid loop, no explode anywhere in the plan. */
  def q69KmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .localCheckpoint(eager = false) // both assignment passes + the member join read this
    def centArraysOver(members: DataFrame, label: Column): DataFrame =
      centroidsOver(members, label, "c_label")
        .withColumn("cnrm", dotCol(col("cv"), col("cv")))
    val cent0 = centArraysOver(e, col("label"))
      .localCheckpoint(eager = false) // assignment pass 0 AND the movement join
    // argmin via min(struct(d2, c_label)): lexicographic struct-min IS
    // "smallest d2, ties by cluster id", computed as ONE hash aggregation
    // with map-side partials — no N×k window sort
    def assign(centArrays: DataFrame): DataFrame =
      e.crossJoin(broadcast(centArrays))
        .select(col("vec_id"),
          struct((col("nrm") - lit(2.0) * dotCol(col("v"), col("cv"))
            + col("cnrm")).as("d2"), col("c_label")).as("dc"))
        .groupBy(col("vec_id"))
        .agg(min(col("dc")).as("m"))
        .select(col("vec_id").as("a_vec"), col("m.c_label").as("cluster"),
          col("m.d2").as("d2"))
    // Lloyd step: recompute each cluster's centroid from its member
    // VECTORS (vec_id equi-join at N rows, never component rows)
    val cent1 = centArraysOver(
      e.join(assign(cent0).select(col("a_vec"), col("cluster")),
        col("vec_id") === col("a_vec")),
      col("cluster"))
      .localCheckpoint(eager = false) // consumed by the reassignment AND the movement join
    // movement at k rows: element-wise |new − old| over the two arrays
    val shift = cent0.select(col("c_label").as("s_cluster"), col("cv").as("ocv"))
      .join(cent1.select(col("c_label").as("s_cluster"), col("cv").as("ncv")),
        Seq("s_cluster"))
      .select(col("s_cluster"),
        array_max(zip_with(col("ncv"), col("ocv"),
          (n, o) => abs(n - o))).as("shift"))
    assign(cent1).groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        round(lit(1e-9) + avg(col("d2")), 5).as("avg_d2"))
      .join(broadcast(shift), col("cluster") === col("s_cluster")) // k rows
      .select(col("cluster"), col("n_vecs"), col("avg_d2"),
        round(lit(1e-9) + col("shift"), 6).as("max_shift"))
      .orderBy(col("cluster"))
  }

  val q69Sql: String =
    s"""WITH $vecsSql,
      |compu AS (
      |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS d, embedding
      |  FROM embeddings),
      |comp AS (
      |  SELECT vec_id, label, d - 1 AS pos, embedding[d]::DOUBLE AS x FROM compu),
      |cent0 AS (
      |  SELECT label AS c_label, pos AS c_pos, round(1e-9 + avg(x), 6) AS c
      |  FROM comp GROUP BY 1, 2),
      |ca0 AS (
      |  SELECT c_label, list(c ORDER BY c_pos) AS cv FROM cent0 GROUP BY 1),
      |can0 AS (
      |  SELECT c_label, cv, list_reduce(list_transform(range(1, len(cv) + 1),
      |    i -> cv[i] * cv[i]), (x, y) -> x + y) AS cnrm FROM ca0),
      |d2a AS (
      |  SELECT vec_id, c_label,
      |    e.nrm - 2 * list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * cv[i]), (x, y) -> x + y) + cnrm AS d2
      |  FROM e CROSS JOIN can0),
      |a1 AS (
      |  SELECT vec_id AS a_vec, c_label AS cluster FROM (
      |    SELECT vec_id, c_label,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      |    FROM d2a) WHERE rn = 1),
      |cent1 AS (
      |  SELECT cluster AS c_label, pos AS c_pos, round(1e-9 + avg(x), 6) AS c
      |  FROM comp JOIN a1 ON vec_id = a_vec
      |  GROUP BY 1, 2),
      |ca1 AS (
      |  SELECT c_label, list(c ORDER BY c_pos) AS cv FROM cent1 GROUP BY 1),
      |can1 AS (
      |  SELECT c_label, cv, list_reduce(list_transform(range(1, len(cv) + 1),
      |    i -> cv[i] * cv[i]), (x, y) -> x + y) AS cnrm FROM ca1),
      |d2b AS (
      |  SELECT vec_id, c_label,
      |    e.nrm - 2 * list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * cv[i]), (x, y) -> x + y) + cnrm AS d2
      |  FROM e CROSS JOIN can1),
      |a2 AS (
      |  SELECT vec_id, c_label AS cluster, d2 FROM (
      |    SELECT vec_id, c_label, d2,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
      |    FROM d2b) WHERE rn = 1),
      |shift AS (
      |  SELECT cent0.c_label AS s_cluster, max(abs(cent1.c - cent0.c)) AS shift
      |  FROM cent0 JOIN cent1
      |    ON cent0.c_label = cent1.c_label AND cent0.c_pos = cent1.c_pos
      |  GROUP BY 1)
      |SELECT cluster, count(*) AS n_vecs, round(1e-9 + avg(d2), 5) AS avg_d2,
      |  round(1e-9 + shift, 6) AS max_shift
      |FROM a2 JOIN shift ON cluster = s_cluster
      |GROUP BY cluster, shift
      |ORDER BY cluster""".stripMargin

  /** IVF-PQ with asymmetric-distance (ADC) search — the memory-bound scale
    * path for vector search (cf. FAISS's IVFPQ): 64 dims split into 8
    * subspaces of 8; the per-label centroid restricted to a subspace is
    * that subspace's codebook entry, so every vector compresses to 8
    * one-byte codes; a query precomputes its 8×k distance table once, and
    * candidate scoring becomes a codebook lookup-join + sum instead of a
    * 64-dim dot product. Candidates are IVF-restricted to the query's
    * coarse cluster (argmin of the full-dimension distance, i.e. the sum
    * of the subspace partials).
    *
    * Scale design: the codebook (k×64) and each query's ADC table (8×k
    * per query) are broadcast; `sub` — the (vec, subspace, code) partial
    * distances — is computed once, checkpointed, and reused for encoding,
    * coarse assignment, and the query tables; per-candidate work after
    * the broadcast join is an 8-row sum, and the bounded TopK aggregation
    * keeps the shuffle at O(queries·k·partitions). */
  def q70IvfPqAdc(spark: SparkSession, dir: String): DataFrame = {
    // per-(vector, codebook entry) partial squared distances as an 8-WIDE
    // ARRAY row: d²sub = |v_sp|² − 2·v_sp·c_sp + |c_sp|² per subspace.
    // r14 optimization (the round's most expensive query): the previous
    // form exploded the 8 subspaces into N×k×8 ROWS, persisted them, and
    // ran THREE aggregations over that table (enc per (vec,sp), the
    // two-level coarse argmin, the ADC build) plus a 3-way
    // enc⋈cluster⋈adc join at N×8 grain. Keeping the subspace axis as an
    // array (a) computes the vec-side norm |v_sp|² ONCE per vector
    // instead of once per (vector, code) — half the crossJoin flops —
    // and (b) lets ONE groupBy(vec_id) produce the coarse cluster AND
    // all 8 PQ codes via 9 struct-min aggregates, after which scoring is
    // a row-local map lookup against the broadcast query tables: no
    // N×k×8 cache entry, no second/third pass, no positional join.
    // Float parity with the oracle is unchanged: every d2sub is the same
    // slice-dot expression; the 8-term sums fold in subspace order 0..7
    // (the same order both engines accumulated the exploded rows in) and
    // round to 6 dp before any argmin/ranking exactly as before.
    val cbA = centroidsOver(vecs(spark, dir), col("label"), "code")
      .withColumn("cn8", array((0 until 8).map { sp =>
        val cs = slice(col("cv"), sp * 8 + 1, 8)
        dotCol(cs, cs)
      }: _*))
      .localCheckpoint(eager = false) // k×64 rows; read by the corpus pass AND the query pass
    def subOver(vs: DataFrame): DataFrame = vs
      .withColumn("vn8", array((0 until 8).map { sp =>
        val s = slice(col("v"), sp * 8 + 1, 8)
        dotCol(s, s)
      }: _*))
      .crossJoin(broadcast(cbA))
      .select(col("vec_id"), col("code"),
        array((0 until 8).map { sp =>
          element_at(col("vn8"), sp + 1) -
            lit(2.0) * dotCol(slice(col("v"), sp * 8 + 1, 8),
              slice(col("cv"), sp * 8 + 1, 8)) +
            element_at(col("cn8"), sp + 1)
        }: _*).as("d28"))
    val base = vecs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("v"))
    // ONE aggregation pass: coarse cluster (argmin of the rounded 8-term
    // total — round BEFORE the argmin, the repo's idiom: the total is a
    // float sum whose near-ties must not flip across engines) plus the
    // 8 per-subspace PQ codes, all lexicographic struct-mins
    val d2 = round(lit(1e-9) +
      (0 until 8).map(sp => element_at(col("d28"), sp + 1))
        .reduce(_ + _), 6)
    val perVec = subOver(base)
      .groupBy(col("vec_id"))
      .agg(min(struct(d2.as("d2"), col("code"))).as("mc"),
        (0 until 8).map(sp =>
          min(struct(element_at(col("d28"), sp + 1).as("d"),
            col("code"))).as(s"m$sp")): _*)
      .select(col("vec_id"), col("mc.code").as("cluster"),
        array((0 until 8).map(sp => col(s"m$sp.code")): _*).as("enc"))
      .localCheckpoint(eager = false) // read by the query-side build AND candidate scoring
    // query-side ADC tables: the query's own partials to EVERY codebook
    // entry, as a code→d28 map (built from the 1%-filtered vector scan —
    // N/100 × k rows, never the corpus); qcluster rides in from perVec
    val qm = subOver(base.filter(col("vec_id") % 100 === 0))
      .groupBy(col("vec_id").as("qid"))
      .agg(map_from_entries(collect_list(struct(col("code"), col("d28"))))
        .as("adcm"))
    val qside = perVec.join(broadcast(qm), col("vec_id") === col("qid"))
      .select(col("qid"), col("cluster").as("qcluster"), col("adcm"))
    // candidate scoring: IVF-restricted broadcast join, then ad2 is a
    // row-local 8-term lookup-sum over the query's map — same rounded
    // value the old join+sum produced, same top-5 idiom
    val ad2 = round(lit(1e-9) +
      (0 until 8).map(sp => element_at(element_at(col("adcm"),
        element_at(col("enc"), sp + 1)), sp + 1)).reduce(_ + _), 6)
    perVec.join(broadcast(qside),
        col("cluster") === col("qcluster") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), ad2.as("ad2"))
      .groupBy(col("qid"))
      .agg(graft.operators.TopK.topk(5)(negate(col("ad2")), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("qid"), (col("i") + 1).cast("int").as("rk"),
        col("t._2").as("vec_id"), round(lit(1e-9) - col("t._1"), 5).as("ad2"))
      .orderBy(col("qid"), col("rk"))
  }

  val q70Sql: String =
    s"""WITH $vecsSql,
      |compu AS (
      |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS d, embedding
      |  FROM embeddings),
      |comp AS (
      |  SELECT vec_id, label, d - 1 AS pos, embedding[d]::DOUBLE AS x FROM compu),
      |cb AS (
      |  SELECT label AS code, pos AS c_pos, round(1e-9 + avg(x), 6) AS c
      |  FROM comp GROUP BY 1, 2),
      |cba AS (SELECT code, list(c ORDER BY c_pos) AS cv FROM cb GROUP BY 1),
      |subu AS (
      |  SELECT vec_id, code, unnest(range(0, 8)) AS spl, embedding, cv
      |  FROM e CROSS JOIN cba),
      |sub AS (
      |  SELECT vec_id, spl::INT AS sp, code,
      |    list_reduce(list_transform(range(1, 9),
      |      i -> embedding[spl*8+i]::DOUBLE * embedding[spl*8+i]::DOUBLE), (x, y) -> x + y)
      |    - 2 * list_reduce(list_transform(range(1, 9),
      |      i -> embedding[spl*8+i]::DOUBLE * cv[spl*8+i]), (x, y) -> x + y)
      |    + list_reduce(list_transform(range(1, 9),
      |      i -> cv[spl*8+i] * cv[spl*8+i]), (x, y) -> x + y) AS d2sub
      |  FROM subu),
      |enc AS (
      |  SELECT vec_id, sp, code FROM (
      |    SELECT vec_id, sp, code,
      |      row_number() OVER (PARTITION BY vec_id, sp ORDER BY d2sub, code) AS rn
      |    FROM sub) WHERE rn = 1),
      |cluster AS (
      |  SELECT vec_id AS cl_vec, code AS cluster FROM (
      |    SELECT vec_id, code,
      |      row_number() OVER (PARTITION BY vec_id
      |        ORDER BY round(1e-9 + sum(d2sub), 6), code) AS rn
      |    FROM sub GROUP BY vec_id, code) WHERE rn = 1),
      |q AS (
      |  SELECT cl_vec AS qid, cluster AS qcluster FROM cluster WHERE cl_vec % 100 = 0),
      |adc AS (
      |  SELECT qid, qcluster, sp AS a_sp, code AS a_code, d2sub AS dt
      |  FROM sub JOIN q ON vec_id = qid),
      |scored AS (
      |  SELECT qid, enc.vec_id, round(1e-9 + sum(dt), 6) AS ad2
      |  FROM enc
      |  JOIN cluster ON enc.vec_id = cl_vec
      |  JOIN adc ON enc.sp = a_sp AND enc.code = a_code
      |    AND cluster = qcluster AND enc.vec_id <> qid
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT qid, vec_id, ad2,
      |    row_number() OVER (PARTITION BY qid ORDER BY ad2, vec_id) AS rk
      |  FROM scored)
      |SELECT qid, rk, vec_id, round(1e-9 + ad2, 5) AS ad2
      |FROM ranked WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin

  /** Contrastive-pair mining: for each query vector, the hardest positive
    * (nearest neighbor with the SAME label) and the hardest negative
    * (nearest with a DIFFERENT label), plus the margin between them — the
    * batch-mining pass that builds triplet/contrastive training sets from
    * an embedded corpus. A negative margin flags a query whose nearest
    * other-class neighbor is closer than its nearest same-class one (the
    * pairs a metric-learning loss learns the most from).
    *
    * Scale design: one scored pass (broadcast query side), checkpointed and
    * consumed by TWO bounded TopK aggregations — the label filter rides
    * the aggregation input, so neither branch re-scores; no window sort
    * anywhere. In production the scored pass would be the ANN candidate
    * stream (q34/q36) instead of brute force. */
  def q87ContrastiveMining(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos_raw",
        dotCol(col("qv"), col("v")) / sqrt(col("qnrm") * col("nrm")))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        col("cos_raw"))
      .localCheckpoint(eager = false)
    def top1(cond: org.apache.spark.sql.Column) = scored.filter(cond)
      .groupBy(col("qid"))
      .agg(graft.operators.TopK.topk(1)(col("cos_raw"), col("vec_id")).as("t"))
      .select(col("qid"), col("t")(0).getField("_2").as("id"),
        col("t")(0).getField("_1").as("cos"))
    val pos = top1(col("label") === col("qlabel"))
      .select(col("qid").as("p_qid"), col("id").as("pos_id"),
        col("cos").as("pos_raw"))
    val neg = top1(col("label") =!= col("qlabel"))
      .select(col("qid").as("n_qid"), col("id").as("neg_id"),
        col("cos").as("neg_raw"))
    pos.join(neg, col("p_qid") === col("n_qid"))
      .select(col("p_qid").as("qid"), col("pos_id"),
        round(lit(1e-9) + col("pos_raw"), 5).as("pos_cos"),
        col("neg_id"), round(lit(1e-9) + col("neg_raw"), 5).as("neg_cos"),
        round(lit(1e-9) + (col("pos_raw") - col("neg_raw")), 5).as("margin"))
      .orderBy(col("qid"))
  }

  val q87Sql: String =
    s"""WITH $vecsSql,
      |q AS (
      |  SELECT vec_id AS qid, label AS qlabel, embedding AS qv, nrm AS qnrm
      |  FROM e WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT qid, qlabel, vec_id, label,
      |    list_reduce(list_transform(range(1, len(qv) + 1),
      |      i -> qv[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(qnrm * nrm) AS cos_raw
      |  FROM e JOIN q ON vec_id <> qid),
      |pos AS (
      |  SELECT qid, vec_id AS pos_id, cos_raw AS pos_raw FROM (
      |    SELECT qid, vec_id, cos_raw,
      |      row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rk
      |    FROM scored WHERE label = qlabel) WHERE rk = 1),
      |neg AS (
      |  SELECT qid, vec_id AS neg_id, cos_raw AS neg_raw FROM (
      |    SELECT qid, vec_id, cos_raw,
      |      row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rk
      |    FROM scored WHERE label <> qlabel) WHERE rk = 1)
      |SELECT pos.qid AS qid, pos_id, round(1e-9 + pos_raw, 5) AS pos_cos,
      |  neg_id, round(1e-9 + neg_raw, 5) AS neg_cos,
      |  round(1e-9 + (pos_raw - neg_raw), 5) AS margin
      |FROM pos JOIN neg ON pos.qid = neg.qid
      |ORDER BY qid""".stripMargin

  /** Label-noise audit (Confident-Learning shape): for every vector, check
    * whether its SEMANTIC neighborhood agrees with its label — a vector
    * whose close neighbors mostly carry a different label is a suspected
    * annotation error. Neighborhoods come from the q34 LSH buckets
    * (8-bit hyperplane signature) with an exact-cosine ≥ 0.2 gate, so
    * candidate generation is the same signature equi-join as ANN search —
    * never an N² pass. The suspect predicate compares 2·n_same < n_nb in
    * integers (no division), and only vectors with ≥ 2 gated neighbors
    * are judged (a 1-neighbor disagreement is noise, not evidence).
    *
    * Scale design: bucket equi-join on the signature + per-vector
    * aggregation — identical cost shape to q34; the verdict table is one
    * row per vector. At 100 TB the signature table is the (persisted)
    * index; here it is rebuilt inline like the other ANN queries. */
  def q99LabelErrors(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val withSig = e.withColumn("sig", sigCol(col("v"), sigBits(nVecs(spark, dir))))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("sig"))
      .localCheckpoint(eager = false) // both sides of the bucket self-join
    withSig.as("x").join(withSig.as("y"),
        col("x.sig") === col("y.sig") && col("x.vec_id") =!= col("y.vec_id"))
      .withColumn("cos_raw",
        dotCol(col("x.v"), col("y.v")) / sqrt(col("x.nrm") * col("y.nrm")))
      .filter(round(lit(1e-9) + col("cos_raw"), 5) >= 0.2)
      .groupBy(col("x.vec_id").as("vec_id"), col("x.label").as("label"))
      .agg(count(lit(1)).as("n_nb"),
        sum(when(col("x.label") === col("y.label"), 1L).otherwise(0L))
          .as("n_same"))
      .filter(col("n_nb") >= 2)
      .select(col("vec_id"), col("label"), col("n_nb"), col("n_same"),
        round(lit(1e-9) + col("n_same").cast("double") / col("n_nb"), 5)
          .as("agree"),
        when(col("n_same") * 2 < col("n_nb"), 1L).otherwise(0L).as("suspect"))
      .orderBy(col("vec_id"))
  }

  val q99Sql: String =
    s"""WITH $vecsSql,
      |$sigSqlCtes,
      |es AS (SELECT e.vec_id, e.label, e.embedding, e.nrm, sig.sig
      |       FROM e JOIN sig ON vec_id = s_vec),
      |pairs AS (
      |  SELECT x.vec_id, x.label AS xl, y.label AS yl,
      |    list_reduce(list_transform(range(1, len(x.embedding) + 1),
      |      i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (a, b) -> a + b)
      |      / sqrt(x.nrm * y.nrm) AS cos_raw
      |  FROM es x JOIN es y ON x.sig = y.sig AND x.vec_id <> y.vec_id),
      |gated AS (SELECT * FROM pairs WHERE round(1e-9 + cos_raw, 5) >= 0.2),
      |agg AS (
      |  SELECT vec_id, xl AS label, count(*) AS n_nb,
      |    CAST(sum(CASE WHEN xl = yl THEN 1 ELSE 0 END) AS BIGINT) AS n_same
      |  FROM gated GROUP BY 1, 2)
      |SELECT vec_id, label, n_nb, n_same,
      |  round(1e-9 + CAST(n_same AS DOUBLE) / n_nb, 5) AS agree,
      |  CASE WHEN n_same * 2 < n_nb THEN 1 ELSE 0 END::BIGINT AS suspect
      |FROM agg
      |WHERE n_nb >= 2
      |ORDER BY vec_id""".stripMargin

  /** Embedding-space correlation audit — the d×d second-moment pass run
    * before whitening / PCA / product quantization: population Pearson
    * correlation for every dimension pair, reported as the top-10 most
    * correlated off-diagonal pairs. Highly correlated dimensions mean the
    * PQ subspace split (q70) wastes codebook entropy and an IVF residual
    * (q36) is anisotropic — this query is how you find out cheaply.
    *
    * Scale design: ONE linear pass builds all pair products via the
    * native `outer_f64` kernel (no self-join of the exploded component
    * table — that would shuffle N·d rows to pair N·d² — and no
    * driver-side matrix), aggregating into d²-bounded state exactly like
    * a distributed Gram-matrix computation; (i, j) come from integer
    * arithmetic on the explode position, so the hot path is one codegen'd
    * loop + posexplode with zero lambda frames or struct boxing
    * (profiled ~3× faster than the declarative nested transform).
    * At any corpus size the exchange carries ≤ 2080 rows.
    *
    * Round-12 note: this is deliberately NOT on the VecSum path the
    * centroid queries use — measured, the udaf's per-element
    * encoder boxing at d² = 4096 array width costs ~40× the whole query
    * (43 s vs 1.1 s at sf0.1), while the exploded form stays inside
    * whole-stage codegen and its 2080-key exchange is already
    * corpus-size-independent. VecSum wins when it REMOVES a corpus-sized
    * shuffle at modest (≤ d) width; here it would only add boxing. */
  def q106CorrAudit(spark: SparkSession, dir: String): DataFrame = {
    val n = nVecs(spark, dir)
    val mom = vecs(spark, dir)
      .select(posexplode(graft.functions.VecOps.outerCol(col("v")))
        .as(Seq("pos", "xy")))
      .filter(col("pos") % 64 >= expr("pos div 64"))
      .groupBy(expr("cast(pos div 64 as int)").as("i"),
        (col("pos") % 64).cast("int").as("j"))
      .agg(sum(col("xy")).as("sxy"))
      .localCheckpoint(eager = false) // 2080 rows; diagonal feeds the mean/var lookup below
    val m1 = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(sum(col("x")).as("sx"))
    val diag = mom.filter(col("i") === col("j"))
      .join(m1, col("i") === col("d"))
      .select(col("i").as("dd"),
        (col("sxy") / n - (col("sx") / n) * (col("sx") / n)).as("vr"),
        (col("sx") / n).as("mean"))
    mom.filter(col("i") < col("j"))
      .join(broadcast(diag.select(col("dd").as("i"), col("vr").as("vi"),
        col("mean").as("mi"))), Seq("i"))
      .join(broadcast(diag.select(col("dd").as("j"), col("vr").as("vj"),
        col("mean").as("mj"))), Seq("j"))
      .select(col("i"), col("j"),
        round(lit(1e-9) +
          (col("sxy") / n - col("mi") * col("mj")) / sqrt(col("vi") * col("vj")),
          4).as("corr"))
      .orderBy(abs(col("corr")).desc, col("i"), col("j"))
      .limit(10)
  }

  val q106Sql: String =
    """WITH n AS (SELECT count(*) AS n FROM embeddings),
      |comp AS (
      |  SELECT vec_id, d - 1 AS d, embedding[d]::DOUBLE AS x
      |  FROM (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS d, embedding
      |        FROM embeddings)),
      |mom AS (
      |  SELECT a.d AS i, b.d AS j, sum(a.x * b.x) AS sxy
      |  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d <= b.d
      |  GROUP BY 1, 2),
      |m1 AS (SELECT d, sum(x) AS sx FROM comp GROUP BY 1),
      |diag AS (
      |  SELECT i AS dd, sxy / n - (sx / n) * (sx / n) AS vr, sx / n AS mean
      |  FROM mom JOIN m1 ON i = d AND i = j CROSS JOIN n)
      |SELECT i, j,
      |  round(1e-9 + (sxy / n - di.mean * dj.mean) / sqrt(di.vr * dj.vr), 4)
      |    AS corr
      |FROM mom
      |JOIN diag di ON di.dd = i
      |JOIN diag dj ON dj.dd = j
      |CROSS JOIN n
      |WHERE i < j
      |ORDER BY abs(round(1e-9 + (sxy / n - di.mean * dj.mean)
      |  / sqrt(di.vr * dj.vr), 4)) DESC, i, j
      |LIMIT 10""".stripMargin

  /** Hubness audit — the k-NN pathology check for retrieval quality: a
    * "hub" vector appears as the nearest neighbor of disproportionately
    * many others (a known high-dimensional effect that skews both ANN
    * retrieval and k-NN label inference, q99). Builds the top-1-neighbor
    * graph inside the LSH buckets and reports the 10 most-pointed-at
    * vectors with their in-degree.
    *
    * Scale design: same signature equi-join as q34/q99 for candidates;
    * the per-vector top-1 is the bounded [[graft.operators.TopK]]
    * aggregation (map-side partials, never a window sort), the in-degree
    * is one count aggregation over N rows, and the report is a bounded
    * top-10 take. */
  def q112Hubness(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val withSig = e.withColumn("sig", sigCol(col("v"), sigBits(nVecs(spark, dir))))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("sig"))
      .localCheckpoint(eager = false) // both bucket-join sides + the label lookup
    val top1 = withSig.as("x").join(withSig.as("y"),
        col("x.sig") === col("y.sig") && col("x.vec_id") =!= col("y.vec_id"))
      .withColumn("cos_raw",
        dotCol(col("x.v"), col("y.v")) / sqrt(col("x.nrm") * col("y.nrm")))
      .groupBy(col("x.vec_id").as("src"))
      .agg(graft.operators.TopK.topk(1)(col("cos_raw"), col("y.vec_id")).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t._2").as("nn"))
    top1.groupBy(col("nn"))
      .agg(count(lit(1)).as("indeg"))
      .join(withSig.select(col("vec_id").as("nn"), col("label")), Seq("nn"))
      .select(col("nn").as("vec_id"), col("label"), col("indeg"))
      .orderBy(col("indeg").desc, col("vec_id"))
      .limit(10)
  }

  val q112Sql: String =
    s"""WITH $vecsSql,
      |$sigSqlCtes,
      |es AS (SELECT e.vec_id, e.label, e.embedding, e.nrm, sig.sig
      |       FROM e JOIN sig ON vec_id = s_vec),
      |scored AS (
      |  SELECT x.vec_id AS src, y.vec_id AS dst,
      |    list_reduce(list_transform(range(1, len(x.embedding) + 1),
      |      i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE), (a, b) -> a + b)
      |      / sqrt(x.nrm * y.nrm) AS cos_raw
      |  FROM es x JOIN es y ON x.sig = y.sig AND x.vec_id <> y.vec_id),
      |top1 AS (
      |  SELECT src, dst FROM (
      |    SELECT src, dst,
      |      row_number() OVER (PARTITION BY src ORDER BY cos_raw DESC, dst) AS rk
      |    FROM scored) WHERE rk = 1),
      |indeg AS (SELECT dst AS vec_id, count(*) AS indeg FROM top1 GROUP BY 1)
      |SELECT i.vec_id, es.label, i.indeg
      |FROM indeg i JOIN es ON i.vec_id = es.vec_id
      |ORDER BY indeg DESC, i.vec_id
      |LIMIT 10""".stripMargin

  /** Greedy k-center (farthest-point) coreset selection over the embedding
    * corpus — the diversity-sampling pass of training-data selection:
    * pick the point farthest from everything selected so far, k times,
    * and the selected set is a 2-approximation of the optimal k-center
    * cover. Output is the selection order, the chosen vector, and the
    * coverage radius² at the moment of selection (the farthest-remaining
    * distance, so the radius column is non-increasing by construction —
    * the "how much does the next exemplar still buy" curve).
    *
    * Determinism across engines: distances use the SAME sequential-fold
    * dot product both sides (d² = |x|² − 2·x·c + |c|², never an unordered
    * component sum), are rounded to 4 decimals before the argmax, and
    * ties break on vec_id.
    *
    * Scale design: the corpus is scanned ONCE per round — each round is
    * a narrow map against the k-bounded broadcast center (update the
    * running min-distance) plus a TakeOrdered(1) argmax; no pairwise
    * materialization, no global sort, state per row is one double. The
    * k collected rows are control-plane (k vectors to the driver, like
    * q69's k×64 centroid broadcast); at petabyte scale you checkpoint
    * the min-distance column every few rounds instead of re-deriving
    * the narrow chain — the shuffle count stays ZERO either way. */
  def q134KcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val e = vecs(spark, dir).localCheckpoint(eager = false) // (vec_id, label, v, nrm)
    def d2To(cv: Seq[Double], cNrm: Double): Column =
      round(lit(1e-9) + col("nrm") - lit(2.0) * dotCol(col("v"), typedLit(cv))
        + lit(cNrm), 4)
    val first = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("v"), col("nrm")).collect().head
    var selected = Vector((0, first.getLong(0), 0.0))
    var state = e.select(col("vec_id"), col("v"), col("nrm"),
      d2To(first.getSeq[Double](1), first.getDouble(2)).as("md"))
    (1 until k).foreach { i =>
      val next = state.orderBy(col("md").desc, col("vec_id")).limit(1)
        .collect().head
      selected :+= ((i, next.getLong(0), next.getDouble(3)))
      state = state.withColumn("md",
        least(col("md"), d2To(next.getSeq[Double](1), next.getDouble(2))))
    }
    import spark.implicits._
    selected.toDF("sel_order", "vec_id", "radius2")
      .select(col("sel_order").cast("int").as("sel_order"), col("vec_id"),
        col("radius2"))
      .orderBy(col("sel_order"))
  }

  /** The oracle unrolls the same k rounds as chained CTEs: cI = argmax of
    * dI's min-distance, dI+1 = least(dI, distance to cI) — generated from
    * the one k constant so both engines share the schedule by
    * construction. */
  val q134Sql: String = {
    val k = 8
    val dot = (a: String, b: String) =>
      s"""list_reduce(list_transform(range(1, len($a) + 1),
         |      i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"WITH $vecsSql,\n"
    sb ++= "c0 AS (SELECT vec_id, embedding, nrm FROM e ORDER BY vec_id LIMIT 1),\n"
    sb ++= s"""d1 AS (
              |  SELECT e.vec_id, e.embedding, e.nrm,
              |    round(1e-9 + e.nrm - 2 * ${dot("e.embedding", "c.embedding")}
              |      + c.nrm, 4) AS md
              |  FROM e CROSS JOIN c0 c),\n""".stripMargin
    (1 until k).foreach { i =>
      sb ++= s"c$i AS (SELECT vec_id, embedding, nrm, md FROM d$i ORDER BY md DESC, vec_id LIMIT 1)"
      if (i < k - 1)
        sb ++= s""",
                  |d${i + 1} AS (
                  |  SELECT d.vec_id, d.embedding, d.nrm,
                  |    least(d.md, round(1e-9 + d.nrm - 2 * ${dot("d.embedding", "c.embedding")}
                  |      + c.nrm, 4)) AS md
                  |  FROM d$i d CROSS JOIN c$i c),\n""".stripMargin
      else sb ++= "\n"
    }
    val sel = Seq("SELECT 0 AS sel_order, (SELECT vec_id FROM c0) AS vec_id, 0.0 AS radius2") ++
      (1 until k).map(i =>
        s"SELECT $i, (SELECT vec_id FROM c$i), (SELECT md FROM c$i)")
    sb ++= sel.mkString("", "\nUNION ALL ", "\nORDER BY sel_order")
    sb.toString
  }

  /** Embedding anisotropy audit — the geometry sanity check run before an
    * embedding column is trusted for near-dup (q32/q80) or ANN (q33–q36)
    * work: per label, the ratio ‖μ‖²/E‖x‖² (squared norm of the mean
    * vector over the mean squared norm). For an isotropic cloud the mean
    * vector cancels and the ratio → 0; a collapsed ("cone-shaped")
    * embedding space — the classic failure mode that silently breaks
    * cosine thresholds — pushes it toward 1. By Jensen the ratio lives in
    * [0, 1] (pinned in spec). Also reports the largest per-dimension
    * |mean| as the rogue-dimension indicator.
    *
    * Determinism: per-dim means are rounded to 6 dp BEFORE the norm fold
    * (q35's centroid idiom), ‖μ‖² is the ordered left-to-right `dot_f64`
    * fold over the sorted dim array (identical to the oracle's
    * list_reduce), and E‖x‖² averages row-local exact folds.
    *
    * Scale design: one map-side-combined shuffle to label grain with a
    * dim-width VecSum buffer (O(labels·64) state regardless of corpus
    * size, vector-grain input — no N×64 explode), one to label grain
    * for the norms, and a label-count-sized join — nothing downstream of
    * the scan grows with the corpus. */
  def q144AnisotropyAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val mu = centroidsOver(e, col("label"), "c_label")
      .select(col("c_label"),
        round(lit(1e-9) + dotCol(col("cv"), col("cv")), 6).as("mu_nrm"),
        round(lit(1e-9) +
          array_max(transform(col("cv"), c => abs(c))), 6).as("max_abs_mean"))
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(lit(1e-9) + avg(col("nrm")), 5).as("mean_sq_norm"))
      .join(mu, col("label") === col("c_label"))
      .select(col("label"), col("n_vecs"), col("mean_sq_norm"), col("mu_nrm"),
        round(lit(1e-9) + col("mu_nrm") / col("mean_sq_norm"), 5)
          .as("anisotropy"),
        col("max_abs_mean"))
      .orderBy(col("label"))
  }

  val q144Sql: String =
    s"""WITH $vecsSql,
      |compu AS (
      |  SELECT label, unnest(range(1, len(embedding) + 1)) AS d, embedding
      |  FROM e),
      |comp AS (SELECT label, d - 1 AS pos, embedding[d]::DOUBLE AS x FROM compu),
      |cent AS (
      |  SELECT label AS c_label, pos, round(1e-9 + avg(x), 6) AS c
      |  FROM comp GROUP BY 1, 2),
      |ca AS (
      |  SELECT c_label, list(c ORDER BY pos) AS cv,
      |    round(1e-9 + max(abs(c)), 6) AS max_abs_mean
      |  FROM cent GROUP BY 1),
      |mu AS (
      |  SELECT c_label,
      |    round(1e-9 + list_reduce(list_transform(range(1, len(cv) + 1),
      |      i -> cv[i] * cv[i]), (x, y) -> x + y), 6) AS mu_nrm,
      |    max_abs_mean
      |  FROM ca),
      |nrms AS (
      |  SELECT label, count(*) AS n_vecs,
      |    round(1e-9 + avg(nrm), 5) AS mean_sq_norm
      |  FROM e GROUP BY 1)
      |SELECT label, n_vecs, mean_sq_norm, mu_nrm,
      |  round(1e-9 + mu_nrm / mean_sq_norm, 5) AS anisotropy, max_abs_mean
      |FROM nrms JOIN mu ON label = c_label
      |ORDER BY label""".stripMargin

  /** Semantic (embedding-space) decontamination — the third face of the
    * decontam triad: q56 catches lexical n-gram contamination, q124 the
    * Bloom-accelerated exact variant, and this catches PARAPHRASED
    * benchmark leakage that shares no n-grams: a corpus vector is
    * flagged when its max cosine to ANY held-out eval vector (the
    * vec_id % 50 == 0 slice standing in for a benchmark suite) reaches
    * the threshold. 0.35 sits above this fixture's p95 eval-corpus
    * cosine (the synthetic embeddings live in a low-similarity regime —
    * q32 treats ≥ 0.40 as near-dup); production thresholds sit near
    * 0.9 on real encoder geometry, where q144's anisotropy audit is the
    * prerequisite sanity check.
    *
    * Scale design: the eval suite is k-bounded by nature (benchmarks are
    * small), so it broadcasts as ONE sorted array row; per corpus vector
    * the max-cosine is a row-local fold (zip_with dot + greatest) —
    * ZERO shuffles until the final O(labels) aggregation, one linear
    * scan of the corpus. For eval sets too big to broadcast, the blocked
    * variant composes q36's IVF routing (compare only within shared
    * coarse cells) — same kernel, bucketed join. */
  def q146SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val evArr = e.filter(col("vec_id") % 50 === 0)
      .agg(array_sort(collect_list(
        struct(col("vec_id").as("eid"), col("v").as("ev"), col("nrm").as("enrm"))))
        .as("evs"))
    val maxCos = aggregate(col("evs"), lit(-1.0), (acc, s) =>
      greatest(acc,
        aggregate(zip_with(col("v"), s.getField("ev"), (a, b) => a * b),
          lit(0.0), (a2, x) => a2 + x) / sqrt(col("nrm") * s.getField("enrm"))))
    e.filter(col("vec_id") % 50 =!= 0)
      .crossJoin(broadcast(evArr))
      .select(col("label"),
        when(round(lit(1e-9) + maxCos, 5) >= 0.35, 1L).otherwise(0L).as("flag"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_corpus"),
        sum(col("flag")).as("n_flagged"),
        round(lit(1e-9) + avg(col("flag")), 5).as("flag_rate"))
      .orderBy(col("label"))
  }

  val q146Sql: String =
    s"""WITH $vecsSql,
      |ev AS (
      |  SELECT vec_id AS eid, embedding AS evv, nrm AS enrm
      |  FROM e WHERE vec_id % 50 = 0),
      |mx AS (
      |  SELECT c.vec_id, c.label,
      |    round(1e-9 + max(
      |      list_reduce(list_transform(range(1, len(c.embedding) + 1),
      |        i -> c.embedding[i]::DOUBLE * evv[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(c.nrm * enrm)), 5) AS max_cos
      |  FROM e c CROSS JOIN ev
      |  WHERE c.vec_id % 50 <> 0
      |  GROUP BY 1, 2),
      |fl AS (
      |  SELECT label, CASE WHEN max_cos >= 0.35 THEN 1 ELSE 0 END AS flag
      |  FROM mx)
      |SELECT label, count(*) AS n_corpus, sum(flag)::BIGINT AS n_flagged,
      |  round(1e-9 + avg(flag::DOUBLE), 5) AS flag_rate
      |FROM fl
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** q146's CELL-BLOCKED variant — the scale path the broadcast plan's
    * docstring promises: when the eval suite outgrows a single broadcast
    * array row (a suite that scales with the corpus), group it through
    * q36's coarse quantizer into one BOUNDED array row per cell
    * (|suite|/k structs, never |suite|) and fold q146's exact
    * zip_with/greatest kernel per cell — no plan node ever holds the
    * whole suite, and the cell table is an ordinary relation that
    * distributes (drop the fixture-sized broadcast hint and the join
    * shuffles; nothing else changes).
    *
    * Two modes:
    *  - `nprobe = 0` (REGISTERED default): every corpus row meets every
    *    cell row — the broadcast variant's exact compute, chunked. The
    *    result is broadcast-q146 bit-for-bit BY CONSTRUCTION (same
    *    pairs, same kernel, same rounding), pinned in PlanAuditSpec.
    *  - `nprobe > 0`: true IVF routing — each corpus vector probes only
    *    its nprobe nearest cells ([[graft.operators.TopK]]: O(nprobe)
    *    agg state, map-side partials — never a collect of the k
    *    distances). Precision stays 1 (every compared pair is real);
    *    recall is geometry-dependent. On THIS fixture's synthetic
    *    near-random embeddings the 0.35-threshold pairs are spread so
    *    wide that full recall needs nprobe = 8 of k = 10 cells
    *    (measured per-pair cell ranks: [1,2,2,2,2,3,3,4,4,5,6,7,8]) —
    *    routing buys nothing here, which is exactly why the registered
    *    default is the exact mode. On real encoder geometry (threshold
    *    ~0.9, q144's anisotropy audit as the prerequisite) contaminated
    *    pairs are near-duplicates and land in the same or adjacent
    *    cells — the standard nprobe 1-4 regime. The subset property
    *    (approximate flags are always a subset of exact flags) is
    *    pinned in PlanAuditSpec at every nprobe.
    *
    * Cost accounting vs broadcast-q146 (exact mode): identical dot
    * count, but the widest single row shrinks from |suite| to
    * |suite|/k structs and the suite side becomes a k-row relation —
    * the driver/broadcast bottleneck is gone. Routing mode additionally
    * cuts per-corpus-row work to nprobe·|suite|/k dots for one
    * corpus-grain shuffle (the TopK probe assembly). */
  def q146BlockedDecontam(spark: SparkSession, dir: String,
      nprobe: Int = 0): DataFrame =
    blockedDecontamFlags(spark, dir, nprobe)
      .select(col("label"), col("flag"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_corpus"),
        sum(col("flag")).as("n_flagged"),
        round(lit(1e-9) + avg(col("flag")), 5).as("flag_rate"))
      .orderBy(col("label"))

  /** The registered default eval-suite slice (q146/q162/q163): every
    * 50th vector is the protected suite. */
  private val DefaultSuite: Column = col("vec_id") % 50 === 0

  /** [[q146BlockedDecontam]]'s per-VECTOR decision table — (vec_id,
    * label, flag) for every corpus vector — with the suite slice
    * parameterized so the subset law (routed flags ⊆ exact flags at
    * every nprobe) is testable on RANDOM suite slices, not just the
    * registered one. The registered query aggregates this to label
    * grain. */
  private[graft] def blockedDecontamFlags(spark: SparkSession, dir: String,
      nprobe: Int = 0, suite: Column = DefaultSuite): DataFrame = {
    val e = vecs(spark, dir)
    val centA = centroidsOver(e, col("label"), "c_label")
      .withColumn("cnrm", dotCol(col("cv"), col("cv")))
    def withD2(df: DataFrame): DataFrame = df.crossJoin(broadcast(centA))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("c_label").as("cell"),
        (col("nrm") - lit(2.0) * dotCol(col("v"), col("cv"))
          + col("cnrm")).as("d2"))
    val evalCells = evalCellsOver(withD2(e.filter(suite)))
    val corpus = e.filter(!suite)
    val probed =
      if (nprobe <= 0)
        // exact: every corpus row × every bounded cell row (k rows)
        corpus.crossJoin(broadcast(evalCells))
      else {
        // IVF routing: nprobe nearest cells via the bounded TopK state;
        // v/nrm ride the same aggregation (identical per vec_id) so no
        // join-back to e is needed — ONE corpus shuffle total. Left
        // join keeps corpus vectors whose probed cells hold no eval
        // vectors (max over nothing = -1 -> unflagged).
        withD2(corpus)
          .groupBy(col("vec_id"))
          .agg(graft.operators.TopK.topk(nprobe)(-col("d2"),
              col("cell").cast("long")).as("top"),
            first(col("label")).as("label"),
            first(col("v")).as("v"), first(col("nrm")).as("nrm"))
          .select(col("vec_id"), col("label"), col("v"), col("nrm"),
            explode(col("top")).as("t"))
          .select(col("vec_id"), col("label"), col("v"), col("nrm"),
            col("t._2").cast("int").as("cell"))
          .join(broadcast(evalCells), Seq("cell"), "left")
      }
    // q146's exact kernel, folded over one CELL's array at a time
    val cellMax = aggregate(col("evs"), lit(-1.0), (acc, s) =>
      greatest(acc,
        aggregate(zip_with(col("v"), s.getField("ev"), (a, b) => a * b),
          lit(0.0), (a2, x) => a2 + x) / sqrt(col("nrm") * s.getField("enrm"))))
    probed
      .select(col("vec_id"), col("label"),
        coalesce(cellMax, lit(-1.0)).as("cell_max"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("cell_max")).as("max_cos"))
      .select(col("vec_id"), col("label"),
        when(round(lit(1e-9) + col("max_cos"), 5) >= 0.35, 1L)
          .otherwise(0L).as("flag"))
  }

  /** One bounded array row per coarse cell from a d2-scored eval-suite
    * frame: nearest cell each (q36's struct-argmin), then the cell's
    * members as a sorted struct array. */
  private def evalCellsOver(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("m"),
        first(col("v")).as("ev"), first(col("nrm")).as("enrm"))
      // cell as a NAMED column before the group: the plan audit pins
      // "keys=[cell" on the collect, which a nested-field grouping key
      // would render as an anonymous _groupingexpression
      .select(col("m.cell").as("cell"), col("vec_id"), col("ev"), col("enrm"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(
        struct(col("vec_id").as("eid"), col("ev"), col("enrm")))).as("evs"))

  /** Oracle for the registered EXACT mode: semantically identical to
    * broadcast-q146 (same pairs, same kernel, same rounding — the
    * blocking is a physical-layout change), so the twin is q146's own
    * max-cosine SQL. */
  val q162Sql: String = q146Sql

  /** The ROUTED mode as its own registered query (q163): nprobe = 2 of
    * the k = 10 coarse cells — the production IVF approximation. Its
    * oracle reproduces the ROUTING itself, not just the kernel: the same
    * 6-dp-rounded centroids, the same d2 ties broken by cell id, eval
    * vectors at their single nearest cell, corpus vectors probing their
    * two nearest — so correctness is deterministic routing parity, never
    * recall luck (on this fixture the routed flags are a strict subset
    * of q162's exact flags; PlanAuditSpec pins that subset property at
    * every nprobe). */
  val q163Sql: String =
    s"""WITH $vecsSql,
      |compu AS (
      |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS d, embedding FROM e),
      |compl AS (
      |  SELECT vec_id, label, d - 1 AS pos, embedding[d]::DOUBLE AS x FROM compu),
      |cent AS (
      |  SELECT label AS c_label, pos, round(1e-9 + avg(x), 6) AS c
      |  FROM compl GROUP BY 1, 2),
      |ca AS (SELECT c_label, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
      |can AS (
      |  SELECT c_label, cv, list_reduce(list_transform(range(1, len(cv) + 1),
      |    i -> cv[i] * cv[i]), (x, y) -> x + y) AS cnrm FROM ca),
      |d2 AS (
      |  SELECT vec_id, label, nrm, embedding, c_label AS cell,
      |    e.nrm - 2 * list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> embedding[i]::DOUBLE * cv[i]), (x, y) -> x + y) + cnrm AS d2
      |  FROM e CROSS JOIN can),
      |evassign AS (
      |  SELECT eid, evv, enrm, cell FROM (
      |    SELECT vec_id AS eid, embedding AS evv, nrm AS enrm, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |    FROM d2 WHERE vec_id % 50 = 0) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id, label, embedding, nrm, cell FROM (
      |    SELECT vec_id, label, embedding, nrm, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |    FROM d2 WHERE vec_id % 50 <> 0) WHERE rn <= 2),
      |mx AS (
      |  SELECT p.vec_id, p.label,
      |    coalesce(max(
      |      list_reduce(list_transform(range(1, len(p.embedding) + 1),
      |        i -> p.embedding[i]::DOUBLE * evv[i]::DOUBLE), (x, y) -> x + y)
      |      / sqrt(p.nrm * enrm)), -1) AS max_cos
      |  FROM probes p LEFT JOIN evassign ev ON p.cell = ev.cell
      |  GROUP BY 1, 2),
      |fl AS (
      |  SELECT label,
      |    CASE WHEN round(1e-9 + max_cos, 5) >= 0.35 THEN 1 ELSE 0 END AS flag
      |  FROM mx)
      |SELECT label, count(*) AS n_corpus, sum(flag)::BIGINT AS n_flagged,
      |  round(1e-9 + avg(flag::DOUBLE), 5) AS flag_rate
      |FROM fl
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** Embedding-space SOURCE-AFFINITY matrix — the semantic analog of
    * q130's lexical domain-KL and q98's shingle-overlap matrix: per
    * source pair, the cosine between the sources' mean embedding
    * vectors. This is the domain-similarity table a mixture planner
    * reads when deciding which sources are interchangeable (near-1
    * affinity → redundant data, candidates for down-weighting) and
    * which add coverage — judged in the embedding geometry instead of
    * surface vocabulary. The fixture convention `vec_id IS doc_id`
    * links the two tables (same id space, see q146/q132).
    *
    * Determinism: centroids are per-(source, dim) means rounded once at
    * 6 dp (q35's idiom); the pairwise dot is the strict left-to-right
    * `dot_f64` fold over those rounded arrays, mirrored by the oracle's
    * `list_reduce` — fold-order parity, nothing engine-dependent.
    *
    * Scale design: ONE source-grain shuffle with a dim-width VecSum
    * buffer (O(sources·64) state, vector-grain input — no N×64
    * explode) off a single embeddings-documents equi-join; the pairwise
    * stage is sources² rows of config size (20² here) from a broadcast
    * self-join — never a vector-pair blowup. */
  def q156SourceAffinity(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val centA = centroidsOver(
      vecs(spark, dir).join(src, Seq("vec_id")), col("source"), "source")
      .withColumnRenamed("nv", "n_vecs")
      .withColumn("cnrm", dotCol(col("cv"), col("cv")))
    centA.as("a").join(broadcast(centA.as("b")),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n_vecs").as("n_a"), col("b.n_vecs").as("n_b"),
        round(lit(1e-9) + dotCol(col("a.cv"), col("b.cv")) /
          (sqrt(col("a.cnrm")) * sqrt(col("b.cnrm"))), 5).as("affinity"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val q156Sql: String =
    """WITH comp AS (
      |  SELECT d.source, u.i - 1 AS pos, e.embedding[u.i]::DOUBLE AS x
      |  FROM embeddings e
      |  JOIN documents d ON d.doc_id = e.vec_id,
      |    unnest(range(1, len(e.embedding) + 1)) AS u(i)),
      |cent AS (
      |  SELECT source, pos, round(1e-9 + avg(x), 6) AS c, count(*) AS nv
      |  FROM comp GROUP BY 1, 2),
      |ca AS (
      |  SELECT source, list(c ORDER BY pos) AS cv, max(nv) AS n_vecs
      |  FROM cent GROUP BY 1),
      |can AS (
      |  SELECT source, cv, n_vecs,
      |    list_reduce(list_transform(range(1, len(cv) + 1),
      |      i -> cv[i] * cv[i]), (x, y) -> x + y) AS cnrm
      |  FROM ca)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  a.n_vecs AS n_a, b.n_vecs AS n_b,
      |  round(1e-9 + list_reduce(list_transform(range(1, len(a.cv) + 1),
      |      i -> a.cv[i] * b.cv[i]), (x, y) -> x + y)
      |    / (sqrt(a.cnrm) * sqrt(b.cnrm)), 5) AS affinity
      |FROM can a JOIN can b ON a.source < b.source
      |ORDER BY src_a, src_b""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q156_source_affinity", q156SourceAffinity, q156Sql),
    Query("q33_ann_bruteforce", q33AnnBruteforce, q33Sql),
    Query("q34_ann_lsh", q34AnnLsh, q34Sql),
    Query("q144_anisotropy_audit", q144AnisotropyAudit, q144Sql),
    Query("q146_semantic_decontam", q146SemanticDecontam, q146Sql),
    Query("q162_decontam_blocked", q146BlockedDecontam(_, _), q162Sql),
    Query("q163_decontam_routed", q146BlockedDecontam(_, _, nprobe = 2), q163Sql),
    Query("q35_label_centroids", q35LabelCentroids, q35Sql),
    Query("q36_ann_ivf", q36AnnIvf, q36Sql),
    Query("q58_quantization", q58Quantization, q58Sql),
    Query("q68_ann_recall", q68AnnRecall, q68Sql),
    Query("q69_kmeans_refine", q69KmeansRefine, q69Sql),
    Query("q70_ivfpq_adc", q70IvfPqAdc, q70Sql),
    Query("q87_contrastive_mining", q87ContrastiveMining, q87Sql),
    Query("q99_label_errors", q99LabelErrors, q99Sql),
    Query("q106_corr_audit", q106CorrAudit, q106Sql),
    Query("q112_hubness", q112Hubness, q112Sql),
    Query("q134_kcenter_coreset", q134KcenterCoreset, q134Sql)
  )
}
