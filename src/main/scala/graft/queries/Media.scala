package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFns.{h32, P}

/** Multimodal-column pack. The fixture corpus has no real media
  * payloads, so the UTF-8 bytes of `documents.text` stand in as the opaque
  * payload; the queries exercise exactly the plumbing that matters at
  * scale — metadata derivation over binary columns, fixed-stride frame
  * sampling and perceptual near-duplicate hashing — with pure built-in
  * expressions.
  */
object Media extends QueryPack {

  /** Payload metadata derivation: size, content hash, sniffed format and
    * stand-in dimensions, all derived from the payload hash. Narrow
    * per-row projection — no shuffle at any scale. */
  def q37MediaMetadata(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text")).as("content_hash"),
        h32(col("text")).as("h"))
      .select(col("doc_id"), col("n_bytes"), col("content_hash"),
        element_at(array(lit("png"), lit("jpeg"), lit("wav"), lit("mp4")),
          (col("h") % 4 + 1).cast("int")).as("format"),
        (col("h") % 320 + 320).cast("int").as("width_px"),
        (expr("h div 320") % 240 + 240).cast("int").as("height_px"))
      .orderBy(col("doc_id"))

  val q37Sql: String =
    """WITH d AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash,
      |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
      |  FROM documents)
      |SELECT doc_id, n_bytes, content_hash,
      |  (['png', 'jpeg', 'wav', 'mp4'])[(h % 4 + 1)::INT] AS format,
      |  (h % 320 + 320)::INT AS width_px,
      |  ((h // 320) % 240 + 240)::INT AS height_px
      |FROM d
      |ORDER BY doc_id""".stripMargin

  /** Fixed-stride frame sampling (stride 16, frame length 8) + per-doc
    * frame-set checksum: each frame is an 8-character slice of the
    * payload, hashed to a 32-bit value. Explode is per-row local;
    * the aggregate collapses it right back, so the shuffle carries one
    * row per document. */
  def q38FrameChecksum(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          floor((length(col("text")) - 8) / 16).cast("int"))).as("i"))
      .select(col("doc_id"),
        h32(expr("substring(text, i*16+1, 8)")).as("fh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        (sum(col("fh")) % P).as("checksum"))
      .orderBy(col("doc_id"))

  val q38Sql: String =
    """WITH u AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, (length(text) - 8) // 16 + 1)) AS i
      |  FROM documents WHERE length(text) >= 8),
      |f AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(substr(text, (i*16+1)::INT, 8)), 1, 8))::BIGINT AS fh
      |  FROM u)
      |SELECT doc_id, count(*) AS n_frames, (sum(fh) % 1000000007)::BIGINT AS checksum
      |FROM f
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Perceptual-hash near-dup for media payloads — the dHash shape: read
    * an 8×9 grid of "pixels" (payload bytes at fixed strides; here the
    * code points of the stand-in text), set bit (r,c) iff
    * px(r,c) > px(r,c+1), giving a 64-bit signature that is stable under
    * the small payload perturbations cryptographic hashing (q37's md5)
    * is maximally sensitive to. Candidates share either 32-bit half
    * (q31's SimHash band blocking), verified by Hamming distance ≤ 10.
    *
    * Scale design: signature is a pure projection (64 comparisons inside
    * whole-stage codegen, no explode); candidate generation is the
    * half-band equi-join, so cost concentrates in buckets exactly like
    * every other blocked dedup pass — never N². The 64 bit terms are
    * GENERATED from one Scala definition into both the Column tree and
    * the oracle SQL, so the two engines share the grid by construction. */
  private val dhashBits: Seq[(Int, Int)] =
    for (r <- 0 until 8; c <- 0 until 8) yield (r, c)

  def q117PerceptualDup(spark: SparkSession, dir: String): DataFrame = {
    def px(r: Int, c: Int) =
      ascii(substring(col("text"), r * 10 + c + 1, 1))
    val sig = dhashBits.map { case (r, c) =>
      when(px(r, c) > px(r, c + 1), lit(1L << (r * 8 + c))).otherwise(lit(0L))
    }.reduce(_ + _)
    val d = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 80)
      .select(col("doc_id"), sig.as("sig"))
      // sign-free half split: sig's top bit (r=7,c=7 term = 1L<<63) can
      // make it negative, so extract halves with shifts+masks rather than
      // div/% (whose negative-operand behavior the engines need not share)
      .withColumn("hi", shiftrightunsigned(col("sig"), 32))
      .withColumn("lo", col("sig").bitwiseAND(lit(4294967295L)))
      .localCheckpoint(eager = false) // both sides of the band self-join
    // candidate generation = the exact q31 scaffold, single-sourced
    Dedup.halfBandPairs(d, "sig", maxHamming = 10)
  }

  private val dhashSqlTerms: String = dhashBits.map { case (r, c) =>
    val p1 = r * 10 + c + 1
    val p2 = r * 10 + c + 2
    s"CASE WHEN ascii(substr(text, $p1, 1)) > ascii(substr(text, $p2, 1)) " +
      s"THEN ${1L << (r * 8 + c)} ELSE 0 END"
  }.mkString(" + ")

  val q117Sql: String =
    s"""WITH s AS (
      |  SELECT doc_id, CAST($dhashSqlTerms AS BIGINT) AS sig
      |  FROM documents WHERE length(text) >= 80),
      |k AS (
      |  SELECT doc_id, sig, (sig >> 32) & 4294967295 AS hi, sig & 4294967295 AS lo
      |  FROM s)
      |SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
      |  CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
      |FROM k x JOIN k y
      |  ON (x.hi = y.hi OR x.lo = y.lo) AND x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.sig, y.sig)) <= 10
      |ORDER BY da, db""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q37_media_metadata", q37MediaMetadata, q37Sql),
    Query("q38_frame_checksum", q38FrameChecksum, q38Sql),
    Query("q117_perceptual_dup", q117PerceptualDup, q117Sql)
  )
}
