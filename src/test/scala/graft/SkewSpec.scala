package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.joins.ShuffledJoin
import org.apache.spark.sql.functions._

import graft.operators.Salting

/** Adversarial-skew proofs: the docstring claims about hot keys
  * (q29's df-cap, q137's map-side-combinable canonical agg, q152's
  * AQE-skew-splittable instance join, `Salting`) asserted against a
  * DELIBERATELY skewed corpus — one boilerplate paragraph carried by
  * half the documents, i.e. one key owning ~50% of the postings/segment
  * mass. Fixture-shaped data never exercises this; a hot key is exactly
  * what a 100 TB web corpus serves daily (cookie banners, nav chrome). */
class SkewSpec extends SparkSpec {

  private val nHot = 4000
  private val nUnique = 1000

  /** Skewed corpus on disk in the fixture layout (documents.parquet):
    * `nHot` docs share one 120-word boilerplate paragraph (the CDC
    * segmentation cuts identical internal segments out of it in every
    * carrier, so its segment hashes reach df = nHot), each padded with
    * a unique tail; `nUnique` docs are fully unique. */
  private lazy val skewDir: String = {
    val dir = Files.createTempDirectory("graft_skew").toString
    val rnd = new scala.util.Random(41)
    def words(n: Int, tag: String): String =
      Seq.tabulate(n)(i => s"${tag}w${rnd.nextInt(50000)}x$i").mkString(" ")
    val boiler = {
      val r = new scala.util.Random(7)
      Seq.tabulate(120)(i => s"boil${r.nextInt(1000)}t$i").mkString(" ")
    }
    val rows = (0 until nHot).map { i =>
      (i.toLong, s"$boiler ${words(30, s"h$i")}", "en", s"src${i % 4}",
        0L)
    } ++ (0 until nUnique).map { i =>
      ((nHot + i).toLong, words(60, s"u$i"), "en", s"src${i % 4}", 0L)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def q(name: String) = SparkEntry.queries(name)(spark, skewDir)

  test("q29 on a 50%-mass key: the df-cap bounds the candidate join, no pair explosion") {
    // every shingle of the shared paragraph has df = nHot = 80% of the
    // corpus — uncapped, the self-join would fan out C(4000,2) = 8M
    // pairs PER hot shingle. The df-cap anti-joins those postings out,
    // so surviving candidates come only from the unique text (boundary
    // shingles straddling the boiler/tail seam are per-doc unique).
    val pairs = q("q29_ngram_jaccard").count()
    assert(pairs < 100000L,
      s"df-cap failed: $pairs candidate pairs on the hot corpus")
  }

  test("q137/q152 on the hot corpus: hot paragraph collapses/removes, map-side combinable") {
    val d137 = q("q137_paragraph_dedup").collect()
    val removed137 = d137.map(_.getAs[Long]("n_removed")).sum
    // every carrier beyond the first contributes >= 1 duplicate internal
    // boiler segment (there are several internal segments, all df=nHot)
    assert(removed137 >= (nHot - 1).toLong,
      s"q137 removed only $removed137 on a corpus with $nHot boiler carriers")
    val d152 = q("q152_boilerplate_removal").collect()
    val removed152 = d152.map(_.getAs[Long]("n_removed")).sum
    // boilerplate rule removes EVERY instance (df >= 3), first included
    assert(removed152 >= nHot.toLong,
      s"q152 removed only $removed152 boiler instances")
    assert(removed152 > removed137, "q152 must remove first occurrences too")
  }

  test("AQE splits the hot ph partition in the q152-shaped instance join (skew=true)") {
    // the docstring claim made observable: the ph-keyed 1:N join back to
    // instances IS the skew case (the hottest boilerplate key), and AQE
    // splits it. Broadcast disabled — at corpus scale the flagged-shape
    // side is not broadcastable — and the skew thresholds lowered to
    // match the test corpus' absolute sizes (the MECHANISM is identical
    // at any scale; only the byte thresholds move).
    val inst = graft.queries.Dedup.paraInstances(spark, skewDir)
    // the flagged-shapes side is MATERIALIZED and re-read (at corpus
    // scale it is a persisted artifact, not a live subquery) — which
    // also gives the join its own exchange on this side; AQE's skew
    // rule only matches SMJ whose children sit directly on shuffle
    // stages, exactly the shape the production layout produces
    inst.groupBy(col("ph"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3).select(col("ph"))
      .write.mode("overwrite").parquet(s"$skewDir/flagged.parquet")
    val flagged = spark.read.parquet(s"$skewDir/flagged.parquet")
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // enough map-side partitions that the hot phs sit ALONE in their
      // shuffle partitions (cold ones stay tiny): the skew is then
      // unambiguous — max >> median — like a real corpus at real
      // partition counts
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // coalescing OFF so tiny cold partitions don't merge INTO the hot
      // one before the skew reader splits it
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val joined = inst.join(flagged, Seq("ph"))
      // collect() executes THIS DataFrame's own QueryExecution, so the
      // adaptive plan below is the final (isFinalPlan=true) one —
      // count() would plan and execute a separate QueryExecution
      val n = joined.collect().length
      assert(n >= nHot, s"instance join lost rows: $n")
      // the split join may be a sort-merge or, after AQE's SMJ→SHJ
      // replan, a shuffled hash join: both carry the skew flag
      val finalPlan = PlanShape.of(joined)
      assert(finalPlan.all[ShuffledJoin].exists(_.isSkewJoin),
        s"AQE did not split the hot ph partition:\n${finalPlan.render}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Degenerate-embedding corpus: one identical vector carried by 60% of
    * the rows (a collapsed cluster — the all-same-page-embedding failure
    * mode), so one hyperplane signature owns 60% of the bucket mass. The
    * ANN signature joins (q99/q112 self-join; q34 broadcasts its probe
    * side instead) would pile that bucket onto one task under a plain
    * hash shuffle. */
  private lazy val hotSigDir: String = {
    val dir = Files.createTempDirectory("graft_hotsig").toString
    val rnd = new scala.util.Random(17)
    val hot = Seq.tabulate(64)(i => if (i % 2 == 0) 0.7f else -0.3f)
    val rows = (0 until 1200).map { i => (i.toLong, hot, i % 3) } ++
      (0 until 800).map { i => ((1200 + i).toLong,
        Seq.tabulate(64)(_ => rnd.nextFloat() * 2 - 1), i % 3) }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("AQE splits the hot signature bucket in the q99-shaped ANN self-join") {
    // the bounded-per-task-input proof for the signature equi-join family:
    // with a 60%-mass signature, the q99 self-join's hot shuffle partition
    // is split by AQE's skew reader (same knobs as the q152 instance-join
    // case — the MECHANISM is scale-free, only the byte thresholds move).
    // The within-bucket pair fan-out itself is the query's semantics
    // (neighbors share the bucket) and is digested by map-side-combinable
    // aggregation; what must never happen is one task owning the whole
    // bucket's shuffle input — that is what skew=true certifies.
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val df = SparkEntry.queries("q99_label_errors")(spark, hotSigDir)
      val out = df.collect() // executes THIS QueryExecution (count() forks)
      // every member of the collapsed cluster has 1199 cos=1.0 neighbors
      assert(out.length >= 1200, s"hot-cluster rows lost: ${out.length}")
      val finalPlan = PlanShape.of(df)
      assert(finalPlan.all[ShuffledJoin].exists(_.isSkewJoin),
        s"AQE did not split the hot signature partition:\n${finalPlan.render}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Salting spreads the 50%-mass key: per-task group size drops by the bucket factor") {
    val n = 200000
    val kv = spark.range(n.toLong)
      .select(when(col("id") % 2 === 0, lit("HOT")).otherwise(
        concat(lit("k"), (col("id") % 997).cast("string"))).as("k"),
        (col("id") % 101).cast("double").as("v"))
    val buckets = 32
    val salted = Salting.saltedAggregate(kv, Seq("k"),
      Map("v" -> "sum"), buckets).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("sum_v")).toMap
    val plain = kv.groupBy(col("k")).agg(sum(col("v")).as("s")).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Double]("s")).toMap
    assert(salted.keySet == plain.keySet)
    plain.foreach { case (k, v) =>
      assert(math.abs(salted(k) - v) < 1e-6, s"salted sum diverged for $k")
    }
    // the bounded-per-task property itself: the hot key's rows spread
    // over (nearly) all salt buckets, so the first-phase partial groups
    // are ~|hot|/buckets — no single task ever sees the full key mass
    val spread = kv.filter(col("k") === "HOT")
      .select(pmod(xxhash64(struct(col("k"), col("v"))), lit(buckets))
        .as("salt"))
      .select(countDistinct(col("salt")).as("d")).head().getAs[Long]("d")
    assert(spread >= buckets - 4,
      s"hot key spread over only $spread of $buckets salt buckets")
  }
}
