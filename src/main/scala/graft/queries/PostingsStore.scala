package graft.queries

import java.security.MessageDigest
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.operators.Bucketing

/** On-disk home of the shared postings/signature family — the cluster
  * face of [[SharedFrames]]' in-session memoization.
  *
  * The warm-bench contract SURVEY §6 describes ("the postings table is
  * written once and joined by every dedup query") has two
  * implementations with identical plans downstream:
  *
  *  - '''memory''' (default): [[SharedFrames]] persists the postings
  *    Dataset in the session cache. Right when the postings fit in
  *    cluster memory and the session is long-lived — and what the
  *    bench pack times.
  *  - '''bucketed''': [[materialize]] pays the build + shuffle ONCE by
  *    writing each family through [[graft.operators.Bucketing]] as a
  *    `doc_id`-bucketed, in-bucket-sorted warehouse table; every
  *    consumer's `shPostings`/`cappedShPostings`/`sh8Postings` call
  *    then reads the table straight off disk with
  *    `HashPartitioning(doc_id, n)` already satisfied by the scan —
  *    per-doc signature/count aggregations and doc_id co-bucketed
  *    joins run with ZERO Exchange on the postings side (pinned by
  *    PlanAuditSpec). This is the 100 TB path: postings for a 100 TB
  *    corpus don't fit in memory, but a bucketed table scan is
  *    exchange-free no matter how large it grows, and the one-time
  *    write amortizes over every downstream consumer exactly like the
  *    in-memory persist does within a session.
  *
  * Mode is per-session via `spark.graft.postingsStore` = `memory` |
  * `bucketed`; consumers are completely unaware (the builders in
  * [[Dedup]]/[[Curation]] consult [[lookup]] first). Bucket count is
  * the session's default parallelism — at 100 TB pick thousands
  * (see [[graft.operators.Bucketing]]'s rules of engagement).
  */
object PostingsStore {

  val ModeConf = "spark.graft.postingsStore"

  /** The family keys with an on-disk representation. `sh`/`capped`/
    * `sh8` bucket by `doc_id` (per-doc groupings and doc_id joins);
    * `bands` — the stored LSH index — buckets by the FULL candidate
    * join key (band, bfp) (Spark's co-partition check requires the
    * bucketing to cover every join key), so the q30/q119 candidate
    * self-join runs with ZERO Exchange of the index; `para` — the
    * paragraph-instance table — buckets by the paragraph hash `ph`,
    * the key BOTH its consumers (q137 paragraph dedup, q152
    * boilerplate removal) aggregate and join on, so the
    * canonical-instance / document-frequency aggregations and the
    * instance joins read pre-partitioned data with ZERO Exchange on
    * this side. `pos8`/`pos8c` — q83's positional 8-gram span index
    * (raw and df-capped) — bucket by the shingle hash `h`: the capped
    * table's candidate self-join AND the raw table's df aggregation
    * both key on `h`, so span detection reads a pre-clustered index.
    * `df`/`srcsh` stay session-derived: narrow single-pass
    * derivatives with their own hot keys. */
  val Keys: Seq[String] = Seq("sh", "capped", "sh8", "bands", "para",
    "pos8", "pos8c")

  private def bucketKeysOf(key: String): Seq[String] =
    if (key == "bands") Seq("band", "bfp")
    else if (key == "para") Seq("ph")
    else if (key == "pos8" || key == "pos8c") Seq("h")
    else Seq("doc_id")

  def bucketedMode(spark: SparkSession): Boolean =
    spark.conf.getOption(ModeConf).contains("bucketed")

  /** Stable warehouse table name per (data dir, family key): the dir
    * fingerprint keeps sf0.001 and sf0.1 stores from colliding in one
    * warehouse. */
  def tableName(dir: String, key: String): String = {
    val fp = MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"graft_bkt_${key}_$fp"
  }

  /** The bucketed table for (dir, key), iff bucketed mode is on AND the
    * table exists — otherwise None and the caller falls back to the
    * [[SharedFrames]] memory path. */
  def lookup(spark: SparkSession, dir: String, key: String): Option[DataFrame] = {
    if (!bucketedMode(spark)) None
    else {
      val name = tableName(dir, key)
      if (spark.catalog.tableExists(name)) Some(spark.table(name)) else None
    }
  }

  /** Write the whole family for `dir` as bucketed tables and switch the
    * session to bucketed mode. Build order matters: `capped` is derived
    * FROM the just-written bucketed `sh` (its df-counts aggregation is
    * already exchange-free on the bucketed scan), so the raw
    * explode+md5 expansion runs exactly once per family. Existing
    * tables are dropped first and the session memo invalidated, so a
    * re-materialize never reads a table it is about to overwrite. */
  def materialize(spark: SparkSession, dir: String): Unit =
    materializeFrom(spark, dir, graft.sources.Tables.documents(spark, dir))

  /** [[materialize]] over an explicit document subset — the first step
    * of an INCREMENTAL build: index the corpus as of today, then
    * [[append]] each new arrival batch instead of re-exploding the
    * whole corpus. `docs` must be (a subset of) `dir`'s documents. */
  def materializeFrom(spark: SparkSession, dir: String,
      docs: DataFrame): Unit = buildOrDrop(spark, dir) {
    // bucketed mode must be ON during the build (rebuildCapped reads the
    // just-written sh through lookup); buildOrDrop guarantees a failure
    // anywhere below resets to the memory path instead of leaving the
    // session serving a partial store
    spark.conf.set(ModeConf, "bucketed")
    val buckets = spark.sparkContext.defaultParallelism
    // the 3-gram explode+md5 expansion is the dominant build cost —
    // persist it so the postings write AND the derived band table read
    // ONE materialization (the docstring's "expansion runs exactly once
    // per family", made literal)
    val sh3 = Dedup.shPostingsPlanFor(spark, docs).persist()
    try {
      Bucketing.writeBucketed(sh3, tableName(dir, "sh"), "doc_id", buckets)
      Bucketing.writeBucketedMulti(
        Dedup.bandsPlanOver(sh3), tableName(dir, "bands"),
        Seq("band", "bfp"), buckets)
    } finally { sh3.unpersist(blocking = false); () }
    Bucketing.writeBucketed(
      Curation.sh8PostingsPlanFor(spark, docs), tableName(dir, "sh8"),
      "doc_id", buckets)
    Bucketing.writeBucketed(
      Dedup.paraInstancesPlanFor(spark, docs), tableName(dir, "para"),
      "ph", buckets)
    Bucketing.writeBucketed(
      Dedup.pos8PostingsPlanFor(spark, docs), tableName(dir, "pos8"),
      "h", buckets)
    setNdocs(spark, dir, docs.count())
    rebuildCapped(spark, dir, buckets)
    rebuildPos8Capped(spark, dir, buckets)
  }

  /** All-or-nothing store builds: run `build` after dropping any existing
    * store; if ANY step throws, drop whatever partial state was written
    * and reset the session to the memory path before rethrowing. Without
    * this, a mid-build failure (disk full, task death) left the mode at
    * `bucketed` with a subset of the family's tables on disk — every
    * later consumer would silently serve results computed over a partial
    * (or subset-built) index. A failed [[append]] pays the same price:
    * appended `sh` rows without their `bands` twin would make the LSH
    * index disagree with the postings, so the store drops and the next
    * materialize rebuilds — correctness over convenience (a transactional
    * table format is the 100 TB answer; plain parquet tables get
    * atomic-or-absent). */
  private def buildOrDrop(spark: SparkSession, dir: String)(build: => Unit): Unit = {
    drop(spark, dir)
    try build catch { case NonFatal(e) =>
      try drop(spark, dir) catch { case NonFatal(_) => () }
      throw e
    }
  }

  /** Incremental maintenance: explode and APPEND only the new
    * documents' postings into the bucketed `sh`/`sh8` tables (Spark
    * appends bucketed files with a matching spec, so the table's
    * `HashPartitioning(doc_id, n)` contract — and every zero-Exchange
    * consumer — survives; buckets just gain a file per append, which
    * bucketed scans handle natively), then rebuild the df-capped table:
    * document frequencies are corpus-global, so an append can push a
    * shingle over the cap — the capped table is the COMPACTION unit of
    * this layout, O(postings) to rewrite, amortized over arbitrarily
    * many O(batch) appends (compare the SCD2 sink's base/delta split).
    *
    * Contract: `docs` carries doc_ids not yet indexed (same as any
    * append-only index); session memos over the family are invalidated
    * here so derived frames rebuild over the appended state. */
  def append(spark: SparkSession, dir: String, docs: DataFrame): Unit = {
    // precondition + metadata lookup live OUTSIDE the drop-on-failure
    // region: a caller invoking append without a materialized store (or
    // from a memory-mode session) must get the IllegalArgumentException
    // WITHOUT the catch-all destroying a perfectly healthy store — only
    // failures of the actual write steps below justify the drop
    require(bucketedMode(spark) &&
      Keys.forall(k => spark.catalog.tableExists(tableName(dir, k))),
      s"append requires a materialized bucketed store for $dir")
    val buckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        tableName(dir, "sh")))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(spark.sparkContext.defaultParallelism)
    appendChecked(spark, dir, docs, buckets)
  }

  private def appendChecked(spark: SparkSession, dir: String,
      docs: DataFrame, buckets: Int): Unit = try {
    def appendTo(plan: DataFrame, key: String): Unit = {
      val bk = bucketKeysOf(key)
      plan.repartition(buckets,
          bk.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("append").format("parquet")
        .bucketBy(buckets, bk.head, bk.tail: _*).sortBy(bk.head, bk.tail: _*)
        .saveAsTable(tableName(dir, key))
    }
    // same single-materialization discipline as materializeFrom: the
    // batch's 3-gram expansion feeds both the postings append and the
    // derived band append from one persisted frame
    val sh3 = Dedup.shPostingsPlanFor(spark, docs).persist()
    try {
      appendTo(sh3, "sh")
      appendTo(Dedup.bandsPlanOver(sh3), "bands")
    } finally { sh3.unpersist(blocking = false); () }
    appendTo(Curation.sh8PostingsPlanFor(spark, docs), "sh8")
    appendTo(Dedup.paraInstancesPlanFor(spark, docs), "para")
    appendTo(Dedup.pos8PostingsPlanFor(spark, docs), "pos8")
    setNdocs(spark, dir, ndocsOf(spark, dir) + docs.count())
    SharedFrames.invalidate(spark, dir)
    rebuildCapped(spark, dir, buckets)
    rebuildPos8Capped(spark, dir, buckets)
  } catch { case NonFatal(e) =>
    // a half-applied append (sh rows without their bands twin) is a
    // corrupt index — see buildOrDrop's contract: drop and rethrow
    try drop(spark, dir) catch { case NonFatal(_) => () }
    throw e
  }

  /** The INDEXED document count, carried as a table property on `sh`:
    * under incremental builds ([[materializeFrom]] over a subset +
    * [[append]]s) it can differ from `dir`'s on-disk corpus, and the
    * df-cap threshold must follow the index, not the directory — while
    * matching the oracle's `count(*) FROM documents` semantics exactly
    * (documents with no shingles still count) once the index covers the
    * full corpus. */
  private val NdocsProp = "graft.ndocs"

  private def setNdocs(spark: SparkSession, dir: String, n: Long): Unit = {
    spark.sql(s"ALTER TABLE ${tableName(dir, "sh")} " +
      s"SET TBLPROPERTIES ('$NdocsProp'='$n')")
    ()
  }

  private[queries] def ndocsOf(spark: SparkSession, dir: String): Long =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        tableName(dir, "sh")))
      .properties.get(NdocsProp).map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"bucketed store for $dir carries no $NdocsProp property"))

  /** Rewrite the df-capped table from the CURRENT bucketed `sh` state —
    * shared by full materialization and post-append compaction. The cap
    * threshold uses the INDEXED corpus size from the table property,
    * not `dir`'s document count — under a subset materialization those
    * differ and the directory count would under-cap hot shingles
    * (admitting up to full/indexed × the intended 1%-of-corpus rule,
    * re-opening the pair-explosion the cap bounds). */
  private def rebuildCapped(spark: SparkSession, dir: String,
      buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(dir, "capped")}")
    SharedFrames.invalidate(spark, dir)
    import org.apache.spark.sql.functions.{col, count, lit}
    // reads sh via lookup (bucketed) — the anti-join's broadcast side
    // (hot shingles over the df-counts) aggregates off the bucketed scan
    val sh = Dedup.shPostings(spark, dir)
    val dfCounts = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val nd = spark.range(1).select(lit(ndocsOf(spark, dir)).as("ndocs"))
    Bucketing.writeBucketed(
      sh.join(broadcast(Dedup.hotShinglesOver(dfCounts, nd)),
        Seq("h"), "left_anti"),
      tableName(dir, "capped"), "doc_id", buckets)
  }

  /** Rewrite the df-capped positional table from the CURRENT bucketed
    * `pos8` state — the positional analogue of [[rebuildCapped]] (q83's
    * cap is an absolute 32-distinct-docs rule, so no ndocs property is
    * involved). Like `capped`, this is the layout's compaction unit:
    * document frequencies are corpus-global, so every append rebuilds
    * it — O(postings), amortized over O(batch) appends. */
  private def rebuildPos8Capped(spark: SparkSession, dir: String,
      buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(dir, "pos8c")}")
    SharedFrames.invalidate(spark, dir)
    // reads pos8 via lookup (bucketed): the df aggregation groups on the
    // bucket key h, so the hot-set derivation is exchange-free
    val post = Dedup.pos8Postings(spark, dir)
    Bucketing.writeBucketed(
      post.join(broadcast(Dedup.hotPos8Over(post)), Seq("h"), "left_anti"),
      tableName(dir, "pos8c"), "h", buckets)
  }

  /** Drop the family's tables and any session memo built over them;
    * resets the mode to memory.
    *
    * Catalog `DROP TABLE` only covers tables THIS catalog knows about —
    * with the in-memory catalog that is only tables created in THIS
    * JVM. A previous JVM's managed-table directories survive under the
    * warehouse with no catalog entry, and `saveAsTable(overwrite)`
    * refuses to reuse an unmanaged location
    * (`LOCATION_ALREADY_EXISTS`), so a crashed or unclean run used to
    * permanently wedge every later [[materialize]] in that warehouse.
    * The fix: after the catalog drop, delete each table's default
    * managed LOCATION via Hadoop FS — the store owns the
    * `graft_bkt_*` namespace, so a directory there that the catalog
    * does not know is by definition a dead JVM's droppings. */
  def drop(spark: SparkSession, dir: String): Unit = {
    spark.conf.set(ModeConf, "memory")
    SharedFrames.invalidate(spark, dir)
    val hadoopConf = spark.sessionState.newHadoopConf()
    Keys.foreach { k =>
      val name = tableName(dir, k)
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(name)))
      val fs = loc.getFileSystem(hadoopConf)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
  }
}
