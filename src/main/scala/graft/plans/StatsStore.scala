package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ANALYZE surface q160 demonstrates, persisted and FED BACK into
  * planning — measured statistics instead of static thresholds.
  *
  * q160's one-pass column-stats aggregation (rowcount, null count, NDV,
  * extrema) is the right scan shape, but collected numbers that go
  * nowhere optimize nothing. This store closes the loop:
  *
  *  1. [[analyze]] runs the one-pass profile per table — rowcount,
  *     per-column approx NDV (the q78 HLL path: mergeable, one scan)
  *     and measured average byte widths — and persists the result as a
  *     tiny warehouse table (`graft_table_stats`), the plain-parquet
  *     stand-in for a transactional catalog's stats section.
  *  2. [[StatsBroadcastJoins]] (an `injectOptimizerRule` citizen)
  *     consults the loaded stats at plan time and hints BROADCAST onto
  *     any join side whose MEASURED bytes (rows × measured row width)
  *     fit the broadcast budget — replacing the static
  *     `autoBroadcastJoinThreshold` file-size heuristic, which at
  *     100 TB routinely lies in both directions (compressed parquet
  *     under-reports in-memory size ~2–5×; a selective filter over a
  *     huge file over-reports it unboundedly).
  *
  * Scale design: stats rows are O(tables × columns) — control-plane
  * sized, loaded once per JVM into [[statsByPath]] and consulted as a
  * map lookup inside the rule (zero I/O at plan time). The analyze
  * scan itself is one pass per table with mergeable partial aggregates,
  * exactly q160's plan shape.
  */
object StatsStore {

  /** Set "true" to let [[StatsBroadcastJoins]] act. Default-ON whenever a
    * FRESH persisted profile hydrates (GraftSession.prime flips it after
    * [[load]] returns > 0), where fresh means the profiled source files
    * still match the size+mtime fingerprint recorded at ANALYZE time —
    * stale stats can broadcast a table that has since grown (priced from
    * old rows × width → executor OOM), so [[load]] silently skips any
    * entry whose source changed instead of hydrating it. An explicit
    * conf set by the session owner — either way — always wins. */
  val EnabledConf = "spark.graft.statsBroadcast"

  /** Broadcast budget in MEASURED bytes (default 10 MiB, matching the
    * spirit of `autoBroadcastJoinThreshold` — but compared against
    * rows × measured width, not file size). */
  val ThresholdConf = "spark.graft.statsBroadcastThreshold"

  val TableName = "graft_table_stats"

  /** The ten fixture tables every ANALYZE entry point profiles. ONE
    * definition shared by Bench.analyzeOnce and QTime: the isolated-
    * measurement modes exist to reproduce the bench children's
    * stats-hydrated planning, and a drifted copy of this list would make
    * them silently plan against a different profile — the exact mismatch
    * SPARK_GRAFT_ANALYZE=1 exists to prevent (ADVICE r14). */
  val ProfiledTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

  /** Per-relation stats, keyed by the qualified root path of the scan —
    * the join key between a `LogicalRelation` in a plan and its
    * measured profile. */
  case class TableStats(table: String, nRows: Long, rowBytes: Double,
      ndv: Map[String, Long], srcLen: Long = -1L, srcMtime: Long = -1L) {
    def estBytes: Long = math.ceil(nRows * rowBytes).toLong
  }

  /** JVM-wide loaded stats (plan-time lookups must be pure map reads). */
  private[plans] val statsByPath = TrieMap.empty[String, TableStats]

  private val statsSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("table", StringType),
    StructField("n_rows", LongType),
    StructField("row_bytes", DoubleType),
    StructField("ndv", MapType(StringType, LongType)),
    // source fingerprint at ANALYZE time (total leaf-file bytes + max
    // mtime): load() refuses to hydrate an entry whose source no longer
    // matches. Old profiles without the columns read as null → 0 → never
    // match a real fingerprint → auto-invalidated, by design.
    StructField("src_len", LongType),
    StructField("src_mtime", LongType)))

  /** Measured average byte width of one column: variable-width types are
    * measured (strings/binary by octet length, arrays by element count ×
    * element width, anything else via its JSON rendering), fixed-width
    * types priced at their storage size plus field overhead. */
  private[graft] def widthExpr(f: StructField): org.apache.spark.sql.Column = f.dataType match {
    case StringType => coalesce(avg(octet_length(col(f.name))), lit(0.0))
    case BinaryType => coalesce(avg(octet_length(col(f.name))), lit(0.0))
    case ArrayType(et, _) =>
      coalesce(avg(size(col(f.name))), lit(0.0)) * lit(et.defaultSize.toDouble)
    case _: MapType | _: StructType =>
      coalesce(avg(octet_length(to_json(col(f.name)))), lit(0.0))
    case dt => lit(dt.defaultSize.toDouble)
  }

  private def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Source fingerprint of a profiled root (file or directory): total
    * leaf-file bytes + newest leaf mtime. One FS listing per table —
    * control-plane cost at [[analyze]]/[[load]] time only, never at plan
    * time (a real deployment reads this from the catalog's snapshot id). */
  private def sourceFp(spark: SparkSession, path: Path): (Long, Long) = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var len = 0L
    var mtime = 0L
    while (it.hasNext) {
      val s = it.next()
      len += s.getLen
      mtime = math.max(mtime, s.getModificationTime)
    }
    (len, mtime)
  }

  /** One-pass profile of `dir/<table>.parquet` for each named table;
    * merges the rows into the persisted stats table and the in-JVM map.
    * Returns the freshly analyzed rows as a DataFrame (q160-style
    * reporting surface). Per-table failures (a missing/unreadable
    * fixture) are logged and SKIPPED — the tables that did profile still
    * persist, instead of one bad table aborting the whole pass and
    * silently leaving stats-driven planning off. */
  def analyze(spark: SparkSession, dir: String,
      tables: Seq[String]): DataFrame = {
    val fresh = tables.flatMap { t =>
      try Some(analyzeOne(spark, dir, t))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[stats] analyze skipped table '$t': ${e.getMessage}")
        None
      }
    }.toMap
    fresh.foreach { case (p, s) => statsByPath.put(p, s) }
    persist(spark, fresh)
    toDf(spark, fresh)
  }

  private def analyzeOne(spark: SparkSession, dir: String,
      t: String): (String, TableStats) = {
      val path = qualified(spark, s"$dir/$t.parquet")
      val df = spark.read.parquet(path)
      val fields = df.schema.fields.toSeq
      // Spark rejects hashing MapType columns (legacy.allowHashOnMapType
      // is off by default), so approx_count_distinct over a map column
      // throws at analysis — skip the NDV aggregate for maps (their width
      // is still measured via to_json) and record a -1 sentinel NDV
      def ndvMeasurable(f: StructField): Boolean = f.dataType match {
        case _: MapType => false
        case _ => true
      }
      val aggs =
        count(lit(1)).as("n_rows") +:
        fields.flatMap(f =>
          (if (ndvMeasurable(f))
             Seq(approx_count_distinct(col(f.name)).as(s"__ndv_${f.name}"))
           else Seq.empty) :+
          widthExpr(f).as(s"__w_${f.name}"))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val nRows = r.getAs[Long]("n_rows")
      val ndv = fields.map(f => f.name ->
        (if (ndvMeasurable(f)) r.getAs[Long](s"__ndv_${f.name}") else -1L)).toMap
      // measured payload width + per-field object overhead (Tungsten rows
      // carry an 8-byte slot per field) — the broadcast build side is
      // an in-memory hashed relation, so in-memory width is what matters
      val rowBytes = fields.map(f =>
        r.getAs[Number](s"__w_${f.name}").doubleValue).sum + 8.0 * fields.size
      // fingerprint AFTER the scan: if a concurrent writer replaced the
      // files mid-profile, the recorded fp reflects the newer files and
      // the next load() invalidates the (mixed) profile instead of
      // trusting it
      val (srcLen, srcMtime) = sourceFp(spark, new Path(path))
      path -> TableStats(t, nRows, rowBytes, ndv, srcLen, srcMtime)
  }

  /** Where the profile lives on disk: a plain parquet directory under
    * the session's warehouse dir — DELIBERATELY path-addressed, not a
    * catalog table, because the default in-memory catalog forgets
    * `saveAsTable` entries at JVM exit, and the whole point of the
    * persisted profile is that a FRESH JVM (each Bench chunk child, the
    * driver's Verify run) hydrates plan-time stats without re-scanning
    * anything. A real deployment swaps this for the transactional
    * catalog's stats section. */
  private def storePath(spark: SparkSession): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), TableName)

  private def storeExists(spark: SparkSession): Boolean = {
    val p = storePath(spark)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def rowToStats(r: Row): TableStats = TableStats(
    r.getAs[String]("table"), r.getAs[Long]("n_rows"),
    r.getAs[Double]("row_bytes"), r.getAs[Map[String, Long]]("ndv"),
    // profiles persisted before the fingerprint columns read as null →
    // 0L via getAs[Long]; 0 never matches a real fingerprint, so legacy
    // rows are automatically treated as stale below
    r.getAs[Long]("src_len"), r.getAs[Long]("src_mtime"))

  /** Hydrate [[statsByPath]] from the persisted stats table (a fresh
    * JVM's path to plan-time stats without re-scanning anything), but
    * only entries whose SOURCE still matches the size+mtime fingerprint
    * recorded at ANALYZE time — data regenerated at the same path would
    * otherwise be priced from the old rows × width (a since-grown table
    * broadcast into an executor OOM).
    *
    * INCREMENTAL refresh (round 14): a stale entry no longer just drops
    * its table to no-stats planning for the whole session — it
    * RE-PROFILES in place, one bounded [[analyzeOne]] pass per CHANGED
    * table (the unchanged tables hydrate from disk untouched), and the
    * refreshed rows persist back so the next JVM loads them for free. A
    * source that vanished entirely still skips (logged) — there is
    * nothing left to profile. Returns the number of usable loaded rows
    * (hydrated fresh + re-profiled — the count GraftSession.prime gates
    * the default-on flip with). */
  def load(spark: SparkSession): Int =
    if (!storeExists(spark)) 0
    else {
      val rows = spark.read.schema(statsSchema)
        .parquet(storePath(spark).toString).collect()
      val (fresh, stale) = rows.partition { r =>
        val s = rowToStats(r)
        try sourceFp(spark, new Path(r.getAs[String]("path"))) ==
          ((s.srcLen, s.srcMtime))
        catch { case scala.util.control.NonFatal(_) => false }
      }
      // a stale row whose SOURCE no longer exists is dead, not stale:
      // prune it from the persisted store instead of re-attempting a
      // doomed analyzeOne in every future JVM forever
      val (gone, changed) = stale.partition { r =>
        val p = new Path(r.getAs[String]("path"))
        try !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        catch { case scala.util.control.NonFatal(_) => false }
      }
      gone.foreach(r => System.err.println(
        s"[stats] source vanished, profile pruned: ${r.getAs[String]("table")} " +
          s"(${r.getAs[String]("path")})"))
      val refreshed: Map[String, TableStats] = changed.flatMap { r =>
        val path = r.getAs[String]("path")
        val t = r.getAs[String]("table")
        System.err.println(s"[stats] stale profile: re-analyzing '$t' ($path)")
        try Some(analyzeOne(spark, new Path(path).getParent.toString, t))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[stats] re-analyze of '$t' skipped: ${e.getMessage}")
          None
        }
      }.toMap
      if (refreshed.nonEmpty || gone.nonEmpty)
        persist(spark, refreshed,
          prune = gone.map(_.getAs[String]("path")).toSet)
      fresh.foreach(r => statsByPath.put(r.getAs[String]("path"), rowToStats(r)))
      refreshed.foreach { case (p, s) => statsByPath.put(p, s) }
      fresh.length + refreshed.size
    }

  def statsFor(spark: SparkSession, dir: String,
      table: String): Option[TableStats] =
    statsByPath.get(qualified(spark, s"$dir/$table.parquet"))

  /** Drop only the in-JVM map (tests: prove [[load]] rehydrates). */
  private[graft] def statsByPathClearForTest(): Unit = statsByPath.clear()

  /** Loaded stats by qualified scan path — the exact lookup the rule
    * performs (plan-audit tests attribute broadcast sides with it). */
  def statsForPath(path: String): Option[TableStats] = statsByPath.get(path)

  /** Forget everything — persisted table, loaded map. */
  def clear(spark: SparkSession): Unit = {
    statsByPath.clear()
    val p = storePath(spark)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  private def toDf(spark: SparkSession,
      m: Map[String, TableStats]): DataFrame = {
    val rows = m.toSeq.sortBy(_._1).map { case (p, s) =>
      Row(p, s.table, s.nRows, s.rowBytes, s.ndv, s.srcLen, s.srcMtime)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), statsSchema)
  }

  /** Merge-write: keep rows for paths not re-analyzed (tiny table —
    * collected through the driver by construction, the existing rows
    * eagerly collected BEFORE the overwrite touches the directory);
    * `prune` drops rows whose source vanished. */
  private def persist(spark: SparkSession,
      fresh: Map[String, TableStats],
      prune: Set[String] = Set.empty): Unit = {
    val existing: Map[String, TableStats] =
      if (!storeExists(spark)) Map.empty
      else spark.read.schema(statsSchema)
        .parquet(storePath(spark).toString).collect().map { r =>
          r.getAs[String]("path") -> rowToStats(r)
        }.toMap
    toDf(spark, (existing -- prune) ++ fresh)
      .write.mode("overwrite").parquet(storePath(spark).toString)
  }
}
