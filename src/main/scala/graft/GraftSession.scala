package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Scale notes (design target: 1000-executor cluster, ~100 TB):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
  *  - `nanosAsLong`: some fixture generations carry `events.ts` as parquet
  *    TIMESTAMP(NANOS), which vanilla Spark refuses to read; the flag reads
  *    the raw int64 and [[graft.sources.Tables.events]] schema-branches to
  *    derive micros (newer generations use TIMESTAMP(MICROS) directly).
  *  - shuffle partitions default to the local core count; on a real cluster
  *    AQE's coalescing makes the initial number mostly irrelevant.
  */
object GraftSession {
  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime SMJ→SHJ conversion (guide §3.1): when every build-side
      // partition of a sort-merge join measures under this at runtime,
      // AQE replans it as a shuffled hash join — same shuffle, no sorts.
      // Runtime-size-driven, so it is scale-adaptive by construction:
      // corpus-sized joins convert only where partitions actually fit
      // (the advisory partition size bounds them), and a 100 TB
      // partition that exceeds the bound keeps the spill-safe SMJ.
      // Spark's own tuning guidance is to set this to the advisory
      // partition size; parameterized for cluster operators. CONSTRAINT
      // (ADVICE r14): the value must be >= the session's
      // spark.sql.adaptive.advisoryPartitionSizeInBytes (64 MB default) —
      // AQE only converts when every build partition is under BOTH
      // bounds, so a threshold below the advisory size silently never
      // fires. Operators overriding SPARK_GRAFT_SHJ_THRESHOLD downward
      // should lower the advisory size with it.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // keep DECLARED constant window partition keys: the pack marks its
      // deliberately-bounded single-partition windows (<=256-row tables)
      // with partitionBy(lit(0)); default Spark folds that key away
      // (EliminateWindowPartitions), reducing them back to bare global
      // windows whose WindowExec warning is indistinguishable from a real
      // corpus-window bug. Excluding the rule keeps the idiom observable:
      // declared-bounded windows run warning-free, an UNdeclared global
      // window still warns. Execution is identical either way (one
      // partition); the rule only strips the annotation.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions")
      .config("spark.ui.enabled", "false")

  /** Local session for tests / bench. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      cores.toString
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerFunctions(s)
    s
  }

  /** Install [[graft.plans.GraftExtensions]]' functions and optimizer
    * rules on a session built without the
    * `spark.sql.extensions=graft.plans.GraftExtensions` entry point.
    * Idempotent. */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    graft.plans.GraftExtensions.functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    // extraOptimizations is the runtime hook for an existing session
    val missing = graft.plans.GraftExtensions.rules
      .filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
  }

  // prime once per session: SparkEntry wraps every query invocation in
  // prime(), so without the marker each TIMED bench/probe run would re-do
  // 9 function registrations + 3 optimizer-list scans + the conf sets.
  // Weak keys: a marker holds no frame that references its session, so
  // a stopped session must not be retained for the process lifetime.
  private val primed = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Make an externally-created session (e.g. the driver's) safe for graft
    * queries: the SEMANTIC confs from [[configure]] (all runtime-settable
    * dynamic SQLConfs — nanos decoding, UTC, int96 rebase, the window
    * annotation exclusion) + function registration. Keeping this list in
    * lockstep with configure's semantic set matters: a conf set only at
    * build time (round 10 missed int96RebaseModeInRead and the
    * EliminateWindowPartitions exclusion here) makes the same query pass
    * under Bench/Verify but fail on the driver's externally-built session.
    * Deliberately NOT touched: sizing/strategy confs — AQE flags (default
    * ON since Spark 3.2, and a caller who disabled them did so on purpose;
    * force-re-enabling here would flip a test's or operator's explicit
    * choice mid-session) and shuffle.partitions (a sizing choice for the
    * session owner; AQE coalescing makes the initial value soft). */
  def prime(spark: SparkSession): SparkSession = primed.synchronized {
    if (!primed.contains(spark)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      spark.conf.set("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // merge (not overwrite) the host session's own exclusions
      val ewp = "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"
      val cur = spark.conf.getOption("spark.sql.optimizer.excludedRules")
        .filter(_.nonEmpty)
      if (!cur.exists(_.split(",").contains(ewp)))
        spark.conf.set("spark.sql.optimizer.excludedRules",
          (cur.toSeq :+ ewp).mkString(","))
      registerFunctions(spark)
      // stats-driven planning is DEFAULT-ON once measured stats exist:
      // hydrate the persisted ANALYZE profile (graft_table_stats) and
      // let StatsBroadcastJoins act on it. The rule is conservative by
      // construction (hints only bare profiled scans, never overrides a
      // user hint, prices by measured rows × width) and stats are keyed
      // by qualified path, so a session reading un-profiled dirs is
      // unaffected. An explicit conf set by the session owner — either
      // way — always wins over this default.
      if (spark.conf.getOption(graft.plans.StatsStore.EnabledConf).isEmpty &&
          (try graft.plans.StatsStore.load(spark) > 0
           catch { case scala.util.control.NonFatal(_) => false }))
        spark.conf.set(graft.plans.StatsStore.EnabledConf, "true")
      primed.add(spark)
    }
    spark
  }
}
