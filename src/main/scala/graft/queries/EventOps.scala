package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.AsOfJoin

/** Event-stream operator pack (the reference's message/metadata surface,
  * SURVEY §2.2 / §2.6, expressed as batch-checkable queries).
  */
object EventOps extends QueryPack {

  /** JSON metadata extraction (reference: `gen_dict_extract` /
    * `_extract_filenames` pulling keys out of message JSON,
    * dict_tools.py:65-77, launcher.py:303-328). */
  def q17EventJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n_events"),
           round(lit(1e-9) + sum(col("value")), 2).as("sum_value"))
      // k_mod is NULLABLE (props without a numeric $.k) — the one nullable
      // sort key in the pack. Spark defaults ASC to NULLS FIRST, DuckDB to
      // NULLS LAST; pin both explicitly so the NULL group lands in the
      // same row position in each engine
      .orderBy(col("k_mod").asc_nulls_last)

  val q17Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
      |  count(*) AS n_events,
      |  round(1e-9 + sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k_mod NULLS LAST""".stripMargin

  /** Tumbling-window aggregation by event time (hourly) — batch-equivalent
    * of the Structured Streaming windowed agg. */
  def q18HourlyVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(lit(1e-9) + sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  val q18Sql: String =
    """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
      |  event_type,
      |  count(*) AS n,
      |  round(1e-9 + sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  /** Sessionization: a new session starts after a >30 min silence per user.
    * lag + cumulative-sum windows; one shuffle on user_id. Gap arithmetic
    * on the raw int64 nanos for exactness in both engines. */
  def q19Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ns").isNull ||
             col("ts_ns") - col("prev_ns") > 1800L * 1000 * 1000 * 1000, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"),
           count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q19Sql: String =
    """SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_ns IS NULL
      |              OR epoch_ns(ts) - prev_ns > 1800000000000 THEN 1 ELSE 0 END AS new_session
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_ns
      |    FROM events))
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** As-of join: each purchase event picks up the user's most recent
    * signup at-or-before it (point-in-time join; see
    * [[graft.operators.AsOfJoin]] for the scale rationale). */
  def q20AsofSignup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ns"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_event_id"), col("user_id"), col("ts_ns"))
    AsOfJoin.backward(
      purchases, signups,
      key = "user_id", ts = "ts_ns",
      rightCols = Map("s_event_id" -> "signup_event_id"),
      rightTieBreak = "s_event_id")
      .select(col("event_id").as("purchase_event_id"),
              col("user_id"),
              col("signup_event_id").cast("long").as("signup_event_id"))
      .orderBy(col("purchase_event_id"))
  }

  // row_number with an EXPLICIT (ts DESC, event_id DESC) tie-break, not a
  // bare ASOF JOIN: the Spark side contracts ties on equal signup
  // timestamps to the largest event_id, while DuckDB's ASOF picks an
  // unspecified row among equal-ts matches — deterministic on fixtures
  // with no (user_id, ts) collisions, but latent flap on any regeneration
  // (q157/q159's oracles already use this shape; q20 was the outlier)
  val q20Sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
      |  FROM events WHERE event_type = 'purchase'),
      |s AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
      |  FROM events WHERE event_type = 'signup'),
      |m AS (
      |  SELECT p.event_id AS purchase_event_id, p.user_id,
      |    s.event_id AS signup_event_id,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY s.ts_ns DESC, s.event_id DESC) AS rk
      |  FROM p LEFT JOIN s
      |    ON p.user_id = s.user_id AND s.ts_ns <= p.ts_ns)
      |SELECT purchase_event_id, user_id, signup_event_id
      |FROM m WHERE rk = 1
      |ORDER BY purchase_event_id""".stripMargin

  /** Admission filter (reference: `check_metadata` with `start_time: -120`
    * — drop data older than 2 h relative to the newest message,
    * plugins/__init__.py:705-711). The max-ts scalar comes from a
    * broadcast single-row aggregate. */
  def q21AdmissionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val maxTs = ev.agg(max(col("ts_ns")).as("max_ns"))
    ev.crossJoin(broadcast(maxTs))
      .filter(col("ts_ns") >= col("max_ns") - lit(7200L * 1000 * 1000 * 1000))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_admitted"),
           round(lit(1e-9) + sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val q21Sql: String =
    """SELECT event_type, count(*) AS n_admitted,
      |  round(1e-9 + sum(value), 2) AS sum_value
      |FROM events
      |WHERE epoch_ns(ts) >= (SELECT max(epoch_ns(ts)) FROM events) - 7200000000000
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Metadata aliasing (reference: `metadata_alias`,
    * plugins/__init__.py:717-736): rewrite values through a small alias
    * map, pass unknown values through. Broadcast map-side join — the alias
    * table never shuffles the fact side. */
  def q22MetadataAlias(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val aliases = Seq(
      ("signup", "registration"),
      ("purchase", "sale"),
      ("error", "fault")).toDF("from_type", "to_type")
    Tables.events(spark, dir)
      .join(broadcast(aliases), col("event_type") === col("from_type"), "left")
      .withColumn("aliased_type", coalesce(col("to_type"), col("event_type")))
      .groupBy(col("aliased_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("aliased_type"))
  }

  val q22Sql: String =
    """SELECT coalesce(a.to_type, e.event_type) AS aliased_type, count(*) AS n
      |FROM events e
      |LEFT JOIN (VALUES ('signup', 'registration'), ('purchase', 'sale'),
      |                  ('error', 'fault')) AS a(from_type, to_type)
      |  ON e.event_type = a.from_type
      |GROUP BY 1
      |ORDER BY aliased_type""".stripMargin

  /** Funnel conversion: first signup → first subsequent purchase within
    * 24 h, per user, reduced to corpus-level conversion stats. Two narrow
    * aggregations + one key join — the canonical event-funnel shape. */
  def q47Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ns")).as("s_ns"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("ts_ns") >= col("s_ns"))
      .groupBy(col("user_id").as("p_user")).agg(min(col("ts_ns")).as("p_ns"))
    su.join(pu, col("user_id") === col("p_user"), "left")
      .agg(count(lit(1)).as("n_signup_users"),
        sum(when(col("p_ns").isNotNull, 1L).otherwise(0L)).as("n_purchasers"),
        sum(when(col("p_ns") - col("s_ns") <= 86400L * 1000 * 1000 * 1000, 1L)
          .otherwise(0L)).as("n_converted_24h"))
      .withColumn("conv_pct",
        round(lit(1e-9) + col("n_converted_24h").cast("double") /
          col("n_signup_users") * 100.0, 4))
  }

  val q47Sql: String =
    """WITH su AS (
      |  SELECT user_id, min(epoch_ns(ts)) AS s_ns
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (
      |  SELECT e.user_id AS p_user, min(epoch_ns(e.ts)) AS p_ns
      |  FROM events e JOIN su ON e.user_id = su.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= su.s_ns
      |  GROUP BY 1)
      |SELECT count(*) AS n_signup_users,
      |  sum(CASE WHEN p_ns IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_purchasers,
      |  sum(CASE WHEN p_ns - s_ns <= 86400000000000 THEN 1 ELSE 0 END)::BIGINT AS n_converted_24h,
      |  round(1e-9 + sum(CASE WHEN p_ns - s_ns <= 86400000000000 THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*) * 100.0, 4) AS conv_pct
      |FROM su LEFT JOIN pu ON user_id = p_user""".stripMargin

  /** Point-in-interval range join (see [[graft.operators.RangeJoin]]):
    * events against six 3-hour campaign windows anchored at the stream
    * start. Dimension-sized intervals → the broadcast path. */
  def q48IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mn = ev.agg(min(col("ts_ns")).as("m"))
    val sixH = 21600L * 1000 * 1000 * 1000
    val threeH = 10800L * 1000 * 1000 * 1000
    val windows = spark.range(6).toDF("k").crossJoin(broadcast(mn))
      .select(col("k"),
        (col("m") + col("k") * sixH).as("start_ns"),
        (col("m") + col("k") * sixH + threeH).as("end_ns"))
    graft.operators.RangeJoin
      .broadcastJoin(ev, "ts_ns", windows, "start_ns", "end_ns")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("k"))
  }

  val q48Sql: String =
    """WITH mn AS (SELECT min(epoch_ns(ts)) AS m FROM events),
      |w AS (
      |  SELECT k, m + k * 21600000000000 AS start_ns,
      |         m + k * 21600000000000 + 10800000000000 AS end_ns
      |  FROM range(0, 6) t(k), mn)
      |SELECT k, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM events JOIN w
      |  ON epoch_ns(ts) >= start_ns AND epoch_ns(ts) < end_ns
      |GROUP BY k
      |ORDER BY k""".stripMargin

  /** Changelog compaction (merge-on-read): the event stream is a keyed
    * changelog — every event upserts a user's (event_type, value) state
    * and an `error` event is a tombstone that deletes it. Compaction keeps
    * the latest writer per key (ns-timestamp order, event_id tie-break),
    * drops tombstoned keys, and reports the surviving state grouped by
    * final op. This is the snapshot-reconstruction pass every CDC/lakehouse
    * table runs over its delta log.
    *
    * Scale design: one hash shuffle on the key; the window is a linear
    * per-key scan (no self-join against "the latest" — the classic
    * quadratic mistake); tombstones are filtered AFTER the window so a
    * delete correctly shadows older upserts. */
  def q79ChangelogCompact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .groupBy(col("event_type").as("last_op"))
      .agg(count(lit(1)).as("n_users"),
        round(lit(1e-9) + sum(col("value")), 3).as("sum_value"),
        sum(col("user_id")).as("fp_users"))
      .orderBy(col("last_op"))
  }

  val q79Sql: String =
    """SELECT event_type AS last_op, count(*) AS n_users,
      |  round(1e-9 + sum(value), 3) AS sum_value,
      |  sum(user_id)::BIGINT AS fp_users
      |FROM (
      |  SELECT user_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 AND event_type <> 'error'
      |GROUP BY 1
      |ORDER BY last_op""".stripMargin

  /** SCD2 dimension build — turn the per-user event CHANGELOG into
    * type-2 slowly-changing-dimension rows: consecutive same-state
    * events (state = event_type) compress to one VERSION with
    * `[valid_from_ns, valid_to_ns)` validity, `valid_to_ns` = the next
    * version's start (−1 for the open current version). This is the
    * standard warehouse transform for point-in-time joins — [[q20]]'s
    * as-of join probes exactly the table this query builds; q79 keeps
    * only the LAST state, this keeps the full versioned history.
    *
    * Determinism: ordering is (ts_ns, event_id) — the repo's exact
    * integer-nanos event order; version numbers are running sums of
    * state-change markers, identical window arithmetic in both engines.
    *
    * Scale design: both windows partition by user_id — state bounded by
    * one user's events, never corpus-wide; the version compression is a
    * (user, ver)-grain agg with map-side partials. The output is the
    * dimension table itself (O(state changes), ≤ events). */
  def q154Scd2Intervals(spark: SparkSession, dir: String): DataFrame =
    scd2Dim(spark, dir).orderBy(col("user_id"), col("ver"))

  /** The SCD2 dimension WITHOUT q154's presentation sort — what q157's
    * probe consumes (the as-of union re-sorts per user anyway, so the
    * global range exchange would be pure waste in the middle of the
    * probe plan). */
  private def scd2Dim(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val versioned = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("ver", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = versioned
      .groupBy(col("user_id"), col("ver"), col("event_type").as("state"))
      .agg(min(col("ts_ns")).as("valid_from_ns"),
        count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("ver"))
    intervals
      .withColumn("valid_to_ns",
        coalesce(lead(col("valid_from_ns"), 1).over(wv), lit(-1L)))
      .withColumn("is_current", (col("valid_to_ns") === -1L).cast("int"))
      .select(col("user_id"), col("ver"), col("state"),
        col("valid_from_ns"), col("valid_to_ns"), col("n_events"),
        col("is_current"))
  }

  val q154Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type
      |  FROM events),
      |marked AS (
      |  SELECT user_id, ts_ns, event_type,
      |    CASE WHEN lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY ts_ns, event_id) IS NULL
      |      OR lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY ts_ns, event_id) <> event_type
      |      THEN 1 ELSE 0 END AS chg,
      |    event_id
      |  FROM e),
      |versioned AS (
      |  SELECT user_id, ts_ns, event_type,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
      |  FROM marked),
      |intervals AS (
      |  SELECT user_id, ver, event_type AS state,
      |    min(ts_ns) AS valid_from_ns, count(*) AS n_events
      |  FROM versioned GROUP BY 1, 2, 3)
      |SELECT user_id, ver::BIGINT AS ver, state, valid_from_ns,
      |  coalesce(lead(valid_from_ns) OVER
      |    (PARTITION BY user_id ORDER BY ver), -1) AS valid_to_ns,
      |  n_events,
      |  CASE WHEN coalesce(lead(valid_from_ns) OVER
      |    (PARTITION BY user_id ORDER BY ver), -1) = -1 THEN 1 ELSE 0 END
      |    AS is_current
      |FROM intervals
      |ORDER BY user_id, ver""".stripMargin

  /** Point-in-time (as-of) probe against the SCD2 dimension — the query
    * [[q154Scd2Intervals]]'s docstring promises: for every purchase
    * event, find the dimension version whose `[valid_from_ns,
    * valid_to_ns)` interval contains the purchase timestamp. This is the
    * warehouse "what was the customer's state when they bought" join,
    * the canonical consumer of a type-2 dimension.
    *
    * Implemented as [[operators.AsOfJoin.backward]] on the version START
    * timestamps rather than an interval-predicate join: the intervals
    * are contiguous and disjoint per user (each `valid_to_ns` IS the
    * next `valid_from_ns`), so "last version starting at-or-before the
    * probe" ≡ interval containment — one union + one per-user ordered
    * window instead of a range join that Catalyst would plan as
    * broadcast-nested-loop. Every probe lands in an interval because a
    * user's first version starts at their first event.
    *
    * EventOpsSpec pins the equivalence the docstring claims: this
    * probe's `state` matches an independent AsOfJoin over the RAW
    * changelog (last event at-or-before the probe) row for row.
    *
    * Scale design: the as-of shuffle partitions by user_id (window
    * state bounded per user), the dimension side is O(state changes) ≤
    * events, and no pair explosion exists anywhere — the 100 TB shape
    * for point-in-time feature joins. */
  def q157Scd2Probe(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Dim(spark, dir)
      .select(col("user_id"), col("ver"), col("state"),
        col("valid_from_ns"), col("valid_from_ns").as("ts_ns"))
    val probes = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("probe_event_id"), col("user_id"),
        col("ts_ns"))
    AsOfJoin.backward(
      probes, dim,
      key = "user_id", ts = "ts_ns",
      rightCols = Map("state" -> "state", "ver" -> "ver",
        "valid_from_ns" -> "state_since_ns"),
      rightTieBreak = "ver")
      .select(col("probe_event_id"),
        col("user_id"),
        col("ts_ns").as("probe_ts_ns"),
        col("ver").cast("long").as("ver"),
        col("state"),
        col("state_since_ns").cast("long").as("state_since_ns"))
      .orderBy(col("probe_event_id"))
  }

  val q157Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type
      |  FROM events),
      |marked AS (
      |  SELECT user_id, ts_ns, event_type,
      |    CASE WHEN lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY ts_ns, event_id) IS NULL
      |      OR lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY ts_ns, event_id) <> event_type
      |      THEN 1 ELSE 0 END AS chg,
      |    event_id
      |  FROM e),
      |versioned AS (
      |  SELECT user_id, ts_ns, event_type,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
      |  FROM marked),
      |dim AS (
      |  SELECT user_id, ver, event_type AS state,
      |    min(ts_ns) AS valid_from_ns,
      |    coalesce(lead(min(ts_ns)) OVER
      |      (PARTITION BY user_id ORDER BY ver), -1) AS valid_to_ns
      |  FROM versioned GROUP BY user_id, ver, event_type),
      |probes AS (
      |  SELECT event_id AS probe_event_id, user_id, ts_ns
      |  FROM e WHERE event_type = 'purchase')
      |SELECT p.probe_event_id, p.user_id, p.ts_ns AS probe_ts_ns,
      |  d.ver::BIGINT AS ver, d.state, d.valid_from_ns AS state_since_ns
      |FROM probes p JOIN dim d ON p.user_id = d.user_id
      |  AND d.valid_from_ns <= p.ts_ns
      |  AND (d.valid_to_ns = -1 OR p.ts_ns < d.valid_to_ns)
      |ORDER BY probe_event_id""".stripMargin

  /** Time-to-event label join — the supervised-label construction step of
    * a training-data pipeline: for every signup (the observation), find
    * the NEXT purchase of the same user at-or-after it (forward as-of
    * join, [[operators.AsOfJoin.forward]]) and emit the label the model
    * trains on: `converted` = purchase within the 7-day horizon,
    * `latency_ns` = time to that purchase (−1 when unconverted). The
    * mirror of q20's backward as-of: q20 asks "what signup preceded this
    * purchase", this asks "what purchase followed this signup".
    *
    * Determinism: among same-timestamp purchases the smallest event_id
    * wins (forward as-of contract), matching the oracle's
    * `row_number() OVER (ORDER BY pts, p_event_id)` cut; all outputs are
    * exact integers.
    *
    * Scale design: the forward as-of is the union + per-user descending
    * window — ONE shuffle on user_id, state bounded per user, no range
    * join. The oracle's range join is quadratic per user and exists only
    * for the sf0.01 cross-check. */
  def q159TimeToEvent(spark: SparkSession, dir: String): DataFrame = {
    val horizonNs = 604800000000000L // 7 days
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_event_id"), col("user_id"),
        col("ts_ns"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts_ns"), col("ts_ns").as("p_ts_ns"))
    val matched = AsOfJoin.forward(
      signups, purchases,
      key = "user_id", ts = "ts_ns",
      rightCols = Map("p_event_id" -> "purchase_event_id",
        "p_ts_ns" -> "purchase_ts_ns"),
      rightTieBreak = "p_event_id")
    val hit = col("purchase_ts_ns").isNotNull &&
      col("purchase_ts_ns") - col("ts_ns") <= horizonNs
    matched.select(
        col("signup_event_id"), col("user_id"),
        when(hit, 1).otherwise(0).cast("int").as("converted"),
        when(hit, col("purchase_ts_ns") - col("ts_ns"))
          .otherwise(lit(-1L)).cast("long").as("latency_ns"),
        when(hit, col("purchase_event_id"))
          .otherwise(lit(-1L)).cast("long").as("purchase_event_id"))
      .orderBy(col("signup_event_id"))
  }

  val q159Sql: String =
    """WITH s AS (
      |  SELECT event_id AS signup_event_id, user_id, epoch_ns(ts) AS ts_ns
      |  FROM events WHERE event_type = 'signup'),
      |p AS (
      |  SELECT event_id AS p_event_id, user_id, epoch_ns(ts) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT s.signup_event_id, p.p_event_id, p.pts, s.ts_ns,
      |    row_number() OVER (PARTITION BY s.signup_event_id
      |      ORDER BY p.pts, p.p_event_id) AS rk
      |  FROM s JOIN p ON s.user_id = p.user_id AND p.pts >= s.ts_ns),
      |best AS (SELECT * FROM m WHERE rk = 1)
      |SELECT s.signup_event_id, s.user_id,
      |  CASE WHEN b.pts IS NOT NULL AND b.pts - s.ts_ns <= 604800000000000
      |    THEN 1 ELSE 0 END AS converted,
      |  (CASE WHEN b.pts IS NOT NULL AND b.pts - s.ts_ns <= 604800000000000
      |    THEN b.pts - s.ts_ns ELSE -1 END)::BIGINT AS latency_ns,
      |  (CASE WHEN b.pts IS NOT NULL AND b.pts - s.ts_ns <= 604800000000000
      |    THEN b.p_event_id ELSE -1 END)::BIGINT AS purchase_event_id
      |FROM s LEFT JOIN best b ON s.signup_event_id = b.signup_event_id
      |ORDER BY s.signup_event_id""".stripMargin

  /** Time-grid gap-fill: regularize the per-user event stream onto a dense
    * hourly grid (72 hours from the corpus start) and forward-fill each
    * user's last observed value across silent hours — the resample+ffill
    * step that turns irregular telemetry into a training-ready time
    * series. Hours before a user's first observation stay null; `is_gap`
    * marks filled (vs observed) cells.
    *
    * Determinism: hour bucketing is integer division on the raw int64
    * nanos (never through a double — 1.7e18 ns exceeds a double's 53-bit
    * exact-integer range, so float bucketing could mis-bin boundary
    * events). Scale design: per-(user,hour) last-writer via one windowed
    * shuffle; the grid is a users × 72 explode (rows scale with keys, not
    * events); the forward fill is a linear per-user running window. */
  def q82GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("user_id") < 30)
      .withColumn("hour_id", expr("ts_ns div 3600000000000"))
    val h0 = ev.agg(min(col("hour_id")).as("h0"))
    val lastW = Window.partitionBy(col("user_id"), col("hour_id"))
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    val hourly = ev
      .withColumn("rn", row_number().over(lastW)).filter(col("rn") === 1)
      .select(col("user_id"), col("hour_id"), col("value").as("v_hour"))
    val grid = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(h0))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h0") + 71)).as("hour_id"))
    val fillW = Window.partitionBy(col("user_id")).orderBy(col("hour_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour_id"), "left")
      .withColumn("filled", last(col("v_hour"), ignoreNulls = true).over(fillW))
      .select(col("user_id"), col("hour_id"),
        round(lit(1e-9) + col("filled"), 3).as("value"),
        when(col("v_hour").isNull, 1).otherwise(0).as("is_gap"))
      .orderBy(col("user_id"), col("hour_id"))
  }

  val q82Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns,
      |    epoch_ns(ts) // 3600000000000 AS hour_id
      |  FROM events WHERE user_id < 30),
      |h0 AS (SELECT min(hour_id) AS h0 FROM ev),
      |hourly AS (
      |  SELECT user_id, hour_id, value AS v_hour FROM (
      |    SELECT user_id, hour_id, value,
      |      row_number() OVER (PARTITION BY user_id, hour_id
      |        ORDER BY ts_ns DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |grid AS (
      |  SELECT u.user_id, h0.h0 + g.i AS hour_id
      |  FROM (SELECT DISTINCT user_id FROM ev) u
      |  CROSS JOIN h0
      |  CROSS JOIN (SELECT unnest(range(0, 72)) AS i) g),
      |joined AS (
      |  SELECT g.user_id, g.hour_id, v_hour,
      |    last_value(v_hour IGNORE NULLS) OVER (PARTITION BY g.user_id
      |      ORDER BY g.hour_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |  FROM grid g LEFT JOIN hourly h
      |    ON g.user_id = h.user_id AND g.hour_id = h.hour_id)
      |SELECT user_id, hour_id, round(1e-9 + filled, 3) AS value,
      |  CASE WHEN v_hour IS NULL THEN 1 ELSE 0 END AS is_gap
      |FROM joined
      |ORDER BY user_id, hour_id""".stripMargin

  /** Rolling 7-day active users (DAU / WAU): sliding-window COUNT
    * DISTINCT, computed scalably via the explode-offset trick — each
    * (day, user) contributes itself to the 7 window-end days it falls in,
    * turning the sliding distinct into two plain hash aggregations. The
    * naive alternatives both die at scale: a range self-join re-scans
    * each day 7×AND builds pair rows; collect_set over a range window
    * materializes per-day user sets in one reducer. Here the explode
    * factor is the window length (bounded, 7) and every stage keeps
    * map-side partials. Only full windows are reported.
    *
    * Day bucketing is integer division on int64 nanos (same rationale as
    * q82 — 1.7e18 does not fit a double's exact-integer range). */
  def q85RollingActives(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("ts_ns div 86400000000000").as("day"), col("user_id"))
      .distinct()
    val bounds = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = daily
      .select(explode(sequence(col("day"), col("day") + 6)).as("wday"),
        col("user_id"))
      .groupBy(col("wday")).agg(countDistinct(col("user_id")).as("wau7"))
    dau.join(wau, col("day") === col("wday"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") >= col("mn") + 6 && col("day") <= col("mx"))
      .select(col("day"), col("dau"), col("wau7"),
        round(lit(1e-9) + col("dau").cast("double") / col("wau7"), 4)
          .as("dau_wau"))
      .orderBy(col("day"))
  }

  val q85Sql: String =
    """WITH daily AS (
      |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
      |  FROM events),
      |bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
      |dau AS (SELECT day, count(*) AS dau FROM daily GROUP BY 1),
      |wau AS (
      |  SELECT day + i AS wday, user_id
      |  FROM daily CROSS JOIN (SELECT unnest(range(0, 7)) AS i) g),
      |wau2 AS (SELECT wday, count(DISTINCT user_id) AS wau7 FROM wau GROUP BY 1)
      |SELECT day, dau, wau7, round(1e-9 + dau::DOUBLE / wau7, 4) AS dau_wau
      |FROM dau JOIN wau2 ON day = wday CROSS JOIN bounds
      |WHERE day >= mn + 6 AND day <= mx
      |ORDER BY day""".stripMargin

  /** Cohort retention matrix: users bucketed by first-active week, then
    * per (cohort, week-offset) distinct-active counts and the retention
    * rate vs the cohort's size. Weeks are integer seven-day buckets on
    * the int64 nano epoch-day (same rationale as q82/q85 — no calendar
    * semantics to diverge between engines).
    *
    * Scale design: the whole query is three hash aggregations on
    * (user, week) → (user) → (cohort, offset); the per-user cohort rides
    * along as a min() carried through the second aggregation, so there is
    * no self-join of the activity table against the cohort table — at
    * 100 TB the events scan aggregates map-side to one row per active
    * (user, week) and everything after is distinct-user-sized. The
    * cohort-size lookup joins the offset-0 row back — a result-sized
    * broadcast, not an events-sized one. */
  def q90RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.events(spark, dir)
      .select(col("user_id"), expr("(ts_ns div 86400000000000) div 7").as("wk"))
      .distinct()
    val cohort = weekly.groupBy(col("user_id")).agg(min(col("wk")).as("c0"))
    val cell = weekly.join(cohort, Seq("user_id"))
      .groupBy(col("c0").as("cohort_week"), (col("wk") - col("c0")).as("offset_wk"))
      .agg(count(lit(1)).as("n_users"))
      // result-sized (cohorts × offsets); without it the offset-0 size
      // lookup recomputes the whole weekly→cohort→cell subtree (the
      // pushed-down `offset = 0` predicate changes the plan enough that
      // exchange reuse can't latch on)
      .persist()
    val size = cell.filter(col("offset_wk") === 0)
      .select(col("cohort_week").as("sz_wk"), col("n_users").as("cohort_size"))
    cell.join(broadcast(size), col("cohort_week") === col("sz_wk"))
      .select(col("cohort_week"), col("offset_wk"), col("n_users"),
        round(lit(1e-9) + col("n_users").cast("double") / col("cohort_size"), 5)
          .as("retention"))
      .orderBy(col("cohort_week"), col("offset_wk"))
  }

  val q90Sql: String =
    """WITH weekly AS (
      |  SELECT DISTINCT user_id, (epoch_ns(ts) // 86400000000000) // 7 AS wk
      |  FROM events),
      |cohort AS (SELECT user_id, min(wk) AS c0 FROM weekly GROUP BY 1),
      |cell AS (
      |  SELECT c0 AS cohort_week, wk - c0 AS offset_wk, count(*) AS n_users
      |  FROM weekly JOIN cohort USING (user_id)
      |  GROUP BY 1, 2),
      |sz AS (SELECT cohort_week AS sz_wk, n_users AS cohort_size
      |       FROM cell WHERE offset_wk = 0)
      |SELECT cohort_week, offset_wk, n_users,
      |  round(1e-9 + n_users::DOUBLE / cohort_size, 5) AS retention
      |FROM cell JOIN sz ON cohort_week = sz_wk
      |ORDER BY cohort_week, offset_wk""".stripMargin

  /** Per-user daily-volume anomaly days: a user's day is an outlier when
    * its event count exceeds the user's own mean by 2 sample standard
    * deviations (computed over the user's active days; users with fewer
    * than 5 active days or zero variance are skipped). The classic
    * z-score burst detector over grouped time series.
    *
    * Scale design: daily counts are one map-side-combined aggregation of
    * the events scan, and the per-user moments ride as unbounded window
    * aggregates over the (user, day) table — no moments join, no second
    * scan of the counts. Two exchanges total, both carrying the already-
    * aggregated user-day rows, never raw events. */
  def q91OutlierDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
    daily
      // one projection → one Window node (a withColumn chain splits the
      // same-spec aggregates across two Window operators)
      .select(col("user_id"), col("day"), col("cnt"),
        avg(col("cnt")).over(w).as("mu"),
        stddev_samp(col("cnt")).over(w).as("sd"),
        count(lit(1)).over(w).as("n_days"))
      .filter(col("n_days") >= 5 && col("sd") > 0 &&
        col("cnt") > col("mu") + lit(2.0) * col("sd"))
      .select(col("user_id"), col("day"), col("cnt"),
        round(lit(1e-9) + (col("cnt") - col("mu")) / col("sd"), 4).as("z"))
      .orderBy(col("user_id"), col("day"))
  }

  val q91Sql: String =
    """WITH daily AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT user_id AS s_user, avg(cnt) AS mu, stddev_samp(cnt) AS sd,
      |    count(*) AS n_days
      |  FROM daily GROUP BY 1
      |  HAVING count(*) >= 5 AND stddev_samp(cnt) > 0)
      |SELECT user_id, day, cnt, round(1e-9 + (cnt - mu) / sd, 4) AS z
      |FROM daily JOIN stats ON user_id = s_user
      |WHERE cnt > mu + 2.0 * sd
      |ORDER BY user_id, day""".stripMargin

  /** Key-skew profiler — the audit a pipeline runs on a join/agg key
    * BEFORE choosing a partitioning strategy (plain hash vs salted vs
    * AQE skew-split, see [[graft.operators.Salting]]). Per event_type it
    * reports the per-user-key row distribution: key count, total rows,
    * max/mean per-key rows, the skew factor (max ÷ mean — the straggler
    * multiplier a plain hash shuffle would suffer), the share of the
    * single hottest key, and how many keys exceed 2× the mean (the
    * "needs salting/AQE-split" set). The suggested salt fan-out is the
    * skew factor rounded up — enough splits to level the hottest key.
    *
    * Scale design: two hash aggregations — events → (type, key) counts
    * (map-side combined), then (type, key) → per-type moments; nothing
    * after the first agg is events-sized. Hot-key detection compares
    * c·n_keys > 2·n_rows in integers, so both engines decide ties
    * identically (no division in the predicate). */
  def q103KeySkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .persist() // keys-sized; feeds the totals agg AND the hot-key pass
    val totals = perKey.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_rows"))
    perKey.join(broadcast(totals), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n_keys")).as("n_keys"),
        max(col("n_rows")).as("n_rows"),
        max(col("max_rows")).as("max_rows"),
        sum(when(col("c") * col("n_keys") > col("n_rows") * 2, 1L)
          .otherwise(0L)).as("n_hot"))
      .select(col("event_type"), col("n_keys"), col("n_rows"),
        col("max_rows"), col("n_hot"),
        round(lit(1e-9) + col("n_rows").cast("double") / col("n_keys"), 5)
          .as("mean_rows"),
        round(lit(1e-9) +
          col("max_rows").cast("double") * col("n_keys") / col("n_rows"), 5)
          .as("skew"),
        round(lit(1e-9) + col("max_rows").cast("double") / col("n_rows"), 5)
          .as("top_share"),
        expr("(max_rows * n_keys + n_rows - 1) div n_rows").as("salt_n"))
      .orderBy(col("event_type"))
  }

  val q103Sql: String =
    """WITH perkey AS (
      |  SELECT event_type, user_id, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |totals AS (
      |  SELECT event_type, count(*) AS n_keys,
      |    CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_rows
      |  FROM perkey GROUP BY 1)
      |SELECT p.event_type, max(n_keys) AS n_keys, max(n_rows) AS n_rows,
      |  max(max_rows) AS max_rows,
      |  CAST(sum(CASE WHEN c * n_keys > n_rows * 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hot,
      |  round(1e-9 + CAST(max(n_rows) AS DOUBLE) / max(n_keys), 5) AS mean_rows,
      |  round(1e-9 + CAST(max(max_rows) AS DOUBLE) * max(n_keys) / max(n_rows), 5)
      |    AS skew,
      |  round(1e-9 + CAST(max(max_rows) AS DOUBLE) / max(n_rows), 5) AS top_share,
      |  (max(max_rows) * max(n_keys) + max(n_rows) - 1) // max(n_rows) AS salt_n
      |FROM perkey p JOIN totals t ON p.event_type = t.event_type
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q17_event_json", q17EventJson, q17Sql),
    Query("q18_hourly_volume", q18HourlyVolume, q18Sql),
    Query("q19_sessionize", q19Sessionize, q19Sql),
    Query("q20_asof_signup", q20AsofSignup, q20Sql),
    Query("q21_admission_window", q21AdmissionWindow, q21Sql),
    Query("q22_metadata_alias", q22MetadataAlias, q22Sql),
    Query("q47_funnel", q47Funnel, q47Sql),
    Query("q48_interval_join", q48IntervalJoin, q48Sql),
    Query("q79_changelog_compact", q79ChangelogCompact, q79Sql),
    Query("q154_scd2_intervals", q154Scd2Intervals, q154Sql),
    Query("q157_scd2_probe", q157Scd2Probe, q157Sql),
    Query("q159_time_to_event", q159TimeToEvent, q159Sql),
    Query("q82_gap_fill", q82GapFill, q82Sql),
    Query("q85_rolling_actives", q85RollingActives, q85Sql),
    Query("q90_retention_cohorts", q90RetentionCohorts, q90Sql),
    Query("q91_outlier_days", q91OutlierDays, q91Sql),
    Query("q103_key_skew", q103KeySkewProfile, q103Sql)
  )
}
