package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational operator pack over the TPC-H-ish fixture tables.
  *
  * Every query is deterministic (explicit ORDER BY + tie-breaks, doubles
  * rounded after aggregation) and has a DuckDB oracle with identical column
  * names. Plans are designed for scale: selective filters sit directly on
  * the scans (parquet pushdown), small dimensions are broadcast explicitly,
  * large joins shuffle on their natural keys, and aggregates are plain
  * hash-aggregates with map-side partials.
  */
object Relational extends QueryPack {

  /** TPC-H Q1-shaped pricing summary (reference: the `aggregate`/compute
    * stage of the chain, SURVEY §2.4). Single scan, map-side partial agg. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(lit(1e-9) + sum(col("l_quantity")), 2).as("sum_qty"),
        round(lit(1e-9) + sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(lit(1e-9) + sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(lit(1e-9) + sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(lit(1e-9) + avg(col("l_quantity")), 4).as("avg_qty"),
        round(lit(1e-9) + avg(col("l_extendedprice")), 4).as("avg_price"),
        round(lit(1e-9) + avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(1e-9 + sum(l_quantity), 2) AS sum_qty,
      |  round(1e-9 + sum(l_extendedprice), 2) AS sum_base_price,
      |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(1e-9 + sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(1e-9 + avg(l_quantity), 4) AS avg_qty,
      |  round(1e-9 + avg(l_extendedprice), 4) AS avg_price,
      |  round(1e-9 + avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6-shaped selective scan: filters push to parquet (shown as
    * PushedFilters in the formatted plan); no shuffle beyond the final
    * single-row agg. */
  def q02SelectiveRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(lit(1e-9) + sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_rows"))

  val q02Sql: String =
    """SELECT round(1e-9 + sum(l_extendedprice * l_discount), 2) AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Broadcast join: `customer` is the small dimension; at 100 TB the fact
    * side streams while the dim ships to every executor — no shuffle. */
  def q03SegmentRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(lit(1e-9) + sum(col("o_totalprice")), 2).as("segment_revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  val q03Sql: String =
    """SELECT c_mktsegment,
      |  round(1e-9 + sum(o_totalprice), 2) AS segment_revenue,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Shuffle join on the two big tables — the key (orderkey) co-partitions
    * both sides; AQE handles skew at scale. */
  def q04OrderStatusVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(round(lit(1e-9) + sum(col("l_quantity")), 2).as("sum_qty"),
           round(lit(1e-9) + sum(col("l_extendedprice")), 2).as("sum_price"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderstatus"))

  val q04Sql: String =
    """SELECT o_orderstatus,
      |  round(1e-9 + sum(l_quantity), 2) AS sum_qty,
      |  round(1e-9 + sum(l_extendedprice), 2) AS sum_price,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** TPC-H Q5-shaped 6-way join. Dimension chain (region→nation→supplier)
    * broadcasts; customer⋈orders⋈lineitem shuffles on their keys.
    *
    * r15: joins now START from lineitem so the fact table is always the
    * STREAMING side. The previous customer⋈orders-first order left
    * lineitem as the only bare scan at its join — the accumulated join's
    * cardinality estimate is huge, so the planner's sole broadcastable
    * side was lineitem itself, and the executed plan BUILT A HASH
    * RELATION OVER THE ENTIRE FACT TABLE (600k rows at sf0.1; at 100 TB
    * an instant OOM the moment the pruned scan estimate slips under the
    * threshold). Fact-first, every subsequent side is a bare dimension
    * scan the size rules price correctly: orders/customer broadcast
    * while they fit (stats-driven, scale-adaptive) and degrade to
    * shuffle joins when they do not — lineitem itself never becomes the
    * build side. Inner-join reorder only; same rows, same aggregates. */
  def q05RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(spark, dir))
    val nation = broadcast(Tables.nation(spark, dir))
    val supplier = broadcast(Tables.supplier(spark, dir))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
                      col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(lit(1e-9) + sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q05Sql: String =
    """SELECT r_name, n_name,
      |  round(1e-9 + sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_lines
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Top-k by value with deterministic tie-break — a TakeOrderedAndProject
    * physical plan: per-partition top-k then a single driver merge, no
    * global sort. */
  def q06TopOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), round(lit(1e-9) + col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val q06Sql: String =
    """SELECT o_orderkey, round(1e-9 + o_totalprice, 2) AS o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Window rank: per-customer top-3 orders. One shuffle on the partition
    * key; rank predicate applied before any downstream join would run. */
  /** Top-3 orders per customer via the bounded [[graft.operators.TopK]]
    * aggregation (ordering (price desc, orderkey asc) — TopK's own
    * convention): map-side partials cut each partition to ≤3 rows per
    * customer BEFORE the exchange, where the window-rank form it
    * replaced shuffled and sorted the entire orders table to rank all of
    * it and keep 3. The oracle keeps the row_number form — identical
    * rows, ranks, and values. */
  def q07TopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(graft.operators.TopK.topk(3)(col("o_totalprice"), col("o_orderkey"))
        .as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("o_custkey"), (col("i") + 1).cast("int").as("rk"),
              col("t._2").as("o_orderkey"),
              round(lit(1e-9) + col("t._1"), 2).as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))

  val q07Sql: String =
    """SELECT o_custkey, rk, o_orderkey, round(1e-9 + o_totalprice, 2) AS o_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** Running-sum window (frame ROWS UNBOUNDED PRECEDING) — streaming frame,
    * single pass per partition. */
  def q08RunningQty(spark: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is not unique in the fixture data, so the
    // frame ordering includes the value columns to stay engine-independent.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              round(lit(1e-9) + sum(col("l_quantity")).over(w), 2).as("running_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("running_qty"))
  }

  val q08Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  round(1e-9 + sum(l_quantity) OVER (PARTITION BY l_orderkey
      |    ORDER BY l_linenumber, l_quantity, l_extendedprice
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, running_qty""".stripMargin

  /** Distinct aggregates — Spark expands to a two-phase plan (expand +
    * two aggregates); both engines compute exact distinct counts. */
  def q09DistinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))

  val q09Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(*) AS n_lines
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** ROLLUP grouping sets; NULL subtotal labels made explicit so both
    * engines emit identical strings. */
  def q10Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(lit(1e-9) + sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  val q10Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  round(1e-9 + sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** EXISTS as a left-semi join (no row duplication, short-circuits on
    * first match). */
  def q11BigSpenders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    Tables.customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q11Sql: String =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** NOT EXISTS as a left-anti join (customers with no 400k+ order). */
  def q12CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), round(lit(1e-9) + col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy(col("c_custkey"))

  val q12Sql: String =
    """SELECT c_custkey, c_name, round(1e-9 + c_acctbal, 2) AS c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Set operations: nations that have customers INTERSECT nations that
    * have suppliers, minus (EXCEPT) nations in region 0. */
  def q13NationSetOps(spark: SparkSession, dir: String): DataFrame = {
    val custNations = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey")).distinct()
    val suppNations = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey")).distinct()
    val region0 = Tables.nation(spark, dir).filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").as("nationkey"))
    custNations.intersect(suppNations).except(region0)
      .orderBy(col("nationkey"))
  }

  val q13Sql: String =
    """SELECT DISTINCT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT DISTINCT s_nationkey AS nationkey FROM supplier
      |EXCEPT
      |SELECT n_nationkey AS nationkey FROM nation WHERE n_regionkey = 0
      |ORDER BY nationkey""".stripMargin

  /** CASE + string expressions, HAVING filter after aggregation. */
  def q14PartSizeClasses(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .withColumn("size_class",
        when(col("p_size") < 10, "small")
          .when(col("p_size") < 30, "medium")
          .otherwise("large"))
      .groupBy(col("p_brand"), col("size_class"))
      .agg(count(lit(1)).as("n_parts"),
           round(lit(1e-9) + avg(col("p_retailprice")), 2).as("avg_price"))
      .filter(col("n_parts") >= 5)
      .orderBy(col("p_brand"), col("size_class"))

  val q14Sql: String =
    """SELECT p_brand,
      |  CASE WHEN p_size < 10 THEN 'small'
      |       WHEN p_size < 30 THEN 'medium'
      |       ELSE 'large' END AS size_class,
      |  count(*) AS n_parts,
      |  round(1e-9 + avg(p_retailprice), 2) AS avg_price
      |FROM part
      |GROUP BY 1, 2
      |HAVING count(*) >= 5
      |ORDER BY p_brand, size_class""".stripMargin

  /** Scalar "subquery" via a broadcast single-row aggregate (avoids the
    * driver round-trip a literal would need; stays one job). */
  def q15AboveAvgParts(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val avgPrice = part.agg(avg(col("p_retailprice")).as("global_avg"))
    part.crossJoin(broadcast(avgPrice))
      .filter(col("p_retailprice") > col("global_avg") * 1.01)
      .select(col("p_partkey"), col("p_name"), round(lit(1e-9) + col("p_retailprice"), 2).as("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  val q15Sql: String =
    """SELECT p_partkey, p_name, round(1e-9 + p_retailprice, 2) AS p_retailprice
      |FROM part
      |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part) * 1.01
      |ORDER BY p_partkey""".stripMargin

  /** Priority-ordered grouping (reference: `get_area_priorities`,
    * launcher.py:253-266 — group work by priority, lower first). */
  def q16PriorityGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           round(lit(1e-9) + sum(col("o_totalprice")), 2).as("total"),
           min(col("o_orderkey")).as("first_order"))
      .orderBy(col("o_orderpriority"))

  val q16Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  round(1e-9 + sum(o_totalprice), 2) AS total,
      |  min(o_orderkey) AS first_order
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** CUBE grouping sets — all four aggregation granularities of
    * (returnflag, linestatus) in one pass (Spark expands + partial-aggs;
    * subtotal NULLs labeled so both engines emit identical strings). */
  def q49Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(round(lit(1e-9) + sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))

  val q49Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  round(1e-9 + sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Exact linear-interpolated percentiles per group (corpus/quality
    * distribution stats). Spark's `percentile` and DuckDB's
    * `quantile_cont` share the interpolation rule. Exact percentile sorts
    * within groups — at 100 TB the approx_percentile sketch (t-digest) is
    * the right tool; this is the exact-verification form. */
  def q50Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(lit(1e-9) + element_at(col("ps"), 1), 4).as("p50"),
        round(lit(1e-9) + element_at(col("ps"), 2), 4).as("p90"),
        round(lit(1e-9) + element_at(col("ps"), 3), 4).as("p99"),
        col("n"))
      .orderBy(col("l_returnflag"))

  val q50Sql: String =
    """SELECT l_returnflag,
      |  round(1e-9 + quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(1e-9 + quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  round(1e-9 + quantile_cont(l_extendedprice, 0.99), 4) AS p99,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Fixed-width histogram of order totals — pure arithmetic binning
    * (engine-portable width_bucket), one aggregate pass. */
  def q51Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(least(greatest(floor(col("o_totalprice") / 50000.0), lit(0.0)),
        lit(9.0)).cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("bucket"))

  val q51Sql: String =
    """SELECT CAST(least(greatest(floor(o_totalprice / 50000.0), 0.0), 9.0) AS INT) AS bucket,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** Ordered list aggregation: each customer's sorted order-key list,
    * reduced to a rolling fingerprint so the compared output stays scalar
    * (array renderings differ across engines; the fold is exact). The
    * collect is per-group bounded — never a driver-side collect. */
  def q54OrderLists(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"),
        aggregate(sort_array(collect_list(col("o_orderkey"))), lit(0L),
          (acc, k) => (acc * 131 + k % 1000000007L) % 1000000007L).as("keys_fp"))
      .orderBy(col("o_custkey"))

  val q54Sql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  min(o_orderkey) AS first_key, max(o_orderkey) AS last_key,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(o_orderkey ORDER BY o_orderkey)),
      |    (a, k) -> (a * 131 + k % 1000000007) % 1000000007) AS keys_fp
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin


  /** Skew-salted aggregation, oracle-verified: the two-phase
    * [[graft.operators.Salting.saltedAggregate]] (partial aggregate on
    * (keys, salt) spreading hot groups over 32 buckets, exact merge on
    * the keys) must produce bit-identical results to the plain group-by
    * the oracle computes — the operator's whole contract is "same
    * answer, different partitioning". Integer aggregates keep the
    * comparison exact. l_returnflag has only 3 groups, i.e. maximal
    * skew pressure for a 32-thread local run: exactly the shape salting
    * exists for.
    *
    * The fan-out is STATS-FED ([[graft.operators.Salting.bucketsFromStats]]):
    * when an ANALYZE profile for `lineitem` is loaded, buckets =
    * ceil(P / NDV(l_returnflag)) — the measured remedy for a
    * 3-group/32-core aggregation — with 32 as the pre-ANALYZE fallback.
    * Either fan-out is result-identical (the operator's contract), so
    * the oracle never sees the difference. */
  def q67SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Salting.saltedAggregate(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_suppkey"), col("l_orderkey")),
      keys = Seq("l_returnflag"),
      aggs = Map("l_suppkey" -> "sum", "l_orderkey" -> "max"),
      buckets = graft.operators.Salting.bucketsFromStats(
        spark, dir, "lineitem", Seq("l_returnflag"), fallback = 32))
      .select(col("l_returnflag"), col("sum_l_suppkey"), col("max_l_orderkey"))
      .orderBy(col("l_returnflag"))

  val q67Sql: String =
    """SELECT l_returnflag,
      |  sum(l_suppkey)::BIGINT AS sum_l_suppkey,
      |  max(l_orderkey) AS max_l_orderkey
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Z-order (Morton) clustering audit — the multi-dimensional layout key
    * behind `OPTIMIZE ... ZORDER BY` style data clustering: both join keys
    * are range-scaled to 4 bits, bit-interleaved into an 8-bit Morton
    * code, and each 16-code tile reports its row count and per-dimension
    * bounding box. Compact per-tile boxes are what make a z-sorted layout
    * prune file-level min/max indexes on BOTH dimensions at once; this
    * query is the audit you run to verify the clustering before paying
    * for the rewrite.
    *
    * Scale design: the dimension stats are a 1-row broadcast; the Morton
    * code is a pure bit-arithmetic projection (codegen'd shifts/ands, no
    * UDF), and the tile audit is one 16-key aggregation with map-side
    * partials. Writing the layout itself would be
    * `repartitionByRange(col("z"))` + write — the same projection. */
  def q77ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
    val stats = li.agg(
      min(col("l_partkey")).as("pmn"), max(col("l_partkey")).as("pmx"),
      min(col("l_suppkey")).as("smn"), max(col("l_suppkey")).as("smx"))
    def scaled(v: org.apache.spark.sql.Column, mn: org.apache.spark.sql.Column,
        mx: org.apache.spark.sql.Column) =
      floor((v - mn).cast("double") * 16.0 / (mx - mn + 1)).cast("int")
    def interleave(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      (0 until 4).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
      }.reduce(_ + _)
    li.crossJoin(broadcast(stats))
      .withColumn("zx", scaled(col("l_partkey"), col("pmn"), col("pmx")))
      .withColumn("zy", scaled(col("l_suppkey"), col("smn"), col("smx")))
      .withColumn("tile", shiftright(interleave(col("zx"), col("zy")), 4))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .orderBy(col("tile"))
  }

  val q77Sql: String =
    """WITH stats AS (
      |  SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
      |         min(l_suppkey) AS smn, max(l_suppkey) AS smx
      |  FROM lineitem),
      |coded AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(floor((l_partkey - pmn)::DOUBLE * 16.0 / (pmx - pmn + 1)) AS INT) AS zx,
      |    CAST(floor((l_suppkey - smn)::DOUBLE * 16.0 / (smx - smn + 1)) AS INT) AS zy
      |  FROM lineitem CROSS JOIN stats),
      |z AS (
      |  SELECT l_partkey, l_suppkey,
      |    (((zx >> 0) & 1) << 0) + (((zy >> 0) & 1) << 1) +
      |    (((zx >> 1) & 1) << 2) + (((zy >> 1) & 1) << 3) +
      |    (((zx >> 2) & 1) << 4) + (((zy >> 2) & 1) << 5) +
      |    (((zx >> 3) & 1) << 6) + (((zy >> 3) & 1) << 7) AS zcode
      |  FROM coded)
      |SELECT zcode >> 4 AS tile, count(*) AS n_rows,
      |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
      |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
      |FROM z
      |GROUP BY 1
      |ORDER BY tile""".stripMargin

  /** HyperLogLog distinct-count sketch (m = 64 registers) over
    * `l_orderkey` — the constant-state cardinality estimator that replaces
    * an exact `count(distinct)` shuffle at corpus scale: each row hashes
    * to a 6-bit register index plus a 26-bit suffix whose leading-zero
    * rank feeds a per-register `max`. The whole sketch is 64 small
    * integers, mergeable map-side (max is commutative), so the exchange
    * carries ≤ 64 rows per partition regardless of input size — compare
    * the exact-distinct baseline, which must shuffle every distinct key.
    * Reports the register fingerprint, the HLL estimate (α₆₄·m²/Σ2^-Mⱼ)
    * and its relative error against the exact count.
    *
    * Determinism: the hash is md5-based (h32), the leading-zero rank is
    * computed from the binary-string length (exact integer ops in both
    * engines, no float log2), and Σ2^-Mⱼ sums 64 dyadic rationals whose
    * exponent spread (< 2^27) fits a double's 53-bit significand — the
    * sum is exact under any partial-aggregation order. */
  def q78HllSketch(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val h = graft.functions.TextFns.h32(col("l_orderkey"))
    val regs = li
      .select(h.bitwiseAND(lit(63L)).as("bucket"), shiftright(h, 6).as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(27)).otherwise(lit(27) - length(bin(col("w")))))
      .groupBy(col("bucket")).agg(max(col("rho")).as("reg"))
    val summ = regs.agg(
      count(lit(1)).as("n_regs"),
      sum((col("bucket") + 1) * col("reg")).as("fp_regs"),
      sum(pow(lit(2.0), -col("reg"))).as("s_present"))
    val exact = li.agg(countDistinct(col("l_orderkey")).as("exact_cnt"))
    summ.crossJoin(exact)
      .withColumn("s", col("s_present") + (lit(64) - col("n_regs")).cast("double"))
      .withColumn("est_raw", lit(0.709) * lit(4096.0) / col("s"))
      .select(
        lit(64L).as("m"),
        col("n_regs").cast("long").as("n_regs"),
        col("fp_regs").cast("long").as("fp_regs"),
        round(lit(1e-9) + col("est_raw"), 2).as("est"),
        col("exact_cnt"),
        round(lit(1e-9) + abs(col("est_raw") - col("exact_cnt")) / col("exact_cnt"), 4)
          .as("rel_err"))
  }

  val q78Sql: String =
    """WITH r AS (
      |  SELECT h & 63 AS bucket, h >> 6 AS w FROM (
      |    SELECT ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 8))::BIGINT AS h
      |    FROM lineitem)),
      |regs AS (
      |  SELECT bucket,
      |    max(CASE WHEN w = 0 THEN 27
      |             ELSE 27 - length(format('{:b}', w)) END) AS reg
      |  FROM r GROUP BY 1),
      |summ AS (
      |  SELECT count(*) AS n_regs, sum((bucket + 1) * reg)::BIGINT AS fp_regs,
      |    sum(power(2.0, -reg)) AS s_present
      |  FROM regs),
      |ex AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS exact_cnt FROM lineitem)
      |SELECT 64::BIGINT AS m, n_regs::BIGINT AS n_regs, fp_regs,
      |  round(1e-9 + 0.709 * 4096.0 / (s_present + (64 - n_regs)), 2) AS est,
      |  exact_cnt,
      |  round(1e-9 + abs(0.709 * 4096.0 / (s_present + (64 - n_regs)) - exact_cnt)
      |    / exact_cnt, 4) AS rel_err
      |FROM summ CROSS JOIN ex""".stripMargin

  /** PageRank (3 unrolled power iterations, damping 0.85) over the
    * nation-level trade graph: an edge src→dst with weight = number of
    * lineitems a customer in nation `src` bought from a supplier in
    * nation `dst`. The expensive part at scale is the EDGE AGGREGATION —
    * a corpus-sized 4-way join collapsed once into a (src, dst, w) table —
    * after which every iteration touches only the edge table and the rank
    * vector: join on src, re-aggregate on dst. Nothing corpus-sized is
    * ever revisited.
    *
    * Scale design: dimension sides of the edge build are broadcast; the
    * transition matrix is persisted and reused by all three iterations
    * (at web scale you'd also checkpoint the rank vector per iteration to
    * truncate lineage). Determinism: transition probabilities are exact
    * integer ratios; each iteration's ranks are rounded to 7 decimals in
    * both engines, so order-dependent float summation can never compound
    * across iterations. Dangling-node mass is dropped identically in both
    * engines (every nation has out-edges in this graph). */
  def q81PageRank(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").as("src"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("dst"))
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val p = edges
      .withColumn("outw", sum(col("w")).over(Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("outw")).as("p"))
      .persist()
    val nation = Tables.nation(spark, dir)
    val nodes = nation.select(col("n_nationkey").as("node"))
    var r = nodes.withColumn("pr", lit(1.0 / 25))
    // the rank vector and per-iteration inflow are ≤25 rows BY
    // CONSTRUCTION (one per nation) at any corpus size, but each is an
    // aggregate/derived frame, so neither the static file-size heuristic
    // nor the measured-stats rule can see that bound — without the
    // explicit hints all six iteration joins planned as SortMergeJoin
    // over the persisted transition matrix (round-14 before-plan: 10 SMJ
    // + 12 Sort; after: every iteration join a BroadcastHashJoin, the
    // only SMJ left is the corpus-sized lineitem⋈orders edge build)
    for (_ <- 1 to 3) {
      val contrib = p.join(broadcast(r), col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("p") * col("pr")).as("inflow"))
      r = nodes.join(broadcast(contrib), col("node") === col("dst"), "left")
        .select(col("node"),
          round(lit(1e-9) + lit(0.15 / 25) +
            lit(0.85) * coalesce(col("inflow"), lit(0.0)), 7).as("pr"))
    }
    r.join(broadcast(nation), col("node") === col("n_nationkey"))
      .select(col("node").as("nation"), col("n_name"), col("pr"))
      .orderBy(col("pr").desc, col("nation"))
  }

  val q81Sql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, round(1e-9 + 0.15 / 25 + 0.85 * coalesce(inflow, 0.0), 7) AS pr
         |  FROM nodes LEFT JOIN (
         |    SELECT dst, sum(p.p * r.pr) AS inflow
         |    FROM p JOIN $prev r ON p.src = r.node GROUP BY 1) c
         |  ON node = c.dst)""".stripMargin
    s"""WITH edges AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT src, dst, w::DOUBLE / sum(w) OVER (PARTITION BY src) AS p
      |  FROM edges),
      |nodes AS (SELECT n_nationkey AS node FROM nation),
      |it0 AS (SELECT node, 1.0 / 25 AS pr FROM nodes),
      |${iter("it0", "it1")},
      |${iter("it1", "it2")},
      |${iter("it2", "it3")}
      |SELECT node AS nation, n_name, pr
      |FROM it3 JOIN nation ON node = n_nationkey
      |ORDER BY pr DESC, nation""".stripMargin
  }

  /** Mergeable histogram-quantile sketch — the bounded-state alternative
    * to q50's exact percentiles: one broadcast (min, max, n) pass sizes a
    * 256-bin equi-width histogram, bin counts aggregate with map-side
    * partials (the 256-long array IS the mergeable sketch state), and
    * each quantile is linearly interpolated inside the first bin whose
    * cumulative count crosses q·n. Reports estimate, exact value and the
    * sketch error side by side.
    *
    * Scale design: the exact path needs a full sort (or percentile's
    * collect-to-buffer per group) — the sketch path shuffles exactly 256
    * rows no matter the corpus size, and two sketches merge by adding
    * counts, so it composes with partial aggregation, streaming state and
    * cross-shard rollup. The cumulative window runs over the 256-row
    * histogram — single-partition by design, not a bottleneck. */
  def q84QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice").as("x"))
    // ONE-ROW frame from a full corpus pass, consumed by the binning
    // scan and (via qext below) the est/needs paths; persisted because
    // column pruning gives each consumer a differently-projected copy of
    // the aggregate subtree — exchange reuse never unifies them, so the
    // extent pass ran once PER CONSUMER (r14 plan: 4 lineitem scans; the
    // r14 persist trap does not apply to a 1-row cache — no heap
    // pressure, no columnar build cost)
    val ext = li.agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
      count(lit(1)).as("n")).persist()
    // one binning pass shared by the sketch and the exact-selection path
    val binned = li.crossJoin(broadcast(ext))
      .select(col("x"),
        least(floor((col("x") - col("mn")) * 256.0 / (col("mx") - col("mn"))),
          lit(255.0)).cast("int").as("bin"))
      .persist()
    val hist = binned.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    // runs over the ≤ 256-bin histogram: constant partition key =
    // deliberately-bounded single-partition window
    val w = Window.partitionBy(lit(0)).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("cum_prev", col("cum") - col("cnt"))
    val qdf = {
      import spark.implicits._
      qs.toDF("q")
    }
    // r15: ext (a full min/max/count pass over lineitem) was consumed
    // THREE times — binned, est's crossJoin and needs' crossJoin — and
    // exchange reuse does not unify aggregate subtrees, so the corpus
    // extent pass executed 3× (r14 plan: 4 lineitem scans). Attaching it
    // ONCE to the 5-row quantile frame (qext) leaves two lineitem
    // passes: the extent agg and the binning scan — the equi-width
    // histogram's floor (bounds must exist before binning).
    val qext = qdf.crossJoin(broadcast(ext))
    val est = qext.join(cum,
        col("q") * col("n") > col("cum_prev") &&
          col("q") * col("n") <= col("cum"))
      .select(col("q"), round(lit(1e-9) + col("mn") +
        (col("bin") + (col("q") * col("n") - col("cum_prev")) / col("cnt")) *
          (col("mx") - col("mn")) / 256.0, 4).as("est"))
    // Exact quantiles by histogram-pruned selection, NOT a corpus-wide
    // percentile(): a single-group percentile merges every value in one
    // reducer buffer (profiled 3.2 s vs 0.5 s for the whole sketch at
    // sf0.1, and unbounded memory at 100 TB). Instead the histogram
    // locates the bin holding each needed order statistic, the broadcast
    // needs-table prunes the scan to those ~n/256-row bins, and a
    // row_number window ranks only the pruned candidates.
    val needs = qext
      .select(col("q"), (col("q") * (col("n") - 1)).as("h"), col("n"))
      .select(col("q"), (col("h") - floor(col("h"))).as("frac"),
        posexplode(array(floor(col("h")).cast("long") + 1,
          least(floor(col("h")).cast("long") + 2, col("n"))))
          .as(Seq("which", "k")))
    val needsBin = needs.join(cum,
        col("k") > col("cum_prev") && col("k") <= col("cum"))
      .select(col("q"), col("frac"), col("which"), col("k"),
        col("bin").as("nbin"), col("cum_prev"))
    val selW = Window.partitionBy(col("q"), col("which")).orderBy(col("x"))
    val exact = binned.join(broadcast(needsBin), col("bin") === col("nbin"))
      .withColumn("rk", row_number().over(selW))
      .filter(col("rk") === col("k") - col("cum_prev"))
      .groupBy(col("q"))
      .agg(max(when(col("which") === 0, col("x"))).as("lo"),
        max(when(col("which") === 1, col("x"))).as("hi"),
        max(col("frac")).as("frac"))
      .select(col("q").as("eq"),
        round(lit(1e-9) + col("lo") + (col("hi") - col("lo")) * col("frac"), 4)
          .as("exact"))
    est.join(broadcast(exact), col("q") === col("eq"))
      .select(col("q"), col("est"), col("exact"),
        round(lit(1e-9) + abs(col("est") - col("exact")), 4).as("abs_err"))
      .orderBy(col("q"))
  }

  val q84Sql: String =
    """WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
      |ext AS (SELECT min(x) AS mn, max(x) AS mx, count(*) AS n FROM x),
      |hist AS (
      |  SELECT least(floor((x - mn) * 256.0 / (mx - mn)), 255)::INT AS bin,
      |    count(*) AS cnt
      |  FROM x CROSS JOIN ext GROUP BY 1),
      |cum AS (
      |  SELECT bin, cnt,
      |    sum(cnt) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |cum2 AS (SELECT bin, cnt, cum, cum - cnt AS cum_prev FROM cum),
      |qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q),
      |est AS (
      |  SELECT q, round(1e-9 + mn +
      |    (bin + (q * n - cum_prev) / cnt) * (mx - mn) / 256.0, 4) AS est
      |  FROM qs, cum2, ext
      |  WHERE q * n > cum_prev AND q * n <= cum),
      |ex AS (
      |  SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS eq,
      |    unnest(qq) AS exact0
      |  FROM (SELECT quantile_cont(x, [0.25, 0.5, 0.75, 0.9, 0.99]) AS qq FROM x))
      |SELECT q, est, round(1e-9 + exact0, 4) AS exact,
      |  round(1e-9 + abs(est - round(1e-9 + exact0, 4)), 4) AS abs_err
      |FROM est JOIN ex ON q = eq
      |ORDER BY q""".stripMargin

  /** Per-node triangle counts on the token co-occurrence graph (tokens
    * adjacent in some document are connected). Triangles are enumerated
    * once each by the standard distributed wedge join: edges are oriented
    * low→high endpoint, e1(a,b)⋈e2(b,c) builds the wedges and e3(a,c)
    * closes them, so a triangle a<b<c appears exactly once.
    *
    * Scale design: candidate volume is the wedge count Σ deg(v)² — the
    * production refinement is orienting edges by degree instead of by
    * name (same join, wedge count drops to O(m^1.5)); ordering here is
    * lexicographic so the oracle can mirror it. The edge list is built
    * once (persist) and reused by all three join sides plus the degree
    * pass; every join is a plain hash equi-join on edge endpoints. */
  def q89TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.{tokens, shingles}
    val bg = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(shingles(tokens(col("text")), 2)).as("bg"))
      .select(split(col("bg"), " ").as("p"))
      .select(element_at(col("p"), 1).as("t1"), element_at(col("p"), 2).as("t2"))
    val edges = bg.filter(col("t1") =!= col("t2"))
      .select(least(col("t1"), col("t2")).as("src"),
        greatest(col("t1"), col("t2")).as("dst"))
      .distinct()
      .persist()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e2.src") === col("e1.dst"))
      .join(edges.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val deg = edges.select(explode(array(col("src"), col("dst"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("degree"))
    val cnt = tri.select(explode(array(col("a"), col("b"), col("c"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_tri"))
    deg.join(cnt, Seq("tok"), "left")
      .select(col("tok"), col("degree"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("tok"))
  }

  val q89Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> [toks[i], toks[i+1]])) AS p
      |  FROM d),
      |ed AS (
      |  SELECT DISTINCT least(p[1], p[2]) AS src, greatest(p[1], p[2]) AS dst
      |  FROM bg WHERE p[1] <> p[2]),
      |tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM ed e1
      |  JOIN ed e2 ON e2.src = e1.dst
      |  JOIN ed e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |deg AS (
      |  SELECT tok, count(*) AS degree FROM (
      |    SELECT src AS tok FROM ed UNION ALL SELECT dst AS tok FROM ed)
      |  GROUP BY 1),
      |cnt AS (
      |  SELECT tok, count(*) AS n_tri FROM (
      |    SELECT a AS tok FROM tri
      |    UNION ALL SELECT b AS tok FROM tri
      |    UNION ALL SELECT c AS tok FROM tri)
      |  GROUP BY 1)
      |SELECT deg.tok, degree, coalesce(n_tri, 0)::BIGINT AS n_tri
      |FROM deg LEFT JOIN cnt ON deg.tok = cnt.tok
      |ORDER BY n_tri DESC, deg.tok""".stripMargin

  /** Bloom-filter semi-join pruning — the runtime-filter technique that
    * replaces a shuffle semi-join with a broadcast bitset probe: build a
    * 2^20-bit / 3-probe Bloom filter over the urgent orders' keys (16913
    * 62-bit lanes, so every mask stays a positive BIGINT in both engines;
    * sized so the filter stays sparse — and selective — at bench scale),
    * broadcast it, and evaluate every row against it with pure expression
    * arithmetic. Reports, per priority class, how many orders pass the
    * filter — urgent rows all pass (no false negatives, the Bloom
    * guarantee), other classes show the false-positive leakage that the
    * exact join downstream would then discard.
    *
    * Scale design: this is what Spark's own runtime row-level filters do
    * for shuffle-heavy joins; expressed declaratively the build side is
    * one map-side-combined aggregation to 67 rows, the probe side is
    * three broadcast hash joins on the lane id — no explode of the big
    * table, no shuffle before the final 5-group rollup. All hashing is
    * the cross-engine md5-h32, so the exact false-positive set is
    * deterministic and oracle-checkable. */
  def q95BloomPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.h32
    val m = 1 << 20
    val k = 3
    def pos(j: Int, key: Column): Column =
      pmod(h32(concat(lit("bf"), lit(j.toString), lit("_"), key.cast("string"))),
        lit(m))
    val orders = Tables.orders(spark, dir)
    val lanes = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(explode(array((0 until k).map(j =>
        pos(j, col("o_orderkey"))): _*)).as("pos"))
      .select(expr("pos div 62").as("lane"), (col("pos") % 62).as("bit"))
      .groupBy(col("lane"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))").as("mask"))
      // 67 rows feeding THREE broadcast builds — without this each probe
      // join re-scans and re-aggregates the urgent keys
      .persist()
    val probed = orders.select(
      Seq(col("o_orderkey"), col("o_orderpriority")) ++
        (0 until k).map(j => pos(j, col("o_orderkey")).as(s"pos$j")): _*)
    val withHits = (0 until k).foldLeft(probed) { (df, j) =>
      df.join(
          broadcast(lanes.select(col("lane").as(s"lane$j"),
            col("mask").as(s"mask$j"))),
          expr(s"pos$j div 62") === col(s"lane$j"), "left")
        .withColumn(s"hit$j", coalesce(
          expr(s"shiftright(mask$j, CAST(pos$j % 62 AS INT)) & 1"), lit(0L)))
    }
    withHits
      .withColumn("pass", (0 until k).map(j => col(s"hit$j")).reduce(_ * _))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("pass")).as("n_pass"))
      .orderBy(col("o_orderpriority"))
  }

  val q95Sql: String =
    """WITH lanes AS (
      |  SELECT pos // 62 AS lane, bit_or(1::BIGINT << (pos % 62)::INT) AS mask
      |  FROM (
      |    SELECT (('0x' || substr(md5('bf' || j || '_' || o_orderkey), 1, 8))::BIGINT) % 1048576 AS pos
      |    FROM orders, (SELECT unnest([0, 1, 2]) AS j) g
      |    WHERE o_orderpriority = '1-URGENT')
      |  GROUP BY 1),
      |pr AS (
      |  SELECT o_orderkey, o_orderpriority, j,
      |    (('0x' || substr(md5('bf' || j || '_' || o_orderkey), 1, 8))::BIGINT) % 1048576 AS pos
      |  FROM orders, (SELECT unnest([0, 1, 2]) AS j) g),
      |hits AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    min(CASE WHEN mask IS NOT NULL AND ((mask >> (pos % 62)::INT) & 1) = 1
      |        THEN 1 ELSE 0 END) AS pass
      |  FROM pr LEFT JOIN lanes ON pos // 62 = lane
      |  GROUP BY 1, 2)
      |SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
      |  sum(pass)::BIGINT AS n_pass
      |FROM hits GROUP BY 1
      |ORDER BY o_orderpriority""".stripMargin

  /** Min-cost supplier per part (the TPC-H Q2 shape): for every size-1
    * part, the supplier offering the lowest observed unit price, ties
    * broken to the smallest supplier key. This is the correlated-scalar-
    * subquery pattern (`price = (SELECT min(price) ... WHERE same
    * part)`) DECORRELATED by hand into the plan Catalyst would also
    * rewrite it to: aggregate per (part, supplier), re-aggregate per
    * part, and join the minimum back — two map-side-combinable
    * aggregations and one equi-join on the part key, no per-row
    * subquery execution ever. Dimension lookups (part filter, supplier
    * names) broadcast. Unit prices round at 4 dp BEFORE any min, so the
    * min value and the equality join-back compare identical doubles in
    * both engines. */
  def q115MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    // the p_size predicate lands BELOW the aggregations: broadcast the
    // ~2% of parts that qualify and semi-reduce lineitem first, so both
    // aggregate passes see only qualifying parts' offers — the same
    // filter applied after the aggs would shuffle 50x the rows
    val smallParts = broadcast(Tables.part(spark, dir)
      .filter(col("p_size") === 1)
      .select(col("p_partkey"), col("p_name")))
    val offers = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        round(lit(1e-9) + col("l_extendedprice") / col("l_quantity"), 4)
          .as("unit"))
      .join(smallParts.select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .drop("p_partkey")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit")).as("best_offer"))
    // r14: lexicographic struct-min IS "lowest price, ties to smallest
    // supplier key" — the previous min-per-part + equality join-back
    // re-ran the whole offers subtree (lineitem semi-join + aggregate)
    // on both sides of a self-join; one argmin aggregation replaces the
    // join and the second corpus pass outright (plan: lineitem scans
    // 2 → 1, one join and one aggregate gone; same rounded doubles, so
    // the chosen rows are identical)
    val chosen = offers
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("best_offer"), col("l_suppkey"))).as("m"))
      .select(col("l_partkey"), col("m.best_offer").as("min_price"),
        col("m.l_suppkey").as("s_suppkey"))
    chosen
      .join(smallParts, col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))), Seq("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("min_price"),
        col("s_suppkey"), col("s_name"))
      .orderBy(col("p_partkey"))
  }

  val q115Sql: String =
    """WITH offers AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(round(1e-9 + l_extendedprice / l_quantity, 4)) AS best_offer
      |  FROM lineitem
      |  GROUP BY 1, 2),
      |minper AS (
      |  SELECT l_partkey, min(best_offer) AS min_price
      |  FROM offers GROUP BY 1),
      |chosen AS (
      |  SELECT o.l_partkey, min_price, min(l_suppkey) AS s_suppkey
      |  FROM offers o JOIN minper m
      |    ON o.l_partkey = m.l_partkey AND best_offer = min_price
      |  GROUP BY 1, 2)
      |SELECT p_partkey, p_name, min_price, s_suppkey, s_name
      |FROM chosen
      |JOIN part ON l_partkey = p_partkey AND p_size = 1
      |JOIN supplier USING (s_suppkey)
      |ORDER BY p_partkey""".stripMargin

  /** Table-statistics collection (the `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS` surface a cost-based optimizer feeds on):
    * per numeric lineitem column, row count, null count, exact NDV and
    * min/max — in ONE pass over the table via a column unpivot (each row
    * fans out to 4 (col_name, value) pairs).
    *
    * Scale design: the unpivot is a narrow explode of a plan-time
    * 4-element array; the aggregation is the standard two-phase distinct
    * (partial distinct per partition on (col_name, v), then the 4-key
    * final merge) — no join, no window, one shuffle whose volume is the
    * per-partition distinct values, not the table. At 100 TB the exact
    * NDV swaps for the mergeable HLL sketch (q78's path); the exact form
    * here is what gives the oracle a bit-identical twin. */
  def q160ColumnStats(spark: SparkSession, dir: String): DataFrame = {
    val statCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    Tables.lineitem(spark, dir)
      .select(explode(array(statCols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("double").as("v"))): _*)).as("s"))
      .select(col("s.col_name").as("col_name"), col("s.v").as("v"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).as("ndv"),
        round(lit(1e-9) + min(col("v")), 4).as("min_v"),
        round(lit(1e-9) + max(col("v")), 4).as("max_v"))
      .orderBy(col("col_name"))
  }

  val q160Sql: String =
    """WITH s AS (
      |  SELECT 'l_quantity' AS col_name, l_quantity::DOUBLE AS v FROM lineitem
      |  UNION ALL
      |  SELECT 'l_extendedprice', l_extendedprice::DOUBLE FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount', l_discount::DOUBLE FROM lineitem
      |  UNION ALL
      |  SELECT 'l_tax', l_tax::DOUBLE FROM lineitem)
      |SELECT col_name, count(*)::BIGINT AS n_rows,
      |  sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
      |  count(DISTINCT v)::BIGINT AS ndv,
      |  round(1e-9 + min(v), 4) AS min_v,
      |  round(1e-9 + max(v), 4) AS max_v
      |FROM s
      |GROUP BY col_name
      |ORDER BY col_name""".stripMargin

  /** q161 — the measured per-table profile [[graft.plans.StatsStore]]
    * feeds the stats-driven broadcast rule
    * ([[graft.plans.StatsBroadcastJoins]]), surfaced as an
    * oracle-checked query: per table, the exact rowcount and the
    * measured average in-memory row width — fixed-width columns priced
    * at their storage size, strings at their measured average octet
    * length, plus the 8-byte-per-field Tungsten slot overhead. This IS
    * the arithmetic the rule prices join sides with (rows × width vs
    * the broadcast budget), so the oracle cross-checks the planner's
    * own inputs.
    *
    * Scale design: one single-pass aggregation per table with map-side
    * partials (count + per-string-column avg), three 1-row results
    * unioned — control-plane cost at any corpus size; the scan reads
    * only the string columns it measures plus nothing else twice. */
  def q161TableProfile(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "lineitem", "orders").map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val width = df.schema.fields.map(graft.plans.StatsStore.widthExpr)
        .reduce(_ + _) + lit(8.0 * df.schema.fields.length)
      df.agg(count(lit(1)).as("n_rows"),
          round(lit(1e-9) + width, 2).as("row_bytes"))
        .select(lit(t).as("table_name"), col("n_rows"), col("row_bytes"))
    }.reduce(_.unionByName(_)).orderBy(col("table_name"))
  }

  val q161Sql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS table_name, count(*)::BIGINT AS n_rows,
      |    round(1e-9 + 60 + avg(strlen(c_name))
      |      + avg(strlen(c_mktsegment)), 2) AS row_bytes
      |  FROM customer
      |  UNION ALL
      |  SELECT 'lineitem', count(*)::BIGINT,
      |    round(1e-9 + 156 + avg(strlen(l_returnflag))
      |      + avg(strlen(l_linestatus)), 2)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders', count(*)::BIGINT,
      |    round(1e-9 + 80 + avg(strlen(o_orderstatus))
      |      + avg(strlen(o_orderpriority)), 2)
      |  FROM orders)
      |ORDER BY table_name""".stripMargin

  val declared: Seq[Query] = Seq(
    Query("q01_pricing_summary", q01PricingSummary, q01Sql),
    Query("q02_selective_revenue", q02SelectiveRevenue, q02Sql),
    Query("q03_segment_revenue", q03SegmentRevenue, q03Sql),
    Query("q04_order_status_volume", q04OrderStatusVolume, q04Sql),
    Query("q05_region_revenue", q05RegionRevenue, q05Sql),
    Query("q06_top_orders", q06TopOrders, q06Sql),
    Query("q07_top_orders_per_customer", q07TopOrdersPerCustomer, q07Sql),
    Query("q08_running_qty", q08RunningQty, q08Sql),
    Query("q09_distinct_parts", q09DistinctParts, q09Sql),
    Query("q10_rollup", q10Rollup, q10Sql),
    Query("q11_big_spenders", q11BigSpenders, q11Sql),
    Query("q12_customers_without_orders", q12CustomersWithoutOrders, q12Sql),
    Query("q13_nation_setops", q13NationSetOps, q13Sql),
    Query("q14_part_size_classes", q14PartSizeClasses, q14Sql),
    Query("q15_above_avg_parts", q15AboveAvgParts, q15Sql),
    Query("q16_priority_groups", q16PriorityGroups, q16Sql),
    Query("q49_cube", q49Cube, q49Sql),
    Query("q50_percentiles", q50Percentiles, q50Sql),
    Query("q51_histogram", q51Histogram, q51Sql),
    Query("q54_order_lists", q54OrderLists, q54Sql),
    Query("q67_salted_agg", q67SaltedAgg, q67Sql),
    Query("q77_zorder_layout", q77ZorderLayout, q77Sql),
    Query("q78_hll_sketch", q78HllSketch, q78Sql),
    Query("q81_pagerank", q81PageRank, q81Sql),
    Query("q84_quantile_sketch", q84QuantileSketch, q84Sql),
    Query("q89_triangle_count", q89TriangleCount, q89Sql),
    Query("q95_bloom_prune", q95BloomPrune, q95Sql),
    Query("q115_min_cost_supplier", q115MinCostSupplier, q115Sql),
    Query("q160_column_stats", q160ColumnStats, q160Sql),
    Query("q161_table_profile", q161TableProfile, q161Sql)
  )
}
