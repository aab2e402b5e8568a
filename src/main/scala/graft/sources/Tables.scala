package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed accessors for the fixture star schema (TESTDATA.md).
  *
  * All reads are plain parquet scans: Catalyst pushes filters and prunes
  * columns into the scan, so callers should express selection declaratively
  * rather than pre-trimming here. At 100 TB these would be partitioned
  * directories; the API stays identical.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events` exposes two time columns regardless of how the fixture
    * physically encodes its timestamp: `ts_ns` int64 epoch-nanos (lossless,
    * used for gap arithmetic by the event operators) and `ts`, a
    * micro-precision session-tz TimestampType (what DuckDB's
    * CAST(ts AS TIMESTAMP) yields under UTC).
    *
    * The physical column has drifted across fixture generations —
    * TIMESTAMP(NANOS) (read as raw int64 under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ) — so
    * we branch on the type the scan actually reports instead of assuming
    * either. ContractSpec pins the supported encodings.
    *
    * SESSION-WIDE side effect, on purpose: `nanosAsLong` must be set
    * BEFORE the scan plans, and it is part of the engine's documented
    * session contract (GraftSession sets it at build/prime). Reading
    * events from a session built elsewhere adopts that contract — any
    * OTHER parquet data with TIMESTAMP(NANOS) columns read in the same
    * session will surface them as raw int64 from then on. That is the
    * engine's stated trade (vanilla Spark refuses NANOS outright);
    * callers who need vanilla NANOS behavior elsewhere should use a
    * separate session. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) as int64
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TIMESTAMP(MICROS): NTZ or UTC-adjusted; session tz is UTC
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }
}
