package graft.operators

import org.apache.spark.sql.DataFrame

/** Bucketed-table co-located joins — the storage-layout half of the 100 TB
  * join strategy.
  *
  * A shuffle join moves both sides over the network every time it runs; for
  * a fact-to-fact join that repeats per batch (the reference's per-message
  * processing loop re-reads the same inputs each run, launcher.py:434-456),
  * the scalable layout is to pay the shuffle ONCE at write time:
  * `bucketBy(n, key)` hash-partitions files by the join key and records the
  * bucket spec in the catalog, so every later join/aggregation on that key
  * is exchange-free — Catalyst sees `HashPartitioning(key, n)` straight off
  * the scan. `sortBy(key)` additionally pre-sorts within buckets, removing
  * the per-partition Sort under a sort-merge join.
  *
  * Rules of engagement at scale:
  *   - both sides must have the SAME bucket count (or a divisor, with
  *     `spark.sql.bucketing.coalesceBucketsInJoin.enabled`);
  *   - bucket count ≈ cluster parallelism at the target SF — at 100 TB
  *     pick thousands of buckets, not 8;
  *   - one bucketed write amortizes over every downstream join, the same
  *     trade as the postings-table materialization in the dedup pack.
  */
object Bucketing {

  /** Pay the shuffle once: persist `df` as a bucketed, in-bucket-sorted
    * parquet table keyed for its hot join column. The explicit repartition
    * on the bucket key makes each bucket a SINGLE file — `sortBy` only
    * guarantees order within each written file, so multi-file buckets
    * would still need a Sort under every downstream sort-merge join;
    * one-file buckets let Spark elide it. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sorted: Boolean = true): Unit =
    writeBucketedMulti(df, table, Seq(key), buckets, sorted)

  /** Multi-column bucket key variant: co-partitioned joins require the
    * bucketing to cover ALL join keys (Spark's co-partition check —
    * `spark.sql.requireAllClusterKeysForCoPartition` — rejects a
    * partial cover and falls back to a shuffle), so a table joined on a
    * composite key must bucket on the whole composite. */
  def writeBucketedMulti(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, sorted: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "at least one bucket key")
    val w = df.repartition(buckets, keys.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sorted) w.sortBy(keys.head, keys.tail: _*) else w).saveAsTable(table)
  }
}
