package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Entry-point contract — see SURVEY.md §7.
  *
  * Queries are grouped into packs (one object per capability family);
  * each pack declares its queries once, as [[queries.Query]] values
  * (name, plan, DuckDB SQL with identical column names/ordering, shared
  * families read). The maps below derive from [[queries.Query.all]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(GraftSession.prime(spark), "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Lazy val, not
    * def: Bench/QTime/ScaleProbe look a query up per timed rep — a def
    * would rebuild the map on every lookup. The per-call prime() in the
    * wrapper stays (a caller may hand any session) but is a
    * marker-guarded no-op after the first call. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map { q =>
      q.name -> ((s: SparkSession, dir: String) => q.plan(GraftSession.prime(s), dir))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = Query.all.map(q => q.name -> q.oracle).toMap

  /** The query names matching any of `patterns`, sorted; every query
    * when `patterns` is empty. A pattern is a full name or its qNN id up
    * to the underscore ("q11" selects q11_big_spenders, never
    * q110-q119); a pattern matching nothing fails loudly, so a typo
    * never times or dumps an empty set. */
  def select(patterns: Seq[String]): Seq[String] = {
    val names = queries.keys.toSeq.sorted
    if (patterns.isEmpty) names
    else patterns.flatMap { p =>
      val hit = names.filter(n => n == p || n.startsWith(p + "_"))
      require(hit.nonEmpty, s"query filter '$p' matches no query")
      hit
    }.distinct.sorted
  }
}
