package graft.queries

/** One query, declared once: its name, plan builder, DuckDB oracle SQL
  * (same column names and order as the plan) and the [[SharedFrames]]
  * families the plan reads. Each pack lists its queries in `declared`;
  * the pack's `defs`/`oracles`, [[graft.SparkEntry]]'s maps and
  * SharedFrames' consumer tests all derive from those lists, so adding
  * or re-homing a query is a one-line edit. */
final case class Query(name: String, plan: Q, oracle: String,
    reads: SharedFrames.Family*) {
  // a pack whose `declared` runs before the SQL vals it names would
  // hand the driver a null oracle: fail at pack initialization instead
  require(oracle != null, s"$name: oracle SQL not yet initialized")

  /** The short qNN id (bench keys, history rows, env filters). */
  def id: String = name.takeWhile(_ != '_')
}

/** A pack of queries: one object per capability family. */
trait QueryPack {
  /** This pack's queries. Keep it after the SQL vals it names. */
  val declared: Seq[Query]

  lazy val defs: Map[String, Q] = declared.map(q => q.name -> q.plan).toMap
  lazy val oracles: Map[String, String] =
    declared.map(q => q.name -> q.oracle).toMap
}

object Query {
  // lazy: packs build Query values while they initialize, and an eager
  // list here would read a pack object still under construction
  lazy val packs: Seq[QueryPack] = Seq(Relational, EventOps, TextAnalysis, Dedup,
    Similarity, Media, Trollflow, TiledRaster, Search, Curation)

  /** Every declared query, pack by pack. */
  lazy val all: Seq[Query] = packs.flatMap(_.declared)

  private lazy val byId: Map[String, Query] = all.map(q => q.id -> q).toMap

  /** The shared families read by the query named `name` (full name or
    * qNN id); empty for an unknown name. */
  def reads(name: String): Seq[SharedFrames.Family] =
    byId.get(name.takeWhile(_ != '_')).fold(Seq.empty[SharedFrames.Family])(_.reads)
}
