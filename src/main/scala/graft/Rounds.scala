package graft

/** The round-in-progress numbering convention, shared by
  * [[Bench]].appendHistory and [[ScaleProbe]] so the two artifacts can
  * never drift apart: SPARK_GRAFT_ROUND if the driver set it (a
  * malformed value is ignored, never fatal — a probe must not abort
  * artifact-less over an env typo), else the latest completed
  * BENCH_rNN.json artifact + 1. Artifact-derived, NOT history-derived:
  * BENCH_HISTORY.jsonl already carries the in-progress round's rows once
  * the round's first bench has run, so a history-based latest+1 would
  * label anything running after Bench one round ahead.
  */
object Rounds {
  def inProgress(): Int =
    sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption)
      .getOrElse(latestBenchArtifact() + 1)

  /** Latest completed BENCH_rNN.json artifact number (0 if none). */
  def latestBenchArtifact(): Int = try {
    import scala.jdk.CollectionConverters._
    val pat = java.util.regex.Pattern.compile("BENCH_r(\\d+)\\.json")
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get("."))
    try stream.iterator().asScala
      .map(p => pat.matcher(p.getFileName.toString))
      .filter(_.matches()).map(_.group(1).toInt)
      .foldLeft(0)(math.max)
    finally stream.close() // Files.list holds a directory handle
  } catch { case scala.util.control.NonFatal(_) => 0 }
}

/** BENCH_HISTORY.jsonl, the per-query trend file [[Bench]] appends to and
  * [[Bench]]/[[ScaleProbe]] read back. Each row holds `round`, `query`,
  * `sec` (and `norm`) plus the run it came from: `cpus`, `sf`, `git_sha`
  * and `run_kind`. Rows compare only within one shape, the same (cpus,
  * sf), so a side run at another core count or scale neither replaces
  * nor is compared with the official pack's rows. A row without `cpus`
  * is the 32-core default; one without `sf` is sf0.1.
  */
private[graft] object History {
  final case class Row(round: Int, query: String, sec: Double)

  val File: java.nio.file.Path = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")

  /** The scale label of a fixture dir: "0.1" for `.../sf0.1`, else the
    * dir itself. */
  def sfOf(dir: String): String =
    "sf(\\d+(?:\\.\\d+)?)$".r.findFirstMatchIn(dir.stripSuffix("/"))
      .fold(dir)(m => normSf(m.group(1)))

  private def normSf(s: String): String =
    scala.util.Try(BigDecimal(s).bigDecimal.stripTrailingZeros.toPlainString)
      .getOrElse(s)

  /** The `sf` value as written: a JSON number for a numeric label. */
  def sfJson(sf: String): String =
    if (sf.matches("\\d+(\\.\\d+)?")) sf
    else com.fasterxml.jackson.databind.node.TextNode.valueOf(sf).toString

  private def lines(path: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(path)) Seq.empty
    else java.nio.file.Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty)
  }

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  /** (round, (cpus, sf)) of a parsed row. */
  private def keyOf(r: com.fasterxml.jackson.databind.JsonNode): (Int, (Int, String)) =
    (r.get("round").asInt, (Option(r.get("cpus")).fold(32)(_.asInt),
      Option(r.get("sf")).fold("0.1")(n => normSf(n.asText))))

  /** Rows of the (cpus, sf) shape; empty when there is no history. */
  def rows(cpus: Int, sf: String, path: java.nio.file.Path = File): Seq[Row] =
    lines(path).map(om.readTree).filter(r => keyOf(r)._2 == ((cpus, sf)))
      .map(r => Row(r.get("round").asInt, r.get("query").asText, r.get("sec").asDouble))

  /** Rows of the (cpus, sf) shape's most recent round before `before`;
    * empty when there is none. */
  def latest(cpus: Int, sf: String, before: Int = Int.MaxValue,
      path: java.nio.file.Path = File): Seq[Row] = {
    val earlier = rows(cpus, sf, path).filter(_.round < before)
    val last = earlier.map(_.round).foldLeft(0)(math.max)
    earlier.filter(_.round == last)
  }

  /** Replace the rows of (round, cpus, sf) with `rows`, keeping every
    * other line as it is: a re-run of a round replaces its block
    * instead of appending a duplicate (the file is a trend line, not a
    * log). */
  def replace(round: Int, cpus: Int, sf: String, rows: Seq[String],
      path: java.nio.file.Path = File): Unit = {
    val kept = lines(path).filterNot(l => keyOf(om.readTree(l)) == ((round, (cpus, sf))))
    java.nio.file.Files.write(path,
      (kept ++ rows).mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}
