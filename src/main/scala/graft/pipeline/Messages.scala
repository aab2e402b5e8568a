package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Posttroll-message ingestion — `message_to_jobs` (launcher.py:269-273):
  * the bridge from a subscriber message to a runnable [[PipelineContext]].
  *
  * A message is JSON `{"type": "file|dataset|collection", "data": {...}}`.
  * Input filenames are found by a recursive scan for `uri` values
  * (`gen_dict_extract`, dict_tools.py:65-78) — one hit for `file`
  * messages, one per element for `dataset`, nested a level deeper for
  * `collection` — so a single walk handles all three message types
  * (launcher.py:303-316). Messages whose files carry a serialized
  * `filesystem` name files by `path` (falling back to `uid`); the
  * reference opens those through fsspec (launcher.py:320-328), here they
  * stay plain paths/URIs for Hadoop FS to resolve (the documented S6
  * divergence: `s3a://...` etc. go straight to `spark.read`).
  *
  * `input_mda` is the message's `data` dict (launcher.py:272). The typed
  * context keeps metadata as strings: scalar values are kept verbatim,
  * scalar arrays are comma-joined — the same multi-valued convention
  * [[Plugins.MetadataAlias]] rewrites element-wise; nested objects (e.g.
  * the `dataset` list itself) are job structure, not metadata, and the
  * reference's FilePublisher likewise pops them before publishing
  * (plugins/__init__.py:553-555).
  */
object Messages {
  private val mapper = new ObjectMapper()

  /** Separator of a list-valued metadata entry: [[parse]] joins a list of
    * scalars with it and [[Plugins.MetadataAlias]] splits on it. */
  val ListSep = ","

  final case class ParsedMessage(msgType: String, paths: Seq[String],
      metadata: Map[String, String],
      /** `datetime_decoder` parity (cli.py:77-96): every string value
        * anywhere in `data` that parses as an ISO datetime, keyed by its
        * JSON key (innermost-last wins for repeated keys). Values stay
        * strings in `metadata`; this is the typed view. */
      datetimes: Map[String, java.time.Instant] = Map.empty)

  /** Python `datetime.fromisoformat` analog: accepts zoned instants,
    * offset datetimes, and naive datetimes (read as UTC). */
  private[pipeline] def parseIso(s: String): Option[java.time.Instant] = {
    import java.time._
    def attempt[A](f: => A): Option[A] =
      try Some(f) catch { case NonFatal(_) => None }
    attempt(Instant.parse(s))
      .orElse(attempt(OffsetDateTime.parse(s).toInstant))
      .orElse(attempt(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)))
  }

  /** `gen_dict_extract` (dict_tools.py:65-78): depth-first collection of
    * every scalar value of `key` anywhere under `node`. */
  def extract(node: JsonNode, key: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    def walk(n: JsonNode): Unit =
      if (n.isObject)
        n.properties().asScala.foreach { e =>
          if (e.getKey == key && e.getValue.isValueNode) out += e.getValue.asText()
          else walk(e.getValue)
        }
      else if (n.isArray) n.elements().asScala.foreach(walk)
    walk(node)
    out.result()
  }

  /** Assemble the message-shaped job document the CLI path needs: bare
    * input files + a metadata JSON object (cli.py:30-33, 60-62 — the
    * `-m` flag's dict plus positional files become the same job dict the
    * subscriber path builds). Metadata keys land in `data` beside a
    * `dataset` list carrying one `uri` per file, so [[parse]] extracts
    * both identically to a posttroll dataset message. */
  def filesMessage(files: Seq[String], metadataJson: String = "{}"): String = {
    val meta = mapper.readTree(metadataJson)
    if (!meta.isObject)
      throw ConfigException(s"metadata must be a JSON object, got: $metadataJson")
    val data = meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].deepCopy()
    val ds = data.putArray("dataset")
    files.foreach(f => ds.addObject().put("uri", f))
    val root = mapper.createObjectNode()
    root.put("type", "dataset")
    root.set("data", data)
    mapper.writeValueAsString(root)
  }

  def parse(json: String): ParsedMessage = {
    val root = mapper.readTree(json)
    val msgType = Option(root.get("type")).map(_.asText).getOrElse("file")
    val data = Option(root.get("data")).getOrElse(mapper.createObjectNode(): JsonNode)
    val uris = extract(data, "uri")
    val paths =
      if (uris.nonEmpty) uris
      else { // filesystem-serialized messages (launcher.py:308-313)
        val byPath = extract(data, "path")
        if (byPath.nonEmpty) byPath else extract(data, "uid")
      }
    val metadata = data.properties().asScala.collect {
      case e if e.getValue.isValueNode =>
        e.getKey -> e.getValue.asText()
      case e if e.getValue.isArray &&
          e.getValue.elements().asScala.forall(_.isValueNode) =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).mkString(ListSep)
    }.toMap
    // recursive datetime decode (cli.py:77-96): any textual value at any
    // depth that parses as ISO becomes a typed instant
    val dts = Map.newBuilder[String, java.time.Instant]
    def walk(n: JsonNode): Unit =
      if (n.isObject)
        n.properties().asScala.foreach { e =>
          if (e.getValue.isTextual)
            parseIso(e.getValue.asText()).foreach(dts += e.getKey -> _)
          else walk(e.getValue)
        }
      else if (n.isArray) n.elements().asScala.foreach(walk)
    walk(data)
    ParsedMessage(msgType, paths, metadata, dts.result())
  }

  /** message → ready-to-run context + input paths: the paths land both in
    * the returned seq (the caller prepends a [[Plugins.CreateScene]]) and
    * in the context's `inputs` slot (the `input_filenames` slot of the
    * reference's job dict, launcher.py:287), which upstream plugins like
    * [[Plugins.CacheInputs]] may rewrite before the scene opens.
    *
    * The context's metadata stays the STRING view (matching the job
    * dict); the typed `datetimes` map remains available on the
    * [[ParsedMessage]] from [[parse]] for callers that want instants,
    * and the timestamp-reading plugins parse their own keys through
    * [[parseIso]] (naive datetimes = UTC) rather than this map, so they
    * also work on contexts built without the message layer. */
  def toContext(spark: SparkSession, spec: ProductList,
      json: String): (PipelineContext, Seq[String]) = {
    val m = parse(json)
    (PipelineContext(spark, spec, m.metadata, Map.empty, Worklist.expand(spec),
      inputs = m.paths),
      m.paths)
  }
}
