package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.error.YAMLException

/** Raised for any malformed, unsafe, or un-mappable config document.
  * The reference logs-and-raises on YAML errors (launcher.py:473-476);
  * here every load failure funnels into one typed error. */
final case class ConfigException(message: String, cause: Throwable = null)
    extends RuntimeException(message, cause)

/** One `workers:` chain entry (examples/pl.yaml:195-210): the plugin's
  * registry name plus its inline scalar settings. The reference names
  * plugins with arbitrary-code YAML tags
  * (`fun: !!python/name:trollflow2.plugins.create_scene`,
  * launcher.py:404's UnsafeLoader); here `fun` is a plain name resolved
  * against the plugin registry at build time — dotted module paths are
  * accepted for config portability and reduced to their final segment. */
final case class WorkerSpec(fun: String,
    options: Map[String, String] = Map.empty)

/** A fully-loaded config document: the product-list tree, the worker
  * chain (the two sections `process_files` consumes, launcher.py:
  * 403-408), and the crash-handler section (launcher.py:411-416:
  * `crash_handlers: {config: {...}, handlers: [{fun: ...}]}`). */
final case class LoadedConfig(productList: ProductList,
    workers: Seq[WorkerSpec],
    crashHandlers: Seq[WorkerSpec] = Seq.empty,
    crashConfig: Map[String, String] = Map.empty)

/** Safe config-file loader — the analog of the reference's primary entry
  * point `read_config` (launcher.py:460-480), which parses the YAML
  * product list that drives everything else (doc/source/product_list.rst:12,
  * examples/pl.yaml).
  *
  * Deliberate differences from the reference, all safety-motivated:
  *   - **SafeConstructor, not UnsafeLoader** (launcher.py:404): documents
  *     are data only. Arbitrary-code tags (`!!python/name:...`,
  *     examples/pl.yaml:196) raise [[ConfigException]]; plugins are named
  *     by registry name instead.
  *   - **`null:` area key** (launcher.py:479-480 rewrites `null:` →
  *     `None:` textually): parsed natively — a null (or `"null"`/`"None"`/
  *     `"~"`) area key becomes `AreaSpec(name = None)`, the
  *     "satellite projection, no resampling" area.
  *   - **`!tuple` product keys** (launcher.py:63-77's implicit resolver):
  *     a product key shaped `(a, b, ...)` loads as a tuple-product —
  *     `ProductSpec.members` carries the elements, the canonical
  *     `"(a, b)"` rendering is the product name.
  *   - **`formats` inheritance is resolved at load time**: `plist_iter`
  *     reads `formats` from the *merged* per-product config
  *     (dict_tools.py:58), so a `formats:` block at root or area level
  *     applies to every product below that declares none. The loader
  *     materializes that resolution into each [[ProductSpec]] so
  *     [[Worklist.expand]] stays a pure tree walk.
  *   - Scalar settings load as their canonical string rendering
  *     (`20.0` → "20.0", `false` → "false"); `null`-valued settings are
  *     dropped (a null never overrides an outer value — [[Worklist]]
  *     coalesces by key presence); non-scalar settings (nested maps,
  *     lists) are kept as compact JSON strings.
  *
  * Resource bounds: SnakeYAML's default [[LoaderOptions]] cap alias
  * expansion (50 aliases/collection) and nesting depth, so alias bombs
  * ("billion laughs") fail fast instead of exhausting the driver. */
object ProductListLoader {

  /** Parse a YAML config document (the `pl.yaml` shape). */
  def fromYaml(text: String): LoadedConfig = {
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions()))
    val root =
      try yaml.load[Any](text)
      catch {
        case e: YAMLException =>
          val msg = Option(e.getMessage).getOrElse(e.toString)
          val hint =
            if (msg.contains("python/"))
              " — arbitrary-code tags (!!python/...) are rejected by the " +
                "safe loader; name plugins by registry name (e.g. " +
                "`fun: create_scene`)"
            else ""
          throw ConfigException(s"invalid or unsafe YAML: $msg$hint", e)
      }
    build(root)
  }

  // ---- object-tree → ProductList ----------------------------------------

  private def build(rootAny: Any): LoadedConfig = {
    val root = entries(rootAny, "top level")
    val rootMap = root.toMap
    val plAny = rootMap.getOrElse(
      "product_list",
      throw ConfigException(
        "missing 'product_list' section (the document root the launcher " +
          "reads, examples/pl.yaml:10)"))
    val pl = entries(plAny, "product_list")
    val plMap = pl.toMap
    val rootFormats = plMap.get("formats").map(formatList).getOrElse(Nil)

    val areas = plMap.get("areas") match {
      case None => Vector.empty[AreaSpec]
      case Some(a) =>
        entries(a, "areas").map { case (k, v) => area(k, v, rootFormats) }
    }

    val productList = ProductList(
      areas = areas,
      settings = settingsOf(pl, exclude = Set("areas", "formats")),
      common = rootMap.get("common")
        .map(c => settingsOf(entries(c, "common"), Set.empty))
        .getOrElse(Map.empty))

    val workers = rootMap.get("workers").map(workerList).getOrElse(Nil)
    val (crashHandlers, crashConfig) = rootMap.get("crash_handlers") match {
      case None => (Nil, Map.empty[String, String])
      case Some(ch) =>
        val fields = entries(ch, "crash_handlers").toMap
        (fields.get("handlers").map(workerList).getOrElse(Nil),
          fields.get("config")
            .map(c => settingsOf(entries(c, "crash_handlers.config"), Set.empty))
            .getOrElse(Map.empty))
    }
    LoadedConfig(productList, workers, crashHandlers, crashConfig)
  }

  private def area(key: Any, value: Any, outerFormats: Seq[FormatSpec]): AreaSpec = {
    val name = key match {
      // the reference's `null:` convention (launcher.py:479-480): the
      // native-projection area has no resample target
      case null | "null" | "None" | "~" => None
      case k => Some(scalarString(k, "area key"))
    }
    val fields = entries(value, s"area ${name.getOrElse("null")}")
    val fieldMap = fields.toMap
    val areaFormats = fieldMap.get("formats").map(formatList).getOrElse(outerFormats)
    val products = fieldMap.get("products") match {
      case None => Vector.empty[ProductSpec]
      case Some(p) =>
        entries(p, "products").map { case (k, v) => product(k, v, areaFormats) }
    }
    AreaSpec(
      name = name,
      priority = fieldMap.get("priority").flatMap(priorityOf),
      products = products,
      settings = settingsOf(fields, exclude = Set("products", "priority", "formats")))
  }

  /** The reference's `!tuple` implicit-resolver shape (launcher.py:75):
    * parenthesized, comma-separated bare words or quoted strings. */
  private val TupleKey = """^\(\s*(.*?),?\s*\)$""".r

  private def product(key: Any, value: Any, outerFormats: Seq[FormatSpec]): ProductSpec = {
    val raw = scalarString(key, "product key")
    val (name, members) = raw.trim match {
      case TupleKey(inner) =>
        val els = inner.split(",").toSeq.map(_.trim)
          .filter(_.nonEmpty)
          .map(e => e.stripPrefix("\"").stripSuffix("\"")
            .stripPrefix("'").stripSuffix("'"))
        if (els.isEmpty)
          throw ConfigException(s"empty tuple product key: $raw")
        (els.mkString("(", ", ", ")"), els)
      case plain => (plain, Seq.empty[String])
    }
    val fields = entries(value, s"product $name")
    val ownFormats = fields.toMap.get("formats").map(formatList)
    ProductSpec(
      name = name,
      members = members,
      // plist_iter reads `formats` off the merged config: own > area > root
      formats = ownFormats.getOrElse(outerFormats),
      settings = settingsOf(fields, exclude = Set("formats")))
  }

  private def formatList(node: Any): Seq[FormatSpec] = node match {
    case l: java.util.List[_] =>
      l.asScala.toVector.map {
        case m: java.util.Map[_, _] =>
          val fields = entries(m, "format entry")
          FormatSpec(
            format = fields.toMap.get("format")
              .map(scalarString(_, "format"))
              .getOrElse(Worklist.DefaultFormat.format),
            settings = settingsOf(fields, exclude = Set("format")))
        case s => FormatSpec(scalarString(s, "format entry"))
      }
    case other =>
      throw ConfigException(
        s"'formats' must be a list of {format: ...} entries, got: ${typeName(other)}")
  }

  private def workerList(node: Any): Seq[WorkerSpec] = node match {
    case l: java.util.List[_] =>
      l.asScala.toVector.map {
        case m: java.util.Map[_, _] =>
          val fields = entries(m, "worker entry")
          val fun = fields.toMap.get("fun") match {
            case None => throw ConfigException("worker entry without 'fun'")
            case Some(f) => pluginName(scalarString(f, "fun"))
          }
          WorkerSpec(fun, settingsOf(fields, exclude = Set("fun")))
        case s => WorkerSpec(pluginName(scalarString(s, "worker entry")))
      }
    case other =>
      throw ConfigException(s"'workers' must be a list, got: ${typeName(other)}")
  }

  /** Plain registry name, or a dotted module path reduced to its final
    * segment (`trollflow2.plugins.create_scene` → `create_scene`). Tag
    * text that survived into a string (JSON documents) is rejected the
    * same way the YAML path rejects the tag itself. */
  private def pluginName(raw: String): String = {
    if (raw.contains("python/"))
      throw ConfigException(
        s"arbitrary-code plugin reference rejected: '$raw' — use the " +
          "plugin's registry name (e.g. 'create_scene')")
    raw.split('.').last
  }

  private def priorityOf(v: Any): Option[Int] = v match {
    // `priority: null` = "use default priority" (examples/pl.yaml:93-94)
    case null => None
    case i: java.lang.Integer => Some(i.intValue)
    case l: java.lang.Long => Some(l.intValue)
    case s: String if s.forall(_.isDigit) && s.nonEmpty => Some(s.toInt)
    case other =>
      throw ConfigException(s"priority must be an integer or null, got: $other")
  }

  /** Key-order-preserving entry list; keys may be null (`null:`). */
  private def entries(node: Any, where: String): Vector[(Any, Any)] = node match {
    case m: java.util.Map[_, _] =>
      m.entrySet().asScala.toVector.map(e => (e.getKey: Any, e.getValue: Any))
    case null => Vector.empty
    case other =>
      throw ConfigException(s"$where must be a mapping, got: ${typeName(other)}")
  }

  /** Document-ordered (ListMap): worker options drive column-building
    * folds (load_composites), where a dependent expression must see the
    * columns declared before it — hash order would break that
    * non-deterministically past 4 entries. */
  private def settingsOf(fields: Vector[(Any, Any)], exclude: Set[String]): Map[String, String] =
    scala.collection.immutable.ListMap(fields.collect {
      case (k, v) if k != null && !exclude(scalarString(k, "setting key")) && v != null =>
        scalarString(k, "setting key") -> valueString(v)
    }: _*)

  private def scalarString(v: Any, where: String): String = v match {
    case s: String => s
    case b: java.lang.Boolean => b.toString
    case n: java.lang.Number => numberString(n)
    case d: java.util.Date =>
      java.time.Instant.ofEpochMilli(d.getTime).toString
    case other =>
      throw ConfigException(s"$where must be a scalar, got: ${typeName(other)}")
  }

  /** Canonical number rendering: integral types without a point
    * (`0` → "0"), floating types with (`20.0` → "20.0") — the string
    * forms [[Worklist]] golden tests compare against. */
  private def numberString(n: java.lang.Number): String = n match {
    case d: java.lang.Double => d.toString
    case f: java.lang.Float => f.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case other => other.toString // Integer, Long, BigInteger
  }

  /** Scalars render canonically; nested lists/maps keep their full
    * structure as compact JSON (nothing in the document is dropped). */
  private def valueString(v: Any): String = v match {
    case m: java.util.Map[_, _] => jsonString(m)
    case l: java.util.List[_] => jsonString(l)
    case s => scalarString(s, "setting value")
  }

  private def jsonString(v: Any): String =
    new ObjectMapper().writeValueAsString(v)

  private def typeName(v: Any): String =
    if (v == null) "null" else v.getClass.getSimpleName
}
