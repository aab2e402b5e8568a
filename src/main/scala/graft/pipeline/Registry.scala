package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.operators.Raster
import graft.pipeline.Plugins._

/** Plugin registry — resolves a [[LoadedConfig]]'s `workers:` chain into
  * live [[Plugin]] instances, the safe analog of the reference's
  * `fun: !!python/name:trollflow2.plugins.create_scene` entries
  * (examples/pl.yaml:195-210): names resolve against this table at build
  * time instead of importing arbitrary code at parse time.
  *
  * Each factory reads its parameters the way the reference plugin does —
  * from the product list's root settings (`get_config_value(...,
  * '/product_list', key)`: check_metadata at plugins/__init__.py:697,
  * metadata_aliases at :721, aggregate kwargs at :129) — with the worker
  * entry's inline options taking precedence (most-local-wins, the same
  * rule the tree itself uses). Nested config values arrive as the
  * loader's compact-JSON strings and are decoded here.
  *
  * Documented divergence: the reference's `resample` and coverage
  * plugins get area geometry from satpy's areas.yaml registry; there is
  * no such registry here, so `resample` reads its target grids from the
  * `resample_targets` setting and plugins needing lon/lat bounds
  * ([[Covers]], [[SunlightCoverage]]) must be constructed in code. */
object PluginRegistry {

  /** Names this registry can build. */
  def names: Set[String] = Set(
    "create_scene", "load_composites", "check_metadata", "metadata_alias",
    "aggregate", "resample", "check_valid_data_fraction", "sza_check",
    "save_datasets", "format_decoration", "check_results", "file_publisher",
    "use_fsspec_cache", "clear_fsspec_cache", "uploader", "check_s3_file")

  /** Is this worker the remote uploader? The loader collapses the
    * reference's dotted `trollflow2.plugins.s3.uploader` to its last
    * segment, so both spellings resolve here. */
  private def isUploader(w: WorkerSpec): Boolean =
    w.fun == "uploader" || w.fun == "s3.uploader"

  /** Build the full worker chain; `inputPaths` are the per-job input
    * files carried by the triggering message (launcher.py:287), the one
    * parameter that cannot come from the config file. */
  def chain(cfg: LoadedConfig, inputPaths: Seq[String]): Seq[Plugin] =
    cfg.workers.map(build(cfg, _, inputPaths))

  def build(cfg: LoadedConfig, worker: WorkerSpec, inputPaths: Seq[String]): Plugin = {
    // most-local-wins: worker inline options > product-list root settings,
    // with /common as fallback (dict_tools.py:93-96)
    val settings = cfg.productList.common ++ cfg.productList.settings ++ worker.options
    def str(key: String): Option[String] = settings.get(key)
    def required(key: String): String = str(key).getOrElse(
      throw ConfigException(s"${worker.fun}: missing required setting '$key'"))
    // scalar conversions surface as ConfigException, never parser internals
    def conv[T](key: String, raw: String, what: String)(f: String => T): T =
      try f(raw.trim)
      catch {
        case e: IllegalArgumentException =>
          throw ConfigException(
            s"${worker.fun}: setting '$key' must be $what, got: '$raw'", e)
      }
    def bool(key: String): Boolean =
      str(key).exists(conv(key, _, "a boolean")(_.toBoolean))
    def num(key: String, raw: String): Double = conv(key, raw, "a number")(_.toDouble)
    def int(key: String, raw: String): Int = conv(key, raw, "an integer")(_.toInt)
    def json(key: String): Option[JsonNode] = str(key).map { raw =>
      try new ObjectMapper().readTree(raw)
      catch {
        case NonFatal(e) =>
          throw ConfigException(
            s"${worker.fun}: setting '$key' is not valid JSON: $raw", e)
      }
    }

    worker.fun match {
      case "create_scene" =>
        CreateScene(inputPaths,
          reader = str("reader").getOrElse("parquet"),
          options = json("reader_kwargs").map(objAsStringMap(_, "reader_kwargs"))
            .getOrElse(Map.empty))

      case "load_composites" =>
        // graft convention: each worker option is product-name -> SQL
        // expression (the satpy composite recipes live in code here)
        LoadComposites(derived = worker.options)

      case "check_metadata" =>
        // {platform_name: [noaa15, ...], start_time: -40} — the numeric
        // start_time entry is the max-age-minutes rule (plugins/__init__.py:705-711)
        json("check_metadata") match {
          case None => CheckMetadata()
          case Some(conf) =>
            val fields = conf.properties().asScala.map(e => e.getKey -> e.getValue)
            val allowed = fields.collect {
              case (k, v) if v.isArray =>
                k -> v.elements().asScala.map(_.asText).toSeq
            }.toMap
            val maxAge = fields.collectFirst {
              case ("start_time", v) if v.isNumber => v.asLong
            }
            CheckMetadata(allowed = allowed, maxAgeMinutes = maxAge)
        }

      case "metadata_alias" =>
        MetadataAlias(aliases = json("metadata_aliases")
          .map(n => n.properties().asScala.map(e =>
            e.getKey -> objAsStringMap(e.getValue, "metadata_aliases")).toMap)
          .getOrElse(Map.empty))

      case "aggregate" =>
        // the reference passes the `aggregate:` mapping straight to
        // Scene.aggregate(x=…, y=…) (plugins/__init__.py:129-130)
        val kw = json("aggregate").map(objAsStringMap(_, "aggregate"))
          .getOrElse(Map.empty)
        Aggregate(
          xFactor = kw.get("x").map(int("aggregate.x", _)).getOrElse(1),
          yFactor = kw.get("y").map(int("aggregate.y", _)).getOrElse(1))

      case "resample" =>
        // use_coarsest_area/use_min_area and use_finest_area/use_max_area
        // (plugins/__init__.py:171-186) select the native re-grid mode
        val nativeMode =
          if (bool("use_coarsest_area") || bool("use_min_area")) Some("coarsest")
          else if (bool("use_finest_area") || bool("use_max_area")) Some("finest")
          else None
        val targets = json("resample_targets").map { node =>
          if (!node.isArray)
            throw ConfigException("resample: 'resample_targets' must be a JSON list")
          node.elements().asScala.map { t =>
            def i(f: String): Long =
              Option(t.get(f)).map(_.asLong).getOrElse(
                throw ConfigException(s"resample target missing '$f': $t"))
            // ewa knobs: per-target JSON field, falling back to the
            // product-list setting of the same name, then Raster.Ewa's
            // RESAMPLER_DEFAULT_OPTIONS["ewa"] defaults
            // (plugins/__init__.py:134-146)
            val dflt = Raster.Ewa()
            def ewaNum(f: String, d: Double): Double =
              Option(t.get(f)).map(_.asDouble)
                .orElse(str(f).map(num(f, _))).getOrElse(d)
            ResampleTarget(
              area = Option(t.get("area")).map(_.asText).getOrElse(
                throw ConfigException(s"resample target missing 'area': $t")),
              width = i("width").toInt, height = i("height").toInt,
              srcYMin = i("src_y_min"), srcYMax = i("src_y_max"),
              srcXMin = i("src_x_min"), srcXMax = i("src_x_max"),
              mode = Option(t.get("mode")).map(_.asText)
                .orElse(str("resampler")).getOrElse("average"),
              ewa = Raster.Ewa(
                distanceMax = ewaNum("weight_distance_max", dflt.distanceMax),
                weightMin = ewaNum("weight_min", dflt.weightMin),
                weightSumMin = ewaNum("weight_sum_min", dflt.weightSumMin),
                maximumWeightMode = Option(t.get("maximum_weight_mode"))
                  .map(_.asBoolean).getOrElse(bool("maximum_weight_mode")),
                // swath geometry: absent = circular footprint
                rowsPerScan = Option(t.get("rows_per_scan")).map(_.asInt)
                  .orElse(str("rows_per_scan").map(int("rows_per_scan", _))),
                weightDeltaMax = ewaNum("weight_delta_max", dflt.weightDeltaMax)))
          }.toSeq
        }.getOrElse {
          if (nativeMode.isDefined) Seq.empty[ResampleTarget]
          else throw ConfigException(
            "resample: no 'resample_targets' setting — area geometry has no " +
              "satpy registry analog, declare target grids in the config " +
              "(or use_coarsest_area/use_finest_area for native re-gridding), " +
              "or construct Resample in code")
        }
        // reduce_data is validated and ignored: the crop is resample semantics
        bool("reduce_data")
        Resample(targets, nativeMode = nativeMode)

      case "check_valid_data_fraction" =>
        // the reference's setting is a PERCENT (doc/source/plugins.rst:
        // "min_valid_data_fraction: 10.0" = 10%); the plugin's parameter
        // is a [0,1] fraction compared against the valid (non-null,
        // non-NaN) share of each product
        CheckValidDataFraction(
          minFraction =
            num("min_valid_data_fraction", required("min_valid_data_fraction")) / 100.0)

      case "sza_check" => SzaCheck()

      case "save_datasets" =>
        // with an uploader downstream, the reference NEVER writes to
        // output_dir locally: files land in staging_zone (plugins/s3.py:
        // 35-39's filename.replace(output_dir, staging_zone)) and the
        // uploader performs the staging→output_dir hop — output_dir may
        // be a remote URI a local rename can't reach. Build save_datasets
        // publishing INTO the staging zone; [[RemoteUpload]] finishes.
        val uploaderDownstream = cfg.workers.exists(isUploader)
        if (uploaderDownstream && str("staging_zone").isEmpty)
          throw ConfigException(
            "save_datasets: an uploader worker requires 'staging_zone' " +
              "(plugins/s3.py:35 — files stage locally, upload publishes)")
        val earlyMoving = bool("early_moving")
        // call_on_done (plugins/__init__.py:350-364, 1082-1140): a list of
        // callback names — bare or the reference's dotted
        // `trollflow2.plugins.callback_*` form (its `!!python/name` tag is
        // rejected by the safe loader, the name string is the surface)
        val callOnDone = json("call_on_done").map { n =>
          if (!n.isArray)
            throw ConfigException("save_datasets: 'call_on_done' must be a list")
          n.elements().asScala.map(_.asText).toSeq.map { cbName =>
            if (cbName.split('.').last == "callback_move" && !earlyMoving)
              throw ConfigException(
                "save_datasets: callback_move requires early_moving: true " +
                  "(plugins/__init__.py:1100 — the move happens per file, " +
                  "not at end-of-batch)")
            Plugins.Callbacks.byName(cbName).getOrElse(throw ConfigException(
              s"save_datasets: unknown call_on_done callback '$cbName' — " +
                "known: callback_close, callback_move, callback_log"))
          }
        }.getOrElse(Seq.empty)
        SaveDatasets(
          outDir =
            if (uploaderDownstream) required("staging_zone")
            else required("output_dir"),
          fnamePattern = str("fname_pattern")
            .getOrElse("{area}_{product}.{format}"),
          eagerWriting = bool("eager_writing"),
          stagingZone = if (uploaderDownstream) None else str("staging_zone"),
          overviews = json("overviews").map { n =>
            if (!n.isArray)
              throw ConfigException("save_datasets: 'overviews' must be a list")
            n.elements().asScala.map(_.asInt).toSeq
          }.getOrElse(Seq.empty),
          callbacks = callOnDone,
          earlyMoving = earlyMoving)

      case "use_fsspec_cache" | "clear_fsspec_cache" =>
        // the reference's root-level `fsspec_cache:` mapping
        // (plugins/__init__.py:1149-1150): `type` picks the fsspec cache
        // protocol; the storage location lives in `options.cache_storage`
        // (fsspec filecache's knob). Here the staged-copy directory is the
        // one parameter that matters; `type` is accepted and ignored.
        val cacheDir = json("fsspec_cache").flatMap { n =>
          Option(n.get("options")).flatMap(o => Option(o.get("cache_storage")))
            .orElse(Option(n.get("cache_storage")))
            .map(_.asText)
        }.getOrElse(throw ConfigException(
          s"${worker.fun}: missing 'fsspec_cache' setting with " +
            "options.cache_storage (the staged-copy directory)"))
        if (worker.fun == "use_fsspec_cache") CacheInputs(cacheDir)
        else ClearInputCache(cacheDir)

      case "uploader" | "s3.uploader" =>
        // W7: the reference's S3Mover.move() — staged file to the remote
        // output_dir, then drop the staged copy. The remote scheme is
        // whatever the Hadoop connector set supports (s3a://, hdfs://,
        // file://); `delete_staged: false` keeps the staged copies.
        RemoteUpload(
          remoteDir = required("output_dir"),
          deleteSource = str("delete_staged")
            .forall(conv("delete_staged", _, "a boolean")(_.toBoolean)))

      case "check_s3_file" | "check_remote_file" =>
        // W8: non-empty-at-the-remote audit of the uploaded manifest
        CheckRemoteFile()

      case "format_decoration" => FormatDecoration()
      case "check_results" => CheckResults()

      case "file_publisher" =>
        FilePublisher(topicPattern = str("publish_topic")
          .getOrElse("/file/{product}"))

      case other =>
        throw ConfigException(
          s"unknown plugin '$other' — registry knows: ${names.toSeq.sorted.mkString(", ")}")
    }
  }

  private def objAsStringMap(node: JsonNode, where: String): Map[String, String] = {
    if (!node.isObject)
      throw ConfigException(s"'$where' must be a JSON object, got: $node")
    node.properties().asScala.map { e =>
      e.getKey -> (if (e.getValue.isTextual) e.getValue.asText
                   else e.getValue.toString)
    }.toMap
  }
}
