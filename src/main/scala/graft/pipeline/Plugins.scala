package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import scala.util.control.NonFatal

import graft.operators.Raster

/** The plugin chain — the engine's operator surface, mirroring the
  * reference's `fun(job)` plugins (doc/source/plugins.rst:4-11) as pure
  * `PipelineContext => PipelineContext` transforms over immutable state.
  *
  * Laziness contract (the heart of the reference's design,
  * plugins/__init__.py:394-395): every plugin up to [[SaveDatasets]] only
  * *builds* DataFrames — Catalyst holds the logical plans exactly like
  * dask holds the delayed graph — and SaveDatasets' write actions are the
  * only compute triggers, apart from [[CheckValidDataFraction]]'s one
  * data-dependent aggregate (the reference's dask.persist there,
  * plugins/__init__.py:1014-1032). That check persists the area frames it
  * measures through the job's [[JobScope]], so under [[Runner]] each
  * resampled area is computed once per job and the writes read the
  * cache; a frame no check persisted is computed once per action that
  * reads it.
  *
  * Abort contract: a plugin aborts with [[PipelineContext.abort]] and
  * [[Runner]] stops the chain there, so no plugin tests `ctx.aborted`
  * itself.
  */
final case class WrittenFile(
    area: Option[String], product: String, format: String,
    path: String, rows: Long, bytes: Long)

final case class PipelineContext(
    spark: SparkSession,
    spec: ProductList,
    /** Message/batch metadata (the reference's `input_mda`). */
    metadata: Map[String, String],
    /** The Scene analog: product frames per area key (None = native). */
    frames: Map[Option[String], DataFrame],
    worklist: Seq[WorkItem],
    manifest: Seq[WrittenFile] = Seq.empty,
    /** The job dict's `input_filenames` slot (launcher.py:287): the
      * per-job input URIs, rewritable by upstream plugins — that is how
      * the reference's `use_fsspec_cache` redirects `create_scene` to
      * cached copies (plugins/__init__.py:1141-1158). When non-empty it
      * takes precedence over [[Plugins.CreateScene]]'s constructor
      * paths. */
    inputs: Seq[String] = Seq.empty,
    /** Set by an aborting plugin (`AbortProcessing`, launcher.py:456-457).
      * [[Runner]] stops the chain at the first aborted context: the
      * plugins after it are not run. */
    aborted: Option[String] = None,
    /** Where plugins cache frames for the length of the job: [[Runner]]
      * opens one per priority slice and releases it when the slice ends.
      * A context built outside the Runner caches nothing. */
    scope: JobScope = JobScope.none) {
  def abort(reason: String): PipelineContext = copy(aborted = Some(reason))
}

trait Plugin extends Serializable {
  def name: String
  def apply(ctx: PipelineContext): PipelineContext
  /** Lifecycle teardown (class plugins' `stop()`,
    * plugins/__init__.py:570-579). */
  def stop(): Unit = ()
}

object Plugins {

  /** Metadata timestamps arrive in any form Python's
    * `datetime.fromisoformat` accepts — including NAIVE datetimes
    * ("2019-01-01T12:00:00", no zone), the commonest posttroll shape.
    * `Instant.parse` rejects those, so every plugin reading a timestamp
    * goes through [[Messages.parseIso]] (naive = UTC, matching the
    * reference) and throws a NAMED error on genuinely unparseable
    * input instead of a bare DateTimeParseException. */
  private def isoInstant(key: String, s: String): Instant =
    Messages.parseIso(s).getOrElse(throw new IllegalArgumentException(
      s"metadata $key='$s' is not an ISO datetime"))

  /** Metadata keys of the scene time window (the reference's
    * `start_time`/`end_time` message fields). */
  private val StartTime = "start_time"
  private val EndTime = "end_time"

  /** `create_scene` (plugins/__init__.py:86-99): open inputs with a named
    * reader into the native-projection frame; `options` carries the
    * reference's `reader_kwargs` (launcher.py passes them through to the
    * satpy reader — here they become Spark reader options, e.g.
    * `header`/`inferSchema` for csv). Reader failure aborts the job,
    * matching the reference's AbortProcessing.
    *
    * A non-empty `ctx.inputs` takes precedence over the constructor
    * `paths`: the reference's `create_scene` always reads the job dict's
    * `input_filenames` slot (plugins/__init__.py:93), which upstream
    * plugins like `use_fsspec_cache` rewrite in place. */
  final case class CreateScene(paths: Seq[String], reader: String = "parquet",
      options: Map[String, String] = Map.empty)
      extends Plugin {
    val name = "create_scene"
    def apply(ctx: PipelineContext): PipelineContext =
      try {
        val srcs = if (ctx.inputs.nonEmpty) ctx.inputs else paths
        val df = ctx.spark.read.format(reader).options(options).load(srcs: _*)
        ctx.copy(frames = ctx.frames + (None -> df))
      } catch {
        case NonFatal(e) => ctx.abort(s"create_scene failed: ${e.getMessage}")
      }
  }

  /** `use_fsspec_cache` (plugins/__init__.py:1141-1158): stage the job's
    * input files into a cache before `create_scene` opens them. The
    * reference wraps each URI in an fsspec caching filesystem
    * (`blockcache::` / `filecache::`) so remote reads hit local copies;
    * the Spark-native analog copies through Hadoop `FileSystem` — the
    * same abstraction the readers use, so `s3a://`, `hdfs://` and
    * `file://` URIs all work — into `cacheDir`, then rewrites
    * `ctx.inputs` to the cached copies exactly as the reference rewrites
    * `job["input_filenames"]`.
    *
    * Cache keys are content-addressed by source URI (md5 prefix +
    * basename), so a file already staged is NOT re-copied — fsspec's
    * `filecache` semantics. At cluster scale `cacheDir` must be a
    * shared filesystem visible to all executors (the staged paths are
    * read distributed by the scan); a driver-local temp dir only works
    * in local mode. Copy failure aborts the job like any other plugin
    * error. */
  final case class CacheInputs(cacheDir: String) extends Plugin {
    val name = "use_fsspec_cache"
    def apply(ctx: PipelineContext): PipelineContext =
      if (ctx.inputs.isEmpty) ctx
      else try {
        val conf = ctx.spark.sparkContext.hadoopConfiguration
        val dst = new org.apache.hadoop.fs.Path(cacheDir)
        val dstFs = dst.getFileSystem(conf)
        dstFs.mkdirs(dst)
        val cached = ctx.inputs.map { uri =>
          val src = new org.apache.hadoop.fs.Path(uri)
          val srcFs = src.getFileSystem(conf)
          val key = java.security.MessageDigest.getInstance("MD5")
            .digest(uri.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
          val target = new org.apache.hadoop.fs.Path(dst, s"${key}_${src.getName}")
          if (!dstFs.exists(target)) {
            // stage + rename: a crash mid-copy must never leave a
            // truncated file under the final cache key — every later job
            // would silently reuse it as input (the exists() fast path
            // above is exactly what makes a direct copy dangerous)
            val tmp = new org.apache.hadoop.fs.Path(dst,
              s".${key}_${src.getName}.tmp")
            org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, tmp,
              /*deleteSource=*/ false, /*overwrite=*/ true, conf)
            if (!dstFs.rename(tmp, target) && !dstFs.exists(target))
              throw new java.io.IOException(s"rename $tmp -> $target failed")
          }
          target.toString
        }
        ctx.copy(inputs = cached)
      } catch {
        case NonFatal(e) => ctx.abort(s"use_fsspec_cache failed: ${e.getMessage}")
      }
  }

  /** `clear_fsspec_cache` (plugins/__init__.py:1161-1167): drop every
    * staged copy in the cache directory (the reference calls
    * `fs.clear_cache()` on each input's caching filesystem). Never
    * aborts: a missing dir is already-clear. Like every plugin it does
    * not run after an abort (the reference's loop break); what an
    * aborted job staged is removed by the next clear, which deletes the
    * whole cache directory.
    *
    * Place it AFTER the write stage, like the reference's worker lists
    * do: frames are lazy plans over the staged paths, so clearing before
    * `save_datasets` has run its actions would pull the files out from
    * under the scan. */
  final case class ClearInputCache(cacheDir: String) extends Plugin {
    val name = "clear_fsspec_cache"
    def apply(ctx: PipelineContext): PipelineContext = {
      val dst = new org.apache.hadoop.fs.Path(cacheDir)
      val fs = dst.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dst)) fs.delete(dst, /*recursive=*/ true)
      ctx
    }
  }

  /** `load_composites` (plugins/__init__.py:102-121): declare derived
    * product columns. Derivations are SQL expressions over the scene frame;
    * shared inputs are deduplicated by Catalyst's common-subexpression
    * reuse, and generation is naturally delayed past resampling
    * (`delay_composites` — free under lazy plans). */
  final case class LoadComposites(derived: Map[String, String]) extends Plugin {
    val name = "load_composites"
    def apply(ctx: PipelineContext): PipelineContext =
      ctx.frames.get(None) match {
        case None => ctx.abort("load_composites: no scene")
        case Some(df) =>
          val out = derived.foldLeft(df) { case (d, (colName, sqlExpr)) =>
            d.withColumn(colName, expr(sqlExpr))
          }
          ctx.copy(frames = ctx.frames + (None -> out))
      }
  }

  /** `check_metadata` (plugins/__init__.py:687-714): abort the whole job
    * if a metadata value is outside the allowed list, or the batch is too
    * old (negative maxAgeMinutes = max age, the reference's convention). */
  final case class CheckMetadata(
      allowed: Map[String, Seq[String]] = Map.empty,
      maxAgeMinutes: Option[Long] = None,
      now: () => Instant = () => Instant.now()) extends Plugin {
    val name = "check_metadata"
    def apply(ctx: PipelineContext): PipelineContext = {
      val badKey = allowed.collectFirst {
        case (k, vs) if ctx.metadata.get(k).exists(v => !vs.contains(v)) =>
          s"$k=${ctx.metadata(k)} not in ${vs.mkString(",")}"
      }
      val tooOld = maxAgeMinutes.flatMap { age =>
        ctx.metadata.get(StartTime).flatMap { ts =>
          val ageMin = java.time.Duration.between(isoInstant(StartTime, ts), now()).toMinutes
          if (age < 0 && ageMin > -age) Some(s"$StartTime older than ${-age} min")
          else if (age > 0 && ageMin < age) Some(s"$StartTime younger than $age min")
          else None
        }
      }
      badKey.orElse(tooOld).map(ctx.abort).getOrElse(ctx)
    }
  }

  /** `metadata_alias` (plugins/__init__.py:717-736): rewrite metadata
    * values through an alias map; unknown values pass through. Multi-valued
    * metadata (the reference's list/tuple/set values, rewritten element-wise
    * at plugins/__init__.py:729-731 — sensor lists being the common case,
    * :611-615) is represented here as a [[Messages.ListSep]]-joined
    * string, the form [[Messages.parse]] gives a list value: each element
    * is rewritten through the alias map and the list re-joined in order;
    * a value without the separator is the scalar case. */
  final case class MetadataAlias(aliases: Map[String, Map[String, String]])
      extends Plugin {
    val name = "metadata_alias"
    def apply(ctx: PipelineContext): PipelineContext =
      ctx.copy(metadata = ctx.metadata.map { case (k, v) =>
        k -> aliases.get(k).map { amap =>
          v.split(java.util.regex.Pattern.quote(Messages.ListSep), -1)
            .map(e => amap.getOrElse(e, e)).mkString(Messages.ListSep)
        }.getOrElse(v)
      })
  }

  /** `aggregate` (plugins/__init__.py:124-130): block-downsample the scene
    * raster by integer pixel blocks — [[Raster.blockMean]], one hash
    * aggregate with map-side partials. */
  final case class Aggregate(xFactor: Int, yFactor: Int) extends Plugin {
    require(xFactor > 0 && yFactor > 0, "block factors must be positive")
    val name = "aggregate"
    def apply(ctx: PipelineContext): PipelineContext =
      ctx.copy(frames = ctx.frames.map { case (area, df) =>
        val keys = df.columns.filterNot(Set("y", "x", "value"))
        area -> Raster.blockMean(df, keys.toSeq, Seq("y" -> yFactor.toLong, "x" -> xFactor.toLong))
          .drop("__n")
      })
  }

  /** `resample` (plugins/__init__.py:133-201): produce one frame per target
    * area by remapping source cells into the target grid. Per-target
    * `mode` (the reference's per-area `resampler` override, :149-159)
    * picks one of the shared tall-layout kernels in [[Raster]]:
    *   - `average` (default): [[Raster.average]], the area-average of the
    *     source rows covering each target cell;
    *   - `nearest` (the reference's default kd-tree nearest resampler):
    *     [[Raster.nearest]], the source row whose center is nearest the
    *     target cell center, as an argmin aggregate on the target key;
    *   - `bilinear`: [[Raster.bilinear]] over the per-pixel cell means,
    *     mask-aware over the ≤ 4 surrounding cells;
    *   - `ewa` (the reference's elliptical-weighted-average swath
    *     resampler, plugins/__init__.py:134-146): [[Raster.ewa]]'s
    *     scatter-splat over the cell means.
    * The source is ALWAYS cropped to the target's source window
    * ([[Raster.Grid.crop]]) — resampling semantics never include
    * out-of-window cells (in the reference the kd-tree/EWA footprint does
    * this implicitly). The reference's `reduce_data` pre-crop toggle has
    * nothing to switch here: Catalyst pushes the window predicate into
    * the parquet scan either way, so [[PluginRegistry]] validates and
    * ignores it. The native (None) frame passes through, as the
    * reference's `null` area does. */
  final case class Resample(
      targets: Seq[ResampleTarget],
      /** `use_coarsest_area` / `use_finest_area` (plugins/__init__.py:
        * 171-186): for the native (None) area, re-grid every product onto
        * the coarsest ("coarsest") or finest ("finest") member product's
        * grid — satpy's native resampling for sensors whose channels come
        * at multiple resolutions. Integer factors only (the native
        * resampler's contract): block-mean when shrinking, replication
        * when growing. */
      nativeMode: Option[String] = None) extends Plugin {
    require(nativeMode.forall(Set("coarsest", "finest")),
      s"nativeMode must be coarsest|finest: $nativeMode")
    val name = "resample"

    /** One axis of the native re-grid: n → t cells. */
    private def regridAxis(df: DataFrame, keys: Seq[String], cSrc: String,
        otherCoord: String, n: Long, t: Long): DataFrame =
      if (t == n) df
      else if (n % t == 0)
        Raster.blockMean(df, keys :+ otherCoord, Seq(cSrc -> n / t)).drop("__n")
      else {
        // t % n == 0 checked by the caller: replicate each source cell
        val f = t / n
        df.withColumn("__r", explode(sequence(lit(0L), lit(f - 1))))
          .select((keys.map(col) :+ col(otherCoord)
            :+ (col(cSrc) * f + col("__r")).as(cSrc) :+ col("value")): _*)
      }

    /** Native re-grid of the whole scene onto the coarsest/finest member
      * grid. Per-product grid discovery is one config-sized collect (a
      * row per product); the re-grid itself is per-product block-mean /
      * replication — distributed, never a driver-side raster. */
    private def resampleNative(src: DataFrame, mode: String,
        keys: Seq[String]): Either[String, DataFrame] = {
      val grids = src.groupBy(keys.map(col): _*)
        .agg((max(col("y")) + 1).as("__h"), (max(col("x")) + 1).as("__w"))
        .collect()
        .map(r => keys.map(k => r.getAs[Any](k)).toSeq ->
          (r.getAs[Number]("__h").longValue, r.getAs[Number]("__w").longValue))
      if (grids.isEmpty) Right(src)
      else {
        // deterministic pick: min/max cell count, ties by (h, w, key)
        val ordered = grids.sortBy { case (k, (h, w)) => (h * w, h, w, k.mkString("|")) }
        val (_, (th, tw)) = if (mode == "coarsest") ordered.head else ordered.last
        val bad = grids.collectFirst {
          case (k, (h, w)) if (h % th != 0 && th % h != 0) ||
            (w % tw != 0 && tw % w != 0) =>
            s"product ${k.mkString("/")} grid ${h}x$w has no integer factor vs target ${th}x$tw"
        }
        bad match {
          case Some(msg) => Left(s"resample $mode: $msg")
          case None =>
            val parts = grids.map { case (kv, (h, w)) =>
              val member = keys.zip(kv)
                .foldLeft(lit(true))((c, p) => c && col(p._1) <=> lit(p._2))
              val slice = src.filter(member)
              regridAxis(
                regridAxis(slice, keys, "y", "x", h, th),
                keys, "x", "y", w, tw)
            }
            Right(parts.reduce(_.unionByName(_)))
        }
      }
    }

    def apply(ctx: PipelineContext): PipelineContext =
      ctx.frames.get(None) match {
        case None => ctx.abort("resample: no scene")
        case Some(src0) =>
          val keyCols = src0.columns.filterNot(Set("y", "x", "value")).toSeq
          val nativeResult = nativeMode match {
            case Some(mode) => resampleNative(src0, mode, keyCols)
            case None => Right(src0)
          }
          nativeResult match {
            case Left(err) => ctx.abort(err)
            case Right(src) => resampleTargets(ctx, src, keyCols)
          }
      }

    private def resampleTargets(ctx: PipelineContext, src: DataFrame,
        keys: Seq[String]): PipelineContext = {
      val resampled = targets.map { t =>
        val cropped = t.grid.crop(src)
        val out = t.mode match {
          case "average" => Raster.average(cropped, keys, t.grid)
          case "nearest" => Raster.nearest(cropped, keys, t.grid)
          case "bilinear" =>
            Raster.bilinear(Raster.cellMeans(cropped, keys), keys, t.grid.yAxis, t.grid.xAxis)
          case "ewa" => Raster.ewa(Raster.cellMeans(cropped, keys), keys, t.grid, t.ewa)
          case other =>
            throw new IllegalArgumentException(s"unknown resample mode: $other")
        }
        Option(t.area) -> out.drop("__n")
      }
      // native mode also republishes the re-gridded None frame (the
      // reference stores it in resampled_scenes, plugins/__init__.py:175)
      val nativeFrame: Map[Option[String], DataFrame] =
        if (nativeMode.isDefined) Map((None: Option[String]) -> src) else Map.empty
      ctx.copy(frames = ctx.frames ++ resampled ++ nativeFrame)
    }
  }
  final case class ResampleTarget(area: String, width: Int, height: Int,
      srcYMin: Long, srcYMax: Long, srcXMin: Long, srcXMax: Long,
      mode: String = "average",
      /** the `ewa` mode's settings (plugins/__init__.py:134-146). */
      ewa: Raster.Ewa = Raster.Ewa()) {
    def grid: Raster.Grid = Raster.Grid(srcYMin, srcYMax, srcXMin, srcXMax, height, width)
  }

  /** `check_valid_data_fraction` (plugins/__init__.py:955-1079): compute
    * per-product valid fractions of every resampled area in ONE aggregate
    * pass and drop the failing work-list items. A null or NaN value is
    * fill, as the reference's `notnull()` on a float array counts it.
    * Data-dependent pruning — the only plugin that triggers compute
    * before save, exactly like the reference.
    *
    * The checked area frames are persisted through the job's
    * [[JobScope]] and returned in `ctx.frames`, the reference's
    * `dask.persist` of what it measured (plugins/__init__.py:1014-1032):
    * the aggregate fills the cache, and [[SaveDatasets]] reads it instead
    * of re-running scan → aggregate → resample per write. */
  final case class CheckValidDataFraction(minFraction: Double) extends Plugin {
    val name = "check_valid_data_fraction"
    def apply(ctx: PipelineContext): PipelineContext = {
      val checked = ctx.frames.toSeq.collect {
        case (Some(name), df) => name -> ctx.scope.persist(df)
      }
      if (checked.isEmpty) ctx
      else {
        // ALL areas in ONE aggregation over one unioned plan — the
        // reference checks every product at once (plugins/__init__.py:
        // 1014-1032) so shared inputs compute together. The collect() is
        // config-sized: one row per (area, product).
        val tagged = checked.map { case (name, df) =>
          df.select(lit(name).as("__cvdf_area"),
            col("product").cast("string").as("__cvdf_product"),
            when(col("value").isNull || isnan(col("value")), 0.0).otherwise(1.0)
              .as("__cvdf_valid"))
        }
        val fractions: Map[(Option[String], String), Double] =
          tagged.reduce(_.unionAll(_))
            .groupBy(col("__cvdf_area"), col("__cvdf_product"))
            .agg(avg(col("__cvdf_valid")).as("frac"))
            .collect()
            .map(r => (Option(r.getString(0)), r.getString(1)) -> r.getDouble(2))
            .toMap
        val pruned = ctx.worklist.filter { item =>
          item.area.isEmpty ||
            fractions.get((item.area, item.product)).forall(_ >= minFraction)
        }
        ctx.copy(frames = ctx.frames ++ checked.map { case (n, df) => Option(n) -> df },
          worklist = pruned)
      }
    }
  }

  /** trollsift-style `compose` (used at plugins/__init__.py:211-212):
    * fill `{key}` and `{key:%FMT}` placeholders from metadata + work-item
    * settings. Delegates to [[graft.functions.Compose]], which also exposes
    * the same semantics as a codegen'd Catalyst expression (`compose_tpl`)
    * for row-level use. */
  def compose(pattern: String, values: Map[String, String]): String =
    graft.functions.Compose.compose(pattern, values)

  /** `save_datasets` + `prepared_filename` (plugins/__init__.py:330-395,
    * 207-255): for every work-list item, write the product slice of its
    * area frame with the named writer to a *temporary* directory, then
    * atomically rename into place after a successful write (tmp + rename
    * commit, W3) and record it in the manifest. Writers: any Spark sink
    * format, named by the item's `writer` setting or derived from its
    * format (parquet / csv / json).
    *
    * Batching (default, the reference's one `compute_writer_results`
    * over every writer's delayed result, plugins/__init__.py:392-395):
    * every sink's plan is BUILT before any is executed — an analysis
    * error in the last sink surfaces before a single byte of the first is
    * written. Sinks with the same writer and the same output columns
    * (names and types, in order) then form one group, written by ONE
    * Spark action: each sink is tagged with an integer `__sink` id, the
    * group is unioned and written once with `partitionBy("__sink")` into
    * a tmp dir, and each `__sink=i` directory is renamed to its sink's
    * file name (the partition column is not in the data files, so every
    * file keeps exactly its columns and their order). Groups run in the
    * order each first appears in the work list; the area frames they
    * read are the ones [[CheckValidDataFraction]] persisted for the job.
    * `eagerWriting=true` (doc/source/plugins.rst:162-167) runs the same
    * group write with one sink per group, each planned just before its
    * write runs: a file is written before the next one's plan is even
    * constructed, trading that all-or-nothing analysis for earlier
    * output.
    *
    * Row counts ride the write itself via `Dataset.observe` — never a
    * separate `count()` pass; a group observes one `count_if(__sink = i)`
    * per sink. The product-missing-from-scene skip (P1,
    * plugins/__init__.py:398-410) is the zero-row case: a sink with no
    * rows has no partition directory, so the skip costs no extra job
    * either.
    *
    * `callbacks` (`call_on_done`, plugins/__init__.py:350-464,
    * 1082-1138): hooks invoked in order for every committed file, after
    * the final rename — the close→move→log chain of the reference; a
    * hook sees the manifest entry of the file it was called for. Files
    * are published in work-list order in both modes, so callbacks fire
    * in the same order batched as eagerly.
    *
    * `stagingZone` (plugins/__init__.py:223-255, 317-327): when set, files
    * are written (tmp + rename) inside the staging directory and moved to
    * `outDir` only after the write succeeds — the reference's two-hop
    * commit for sinks where the final location is slow/remote. Publication
    * timing follows `renamed_files` (plugins/__init__.py:318-327): by
    * default every staged file moves to `outDir` together, AFTER the last
    * write — all-or-nothing publication, so a consumer watching `outDir`
    * never sees a partial batch. `earlyMoving=true` (`early_moving`,
    * plugins/__init__.py:377-381, the reference's `callback_move`
    * contract) instead moves each file as soon as its own write and those
    * of every file before it in the work list committed: the end of the
    * first group write that leaves no earlier file unwritten (eagerly,
    * the moment its own write commits). On a failure in deferred mode,
    * files of groups that already committed stay in the staging zone —
    * same as the reference's un-renamed tmp names — for inspection or
    * re-run, and the failing write's tmp dir is removed; a group's files
    * are renamed only after its one write succeeded. Divergence: the
    * reference's `early_moving` without `callback_move` leaves files in
    * staging forever; here the move is native, so they always reach
    * `outDir` on success.
    * `overviews` (W5, plugins/__init__.py:928-944): per written raster,
    * also write reduced-resolution copies (block-mean by each factor) as
    * `<fname>.ov<factor>` siblings — the columnar analog of embedded
    * GeoTIFF overview levels. */
  final case class SaveDatasets(
      outDir: String, fnamePattern: String = "{area}_{product}.{format}",
      eagerWriting: Boolean = false,
      stagingZone: Option[String] = None, overviews: Seq[Int] = Seq.empty,
      callbacks: Seq[WrittenFile => Unit] = Seq.empty,
      earlyMoving: Boolean = false)
      extends Plugin {
    require(overviews.forall(_ > 1), s"overview factors must be > 1: $overviews")
    val name = "save_datasets"

    def apply(ctx: PipelineContext): PipelineContext = {
      Files.createDirectories(Paths.get(outDir))
      stagingZone.foreach(s => Files.createDirectories(Paths.get(s)))
      // without a staging zone the tmp->final rename IS the publication
      // (the reference's direct final-name write); deferral only exists
      // for the two-hop staged path
      val immediate = earlyMoving || stagingZone.isEmpty
      val pending = scala.collection.mutable.ArrayBuffer.empty[Staged]
      def commit(st: Staged): Option[WrittenFile] =
        if (immediate) Some(publish(st)) else { pending += st; None }
      val sinks = ctx.worklist.iterator.flatMap(planOne(ctx, _)).zipWithIndex
      val groups =
        if (eagerWriting) // each sink planned just before its own write
          sinks.map(sink => tagged(Seq(sink)))
        else // force every plan before the first action (see class doc)
          sinks.toList.groupBy { case (sink, _) =>
              // names and types in order; nullability may differ (the
              // bilinear kernel's y/x are non-null), the union widens it
              (sink.writer, sink.df.schema.map(f => (f.name, f.dataType))) }
            .values.toList.sortBy(_.head._2).map(tagged).iterator
      // files commit in work-list order: after each group, every sink up
      // to the first one not yet written
      val done = scala.collection.mutable.Map.empty[Int, Option[Staged]]
      var next = 0
      val written = groups.flatMap { case (members, union) =>
        done ++= writeGroup(members, union)
        val ready = Iterator.from(next).takeWhile(done.contains).toSeq
        next += ready.size
        ready.flatMap(i => done(i).flatMap(commit))
      }.toList
      // renamed_files (plugins/__init__.py:318-327): publish the whole
      // batch only after every write committed
      val manifest = if (immediate) written else pending.map(publish).toSeq
      ctx.copy(manifest = ctx.manifest ++ manifest)
    }

    /** A group's sinks, each tagged with its work-list index, unioned. */
    private def tagged(members: Seq[(Sink, Int)]): (Seq[(Sink, Int)], DataFrame) =
      members -> members.map { case (sink, i) => sink.df.withColumn(SinkCol, lit(i)) }
        .reduce(_.unionByName(_))

    /** One group's write: ONE Spark action for every sink in it, rows
      * per sink observed on the write. Returns each sink's staged
      * location, or None for the zero-row skip. */
    private def writeGroup(members: Seq[(Sink, Int)],
        union: DataFrame): Seq[(Int, Option[Staged])] = {
      val stageDir = stagingZone.getOrElse(outDir)
      val tmpPath = Paths.get(stageDir, s".tmp_${System.nanoTime()}_${members.head._2}")
      try {
        val obs = org.apache.spark.sql.Observation()
        val counts = members.map { case (_, i) =>
          count_if(col(SinkCol) === i).as(s"rows_$i") }
        union.observe(obs, counts.head, counts.tail: _*)
          .write.mode("overwrite").format(members.head._1.writer)
          .partitionBy(SinkCol).save(tmpPath.toString)
        val rows = obs.get
        val staged = members.map { case (sink, i) =>
          val part = tmpPath.resolve(s"$SinkCol=$i")
          i -> (if (!Files.isDirectory(part)) None else {
            val stagedPath = Paths.get(stageDir, sink.fname)
            atomicRename(part, stagedPath)
            Some(Staged(stagedPath, sink, rows(s"rows_$i").asInstanceOf[Long]))
          })
        }
        deleteRecursively(tmpPath)
        staged
      } catch {
        case NonFatal(e) =>
          deleteRecursively(tmpPath)
          throw new RuntimeException("save_datasets failed for " +
            members.map(_._1.item.product).distinct.mkString(", ") +
            s": ${e.getMessage}", e)
      }
    }

    /** Build the sink plans for one work item: the product slice plus any
      * overview levels. Pure plan construction — no Spark action. */
    private def planOne(ctx: PipelineContext, item: WorkItem): Seq[Sink] = {
      ctx.frames.get(item.area).orElse(ctx.frames.get(None)).toSeq.flatMap { frame =>
        // unknown product -> empty slice -> zero-row skip at commit (W2/P1)
        val slice = frame.filter(col("product").isin(item.members: _*))
        val writer = item.settings.getOrElse("writer", formatWriter(item.format))
        val fname = compose(fnamePattern,
          ctx.metadata ++ item.settings +
            ("area" -> item.area.getOrElse("native")) +
            ("product" -> item.product) + ("format" -> item.format))
        val main = Sink(slice, writer, fname, item)
        val ovs =
          if (!slice.columns.contains("y") || !slice.columns.contains("x")) Nil
          else {
            val keys = slice.columns.filterNot(Set("y", "x", "value")).toSeq
            overviews.map { f =>
              val down = Raster.blockMean(slice, keys, Seq("y" -> f.toLong, "x" -> f.toLong))
                .drop("__n")
              Sink(down, writer, s"$fname.ov$f", item)
            }
          }
        main +: ovs
      }
    }

    private case class Staged(path: Path, sink: Sink, rows: Long)

    /** Move a staged file to its final location (the staging→outDir hop,
      * a no-op when there is no staging zone), record it, and fire the
      * `call_on_done` chain — callbacks always see the FINAL path, the
      * reference's "callback_log after callback_move" ordering made
      * structural. */
    private def publish(st: Staged): WrittenFile = {
      val finalPath =
        if (stagingZone.isDefined) {
          val dst = Paths.get(outDir, st.sink.fname)
          atomicRename(st.path, dst)
          dst
        } else st.path
      val written = WrittenFile(st.sink.item.area, st.sink.item.product,
        st.sink.item.format, finalPath.toString, st.rows, dirSize(finalPath))
      callbacks.foreach(_(written))
      written
    }
    private def formatWriter(format: String): String = format match {
      case "tif" | "parquet" => "parquet" // geotiff stand-in: columnar sink
      case "csv" => "csv"
      case "json" => "json"
      case other => other
    }
    private def atomicRename(tmp: Path, dst: Path): Unit = {
      deleteRecursively(dst)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    }
    private def dirSize(p: Path): Long = {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }
    private def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** The reference's three built-in `call_on_done` callbacks
    * (plugins/__init__.py:1082-1140), resolvable by name from the
    * `save_datasets` config (`call_on_done: [callback_close,
    * callback_move, callback_log]`). Every callback receives the
    * manifest entry of the file it fires for, after that file reached
    * its FINAL path — see [[SaveDatasets]] `publish`. */
  object Callbacks {
    private lazy val log =
      org.slf4j.LoggerFactory.getLogger("graft.pipeline.save_datasets")

    /** `callback_log` (plugins/__init__.py:1082): INFO line with the
      * final filename and its byte size. The reference's "must run after
      * callback_move" footgun is structural here — callbacks only ever
      * see final paths. */
    val callbackLog: WrittenFile => Unit = f =>
      log.info(s"Wrote ${f.path} successfully, total ${f.bytes} bytes.")

    /** `callback_move` (plugins/__init__.py:1100): in the reference this
      * performs the staging→output move itself and therefore REQUIRES
      * `early_moving`. Here the move is native to the publish step, so
      * the name is a validated marker: [[PluginRegistry]] rejects it
      * without `early_moving: true` (the reference's contract), and the
      * per-file early move is what `earlyMoving` already does. */
    val callbackMove: WrittenFile => Unit = _ => ()

    /** `callback_close` (plugins/__init__.py:1123): closes the writer's
      * target handle before dependent callbacks. Spark writers close
      * their streams when the write action completes, before `publish`
      * runs — structurally a no-op, kept for config parity. */
    val callbackClose: WrittenFile => Unit = _ => ()

    /** Resolve a configured callback name (bare or dotted, the
      * `trollflow2.plugins.callback_log` form) to its implementation. */
    def byName(raw: String): Option[WrittenFile => Unit] =
      raw.split('.').last match {
        case "callback_log"   => Some(callbackLog)
        case "callback_move"  => Some(callbackMove)
        case "callback_close" => Some(callbackClose)
        case _                => None
      }
  }

  /** `format_decoration` (plugins/__init__.py:258-274): render decoration
    * text templates against the fully-resolved per-file values before
    * saving — the reference composes every `decorate.decorate[].text.txt`
    * in a deep copy of the format config (never mutating the product
    * list). Flat-settings form: every `decorate.<i>.text` setting is a
    * compose template, rewritten in place on the work item (the immutable
    * copy is free here). Runs before [[SaveDatasets]] so writers and
    * [[FilePublisher]] both see the rendered text. */
  final case class FormatDecoration() extends Plugin {
    val name = "format_decoration"
    private val DecoText = """decorate\.\d+\.text""".r
    def apply(ctx: PipelineContext): PipelineContext =
      ctx.copy(worklist = ctx.worklist.map { item =>
        val values = ctx.metadata ++ item.settings +
          ("area" -> item.area.getOrElse("native")) +
          ("product" -> item.product) + ("format" -> item.format)
        item.copy(settings = item.settings.map {
          case (k @ DecoText(), tpl) => k -> compose(tpl, values)
          case kv => kv
        })
      })
  }

  /** Lon/lat bounding box of a named target area — the area-registry
    * analog of the reference's `get_area_def(area_id)` (pyresample lookup,
    * plugins/__init__.py:677): here target areas are explicit config. */
  final case class AreaBounds(lonMin: Double, lonMax: Double,
      latMin: Double, latMax: Double) {
    /** Percentage of THIS area covered by `pass` (bbox overlap). */
    def coveragePctBy(pass: AreaBounds): Double = {
      val w = math.max(0.0, math.min(lonMax, pass.lonMax) - math.max(lonMin, pass.lonMin))
      val h = math.max(0.0, math.min(latMax, pass.latMax) - math.max(latMin, pass.latMin))
      100.0 * w * h / ((lonMax - lonMin) * (latMax - latMin))
    }
  }

  /** Solar zenith angle (degrees) at (lat, lon, t): the same declination +
    * hour-angle approximation as the query pack's column form
    * ([[graft.queries.Trollflow]] q42/q45), in scalar form for driver-side
    * config checks — the reference calls pyorbital's `sun_zenith_angle`
    * the same way (plugins/__init__.py:758). */
  object Solar {
    def szaDeg(lat: Double, lon: Double, ts: Instant): Double = {
      val utc = ts.atZone(java.time.ZoneOffset.UTC)
      val doy = utc.getDayOfYear.toDouble
      val hourFrac = utc.getHour + utc.getMinute / 60.0 + utc.getSecond / 3600.0
      val decl = -23.44 * math.cos(math.toRadians(360.0 / 365.0 * (doy + 10.0)))
      val ha = 15.0 * (hourFrac - 12.0) + lon
      math.toDegrees(math.acos(
        math.sin(math.toRadians(lat)) * math.sin(math.toRadians(decl)) +
          math.cos(math.toRadians(lat)) * math.cos(math.toRadians(decl)) *
            math.cos(math.toRadians(ha))))
    }
  }

  /** Ground-track model behind F5's overpass cut — the reference derives
    * this from TLE propagation (trollsched `Pass` via pyorbital,
    * plugins/__init__.py:851, 880-882). The swath footprint is every
    * point within `swathHalfAngleDeg` central angle of the sub-satellite
    * track, sampled every `stepMin` minutes; [[track]] is the one
    * swap-in point between models. Two implementations:
    * [[CircularOrbit]] (deterministic synthetic, the model q139's
    * oracle pins) and [[Sgp4Orbit]] (real SGP4/TLE propagation, the
    * model q150's oracle pins). */
  trait OrbitModel {
    def swathHalfAngleDeg: Double
    def stepMin: Double
    /** (sin(track lat), cos(track lat), track lon°) `m` minutes after
      * the model's epoch. */
    def track(m: Double): (Double, Double, Double)

    /** The ABSOLUTE instant `track(0)` corresponds to, when the model
      * has one: [[Sgp4Orbit]]'s TLE pins it, so a consumer can align a
      * scene window's wall-clock start to the right orbit segment.
      * [[CircularOrbit]] has no absolute epoch — its track is DEFINED
      * to start at the scene window (None). */
    def epoch: Option[Instant] = None

    /** Does the swath cover (lat°, lon°) at any sampled instant in
      * `[baseMin, baseMin + windowMin]` minutes after the model epoch? */
    def inSwath(latDeg: Double, lonDeg: Double, windowMin: Double,
        baseMin: Double = 0.0): Boolean = {
      val sp = math.sin(math.toRadians(latDeg))
      val cp = math.cos(math.toRadians(latDeg))
      var m = 0.0
      var hit = false
      while (!hit && m <= windowMin + 1e-9) {
        val (s, c, tl) = track(baseMin + m)
        val dot = math.min(1.0, math.max(-1.0,
          sp * s + cp * c * math.cos(math.toRadians(lonDeg - tl))))
        hit = math.toDegrees(math.acos(dot)) <= swathHalfAngleDeg
        m += stepMin
      }
      hit
    }
  }

  /** Deterministic circular-orbit ground track: standard math (argument
    * of latitude u = 2π·m/T; sin(track lat) = sin(incl)·sin(u); track
    * lon = node + atan2(cos(incl)·sin u, cos u) − ω⊕·m with Earth
    * turning 0.25068°/min under the orbit plane). Defaults match a
    * sun-synchronous LEO imager (and q139's constants). cos via
    * sqrt(1−sin²) — exact, since |track lat| ≤ 90°. */
  final case class CircularOrbit(inclinationDeg: Double = 98.7,
      periodMin: Double = 101.0, ascNodeLonDeg: Double = -80.0,
      swathHalfAngleDeg: Double = 12.0, stepMin: Double = 2.0)
      extends OrbitModel {
    def track(m: Double): (Double, Double, Double) = {
      val u = 2.0 * math.Pi * m / periodMin
      val inc = math.toRadians(inclinationDeg)
      val s = math.sin(inc) * math.sin(u)
      val lon = ascNodeLonDeg +
        math.toDegrees(math.atan2(math.cos(inc) * math.sin(u), math.cos(u))) -
        0.25068 * m
      (s, math.sqrt(1.0 - s * s), lon)
    }
  }

  /** REAL TLE-propagated ground track: [[graft.pipeline.Sgp4]]
    * (Spacetrack Report #3, verified against its published test vector)
    * produces the sub-satellite geodetic point at each sample — the same
    * chain the reference runs through pyorbital's `Orbital`
    * (plugins/__init__.py:823-846). `windowStartMin` offsets the scene
    * window from the TLE epoch (a pass rarely starts exactly at the
    * element set's epoch). */
  final case class Sgp4Orbit(tle: Tle,
      swathHalfAngleDeg: Double = 12.0, stepMin: Double = 2.0,
      windowStartMin: Double = 0.0) extends OrbitModel {
    @transient private lazy val prop = new Sgp4(tle)
    override def epoch: Option[Instant] = Some(
      tle.epoch.plusNanos(math.round(windowStartMin * 60.0 * 1e9)))
    def track(m: Double): (Double, Double, Double) = {
      val (latDeg, lonDeg, _) = prop.subPoint(windowStartMin + m)
      val rad = math.toRadians(latDeg)
      (math.sin(rad), math.cos(rad), lonDeg)
    }
  }

  /** F3 `covers` (plugins/__init__.py:580-684) as a pipeline Plugin: drop
    * work-list items whose area is covered by the pass footprint below the
    * item's `min_coverage` setting (percent), and republish the computed
    * `area_coverage_percent` into the surviving items' settings — the
    * reference stores it on the area dict (:663) and FilePublisher
    * republishes it (:524-527); here the work item IS that channel.
    * `min_coverage` unset or 0 = keep without computing, like :644-648.
    *
    * `coverageByCollectionArea` (:591-599): when enabled and the message
    * metadata carries a `collection_area_id` that is not one of the
    * configured production areas, the whole job aborts (AbortProcessing).
    *
    * The pass footprint is the lon/lat bounding box of the native scene
    * frame (`lonExpr`/`latExpr` are SQL expressions over it) — ONE
    * config-sized aggregate regardless of data scale. The reference
    * instead derives the footprint from TLE orbital geometry (trollsched
    * `Pass`) — satellite-specific and out of scope; with no usable
    * footprint every area is kept, exactly like the reference when
    * trollsched is missing (:586-589). */
  final case class Covers(
      areaBounds: Map[String, AreaBounds],
      lonExpr: String, latExpr: String,
      coverageByCollectionArea: Boolean = false) extends Plugin {
    val name = "covers"
    def apply(ctx: PipelineContext): PipelineContext = {
      val badCollection = coverageByCollectionArea &&
        ctx.metadata.get("collection_area_id")
          .exists(id => !ctx.spec.areas.exists(_.name.contains(id)))
      if (badCollection)
        ctx.abort(s"Area collection ID '${ctx.metadata("collection_area_id")}' " +
          s"does not match production area(s) " +
          ctx.spec.areas.flatMap(_.name).mkString("[", ", ", "]"))
      else footprint(ctx) match {
        case None => ctx // no footprint -> keep all areas (ref :586-589)
        case Some(pass) =>
          val pruned = ctx.worklist.flatMap { item =>
            val minCov = Worklist.configValue(ctx.spec, item, "min_coverage")
              .map(_.toDouble).filter(_ > 0.0)
            (item.area.flatMap(areaBounds.get), minCov) match {
              case (Some(bounds), Some(min)) =>
                val pct = bounds.coveragePctBy(pass)
                if (pct < min) None
                else Some(item.copy(settings = item.settings +
                  ("area_coverage_percent" -> pct.toString)))
              case _ => Some(item)
            }
          }
          ctx.copy(worklist = pruned)
      }
    }

    private def footprint(ctx: PipelineContext): Option[AreaBounds] =
      ctx.frames.get(None).flatMap { df =>
        try {
          val r = df.agg(
            min(expr(lonExpr)).cast("double"), max(expr(lonExpr)).cast("double"),
            min(expr(latExpr)).cast("double"), max(expr(latExpr)).cast("double"))
            .collect().head
          if (r.isNullAt(0)) None
          else Some(AreaBounds(r.getDouble(0), r.getDouble(1),
            r.getDouble(2), r.getDouble(3)))
        } catch {
          // only unresolvable lon/lat expressions (schema mismatch) mean
          // "this scene has no usable footprint"; anything else is a real
          // failure and must abort rather than silently disable pruning
          case e: org.apache.spark.sql.AnalysisException =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"covers: footprint expressions unresolvable, keeping all areas: ${e.getMessage}")
            None
        }
      }
  }

  /** F4 `sza_check` (plugins/__init__.py:739-783) as a pipeline Plugin:
    * for every work item configuring `sunzen_check_lon`/`sunzen_check_lat`,
    * compute the solar zenith angle there at the scene start time and drop
    * nighttime products when the Sun is too high (`sunzen_minimum_angle`:
    * drop iff sza < limit) or daytime products when it is too low
    * (`sunzen_maximum_angle`: drop iff sza > limit). Like the reference,
    * the minimum check wins when both are set (:763-779, the `continue`
    * after the nighttime branch). Pure config math — zero Spark jobs. */
  final case class SzaCheck() extends Plugin {
    val name = "sza_check"
    def apply(ctx: PipelineContext): PipelineContext =
      ctx.metadata.get(StartTime).map(isoInstant(StartTime, _)) match {
        case None => ctx
        case Some(t) =>
          val pruned = ctx.worklist.filter { item =>
            def conf(k: String): Option[Double] =
              Worklist.configValue(ctx.spec, item, k).map(_.toDouble)
            (conf("sunzen_check_lon"), conf("sunzen_check_lat")) match {
              case (Some(lon), Some(lat)) =>
                val sza = Solar.szaDeg(lat, lon, t)
                (conf("sunzen_minimum_angle"), conf("sunzen_maximum_angle")) match {
                  case (Some(mn), _) => sza >= mn
                  case (None, Some(mx)) => sza <= mx
                  case _ => true
                }
              case _ => true // not configured for this product (ref :755-760)
            }
          }
          ctx.copy(worklist = pruned)
      }
  }

  /** F5 `check_sunlight_coverage` (plugins/__init__.py:786-902) as a
    * pipeline Plugin: for every work item configuring `sunlight_min` /
    * `sunlight_max` (percent — the reference's `sunlight_coverage:
    * {min,max}` dict flattened into settings keys), compute the sunlit
    * fraction of its area at the scene start time on the same
    * deterministic 8×8 sample grid as the q45 query form (a point is
    * sunlit iff its solar zenith < 90°), memoized per area exactly like
    * the reference memoizes per (area, check_pass) (:829-856); drop items
    * outside the limits and republish `area_sunlight_coverage_percent`
    * into the survivors' settings (:859-860).
    *
    * `check_pass` (:840, 851-856): an item whose config sets
    * `check_pass: true` measures sunlight over only the grid points the
    * satellite OVERPASS actually sees — the reference's
    * `adp.intersection(ovp)` cut, with the [[OrbitModel]] trait
    * supplying the ground track: [[Sgp4Orbit]] for real TLE propagation
    * (the configuration q150's oracle pins) or [[CircularOrbit]] for
    * the deterministic synthetic orbit (q139's). The
    * pass window is [start_time, end_time] (falling back to 90 minutes
    * when the metadata carries no end time), and an
    * area the pass never touches scores 0.0 exactly like the
    * reference's outside-the-overpass branch (:886-888). Coverage is
    * memoized per (area, check_pass) exactly like the reference's
    * `coverage = {True: None, False: None}` dict (:829-856). */
  final case class SunlightCoverage(
      areaBounds: Map[String, AreaBounds],
      orbit: OrbitModel = CircularOrbit()) extends Plugin {
    val name = "check_sunlight_coverage"
    def apply(ctx: PipelineContext): PipelineContext =
      ctx.metadata.get(StartTime).map(isoInstant(StartTime, _)) match {
        case None => ctx
        case Some(t) =>
          val windowMin = ctx.metadata.get(EndTime)
            .map(isoInstant(EndTime, _))
            .map(e => math.max(0.0, java.time.Duration.between(t, e).toSeconds / 60.0))
            .getOrElse(90.0)
          // align the scene window to the orbit: a model with an
          // ABSOLUTE epoch (Sgp4Orbit's TLE) must be sampled at the
          // window's offset from that epoch, not from track minute 0 —
          // otherwise a scene starting hours after the element set
          // would score sunlight against the wrong orbit segment. The
          // synthetic CircularOrbit has no epoch (its track is defined
          // to start at the window), so its base stays 0.
          val baseMin = orbit.epoch
            .map(e => java.time.Duration.between(e, t).toSeconds / 60.0)
            .getOrElse(0.0)
          val memo = scala.collection.mutable.Map.empty[(String, Boolean), Double]
          def sunlitPct(a: String, checkPass: Boolean): Double =
            memo.getOrElseUpdate((a, checkPass), {
              val b = areaBounds(a)
              val n = 8 // the q45 sample grid is n×n
              val pts = for { i <- 0 until n; j <- 0 until n } yield {
                val lon = b.lonMin + (i + 0.5) * (b.lonMax - b.lonMin) / n
                val lat = b.latMin + (j + 0.5) * (b.latMax - b.latMin) / n
                (lat, lon)
              }
              val cut = if (checkPass)
                pts.filter { case (lat, lon) =>
                  orbit.inSwath(lat, lon, windowMin, baseMin) }
              else pts
              if (cut.isEmpty) 0.0 // pass misses the area (ref :886-888)
              else 100.0 * cut.count { case (lat, lon) =>
                Solar.szaDeg(lat, lon, t) < 90.0 } / cut.size
            })
          val pruned = ctx.worklist.flatMap { item =>
            def conf(k: String): Option[String] =
              Worklist.configValue(ctx.spec, item, k)
            val (mn, mx) = (conf("sunlight_min").map(_.toDouble), conf("sunlight_max").map(_.toDouble))
            item.area.filter(areaBounds.contains) match {
              case Some(a) if mn.isDefined || mx.isDefined =>
                // the string config is parsed with YAML boolean semantics
                // (falsy literals: false/no/off/0/empty) because the
                // reference receives `check_pass` already YAML-parsed as a
                // bool (ref reads `if self.check_pass:`) — a bare
                // `.toBoolean` would throw on `check_pass: 1`/`yes` and
                // abort the whole apply
                val checkPass = conf("check_pass").exists(v =>
                  !Set("false", "no", "off", "0", "").contains(v.trim.toLowerCase))
                val pct = sunlitPct(a, checkPass)
                if (mn.exists(pct < _) || mx.exists(pct > _)) None
                else Some(item.copy(settings = item.settings +
                  ("area_sunlight_coverage_percent" -> pct.toString)))
              case _ => Some(item) // unconfigured -> keep (ref :841-844)
            }
          }
          ctx.copy(worklist = pruned)
      }
  }

  /** The sink-id column of a [[SaveDatasets]] group write. */
  private val SinkCol = "__sink"

  /** One fully-built sink plan: everything about the file except the
    * write action itself (see [[SaveDatasets]]). */
  private final case class Sink(df: DataFrame, writer: String,
      fname: String, item: WorkItem)

  /** `s3.uploader` (plugins/s3.py:28-41): move every produced file from
    * the staging zone to the remote output and update the manifest
    * filenames, so downstream plugins ([[CheckRemoteFile]],
    * [[FilePublisher]]) see the REMOTE paths — the reference's
    * upload-after-success semantics, where `output_dir` is the
    * `s3://bucket/...` URI and `save_datasets` only ever writes into
    * `staging_zone` (the reference's `local_fname =
    * filename.replace(output_dir, staging_zone)` inversion).
    *
    * The transfer runs over Hadoop `FileSystem` — the same abstraction
    * the Spark writers use — so the remote scheme is pure config:
    * `s3a://` on a cluster with the S3 connector, `hdfs://`, or `file://`
    * (how the unit tests exercise it in this no-S3 sandbox).
    * `deleteSource=true` is the reference's S3Mover.move() contract
    * (upload then drop the staged copy). Any transfer failure aborts the
    * job: a half-uploaded batch must not be published. */
  final case class RemoteUpload(remoteDir: String, deleteSource: Boolean = true)
      extends Plugin {
    val name = "s3.uploader"
    def apply(ctx: PipelineContext): PipelineContext =
      if (ctx.manifest.isEmpty) ctx
      else try {
        val conf = ctx.spark.sparkContext.hadoopConfiguration
        val dst = new org.apache.hadoop.fs.Path(remoteDir)
        val dstFs = dst.getFileSystem(conf)
        dstFs.mkdirs(dst)
        val uploaded = ctx.manifest.map { f =>
          val src = new org.apache.hadoop.fs.Path(f.path)
          val srcFs = src.getFileSystem(conf)
          val target = new org.apache.hadoop.fs.Path(dst, src.getName)
          if (!org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, target,
              deleteSource, /*overwrite=*/ true, conf))
            throw new RuntimeException(s"transfer failed for ${f.path}")
          f.copy(path = target.toString)
        }
        ctx.copy(manifest = uploaded)
      } catch {
        case NonFatal(e) => ctx.abort(s"s3.uploader failed: ${e.getMessage}")
      }
  }

  /** `check_s3_file` (plugins/s3.py:44-52): audit that every uploaded
    * output is non-empty AT THE REMOTE — the reference stats the S3
    * object and flags `size == 0`. Stat runs through Hadoop
    * `FileSystem.getContentSummary`, which sums regular files under a
    * directory sink (Spark writers produce part-file directories), over
    * any scheme the connector set supports. Empty or missing remote
    * outputs abort the job, the plugin-chain form of the reference's
    * boolean-returning check. */
  final case class CheckRemoteFile() extends Plugin {
    val name = "check_s3_file"
    def apply(ctx: PipelineContext): PipelineContext =
      try {
        val conf = ctx.spark.sparkContext.hadoopConfiguration
        val bad = ctx.manifest.filter { f =>
          val p = new org.apache.hadoop.fs.Path(f.path)
          val fs = p.getFileSystem(conf)
          !fs.exists(p) || fs.getContentSummary(p).getLength == 0L
        }
        if (bad.nonEmpty)
          ctx.abort(s"check_s3_file: ${bad.size} empty/missing remote " +
            s"outputs: ${bad.map(_.path).mkString(", ")}")
        else ctx
      } catch {
        case NonFatal(e) => ctx.abort(s"check_s3_file failed: ${e.getMessage}")
      }
  }

  /** `check_results` (launcher.py:90-143): audit the manifest — every
    * produced file must exist and be non-empty; returns the failures so
    * the runner can report exactly like the reference's exit-code check. */
  final case class CheckResults() extends Plugin {
    val name = "check_results"
    def apply(ctx: PipelineContext): PipelineContext = {
      val bad = ctx.manifest.filter(f =>
        !Files.exists(Paths.get(f.path)) || f.bytes == 0L || f.rows == 0L)
      if (bad.nonEmpty)
        ctx.abort(s"check_results: ${bad.size} empty/missing outputs: " +
          bad.map(_.path).mkString(", "))
      else ctx
    }
  }

  /** One published message row — the typed shape of the reference's
    * posttroll message mda dict (plugins/__init__.py:504-527). */
  final case class PublishedMessage(
      topic: String, msg_type: String, uri: String, uid: String,
      product: String, productname: String, area: String, areaname: String,
      area_coverage_percent: Option[Double],
      area_sunlight_coverage_percent: Option[Double],
      rows: Long, bytes: Long,
      source: Option[String], target: Option[String])

  /** `FilePublisher` (plugins/__init__.py:476-579): per produced file, one
    * `file` message — uri, uid (basename, :514), product/area plus their
    * display names `productname`/`areaname` from the item settings
    * (:517-521), and the `area_coverage_percent` /
    * `area_sunlight_coverage_percent` republished from the settings where
    * [[Covers]] / [[SunlightCoverage]] put them (:522-527) — followed by
    * one `dispatch` message per configured dispatch target (:531-556):
    * settings keys `dispatch.<i>.path` (a compose template) with optional
    * `dispatch.<i>.scheme` / `dispatch.<i>.hostname` build the target URI
    * exactly like `create_dispatch_uri` (urlunsplit of scheme/netloc/
    * composed path, :532-538); the dispatch row carries the source file.
    *
    * Messages surface as plain [[PublishedMessage]] rows (`messageSeq`);
    * a Spark publisher (a `kafka` sink, a foreachBatch) takes them as a
    * frame with `toDF()`. */
  final case class FilePublisher(topicPattern: String = "/file/{product}")
      extends Plugin {
    val name = "file_publisher"

    private val DispatchPath = """dispatch\.(\d+)\.path""".r

    def messageSeq(ctx: PipelineContext): Seq[PublishedMessage] = {
      val itemByKey = ctx.worklist
        .map(i => (i.area, i.product, i.format) -> i).toMap
      ctx.manifest.flatMap { f =>
        val settings = itemByKey.get((f.area, f.product, f.format))
          .map(_.settings).getOrElse(Map.empty[String, String])
        val area = f.area.getOrElse("native")
        val values = ctx.metadata ++ settings +
          ("area" -> area) + ("product" -> f.product) + ("format" -> f.format)
        val topic = compose(topicPattern, values)
        val fileMsg = PublishedMessage(
          topic = topic, msg_type = "file", uri = f.path,
          uid = Paths.get(f.path).getFileName.toString,
          product = f.product,
          productname = settings.getOrElse("productname", f.product),
          area = area, areaname = settings.getOrElse("areaname", area),
          area_coverage_percent =
            settings.get("area_coverage_percent").map(_.toDouble),
          area_sunlight_coverage_percent =
            settings.get("area_sunlight_coverage_percent").map(_.toDouble),
          rows = f.rows, bytes = f.bytes, source = None, target = None)
        val dispatches = settings.keys.collect { case DispatchPath(i) => i.toInt }
          .toSeq.sorted.map { i =>
            val path = compose(settings(s"dispatch.$i.path"), values)
            val scheme = settings.getOrElse(s"dispatch.$i.scheme", "")
            val host = settings.getOrElse(s"dispatch.$i.hostname", "")
            fileMsg.copy(msg_type = "dispatch",
              source = Some(f.path), target = Some(s"$scheme://$host$path"))
          }
        fileMsg +: dispatches
      }
    }

    def apply(ctx: PipelineContext): PipelineContext = ctx
  }
}
