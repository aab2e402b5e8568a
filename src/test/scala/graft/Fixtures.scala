package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

import graft.pipeline._
import graft.streaming.StreamRunner

/** A small granule and the granule-shaped chain over it: the
  * `examples/pl.yaml` shape with a product list, two products, a 2×2
  * aggregate, the four resample modes and the valid-fraction check. */
object Granule {
  private val Size = 32
  private val Platform = "noaa18"

  /** Write a tall `(product, y, x, value)` raster of two products,
    * `ch1` with rows `y < 0.8 * Size` null fill (pruned at a 50 % valid
    * fraction wherever fill stays null) and `ch2` with 10 % fill. */
  def write(spark: SparkSession): String = {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_granule").resolve("g.parquet").toString
    val rows = for {
      (p, fill) <- Seq("ch1" -> 0.8, "ch2" -> 0.1)
      y <- 0 until Size
      x <- 0 until Size
    } yield (p, y, x,
      if (y < fill * Size) None else Some(((y * 31 + x * 17) % 97).toDouble))
    rows.toDF("product", "y", "x", "value").coalesce(1).write.parquet(path)
    path
  }

  private val targets =
    """[{"area": "avg_grid", "mode": "average", "width": 8, "height": 8,
      |  "src_y_min": 0, "src_y_max": 16, "src_x_min": 0, "src_x_max": 16},
      | {"area": "nn_grid", "mode": "nearest", "width": 12, "height": 10,
      |  "src_y_min": 1, "src_y_max": 15, "src_x_min": 0, "src_x_max": 16},
      | {"area": "bil_grid", "mode": "bilinear", "width": 10, "height": 10,
      |  "src_y_min": 0, "src_y_max": 16, "src_x_min": 2, "src_x_max": 14},
      | {"area": "ewa_grid", "mode": "ewa", "width": 8, "height": 8,
      |  "src_y_min": 0, "src_y_max": 16, "src_x_min": 0, "src_x_max": 16}]""".stripMargin

  /** The chain's config, writing parquet into `outDir`. */
  def config(outDir: String): LoadedConfig = {
    val products = """{"ch1": {"formats": [{"format": "parquet"}]},
                     | "ch2": {"formats": [{"format": "parquet"}]}}""".stripMargin
    val areas = Seq("avg_grid", "nn_grid", "bil_grid", "ewa_grid")
      .map(a => s""""$a": {"products": $products}""").mkString(", ")
    val workers = Seq("create_scene", "metadata_alias", "check_metadata", "aggregate",
      "resample", "check_valid_data_fraction", "save_datasets", "check_results")
      .map(f => s"""{"fun": "$f"}""")
    Launcher.load(
      s"""{"product_list": {
         |  "output_dir": "$outDir",
         |  "fname_pattern": "{platform_name}_{area}_{product}.{format}",
         |  "min_valid_data_fraction": 50.0,
         |  "aggregate": {"x": 2, "y": 2},
         |  "check_metadata": {"platform_name": ["NOAA-18"]},
         |  "metadata_aliases": {"platform_name": {"$Platform": "NOAA-18"}},
         |  "resample_targets": $targets,
         |  "areas": {$areas}},
         | "workers": [${workers.mkString(", ")}]}""".stripMargin)
  }

  /** A posttroll `file` message naming `path`. */
  def message(path: String, platform: String = Platform): String =
    s"""{"type": "file", "data": {"uri": "$path", "platform_name": "$platform",
       |  "start_time": "2024-01-02T03:04:00"}}""".stripMargin
}

/** The session's CacheManager entries. */
object Cache {
  def entries(spark: SparkSession): Int =
    // public in the bytecode, package-private to Scala callers
    classOf[org.apache.spark.sql.execution.CacheManager]
      .getMethod("numCachedEntries").invoke(spark.sharedState.cacheManager)
      .asInstanceOf[Int]
}

/** The session [[StreamRunner.runMessages]] runs a message's chain in,
  * taken from a one-message stream: the query's own clone of `spark`,
  * configured the way the subscriber loop configures it. */
object StreamSession {
  def apply(spark: SparkSession): SparkSession = {
    val dir = Files.createTempDirectory("graft_stream_session")
    val inbox = Files.createDirectories(dir.resolve("inbox"))
    Files.writeString(inbox.resolve("m.json"),
      """{"type": "file", "data": {"uri": "/nonexistent"}}""")
    val got = new AtomicReference[SparkSession]
    val capture = new Plugin {
      val name = "capture_session"
      def apply(ctx: PipelineContext): PipelineContext = { got.set(ctx.spark); ctx }
    }
    StreamRunner.runMessages(StreamRunner.messageStream(spark, inbox.toString),
      ProductList(areas = Seq.empty), dir.resolve("checkpoint").toString,
      _ => Seq(capture))((_, _) => ()).awaitTermination(120000)
    Option(got.get).getOrElse(throw new IllegalStateException("no message ran"))
  }
}
