package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline._
import graft.pipeline.Plugins.SaveDatasets

/** Batched `save_datasets` (one union write per writer group) produces
  * what eager writing (one write per file) does. */
class BatchedWriteSpec extends SparkSpec {

  // two areas, two writers interleaved in the work list, and a product
  // the scene does not have
  private val spec = ProductList(areas = Seq("euro", "pacific").map(a =>
    AreaSpec(Some(a), products = Seq("N", "R", "MISSING").map(p =>
      ProductSpec(p, formats = Seq(FormatSpec("parquet"), FormatSpec("csv")))))))

  private def frames(s: SparkSession) = {
    import s.implicits._
    def raster(seed: Int) = (for {
      p <- Seq("N", "R"); y <- 0L until 4L; x <- 0L until 4L
    } yield (p, y, x, ((y * 7 + x * 3 + seed) % 11).toDouble))
      .toDF("product", "y", "x", "value")
    Map(Option("euro") -> raster(1), Option("pacific") -> raster(5))
  }

  private def name(f: WrittenFile) = Paths.get(f.path).getFileName.toString

  private final case class Run(out: Path, manifest: Seq[WrittenFile], calls: Seq[String])

  private def save(s: SparkSession, eager: Boolean): Run = {
    val out = Files.createTempDirectory(if (eager) "graft_eager" else "graft_batched")
    val calls = ArrayBuffer.empty[String]
    val done = SaveDatasets(out.toString, overviews = Seq(2), eagerWriting = eager,
      callbacks = Seq(f => calls += s"close:${name(f)}",
        f => calls += s"log:${name(f)}:${f.rows}"))(
      PipelineContext(s, spec, Map.empty, frames(s), Worklist.expand(spec)))
    Run(out, done.manifest, calls.toSeq)
  }

  private def files(dir: Path): Seq[Path] = {
    val w = Files.walk(dir)
    try w.iterator().asScala.toList finally w.close()
  }

  /** A written file's column names and its rows as sorted text lines. */
  private def contents(s: SparkSession, f: WrittenFile): (Seq[String], Seq[String]) =
    f.format match {
      case "csv" => // no header: the raw lines carry the column order
        (Nil, files(Paths.get(f.path)).filter(_.getFileName.toString.startsWith("part-"))
          .flatMap(p => Files.readAllLines(p).asScala).sorted)
      case _ =>
        val df = s.read.parquet(f.path)
        (df.columns.toSeq, df.collect().map(_.mkString("|")).toSeq.sorted)
    }

  test("batched writes produce the eager twin's files, manifest and callback order") {
    val s = StreamSession(spark)
    val batched = save(s, eager = false)
    val eager = save(s, eager = true)
    def key(f: WrittenFile) = (name(f), f.area, f.product, f.format, f.rows)
    assert(batched.manifest.map(key) == eager.manifest.map(key))
    // 2 areas x 2 products x 2 formats, each with one overview; no MISSING
    assert(batched.manifest.size == 16)
    assert(!batched.manifest.exists(_.product == "MISSING"))
    batched.manifest.zip(eager.manifest).foreach { case (b, e) =>
      val (bCols, bRows) = contents(s, b)
      val (eCols, eRows) = contents(s, e)
      assert(bCols == eCols, s"${name(b)}: columns")
      assert(bRows == eRows, s"${name(b)}: rows")
      assert(b.rows == bRows.size)
    }
    assert(batched.manifest.filter(_.format == "parquet")
      .forall(f => contents(s, f)._1 == Seq("product", "y", "x", "value")))
    val leftovers = files(batched.out).map(batched.out.relativize(_).toString)
      .filter(p => p.contains(".tmp_") || p.contains("__sink"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    assert(batched.calls == eager.calls)
  }

  test("batched mode runs one Spark job per (writer, columns) group") {
    // the session a message's chain runs in; the group count is 2:
    // parquet and csv, the .ov2 overviews having their files' columns
    val s = StreamSession(spark)
    val (run, cost) = Profiling.measure(s)(save(s, eager = false))
    assert(run.manifest.map(f => f.format).distinct.size == 2)
    assert(cost.jobs == 2, s"${cost.jobs} jobs for 2 writer groups")
  }
}
