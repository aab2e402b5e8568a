package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Raster
import graft.pipeline._
import graft.pipeline.Plugins.SaveDatasets

/** Both `save_datasets` modes (batched: one union write per writer
  * group; eager: the same write, one file per group) produce what a
  * plain per-file write does. */
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

  /** The independent reference: every work-list file, in work-list order,
    * written on its own by a plain `slice.write` (an overview is the
    * slice's 2×2 block mean); empty slices write nothing. */
  private def reference(s: SparkSession): Run = {
    val out = Files.createTempDirectory("graft_reference")
    val scene = frames(s)
    val written = for {
      area <- Seq("euro", "pacific")
      product <- Seq("N", "R", "MISSING")
      format <- Seq("parquet", "csv")
      slice = scene(Some(area)).filter(col("product") === product)
      overview = Raster.blockMean(slice, Seq("product"), Seq("y" -> 2L, "x" -> 2L))
        .drop("__n")
      file = s"${area}_$product.$format"
      (df, fname) <- Seq(slice -> file, overview -> s"$file.ov2")
      rows = df.count()
      if rows > 0
    } yield {
      val path = out.resolve(fname).toString
      df.write.format(format).save(path)
      WrittenFile(Some(area), product, format, path, rows, 0L)
    }
    Run(out, written, written.flatMap(f =>
      Seq(s"close:${name(f)}", s"log:${name(f)}:${f.rows}")))
  }

  // the session a message's chain runs in
  private lazy val session = StreamSession(spark)
  private lazy val ref = reference(session)
  private lazy val batched = save(session, eager = false)
  private lazy val eager = save(session, eager = true)

  private def names(dir: Path): Seq[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toList.sorted finally l.close()
  }

  test("batched and eager writes match a plain per-file write") {
    def key(f: WrittenFile) = (name(f), f.area, f.product, f.format, f.rows)
    // 2 areas x 2 products x 2 formats, each with one overview; no MISSING
    assert(ref.manifest.size == 16)
    Seq("batched" -> batched, "eager" -> eager).foreach { case (mode, run) =>
      assert(run.manifest.map(key) == ref.manifest.map(key), s"$mode: manifest")
      assert(names(run.out) == names(ref.out), s"$mode: file names")
      run.manifest.zip(ref.manifest).foreach { case (f, r) =>
        val (cols, rows) = contents(session, f)
        val (refCols, refRows) = contents(session, r)
        assert(cols == refCols, s"$mode ${name(f)}: columns")
        assert(rows == refRows, s"$mode ${name(f)}: rows")
      }
      val leftovers = files(run.out).map(run.out.relativize(_).toString)
        .filter(p => p.contains(".tmp_") || p.contains("__sink"))
      assert(leftovers.isEmpty, s"$mode: ${leftovers.mkString(", ")}")
      assert(run.calls == ref.calls, s"$mode: callback order")
    }
  }

  test("batched writes produce the eager twin's files, manifest and callback order") {
    def key(f: WrittenFile) = (name(f), f.area, f.product, f.format, f.rows)
    assert(batched.manifest.map(key) == eager.manifest.map(key))
    assert(names(batched.out) == names(eager.out))
    assert(batched.calls == eager.calls)
  }

  test("batched mode runs one Spark job per (writer, columns) group") {
    // the group count is 2: parquet and csv, the .ov2 overviews having
    // their files' columns
    val (run, cost) = Profiling.measure(session)(save(session, eager = false))
    assert(run.manifest.map(f => f.format).distinct.size == 2)
    assert(cost.jobs == 2, s"${cost.jobs} jobs for 2 writer groups")
  }

  test("eager mode runs one Spark job per planned file") {
    // 2 areas x 3 products x 2 formats, each with an overview: 24 files
    // planned, the 8 of MISSING written empty and skipped
    val (run, cost) = Profiling.measure(session)(save(session, eager = true))
    assert(run.manifest.size == 16)
    assert(cost.jobs == 24, s"${cost.jobs} jobs for 24 planned files")
  }

  test("Plugins.scala has one write call, the group write") {
    import SourceText._
    val site = """\.(?:write|writeTo|writeStream)\b""".r
    val owner = """(?m)^ +(?:[\w\[\]]+ )*def (\w+)""".r
    val code = strip(Files.readString(
      root.resolve("src/main/scala/graft/pipeline/Plugins.scala")))
    val found = site.findAllMatchIn(code).map { m =>
      owner.findAllMatchIn(code.substring(0, m.start)).toSeq.last.group(1)
    }.toList
    assert(found == List("writeGroup"),
      s"save_datasets writes through SaveDatasets.writeGroup only: $found")
  }
}
