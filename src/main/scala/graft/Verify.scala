package graft
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.node.TextNode
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run (and dump oracle SQL for) only these
    // queries (matched by SparkEntry.select) — dev iteration aid; a
    // correctness run passes exactly the two dirs
    val names = SparkEntry.select(args.drop(2).toSeq)
    val spark = Measure.session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Measure.release(spark) // a bounded footprint over 168 queries
    }
    def q(s: String): String = TextNode.valueOf(s).toString
    val json = names.map(k => s"${q(k)}: ${q(SparkEntry.oracleSql(k))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
