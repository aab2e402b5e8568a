package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The repository's Scala sources as text, for the source-level lints
  * ([[QualifiedPrivatesSpec]], [[BuilderCacheSpec]]). */
object SourceText {
  val root: Path = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null).find(d => Files.exists(d.resolve("build.sbt")) &&
      Files.isDirectory(d.resolve("src/main/scala"))).get

  def scalaFiles(dir: String): Seq[Path] = {
    val d = root.resolve(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val stream = Files.walk(d)
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    }
  }

  /** `src` with comments and string literals blanked to spaces (offsets
    * and newlines kept). The `${...}` and `$name` parts of an
    * interpolated string are code, so they stay. */
  def strip(src: String): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, to: Int): Unit =
      (from until math.min(to, src.length)).foreach(i => if (src(i) != '\n') out(i) = ' ')
    // the end of a literal opened at `i` (exclusive); code inside
    // interpolations is kept
    def literal(i: Int): Int = {
      val triple = src.startsWith("\"\"\"", i)
      val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
      var j = i + (if (triple) 3 else 1)
      var start = i
      def closes(j: Int): Boolean =
        if (triple) src.startsWith("\"\"\"", j) && !src.startsWith("\"\"\"\"", j)
        else src(j) == '"'
      while (j < src.length && !closes(j)) {
        if (!triple && src(j) == '\\') j += 2
        else if (interp && src.startsWith("$$", j)) j += 2
        else if (interp && src.startsWith("${", j)) {
          blank(start, j + 2)
          var depth = 1
          j += 2
          while (j < src.length && depth > 0) {
            if (src(j) == '"') j = literal(j)
            else {
              if (src(j) == '{') depth += 1 else if (src(j) == '}') depth -= 1
              j += 1
            }
          }
          start = j - 1
        } else if (interp && src(j) == '$') {
          blank(start, j + 1)
          j += 1
          while (j < src.length && (src(j).isLetterOrDigit || src(j) == '_')) j += 1
          start = j
        } else j += 1
      }
      val end = j + (if (triple) 3 else 1)
      blank(start, end)
      end
    }
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val end = if (e < 0) src.length else e
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < src.length && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val end = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1
        blank(i, end); i = end
      } else if (src(i) == '"') i = literal(i)
      else i += 1
    }
    out.toString
  }
}
