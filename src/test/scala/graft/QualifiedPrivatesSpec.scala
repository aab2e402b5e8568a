package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The unused-code lint for members the compiler cannot judge: a
  * `private[x]` member is visible to its whole package, so
  * `-Wunused:privates` never reports it. Every such member in src/main
  * must be named outside its own template — in another file of src/main,
  * src/test or perfbench/src, or in its own file outside the object or
  * class that declares it (as `Logging.QueueBridge.start` is). Comments
  * and string literals do not count as uses; a member nobody names
  * should be deleted, and one named only inside its template should be
  * plain `private`. */
class QualifiedPrivatesSpec extends AnyFunSuite {
  private val root: Path = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
    .takeWhile(_ != null).find(d => Files.exists(d.resolve("build.sbt")) &&
      Files.isDirectory(d.resolve("src/main/scala"))).get

  private def scalaFiles(dir: String): Seq[Path] = {
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
  private def strip(src: String): String = {
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

  private val Decl = ("""private\[\w+\]\s+(?:(?:final|override|lazy|implicit|sealed|""" +
    """abstract|case)\s+)*(?:def|val|var|object|class|trait|type)\s+(\w+)""").r

  /** The span of the innermost `{...}` around `at`, or the whole file for
    * a top-level definition. */
  private def template(code: String, at: Int): (Int, Int) = {
    var depth = 0
    var open = at
    while (open > 0 && depth >= 0) {
      open -= 1
      if (code(open) == '}') depth += 1 else if (code(open) == '{') depth -= 1
    }
    if (depth >= 0) (0, code.length)
    else {
      depth = 0
      var close = at
      while (close < code.length && depth >= 0) {
        if (code(close) == '{') depth += 1 else if (code(close) == '}') depth -= 1
        close += 1
      }
      (open, close)
    }
  }

  test("every qualified-private member in src/main is named outside its template") {
    val main = scalaFiles("src/main/scala")
    val code: Map[Path, String] =
      (main ++ scalaFiles("src/test/scala") ++ scalaFiles("perfbench/src"))
        .map(p => p -> strip(Files.readString(p))).toMap
    val members = main.flatMap { p =>
      Decl.findAllMatchIn(code(p)).map(m => (p, m.group(1), m.start))
    }
    assert(members.nonEmpty, s"no qualified-private member found under $root")
    val unused = members.filterNot { case (p, name, at) =>
      val use = s"\\b$name\\b".r
      val (from, to) = template(code(p), at)
      use.findFirstIn(code(p).substring(0, from) + code(p).substring(to)).nonEmpty ||
        code.exists { case (q, c) => q != p && use.findFirstIn(c).nonEmpty }
    }
    if (unused.nonEmpty) fail("qualified-private members named nowhere outside their " +
      "template:\n" + unused.map { case (p, n, _) => s"${root.relativize(p)}: $n" }.mkString("\n"))
  }

  test("strip blanks comments and literals but keeps interpolated code") {
    val src = "val a = f(\"g(x)\") // h\n/* i /* j */ */ s\"${k(\"}\")} $l m\" + '\\'' + n"
    val kept = strip(src).split("\\W+").filter(_.nonEmpty).toSeq
    assert(kept == Seq("val", "a", "f", "s", "k", "l", "n"))
  }
}
