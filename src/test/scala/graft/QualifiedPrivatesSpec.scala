package graft

import java.nio.file.{Files, Path}

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
  import SourceText._

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
