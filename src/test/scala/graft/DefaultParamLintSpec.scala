package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint fencing the main tree's default-valued `def`
  * parameters. A default is a knob: it earns its place only when some
  * caller sets it to a second value; otherwise it is a constant and belongs
  * inline. The total is pinned, so adding a default means editing this
  * spec, and removing one means lowering the pin.
  */
class DefaultParamLintSpec extends AnyFunSuite {

  private val pinned = 18

  test("the main tree declares exactly the pinned number of default-valued def parameters") {
    val perFile = MainSources.all
      .map { case (f, t) => f.getPath -> DefaultParamLintSpec.count(t) }
      .filter(_._2 > 0).sortBy(_._1)
    val total = perFile.map(_._2).sum
    assert(total == pinned,
      s"$total default-valued def parameters in src/main, pinned $pinned. " +
        "A new default needs a caller that passes a different value; a removed " +
        "one lowers the pin. Per file: " +
        perFile.map { case (f, n) => s"$f=$n" }.mkString(", "))
  }
}

object DefaultParamLintSpec {

  /** `t` with comments removed and string and char literals emptied. */
  def strip(t: String): String = {
    val b = new StringBuilder(t.length)
    var i = 0
    def skipTo(end: String, from: Int): Int = {
      val e = t.indexOf(end, from)
      if (e < 0) t.length else e + end.length
    }
    while (i < t.length) {
      val c = t(i)
      if (t.startsWith("//", i)) i = skipTo("\n", i) - 1
      else if (t.startsWith("/*", i)) { i = skipTo("*/", i + 2); b += ' ' }
      else if (t.startsWith("\"\"\"", i)) {
        i = skipTo("\"\"\"", i + 3)
        while (i < t.length && t(i) == '"') i += 1
        b ++= "\"\""
      } else if (c == '"') {
        i += 1
        while (i < t.length && t(i) != '"') i += (if (t(i) == '\\') 2 else 1)
        i += 1
        b ++= "\"\""
      } else if (c == '\'' && i + 2 < t.length && t(i + 2) == '\'') { i += 3; b ++= "' '" }
      else if (c == '\'' && i + 3 < t.length && t(i + 1) == '\\' && t(i + 3) == '\'') { i += 4; b ++= "' '" }
      else { b += c; i += 1 }
    }
    b.toString
  }

  private val defName = """\bdef\s+[^\s(\[:=]+""".r

  /** Index just past the bracket group opening at `from`. */
  private def closeOf(s: String, from: Int): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    s.length
  }

  /** Top-level comma-separated pieces of a parameter list's inside. */
  private def params(inside: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    for (i <- inside.indices) inside(i) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => out += inside.substring(start, i); start = i + 1
      case _ =>
    }
    (out += inside.substring(start)).result()
  }

  /** A parameter with a top-level `=` (not `=>`, `==`, `<=`, `>=`, `!=`). */
  private def hasDefault(p: String): Boolean = {
    var depth = 0
    p.indices.exists { i =>
      p(i) match {
        case '(' | '[' | '{' => depth += 1; false
        case ')' | ']' | '}' => depth -= 1; false
        case '=' if depth == 0 =>
          val prev = if (i > 0) p(i - 1) else ' '
          val next = if (i + 1 < p.length) p(i + 1) else ' '
          next != '>' && next != '=' && prev != '=' && prev != '<' && prev != '>' && prev != '!'
        case _ => false
      }
    }
  }

  /** Default-valued parameters over every `def` in a source text. */
  def count(source: String): Int = {
    val s = strip(source)
    defName.findAllMatchIn(s).map { m =>
      var i = m.end
      def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
      skipWs()
      if (i < s.length && s(i) == '[') { i = closeOf(s, i); skipWs() }
      var n = 0
      while (i < s.length && s(i) == '(') {
        val end = closeOf(s, i)
        n += params(s.substring(i + 1, end - 1)).count(hasDefault)
        i = end
        skipWs()
      }
      n
    }.sum
  }
}
