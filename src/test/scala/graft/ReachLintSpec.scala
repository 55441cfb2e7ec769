package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint keeping the main tree free of code that only tests
  * reach. Every non-`private`, non-`override` `def` in `src/main` must be
  * named somewhere else in `src/main` or in the benchmark's `perfbench/src`;
  * the defs that are not form exactly the pinned keep-set, each with the
  * reason it stays. A def a later change leaves unreached fails here, and so
  * does a keep-set entry that something starts to call (drop it from the set).
  *
  * Comments are stripped; string literals are kept, because some defs
  * (`Correlation.rboSumSql`, `OracleSql.javaHashSql`,
  * `Layout.hilbertOracleCtes`) are reached only from inside `s"""…"""` SQL
  * templates. A use is any identifier token with the def's name that is
  * not itself a `def` declaration, so a same-named def elsewhere does not
  * count as a caller, while a same-named `val` or parameter does. `main`
  * entry points are reached by the JVM and are not checked.
  */
class ReachLintSpec extends AnyFunSuite {
  import ReachLintSpec._

  test("every public main-tree def is reached from main or the benchmark, or kept with a reason") {
    val found = unreached(MainSources.all ++ sources(new java.io.File("perfbench/src")))
    assert(found.toSet == KeepSet.keySet,
      s"unreached defs outside the keep-set: ${(found.toSet -- KeepSet.keySet).toSeq.sorted}; " +
        s"keep-set entries now reached: ${(KeepSet.keySet -- found.toSet).toSeq.sorted}")
  }
}

object ReachLintSpec {

  /** `Object.def` → why it stays though nothing in main or the benchmark calls it. */
  val KeepSet: Map[String, String] = {
    val connector = "reference connector; the offline harness cannot drive its external system"
    val bitForBit = "reference implementation specs compare the codegen'd kernel against bit for bit"
    val cleanup = "storage reclamation for Versioned tables (cleanup.sql)"
    val scaleMd = "SCALE.md TB path; choosing it or the registry's broadcast path is a same-window A/B"
    Map(
      "StreamingIngest.kafkaSource" -> connector,
      "Backfill.readChunk" -> connector,
      "Similarity.srpBucketHof" -> bitForBit,
      "Similarity.dotHof" -> bitForBit,
      "Versioned.expireSnapshots" -> cleanup,
      "Versioned.removeOrphanFiles" -> cleanup,
      "Versioned.dropBranch" -> cleanup,
      "GraftExtensions.register" -> "installs the SQL-text functions into a session",
      "BloomDedup.bloomProbeBucketed" -> scaleMd,
      "Dedup.dedupDeltaAgainstCorpusLshBucketed" -> scaleMd,
      "Multimodal.phashIncrementalBucketed" -> scaleMd,
      "Multimodal.phashBandsSalted" -> scaleMd,
      "Ivf.writeCellPartitioned" -> scaleMd,
      "Ivf.topKPruned" -> scaleMd,
      "Layout.writeZOrdered" -> scaleMd)
  }

  def sources(root: java.io.File): Seq[(java.io.File, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map(f => f -> java.nio.file.Files.readString(f.toPath))
  }

  /** `t` with comments blanked; string and char literals kept verbatim. */
  def stripComments(t: String): String = {
    val b = new StringBuilder(t.length)
    var i = 0
    def copyTo(end: Int): Unit = { b ++= t.substring(i, end); i = end }
    while (i < t.length) {
      if (t.startsWith("//", i)) {
        val e = t.indexOf('\n', i)
        i = if (e < 0) t.length else e
      } else if (t.startsWith("/*", i)) {
        val e = t.indexOf("*/", i + 2)
        i = if (e < 0) t.length else e + 2
        b += ' '
      } else if (t.startsWith("\"\"\"", i)) {
        var e = t.indexOf("\"\"\"", i + 3)
        e = if (e < 0) t.length else e + 3
        while (e < t.length && t(e) == '"') e += 1
        copyTo(e)
      } else if (t(i) == '"') {
        var e = i + 1
        while (e < t.length && t(e) != '"' && t(e) != '\n') e += (if (t(e) == '\\') 2 else 1)
        copyTo(math.min(e + 1, t.length))
      } else if (t(i) == '\'' && i + 2 < t.length && t(i + 2) == '\'') copyTo(i + 3)
      else if (t(i) == '\'' && i + 3 < t.length && t(i + 1) == '\\' && t(i + 3) == '\'') copyTo(i + 4)
      else { b += t(i); i += 1 }
    }
    b.toString
  }

  private val declared =
    """(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** `Object.def` of every public main-tree def whose name no other token
    * in `all` (main plus benchmark sources) uses.
    */
  def unreached(all: Seq[(java.io.File, String)]): Seq[String] = {
    val stripped = all.map { case (f, t) => f -> stripComments(t) }
    val mainDir = new java.io.File("src/main/scala").getAbsolutePath
    def afterDef(t: String, at: Int): Boolean = {
      var i = at - 1
      while (i >= 0 && t(i).isWhitespace) i -= 1
      i >= 2 && t.startsWith("def", i - 2) && (i < 3 || !t(i - 3).isLetterOrDigit)
    }
    val uses = stripped.flatMap { case (_, t) =>
      """[A-Za-z_][A-Za-z0-9_]*""".r.findAllMatchIn(t)
        .filterNot(m => afterDef(t, m.start)).map(_.matched)
    }.toSet
    stripped.filter(_._1.getAbsolutePath.startsWith(mainDir)).flatMap { case (f, t) =>
      declared.findAllMatchIn(t).collect {
        case m if !m.group(1).contains("private") && !m.group(1).contains("override") &&
            m.group(2) != "main" && !uses(m.group(2)) =>
          s"${f.getName.stripSuffix(".scala")}.${m.group(2)}"
      }
    }.distinct.sorted
  }
}
