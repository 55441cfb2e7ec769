package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint keeping `graft.maintain.LocalFs` the one way the main
  * tree starts a batch Spark write: a Dataset's `.write` appears only in
  * `LocalFs.scala`, and only that file names the `fs.file.impl` key. A
  * write that bypasses the helper creates its files through the stock
  * local file system, which forks a `chmod` per file, `.crc` and
  * directory. `.write(` with an argument (Java streams, `ImageIO`,
  * `PngCodec`) is not a Dataset write, and neither is `.writeStream`,
  * whose file sink takes the session's Hadoop conf, not its options.
  */
class WriteSiteLintSpec extends AnyFunSuite {

  private val datasetWrite = """\.write\b(?!\s*\()""".r

  private def comment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  test("Dataset writes start only in LocalFs") {
    val sites = MainSources.all.flatMap { case (f, t) =>
      if (f.getName == "LocalFs.scala") Nil
      else t.linesIterator.zipWithIndex.collect {
        case (line, i) if !comment(line) && datasetWrite.findFirstIn(line).nonEmpty =>
          s"${f.getName}:${i + 1}"
      }.toSeq
    }
    assert(sites.isEmpty,
      s"${sites.size} Dataset writes outside LocalFs: ${sites.mkString(", ")}. " +
        "Start a write with graft.maintain.LocalFs.write.")
  }

  test("only LocalFs names the local file system's Hadoop key") {
    val files = MainSources.all.collect { case (f, t) if t.contains("fs.file.impl") => f.getName }
    assert(files == Seq("LocalFs.scala"), s"fs.file.impl appears in $files")
  }
}
