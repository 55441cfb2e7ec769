package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint keeping `graft.maintain.LocalFs` the one way the main
  * tree starts a batch Spark write: a Dataset's `.write` appears only in
  * `LocalFs.scala`, and only that file names the `fs.file.impl` key. A
  * write that bypasses the helper creates its files through the stock
  * local file system, which forks a `chmod` per file, `.crc` and
  * directory. `.write(` with an argument (Java streams, `ImageIO`,
  * `PngCodec`) is not a Dataset write.
  *
  * A stream writes files only through `foreachBatch` and the helper: no
  * stream writer in the main tree is a file sink. Spark's `FileStreamSink`
  * takes the session's Hadoop conf, not the writer's options, so it forks
  * a `chmod` per file, and its `_spark_metadata` log hides from every open
  * the files it did not write. A stream writer is the method chain that
  * starts at `.writeStream` or at the sink argument of
  * `OneShotStream.run`; it is a file sink if it names a file format, a
  * `path` option or a path to `start`.
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

  private val streamWriter = """\.writeStream\b|OneShotStream\.run\(""".r
  private val fileSink =
    """format\("(?:parquet|orc|json|csv|text|avro|delta)"\)|option\("path"|\.start\(\s*[^)\s]""".r

  test("no stream writer is a file sink") {
    val sites = MainSources.all.flatMap { case (f, t) =>
      val lines = t.linesIterator.toIndexedSeq
      lines.indices.collect {
        case i if !comment(lines(i)) && streamWriter.findFirstIn(lines(i)).nonEmpty &&
          (lines(i) +: lines.drop(i + 1).takeWhile(_.trim.startsWith(".")))
            .exists(l => fileSink.findFirstIn(l).nonEmpty) =>
          s"${f.getName}:${i + 1}"
      }
    }
    assert(sites.isEmpty,
      s"${sites.size} file-sink streams: ${sites.mkString(", ")}. Write each batch " +
        "with foreachBatch and graft.maintain.LocalFs.write.")
  }

  test("only LocalFs names the local file system's Hadoop key") {
    val files = MainSources.all.collect { case (f, t) if t.contains("fs.file.impl") => f.getName }
    assert(files == Seq("LocalFs.scala"), s"fs.file.impl appears in $files")
  }
}
