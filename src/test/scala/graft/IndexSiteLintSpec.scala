package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint keeping `graft.maintain.TableIndex` the one place a
  * table is opened from a file list: Spark's file-index classes appear in
  * the main tree only there, and the `_manifest` file is created only by
  * its `writeManifest`. A second index helper could infer partitions or
  * compare plans differently from the first; a second manifest writer could
  * publish a file list its data does not match.
  *
  * Trees are walked with `listStatus` per dir (`TableIndex.listEntries`),
  * never with Hadoop's two-argument `listFiles(path, recursive)`: its
  * located statuses load each file's owner and permissions, which the
  * local file system forks a process per file for.
  */
class IndexSiteLintSpec extends AnyFunSuite {
  import MainSources.sites

  test("file indexes are built only by TableIndex") {
    for (token <- Seq("InMemoryFileIndex", "FileStatusCache", "HadoopFsRelation(")) {
      val files = sites(token).map(_._1).distinct
      assert(files == Seq("TableIndex.scala"), s"$token appears outside TableIndex: $files")
    }
  }

  test("the manifest is named only in TableIndex and written only by its writer") {
    assert(sites("\"_manifest\"").map(_._1) == Seq("TableIndex.scala"),
      "the manifest name is spelled outside TableIndex")
    assert(sites("create(").filter(_._1 == "TableIndex.scala") ==
      Seq("TableIndex.scala" -> "writeManifest"),
      "TableIndex creates a file outside writeManifest")
  }

  test("no tree is walked with Hadoop's recursive listFiles") {
    // a comma inside the call's parens (one level of nested parens allowed)
    // marks the two-argument Hadoop form; java.io.File.listFiles() has none
    val twoArg = """listFiles\((?:[^()]|\([^()]*\))*,""".r
    val calls = MainSources.all.flatMap { case (f, t) =>
      twoArg.findAllIn(t).map(m => s"${f.getName}: $m")
    }
    assert(calls.isEmpty, s"two-argument listFiles in src/main: $calls")
  }
}
