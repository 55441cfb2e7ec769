package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint keeping `graft.maintain.Versioned`'s commit core the one
  * writer of versioned tables: the writer-unique data-dir write
  * (`mode("errorifexists")`) sits only in `commitCore`, the manifest
  * `rename(` only in its CAS publish, and no other main file names the
  * `_manifests` dir. A second commit path would bring back the numbered
  * data dirs and overwriting manifest renames that one failed write could
  * block a table with.
  */
class CommitSiteLintSpec extends AnyFunSuite {
  import MainSources.sites

  test("versioned tables are written only by Versioned's commit core") {
    assert(sites("mode(\"errorifexists\")") == Seq("Versioned.scala" -> "commitCore"),
      "a versioned data dir is written outside Versioned.commitCore")
    assert(sites("rename(").filter(_._1 == "Versioned.scala") ==
      Seq("Versioned.scala" -> "casPublish"),
      "a Versioned manifest is renamed outside its CAS publish")
    val manifestFiles = MainSources.all.collect {
      case (f, t) if t.contains("_manifests") => f.getName }
    assert(manifestFiles == Seq("Versioned.scala"),
      s"the _manifests dir is named outside Versioned: $manifestFiles")
  }
}
