package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint keeping [[Fixtures]] the one memo of on-disk fixtures
  * (BASELINE.md §Amortization): in the main tree, the calls a hand-rolled
  * fixture memo is made of — a fixture dir from `TempDirs`, a catalog-table
  * reset from `Layout` — appear only in `Fixtures.scala`. A new fixture is
  * one `Fixtures.dir` / `Fixtures.parquet` / `Fixtures.bucketedTable` call.
  */
class FixtureSiteLintSpec extends AnyFunSuite {

  private val call =
    "(?<!def )\\b(fixtureDir|fixturePath|registerForCleanup|resetTable)\\s*\\(".r

  test("fixture dirs and table resets are made only by Fixtures") {
    val sites = MainSources.all.flatMap { case (f, t) =>
      if (f.getName == "Fixtures.scala") Nil
      else call.findAllMatchIn(t).map { m =>
        s"${f.getName}:${t.substring(0, m.start).count(_ == '\n') + 1} ${m.group(1)}"
      }
    }
    assert(sites.isEmpty,
      s"hand-rolled fixture sites: ${sites.mkString(", ")}. Build a fixture " +
        "through graft.Fixtures, which owns the once-per-(tag, key) memo.")
  }
}
