package graft

import java.util.concurrent.atomic.AtomicInteger

class FixturesSpec extends SparkSpec {

  test("a (tag, key) builds once; later calls return the same path") {
    val builds = new AtomicInteger()
    def get() = Fixtures.dir("fxspec_once", "k") { p =>
      builds.incrementAndGet()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "f.txt"), "x")
      ()
    }
    val first = get()
    assert(get() == first && get() == first)
    assert(builds.get == 1)
    assert(new java.io.File(first, "f.txt").isFile)

    val parquetBuilds = new AtomicInteger()
    def pq() = Fixtures.parquet("fxspec_once_pq", "k") {
      parquetBuilds.incrementAndGet()
      spark.range(0, 5).toDF("id")
    }
    val p = pq()
    assert(pq() == p && parquetBuilds.get == 1)
    assert(spark.read.parquet(p).count() == 5L)

    val tableBuilds = new AtomicInteger()
    def table() = Fixtures.bucketedTable(spark, "fxspec_once_tbl", "k", "id", 2,
        Seq("id")) {
      tableBuilds.incrementAndGet()
      spark.range(0, 7).toDF("id")
    }
    val t = table()
    assert(table() == t && tableBuilds.get == 1)
    assert(t == Fixtures.tableName("fxspec_once_tbl", "k"))
    assert(spark.table(t).count() == 7L)
  }

  test("distinct keys and tags get distinct dirs and distinct table names") {
    val dirs = Seq(("fxspec_keys", "a"), ("fxspec_keys", "b"), ("fxspec_keys2", "a"))
      .map { case (tag, key) => Fixtures.dir(tag, key)(_ => ()) }
    assert(dirs.distinct.size == 3)
    dirs.foreach(d => assert(new java.io.File(d).isDirectory))
    assert(new java.io.File(dirs.head).getName.startsWith("graft_fxspec_keys_"))

    // keys that a sanitizing name (non-alphanumerics -> '_') would merge
    val names = Seq("/x/sf-1", "/x/sf_1", "/x/sf.1").map(Fixtures.tableName("fxspec", _))
    assert(names.distinct.size == 3)
    names.foreach(n => assert(n.matches("graft_fxspec_[0-9a-f]{16}"), n))
  }

  test("a build that throws memoizes nothing and is rebuilt on the next call") {
    val builds = new AtomicInteger()
    def get() = Fixtures.dir("fxspec_retry", "k") { _ =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
    }
    intercept[IllegalStateException](get())
    val p = get()
    assert(builds.get == 2)
    assert(get() == p && builds.get == 2)
  }
}
