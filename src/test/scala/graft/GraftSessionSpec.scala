package graft

class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries the factory's configuration") {
    // the context's conf holds what the builder set, whatever a suite may
    // have changed at runtime since
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.serializer") ==
      "org.apache.spark.serializer.KryoSerializer")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("an extra entry overrides a default") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // getOrCreate hands back the live session and applies runtime entries
    try {
      val s = GraftSession.local(4, key -> "3")
      assert(s eq spark)
      assert(s.conf.get(key) == "3")
    } finally spark.conf.set(key, prev)
  }
}
