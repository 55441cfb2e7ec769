package graft.maintain

import graft.{SparkSpec, Tables}
import graft.plans.GuardTesting
import graft.queries.TelematicsQueries
import graft.serve.Api
import graft.stream.{Edge, StreamingIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The manifest open of a `Layout.writeFact` table against a listing open
  * of the same directory.
  */
class TableIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fact = TelematicsQueries.normalizedFact(spark, sf())

  /** The fact rows of its `n` lowest buckets. */
  private def buckets(n: Int): DataFrame = {
    val bs = fact.select($"device_id_bucket").distinct().orderBy($"device_id_bucket")
      .as[Int].take(n)
    fact.filter($"device_id_bucket".isin(bs: _*))
  }

  private lazy val small = buckets(4)
  private lazy val tiny = buckets(1)

  private def written(tag: String, df: DataFrame): String = {
    val d = graft.TempDirs.fixtureDir(tag) + "/fact"
    Layout.writeFact(df, d)
    d
  }

  private lazy val dir = written("tix", small)

  private def listed(d: String): DataFrame = spark.read.parquet(d)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private lazy val devices: Seq[String] =
    listed(dir).groupBy($"device_id").count().orderBy($"count".desc, $"device_id")
      .as[(String, Long)].collect().map(_._1).toSeq

  private lazy val latestBuckets: Seq[Int] =
    small.select($"device_id_bucket").distinct().orderBy($"device_id_bucket").as[Int].take(3).toSeq

  /** The serve shapes of `Api`, each over the frame it is given. */
  private def requests: Seq[(String, DataFrame => DataFrame)] = {
    val order = Seq($"gps_epoch".desc, $"correlation_id".cast("long").desc)
    Seq(
      "pointLookup" -> (f => Api.page(Api.project(Api.pointLookup(f, devices.head,
        "2024-01-03 00:00:00", "2024-01-20 00:00:00", "2024-01-03", "2024-01-20")),
        order, 0, 50)),
      "keysetPage" -> (f => Api.keysetPage(
        Api.dynamicFilter(f, deviceIds = Some(Seq(devices(1))))
          .withColumn("ck", $"correlation_id".cast("long")), $"ck", Some(lit(0L)), 20)),
      "dynamicFilter" -> (f => Api.dynamicFilter(f, Some(devices.take(3)),
        Some("2024-01-05 00:00:00"), Some("2024-01-15 00:00:00"))),
      "latestPerDevice" -> (f => Api.latestPerDevice(
        f.filter($"device_id_bucket".isin(latestBuckets: _*)), $"correlation_id".cast("long"))))
  }

  test("writeFact writes a manifest naming every data file with its length") {
    val entries = TableIndex.readManifest(spark, dir).get
    val base = new java.io.File(dir).toURI.getPath
    val files = listed(dir).inputFiles.map(u => new java.net.URI(u).getPath).toSet
    assert(entries.map(e => base + e.path).toSet == files)
    entries.foreach(e => assert(new java.io.File(dir, e.path).length == e.length, e))
  }

  test("a manifest open and a listing open give the same schema and rows for the serve shapes") {
    val opened = Tables.cachedParquet(spark, dir)
    assert(opened.schema == listed(dir).schema)
    requests.foreach { case (name, q) =>
      val want = rows(q(listed(dir)))
      assert(want.nonEmpty, name)
      assert(rows(q(Tables.cachedParquet(spark, dir))) == want, name)
    }
  }

  test("the manifest open is rooted at the table dir and selects the listing open's partitions under the guard") {
    def roots(df: DataFrame) = df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths
    }
    assert(roots(Tables.cachedParquet(spark, dir)) == roots(listed(dir)))
    GuardTesting.withGuard(spark, dir) {
      requests.foreach { case (name, q) =>
        val want = GuardTesting.selectedPartitions(q(listed(dir)))
        assert(want.nonEmpty && want != GuardTesting.partitionsOnDisk(dir), name)
        assert(GuardTesting.selectedPartitions(q(Tables.cachedParquet(spark, dir))) == want, name)
      }
    }
  }

  test("a stray parquet file dropped into a partition after the write is not read; " +
      "without the manifest the open lists it") {
    val d = written("tix_stray", tiny)
    val n = Tables.cachedParquet(spark, d).count()
    val one = TableIndex.readManifest(spark, d).get.head
    val src = new java.io.File(d, one.path)
    java.nio.file.Files.copy(src.toPath, new java.io.File(src.getParentFile, "stray.parquet").toPath)
    val strayRows = spark.read.parquet(src.getPath).count()
    assert(strayRows > 0 && listed(d).count() == n + strayRows)
    assert(Tables.cachedParquet(spark, d).count() == n)
    assert(new java.io.File(d, "_manifest").delete())
    assert(rows(Tables.cachedParquet(spark, d)) == rows(listed(d)))
    assert(Tables.cachedParquet(spark, d).count() == n + strayRows)
  }

  test("a table written and opened by a relative path opens from its manifest") {
    val abs = graft.TempDirs.fixtureDir("tix_relative") + "/fact"
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(abs)).toString
    Layout.writeFact(tiny, rel)
    assert(TableIndex.readManifest(spark, rel).get.forall(e => new java.io.File(abs, e.path).isFile))
    assert(rows(Tables.cachedParquet(spark, rel)) == rows(listed(abs)))
  }

  test("a second writeFact is seen by the next open") {
    val d = written("tix_rewrite", tiny)
    assert(rows(Tables.cachedParquet(spark, d)) == rows(tiny))
    val early = tiny.filter($"received_day" < lit("2024-01-15").cast("date"))
    Layout.writeFact(early, d)
    assert(rows(Tables.cachedParquet(spark, d)) == rows(early))
  }

  test("a writeFact that throws leaves the old data and manifest readable") {
    val d = written("tix_failed", tiny)
    val before = rows(Tables.cachedParquet(spark, d))
    val late = tiny.limit(1).withColumn("received_day", date_add($"received_day", 10))
    intercept[IllegalArgumentException](Layout.writeFact(tiny.unionByName(late), d))
    assert(TableIndex.readManifest(spark, d).isDefined)
    assert(rows(Tables.cachedParquet(spark, d)) == before && before.nonEmpty)
  }

  /** Runs `writer` on a fresh writeFact table, then asserts the open
    * gives the listing open's rows.
    */
  private def afterWriter(tag: String)(writer: String => Unit): Unit = {
    val d = written(tag, tiny)
    writer(d)
    val want = rows(listed(d))
    assert(want.nonEmpty)
    assert(rows(Tables.cachedParquet(spark, d)) == want)
  }

  /** (bucket dir, day) of the table's first partition. */
  private def firstPartition(d: String): (String, String) = {
    val p = TableIndex.readManifest(spark, d).get.head.path.split('/')
    (s"$d/${p(0)}", p(1).stripPrefix("received_day="))
  }

  test("compactPartition keeps the open true") {
    afterWriter("tix_compact") { d =>
      val (bucketDir, day) = firstPartition(d)
      Maintenance.compactPartition(spark, bucketDir, "received_day", day)
    }
  }

  test("retentionDelete keeps the open true") {
    afterWriter("tix_retention") { d =>
      val (bucketDir, _) = firstPartition(d)
      assert(Maintenance.retentionDelete(spark, bucketDir, "received_day", 5,
        java.time.LocalDate.parse("2024-01-20")).nonEmpty)
    }
  }

  test("overwritePartitions keeps the open true") {
    afterWriter("tix_overwrite") { d =>
      val (bucketDir, day) = firstPartition(d)
      val part = listed(d).filter($"received_day" === lit(day).cast("date") &&
        $"device_id_bucket" === bucketDir.split('=').last.toInt)
      Maintenance.overwritePartitions(part.withColumn("speed_kmh", $"speed_kmh" + 1),
        d, Seq("device_id_bucket", "received_day"))
    }
  }

  /** Streams `edges` through `StreamingIngest.factSink` into `d`,
    * checkpointed under `tag`.
    */
  private def sinkInto(d: String, tag: String, edges: Seq[Edge]): Unit = {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Edge]
    val q = StreamingIngest.factSink(StreamingIngest.ingest(mem.toDF()), d,
      graft.TempDirs.fixtureDir(tag + "_ckpt")).start()
    try {
      mem.addData(edges: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** The rows `StreamingIngest.factSink` writes for `edges`, in the
    * column order of the fact.
    */
  private def ingested(edges: Seq[Edge]): DataFrame =
    StreamingIngest.ingest(edges.toDF()).select(tiny.columns.map(col).toSeq: _*)

  /** Asserts that the manifest-or-listing open and a listing open of `d`
    * both give exactly `want`.
    */
  private def assertOpens(d: String, want: DataFrame): Unit = {
    val expected = rows(want)
    assert(expected.nonEmpty)
    assert(rows(Tables.cachedParquet(spark, d)) == expected)
    assert(rows(listed(d)) == expected)
  }

  test("factSink keeps the open true") {
    val d = written("tix_fact_sink", tiny)
    val edge = Seq(Edge.mk("7", 1704844800L))
    sinkInto(d, "tix_fact_sink", edge)
    assert(!new java.io.File(d, "_spark_metadata").exists())
    assertOpens(d, tiny.unionByName(ingested(edge)))
  }

  test("compactPartition, overwritePartitions and retentionDelete on a factSink table keep exactly the expected rows") {
    val d = graft.TempDirs.fixtureDir("tix_sink_table") + "/fact"
    // two days (2024-01-10, 2024-01-11) of two devices in two buckets
    val edges = for {
      dev <- Seq("7", "8"); t <- Seq(1704844800L, 1704844860L, 1704931200L)
    } yield Edge.mk(dev, t)
    sinkInto(d, "tix_sink_table", edges)
    val streamed = ingested(edges)
    assert(streamed.count() == 6)
    assertOpens(d, streamed)
    val bucket = new java.io.File(d).listFiles().map(_.getName)
      .filter(_.startsWith("device_id_bucket=")).min
    val touched = $"device_id_bucket" === bucket.split('=').last.toInt &&
      $"received_day" === lit("2024-01-10").cast("date")

    Maintenance.compactPartition(spark, s"$d/$bucket", "received_day", "2024-01-10")
    assertOpens(d, streamed)

    Maintenance.overwritePartitions(listed(d).filter(touched)
      .withColumn("speed_kmh", $"speed_kmh" + 1), d, Seq("device_id_bucket", "received_day"))
    val bumped = streamed.withColumn("speed_kmh",
      when(touched, $"speed_kmh" + 1).otherwise($"speed_kmh"))
    assertOpens(d, bumped)

    assert(Maintenance.retentionDelete(spark, s"$d/$bucket", "received_day", 0,
      java.time.LocalDate.parse("2024-01-11")).nonEmpty)
    assertOpens(d, bumped.filter(!touched))
  }
}
