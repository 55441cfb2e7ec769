package graft.maintain

import graft.SparkSpec
import graft.ingest.Normalize
import graft.plans.GuardTesting
import graft.queries.TelematicsQueries
import graft.serve.Api
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val d = graft.TempDirs.fixtureDir("layout") + "/fact"
    Layout.writeFact(TelematicsQueries.normalizedFact(spark, sf()), d)
    d
  }

  test("fact layout: partition dirs, zstd files, sorted within files") {
    val buckets = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("device_id_bucket=")).map(_.getName)
    assert(buckets.nonEmpty)
    val days = new java.io.File(s"$dir/${buckets.head}").listFiles()
      .filter(_.getName.startsWith("received_day=")).map(_.getName)
    assert(days.nonEmpty)
    val files = new java.io.File(s"$dir/${buckets.head}/${days.head}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.getName.contains(".zstd.")))
    // sorted within each file: per-partition rows are non-decreasing
    val sortedOk = spark.read.parquet(s"$dir/${buckets.head}/${days.head}")
      .select($"device_id", unix_micros($"gps_epoch").as("t"))
      .as[(String, Long)].collect()
    assert(sortedOk.sliding(2).forall {
      case Array((d1, t1), (d2, t2)) => d1 < d2 || (d1 == d2 && t1 <= t2)
      case _ => true
    })
  }

  /** Every data file under `d`, as a local path. */
  private def parquetFiles(d: String): Seq[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
    try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally walk.close()
  }

  /** (file, chunk, the chunk's bloom filter if it has one) of every
    * `column` chunk of every data file under `d`, read from the footers.
    */
  private def chunks(d: String, column: String)
      : Seq[(String, ColumnChunkMetaData, Option[BloomFilter])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(d).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
        b.getColumns.asScala.filter(_.getPath.toDotString == column).map { c =>
          (f, c, Option(reader.getBloomFilterDataReader(b).readBloomFilter(c)))
        }
      } finally reader.close()
    }
  }

  /** Parquet writes a bloom filter only for a chunk with a page that is not
    * dictionary-encoded; a fully dictionary-encoded chunk needs none.
    */
  private def nonDictionary(c: ColumnChunkMetaData): Boolean =
    Option(c.getEncodingStats).forall(_.hasNonDictionaryEncodedPages)

  private def mayContain(bloom: BloomFilter, id: String): Boolean =
    bloom.findHash(bloom.hash(Binary.fromString(id)))

  /** (file, filter) of every non-dictionary `correlation_id` chunk under
    * `d`, asserting there is one and each filter is at most 2 KiB.
    */
  private def smallFilters(d: String): Seq[(String, BloomFilter)] = {
    val cs = chunks(d, "correlation_id").filter(c => nonDictionary(c._2))
    assert(cs.nonEmpty)
    for ((f, _, bloom) <- cs)
      assert(bloom.exists(_.getBitsetSize <= 2048), s"$f: filter ${bloom.map(_.getBitsetSize)}")
    cs.map { case (f, _, bloom) => f -> bloom.get }
  }

  test("fact bloom filters are sized to their file: small, no false negatives") {
    val filters = smallFilters(dir)
    assert(filters.map(_._1).distinct.size == filters.size,
      "a fact file has more than one row group")
    val ids = spark.read.parquet(dir).select($"_metadata.file_path", $"correlation_id")
      .as[(String, String)].collect()
    val byFile = ids.groupBy(r => new Path(r._1).toUri.getPath).map { case (f, rs) =>
      f -> rs.map(_._2).toSet
    }
    val all = ids.map(_._2).distinct.sorted
    val absentChecked = filters.map { case (f, bloom) =>
      val present = byFile(f)
      assert(present.forall(mayContain(bloom, _)), s"$f: a present id is missing")
      // ids of other files that this file's min/max statistics cannot exclude
      val (lo, hi) = (present.min, present.max)
      val absent = all.filter(id => id > lo && id < hi && !present(id)).take(20)
      assert(absent.forall(!mayContain(bloom, _)), s"$f: an absent id passes the filter")
      absent.size
    }.sum
    assert(absentChecked > 0)
  }

  test("a file of 200k distinct ids gets a filter large enough for 1% false positives") {
    val d = graft.TempDirs.fixtureDir("layout_bloom_200k")
    val n = 200000
    spark.range(n).select(concat(lit("id-"), $"id".cast("string")).as("k")).coalesce(1)
      .write.mode("overwrite").options(Layout.bloomOptions(Seq("k"))).parquet(d)
    val bloom = chunks(d, "k").flatMap(_._3) match {
      case Seq(b) => b
      case bs => fail(s"expected one filter, got ${bs.size}")
    }
    assert(bloom.getBitsetSize >= (128 << 10), s"filter ${bloom.getBitsetSize} B")
    assert((0 until n).forall(i => mayContain(bloom, s"id-$i")))
    val falsePositives = (0 until 10000).count(i => mayContain(bloom, s"absent-$i"))
    assert(falsePositives <= 200, s"$falsePositives false positives in 10000 absent ids")
  }

  test("compactPartition keeps a fact partition's zstd and sized bloom filters") {
    val d = graft.TempDirs.fixtureDir("layout_compact") + "/fact"
    val fact = TelematicsQueries.normalizedFact(spark, sf())
    val bucket = fact.select(min($"device_id_bucket")).as[Int].head()
    Layout.writeFact(fact.filter($"device_id_bucket" === bucket), d)
    val bucketDir = s"$d/device_id_bucket=$bucket"
    val day = new java.io.File(bucketDir).list().filter(_.startsWith("received_day="))
      .min.stripPrefix("received_day=")
    Maintenance.compactPartition(spark, bucketDir, "received_day", day)
    val part = s"$bucketDir/received_day=$day"
    val files = parquetFiles(part)
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")), files)
    smallFilters(part)
  }

  test("point lookup on the layout prunes partitions in the scan") {
    val day = java.time.LocalDate.parse("2024-01-10")
    GuardTesting.withGuard(spark, dir) {
      val df = Api.pointLookup(spark.read.parquet(dir), "7",
        s"$day 00:00:00", s"$day 23:59:59", day.toString, day.toString)
      val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("received_day") &&
        scan.contains("device_id_bucket"), s"partition filters missing from scan: $scan")
      // pushed data filter on device_id reaches the parquet reader
      assert(scan.contains("PushedFilters") && scan.contains("EqualTo(device_id,7)"), scan)
      val bucket = math.abs("7".hashCode) % Normalize.DeviceBuckets
      assert(GuardTesting.selectedPartitions(df) == Set(bucket -> day))
      assert(df.count() > 0)
    }
  }

  test("co-bucketed tables join and aggregate with zero Exchange") {
    val o = graft.Tables.orders(spark, sf()).select($"o_orderkey", $"o_totalprice")
    val l = graft.Tables.lineitem(spark, sf())
      .select($"l_orderkey".as("o_orderkey"), $"l_quantity")
    // the in-memory catalog is fresh per JVM but the warehouse dir persists:
    // clear stale locations from prior runs before CTAS
    Seq("bkt_orders", "bkt_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    Layout.writeBucketed(o, "bkt_orders", "o_orderkey", buckets = 8,
      sortCols = Seq("o_orderkey"))
    Layout.writeBucketed(l, "bkt_lineitem", "o_orderkey", buckets = 8,
      sortCols = Seq("o_orderkey"))
    graft.GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("bkt_orders").join(spark.table("bkt_lineitem"), "o_orderkey")
        .groupBy($"o_orderkey").agg(sum($"l_quantity").as("qty"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"co-bucketed join + agg must not shuffle:\n$p")
      // and it computes the same result as the un-bucketed join
      val expected = o.join(l, "o_orderkey").groupBy($"o_orderkey")
        .agg(sum($"l_quantity").as("qty"))
        .as[(Long, Double)].collect().toMap
      assert(j.as[(Long, Double)].collect().toMap == expected)
    }
  }

  test("materialized posting probe: bucket-pruned scan, one Exchange, matches corpus search") {
    import graft.text.TextAnalysis
    val docs = graft.Tables.documents(spark, sf())
    val table = TextAnalysis.materializePostings(docs, key = sf() + "#spec")
    val probe = TextAnalysis.searchPostings(spark, table, Seq("data", "query", "table"))
    val p = probe.queryExecution.executedPlan.toString
    // the isin on the bucketing column prunes to the queried terms' buckets
    assert(p.contains("SelectedBucketsCount"), s"no bucket pruning:\n$p")
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
    assert(sel.findFirstMatchIn(p).exists(_.group(1).toInt < 8),
      s"probe read all buckets:\n$p")
    // probe side shuffle-free: the only Exchange is the post-probe agg on
    // doc_id (matched postings only, never corpus-sized)
    assert("Exchange".r.findAllIn(p).size <= 2, s"probe plan over-shuffles:\n$p")
    // identical result to the raw-corpus search
    val got = probe.as[(Long, Long)].collect().toSet
    val ref = TextAnalysis.searchAll(docs, Seq("data", "query", "table"))
      .as[(Long, Long)].collect().toSet
    assert(got == ref && got.nonEmpty)
  }

  test("geohash matches published reference hashes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // well-known reference values (geohash.org): Jutland peninsula point,
    // White House, Sydney Opera House, null island, and the lower corner
    val pts = Seq(
      (57.64911, 10.40744, "u4pruy"),
      (38.89770, -77.03653, "dqcjqc"),
      (-33.85678, 151.21528, "r3gx2u"),
      (0.0, 0.0, "s00000"),
      (-90.0, -180.0, "000000"))
    val out = pts.toDF("lat", "lon", "expected")
      .withColumn("gh", Layout.geohash(col("lat"), col("lon"), 6))
      .select($"gh", $"expected").as[(String, String)].collect()
    out.foreach { case (gh, exp) => assert(gh == exp, s"got $gh want $exp") }
  }

  test("as-of and range joins avoid nested-loop plans") {
    import graft.analytics.{AsOfJoin, RangeJoin}
    val scores = graft.score.RiskScore.pipeline(TelematicsQueries.normalizedFact(spark, sf()))
      .select($"device_id", $"report_date", $"level")
    val ev = TelematicsQueries.normalizedFact(spark, sf())
      .select($"device_id", to_date($"gps_epoch").as("event_date"))
    val asof = AsOfJoin.asOfJoin(ev, scores, Seq("device_id"),
      col("event_date"), col("report_date"))
    assert(!asof.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "as-of join planned as nested loop")
    val pts = Seq((1L, 5L)).toDF("event_id", "pt")
    val ivs = Seq((1L, 0L, 10L)).toDF("interval_id", "lo", "hi")
    val rj = RangeJoin.pointInInterval(pts, ivs, "pt", "lo", "hi", 4L)
    assert(!rj.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "range join planned as nested loop")
  }
  test("evolved partition layouts both prune on the lang predicate") {
    val docs = graft.Tables.documents(spark, sf())
    val tmp = graft.TempDirs.fixtureDir("evo_spec")
    docs.filter($"doc_id" % 2 === 0).write.partitionBy("lang").parquet(s"$tmp/v1")
    docs.filter($"doc_id" % 2 === 1)
      .write.partitionBy("lang", "source").parquet(s"$tmp/v2")
    def partFilters(df: org.apache.spark.sql.DataFrame): String = {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: ["), plan)
      plan.split("PartitionFilters: \\[")(1).split("]")(0)
    }
    val v1 = spark.read.parquet(s"$tmp/v1").filter($"lang" === "en")
    val v2 = spark.read.parquet(s"$tmp/v2").filter($"lang" === "en")
    // the lang predicate must reach the partition filter (directory pruning),
    // not the data filter, in BOTH layout generations
    assert(partFilters(v1).contains("lang"), "v1 scan does not prune on lang")
    assert(partFilters(v2).contains("lang"), "v2 scan does not prune on lang")
    val n = v1.count() + v2.count()
    assert(n == docs.filter($"lang" === "en").count())
  }
  test("zValue3 interleaves disjoint bit positions; bits bound enforced") {
    import graft.maintain.Layout
    val df = Seq((1, 0, 0), (0, 1, 0), (0, 0, 1), (3, 3, 3)).toDF("x", "y", "z")
    val out = df.select(Layout.zValue3($"x", $"y", $"z", bits = 4).as("v"))
      .as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 4L, 7L * 8 + 7L)) // (3,3,3) -> 0b111111 = 63
    intercept[IllegalArgumentException] {
      Layout.zValue3($"x", $"y", $"z", bits = 22)
    }
    ()
  }

  test("hilbert: bijective on the grid, unit-step curve, beats z-order locality") {
    import graft.maintain.Layout
    val n = 16 // bits = 4, exhaustive 256-cell grid
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x, y)).toDF("x", "y")
    val cells = Layout.withHilbert(grid, "x", "y", bits = 4)
      .select($"h", $"x", $"y").as[(Long, Int, Int)].collect().sortBy(_._1)
    // bijection onto [0, n²)
    assert(cells.map(_._1).toSeq == (0L until (n.toLong * n)).toSeq)
    // THE Hilbert property: every consecutive pair of curve positions is
    // Manhattan-adjacent — no jumps, ever
    val steps = cells.sliding(2).map { case Array((_, x1, y1), (_, x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }.toSeq
    assert(steps.forall(_ == 1))
    // the z-curve on the same grid jumps at power-of-two seams
    val zcells = grid.select(Layout.zValue($"x", $"y", 4).as("z"), $"x", $"y")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    val zJumps = zcells.sliding(2).count { case Array((_, x1, y1), (_, x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(zJumps > 0)
    // first quadrant-order sanity: the 2x2 curve is (0,0)->(0,1)->(1,1)->(1,0)
    val tiny = Layout.withHilbert(
        Seq((0, 0), (0, 1), (1, 0), (1, 1)).toDF("x", "y"), "x", "y", bits = 1)
      .select($"h", $"x", $"y").as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(tiny.map(t => (t._2, t._3)).toSeq == Seq((0, 0), (0, 1), (1, 1), (1, 0)))
  }
}
