package graft.ops

import graft.SparkSpec
import graft.maintain.Maintenance
import graft.serve.Api
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("upsert is idempotent and keeps exactly one row per key (K3)") {
    val existing = Seq(("d1", "2024-01-01", 5L, 1), ("d2", "2024-01-01", 7L, 1))
      .toDF("device_id", "report_date", "total", "version")
    val incoming = Seq(("d1", "2024-01-01", 9L, 2), ("d3", "2024-01-01", 1L, 2))
      .toDF("device_id", "report_date", "total", "version")
    val keys = Seq("device_id", "report_date")
    val once = Upsert.upsert(existing, incoming, keys, col("version"), col("version"))
    val twice = Upsert.upsert(once, incoming, keys, col("version"), col("version"))
    val expect = Set(("d1", 9L), ("d2", 7L), ("d3", 1L))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("device_id", "total").as[(String, Long)].collect().toSet
    assert(snap(once) == expect)
    assert(snap(twice) == expect) // re-run ⇒ same table (README:136)
    assert(once.groupBy("device_id", "report_date").count()
      .filter($"count" > 1).count() == 0)
  }

  test("upsertAntiJoin equals window upsert for single-row-per-key batches") {
    val existing = Seq(("d1", 5L), ("d2", 7L)).toDF("k", "v")
    val incoming = Seq(("d1", 9L), ("d3", 1L)).toDF("k", "v")
    val out = Upsert.upsertAntiJoin(existing, incoming, Seq("k"))
    assert(out.as[(String, Long)].collect().toSet == Set(("d1", 9L), ("d2", 7L), ("d3", 1L)))
  }

  test("null-key rows follow MERGE semantics in BOTH upsert formulations") {
    // a NULL key never matches an ON condition: null-key rows pass through
    // un-deduplicated on both paths — window partitioning alone would
    // collapse them all to one survivor (silent loss of identity-less rows)
    val existing = Seq((null.asInstanceOf[String], 1L), ("d1", 5L)).toDF("k", "v")
    val incoming = Seq((null.asInstanceOf[String], 2L),
      (null.asInstanceOf[String], 3L), ("d1", 9L)).toDF("k", "v")
    val win = Upsert.upsert(existing, incoming, Seq("k"), col("v"), col("v"))
      .as[(String, Long)].collect().toSet
    val anti = Upsert.upsertAntiJoin(existing, incoming, Seq("k"))
      .as[(String, Long)].collect().toSet
    val expect = Set((null, 1L), (null, 2L), (null, 3L), ("d1", 9L))
    assert(win == expect, s"window path: $win")
    assert(anti == expect, s"anti-join path: $anti")
  }

  test("retain keeps NULL-day rows, matching DELETE and the partition sweep") {
    // DELETE WHERE day < cutoff does not delete NULL days (predicate NULL);
    // the naive survivor filter day >= cutoff would silently drop them
    val df = Seq(("2024-01-01", 1L), ("2024-03-01", 2L),
      (null.asInstanceOf[String], 3L)).toDF("d", "v")
      .select(col("d").cast("date").as("d"), col("v"))
    val out = Maintenance.retain(df, "d", 30, java.time.LocalDate.parse("2024-03-15"))
      .select("v").as[Long].collect().toSet
    assert(out == Set(2L, 3L), s"got $out")
  }

  test("pagination partitions the ordered result (FIXTURES.md §3)") {
    val df = (1 to 95).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    val order = Seq(col("id").asc)
    val pages = Seq(0, 40, 80).map(o =>
      Api.page(df, order, o, 40).as[(Long, String)].collect().toSeq)
    assert(pages.map(_.size) == Seq(40, 40, 15))
    assert(pages.flatten == (1 to 95).map(i => (i.toLong, s"r$i")))
    assert(Api.page(df, order, 100, 40).count() == 0) // past the end
    intercept[IllegalArgumentException](Api.page(df, order, 0, 20000))
  }

  test("keyset pagination walks the full result without overlap") {
    val df = (1 to 25).map(_.toLong).toDF("id")
    val p1 = Api.keysetPage(df, col("id"), None, 10).as[Long].collect()
    val p2 = Api.keysetPage(df, col("id"), Some(lit(p1.last)), 10).as[Long].collect()
    val p3 = Api.keysetPage(df, col("id"), Some(lit(p2.last)), 10).as[Long].collect()
    assert((p1 ++ p2 ++ p3).toSeq == (1L to 25L))
  }

  test("retentionDelete removes whole expired partitions, keeps the rest") {
    val dir = graft.TempDirs.fixtureDir("ret")
    val days = Seq("2024-01-01", "2024-01-10", "2024-01-20")
    days.zipWithIndex.flatMap { case (d, i) => (0 until 10).map(j => (i * 10 + j, d)) }
      .toDF("id", "day").write.partitionBy("day").mode("overwrite").parquet(dir)
    val deleted = Maintenance.retentionDelete(spark, dir, "day", 10,
      java.time.LocalDate.parse("2024-01-25"))
    assert(deleted.size == 2 && deleted.forall(p => p.contains("2024-01-01") || p.contains("2024-01-10")))
    val left = spark.read.parquet(dir)
    assert(left.select("day").distinct().as[String].collect().toSeq == Seq("2024-01-20"))
    assert(left.count() == 10)
  }

  test("retentionDelete also removes an expired day's interrupted-swap leftovers") {
    val dir = graft.TempDirs.fixtureDir("ret_leftover")
    Seq((1, "2024-01-01"), (2, "2024-01-20")).toDF("id", "day")
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val expiredLeftovers = Seq(".day=2024-01-01__staged", ".day=2024-01-01__backup")
    val keptLeftover = ".day=2024-01-20__backup"
    (expiredLeftovers :+ keptLeftover).foreach { n =>
      val d = new java.io.File(dir, n)
      assert(d.mkdirs())
      java.nio.file.Files.writeString(new java.io.File(d, "part-0.parquet").toPath, "x")
    }
    Maintenance.retentionDelete(spark, dir, "day", 10, java.time.LocalDate.parse("2024-01-25"))
    val left = new java.io.File(dir).list().toSet
    assert(expiredLeftovers.forall(n => !left.contains(n)), left)
    assert(left.contains(keptLeftover) && left.contains("day=2024-01-20"), left)
    assert(new java.io.File(dir, s"$keptLeftover/part-0.parquet").exists())
  }

  test("compactPartition merges small files without changing data") {
    val dir = graft.TempDirs.fixtureDir("cmp")
    (1 to 400).map(i => (i, "2024-01-05")).toDF("id", "day")
      .repartition(16) // 16 small files in one partition
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    def files() = new java.io.File(s"$dir/day=2024-01-05")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() == 16)
    Maintenance.compactPartition(spark, dir, "day", "2024-01-05")
    assert(files() == 1)
    // the rewrite keeps the files' codec: Spark's default snappy stays snappy
    assert(new java.io.File(s"$dir/day=2024-01-05").list()
      .filter(_.endsWith(".parquet")).forall(_.contains(".snappy.")))
    val back = spark.read.parquet(dir)
    assert(back.count() == 400 && back.agg(sum("id")).as[Long].head() == (1 to 400).sum.toLong)
  }

  test("compactPartition restores a partition an interrupted swap left in its backup") {
    val dir = graft.TempDirs.fixtureDir("cmp_rec")
    (1 to 400).map(i => (i, if (i % 2 == 0) "2024-01-05" else "2024-01-06"))
      .toDF("id", "day").repartition(8)
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    def dirs() = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    val parts = Set("day=2024-01-05", "day=2024-01-06")
    def rows() = spark.read.parquet(dir).select($"id", $"day".cast("string"))
      .as[(Int, String)].collect().toSet
    val all = rows()
    assert(all.size == 400)
    // a normal compaction leaves only partition dirs under the table root
    Maintenance.compactPartition(spark, dir, "day", "2024-01-06")
    assert(dirs() == parts)
    assert(rows() == all)
    // a crash between the swap's two renames: the live partition sits in
    // its backup and a half-written staged copy is left beside it
    val live = new java.io.File(dir, "day=2024-01-05")
    assert(live.renameTo(new java.io.File(dir, ".day=2024-01-05__backup")))
    assert(new java.io.File(dir, ".day=2024-01-05__staged").mkdir())
    Maintenance.compactPartition(spark, dir, "day", "2024-01-05")
    assert(dirs() == parts)
    assert(rows() == all)
  }

  test("dlqSplit routes malformed JSON to the DLQ side and parses the rest") {
    import org.apache.spark.sql.types._
    val df = Seq((1L, """{"k": 5}"""), (2L, """{"k"""), (3L, """{"k": 7}"""), (4L, "not json"))
      .toDF("id", "payload")
    val (good, dlq) = graft.ingest.Normalize.dlqSplit(df, "payload",
      StructType(Seq(StructField("k", LongType))))
    assert(good.select("id", "k").as[(Long, Long)].collect().toSet == Set((1L, 5L), (3L, 7L)))
    assert(dlq.select("id").as[Long].collect().toSet == Set(2L, 4L))
  }

  test("consistentEntitySample: all-or-nothing per entity, consistent across tables, edge permilles") {
    import org.apache.spark.sql.functions._
    val a = (1 to 400).map(i => (i.toLong % 50, i.toLong)).toDF("user", "x")
    val b = (1 to 200).map(i => (i.toLong % 50, s"r$i")).toDF("user", "y")
    def keptUsers(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.consistentEntitySample(df, col("user"), "t", 300)
        .select($"user").distinct().as[Long].collect().toSet
    val (ka, kb) = (keptUsers(a), keptUsers(b))
    assert(ka === kb, "the same entities must survive in every table")
    assert(ka.nonEmpty && ka.size < 50)
    // all-or-nothing: each kept user keeps ALL its rows
    val perUser = a.groupBy($"user").count().as[(Long, Long)].collect().toMap
    val keptCounts = graft.ops.Sampling
      .consistentEntitySample(a, col("user"), "t", 300)
      .groupBy($"user").count().as[(Long, Long)].collect().toMap
    keptCounts.foreach { case (u, n) => assert(n === perUser(u)) }
    assert(graft.ops.Sampling.consistentEntitySample(a, col("user"), "t", 1000)
      .count() === 400L)
    assert(graft.ops.Sampling.consistentEntitySample(a, col("user"), "t", 0)
      .count() === 0L)
  }
}
