package graft.plans

import java.time.LocalDate
import graft.SparkSpec
import graft.ingest.Normalize
import graft.maintain.Layout
import graft.queries.TelematicsQueries
import graft.serve.Api
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

class InjectPartitionGuardSpec extends SparkSpec {
  import spark.implicits._
  import GuardTesting._

  private lazy val factDir = {
    val d = graft.TempDirs.fixtureDir("ipg") + "/fact"
    Layout.writeFact(TelematicsQueries.normalizedFact(spark, sf()), d)
    d
  }

  private def fact: DataFrame = spark.read.parquet(factDir)

  /** Device ids of the fixture, busiest first. */
  private lazy val devices: Seq[String] =
    fact.groupBy($"device_id").count().orderBy($"count".desc, $"device_id")
      .as[(String, Long)].collect().map(_._1).toSeq

  private def bucketOf(id: String): Int = math.abs(id.hashCode) % Normalize.DeviceBuckets

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Runs `q` over the fact without and with the rule, asserts the same
    * rows, and returns the guarded query's bucket conjuncts, selected
    * partitions and row count.
    */
  private def guarded(q: DataFrame => DataFrame): (Seq[Set[Int]], Set[(Int, LocalDate)], Int) = {
    val base = rows(q(fact))
    withGuard(spark, factDir) {
      val df = q(fact)
      assert(rows(df) == base, df.queryExecution.optimizedPlan)
      (bucketConjuncts(df), selectedPartitions(df), base.size)
    }
  }

  /** Asserts `q` gets exactly one bucket guard naming `ids`' buckets, that it
    * reaches partition pruning, and that the query returns rows.
    */
  private def assertBucketGuard(ids: Seq[String])(q: DataFrame => DataFrame): Unit = {
    val want = ids.map(bucketOf).toSet
    val (guards, parts, n) = guarded(q)
    assert(guards == Seq(want))
    assert(parts.nonEmpty && parts.map(_._1).subsetOf(want), parts)
    assert(n > 0)
  }

  private def assertNoBucketGuard(q: DataFrame => DataFrame): Unit = {
    val (guards, parts, _) = guarded(q)
    assert(guards.isEmpty)
    assert(parts == partitionsOnDisk(factDir))
  }

  test("gps_epoch range filter gains a received_day partition guard") {
    withGuard(spark, factDir) {
      val df = fact
        .filter($"gps_epoch" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          $"gps_epoch" < lit("2024-01-12 00:00:00").cast("timestamp"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("received_day"), optimized)
      val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("received_day"),
        s"guard did not reach partition pruning:\n$scan")
    }
  }

  test("injected guard never changes results (implied predicate)") {
    val pred = ($"gps_epoch" >= lit("2024-01-10 00:00:00").cast("timestamp")) &&
      ($"gps_epoch" < lit("2024-01-12 00:00:00").cast("timestamp"))
    val base = fact.filter(pred)
      .select("correlation_id").as[String].collect().sorted.toSeq
    val guarded = withGuard(spark, factDir) {
      fact.filter(pred)
        .select("correlation_id").as[String].collect().sorted.toSeq
    }
    assert(base.nonEmpty && guarded == base)
  }

  test("rule is idempotent and skips filters already constraining the day") {
    withGuard(spark, factDir) {
      val df = fact
        .filter($"gps_epoch" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          $"received_day" === lit("2024-01-10").cast("date"))
      val optimized = df.queryExecution.optimizedPlan.toString
      // exactly the one user-written received_day predicate family; the rule
      // must not stack another guard on top
      assert(!optimized.contains("date_add"), optimized)
    }
  }

  test("rule is a no-op for tables that did not opt in (late-data safety)") {
    withGuard(spark) {
      val df = fact
        .filter($"gps_epoch" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          $"gps_epoch" < lit("2024-01-12 00:00:00").cast("timestamp") &&
          $"device_id" === devices.head)
      val cond = df.queryExecution.optimizedPlan.collectFirst {
        case Filter(c, _) => c.toString
      }.getOrElse("")
      assert(!cond.contains("received_day") && !cond.contains("device_id_bucket"), cond)
    }
  }

  test("a sibling directory whose name extends the opted-in path gets no guard") {
    val sibling = factDir + "_old"
    TelematicsQueries.normalizedFact(spark, sf()).write.mode("overwrite").parquet(sibling)
    withGuard(spark, factDir) {
      val df = spark.read.parquet(sibling)
        .filter($"gps_epoch" >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          $"device_id" === devices.head)
      val cond = df.queryExecution.optimizedPlan.collectFirst {
        case Filter(c, _) => c.toString
      }.getOrElse("")
      assert(!cond.contains("received_day") && !cond.contains("device_id_bucket"), cond)
    }
  }

  test("a relative opt-in is stored qualified and guards the table") {
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(factDir)).toString
    withGuard(spark, rel) {
      assert(spark.conf.get(InjectPartitionGuard.PathsConfKey) == s"file:$factDir")
      assert(bucketConjuncts(fact.filter($"device_id" === devices.head)) ==
        Seq(Set(bucketOf(devices.head))))
    }
  }

  test("device_id = literal gains the bucket guard, literal on either side") {
    val id = devices.head
    assertBucketGuard(Seq(id))(_.filter($"device_id" === id))
    assertBucketGuard(Seq(id))(_.filter(lit(id) === $"device_id"))
  }

  test("device_id IN (3 ids) gains the buckets of the 3 ids") {
    val ids = devices.take(3)
    assertBucketGuard(ids)(_.filter($"device_id".isin(ids: _*)))
  }

  test("device_id IN (12 ids), planned as InSet, gains the buckets of the 12 ids") {
    val ids = devices.take(12)
    assert(ids.size == 12)
    val q = (df: DataFrame) => df.filter($"device_id".isin(ids: _*))
    withGuard(spark, factDir) {
      val inSet = q(fact).queryExecution.optimizedPlan.collect { case Filter(c, _) => c }
        .exists(_.exists(_.isInstanceOf[InSet]))
      assert(inSet, "a 12-id IN list should be planned as InSet")
    }
    assertBucketGuard(ids)(q)
  }

  test("a null literal in the id list is dropped from the bucket set") {
    val ids = devices.take(2)
    assertBucketGuard(ids)(_.filter($"device_id".isin(ids(0), null, ids(1))))
  }

  test("an id hashing to Int.MinValue lands in bucket 0") {
    assert("polygenelubricants".hashCode == Int.MinValue)
    val ids = Seq("polygenelubricants", devices.head)
    assert(ids.map(bucketOf).contains(0))
    assertBucketGuard(ids)(_.filter($"device_id".isin(ids: _*)))
  }

  test("the pointLookup shape, which already names received_day, still gets the bucket guard") {
    val id = devices.head
    assertBucketGuard(Seq(id))(Api.pointLookup(_, id,
      "2024-01-01 00:00:00", "2024-01-20 00:00:00", "2024-01-01", "2024-01-20"))
  }

  test("a withColumn above the device filter (the keyset shape) gets the bucket guard") {
    val id = devices.head
    assertBucketGuard(Seq(id)) { df =>
      val f = Api.dynamicFilter(df, deviceIds = Some(Seq(id)))
        .withColumn("ck", $"correlation_id".cast("long"))
      Api.keysetPage(f, $"ck", Some(lit(0L)), 5)
    }
  }

  test("a filter already naming device_id_bucket gets no second bucket guard") {
    val id = devices.head
    val (guards, _, _) = guarded(_.filter($"device_id" === id &&
      $"device_id_bucket" === bucketOf(id)))
    assert(guards == Seq(Set(bucketOf(id))))
  }

  test("columns renamed or unioned above the scan get no guard") {
    val id = devices.head
    withGuard(spark, factDir) {
      // the rule applied to analyzed plans, where the filter still sits above
      // the rename / union the optimizer would otherwise push it through
      val renamed = fact.select($"correlation_id".as("device_id"), $"device_id_bucket")
        .filter($"device_id" === id)
      val misaligned = fact.select($"device_id", $"device_id_bucket")
        .union(fact.select($"correlation_id", $"device_id_bucket"))
        .filter($"device_id" === id)
      Seq(renamed, misaligned).foreach { df =>
        val plan = df.queryExecution.analyzed
        assert(InjectPartitionGuard().apply(plan) == plan)
      }
    }
  }

  test("<=> and collated comparisons get no bucket guard") {
    val id = devices.head
    assertNoBucketGuard(_.filter($"device_id" <=> id))
    assertNoBucketGuard(_.filter(collate($"device_id", "UTF8_LCASE") === id))
  }

  test("Api.pointLookup selects 1 bucket x the day range") {
    val id = devices.head
    val (from, to) = (LocalDate.parse("2024-01-05"), LocalDate.parse("2024-01-12"))
    val parts = withGuard(spark, factDir) {
      selectedPartitions(Api.pointLookup(fact, id,
        s"$from 00:00:00", s"$to 00:00:00", from.toString, to.toString))
    }
    assert(parts.nonEmpty && parts == partitionsOnDisk(factDir).filter { case (b, d) =>
      b == bucketOf(id) && !d.isBefore(from) && !d.isAfter(to)
    })
  }

  test("Api.keysetPage over dynamicFilter with 1 id selects 1 bucket x all days") {
    val id = devices.head
    val parts = withGuard(spark, factDir) {
      val f = Api.dynamicFilter(fact, deviceIds = Some(Seq(id)))
        .withColumn("ck", $"correlation_id".cast("long"))
      selectedPartitions(Api.keysetPage(f, $"ck", Some(lit(0L)), 5))
    }
    assert(parts.nonEmpty && parts == partitionsOnDisk(factDir).filter(_._1 == bucketOf(id)))
  }

  test("Api.dynamicFilter with k ids selects at most k buckets x the guarded days") {
    val ids = devices.take(4)
    val (from, to) = (LocalDate.parse("2024-01-08"), LocalDate.parse("2024-01-14"))
    val parts = withGuard(spark, factDir) {
      selectedPartitions(Api.dynamicFilter(fact, Some(ids),
        Some(s"$from 00:00:00"), Some(s"$to 00:00:00")))
    }
    val buckets = ids.map(bucketOf).toSet
    // the skew bound widens the event-time range on each side
    val skew = InjectPartitionGuard.SkewDays.toLong
    val (lo, hi) = (from.minusDays(skew), to.plusDays(skew))
    assert(parts.map(_._1).size <= ids.size)
    assert(parts.nonEmpty && parts == partitionsOnDisk(factDir).filter { case (b, d) =>
      buckets(b) && !d.isBefore(lo) && !d.isAfter(hi)
    })
  }

  test("writeFact rejects tables violating the skew contract the guard assumes") {
    val fact = TelematicsQueries.normalizedFact(spark, sf())
    // a device that uploaded 10 days late — exactly the row the guard would
    // silently drop if the contract were not enforced at write time
    val late = fact.limit(1)
      .withColumn("received_day", date_add($"received_day", 10))
    val dir = graft.TempDirs.fixtureDir("ipg_bad")
    // a valid table already at the path: the rejected write must not touch it
    Layout.writeFact(fact, dir + "/bad")
    val before = spark.read.parquet(dir + "/bad").count()
    val err = intercept[IllegalArgumentException] {
      Layout.writeFact(fact.unionByName(late), dir + "/bad")
    }
    assert(err.getMessage.contains("violate"))
    assert(spark.read.parquet(dir + "/bad").count() == before,
      "the rejected write replaced the previous table")
    assert(before == fact.count())
    assert(new java.io.File(dir).list().toSeq == Seq("bad"),
      "the rejected write left a staging dir behind")
  }

  test("writeFact rejects a row whose bucket is not java_hash_bucket(device_id)") {
    val fact = TelematicsQueries.normalizedFact(spark, sf())
    // the row a bucket-guarded lookup of its device would silently miss
    val misfiled: Column = ($"device_id_bucket" + 1) % Normalize.DeviceBuckets
    val bad = fact.limit(1).withColumn("device_id_bucket", misfiled)
    val dir = graft.TempDirs.fixtureDir("ipg_bad_bucket")
    val err = intercept[IllegalArgumentException] {
      Layout.writeFact(fact.unionByName(bad), dir + "/bad")
    }
    assert(err.getMessage.contains("1 rows violate device_id_bucket"), err.getMessage)
  }
}
