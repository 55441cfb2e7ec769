package graft.ops

import graft.{SparkSpec, Tables}
import graft.score.{RiskScore, TypedRiskScore}
import org.apache.spark.sql.functions._

class SkewAndTypedSpec extends SparkSpec {
  import spark.implicits._

  test("salted join is row-identical to the plain join") {
    val li = Tables.lineitem(spark, sf()).withColumnRenamed("l_orderkey", "okey")
    val o = Tables.orders(spark, sf()).withColumnRenamed("o_orderkey", "okey")
    val salted = SkewJoin.saltedJoin(li, o, "okey", 8, col("l_linenumber"))
      .groupBy("okey").count()
    val plain = li.join(o, "okey").groupBy("okey").count()
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("salted join spreads a hot key across salt partitions") {
    val hot = (1 to 1000).map(i => (42L, i)).toDF("okey", "payload")
    val small = Seq((42L, "x")).toDF("okey", "v")
    val salts = SkewJoin.saltedJoin(hot, small, "okey", 8, col("payload"))
    assert(salts.count() == 1000)
    val distinctSalts = hot.withColumn("__salt",
        pmod(xxhash64(col("okey"), col("payload")), lit(8L)).cast("int"))
      .select("__salt").distinct().count()
    assert(distinctSalts > 4, s"hot key only used $distinctSalts salts")
  }

  test("salting spreads hot-key rows across shuffle partitions (100k-row hot key)") {
    // one key carrying half of all rows — the pathological case the salt
    // exists for; measured on the actual hash-partitioned layout the join
    // would shuffle into, not on salt values alone
    val n = 100000L
    val hot = spark.range(n).select(lit(42L).as("okey"), col("id").as("payload"))
    val cold = spark.range(n).select((col("id") % 1000 + 100L).as("okey"), col("id").as("payload"))
    val big = hot.unionAll(cold)

    def maxPartitionRows(df: org.apache.spark.sql.DataFrame,
                         keys: org.apache.spark.sql.Column*): Long =
      df.repartition(32, keys: _*)
        .groupBy(spark_partition_id().as("p")).count()
        .agg(max("count")).head.getLong(0)

    val maxUnsalted = maxPartitionRows(big, col("okey"))
    val salted = big.withColumn("__salt",
      pmod(xxhash64(col("okey"), col("payload")), lit(8L)).cast("int"))
    val maxSalted = maxPartitionRows(salted, col("okey"), col("__salt"))

    assert(maxUnsalted >= n, s"hot key not concentrated without salt: $maxUnsalted")
    assert(maxSalted <= n / 3,
      s"salt failed to spread the hot key: max partition holds $maxSalted of ${2 * n} rows")
  }

  test("typed Aggregator pipeline equals untyped risk aggregation") {
    val fact = graft.queries.TelematicsQueries.normalizedFact(spark, sf())
    val typed = TypedRiskScore.aggregate(spark, fact)
      .select("device_id", "report_date", "total_reports", "overspeed_reports", "night_reports")
    val untyped = RiskScore.aggregate(RiskScore.base(fact))
    assert(typed.exceptAll(untyped).count() == 0 && untyped.exceptAll(typed).count() == 0)
  }
}
