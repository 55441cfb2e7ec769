package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BloomPrefilterSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every dim key passes its own bloom") {
    val dim = (0L until 5000L).map(i => i * 7).toDF("k")
    val bloom = BloomPrefilter.build(dim, col("k"))
    assert(BloomPrefilter.prefilter(dim, col("k"), bloom).count() == 5000L)
  }

  test("prefilter shrinks the fact side before the shuffle") {
    val dim = Tables.customer(spark, sf())
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val fact = Tables.orders(spark, sf())
    val bloom = BloomPrefilter.build(dim, col("c_custkey"))
    val pre = BloomPrefilter.prefilter(fact, col("o_custkey"), bloom)
    val (total, kept) = (fact.count(), pre.count())
    // BUILDING is ~1/5 of customers; the bloom must cut the fact side hard
    assert(kept < total / 2, s"bloom kept $kept of $total")
    // and the prefiltered join equals the plain join
    val plain = fact.join(dim, col("o_custkey") === col("c_custkey")).count()
    val joined = pre.join(dim, col("o_custkey") === col("c_custkey")).count()
    assert(joined == plain)
  }

  test("prefilteredJoin is identity vs the plain join on full rows") {
    val dim = Tables.customer(spark, sf())
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val fact = Tables.orders(spark, sf())
    val viaBloom = BloomPrefilter.prefilteredJoin(fact, dim, "o_custkey", "c_custkey")
      .select(col("o_orderkey")).as[Long].collect().sorted.toSeq
    val plain = fact.join(dim, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey")).as[Long].collect().sorted.toSeq
    assert(viaBloom == plain)
  }
}
