package graft.sim

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf())
  private lazy val index = Pq.build(emb, dim = 64, m = 8, k = 16)

  test("build is deterministic; codebook shape and code range hold") {
    val i2 = Pq.build(emb, dim = 64, m = 8, k = 16)
    assert(index.codebooks == i2.codebooks)
    assert(index.m == 8 && index.k == 16 && index.dsub == 8)
    val codeStats = emb
      .select(Pq.codes(col("embedding").cast("array<double>"), index).as("c"))
      .agg(min(array_min($"c")), max(array_max($"c")), countDistinct($"c"))
      .as[(Int, Int, Long)].head()
    assert(codeStats._1 >= 0 && codeStats._2 < 16)
    assert(codeStats._3 > 1, "all vectors collapsed to one code word")
  }

  test("build survives corrupt vectors; codebooks equal the clean fit") {
    // same guard as Ivf.build: array_to_vector throws on NaN/Inf, so an
    // unguarded build dies on one corrupt embedding; guarded, the corrupt
    // rows are excluded from the fit and the codebooks are unchanged
    val bad = Seq(
      (9001L, Seq(Double.NaN) ++ Seq.fill(63)(0.0)),
      (9002L, Seq(Double.NegativeInfinity) ++ Seq.fill(63)(1.0)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val planted = emb.select(col("vec_id"), col("embedding")).unionByName(bad)
    val idx = Pq.build(planted, dim = 64, m = 8, k = 16)
    assert(idx.codebooks == index.codebooks)
  }

  test("codes are partitioning-invariant") {
    def run(parts: Int) = emb.repartition(parts)
      .select($"vec_id", Pq.codes(col("embedding").cast("array<double>"), index).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(run(1) == run(7))
  }

  test("an exact twin is always retrieved: identical codes minimize ADC") {
    val aug = emb.select($"vec_id", $"embedding")
      .unionByName(emb.filter($"vec_id" % 10 === 0)
        .select(($"vec_id" + 1000L).as("vec_id"), $"embedding"))
    val idx = Pq.build(aug, dim = 64, m = 8, k = 16)
    val queries = aug.filter($"vec_id" >= 1000L)
    val codes = aug.select($"vec_id".as("nn_id"),
      Pq.codes(col("embedding").cast("array<double>"), idx).as("codes"))
    val top = Pq.topK(codes, queries, idx, k = 3)
      .select($"query_id", $"nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val missing = queries.select($"vec_id").as[Long].collect()
      .filterNot(q => top.getOrElse(q, Set.empty).contains(q - 1000L))
    assert(missing.isEmpty, s"twins not retrieved for queries: ${missing.toSeq}")
  }
}
