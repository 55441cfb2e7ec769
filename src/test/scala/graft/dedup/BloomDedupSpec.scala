package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bloom-bitmap delta dedup ([[BloomDedup.bloomProbe]] over a
  * [[BloomDedup.corpusBloom]] bitmap): hand verdicts,
  * the no-false-negative invariant, exactness of `is_dup` regardless of the
  * bitmap's false-positive rate, and the forced-false-positive path on a
  * deliberately undersized bitmap.
  */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private def fp(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), md5(col("text")).as("fp"))

  /** Verdicts of `deltaFp` against an `mBits` bitmap built from `corpusFp`. */
  private def deltaDedup(corpusFp: org.apache.spark.sql.DataFrame,
                         deltaFp: org.apache.spark.sql.DataFrame, mBits: Int) =
    BloomDedup.bloomProbe(BloomDedup.corpusBloom(corpusFp, mBits, 4), corpusFp, deltaFp,
      mBits = mBits, k = 4)

  test("bloomDeltaDedup: exact copy dropped, novel kept — by hand") {
    val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val delta = Seq((10L, "alpha text"), (11L, "gamma text")).toDF("doc_id", "text")
    val out = deltaDedup(fp(corpus).select(col("fp")), fp(delta), mBits = 1 << 10)
      .orderBy("doc_id")
      .select("doc_id", "bloom_hit", "is_dup", "verdict")
      .as[(Long, Boolean, Boolean, String)].collect().toSeq
    assert(out.head == ((10L, true, true, "drop")))  // dup: hit AND confirmed
    assert(out(1)._1 == 11L && !out(1)._3 && out(1)._4 == "keep")
  }

  test("is_dup is exact and implies bloom_hit even on an undersized bitmap") {
    // 64-bit bloom over a 40-doc corpus (load kn/m = 2.5): false positives
    // are guaranteed statistically, false NEGATIVES are impossible, and
    // is_dup must still equal exact membership for every row.
    val corpus = (0 until 40).map(i => (i.toLong, s"corpus doc $i")).toDF("doc_id", "text")
    val delta = ((100 until 140).map(i => (i.toLong, s"novel doc $i")) ++
      Seq((200L, "corpus doc 7"), (201L, "corpus doc 33"))).toDF("doc_id", "text")
    val out = deltaDedup(fp(corpus).select(col("fp")), fp(delta), mBits = 64)
      .select("doc_id", "bloom_hit", "is_dup").as[(Long, Boolean, Boolean)]
      .collect().toSeq
    val byId = out.map(t => t._1 -> t).toMap
    assert(out.size == 42)
    // exactness: is_dup == true exactly for the two planted corpus copies
    assert(out.filter(_._3).map(_._1).sorted == Seq(200L, 201L))
    // no false negatives: every dup is a bloom hit
    assert(byId(200L)._2 && byId(201L)._2)
    // the undersized bitmap DOES fire on novels (cost path exercised) —
    // deterministic given the md5 position math
    assert(out.exists(t => t._2 && !t._3),
      "expected at least one false positive at load 2.5")
  }

  test("mergeBlooms: OR of split bitmaps ≡ bitmap of the union, probes agree") {
    val docs = (0 until 60).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val v1 = fp(docs.filter(col("doc_id") % 7 =!= 0)).select(col("fp"))
    val batch = fp(docs.filter(col("doc_id") % 7 === 0)).select(col("fp"))
    val allFp = fp(docs).select(col("fp"))
    val merged = BloomDedup.mergeBlooms(
      BloomDedup.corpusBloom(v1, 1 << 10, 4),
      BloomDedup.corpusBloom(batch, 1 << 10, 4))
    val rebuilt = BloomDedup.corpusBloom(allFp, 1 << 10, 4)
    assert(java.util.Arrays.equals(merged, rebuilt))
    // probes through the maintained bitmap ≡ through the rebuilt one
    val probe = fp(Seq((100L, "doc 7"), (101L, "doc 8"), (102L, "zz")).toDF("doc_id", "text"))
    val a = BloomDedup.bloomProbe(merged, allFp, probe, 1 << 10, 4)
    val b = BloomDedup.bloomProbe(rebuilt, allFp, probe, 1 << 10, 4)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // 7 is the v1 side (7 % 7 == 0 → batch!), 8 is v1: pin the split math
    val hit = a.orderBy("doc_id").select("doc_id", "is_dup")
      .as[(Long, Boolean)].collect().toSeq
    assert(hit == Seq((100L, true), (101L, true), (102L, false)))
  }

  test("probe verdicts are partitioning-invariant") {
    val corpus = (0 until 30).map(i => (i.toLong, s"c$i")).toDF("doc_id", "text")
    val delta = (0 until 30).map(i => (100L + i, if (i % 3 == 0) s"c$i" else s"n$i"))
      .toDF("doc_id", "text")
    val a = deltaDedup(fp(corpus).select(col("fp")), fp(delta), mBits = 1 << 12)
      .orderBy("doc_id").collect().toSeq
    val b = deltaDedup(fp(corpus.repartition(7)).select(col("fp")),
        fp(delta.repartition(5)), mBits = 1 << 12)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }
}
