package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-data guarantees for the round-9 operators: skip-gram pair
  * generation, batch-perceptron training, t-closeness, Heaps'-law curve.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  test("skipGram: window pairs by hand with subsampling disabled; partitioning-invariant") {
    // tNum/tDen = 1/1 keeps every occurrence (N/f ≥ 1 always)
    val docs = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    val out = SkipGram.pairs(docs, window = 1, minCount = 1L,
      tNum = 1L, tDen = 1L)
      .as[(String, String, Long)].collect().toSet
    // doc1: (a,b),(b,a),(b,c),(c,b); doc2: (a,b),(b,a)
    assert(out == Set(("a", "b", 2L), ("b", "a", 2L), ("b", "c", 1L),
      ("c", "b", 1L)))
    val again = SkipGram.pairs(docs.repartition(3), window = 1, minCount = 1L,
      tNum = 1L, tDen = 1L).as[(String, String, Long)].collect().toSet
    assert(again == out)
  }

  test("skipGram: aggressive subsampling drops the flooding token deterministically") {
    // 400 occurrences of "the" vs 8 rare tokens: with t = 1/100 the keep
    // probability for "the" is N/(100·f) ≈ 408/40000 ≈ 1% — the rare
    // tokens (f = 1) keep with probability 1 (N/100 ≥ 1)
    val flood = (1L to 8L).map(i =>
      (i, (Seq.fill(50)("the") :+ s"rare$i").mkString(" ")))
    val out = SkipGram.pairs(flood.toDF("doc_id", "text"), window = 2,
      minCount = 1L, tNum = 1L, tDen = 100L).as[(String, String, Long)].collect()
    val theMass = out.filter(p => p._1 == "the" && p._2 == "the").map(_._3).sum
    // unsubsampled the-the mass would be ≈ 8 docs · 50 tokens · 4 ≈ 1600
    assert(theMass < 100, s"subsampling left the-the mass at $theMass")
    val again = SkipGram.pairs(flood.toDF("doc_id", "text").repartition(5),
      window = 2, minCount = 1L, tNum = 1L, tDen = 100L)
      .as[(String, String, Long)].collect()
    assert(again.sortBy(p => (p._1, p._2)).toSeq ==
      out.sortBy(p => (p._1, p._2)).toSeq)
  }

  test("perceptron: separable corpus converges to zero errors in round 2, exact audit") {
    val docs = Seq(
      (1L, "good good", "en"), (2L, "good", "en"),
      (3L, "bad bad", "xx"), (4L, "bad", "xx")).toDF("doc_id", "text", "lang")
    val feats = Perceptron.features(docs, dim = 64)
    val labels = docs.select(col("doc_id").as("doc"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
    val audit = Perceptron.trainAudit(feats, labels, dim = 64, rounds = 2)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    // round 1: w = 0 → all 4 docs error; Δw = +3 on good's bucket, −3 on
    // bad's (distinct buckets unless md5 collides in 64 — it does not for
    // these two tokens), bias = +1+1−1−1 = 0
    assert(audit(0) == ((1, 4L, 6L, 0L)), s"round-1 audit was ${audit(0)}")
    // round 2: margins 6/3/−6/−3 all correctly signed → zero errors, no update
    assert(audit(1) == ((2, 0L, 6L, 0L)), s"round-2 audit was ${audit(1)}")
  }

  test("tCloseness: hand-computed EMD on a 3-group, 2-value table") {
    val rows = Seq(("A", "v1"), ("A", "v2"), ("A", "v2"), ("A", "v2"),
      ("B", "v1"), ("B", "v1"), ("B", "v1"), ("B", "v1"),
      ("C", "v1"), ("C", "v2")).toDF("g", "s")
    val out = graft.ops.Privacy.tCloseness(rows, Seq("g"), "s", t = 0.2)
      .select("g", "group_size", "emd", "close")
      .as[(String, Long, Double, Boolean)].collect().sortBy(_._1)
    // N = 10, global v1 = 6; EMD numerators |cumq·N − cump·n|:
    // A: |1·10 − 6·4| = 14 → 14/(4·10·1) = 0.35 ;  B: |4·10 − 6·4| = 16 →
    // 0.4 ;  C: |1·10 − 6·2| = 2 → 0.1
    assert(out.toSeq == Seq(("A", 4L, 0.35, false), ("B", 4L, 0.4, false),
      ("C", 2L, 0.1, true)))
  }

  test("editDistancePairs: blocked candidates, exact Levenshtein, blocking contract") {
    val rows = Seq(
      (1L, "alpha-node-17"), (2L, "alpha-node-18"),   // dist 1, same block
      (3L, "alpha-node-9999"), (4L, "beta-node-17"),  // 3: len band; 4: other block
      (5L, "aXpha-node-17")                           // differs INSIDE prefix: never candidate
    ).toDF("doc_id", "k")
    val out = graft.dedup.Dedup.editDistancePairs(rows, "k", maxDist = 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    // (1,2) dist 1 found; (1,3)/(2,3) length diff 2 ⇒ in band, dist 3 > 2
    // rejected by verify; (1,5) blocked away (prefix mismatch — the
    // disclosed contract); (4,*) different block
    assert(out == Set((1L, 2L, 1)))
    // the plan shuffles on the block key — no nested-loop / cartesian
    val plan = graft.dedup.Dedup.editDistancePairs(rows, "k", maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"ER planned a product:\n$plan")
  }

  test("giniStumps: perfect separator maxes gain, useless token scores 0") {
    val docs = Seq(
      (1L, "good apple", 1L), (2L, "good pear", 1L),
      (3L, "bad apple", 0L), (4L, "bad pear", 0L)).toDF("doc_id", "text", "y")
    val out = FeatureSelect.giniStumps(docs, col("y"))
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    // parent gini 0.5; 'good'/'bad' split perfectly → gain 0.5; 'apple'/
    // 'pear' split 50/50 both sides → gain 0
    assert(out("good") == 0.5 && out("bad") == 0.5)
    assert(out("apple") == 0.0 && out("pear") == 0.0)
  }

  test("heapsCurve: exact type/token counts at hand-checked checkpoints") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b"), (4L, "d e f"))
      .toDF("doc_id", "text")
    val out = Vocab.heapsCurve(docs)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    // maxId 4; checkpoint i holds the ids with id·10 ≤ 4·i: none for i ≤ 2,
    // id 1 for i = 3-4 (2 tokens, {a,b}), ids 1-2 for i = 5-7 (4 tokens,
    // {a,b,c}), ids 1-3 for i = 8-9 (6 tokens), all at i = 10 (9 tokens, 6 types)
    assert(out.toSeq == Seq((1, 0L, 0L), (2, 0L, 0L), (3, 2L, 2L), (4, 2L, 2L),
      (5, 4L, 3L), (6, 4L, 3L), (7, 4L, 3L), (8, 6L, 3L), (9, 6L, 3L), (10, 9L, 6L)))
  }
}
