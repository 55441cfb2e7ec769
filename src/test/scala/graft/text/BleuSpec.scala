package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed guarantees for the BLEU clipped n-gram precision
  * components ([[BleuScore.ngramPrecision]]) and the deterministic
  * multiplier bootstrap ([[graft.analytics.Bootstrap.meanCI]]).
  */
class BleuSpec extends SparkSpec {
  import spark.implicits._

  test("ngramPrecision: identical pair scores 1.0 at every n, lengths equal") {
    val df = Seq((1L, "a b c d e", "a b c d e")).toDF("pid", "cand", "ref")
    val r = BleuScore.ngramPrecision(df, "pid", "cand", "ref")
      .select($"n", $"match_cnt", $"cand_cnt", $"prec", $"cand_len", $"ref_len")
      .as[(Int, Long, Long, Double, Long, Long)].collect().map(x => x._1 -> x).toMap
    (1 to 4).foreach { n =>
      val (_, m, c, p, cl, rl) = r(n)
      assert(m === c && p === 1.0, s"n=$n must be perfect overlap")
      assert(c === (5 - n + 1).toLong)
      assert(cl === 5L && rl === 5L)
    }
  }

  test("ngramPrecision: clipping — repeated candidate token cannot overcount the reference") {
    // the classic BLEU degenerate: cand = "the the the", ref has ONE "the"
    // unclipped unigram precision would be 3/3; clipped is 1/3
    val df = Seq((1L, "the the the", "the cat")).toDF("pid", "cand", "ref")
    val r = BleuScore.ngramPrecision(df, "pid", "cand", "ref")
      .select($"n", $"match_cnt", $"cand_cnt").as[(Int, Long, Long)]
      .collect().map(x => x._1 -> x).toMap
    assert(r(1) === ((1, 1L, 3L)), "unigram match must clip to ref count 1")
    assert(r(2) === ((2, 0L, 2L)), "no bigram of 'the the' appears in ref")
  }

  test("ngramPrecision: a one-token prefix shift loses exactly n matches at each n") {
    // cand = "x " + ref: every ref n-gram survives, the n grams touching
    // the prefix token are unmatched → match = L-n+1, total = L-n+2
    val refText = "a b c d e f"
    val df = Seq((1L, "x " + refText, refText)).toDF("pid", "cand", "ref")
    val r = BleuScore.ngramPrecision(df, "pid", "cand", "ref")
      .select($"n", $"match_cnt", $"cand_cnt").as[(Int, Long, Long)]
      .collect().map(x => x._1 -> x).toMap
    (1 to 4).foreach { n =>
      assert(r(n)._2 === (6 - n + 1).toLong, s"n=$n matches")
      assert(r(n)._3 === (7 - n + 1).toLong, s"n=$n totals")
    }
  }

  test("ngramPrecision: aggregates over pairs, never across them") {
    // two pairs that share vocabulary: cross-pair matching would inflate
    val df = Seq((1L, "a b", "c d"), (2L, "c d", "a b")).toDF("pid", "cand", "ref")
    val m = BleuScore.ngramPrecision(df, "pid", "cand", "ref")
      .select($"match_cnt").as[Long].collect().toSeq
    assert(m.nonEmpty && m.forall(_ == 0L), "each candidate must only see ITS OWN reference")
  }

  test("bootstrap meanCI: deterministic under seed; constant data collapses CI to the mean") {
    val df = (1 to 200).map(i => (i.toLong, 700L)).toDF("id", "cents")
    val r = graft.analytics.Bootstrap.meanCI(df, $"id", $"cents", "sd")
      .select($"n", $"mean", $"b_used", $"ci_lo", $"ci_hi")
      .as[(Long, Double, Long, Double, Double)].head()
    assert(r._1 === 200L && r._2 === 700.0)
    assert(r._3 === 64L)
    assert(r._4 === 700.0 && r._5 === 700.0,
      "every replicate mean of constant data IS the constant")
    val again = graft.analytics.Bootstrap.meanCI(df, $"id", $"cents", "sd")
      .select($"ci_lo", $"ci_hi").as[(Double, Double)].head()
    assert(again === ((r._4, r._5)))
  }

  test("bootstrap meanCI: CI brackets the mean and narrows as it should on spread data") {
    val df = (1 to 500).map(i => (i.toLong, (i % 100).toLong * 10)).toDF("id", "cents")
    val r = graft.analytics.Bootstrap.meanCI(df, $"id", $"cents", "sd")
      .select($"mean", $"ci_lo", $"ci_hi").as[(Double, Double, Double)].head()
    assert(r._2 < r._1 && r._1 < r._3, s"CI must bracket the mean: $r")
    assert(r._3 - r._2 < 200.0, s"CI implausibly wide: $r")
  }

  test("rougeN: identical pair scores P = R = F1 = 1 at every n") {
    val df = Seq((1L, "a b c d", "a b c d")).toDF("pid", "cand", "ref")
    val rows = BleuScore.rougeN(df, "pid", "cand", "ref")
      .select($"n", $"rouge_p", $"rouge_r", $"rouge_f1")
      .as[(Int, Double, Double, Double)].collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r._2 == 1.0 && r._3 == 1.0 && r._4 == 1.0))
  }

  test("rougeN: recall counts reference grams the candidate missed") {
    // cand covers 2 of 4 ref unigrams; P = 2/2, R = 2/4, F1 = 2·2/(2+4)
    val df = Seq((1L, "a b", "a b c d")).toDF("pid", "cand", "ref")
    val r = BleuScore.rougeN(df, "pid", "cand", "ref").filter($"n" === 1)
      .select($"match_cnt", $"cand_cnt", $"ref_cnt",
        $"rouge_p", $"rouge_r", $"rouge_f1")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert(r == ((2L, 2L, 4L, 1.0, 0.5, 2.0 * 2 / 6)))
  }

  test("rougeN: disjoint pair scores 0; clipping caps repeated tokens") {
    val disjoint = Seq((1L, "a b", "c d")).toDF("pid", "cand", "ref")
    val r0 = BleuScore.rougeN(disjoint, "pid", "cand", "ref")
      .select($"rouge_f1").as[Double].collect().toSeq
    assert(r0.nonEmpty && r0.forall(_ == 0.0))
    // cand repeats 'a' 3 times, ref has it once: clipped match = 1
    val rep = Seq((1L, "a a a", "a")).toDF("pid", "cand", "ref")
    val r1 = BleuScore.rougeN(rep, "pid", "cand", "ref").filter($"n" === 1)
      .select($"match_cnt", $"cand_cnt", $"ref_cnt")
      .as[(Long, Long, Long)].head()
    assert(r1 == ((1L, 3L, 1L)))
  }

  test("jackknifeGroupRatio: textbook two-group check and single-group degeneracy") {
    // groups: a = {100, 200}, b = {300}; θ = 600/3 = 200
    // θ_(a) = 300/1 = 300, θ_(b) = 300/2 = 150; mean 225
    // SE = sqrt((g−1)/g · ((300−225)² + (150−225)²)) = sqrt(1/2 · 11250)
    val df = Seq(("a", 100L), ("a", 200L), ("b", 300L)).toDF("g", "cents")
    val r = graft.analytics.Bootstrap.jackknifeGroupRatio(df, $"g", $"cents")
      .select($"n", $"g", $"theta", $"se_jack")
      .as[(Long, Long, Double, Double)].head()
    assert(r._1 == 3L && r._2 == 2L && r._3 == 200.0)
    assert(math.abs(r._4 - math.sqrt(11250.0 / 2)) < 1e-9)
    // one group: deleting it leaves nothing — SE undefined, NULL not NaN
    val one = Seq(("a", 100L), ("a", 200L)).toDF("g", "cents")
    val row = graft.analytics.Bootstrap.jackknifeGroupRatio(one, $"g", $"cents")
      .select($"se_jack").collect()(0)
    assert(row.isNullAt(0))
  }

  test("encodingAudit: planted signatures counted exactly, clean docs pass") {
    val df = Seq(
      ("s1", "cafÃ© menu"),      // "Ã©" double-encoding
      ("s1", "clean text"),
      ("s1", "bad � byte"),            // replacement char
      ("s2", "maÃ±ana plan"),     // "Ã±"
      ("s2", "quote â€œx")   // "â€" punct wreck
    ).toDF("source", "text")
    val rows = graft.text.TextAnalysis.encodingAudit(df)
      .orderBy($"segment")
      .select($"segment", $"n_docs", $"n_replacement", $"n_latin1_e",
        $"n_latin1_n", $"n_punct_wreck", $"n_suspect", $"suspect_permille")
      .as[(String, Long, Long, Long, Long, Long, Long, Double)].collect()
    assert(rows(0) == (("s1", 3L, 1L, 1L, 0L, 0L, 2L, 2000.0 / 3)))
    assert(rows(1) == (("s2", 2L, 0L, 0L, 1L, 1L, 2L, 1000.0)))
  }
}
