package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed guarantees for the exact evaluation statistics
  * ([[Eval]]) and the randomized-response mechanism
  * ([[graft.ops.Privacy.randomizedResponse]]).
  */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("aucExact: hand case with a tie — 2U = 7, AUC = 0.875") {
    // pos scores {300, 200}, neg {100, 200}: pos300 beats both (2),
    // pos200 beats 100 and ties 200 (1.5) → U = 3.5 of 4 pairs
    val df = Seq((300L, 1), (200L, 1), (100L, 0), (200L, 0)).toDF("s", "y")
    val r = Eval.aucExact(df, col("s"), col("y") === 1)
      .select($"n_pos", $"n_neg", $"two_u".cast("long"), $"auc")
      .as[(Long, Long, Long, Double)].head()
    assert(r === ((2L, 2L, 7L, 0.875)))
  }

  test("aucExact: bucketed two-level cumulative ≡ width-1 buckets (every value its own bucket)") {
    // scores span ten 2048-wide buckets, with ties inside and across labels
    val rows = (1 to 300).map(i => (i.toLong * 7919 % 20011 / 3 * 3, i % 3 == 0))
    val df = rows.toDF("s", "y")
    val a = Eval.aucExact(df, col("s"), col("y"))
      .select($"two_u".cast("long"), $"n_pos", $"n_neg").as[(Long, Long, Long)].head()
    // width-1 form: 2U counted pair by pair
    val (pos, neg) = rows.partition(_._2)
    val twoU = (for ((p, _) <- pos; (n, _) <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(a === ((twoU, pos.size.toLong, neg.size.toLong)))
  }

  test("aucExact: perfect separation gives AUC 1.0, reversed gives 0.0") {
    val sep = Seq((10L, 1), (20L, 1), (1L, 0), (2L, 0)).toDF("s", "y")
    assert(Eval.aucExact(sep, col("s"), col("y") === 1)
      .select($"auc").as[Double].head() === 1.0)
    val rev = Seq((1L, 1), (2L, 1), (10L, 0), (20L, 0)).toDF("s", "y")
    assert(Eval.aucExact(rev, col("s"), col("y") === 1)
      .select($"auc").as[Double].head() === 0.0)
  }

  test("ksStatistic: hand case — A={1,2,3} vs B={3,4} has D = 2/3 at value 2") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (3L, "b"), (4L, "b"))
      .toDF("s", "side")
    val r = Eval.ksStatistic(df, col("s"), col("side") === "a", col("side") === "b")
      .select($"n_a", $"n_b", $"d_num".cast("long"), $"d")
      .as[(Long, Long, Long, Double)].head()
    assert(r._1 === 3L && r._2 === 2L)
    assert(r._3 === 4L) // |2·2 − 0·3| at value 2
    assert(math.abs(r._4 - 2.0 / 3.0) < 1e-15)
  }

  test("ksStatistic: identical samples have D = 0") {
    val df = Seq((5L, "a"), (7L, "a"), (5L, "b"), (7L, "b")).toDF("s", "side")
    val d = Eval.ksStatistic(df, col("s"), col("side") === "a", col("side") === "b")
      .select($"d_num".cast("long")).as[Long].head()
    assert(d === 0L)
  }

  test("classificationReport: hand confusion — per-class tp/fp/fn and single-division metrics") {
    val df = Seq(
      ("cat", "cat"), ("cat", "cat"), ("cat", "dog"),
      ("dog", "cat"), ("dog", "dog"),
      ("bird", "dog")).toDF("t", "p")
    val m = Eval.classificationReport(df, col("t"), col("p"))
      .select($"cls", $"tp", $"fp", $"fn", $"precision", $"recall", $"f1")
      .as[(String, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // cat: tp=2 fp=1 fn=1 → p=2/3 r=2/3 f1=2·2/(4+1+1)=2/3
    assert(m("cat")._2 === 2L && m("cat")._3 === 1L && m("cat")._4 === 1L)
    assert(m("cat")._7.get === 2.0 / 3.0)
    // bird: never predicted → precision NULL (gated), recall 0
    assert(m("bird")._2 === 0L && m("bird")._5.isEmpty && m("bird")._6.get === 0.0)
    // dog: tp=1 fp=2 fn=1 → f1 = 2/(2+2+1) = 0.4
    assert(m("dog")._7.get === 0.4)
  }

  test("giniCoefficient: equal shares → 0; full concentration on one of three keys → 2/3") {
    val eq = Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("k", "cents")
    assert(Eval.giniCoefficient(eq, "k", "cents")
      .select($"gini_num".cast("long")).as[Long].head() === 0L)
    val conc = Seq(("a", 0L), ("b", 0L), ("c", 30L)).toDF("k", "cents")
    val g = Eval.giniCoefficient(conc, "k", "cents")
      .select($"gini").as[Double].head()
    assert(math.abs(g - 2.0 / 3.0) < 1e-15)
  }

  test("randomizedResponse: deterministic under seed; every report replays its md5 coin") {
    val df = (1 to 100).map(i => (i.toLong, i % 5 == 0)).toDF("id", "t")
    val a = graft.ops.Privacy.randomizedResponse(df, $"id", $"t", "sd")
      .select($"observed", $"est_num").as[(Long, Long)].head()
    val b = graft.ops.Privacy.randomizedResponse(df, $"id", $"t", "sd")
      .select($"observed", $"est_num").as[(Long, Long)].head()
    assert(a === b)
    // est_num identity: 4·obs − n
    assert(a._2 === 4 * a._1 - 100)
    // the coin: md5U32("rr:<seed>:<id>") mod 4 < 3 reports the truth, else its flip
    def coin(id: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s"rr:sd:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16) % 4
    }
    val reported = (1 to 100).count { i => (i % 5 == 0) == (coin(i) < 3) }.toLong
    val r = graft.ops.Privacy.randomizedResponse(df, $"id", $"t", "sd")
      .select($"true_cnt", $"observed", $"est").as[(Long, Long, Double)].head()
    assert(r === ((20L, reported, (4.0 * reported - 100) / 2)))
  }

  test("aucExactBy: per-group AUC matches per-group aucExact; no global window in the plan") {
    val df = (1 to 300).map(i =>
      (i % 3, i.toLong * 29 % 401, (i * 7 % 5) < 2)).toDF("g", "s", "y")
    val grouped = Eval.aucExactBy(df, col("g"), col("s"), col("y"))
      .select($"g", $"two_u".cast("long"), $"auc")
      .as[(Int, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    (0 to 2).foreach { g =>
      val solo = Eval.aucExact(df.filter($"g" === g), col("s"), col("y"))
        .select($"two_u".cast("long"), $"auc").as[(Long, Double)].head()
      assert(grouped(g) === solo, s"group $g must equal its standalone AUC")
    }
    val globalWindows = Eval.aucExactBy(df, col("g"), col("s"), col("y"))
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
    assert(globalWindows.isEmpty,
      "every window in the grouped plan must partition by the group key")
  }

  test("ndcgAtK: perfect ranking is EXACTLY 1.0 (integer grid); reversed ranking matches hand DCG") {
    val D = Eval.ndcgDiscounts(10)
    // group 1: system score ranks rel as (0, 2, 3); ideal is (3, 2, 0)
    val df = Seq((1L, 30L, 1L, 0L), (1L, 20L, 2L, 2L), (1L, 10L, 3L, 3L),
      // group 2: system order == ideal order
      (2L, 30L, 4L, 3L), (2L, 20L, 5L, 1L)).toDF("g", "s", "t", "r")
    val m = Eval.ndcgAtK(df, col("g"), col("s"), col("t"), col("r"))
      .select($"g", $"dcg_scaled", $"idcg_scaled", $"ndcg")
      .as[(Long, Long, Long, Option[Double])].collect().map(x => x._1 -> x).toMap
    assert(m(1L)._2 === 2L * D(1) + 3L * D(2))
    assert(m(1L)._3 === 3L * D(0) + 2L * D(1))
    assert(m(1L)._4.get ===
      (2L * D(1) + 3L * D(2)).toDouble / (3L * D(0) + 2L * D(1)).toDouble)
    assert(m(2L)._4.get === 1.0, "DCG == IDCG as identical integers, so exactly 1.0")
  }

  test("ndcgAtK: zero-relevance group gates to NULL; k truncates the tail") {
    // group 2: the system ranks rel 1 first, nine rel-0 items next and the
    // rel-3 item 11th, past k = 10; the ideal order puts it first
    val g2 = (2L, 100L, 100L, 1L) +: (1 to 9).map(i => (2L, 100L - i, 100L + i, 0L)) :+
      ((2L, 1L, 200L, 3L))
    val df = (Seq((1L, 10L, 1L, 0L), (1L, 9L, 2L, 0L)) ++ g2).toDF("g", "s", "t", "r")
    val D = Eval.ndcgDiscounts(10)
    val m = Eval.ndcgAtK(df, col("g"), col("s"), col("t"), col("r"))
      .select($"g", $"dcg_scaled", $"ndcg").as[(Long, Long, Option[Double])].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    assert(m(1L)._2.isEmpty, "all-zero relevance has no ideal to normalize by")
    assert(m(2L)._1 === D(0), "the rel-3 item at rank 11 adds nothing to DCG@10")
    assert(m(2L)._2.get === D(0).toDouble / (3L * D(0) + D(1)).toDouble)
  }

  test("survival hazardTable: hand case — risk sets shrink as entities churn") {
    val df = Seq(("a", 1), ("a", 1), ("b", 1), ("c", 1), ("c", 2))
      .toDF("e", "day")
    val r = graft.analytics.Survival.hazardTable(df, col("e"), col("day"))
      .select($"d", $"deaths", $"n_at_risk", $"hazard")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    // a and b die on day 1 (3 at risk); c dies on day 2 (1 at risk)
    assert(r === Seq((1, 2L, 3L, 2.0 / 3.0), (2, 1L, 1L, 1.0)))
  }

  test("brierReliability: perfect predictions score 0; maximally wrong score 1; pooled row sums bins") {
    val df = Seq((1000L, true), (0L, false), (1000L, true), (0L, false))
      .toDF("p", "y")
    val perfect = Eval.brierReliability(df, col("p"), col("y"))
      .filter($"bin" === -1).select($"brier").as[Double].head()
    assert(perfect === 0.0)
    val wrong = Seq((0L, true), (1000L, false)).toDF("p", "y")
    val w = Eval.brierReliability(wrong, col("p"), col("y"))
      .filter($"bin" === -1).select($"brier").as[Double].head()
    assert(w === 1.0)
    val r = Eval.brierReliability(df, col("p"), col("y"))
      .select($"bin", $"n", $"se_num").as[(Long, Long, Long)].collect()
    assert(r.filter(_._1 >= 0).map(_._2).sum === r.find(_._1 === -1L).get._2)
  }

  test("modularity: two disjoint triangles perfectly partitioned → Q = 1/2; merged into one community → 0") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (11L, 12L), (12L, 13L), (13L, 11L))
      .toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 11L, 12L, 13L).toDF("node_id")
    val split = nodes.withColumn("community", expr("node_id div 10"))
    val q1 = graft.dedup.DupClusters.modularity(e, split)
      .select($"m", $"q_num".cast("long"), $"modularity")
      .as[(Long, Long, Double)].head()
    // m=6, each community: L=3, D=6 → q_num = 2·(4·6·3 − 36) = 72; Q = 72/144
    assert(q1 === ((6L, 72L, 0.5)))
    val one = nodes.withColumn("community", lit(0L))
    val q0 = graft.dedup.DupClusters.modularity(e, one)
      .select($"q_num".cast("long")).as[Long].head()
    // single community: L=6, D=12 → 4·6·6 − 144 = 0
    assert(q0 === 0L)
  }

  test("regressionReport: perfect prediction → MAE 0, R² 1; mean prediction → R² 0") {
    val df = Seq((100L, 100L), (200L, 200L), (300L, 300L)).toDF("y", "p")
    val perfect = Eval.regressionReport(df, col("y"), col("p"))
      .select($"mae", $"r2").as[(Double, Double)].head()
    assert(perfect === ((0.0, 1.0)))
    // predicting the exact mean (200) for all rows: SSres = SStot → R² = 0
    val meanPred = Seq((100L, 200L), (200L, 200L), (300L, 200L)).toDF("y", "p")
    val m = Eval.regressionReport(meanPred, col("y"), col("p"))
      .select($"mae", $"mse", $"rmse", $"r2")
      .as[(Double, Double, Double, Double)].head()
    assert(m._1 === 200.0 / 3.0 && m._2 === 20000.0 / 3.0)
    assert(m._3 === math.sqrt(20000.0 / 3.0))
    assert(m._4 === 0.0)
    // constant actuals: SStot = 0 → R² gated NULL
    val const = Seq((5L, 7L), (5L, 3L)).toDF("y", "p")
    assert(Eval.regressionReport(const, col("y"), col("p"))
      .select($"r2").as[Option[Double]].head().isEmpty)
  }

  test("wilsonProportions: bounds bracket p-hat, stay in [0,1] at extremes, tighten with n") {
    val df = (Seq.fill(3)(("small", 1)) ++ Seq.fill(2)(("small", 0)) ++
      (1 to 300).map(i => ("big", if (i % 5 == 0) 1 else 0)))
      .toDF("g", "y")
    val r = Eval.wilsonProportions(df, col("g"), col("y") === 1)
      .select($"g", $"n", $"p_hat", $"wilson_lo", $"wilson_hi")
      .as[(String, Long, Double, Double, Double)].collect().map(x => x._1 -> x).toMap
    r.values.foreach { case (_, _, p, lo, hi) =>
      assert(lo < p && p < hi)
      assert(lo >= 0.0 && hi <= 1.0)
    }
    assert(r("big")._5 - r("big")._4 < r("small")._5 - r("small")._4,
      "more data must tighten the interval")
    // degenerate all-success group: upper bound still < 1 (the Wilson point)
    val ones = Seq(("a", 1), ("a", 1), ("a", 1)).toDF("g", "y")
    val o = Eval.wilsonProportions(ones, col("g"), col("y") === 1)
      .select($"wilson_lo", $"wilson_hi").as[(Double, Double)].head()
    assert(o._1 > 0.0 && o._2 < 1.0 + 1e-12)
  }

  test("standardizeByTrain: fit excludes validation rows; train z-scores have exact mean-zero numerator") {
    val df = (Seq((1L, 100L, true), (2L, 200L, true), (3L, 300L, true),
      (4L, 999999L, false))).toDF("id", "cents", "tr")
    val r = graft.ops.Encoding.standardizeByTrain(df, col("cents"), col("tr"))
      .select($"id", $"z").as[(Long, Option[Double])].collect().toMap
    // train stats: n=3, mean 200, D = 3·140000·100... — z(2) = 0 exactly
    assert(r(2L).get === 0.0)
    assert(r(1L).get === -r(3L).get, "symmetric train points get symmetric z")
    // the huge validation outlier must NOT shift the fit: z(4) is enormous
    assert(r(4L).get > 100.0)
    // leakage check: dropping the validation row leaves train z unchanged
    val fitOnly = graft.ops.Encoding.standardizeByTrain(
        df.filter($"tr"), col("cents"), col("tr"))
      .select($"id", $"z").as[(Long, Option[Double])].collect().toMap
    assert(fitOnly(1L) === r(1L) && fitOnly(3L) === r(3L))
  }

  test("mrrAtK: hand case on the grid; groups with NO hit contribute exactly 0 (element_at null-index pin)") {
    val G = Eval.mrrGrid(10)
    // g1: relevant at rank 2; g2: relevant at rank 1; g3: NO relevant at all
    val df = Seq(
      (1L, 20L, 1L, false), (1L, 10L, 2L, true),
      (2L, 20L, 3L, true), (2L, 10L, 4L, false),
      (3L, 20L, 5L, false), (3L, 10L, 6L, false)).toDF("g", "s", "t", "rel")
    val r = Eval.mrrAtK(df, col("g"), col("s"), col("t"), col("rel"))
      .select($"n_groups", $"hits", $"rr_sum_scaled", $"hit_rate", $"mrr")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(r._1 === 3L && r._2 === 2L)
    // the no-hit group must contribute 0 — element_at with a NULL index
    // inside this aggregate leaked the last grid element before the
    // isNotNull gate (caught by the oracle hash at sf0.01)
    assert(r._3 === G(1) + G(0), s"rr_sum must be exactly grid(2)+grid(1), got ${r._3}")
    assert(r._5 === (G(1) + G(0)).toDouble / (3L * 1048576L).toDouble)
    // k truncation: relevant beyond k is a miss
    val far = (1 to 12).map(i => (9L, (100 - i).toLong, i.toLong, i == 12))
      .toDF("g", "s", "t", "rel")
    val fr = Eval.mrrAtK(far, col("g"), col("s"), col("t"), col("rel"))
      .select($"hits", $"rr_sum_scaled").as[(Long, Long)].head()
    assert(fr === ((0L, 0L)))
  }

  test("aucDeLong: hand case — pos {2,4} vs neg {1,3} has AUC 3/4, se = sqrt(0.125) exactly") {
    val df = Seq((2L, 1), (4L, 1), (1L, 0), (3L, 0)).toDF("s", "y")
    val r = Eval.aucDeLong(df, col("s"), col("y") === 1)
      .select($"two_u".cast("long"), $"two_u01".cast("long"),
        $"d10".cast("long"), $"d01".cast("long"), $"auc", $"se_delong")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(r._1 === 6L, "2U")
    assert(r._2 === r._1, "both placement totals ARE 2U — the DeLong identity")
    assert(r._3 === 4L && r._4 === 4L)
    assert(r._5 === 0.75)
    assert(r._6 === math.sqrt(0.125), "hand DeLong variance 0.125")
  }

  test("aucDeLong: perfect separation has se exactly 0; AUC agrees with aucExact; singleton class gates") {
    val sep = Seq((10L, 1), (20L, 1), (30L, 1), (1L, 0), (2L, 0)).toDF("s", "y")
    val r = Eval.aucDeLong(sep, col("s"), col("y") === 1)
      .select($"d10".cast("long"), $"d01".cast("long"), $"auc", $"se_delong")
      .as[(Long, Long, Double, Double)].head()
    assert(r._1 === 0L && r._2 === 0L && r._3 === 1.0 && r._4 === 0.0)
    val mixed = (1 to 100).map(i => (i.toLong * 37 % 211, i % 3 == 0)).toDF("s", "y")
    val a1 = Eval.aucDeLong(mixed, col("s"), col("y")).select($"auc").as[Double].head()
    val a2 = Eval.aucExact(mixed, col("s"), col("y")).select($"auc").as[Double].head()
    assert(a1 === a2)
    val one = Seq((5L, 1), (1L, 0), (2L, 0)).toDF("s", "y")
    assert(Eval.aucDeLong(one, col("s"), col("y") === 1)
      .select($"se_delong").as[Option[Double]].head().isEmpty,
      "a singleton class has no sample variance")
  }

  test("plan: aucExact's only empty-partition window runs over the bucket-aggregate frame") {
    val df = (1 to 500).map(i => (i.toLong * 13 % 907, i % 4 == 0)).toDF("s", "y")
    val auc = Eval.aucExact(df, col("s"), col("y"))
    val globalWindows = auc.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.size === 1, "exactly the bucket-frame window may be global")
    val overAggregate = globalWindows.head.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(overAggregate.nonEmpty,
      "the global window must sit above the bucket histogram aggregate, never the data")
  }

  test("krippendorffAlpha: hand-computed nominal fixture, single-rating drop, cap trip") {
    // i1 {a,a}, i2 {a,b}, i3 {b,b,b}, i4 {c} (unpairable, drops)
    // n = 7, o_diag/6 = 5, Do = 2/7, De = 4/7 -> alpha = 0.5 exactly
    val df = Seq(("i1", "a"), ("i1", "a"), ("i2", "a"), ("i2", "b"),
      ("i3", "b"), ("i3", "b"), ("i3", "b"), ("i4", "c")).toDF("item", "r")
    val out = Eval.krippendorffAlpha(df, col("item"), col("r"))
      .select(col("n_ratings"), col("n_items"), col("n_categories"),
        col("do_num"), col("de_num"), col("alpha"))
      .as[(Long, Long, Long, String, String, Double)].head()
    assert(out == ((7L, 3L, 2L, "12", "144", 0.5)))
    // perfect agreement: alpha exactly 1
    val perfect = Seq(("i1", "a"), ("i1", "a"), ("i2", "b"), ("i2", "b"))
      .toDF("item", "r")
    val a1 = Eval.krippendorffAlpha(perfect, col("item"), col("r"))
      .select(col("alpha")).as[Double].head()
    assert(a1 == 1.0)
    // rater cap is enforced in-plan
    val over = (1 to 6).map(i => ("x", s"r$i")).toDF("item", "r")
    val err = intercept[Exception] {
      Eval.krippendorffAlpha(over, col("item"), col("r")).collect()
    }
    assert(err.getMessage.contains("over the cap of 4 raters per item"))
  }
}
