package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-9 contracts on the rank-statistics family: the ENFORCED
  * bounded-group guard on the exact quadratic operators, the sampled-pair
  * τ estimator that replaces them past the bound, and the documented
  * Σx⁴ overflow envelope of [[Correlation.moments]].
  */
class CorrelationBoundSpec extends SparkSpec {
  import spark.implicits._

  private def noisy(n: Int): Seq[(String, Long, Long, Long)] =
    (1 to n).map { i =>
      // mostly-increasing y with deterministic noise → τ strictly in (0, 1)
      val y = i.toLong + (if (i % 3 == 0) 7L else 0L) - (if (i % 5 == 0) 9L else 0L)
      ("g", i.toLong, y, i.toLong)
    }

  test("kendallTau / theilSen refuse a group over the declared bound, loudly") {
    // one row past the 100 000-row bound; the guard fires before any pair
    val over = spark.range(100001L)
      .select(lit("g").as("grp"), col("id").as("x"), col("id").as("y"), col("id"))
    val ex = intercept[Throwable] {
      Correlation.kendallTau(over, "grp", "x", "y", "id").collect()
    }
    assert(ex.getMessage.contains("100001 rows, exceeding the bound 100000"),
      s"guard must name the group size and the bound, got: ${ex.getMessage}")
    val ex2 = intercept[Throwable] {
      Correlation.theilSen(over, "grp", "x", "y").collect()
    }
    assert(ex2.getMessage.contains("theilSen"))
    // within the bound: the guard passes every row to the exact enumeration
    val rows = noisy(50)
    val df = rows.toDF("grp", "x", "y", "id")
    val got = Correlation.kendallTau(df, "grp", "x", "y", "id")
      .select("n_pairs", "concordant", "discordant").as[(Long, Long, Long)].head()
    val signs = for {
      (_, x1, y1, i1) <- rows; (_, x2, y2, i2) <- rows if i1 < i2
    } yield math.signum((x1 - x2) * (y1 - y2))
    assert(got == ((signs.size.toLong, signs.count(_ > 0).toLong, signs.count(_ < 0).toLong)))
  }

  test("kendallTauSampled: exact on monotone groups, converges on noisy data") {
    val up = (1 to 200).map(i => ("up", i.toLong, i.toLong * 2, i.toLong))
    val down = (1 to 200).map(i => ("down", i.toLong, -i.toLong, i.toLong))
    val df = (up ++ down).toDF("grp", "x", "y", "id")
    val est = Correlation.kendallTauSampled(df, "grp", "x", "y", "id",
      pairsPerGroup = 300)
      .select("grp", "tau_a_est").as[(String, Double)].collect().toMap
    assert(est("up") == 1.0 && est("down") == -1.0,
      s"monotone groups must sample to ±1 exactly, got $est")
    // noisy group: the m-pair estimate lands near the exact τ
    val nf = noisy(400).toDF("grp", "x", "y", "id")
    val exact = Correlation.kendallTau(nf, "grp", "x", "y", "id")
      .select("tau_a").as[Double].head()
    val sampled = Correlation.kendallTauSampled(nf, "grp", "x", "y", "id",
      pairsPerGroup = 2000).select("tau_a_est").as[Double].head()
    assert(math.abs(sampled - exact) < 0.05,
      s"sampled τ̂=$sampled too far from exact τ=$exact")
    // deterministic and partitioning-invariant
    val again = Correlation.kendallTauSampled(nf.repartition(7), "grp", "x", "y",
      "id", pairsPerGroup = 2000).select("tau_a_est").as[Double].head()
    assert(again == sampled)
    // draw count: exactly m pairs per group with ≥2 rows; singleton skipped
    val single = (noisy(50) :+ (("lone", 1L, 1L, 99L))).toDF("grp", "x", "y", "id")
    val np = Correlation.kendallTauSampled(single, "grp", "x", "y", "id",
      pairsPerGroup = 64).select("grp", "n_pairs").as[(String, Long)].collect().toMap
    assert(np == Map("g" -> 64L))
  }

  test("moments: documented Σx⁴ envelope — edge passes, over-bound fails loudly (ANSI)") {
    // n = 9·10⁶ at |x| = 10³: Σx⁴ = 9·10¹⁸ < 2⁶³−1 ≈ 9.22·10¹⁸ — the edge
    val edge = spark.range(9000000L)
      .select(lit("g").as("g"), lit(1000L).as("x"))
    val ok = Correlation.moments(edge, "g", "x").collect()
    assert(ok.head.getAs[Long]("s4") == 9000000000000000000L)
    // one more order of magnitude breaks the envelope: ANSI throws instead
    // of wrapping — the documented loud failure
    val over = spark.range(10000000L)
      .select(lit("g").as("g"), lit(1000L).as("x"))
    val ex = intercept[Throwable] {
      Correlation.moments(over, "g", "x").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("overflow"),
      s"expected ARITHMETIC_OVERFLOW, got: ${ex.getMessage}")
  }
}
