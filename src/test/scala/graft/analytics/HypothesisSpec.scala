package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the group-comparison statistics: every
  * expected value below is hand-derived from the textbook formula, so the
  * suite pins the MATH, not a replay of the implementation.
  */
class HypothesisSpec extends SparkSpec {
  import spark.implicits._

  test("kruskalWallis: two separated groups, no ties — H = 27/7, tie term inert") {
    // ranks 1..6, R_a = 6, R_b = 15:
    // H = 12/(6*7) * (36/3 + 225/3) - 3*7 = 174/7 - 21 = 27/7
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L),
      ("b", 40L), ("b", 50L), ("b", 60L)).toDF("grp", "cents")
    val r = Hypothesis.kruskalWallis(df, "grp", "cents").head()
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[String]("tie_num") == "0")
    assert(math.abs(r.getAs[Double]("h") - 27.0 / 7.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("h_tie") - 27.0 / 7.0) < 1e-12)
  }

  test("kruskalWallis: identical groups rank-tie completely — H = 0 after correction") {
    // every value appears once per group: ranks average out, H -> 0
    val df = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)).toDF("grp", "cents")
    val r = Hypothesis.kruskalWallis(df, "grp", "cents").head()
    // t=2 at both values: tie_num = 2*(8-2) = 12
    assert(r.getAs[String]("tie_num") == "12")
    assert(math.abs(r.getAs[Double]("h")) < 1e-12)
    assert(math.abs(r.getAs[Double]("h_tie")) < 1e-12)
  }

  test("rank kernels drop NULL scores instead of ranking them") {
    // NULL would sort NULLS FIRST in Spark but NULLS LAST in a SQL
    // mirror, silently skewing every rank after it — the mannWhitney
    // ADVICE class, pinned across the whole ECDF/histogram family
    val clean = Seq(("a", Some(10L)), ("a", Some(20L)), ("a", Some(30L)),
      ("b", Some(40L)), ("b", Some(50L)), ("b", Some(60L)))
    val dirty = clean ++ Seq(("a", Option.empty[Long]), ("b", Option.empty[Long]))
    val kwC = Hypothesis.kruskalWallis(clean.toDF("grp", "cents"), "grp", "cents").head()
    val kwD = Hypothesis.kruskalWallis(dirty.toDF("grp", "cents"), "grp", "cents").head()
    assert(kwD.getAs[Long]("n") == 6L &&
      kwD.getAs[Double]("h") == kwC.getAs[Double]("h"))
    val cvC = Hypothesis.cvmTwoSample(clean.toDF("g", "c"), col("g") === "a", "c").head()
    val cvD = Hypothesis.cvmTwoSample(dirty.toDF("g", "c"), col("g") === "a", "c").head()
    assert(cvD.getAs[Long]("n_a") == 3L &&
      cvD.getAs[String]("cvm_num") == cvC.getAs[String]("cvm_num"))
    val qC = graft.analytics.Quantiles.exactQuantilesTwoPass(
      clean.toDF("g", "c"), "c", Seq(500), bucketWidth = 25L).head()
    val qD = graft.analytics.Quantiles.exactQuantilesTwoPass(
      dirty.toDF("g", "c"), "c", Seq(500), bucketWidth = 25L).head()
    assert(qD.getAs[Long]("n") == 6L &&
      qD.getAs[Long]("value_cents") == qC.getAs[Long]("value_cents"))
  }

  test("anovaF: textbook two-group fixture — SSB 1350, SSW 400, F 13.5") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L),
      ("b", 40L), ("b", 50L), ("b", 60L)).toDF("grp", "cents")
    val r = Hypothesis.anovaF(df, "grp", "cents").head()
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[String]("sum_cents") == "210")
    assert(r.getAs[String]("sumsq_cents") == "9100")
    assert(math.abs(r.getAs[Double]("ssb") - 1350.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ssw") - 400.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("f") - 13.5) < 1e-9)
  }

  test("anovaF: identical groups — SSB 0, F null (ssw guard)") {
    val df = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L)).toDF("grp", "cents")
    val r = Hypothesis.anovaF(df, "grp", "cents").head()
    assert(math.abs(r.getAs[Double]("ssb")) < 1e-9)
    assert(r.isNullAt(r.fieldIndex("f")))
  }

  test("mutualInformation: perfect dependence — MI = ln 2, NMI = 1") {
    val df = Seq(("x", "u"), ("x", "u"), ("y", "v"), ("y", "v")).toDF("a", "b")
    val r = Hypothesis.mutualInformation(df, col("a"), col("b")).head()
    assert(r.getAs[Long]("n") == 4L)
    // pico-nat quantization floors each ln factor, so tolerances are 1e-11
    assert(math.abs(r.getAs[Double]("mi_nats") - math.log(2.0)) < 1e-11)
    assert(math.abs(r.getAs[Double]("h_a") - math.log(2.0)) < 1e-11)
    assert(math.abs(r.getAs[Double]("nmi") - 1.0) < 1e-11)
  }

  test("mutualInformation: independence — MI = 0") {
    val df = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")).toDF("a", "b")
    val r = Hypothesis.mutualInformation(df, col("a"), col("b")).head()
    assert(math.abs(r.getAs[Double]("mi_nats")) < 1e-11)
  }

  test("mutualInformation: skewed table with NEGATIVE pointwise terms") {
    // cells (x,u)=3 (x,v)=1 (y,u)=1 (y,v)=3: the o=1 cells contribute
    // (1/8)·ln(8/(4·4)) = (1/8)·ln(1/2) < 0, so the running cumulative is
    // non-monotone — a max-over-cumulative fold would report its PEAK
    // (the r10 advisory defect), overstating MI.
    val df = (Seq.fill(3)(("x", "u")) ++ Seq(("x", "v")) ++
      Seq(("y", "u")) ++ Seq.fill(3)(("y", "v"))).toDF("a", "b")
    val r = Hypothesis.mutualInformation(df, col("a"), col("b")).head()
    val n = 8.0
    val expected = Seq((3.0, 4.0, 4.0), (1.0, 4.0, 4.0), (1.0, 4.0, 4.0),
      (3.0, 4.0, 4.0)).map { case (o, rr, cc) =>
      (o / n) * math.log(o * n / (rr * cc))
    }.sum
    assert(expected > 0.0 && expected < math.log(2.0))
    assert(math.abs(r.getAs[Double]("mi_nats") - expected) < 1e-11)
    // the cumulative peak over cells ordered (x,u),(x,v),(y,u),(y,v) is
    // strictly above the total (first cell term alone exceeds it)
    val firstTerm = (3.0 / n) * math.log(3.0 * n / 16.0)
    assert(firstTerm > expected)
    assert(r.getAs[Double]("mi_nats") < firstTerm - 1e-9)
  }

  test("welchT: symmetric two-group fixture — t = -30/sqrt(200/3), df = 2(n-1)") {
    val df = Seq((true, 10L), (true, 20L), (true, 30L),
      (false, 40L), (false, 50L), (false, 60L)).toDF("a", "cents")
    val r = Hypothesis.welchT(df, col("a"), "cents").head()
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(math.abs(r.getAs[Double]("mean_a") - 20.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("t") + 30.0 / math.sqrt(200.0 / 3.0)) < 1e-12)
    // equal n, equal variance -> Welch df collapses to 2(n-1) = 4 exactly
    assert(math.abs(r.getAs[Double]("df") - 4.0) < 1e-12)
  }

  test("runsTest: perfect alternation z = 2/sqrt(1.2); constant sequence null") {
    val alt = (1 to 6).map(i => ("u1", i, i % 2 == 1)).toDF("u", "t", "x")
    val r = Hypothesis.runsTest(alt, "u", Seq("t"), col("x")).head()
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("n1") == 3L)
    assert(r.getAs[Long]("runs") == 6L)
    assert(math.abs(r.getAs[Double]("z") - 2.0 / math.sqrt(1.2)) < 1e-12)
    val const = (1 to 4).map(i => ("u2", i, true)).toDF("u", "t", "x")
    val r2 = Hypothesis.runsTest(const, "u", Seq("t"), col("x")).head()
    assert(r2.getAs[Long]("runs") == 1L)
    assert(r2.isNullAt(r2.fieldIndex("z")))
    // NULL above-values are dropped before the window, so n == n1 + n0
    // and the run structure is counted over the observed rows only (the
    // r10 advisory defect counted the null row in n but in neither class)
    val withNull = Seq(("u3", 1, Some(true)), ("u3", 2, None),
      ("u3", 3, Some(false)), ("u3", 4, Some(true)),
      ("u3", 5, Some(false)), ("u3", 6, Some(true))).toDF("u", "t", "x")
    val r3 = Hypothesis.runsTest(withNull, "u", Seq("t"), col("x")).head()
    assert(r3.getAs[Long]("n") == 5L)
    assert(r3.getAs[Long]("n1") == 3L && r3.getAs[Long]("n0") == 2L)
    assert(r3.getAs[Long]("n") == r3.getAs[Long]("n1") + r3.getAs[Long]("n0"))
    assert(r3.getAs[Long]("runs") == 5L)
  }

  test("cronbachAlpha: duplicated item — alpha exactly 1") {
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("i1", "i2")
    val r = Hypothesis.cronbachAlpha(df, Seq("i1", "i2")).head()
    assert(r.getAs[Long]("k") == 2L)
    // item numerators: 2*(3*14-36) = 12; total: 3*56-144 = 24
    assert(r.getAs[String]("item_var_num") == "12")
    assert(r.getAs[String]("total_var_num") == "24")
    assert(math.abs(r.getAs[Double]("alpha") - 1.0) < 1e-12)
  }

  test("tukeyContrasts: two-group fixture — q = 3*sqrt(3) on MSW 100") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L),
      ("b", 40L), ("b", 50L), ("b", 60L)).toDF("grp", "cents")
    val r = Hypothesis.tukeyContrasts(df, "grp", "cents").head()
    assert(r.getAs[String]("grp_a") == "a" && r.getAs[String]("grp_b") == "b")
    assert(math.abs(r.getAs[Double]("q_stat") - 3.0 * math.sqrt(3.0)) < 1e-12)
  }

  test("rollingRegression: exact linear series — slope 2 at every window") {
    val df = (1 to 20).map(i => ("u1", i, 2L * i)).toDF("u", "t", "yv")
    val r = Correlation.rollingRegression(df, "u", Seq("t"), col("yv"), window = 8)
      .filter(col("n_w") > 1).select(col("slope")).distinct().collect()
    assert(r.length == 1 && math.abs(r.head.getDouble(0) - 2.0) < 1e-15)
    // constant series -> slope exactly 0
    val c = (1 to 10).map(i => ("u2", i, 7L)).toDF("u", "t", "yv")
    val r2 = Correlation.rollingRegression(c, "u", Seq("t"), col("yv"), window = 8)
      .filter(col("n_w") > 1).select(col("slope")).distinct().collect()
    assert(r2.length == 1 && r2.head.getDouble(0) == 0.0)
  }

  test("iccOneWay: zero within-group variance — ICC exactly 1") {
    val df = Seq((1L, 10L), (1L, 10L), (1L, 10L),
      (2L, 20L), (2L, 20L), (2L, 20L)).toDF("grp", "cents")
    val r = Hypothesis.iccOneWay(df, "grp", "cents").head()
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("k") == 2L)
    assert(math.abs(r.getAs[Double]("ssw")) < 1e-12)
    assert(math.abs(r.getAs[Double]("icc") - 1.0) < 1e-12)
    // balanced design: n0 = group size = 3
    assert(math.abs(r.getAs[Double]("n0") - 3.0) < 1e-12)
  }

  test("powerTwoProportions: closed form reproduced on a tiny pilot") {
    val units = Seq((true, 1L), (true, 1L), (true, 0L), (true, 0L),
      (false, 1L), (false, 0L), (false, 0L), (false, 0L)).toDF("a", "conv")
    val r = Drift.powerTwoProportions(units, col("a"), col("conv")).head()
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("conv_a") == 2L)
    val p1 = 0.5; val p2 = 0.25; val pbar = 3.0 / 8.0
    val num = 1.96 * math.sqrt(2.0 * pbar * (1.0 - pbar)) +
      0.84 * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    val exp = (num * num) / ((p1 - p2) * (p1 - p2))
    assert(math.abs(r.getAs[Double]("n_required") - exp) < 1e-12)
  }

  test("changepoint: step series splits at the step with gain = total SS") {
    // [0,0,0,100,100]: split after pos 3 zeroes both segment SS;
    // gain = SS_all = 20000 - 200^2/5 = 12000
    val df = Seq(("u1", 1, 0L), ("u1", 2, 0L), ("u1", 3, 0L),
      ("u1", 4, 100L), ("u1", 5, 100L)).toDF("u", "t", "cents")
    val r = Drift.changepoint(df, "u", Seq("t"), col("cents")).head()
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Long]("split_pos") == 3L)
    assert(math.abs(r.getAs[Double]("gain") - 12000.0) < 1e-9)
  }

  test("partialCorrelation: confounder removed — partial equals the direct r") {
    // z orthogonal to both x and y; x == y exactly
    val df = Seq((1L, 1L, 1L), (2L, 2L, -1L), (3L, 3L, -1L), (4L, 4L, 1L))
      .toDF("xv", "yv", "zv")
    val r = Correlation.partialCorrelation(df, col("xv"), col("yv"), col("zv")).head()
    assert(math.abs(r.getAs[Double]("r_xy") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("r_xz")) < 1e-12)
    assert(math.abs(r.getAs[Double]("r_partial") - 1.0) < 1e-12)
  }

  test("partialCorrelation: perfect confounding nulls the partial (guard)") {
    // x == z exactly: 1 - r_xz^2 = 0 -> partial undefined, emitted NULL
    val df = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 5L, 3L)).toDF("xv", "yv", "zv")
    val r = Correlation.partialCorrelation(df, col("xv"), col("yv"), col("zv")).head()
    assert(math.abs(r.getAs[Double]("r_xz") - 1.0) < 1e-12)
    assert(r.isNullAt(r.fieldIndex("r_partial")))
  }

  test("jensenShannon: identical cohorts diverge by zero, disjoint by ln 2") {
    val same = Seq((10L, true), (10L, false), (60L, true), (60L, false))
      .toDF("v", "a")
    val r1 = Drift.jensenShannon(same, "v", col("a"), 50L, 4).head()
    assert(math.abs(r1.getAs[Double]("jsd_nats")) < 1e-12)
    val disj = Seq((10L, true), (10L, true), (60L, false), (60L, false))
      .toDF("v", "a")
    val r2 = Drift.jensenShannon(disj, "v", col("a"), 50L, 4).head()
    // pico-nat quantization floors each ln factor -> 1e-11 tolerances
    assert(math.abs(r2.getAs[Double]("jsd_nats") - math.log(2.0)) < 1e-11)
    assert(math.abs(r2.getAs[Double]("jsd_bits") - 1.0) < 1e-11)
  }

  test("jensenShannon: overlapping cohorts — NEGATIVE per-bucket terms") {
    // bucket0 has p=3/4 > q=1/4, bucket1 the reverse: in each bucket one
    // cohort's term p·ln(p/m) is negative (Gibbs bounds the SUM, not the
    // terms), so a max-over-cumulative fold would report the running
    // peak (the r10 advisory defect), overstating JSD.
    val df = (Seq.fill(3)((10L, true)) ++ Seq((10L, false)) ++
      Seq((60L, true)) ++ Seq.fill(3)((60L, false))).toDF("v", "a")
    val r = Drift.jensenShannon(df, "v", col("a"), 50L, 2).head()
    def kl(ps: Seq[(Double, Double)]): Double =
      ps.map { case (p, q) =>
        if (p > 0.0) p * math.log(p / ((p + q) / 2.0)) else 0.0
      }.sum
    val klA = kl(Seq((0.75, 0.25), (0.25, 0.75)))
    val klB = kl(Seq((0.25, 0.75), (0.75, 0.25)))
    val expected = 0.5 * klA + 0.5 * klB
    // second bucket's A-term is negative -> cumulative peak > total
    assert(0.75 * math.log(0.75 / 0.5) > klA)
    assert(math.abs(r.getAs[Double]("jsd_nats") - expected) < 1e-11)
    assert(math.abs(r.getAs[Double]("kl_a") - klA) < 1e-11)
    assert(math.abs(r.getAs[Double]("kl_b") - klB) < 1e-11)
  }

  test("gumbelFit: moments fixture — beta = 10*sqrt(6)/pi, mu = m - gamma*beta") {
    val df = Seq(10L, 20L, 30L).toDF("day_max")
    val r = Hypothesis.gumbelFit(df, "day_max").head()
    assert(r.getAs[Long]("n_blocks") == 3L)
    assert(r.getAs[String]("sum_cents") == "60")
    val beta = 10.0 * math.sqrt(6.0) / math.Pi
    assert(math.abs(r.getAs[Double]("beta") - beta) < 1e-12)
    assert(math.abs(r.getAs[Double]("mu") - (20.0 - 0.5772156649015329 * beta)) < 1e-12)
  }

  test("oddsRatio: planted 2x2 — OR 4, Woolf SE sqrt(3)") {
    val df = Seq((true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false)).toDF("r", "c")
    val o = Hypothesis.oddsRatio(df, col("r"), col("c")).head()
    assert(o.getAs[Long]("a") == 2L && o.getAs[Long]("b") == 1L)
    assert(o.getAs[Long]("c") == 1L && o.getAs[Long]("d") == 2L)
    assert(math.abs(o.getAs[Double]("odds_ratio") - 4.0) < 1e-12)
    assert(math.abs(o.getAs[Double]("se_log_or") - math.sqrt(3.0)) < 1e-12)
  }

  test("entropyRate: deterministic alternating chain — H exactly 0") {
    val df = Seq(("u1", 1, "a"), ("u1", 2, "b"), ("u1", 3, "a"), ("u1", 4, "b"))
      .toDF("u", "t", "s")
    val r = graft.ops.TimeSeries.entropyRate(df, "u", Seq("t"), "s").head()
    assert(r.getAs[Long]("n_transitions") == 3L)
    assert(r.getAs[Double]("h_rate_nats") == 0.0)
  }

  test("burstiness: constant gaps — sd 0, B = -1, fano 0") {
    val df = Seq(("u1", 1, 0L), ("u1", 2, 10L), ("u1", 3, 20L), ("u1", 4, 30L))
      .toDF("u", "t", "us")
    val r = graft.ops.TimeSeries.burstiness(df, "u", Seq("t"), col("us")).head()
    assert(r.getAs[Long]("n_gaps") == 3L)
    assert(r.getAs[Double]("sd_gap_us") == 0.0)
    assert(math.abs(r.getAs[Double]("burstiness") + 1.0) < 1e-15)
    assert(r.getAs[Double]("fano") == 0.0)
  }

  test("permutationEntropy: monotone series — one pattern, H exactly 0") {
    val df = (1 to 10).map(i => ("u1", i, i.toLong)).toDF("u", "t", "x")
    val r = graft.ops.TimeSeries.permutationEntropy(df, "u", Seq("t"), col("x")).head()
    assert(r.getAs[Long]("n_triples") == 8L)
    assert(r.getAs[Long]("n_patterns") == 1L)
    assert(r.getAs[Double]("h_nats") == 0.0)
  }

  test("exponentialFit: unit gaps — lambda 1, KS exactly exp(-1)") {
    // three events, gaps of exactly one unit each: F_emp(1)=1 vs 1-e^-1
    val df = Seq(("u1", 1, 0L), ("u1", 2, 60000000L), ("u1", 3, 120000000L))
      .toDF("u", "t", "us")
    val r = graft.ops.TimeSeries.exponentialFit(df, "u", Seq("t"), col("us"),
      unitMicros = 60000000L).head()
    assert(r.getAs[Long]("n_gaps") == 2L && r.getAs[Long]("sum_units") == 2L)
    assert(math.abs(r.getAs[Double]("lambda_per_unit") - 1.0) < 1e-15)
    assert(math.abs(r.getAs[Double]("ks_d") - math.exp(-1.0)) < 1e-12)
  }

  test("crossCorrelation: identical series — xcorr exactly 1 at lag 0") {
    // hours 0,1,2 with 1,2,3 events; both flags true on every event
    val rows = (0 to 2).flatMap(h => (0 to h).map(_ => (h * 3600000000L, true, true)))
    val df = rows.toDF("us", "fa", "fb")
    val r = graft.ops.TimeSeries.crossCorrelation(df, col("us"), col("fa"),
        col("fb"), unitMicros = 3600000000L, maxLag = 1)
      .filter(col("lag") === 0).head()
    assert(r.getAs[Long]("n") == 3L)
    assert(math.abs(r.getAs[Double]("xcorr") - 1.0) < 1e-12)
  }

  test("maxDrawdown: peak-to-trough on a planted series, earliest trough tie") {
    // series 10, 50, 20, 40, 5: peak runs 10,50,50,50,50; dd 0,0,30,10,45
    val df = Seq(("u1", 1, 10L), ("u1", 2, 50L), ("u1", 3, 20L),
      ("u1", 4, 40L), ("u1", 5, 5L)).toDF("u", "t", "cents")
    val r = graft.ops.TimeSeries.maxDrawdown(df, "u", "t", "t", col("cents")).head()
    assert(r.getAs[Long]("max_drawdown") == 45L)
    assert(r.getAs[Long]("dd_pos") == 5L)
    assert(r.getAs[Long]("peak_at_trough") == 50L)
    // monotone series never draws down; trough position is the first row
    val up = Seq(("u2", 1, 1L), ("u2", 2, 2L), ("u2", 3, 3L)).toDF("u", "t", "cents")
    val r2 = graft.ops.TimeSeries.maxDrawdown(up, "u", "t", "t", col("cents")).head()
    assert(r2.getAs[Long]("max_drawdown") == 0L && r2.getAs[Long]("dd_pos") == 1L)
    // tie at the max drawdown under DIFFERENT running peaks: 50,10,60,20
    // draws down 40 at pos 2 (peak 50) and pos 4 (peak 60) — the emitted
    // peak must anchor to the same earliest-trough row as dd_pos (the
    // r10 advisory defect emitted max(peak)=60 with dd_pos=2)
    val tie = Seq(("u3", 1, 50L), ("u3", 2, 10L), ("u3", 3, 60L),
      ("u3", 4, 20L)).toDF("u", "t", "cents")
    val r3 = graft.ops.TimeSeries.maxDrawdown(tie, "u", "t", "t", col("cents")).head()
    assert(r3.getAs[Long]("max_drawdown") == 40L)
    assert(r3.getAs[Long]("dd_pos") == 2L)
    assert(r3.getAs[Long]("peak_at_trough") == 50L)
  }

  test("changepoint: constant series ties on zero gain — earliest split wins") {
    val df = Seq(("u1", 1, 7L), ("u1", 2, 7L), ("u1", 3, 7L)).toDF("u", "t", "cents")
    val r = Drift.changepoint(df, "u", Seq("t"), col("cents")).head()
    assert(r.getAs[Long]("split_pos") == 1L)
    assert(math.abs(r.getAs[Double]("gain")) < 1e-12)
    // single-row entities are excluded (no valid split)
    val one = Seq(("u2", 1, 7L)).toDF("u", "t", "cents")
    assert(Drift.changepoint(one, "u", Seq("t"), col("cents")).count() == 0L)
  }

  test("mannWhitney: complete separation, ties, and the KW k=2 consistency") {
    // A = {1,2}, B = {3,4}: every B beats every A → U_a = 0, z < 0
    val sep = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "cents")
    val r = Hypothesis.mannWhitney(sep, col("g") === "a", "cents")
      .select(col("n_a"), col("n_b"), col("u2_num"), col("u_a"), col("z"))
      .as[(Long, Long, String, Double, Double)].head()
    assert(r._1 == 2L && r._2 == 2L && r._3 == "0" && r._4 == 0.0)
    assert(r._5 < 0.0)
    // identical cohorts: U_a = n_a·n_b/2 exactly, z = 0
    val same = Seq(("a", 5L), ("a", 7L), ("b", 5L), ("b", 7L)).toDF("g", "cents")
    val r2 = Hypothesis.mannWhitney(same, col("g") === "a", "cents")
      .select(col("u_a"), col("z")).as[(Double, Double)].head()
    assert(r2._1 == 2.0 && r2._2 == 0.0)
    // all-tied data: variance collapses, z must be NULL not NaN
    val tied = Seq(("a", 9L), ("b", 9L), ("b", 9L)).toDF("g", "cents")
    val row = Hypothesis.mannWhitney(tied, col("g") === "a", "cents")
      .select(col("z")).collect()(0)
    assert(row.isNullAt(0))
    // NULL scores are dropped, not ranked (ADVICE r11: Spark windows put
    // NULLS FIRST, SQL mirrors NULLS LAST — a NULL row would silently skew
    // every rank): result must equal the pre-filtered input's exactly
    val withNulls = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", None),
      ("b", Some(3L)), ("b", None), ("b", Some(4L))).toDF("g", "cents")
    val rN = Hypothesis.mannWhitney(withNulls, col("g") === "a", "cents")
      .select(col("n_a"), col("n_b"), col("u2_num"), col("u_a"), col("z"))
      .as[(Long, Long, String, Double, Double)].head()
    assert(rN == r, s"NULL scores must be invisible to the ranks: $rN vs $r")
    val dN = Hypothesis.cliffsDelta(withNulls, col("g") === "a", "cents")
      .select(col("n_a"), col("n_b"), col("delta"))
      .as[(Long, Long, Double)].head()
    assert(dN._1 == 2L && dN._2 == 2L && dN._3 == -1.0,
      s"cliffsDelta must drop NULL scores: $dN")
  }

  test("cliffsDelta: separation ±1, identical 0, ties counted in neither tail") {
    // complete separation: every a above every b → delta exactly +1
    val sep = Seq(("a", 10L), ("a", 11L), ("b", 1L), ("b", 2L)).toDF("g", "c")
    val r = Hypothesis.cliffsDelta(sep, col("g") === "a", "c")
      .select(col("gt_num"), col("lt_num"), col("delta"), col("magnitude"))
      .as[(String, String, Double, String)].head()
    assert(r == (("4", "0", 1.0, "large")))
    // identical cohorts: delta exactly 0
    val same = Seq(("a", 5L), ("a", 7L), ("b", 5L), ("b", 7L)).toDF("g", "c")
    val r2 = Hypothesis.cliffsDelta(same, col("g") === "a", "c")
      .select(col("gt_num"), col("lt_num"), col("delta"))
      .as[(String, String, Double)].head()
    assert(r2 == (("1", "1", 0.0)))
    // all-tied: gt = lt = 0, delta 0, and C + D + ties == n_a·n_b
    val tied = Seq(("a", 9L), ("b", 9L), ("b", 9L)).toDF("g", "c")
    val r3 = Hypothesis.cliffsDelta(tied, col("g") === "a", "c")
      .select(col("gt_num"), col("lt_num"), col("delta"), col("magnitude"))
      .as[(String, String, Double, String)].head()
    assert(r3 == (("0", "0", 0.0, "negligible")))
  }

  test("cochranArmitage: perfect monotone trend detected, flat trend exactly 0") {
    // rates 0/10, 5/10, 10/10 across scores 1..3 — strong positive trend
    val trend = (1 to 3).flatMap(s => (1 to 10).map(i =>
      (s.toLong, i <= (s - 1) * 5))).toDF("s", "y")
    val r = Hypothesis.cochranArmitage(trend, col("s"), col("y"))
      .select(col("n"), col("k"), col("t_num"), col("z"))
      .as[(Long, Long, String, Double)].head()
    assert(r._1 == 30L && r._2 == 3L)
    // T·N = N·Σsr − R·Σsn = 30·(2·5 + 3·10) − 15·60 = 1200 − 900 = 300
    assert(r._3 == "300")
    assert(r._4 > 3.0, s"perfect trend must be strongly significant, z=${r._4}")
    // identical rates per tier: t_num exactly 0
    val flat = (1 to 3).flatMap(s => (1 to 10).map(i =>
      (s.toLong, i <= 5))).toDF("s", "y")
    val r2 = Hypothesis.cochranArmitage(flat, col("s"), col("y"))
      .select(col("t_num"), col("z")).as[(String, Double)].head()
    assert(r2._1 == "0" && r2._2 == 0.0)
  }

  test("smdBalance: planted imbalance detected, balanced covariate ~0") {
    // cov "x": cohort A = {10, 20}, B = {30, 40} — means 15 vs 35,
    // s² = 50 each → SMD = -20/sqrt(50) = -2·sqrt(2)
    // cov "y": identical in both cohorts → SMD exactly 0
    val df = Seq((true, 10L, 5L), (true, 20L, 7L),
      (false, 30L, 5L), (false, 40L, 7L)).toDF("a", "x", "y")
    val rows = Hypothesis.smdBalance(df, col("a"),
        Seq(("x", col("x")), ("y", col("y"))))
      .orderBy(col("cov"))
      .select(col("cov"), col("n_a"), col("smd"))
      .as[(String, Long, Double)].collect()
    assert(rows(0)._1 == "x" && rows(0)._2 == 2L)
    assert(math.abs(rows(0)._3 - (-20.0 / math.sqrt(50.0))) < 1e-12)
    assert(rows(1)._1 == "y" && rows(1)._3 == 0.0)
  }

  test("nelsonAalen / logRank: planted two-day life table") {
    // entities die (last activity) on day 1: {u1, u2}; day 2: {u3, u4}
    // H(1) = 2/4 = .5; H(2) = .5 + 2/2 = 1.5; Var(1) = 2/16, Var(2) = 2/16 + 2/4
    val ev = Seq(("u1", 1), ("u2", 1), ("u3", 1), ("u4", 1),
      ("u3", 2), ("u4", 2)).toDF("u", "day")
    val na = Survival.nelsonAalen(ev, col("u"), col("day"))
      .select(col("d"), col("deaths"), col("n_at_risk"),
        col("cum_hazard"), col("var_hazard"))
      .as[(Int, Long, Long, Double, Double)].collect()
    assert(na(0) == ((1, 2L, 4L, 0.5, 0.125)))
    assert(na(1) == ((2, 2L, 2L, 1.5, 0.125 + 0.5)))
    // identical curves in both cohorts → O1 = E1, z = 0
    val ev2 = Seq(("a1", 1), ("b1", 1), ("a2", 1), ("b2", 1),
      ("a2", 2), ("b2", 2)).toDF("u", "day")
    val lr = Survival.logRank(ev2, col("u"), col("day"),
        substring(col("u"), 1, 1) === "a")
      .select(col("o1"), col("e1"), col("z"))
      .as[(Long, Double, Double)].head()
    assert(lr._1 == 2L && lr._2 == 2.0 && lr._3 == 0.0)
    // complete separation: all of A dies day 1, all of B day 2 → z != 0
    val ev3 = Seq(("a1", 1), ("a2", 1), ("b1", 1), ("b2", 1),
      ("b1", 2), ("b2", 2)).toDF("u", "day")
    val lr3 = Survival.logRank(ev3, col("u"), col("day"),
        substring(col("u"), 1, 1) === "a")
      .select(col("o1"), col("e1"), col("z"))
      .as[(Long, Double, Double)].head()
    assert(lr3._1 == 2L && lr3._2 == 1.0 && lr3._3 > 0.0)
  }

  test("overdispersion: Poisson-like vs planted burst") {
    // constant counts: variance 0 → dispersion exactly 0
    val const = Seq(3L, 3L, 3L, 3L).toDF("c")
    val r0 = Hypothesis.overdispersion(const, col("c"))
      .select(col("dispersion")).as[Double].head()
    assert(r0 == 0.0)
    // {0,0,0,12}: mean 3, s² = (4·144 − 144)/(4·3) = 36 → D = 12
    val burst = Seq(0L, 0L, 0L, 12L).toDF("c")
    val r1 = Hypothesis.overdispersion(burst, col("c"))
      .select(col("n"), col("sum_events"), col("dispersion"), col("chi2"))
      .as[(Long, String, Double, Double)].head()
    assert(r1._1 == 4L && r1._2 == "12" && r1._3 == 12.0 && r1._4 == 36.0)
  }

  test("srmCheck: balanced hash split passes; chi2 exact on the 2-arm counts") {
    val r = Hypothesis.srmCheck(
      spark.range(10000).toDF("u"), col("u"), seed = "t")
      .select(col("n_a"), col("n_b"), col("chi2"), col("srm_detected"))
      .as[(Long, Long, Double, Boolean)].head()
    assert(r._1 + r._2 == 10000L)
    val expect = (r._1 - r._2).toDouble * (r._1 - r._2).toDouble / 10000.0
    assert(r._3 == expect)
    assert(!r._4, s"a fair md5 split must not trip SRM: $r")
  }

  test("captureRecapture: Chapman estimate on planted overlap") {
    // n1 = 4, n2 = 3, m = 2 → N̂ = 5·4/3 − 1 = 17/3; SE per formula
    val a = Seq("u1", "u2", "u3", "u4").toDF("id")
    val b = Seq("u3", "u4", "u5").toDF("id")
    val r = Hypothesis.captureRecapture(a, b, "id")
      .select(col("n1"), col("n2"), col("m_both"), col("n_hat"), col("se"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(r._1 == 4L && r._2 == 3L && r._3 == 2L)
    assert(math.abs(r._4 - (20.0 / 3 - 1.0)) < 1e-12)
    assert(math.abs(r._5 - math.sqrt(5.0 * 4 * 2 * 1 / (9.0 * 4))) < 1e-12)
    // identical sets: N̂ = n — the estimator is consistent when coverage
    // is total
    val r2 = Hypothesis.captureRecapture(a, a, "id")
      .select(col("n_hat")).as[Double].head()
    assert(r2 == 4.0)
  }

  test("riskRatio: planted 2x2 — RR 3, Katz SE exact") {
    // exposed: 6/10 outcomes; unexposed: 2/10 → RR = 0.6/0.2 = 3
    val rows = (1 to 10).map(i => (true, i <= 6)) ++
      (1 to 10).map(i => (false, i <= 2))
    val r = Hypothesis.riskRatio(rows.toDF("e", "y"), col("e"), col("y"))
      .select(col("a"), col("b"), col("c"), col("d"),
        col("risk_ratio"), col("se_log_rr"))
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(r._1 == 6L && r._2 == 4L && r._3 == 2L && r._4 == 8L)
    assert(r._5 == 3.0)
    assert(math.abs(r._6 - math.sqrt(1.0 / 6 - 1.0 / 10 + 1.0 / 2 - 1.0 / 10)) < 1e-15)
    // zero unexposed outcomes: RR undefined (NULL, not Infinity)
    val degen = Seq((true, true), (false, false)).toDF("e", "y")
    val row = Hypothesis.riskRatio(degen, col("e"), col("y"))
      .select(col("risk_ratio")).collect()(0)
    assert(row.isNullAt(0))
  }

  test("benjaminiHochberg: textbook step-up — a late small p rescues earlier ones") {
    // m = 5, α = 1/4. p = 1/100, 12/100, 13/100, 14/100, 80/100.
    // thresholds k·α/m = 5/100, 10/100, 15/100, 20/100, 25/100.
    // p(2) = 12 FAILS its own threshold (10) but p(4) = 14 ≤ 20 → k* = 4:
    // reject the first FOUR — the step-up rescue BH is about.
    val df = Seq(("h1", 1L), ("h2", 12L), ("h3", 13L), ("h4", 14L),
      ("h5", 80L)).toDF("id", "p_num")
    val rows = Hypothesis.benjaminiHochberg(df, col("id"), col("p_num"),
        pDen = 100L, alphaNum = 1L, alphaDen = 4L)
      .orderBy(col("rank"))
      .select(col("id"), col("rank"), col("rejected"))
      .as[(String, Long, Boolean)].collect()
    assert(rows.map(_._1).toSeq == Seq("h1", "h2", "h3", "h4", "h5"))
    assert(rows.map(_._3).toSeq == Seq(true, true, true, true, false))
    // no p passes → nothing rejected
    val none = Hypothesis.benjaminiHochberg(
        Seq(("x", 90L), ("y", 95L)).toDF("id", "p_num"),
        col("id"), col("p_num"), pDen = 100L, alphaNum = 1L, alphaDen = 4L)
      .filter(col("rejected")).count()
    assert(none == 0L)
  }

  test("value-domain guard: kruskalWallis / cvmTwoSample fail loudly past the bound") {
    // a raw high-cardinality column (every row its own value) models the
    // unquantized-micros misuse the envelope fences off: one value past 2²¹
    def wide(n: Long) = spark.range(n)
      .select((col("id") % 4).cast("string").as("grp"), col("id").as("cents"))
    val over = wide((1L << 21) + 1)
    val errKw = intercept[Exception] {
      Hypothesis.kruskalWallis(over, "grp", "cents").collect()
    }
    assert(errKw.getMessage.contains("kruskalWallis") &&
      errKw.getMessage.contains("2097153 distinct values"))
    val errCvm = intercept[Exception] {
      Hypothesis.cvmTwoSample(over, col("grp") === "0", "cents").collect()
    }
    assert(errCvm.getMessage.contains("cvmTwoSample"))
    // within-bound frames compute normally through the same guard path
    val kw = Hypothesis.kruskalWallis(wide(2000), "grp", "cents").head()
    assert(kw.getAs[Long]("n") == 2000L && kw.getAs[Long]("k") == 4L)
    val cvm = Hypothesis.cvmTwoSample(wide(2000), col("grp") === "0", "cents").head()
    assert(cvm.getAs[Long]("n_a") == 500L && cvm.getAs[Long]("n_b") == 1500L)
  }
}
