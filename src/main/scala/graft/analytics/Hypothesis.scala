package graft.analytics

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group-comparison test statistics — the "did this cohort/data-drop change"
  * gates a training pipeline runs before promoting a new mixture: the
  * Kruskal–Wallis rank test (non-parametric, k groups), the one-way ANOVA
  * F (parametric companion), and categorical mutual information /
  * normalized MI (feature-informativeness screening).
  *
  * Oracle discipline (the r9 lesson, applied throughout): every statistic
  * is assembled from EXACT integer aggregates (BIGINT, DECIMAL(38,0)
  * internally — never emitted); any cross-row double summation rides an
  * ORDERED cumulative window over a frame that is metadata-sized by
  * construction (k groups, class² cells, value-range-bounded distinct
  * scores), so both engines replay the identical IEEE fold. Wide integers
  * leave as canonical strings.
  *
  * Scale shape: each statistic is one map-side-combined aggregate on a
  * bounded key (group, cell, or distinct cent value) plus broadcasts of
  * one-row totals — no data-sized shuffle beyond the initial combine, no
  * global sort (ranks come from the value-range-bounded distinct-score
  * frame, the [[Quantiles]] histogram discipline).
  */
object Hypothesis {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** ENFORCED value-domain contract for the distinct-value histogram
    * kernels ([[kruskalWallis]], [[cvmTwoSample]]): their rank/ECDF frames
    * are bounded by the VALUE-DOMAIN cardinality, not the data size —
    * fine for cents-grid money and scores (≤ ~10⁶ distinct), but an
    * unquantized double or raw-micros column would push a multi-GB rank
    * broadcast and a single-partition window sort. The distinct count is
    * computed in-plan on the (already small-or-violating) histogram frame
    * and any overrun fails the job loudly BEFORE the window/broadcast
    * consume it — quantize the column (cents, permille). The count is a parallel aggregate over the anchored
    * histogram (never a single-partition pass, even on violating inputs).
    * The `||` short-circuits, so within-bound rows never evaluate the
    * error branch (the [[Correlation]] requireBounded discipline).
    */
  private val MaxDistinctValues = 1L << 21

  private def requireBoundedDomain(vals: DataFrame, op: String): DataFrame = {
    // r18 reshape (ADVICE r17 medium + VERDICT r17 #6): the r17 form
    // funneled the whole histogram through an UNPARTITIONED window to get
    // the count — on exactly the violating inputs the guard exists for
    // (unquantized doubles ⇒ a data-sized distinct frame), the guard itself
    // performed the single-task materialization it is meant to prevent.
    // Instead: anchor the histogram ONCE (single derivation — the r17
    // motivation), count it with a PARALLEL aggregate over the checkpoint,
    // and gate via broadcast crossJoin. Violating inputs now fail after a
    // parallel count, never a one-partition sort/buffer; within-bound
    // outputs are identical (the `||` short-circuits as before). The
    // anchor also removes a real double-derivation for callers that
    // consume `vals` twice (cliffsDelta's cum branches, cvm's total).
    // Scale bound: ≤ MaxDistinctValues rows by contract — the anchor-envelope class
    // (violating inputs fail the count before the checkpoint's consumers).
    val hist = vals.anchor(Bound.Metadata)
    val nv = hist.agg(count(lit(1)).as("__nvals"))
    hist.crossJoin(broadcast(nv))
      .filter(col("__nvals") <= MaxDistinctValues ||
        raise_error(concat(
          lit(s"$op: "), col("__nvals").cast("string"),
          lit(s" distinct values exceed the value-domain bound " +
            s"$MaxDistinctValues for the rank/ECDF histogram frame; quantize " +
            "the score column to a bounded grid (cents, permille)"))).cast("boolean"))
      .drop("__nvals")
  }

  /** Kruskal–Wallis H across the groups of `grpCol` on integer scores
    * `centsCol`. Tie-aware: ranks are average ranks carried as exact
    * twice-ranks (2·cum_prev + cnt + 1) on the distinct-score frame, so
    * Σ ranks per group is exact DECIMAL; H folds the k per-group
    * R_i²/n_i terms in group order. One row: `n`, `k`, `tie_num`
    * (Σ(t³−t) as canonical string — it overflows BIGINT at petabyte
    * row counts), `h`, and the tie-corrected `h_tie`.
    *
    * Operating envelope: the rank frame holds one row per DISTINCT score —
    * [[MaxDistinctValues]] (2²¹) is enforced in-plan
    * ([[requireBoundedDomain]]); beyond it the broadcast rank map and its
    * single unpartitioned window stop being metadata-sized.
    */
  def kruskalWallis(df: DataFrame, grpCol: String, centsCol: String): DataFrame = {
    // NULL scores dropped BEFORE the histogram (the mannWhitney/runsTest
    // discipline): NULL would rank NULLS FIRST here, NULLS LAST in SQL
    val ev = df.select(col(grpCol).as("grp"), col(centsCol).as("cents"))
      .filter(col("cents").isNotNull)
    val vals = requireBoundedDomain(
      ev.groupBy(col("cents")).agg(count(lit(1)).as("cnt")), "kruskalWallis")
    val wv = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // anchors (r17): `ranked` is the ≤ MaxDistinctValues histogram (bounded
    // by the guard) consumed by BOTH the tie aggregate and the rank join —
    // unanchored, the vals subtree (a full scan + shuffle agg) ran once per
    // consumer; `g` is k group rows consumed by the total and the final fold
    val ranked = vals
      .withColumn("cum", sum(col("cnt")).over(wv))
      .withColumn("trank", lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
      .anchor(Bound.Metadata)
    val ties = ranked.agg(
      sum(dec(col("cnt")) * dec(col("cnt")) * dec(col("cnt")) - dec(col("cnt")))
        .as("tie_dec"))
    val g = ev.join(broadcast(ranked.select(col("cents"), col("trank"))), Seq("cents"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_i"), sum(dec(col("trank"))).as("sr2"))
      .anchor(Bound.Metadata)
    val tot = g.agg(sum(col("n_i")).as("n"), count(lit(1)).as("k"))
    val wg = Window.orderBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val term = (col("sr2").cast("double") * col("sr2").cast("double")) /
      (lit(4.0) * col("n_i").cast("double"))
    val nd = col("n").cast("double")
    val h = lit(12.0) / (nd * (nd + lit(1.0))) * col("rterm") -
      lit(3.0) * (nd + lit(1.0))
    val tieC = lit(1.0) - col("tie_d") / col("nden")
    g.crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
      .withColumn("__cum", sum(term).over(wg))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        max(col("tie_dec")).as("tie_dec"), max(col("__cum")).as("rterm"))
      .withColumn("nden",
        (dec(col("n")) * dec(col("n")) * dec(col("n")) - dec(col("n"))).cast("double"))
      .withColumn("tie_d", col("tie_dec").cast("double"))
      .select(col("n"), col("k"), col("tie_dec").cast("string").as("tie_num"),
        when(col("n") > 1 && col("k") > 1, h).as("h"),
        when(col("n") > 1 && col("k") > 1 && tieC > lit(0.0), h / tieC).as("h_tie"))
  }

  /** One-way ANOVA F of integer scores `centsCol` across `grpCol`: exact
    * per-group (n_i, Σx, Σx²) in DECIMAL(38,0); between/within sums of
    * squares assembled from the k-group ordered fold of s_i²/n_i. One
    * row: `n`, `k`, `sum_cents`/`sumsq_cents` (canonical strings — Σx²
    * overflows BIGINT past ~10⁸ rows at cent scale), `ssb`, `ssw`, `f`.
    */
  def anovaF(df: DataFrame, grpCol: String, centsCol: String): DataFrame = {
    val ev = df.select(col(grpCol).as("grp"), col(centsCol).as("cents"))
    // anchor (r17): k group-moment rows consumed by the total AND the final
    // fold — unanchored, the full scan + moment aggregate ran per consumer
    val g = ev.groupBy(col("grp")).agg(count(lit(1)).as("n_i"),
      sum(dec(col("cents"))).as("s_i"),
      sum(dec(col("cents")) * dec(col("cents"))).as("q_i"))
      .anchor(Bound.Metadata)
    val tot = g.agg(sum(col("n_i")).as("n"), count(lit(1)).as("k"),
      sum(col("s_i")).as("s_all"), sum(col("q_i")).as("q_all"))
    val wg = Window.orderBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val term = (col("s_i").cast("double") * col("s_i").cast("double")) /
      col("n_i").cast("double")
    val sd = col("s_all").cast("double")
    val ssb = col("rterm") - (sd * sd) / col("n").cast("double")
    val ssw = col("q_all").cast("double") - col("rterm")
    g.crossJoin(broadcast(tot))
      .withColumn("__cum", sum(term).over(wg))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        max(col("s_all")).as("s_all"), max(col("q_all")).as("q_all"),
        max(col("__cum")).as("rterm"))
      .withColumn("ssb", ssb)
      .withColumn("ssw", ssw)
      .select(col("n"), col("k"),
        col("s_all").cast("string").as("sum_cents"),
        col("q_all").cast("string").as("sumsq_cents"),
        col("ssb"), col("ssw"),
        when(col("k") > 1 && col("n") > col("k") && col("ssw") > lit(0.0),
          (col("ssb") / (col("k") - lit(1L)).cast("double")) /
            (col("ssw") / (col("n") - col("k")).cast("double"))).as("f"))
  }

  /** Mutual information (nats) between two categorical columns, with the
    * marginal entropies and normalized MI = I/min(H_a, H_b). Cell counts
    * and marginals are exact BIGINTs; each ln factor is QUANTIZED to the
    * floor-pico-nat grid (⌊ln(·)·10¹²⌋, the
    * [[graft.analytics.Inequality.theilDecomposition]] idiom at a finer
    * grid) and weighted by the exact cell/marginal count, so all three
    * folds (cells, row marginals, column marginals) are ORDER-FREE exact
    * DECIMAL sums — no window, no fold-order pin. Raw-double folds are
    * unreproducible here twice over: pointwise MI terms
    * (o/n)·ln(o·n/(r·c)) are NEGATIVE for under-represented cells (so a
    * max over an ordered cumulative returns the running peak, not the
    * total), and Java Math.log vs libm ln diverge 1 ulp on some
    * arguments. One row: `n`, `mi_nats`, `h_a`, `h_b`, `nmi`.
    */
  def mutualInformation(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    // eager anchor, not a lazy persist (r17): the contingency matrix is
    // metadata-sized (|A|×|B| category cells) with FOUR consumers — the
    // r15 anchor-playbook case (lazy cache-block management + live lineage
    // replanning cost more than one eager materialization)
    val cm = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
      .anchor(Bound.Metadata)
    val rT = cm.groupBy(col("a")).agg(sum(col("o")).as("r"))
    val cT = cm.groupBy(col("b")).agg(sum(col("o")).as("c"))
    val tot = cm.agg(sum(col("o")).as("n"))
    val nd = col("n").cast("double")
    // o · ⌊ln(o·n/(r·c))·10¹²⌋ — exact integers, order-free sum;
    // mi = Σ / (n · 10¹²) because the 1/n of each term factors out.
    val miQ = dec(col("o")) * dec(floor(log((col("o").cast("double") * nd) /
      (col("r").cast("double") * col("c").cast("double"))) * lit(1e12))
      .cast("long"))
    val mi = cm.join(broadcast(rT), Seq("a")).join(broadcast(cT), Seq("b"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"), sum(miQ).as("__q"))
      .withColumn("mi_nats", when(col("n") > 0,
        col("__q").cast("double") / (col("n").cast("double") * lit(1e12))))
      .select(col("n"), col("mi_nats"))
    // h = −Σ cnt·⌊ln(cnt/n)·10¹²⌋ / (n·10¹²); ln(cnt/n) ≤ 0, so the
    // negated quantized sum is ≥ 0 like the entropy it approximates.
    def entropy(m: DataFrame, cnt: String, out: String): DataFrame = {
      val q = dec(col(cnt)) *
        dec(floor(log(col(cnt).cast("double") / nd) * lit(1e12)).cast("long"))
      m.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("__n"), sum(q).as("__q"))
        .select(when(col("__n") > 0, lit(0.0) - col("__q").cast("double") /
          (col("__n").cast("double") * lit(1e12))).as(out))
    }
    mi.crossJoin(broadcast(entropy(rT, "r", "h_a")))
      .crossJoin(broadcast(entropy(cT, "c", "h_b")))
      .withColumn("nmi",
        when(least(col("h_a"), col("h_b")) > lit(0.0),
          col("mi_nats") / least(col("h_a"), col("h_b"))))
  }

  /** Welch's unequal-variance t-test between cohort A and cohort B on
    * integer scores: exact conditional (n, Σx, Σx²) per cohort in ONE
    * map-combined aggregate (never two scans); means, sample variances,
    * the t statistic and the Welch–Satterthwaite df are each single
    * fixed-operand-order IEEE expressions over the exact sums. One row:
    * `n_a`, `n_b`, `mean_a`, `mean_b`, `t`, `df`.
    */
  def welchT(df: DataFrame, cohortA: Column, centsCol: String): DataFrame = {
    val zero = lit(0L).cast("decimal(38,0)")
    val c = col(centsCol)
    val agg = df.select(cohortA.as("__a"), c.as("c"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), dec(col("c"))).otherwise(zero)).as("s_a"),
        sum(when(col("__a"), dec(col("c")) * dec(col("c"))).otherwise(zero))
          .as("q_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"),
        sum(when(col("__a"), zero).otherwise(dec(col("c")))).as("s_b"),
        sum(when(col("__a"), zero).otherwise(dec(col("c")) * dec(col("c"))))
          .as("q_b"))
    def meanOf(s: String, n: String): Column =
      col(s).cast("double") / col(n).cast("double")
    def varOf(q: String, s: String, n: String): Column =
      (dec(col(n)) * col(q) - col(s) * col(s)).cast("double") /
        (col(n).cast("double") * (col(n) - lit(1L)).cast("double"))
    val va = varOf("q_a", "s_a", "n_a")
    val vb = varOf("q_b", "s_b", "n_b")
    val se2 = va / col("n_a").cast("double") + vb / col("n_b").cast("double")
    val ok = col("n_a") > 1 && col("n_b") > 1
    agg
      .withColumn("mean_a", when(col("n_a") > 0, meanOf("s_a", "n_a")))
      .withColumn("mean_b", when(col("n_b") > 0, meanOf("s_b", "n_b")))
      .withColumn("t",
        when(ok && se2 > lit(0.0),
          (col("mean_a") - col("mean_b")) / sqrt(se2)))
      .withColumn("df",
        when(ok && se2 > lit(0.0),
          (se2 * se2) /
            ((va / col("n_a").cast("double")) * (va / col("n_a").cast("double")) /
              (col("n_a") - lit(1L)).cast("double") +
             (vb / col("n_b").cast("double")) * (vb / col("n_b").cast("double")) /
              (col("n_b") - lit(1L)).cast("double"))))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("t"), col("df"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between two cohorts on integer
    * scores — the nonparametric companion of [[welchT]] when the score
    * distribution is heavy-tailed (token counts, latencies). Tie-aware
    * average ranks ride the same value-domain-bounded distinct-score
    * histogram as [[kruskalWallis]] (same enforced 2²¹ value-domain
    * envelope, same exact twice-rank construction); U is carried as the
    * exact integer 2U_a = Σ_a trank − n_a(n_a+1), the tie numerator
    * Σ(t³−t) stays exact DECIMAL, and the tie-corrected normal z is one
    * fixed-operand-order expression over the exact sums. One row: `n_a`,
    * `n_b`, `u2_num` (2·U_a, canonical string — U itself is half-integer
    * under ties), `u_a`, `z`.
    */
  def mannWhitney(df: DataFrame, cohortA: Column, centsCol: String): DataFrame = {
    // NULL scores are dropped BEFORE the histogram (the runsTest
    // discipline): a NULL would otherwise form its own histogram row and
    // rank NULLS FIRST in Spark but NULLS LAST in an ORDER BY cents SQL
    // mirror — silently divergent ranks the moment the column admits NULL.
    val vals = requireBoundedDomain(
      df.select(cohortA.as("__a"), col(centsCol).as("cents"))
        .filter(col("cents").isNotNull)
        .groupBy(col("cents"))
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("d_a"),
          sum(when(col("__a"), 0L).otherwise(1L)).as("d_b")),
      "mannWhitney")
    val wv = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = vals
      .withColumn("cnt", col("d_a") + col("d_b"))
      .withColumn("cum", sum(col("cnt")).over(wv))
      .withColumn("trank",
        lit(2L) * (col("cum") - col("cnt")) + col("cnt") + lit(1L))
    val agg = ranked.agg(
      sum(col("d_a")).as("n_a"), sum(col("d_b")).as("n_b"),
      sum(dec(col("d_a")) * dec(col("trank"))).as("sr2_a"),
      sum(dec(col("cnt")) * dec(col("cnt")) * dec(col("cnt")) - dec(col("cnt")))
        .as("tie_dec"))
    val u2 = col("sr2_a") - dec(col("n_a")) * dec(col("n_a") + lit(1L))
    val nd = (col("n_a") + col("n_b")).cast("double")
    val varU = col("n_a").cast("double") * col("n_b").cast("double") /
      lit(12.0) *
      ((nd + lit(1.0)) - col("tie_dec").cast("double") / (nd * (nd - lit(1.0))))
    agg
      .withColumn("__u2", u2)
      .withColumn("__var", when(col("n_a") > 0 && col("n_b") > 0 &&
        (col("n_a") + col("n_b")) > 1, varU))
      .select(col("n_a"), col("n_b"),
        col("__u2").cast("string").as("u2_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__u2").cast("double") / lit(2.0)).as("u_a"),
        when(col("__var") > lit(0.0),
          (col("__u2").cast("double") -
            col("n_a").cast("double") * col("n_b").cast("double")) /
            (lit(2.0) * sqrt(col("__var")))).as("z"))
  }

  /** Cliff's delta — the ordinal effect size that belongs NEXT TO
    * [[mannWhitney]]'s p-value (a significant U on big n can be a
    * trivially small effect): δ = (#(a>b) − #(a<b)) / (n_a·n_b), ties
    * counting in neither direction. Both concordance counts come EXACTLY
    * from the same distinct-score histogram — C = Σ_v d_a(v)·cumB(<v),
    * D = Σ_v d_a(v)·(n_b − cumB(≤v)) — as order-free DECIMAL sums; δ is
    * one division, and the conventional |δ| bands ride along. Same
    * enforced 2²¹ value-domain envelope. One row: `n_a`, `n_b`,
    * `gt_num`/`lt_num` (canonical strings), `delta`, `magnitude`.
    */
  def cliffsDelta(df: DataFrame, cohortA: Column, centsCol: String): DataFrame = {
    // NULL scores dropped before the histogram — same rationale as
    // [[mannWhitney]] (NULL would rank NULLS FIRST here, NULLS LAST in SQL).
    val vals = requireBoundedDomain(
      df.select(cohortA.as("__a"), col(centsCol).as("cents"))
        .filter(col("cents").isNotNull)
        .groupBy(col("cents"))
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("d_a"),
          sum(when(col("__a"), 0L).otherwise(1L)).as("d_b")),
      "cliffsDelta")
    val wv = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals.withColumn("cb", sum(col("d_b")).over(wv))
    val agg = cum.agg(
      sum(col("d_a")).as("n_a"), sum(col("d_b")).as("n_b"),
      sum(dec(col("d_a")) * dec(col("cb") - col("d_b"))).as("gt_dec"))
    val lt = (dec(col("n_a")) * dec(col("n_b")) - col("gt_dec") -
      col("tie_dec")).as("lt_dec")
    val ties = cum.agg(sum(dec(col("d_a")) * dec(col("d_b"))).as("tie_dec"))
    val delta = (col("gt_dec") - col("lt_dec")).cast("double") /
      (dec(col("n_a")) * dec(col("n_b"))).cast("double")
    agg.crossJoin(broadcast(ties))
      .withColumn("lt_dec", lt)
      .withColumn("__delta",
        when(col("n_a") > 0 && col("n_b") > 0, delta))
      .select(col("n_a"), col("n_b"),
        col("gt_dec").cast("string").as("gt_num"),
        col("lt_dec").cast("string").as("lt_num"),
        col("__delta").as("delta"),
        when(col("__delta").isNotNull,
          when(abs(col("__delta")) < lit(0.147), "negligible")
            .when(abs(col("__delta")) < lit(0.33), "small")
            .when(abs(col("__delta")) < lit(0.474), "medium")
            .otherwise("large")).as("magnitude"))
  }

  /** Cochran–Armitage trend test of a binary outcome across k ORDERED
    * groups (dose-response: does the success rate move monotonically with
    * the ordinal score?) — the 2×k sharpening of the chi-square
    * independence gate when the columns carry an order (priority tiers,
    * quality bands, size buckets). With group scores s_i, totals n_i,
    * successes r_i, N = Σn, R = Σr:
    * T = Σ s_i·r_i − (R/N)·Σ s_i·n_i and
    * Var(T) = (R/N)(1−R/N)·[Σ s_i²·n_i − (Σ s_i·n_i)²/N].
    * Both are carried as EXACT DECIMAL numerators — t_num = N·Σsr − R·Σsn
    * and var_num = R·(N−R)·(N·Σs²n − (Σsn)²) — and z = t_num /
    * √(var_num/N) is one fixed-operand-order expression. One row: `n`,
    * `k`, `t_num`/`var_num` (canonical strings), `z`. Scale shape: one
    * map-combined aggregate to the k-group frame, one one-row fold — no
    * window, no broadcast of data.
    */
  def cochranArmitage(df: DataFrame, scoreCol: Column,
                      success: Column): DataFrame = {
    val g = df.select(scoreCol.cast("long").as("s"),
        success.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_i"), sum(col("y")).as("r_i"))
    val agg = g.agg(
      sum(col("n_i")).as("n"), count(lit(1)).as("k"),
      sum(col("r_i")).as("r"),
      sum(dec(col("s")) * dec(col("r_i"))).as("ssr"),
      sum(dec(col("s")) * dec(col("n_i"))).as("ssn"),
      sum(dec(col("s")) * dec(col("s")) * dec(col("n_i"))).as("ss2n"))
    val tNum = dec(col("n")) * col("ssr") - dec(col("r")) * col("ssn")
    val varNum = dec(col("r")) * dec(col("n") - col("r")) *
      (dec(col("n")) * col("ss2n") - col("ssn") * col("ssn"))
    agg
      .withColumn("__t", tNum)
      .withColumn("__v", varNum)
      .select(col("n"), col("k"),
        col("__t").cast("string").as("t_num"),
        col("__v").cast("string").as("var_num"),
        when(col("__v") > 0 && col("n") > 0,
          col("__t").cast("double") /
            sqrt(col("__v").cast("double") / col("n").cast("double")))
          .as("z"))
  }

  /** Benjamini–Hochberg step-up FDR selection over a family of m
    * hypotheses with EXACT RATIONAL p-values (p_i = pNum_i / pDen): the
    * multiple-testing gate a pipeline runs after computing one test per
    * segment. Reject the k* smallest p-values where k* = max{k :
    * p_(k) ≤ k·α/m}, evaluated CROSS-MULTIPLIED in exact DECIMAL —
    * pNum_(k)·m·αDen ≤ k·αNum·pDen — so the step-up boundary never
    * touches floating point. Per hypothesis: `id`, `p` (exact double
    * ratio), `rank`, `m`, `rejected`.
    *
    * Operating envelope: the family is one row per HYPOTHESIS (per
    * segment/test — metadata-sized by construction, thousands at most);
    * the rank window rides that frame, never the data.
    */
  def benjaminiHochberg(df: DataFrame, idCol: Column, pNumCol: Column,
                        pDen: Long, alphaNum: Long, alphaDen: Long): DataFrame = {
    require(pDen > 0 && alphaDen > 0 && alphaNum > 0 && alphaNum <= alphaDen,
      s"need 0 < alpha = $alphaNum/$alphaDen <= 1 and pDen > 0")
    val base = df.select(idCol.cast("string").as("id"),
      pNumCol.cast("long").as("p_num"))
    val wr = Window.orderBy(col("p_num"), col("id"))
    val wall = Window.partitionBy()
    val ranked = base
      .withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("m", count(lit(1)).over(wall))
    val kStar = ranked
      .withColumn("__ok",
        dec(col("p_num")) * dec(col("m")) * dec(lit(alphaDen)) <=
          dec(col("rank")) * dec(lit(alphaNum)) * dec(lit(pDen)))
      .withColumn("k_star",
        max(when(col("__ok"), col("rank")).otherwise(lit(0L))).over(wall))
    kStar.select(col("id"),
      (col("p_num").cast("double") / lit(pDen.toDouble)).as("p"),
      col("rank"), col("m"),
      (col("rank") <= col("k_star")).as("rejected"))
  }

  /** Wald–Wolfowitz runs test per entity — "is this ordered binary
    * sequence random?", the shuffle-quality audit a training pipeline
    * runs on its example order before committing a data shard. Runs,
    * n1, n0 are exact BIGINTs from one lag window per (entity, order)
    * partition; E[R] = 2·n1·n0/n + 1 and
    * Var[R] = 2n1n0(2n1n0 − n)/(n²(n−1)) assemble from DECIMAL-exact
    * products, and z is one fixed-order expression. Degenerate sequences
    * (single-class, Var ≤ 0) emit NULL z.
    */
  def runsTest(df: DataFrame, entityCol: String, orderCols: Seq[String],
               above: Column): DataFrame = {
    val w = Window.partitionBy(col("entity")).orderBy(orderCols.map(col): _*)
    // A NULL `above` row would land in neither n1 nor n0 yet still count
    // in n (skewing E[R]/Var[R]) and would null out its lag comparison —
    // drop such rows so n ≡ n1 + n0 and runs are counted over the
    // observed sequence only.
    val base = df.select(Seq(col(entityCol).as("entity")) ++ orderCols.map(col) :+
      above.as("__x"): _*)
      .filter(col("__x").isNotNull)
    val g = base
      .withColumn("__p", lag(col("__x"), 1).over(w))
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__x"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("__x"), 0L).otherwise(1L)).as("n0"),
        sum(when(col("__p").isNull || col("__p") =!= col("__x"), 1L)
          .otherwise(0L)).as("runs"))
    val m = dec(lit(2L)) * dec(col("n1")) * dec(col("n0"))
    val e = m.cast("double") / col("n").cast("double") + lit(1.0)
    val varNum = (m * (m - dec(col("n")))).cast("double")
    val varDen = (dec(col("n")) * dec(col("n")) * (dec(col("n")) - dec(lit(1L))))
      .cast("double")
    g.withColumn("z",
        when(col("n") > 1 && col("n1") > 0 && col("n0") > 0 && varNum > lit(0.0),
          (col("runs").cast("double") - e) / sqrt(varNum / varDen)))
      .select(col("entity"), col("n"), col("n1"), col("n0"), col("runs"),
        col("z"))
  }

  /** Cronbach's α over `itemCols` — internal-consistency reliability of a
    * multi-item score (the labeling-rubric audit: do the items measure one
    * construct). Every per-item and total variance NUMERATOR
    * (n·Σx² − (Σx)²) is exact DECIMAL(38,0) from one aggregate; their
    * k-term sum is exact decimal addition (order-free), so
    * α = k/(k−1)·(1 − Σᵢnumᵢ/num_total) is a single fixed-order IEEE
    * expression. Emits the numerators as canonical strings under the hash.
    */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2, s"need >= 2 items, got ${itemCols.size}")
    val k = itemCols.size
    val items = itemCols.map(c => col(c).cast("long"))
    val total = items.reduce(_ + _)
    val aggCols =
      itemCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(sum(dec(col(c).cast("long"))).as(s"s_$i"),
          sum(dec(col(c).cast("long")) * dec(col(c).cast("long"))).as(s"q_$i"))
      } ++ Seq(sum(dec(col("__t"))).as("s_t"),
        sum(dec(col("__t")) * dec(col("__t"))).as("q_t"))
    val agg = df.select(itemCols.map(col) :+ total.as("__t"): _*)
      .agg(count(lit(1)).as("n"), aggCols: _*)
    def num(q: String, s: String): Column = dec(col("n")) * col(q) - col(s) * col(s)
    val itemNum = (0 until k).map(i => num(s"q_$i", s"s_$i")).reduce(_ + _)
    val totNum = num("q_t", "s_t")
    val kd = lit(k.toDouble)
    agg
      .withColumn("__in", itemNum)
      .withColumn("__tn", totNum)
      .select(col("n"), lit(k.toLong).as("k"),
        col("__in").cast("string").as("item_var_num"),
        col("__tn").cast("string").as("total_var_num"),
        when(col("n") > 1 && totNum.cast("double") > lit(0.0),
          kd / (kd - lit(1.0)) *
            (lit(1.0) - col("__in").cast("double") / col("__tn").cast("double")))
          .as("alpha"))
  }

  /** Method-of-moments Gumbel fit over block maxima — the extreme-value
    * question ("what spike should we expect next period") asked of ops
    * metrics: location μ = m − γ·β and scale β = s·√6/π from the EXACT
    * integer moments of the (bounded) block-maximum frame; γ and π enter
    * as identical double constants on both engines. Emits the exact
    * moment sums (strings) beside the fitted parameters.
    */
  def gumbelFit(blockMax: DataFrame, centsCol: String): DataFrame = {
    val agg = blockMax.select(col(centsCol).as("x"))
      .agg(count(lit(1)).as("n_blocks"), sum(dec(col("x"))).as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
    val nd = col("n_blocks").cast("double")
    val m = col("sx").cast("double") / nd
    val varNum = (dec(col("n_blocks")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val v = varNum / (nd * (nd - lit(1.0)))
    val beta = sqrt(v) * sqrt(lit(6.0)) / lit(math.Pi)
    agg
      .withColumn("mean", when(col("n_blocks") > 0, m))
      .withColumn("beta", when(col("n_blocks") > 1 && varNum > lit(0.0), beta))
      .withColumn("mu",
        when(col("beta").isNotNull,
          col("mean") - lit(0.5772156649015329) * col("beta")))
      .select(col("n_blocks"), col("sx").cast("string").as("sum_cents"),
        col("sxx").cast("string").as("sumsq_cents"), col("mean"),
        col("beta"), col("mu"))
  }

  /** 2×2 odds ratio with the Woolf log-OR standard error — the
    * association readout for a pair of binary facets: exact cell counts,
    * OR as one division of exact cross products, SE without any log
    * (√(1/a+1/b+1/c+1/d) is correctly-rounded ops only).
    */
  def oddsRatio(df: DataFrame, rowFlag: Column, colFlag: Column): DataFrame = {
    val agg = df.select(rowFlag.as("__r"), colFlag.as("__c"))
      .agg(sum(when(col("__r") && col("__c"), 1L).otherwise(0L)).as("a"),
        sum(when(col("__r") && !col("__c"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("__r") && col("__c"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("__r") && !col("__c"), 1L).otherwise(0L)).as("d"))
    val or = (dec(col("a")) * dec(col("d"))).cast("double") /
      (dec(col("b")) * dec(col("c"))).cast("double")
    val se = sqrt(lit(1.0) / col("a").cast("double") +
      lit(1.0) / col("b").cast("double") +
      lit(1.0) / col("c").cast("double") +
      lit(1.0) / col("d").cast("double"))
    agg
      .withColumn("odds_ratio",
        when(col("b") > 0 && col("c") > 0, or))
      .withColumn("se_log_or",
        when(col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0, se))
  }

  /** Poisson overdispersion (index-of-dispersion) test over unit counts —
    * "is this arrival process Poisson or bursty?", the telemetry check
    * before trusting any rate-based alert threshold. For counts x_i:
    * D = s²/x̄ = (n·Σx² − (Σx)²) / ((n−1)·Σx) — an exact-integer ratio,
    * ONE division — and the chi-square statistic (n−1)·D likewise. One
    * map-combined aggregate; no window, no join. One row: `n`,
    * `sum_events`, `dispersion`, `chi2`, `df`.
    */
  def overdispersion(df: DataFrame, countCol: Column): DataFrame = {
    val agg = df.select(countCol.cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("s"),
        sum(dec(col("x")) * dec(col("x"))).as("q"))
    val num = dec(col("n")) * col("q") - col("s") * col("s")
    agg
      .withColumn("__num", num)
      .select(col("n"), col("s").cast("string").as("sum_events"),
        when(col("n") > 1 && col("s") > 0,
          col("__num").cast("double") /
            ((col("n") - lit(1L)).cast("double") * col("s").cast("double")))
          .as("dispersion"),
        when(col("n") > 1 && col("s") > 0,
          col("__num").cast("double") / col("s").cast("double")).as("chi2"),
        (col("n") - lit(1L)).as("df"))
  }

  /** Sample-ratio-mismatch check of a deterministic 50/50 hash split —
    * the FIRST gate on any experiment dashboard (an SRM invalidates every
    * downstream metric): χ² = (n_a − n_b)²/(n_a + n_b) against the
    * equal-allocation null, exact-integer numerator, one division, and
    * the conventional 0.05 trip flag (χ² > 3.84). One row: `n_a`, `n_b`,
    * `chi2`, `srm_detected`.
    */
  def srmCheck(df: DataFrame, unitCol: Column, seed: String): DataFrame = {
    val agg = df.select(unitCol.cast("string").as("u")).distinct()
      .select(pmod(graft.functions.Md5Field.md5U32(
        concat(lit(s"srm:$seed:"), col("u"))), lit(2L)).as("__arm"))
      .agg(sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("n_b"))
    val diff = col("n_a") - col("n_b")
    val chi2 = (dec(diff) * dec(diff)).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") + col("n_b") > 0, chi2).as("chi2"),
      when(col("n_a") + col("n_b") > 0,
        chi2 > lit(3.841458820694124)).as("srm_detected"))
  }

  /** Chapman capture–recapture estimate of a hidden population from two
    * overlapping observation occasions — the coverage audit for anything
    * sampled twice (how many near-dups exist, given what two independent
    * dedup passes each caught; how many active users, given two days'
    * sightings): N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with
    * SE = √((n₁+1)(n₂+1)(n₁−m)(n₂−m) / ((m+1)²(m+2))), both
    * fixed-operand-order expressions over exact DECIMAL products. Inputs
    * are two id sets; m comes from one distinct equi-join. One row:
    * `n1`, `n2`, `m_both`, `n_hat`, `se`.
    */
  def captureRecapture(first: DataFrame, second: DataFrame,
                       idCol: String): DataFrame = {
    val a = first.select(col(idCol).cast("string").as("id")).distinct()
    val b = second.select(col(idCol).cast("string").as("id")).distinct()
    val n1 = a.agg(count(lit(1)).as("n1"))
    val n2 = b.agg(count(lit(1)).as("n2"))
    val m = a.join(b, Seq("id"), "left_semi").agg(count(lit(1)).as("m_both"))
    val base = n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
    val nHat = (dec(col("n1") + lit(1L)) * dec(col("n2") + lit(1L)))
      .cast("double") / (col("m_both") + lit(1L)).cast("double") - lit(1.0)
    val seNum = dec(col("n1") + lit(1L)) * dec(col("n2") + lit(1L)) *
      dec(col("n1") - col("m_both")) * dec(col("n2") - col("m_both"))
    val seDen = dec(col("m_both") + lit(1L)) * dec(col("m_both") + lit(1L)) *
      dec(col("m_both") + lit(2L))
    base.select(col("n1"), col("n2"), col("m_both"),
      nHat.as("n_hat"),
      when(col("n1") >= col("m_both") && col("n2") >= col("m_both"),
        sqrt(seNum.cast("double") / seDen.cast("double"))).as("se"))
  }

  /** Standardized-mean-difference covariate balance between two cohorts —
    * the pre-test an experimenter (or a matching pipeline,
    * [[graft.ops.Matching]]) runs to confirm the split didn't skew the
    * covariates: per covariate, SMD = (x̄_A − x̄_B) / √((s²_A + s²_B)/2);
    * |SMD| ≲ 0.1 is the conventional balance bar. Covariates stack into
    * long form with one explode whose array elements each appear ONCE
    * (the explode codegen trap is about expressions RE-INLINED per
    * downstream reference; single-use covariate expressions evaluate
    * once per row), then
    * ONE map-combined aggregate per covariate computes the exact
    * conditional (n, Σx, Σx²) of both cohorts; means, variances, and the
    * SMD are fixed-operand-order expressions. One row per covariate:
    * `cov`, `n_a`, `n_b`, `mean_a`, `mean_b`, `smd`.
    */
  def smdBalance(df: DataFrame, cohortA: Column,
                 covs: Seq[(String, Column)]): DataFrame = {
    require(covs.nonEmpty, "need at least one covariate")
    val zero = lit(0L).cast("decimal(38,0)")
    val stacked = df.select(cohortA.as("__a"),
        explode(array(covs.map { case (n, c) =>
          struct(lit(n).as("cov"), c.cast("long").as("x")) }: _*)).as("kv"))
      .select(col("__a"), col("kv.cov").as("cov"), col("kv.x").as("x"))
    val g = stacked.groupBy(col("cov"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), dec(col("x"))).otherwise(zero)).as("s_a"),
        sum(when(col("__a"), dec(col("x")) * dec(col("x"))).otherwise(zero))
          .as("q_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"),
        sum(when(col("__a"), zero).otherwise(dec(col("x")))).as("s_b"),
        sum(when(col("__a"), zero).otherwise(dec(col("x")) * dec(col("x"))))
          .as("q_b"))
    def meanOf(s: String, n: String): Column =
      col(s).cast("double") / col(n).cast("double")
    def varOf(q: String, s: String, n: String): Column =
      (dec(col(n)) * col(q) - col(s) * col(s)).cast("double") /
        (col(n).cast("double") * (col(n) - lit(1L)).cast("double"))
    val pooled = (varOf("q_a", "s_a", "n_a") + varOf("q_b", "s_b", "n_b")) /
      lit(2.0)
    g.select(col("cov"), col("n_a"), col("n_b"),
      when(col("n_a") > 0, meanOf("s_a", "n_a")).as("mean_a"),
      when(col("n_b") > 0, meanOf("s_b", "n_b")).as("mean_b"),
      when(col("n_a") > 1 && col("n_b") > 1 && pooled > lit(0.0),
        (meanOf("s_a", "n_a") - meanOf("s_b", "n_b")) / sqrt(pooled))
        .as("smd"))
  }

  /** 2×2 risk ratio (relative risk) with the Katz log-RR standard error —
    * the incidence-scale companion of [[oddsRatio]] (epidemiologists and
    * experiment dashboards read risk, not odds, when the outcome is
    * common): exposed cells (a = exposed·outcome, b = exposed·no-outcome)
    * vs unexposed (c, d); RR = a·(c+d) / (c·(a+b)) as one division of
    * exact DECIMAL cross products, and SE_logRR =
    * √(1/a − 1/(a+b) + 1/c − 1/(c+d)) — correctly-rounded ops only, no
    * log anywhere. One map-combined aggregate to a single row.
    */
  def riskRatio(df: DataFrame, exposed: Column, outcome: Column): DataFrame = {
    val agg = df.select(exposed.as("__r"), outcome.as("__c"))
      .agg(sum(when(col("__r") && col("__c"), 1L).otherwise(0L)).as("a"),
        sum(when(col("__r") && !col("__c"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("__r") && col("__c"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("__r") && !col("__c"), 1L).otherwise(0L)).as("d"))
    val rr = (dec(col("a")) * dec(col("c") + col("d"))).cast("double") /
      (dec(col("c")) * dec(col("a") + col("b"))).cast("double")
    val se = sqrt(lit(1.0) / col("a").cast("double") -
      lit(1.0) / (col("a") + col("b")).cast("double") +
      lit(1.0) / col("c").cast("double") -
      lit(1.0) / (col("c") + col("d")).cast("double"))
    agg
      .withColumn("risk_ratio",
        when(col("c") > 0 && col("a") + col("b") > 0, rr))
      .withColumn("se_log_rr",
        when(col("a") > 0 && col("c") > 0, se))
  }

  /** Two-sample Cramér–von Mises functional — the INTEGRATED ECDF
    * discrepancy next to KS's supremum: over the value-range-bounded
    * distinct-score frame, T = Σ (cumA·n_b − cumB·n_a)²·(dA+dB) /
    * (n_a²·n_b²·(n_a+n_b)). The numerator is EXACT DECIMAL(38,0) — the
    * cumulative counts are integers on one ordered window (integer
    * window sums are order-free, so the engine-divergent double-fold
    * problem never arises) — and T is one division. Exact up to ~3·10⁸
    * rows per cohort (the 4th-power product against DECIMAL(38); ANSI
    * fails loudly beyond).
    *
    * Operating envelope: the ECDF frame holds one row per DISTINCT score —
    * [[MaxDistinctValues]] (2²¹) is enforced in-plan
    * ([[requireBoundedDomain]]) before the unpartitioned cumulative
    * window consumes it.
    */
  def cvmTwoSample(df: DataFrame, cohortA: Column, centsCol: String): DataFrame = {
    // NULL scores dropped pre-ECDF — same rationale as [[mannWhitney]]
    val vals = requireBoundedDomain(
      df.select(cohortA.as("__a"), col(centsCol).as("c"))
        .filter(col("c").isNotNull)
        .groupBy(col("c"))
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("d_a"),
          sum(when(col("__a"), 0L).otherwise(1L)).as("d_b")), "cvmTwoSample")
    val w = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = vals.agg(sum(col("d_a")).as("n_a"), sum(col("d_b")).as("n_b"))
    val num = dec(col("__ca")) * dec(col("n_b")) -
      dec(col("__cb")) * dec(col("n_a"))
    val term = num * num * (dec(col("d_a")) + dec(col("d_b")))
    val den = dec(col("n_a")) * dec(col("n_a")) * dec(col("n_b")) *
      dec(col("n_b")) * (dec(col("n_a")) + dec(col("n_b")))
    vals
      .withColumn("__ca", sum(col("d_a")).over(w))
      .withColumn("__cb", sum(col("d_b")).over(w))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(term).as("cvm_dec"))
      .select(col("n_a"), col("n_b"),
        col("cvm_dec").cast("string").as("cvm_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("cvm_dec").cast("double") / den.cast("double")).as("t"))
  }

  /** One-way random-effects intraclass correlation ICC(1) with entities as
    * groups — "how much of the metric's variance is BETWEEN users" — the
    * clustered-data audit that decides whether examples from one entity
    * are near-duplicates for sampling/dedup purposes. Unlike [[anovaF]]
    * (whose group key is class-bounded), the group frame here is
    * ENTITY-sized, so a double fold over it is engine-divergent in ANY
    * shape (DuckDB's partitioned windowed sum reassociates via segment
    * trees — measured). The between-group term therefore quantizes to
    * cent² resolution IN EXACT ARITHMETIC: Σ(s_i² div n_i) is an
    * order-free DECIMAL sum (flooring each group's term to an integer —
    * a defined statistic, identical on both engines), and every derived
    * quantity is a fixed-operand-order expression over exact integers.
    * No window anywhere — one map-combined aggregate per level, fully
    * scale-free.
    */
  def iccOneWay(df: DataFrame, grpCol: String, centsCol: String): DataFrame = {
    val ev = df.select(col(grpCol).cast("long").as("grp"),
      col(centsCol).as("cents"))
    val g = ev.groupBy(col("grp")).agg(count(lit(1)).as("n_i"),
      sum(dec(col("cents"))).as("s_i"),
      sum(dec(col("cents")) * dec(col("cents"))).as("q_i"))
    val tot = g
      .withColumn("term_q", expr("(s_i * s_i) div n_i").cast("decimal(38,0)"))
      .agg(sum(col("n_i")).as("n"), count(lit(1)).as("k"),
        sum(col("s_i")).as("s_all"), sum(col("q_i")).as("q_all"),
        sum(dec(col("n_i")) * dec(col("n_i"))).as("nsq"),
        sum(col("term_q")).as("rterm_q"))
    val nd = col("n").cast("double")
    val kd = col("k").cast("double")
    val ssb = col("rterm") -
      (col("s_all").cast("double") * col("s_all").cast("double")) / nd
    val ssw = col("q_all").cast("double") - col("rterm")
    val msb = col("ssb") / (col("k") - lit(1L)).cast("double")
    val msw = col("ssw") / (col("n") - col("k")).cast("double")
    val n0 = (nd - col("nsq").cast("double") / nd) / (kd - lit(1.0))
    val den = col("msb") + (col("n0") - lit(1.0)) * col("msw")
    tot
      .withColumn("rterm", col("rterm_q").cast("double"))
      .withColumn("ssb", ssb)
      .withColumn("ssw", ssw)
      .withColumn("msb", when(col("k") > 1, msb))
      .withColumn("msw", when(col("n") > col("k"), msw))
      .withColumn("n0", when(col("k") > 1, n0))
      .select(col("n"), col("k"), col("nsq").cast("string").as("group_sq_sum"),
        col("ssb"), col("ssw"), col("msb"), col("msw"), col("n0"),
        when(col("k") > 1 && col("n") > col("k") && den > lit(0.0),
          (col("msb") - col("msw")) / den).as("icc"))
  }

  /** Tukey–Kramer pairwise contrasts after a one-way layout: for every
    * group pair, |mean_i − mean_j| / √(MSW/2·(1/nᵢ + 1/nⱼ)) with MSW the
    * pooled within-group mean square from the same exact DECIMAL moments
    * as [[anovaF]] (the k-group ordered fold). The pair frame is k²
    * rows — broadcast both sides; the data shuffles once.
    */
  def tukeyContrasts(df: DataFrame, grpCol: String, centsCol: String): DataFrame = {
    val ev = df.select(col(grpCol).as("grp"), col(centsCol).as("cents"))
    val g = ev.groupBy(col("grp")).agg(count(lit(1)).as("n_i"),
      sum(dec(col("cents"))).as("s_i"),
      sum(dec(col("cents")) * dec(col("cents"))).as("q_i"))
    val tot = g.agg(sum(col("n_i")).as("n"), count(lit(1)).as("k"),
      sum(col("q_i")).as("q_all"))
    val wg = Window.orderBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val term = (col("s_i").cast("double") * col("s_i").cast("double")) /
      col("n_i").cast("double")
    val msw = g.crossJoin(broadcast(tot))
      .withColumn("__cum", sum(term).over(wg))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        max(col("q_all")).as("q_all"), max(col("__cum")).as("rterm"))
      .select(col("n"), col("k"),
        when(col("n") > col("k"),
          (col("q_all").cast("double") - col("rterm")) /
            (col("n") - col("k")).cast("double")).as("msw"))
    val m = g.withColumn("mean",
      col("s_i").cast("double") / col("n_i").cast("double"))
    m.as("x").join(broadcast(m.as("y")), col("x.grp") < col("y.grp"))
      .crossJoin(broadcast(msw))
      .select(col("x.grp").as("grp_a"), col("y.grp").as("grp_b"),
        col("x.n_i").as("n_a"), col("y.n_i").as("n_b"),
        col("x.mean").as("mean_a"), col("y.mean").as("mean_b"),
        when(col("msw") > lit(0.0),
          abs(col("x.mean") - col("y.mean")) /
            sqrt(col("msw") / lit(2.0) *
              (lit(1.0) / col("x.n_i").cast("double") +
               lit(1.0) / col("y.n_i").cast("double")))).as("q_stat"))
  }
}
