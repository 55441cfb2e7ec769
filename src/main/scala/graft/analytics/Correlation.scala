package graft.analytics

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Field.md5U32

/** Rank statistics over groups. Spearman's ρ is computed from INTEGER ranks
  * (`row_number` with a deterministic id tie-break, so ranks are a
  * permutation and the classic formula ρ = 1 − 6·Σd²/(n(n²−1)) is exact):
  * Σd² and n are exact BIGINTs, and ρ itself is one fixed operand-order
  * IEEE expression over them — bit-stable across engines, the
  * `readability`/Flesch discipline.
  *
  * Scale shape: two rank windows partitioned by the group key (one shuffle
  * on the key; a window per metric) and one group aggregate. A single
  * monster group serializes through its partition's tasks — the standard
  * windowed-rank caveat; pre-split such groups upstream.
  */
object Correlation {

  /** Per-group distribution shape from EXACT integer power sums (n, Σx,
    * Σx², Σx³, Σx⁴ — all BIGINT under the hash; inputs must be small enough
    * that Σx⁴ fits a long, true for any bounded feature column): variance,
    * skewness and excess kurtosis via the standard central-moment algebra,
    * each one fixed-operand-order IEEE expression — so the SHAPE statistics
    * verify cross-engine, not just their inputs. One map-combined
    * aggregate; the drift-monitoring companion to [[regression]].
    *
    * Range bound: Σx⁴ ≤ n·max|x|⁴ must stay under 2⁶³ — e.g. max|x| ≤ 10³
    * allows n up to ~9·10⁶ per group, max|x| ≤ 10⁴ only ~9·10² (pinned by
    * CorrelationBoundSpec). Under ANSI mode (this engine's default) an
    * over-bound sum FAILS LOUDLY with ARITHMETIC_OVERFLOW rather than
    * wrapping; rescale or clip the feature first (winsorize).
    */
  def moments(df: DataFrame, groupCol: String, xCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val nD = col("n").cast("double")
    val m = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - m * m
    val m3 = col("s3").cast("double") / nD - lit(3.0) * m * (col("s2").cast("double") / nD) +
      lit(2.0) * m * m * m
    val m4 = col("s4").cast("double") / nD - lit(4.0) * m * (col("s3").cast("double") / nD) +
      lit(6.0) * m * m * (col("s2").cast("double") / nD) - lit(3.0) * m * m * m * m
    agg.withColumn("mean", m)
      .withColumn("variance", m2)
      .withColumn("skewness",
        when(col("variance") > 0.0, m3 / sqrt(col("variance") * col("variance") * col("variance")))
          .otherwise(0.0))
      .withColumn("kurtosis",
        when(col("variance") > 0.0, m4 / (col("variance") * col("variance")) - lit(3.0))
          .otherwise(0.0))
  }

  /** Pairwise Pearson correlation matrix from EXACT integer moment sums —
    * the feature-audit companion of [[moments]]: each input column is
    * scaled onto the cent grid (`round(x·100)` — explicit round on
    * BOTH engines, because double→int CAST truncates in Spark but rounds
    * in DuckDB), all n/Σx/Σx²/Σxy accumulate as BIGINTs (order-free), and
    * each r is ONE fixed operand-order IEEE expression over them, with the
    * n·Σ products computed in DECIMAL(38) so n²·M² needs 10³⁸ headroom
    * rather than 2⁶³ (n ≤ 10¹² at M = 10⁶ scaled units clears it).
    *
    * Scale shape: ONE corpus aggregate with map-side combine carrying
    * k(k+3)/2 + 1 longs; the matrix assembly runs k(k−1)/2 selects over the
    * persisted 1-row result — metadata-sized. Constant columns emit NULL r
    * (zero variance), not a 0/0.
    */
  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    val xs = cols.map(c => round(col(c) * 100, 0).cast("long"))
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.indices.flatMap { i =>
        Seq(sum(xs(i)).as(s"s_$i"), sum(xs(i) * xs(i)).as(s"s_${i}_$i")) } ++
      (for { i <- cols.indices; j <- cols.indices if i < j }
        yield sum(xs(i) * xs(j)).as(s"s_${i}_$j"))
    // eager anchor, not a lazy persist (r17): a 1-row moment frame with
    // k(k−1)/2 select consumers is the r15 anchor-playbook case
    val one = df.agg(aggs.head, aggs.tail: _*)
      .anchor(Bound.Metadata)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val rows = for { i <- cols.indices; j <- cols.indices if i < j } yield {
      val num = (dec(col("n")) * col(s"s_${i}_$j") -
        dec(col(s"s_$i")) * col(s"s_$j")).cast("double")
      val da = (dec(col("n")) * col(s"s_${i}_$i") -
        dec(col(s"s_$i")) * col(s"s_$i")).cast("double")
      val db = (dec(col("n")) * col(s"s_${j}_$j") -
        dec(col(s"s_$j")) * col(s"s_$j")).cast("double")
      one.select(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        col("n"), col(s"s_${i}_$j").as("sum_ab"),
        when(da > 0.0 && db > 0.0, num / (sqrt(da) * sqrt(db)))
          .otherwise(lit(null).cast("double")).as("r"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Truncated rank-biased overlap (Webber/Moffat/Zobel) between two
    * rankings at persistence p = 1/2: `RBO = (1−p)·Σ_{d≤D} p^{d−1}·A_d/d`
    * with `A_d` = |top-d(A) ∩ top-d(B)| — the ranking-drift audit for
    * comparing retrieval variants (BM25 vs raw TF, old index vs new)
    * where Spearman over full lists is meaningless because only prefixes
    * matter. Each ranking is a `(doc_id, rank)` frame.
    *
    * Exactness at p = 1/2: every weight p^{d−1} is a power of two (exact
    * double), each A_d/d is one correctly-rounded division of exact longs,
    * and the Σ is generated LEFT-ASSOCIATIVE in both engines — the same
    * fixed-operand-order discipline as Spearman/Flesch, so the RBO value
    * itself hash-compares. All A_d are emitted alongside.
    *
    * Scale shape: two depth-bounded prefix frames, one id equi-join, ONE
    * aggregate carrying D longs. Depth is a constant; nothing here touches
    * corpus scale.
    */
  def rbo(rankA: DataFrame, rankB: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 32, s"depth must be in [1, 32], got $depth")
    val ra = rankA.select(col("doc_id").as("__id"), col("rank").as("__ra"))
      .filter(col("__ra") <= depth)
    val rb = rankB.select(col("doc_id").as("__id"), col("rank").as("__rb"))
      .filter(col("__rb") <= depth)
    val j = ra.join(rb, Seq("__id"), "full_outer")
      .select(coalesce(col("__ra"), lit(depth + 1L)).as("ra"),
        coalesce(col("__rb"), lit(depth + 1L)).as("rb"))
    val aggs = (1 to depth).map(d =>
      sum(when(col("ra") <= d && col("rb") <= d, 1L).otherwise(0L)).as(s"a_$d"))
    val one = j.agg(aggs.head, aggs.tail: _*)
    val terms = (1 to depth).map { d =>
      lit(math.pow(0.5, d - 1)) * (col(s"a_$d").cast("double") / lit(d.toDouble))
    }
    one.withColumn("rbo", lit(0.5) * terms.reduce(_ + _))
  }

  /** The [[rbo]] Σ as DuckDB SQL over columns `a_1..a_D` — generated from
    * the same loop so the operand order is identical.
    */
  def rboSumSql(depth: Int): String =
    "0.5 * (" + (1 to depth).map { d =>
      s"${math.pow(0.5, d - 1)} * (a_$d::DOUBLE / ${d.toDouble})"
    }.mkString(" + ") + ")"

  /** Per-group exact weighted median: the smallest value whose running
    * weight (value-then-id order) reaches half the group's total weight —
    * 2·cumw ≥ W on exact BIGINTs, no interpolation, so the selected value
    * is a data value and hash-compares. One group-key window + one
    * aggregate join; the weighted companion of the exact `winsorize`
    * order statistics.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__v"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = df.select(col(groupCol), col(idCol), col(valueCol).cast("long").as("__v"),
        col(weightCol).cast("long").as("__wt"))
      .withColumn("__cumw", sum(col("__wt")).over(w))
    val tot = cum.groupBy(col(groupCol))
      .agg(sum(col("__wt")).as("__tw"), count(lit(1)).as("n"))
    cum.join(tot, groupCol)
      .filter(col("__cumw") * 2 >= col("__tw"))
      .groupBy(col(groupCol))
      .agg(min(col("__v")).as("weighted_median"), first(col("__tw")).as("total_weight"),
        first(col("n")).as("n"))
      .select(col(groupCol), col("n"), col("total_weight"), col("weighted_median"))
  }

  /** Per-group simple least squares of `yCol` on `xCol` from EXACT integer
    * moment sums (n, Σx, Σy, Σxy, Σx² — all BIGINT under the hash):
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx), intercept from the means —
    * each one fixed-operand-order IEEE expression over exact longs, so the
    * fitted coefficients themselves cross engines bit-exactly. Degenerate
    * groups (all x equal) yield slope 0 by convention. One map-combined
    * aggregate; no second pass.
    */
  def regression(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).as("sum_x"), sum(y).as("sum_y"),
        sum(x * y).as("sum_xy"), sum(x * x).as("sum_x2"))
    val nD = col("n").cast("double")
    val det = nD * col("sum_x2").cast("double") -
      col("sum_x").cast("double") * col("sum_x").cast("double")
    val slope = when(det =!= 0.0,
      (nD * col("sum_xy").cast("double") -
        col("sum_x").cast("double") * col("sum_y").cast("double")) / det)
      .otherwise(0.0)
    agg.withColumn("slope", slope)
      .withColumn("intercept",
        (col("sum_y").cast("double") - col("slope") * col("sum_x").cast("double")) / nD)
  }

  /** Per-group Spearman rank correlation of `xCol` vs `yCol`:
    * (group, n, sum_d2, spearman_rho). Ties break by `idCol` in BOTH
    * rankings — deterministic, and tie-noise vanishes as groups grow.
    *
    * Range bound: worst-case Σd² < n³/3, so the exact BIGINT contract
    * holds for groups up to ~3·10⁶ rows; beyond that the sum can wrap
    * silently (non-ANSI) — rank-correlate a per-group sample, not the raw
    * rows, at that scale (the estimate converges at a few thousand rows
    * anyway).
    */
  def spearman(df: DataFrame, groupCol: String, xCol: String, yCol: String,
               idCol: String): DataFrame = {
    val wx = Window.partitionBy(col(groupCol)).orderBy(col(xCol), col(idCol))
    val wy = Window.partitionBy(col(groupCol)).orderBy(col(yCol), col(idCol))
    df.select(col(groupCol), col(xCol), col(yCol), col(idCol))
      .withColumn("__rx", row_number().over(wx).cast("long"))
      .withColumn("__ry", row_number().over(wy).cast("long"))
      .withColumn("__d2", (col("__rx") - col("__ry")) * (col("__rx") - col("__ry")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__d2")).as("sum_d2"))
      .withColumn("spearman_rho",
        when(col("n") > 1,
          lit(1.0) - (lit(6.0) * col("sum_d2").cast("double")) /
            (col("n").cast("double") *
              (col("n").cast("double") * col("n").cast("double") - lit(1.0))))
          .otherwise(lit(0.0)))
  }

  /** Largest group the exact quadratic operators enumerate pairs of. */
  private val MaxPairGroupSize = 100000

  /** ENFORCED bounded-group contract for the exact quadratic operators: the
    * per-group row count is computed in-plan and any group over
    * [[MaxPairGroupSize]] fails the job with a `raise_error` naming the group — a silent O(n²)
    * blowup on a million-row group becomes a loud contract violation
    * instead (the `Expectations` discipline). The `||` short-circuits, so
    * within-bound rows never evaluate the error branch; the count join
    * shuffles on the group key the pair join was about to shuffle on
    * anyway.
    */
  private def requireBounded(base: DataFrame, groupCol: String, op: String): DataFrame = {
    val counts = base.groupBy(col(groupCol)).agg(count(lit(1)).as("__gn"))
    base.join(counts, Seq(groupCol))
      .filter(col("__gn") <= MaxPairGroupSize ||
        raise_error(concat(
          lit(s"$op: group "), col(groupCol).cast("string"),
          lit(" has "), col("__gn").cast("string"),
          lit(s" rows, exceeding the bound $MaxPairGroupSize for the exact " +
            "quadratic pair enumeration; use kendallTauSampled"))).cast("boolean"))
      .drop("__gn")
  }

  /** Theil–Sen robust slope per group: the (lower) median of all pairwise
    * slopes. Each slope is ONE IEEE division of exact integer differences
    * (identical on any engine), the median is a SELECTED slope value (no
    * interpolation), and ties order by the pair's (x₁, x₂) — fully
    * deterministic. Requires distinct x within a group (pre-aggregate to
    * unique x; duplicate x has undefined pairwise slope).
    *
    * Scale note: O(n²) pairs per group by design, same contract as
    * [[kendallTau]] — exact and right for bounded per-segment series, and
    * the bound is ENFORCED in-plan ([[requireBounded]]): a group larger
    * than [[MaxPairGroupSize]] fails loudly instead of going quietly quadratic.
    */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val bounded = requireBounded(
      df.select(col(groupCol), col(xCol), col(yCol)), groupCol, "theilSen")
    val a = bounded.select(col(groupCol), col(xCol).as("__x1"), col(yCol).as("__y1"))
    val b = bounded.select(col(groupCol), col(xCol).as("__x2"), col(yCol).as("__y2"))
    val pairs = a.join(b, Seq(groupCol))
      .filter(col("__x1") < col("__x2"))
      .withColumn("__slope",
        (col("__y2") - col("__y1")).cast("double") /
          (col("__x2") - col("__x1")).cast("double"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__slope"), col("__x1"), col("__x2"))
    pairs
      .withColumn("__rn", row_number().over(w))
      .withColumn("__np", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .filter(col("__rn") === expr("(__np + 1) div 2"))
      .select(col(groupCol), col("__np").as("n_pairs"),
        col("__slope").as("median_slope"))
  }

  /** Kendall τ-a per group from the EXACT pair enumeration: one equi-join on
    * the group key with the `id < id` half-matrix residual, concordant /
    * discordant / tied counted as exact longs, τ-a one final division.
    *
    * Scale note: the pair join is O(n²) per group — exact and right when
    * group sizes are bounded (per-segment metric audits); the O(n log n)
    * merge-sort inversion count only helps a SINGLE global τ and needs the
    * same sorted pass. The bound is ENFORCED in-plan ([[requireBounded]]);
    * [[kendallTauSampled]] is the estimator for groups beyond it.
    */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String, yCol: String,
                 idCol: String): DataFrame = {
    val base = requireBounded(
      df.select(col(groupCol), col(xCol), col(yCol), col(idCol)), groupCol, "kendallTau")
    val a = base.select(col(groupCol), col(xCol).as("__x1"),
      col(yCol).as("__y1"), col(idCol).as("__i1"))
    val b = base.select(col(groupCol), col(xCol).as("__x2"),
      col(yCol).as("__y2"), col(idCol).as("__i2"))
    val sgn = (col("__x1") - col("__x2")) * (col("__y1") - col("__y2"))
    a.join(b, Seq(groupCol))
      .filter(col("__i1") < col("__i2"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"))
      .withColumn("tau_a",
        (col("concordant") - col("discordant")).cast("double") /
          col("n_pairs").cast("double"))
  }

  /** Sampled-pair Kendall τ-a estimator — the scale path past
    * [[kendallTau]]'s quadratic bound: draw exactly `pairsPerGroup` random
    * pairs per group (with replacement, disclosed) via the md5 uniform and
    * average their concordance signs. The draw is fully deterministic:
    * rows are ranked by `md5(seed:id)` within the group, pair t picks
    * positions `i = 1 + md5U32(seed:g:t:a) mod n` and
    * `j0 = 1 + md5U32(seed:g:t:b) mod (n−1)` with `j = j0 + 1` when
    * `j0 ≥ i` — the classic shift trick, so i ≠ j always and both margins
    * are uniform. τ̂ = (C − D) / m is unbiased for τ-a and SQL-replicable
    * (every draw re-derives from md5, the engine-portable uniform — Java
    * `String.hashCode` is NOT uniform, see NOTES).
    *
    * Scale shape: one rank window on the group key, then the draw frame is
    * |groups| · m rows — INDEPENDENT of group size — and each pair resolves
    * through two equi-joins on (group, position). A 10⁹-row group costs the
    * same m joins per group as a 10³-row group; the window pass is the only
    * O(n) term. Groups with n < 2 are skipped (no pairs exist).
    */
  def kendallTauSampled(df: DataFrame, groupCol: String, xCol: String,
                        yCol: String, idCol: String, pairsPerGroup: Int): DataFrame = {
    require(pairsPerGroup >= 1, s"need at least 1 pair, got $pairsPerGroup")
    val wr = Window.partitionBy(col(groupCol))
      .orderBy(md5(concat_ws(":", lit("ktau"), col(idCol).cast("string"))), col(idCol))
    val ranked = df
      .select(col(groupCol), col(xCol), col(yCol), col(idCol))
      .withColumn("__r", row_number().over(wr).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = ranked.groupBy(col(groupCol)).agg(max(col("__r")).as("__n"))
    val draws = counts.filter(col("__n") >= 2)
      .select(col(groupCol), col("__n"),
        explode(sequence(lit(1), lit(pairsPerGroup))).as("__t"))
      .withColumn("__i", lit(1) + pmod(md5U32(concat_ws(":",
        lit("ktau"), col(groupCol).cast("string"), col("__t"), lit("a"))), col("__n")))
      .withColumn("__j0", lit(1) + pmod(md5U32(concat_ws(":",
        lit("ktau"), col(groupCol).cast("string"), col("__t"), lit("b"))), col("__n") - 1))
      .withColumn("__j",
        when(col("__j0") >= col("__i"), col("__j0") + 1).otherwise(col("__j0")))
    val left = ranked.select(col(groupCol), col("__r").as("__i"),
      col(xCol).as("__x1"), col(yCol).as("__y1"))
    val right = ranked.select(col(groupCol), col("__r").as("__j"),
      col(xCol).as("__x2"), col(yCol).as("__y2"))
    val sgn = (col("__x1") - col("__x2")) * (col("__y1") - col("__y2"))
    draws
      .join(left, Seq(groupCol, "__i"))
      .join(right, Seq(groupCol, "__j"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"))
      .withColumn("tau_a_est",
        (col("concordant") - col("discordant")).cast("double") /
          col("n_pairs").cast("double"))
  }

  /** Rolling OLS slope per entity — the windowed trend detector ("is this
    * device's metric drifting, HOW FAST, right now") that a point slope or
    * global regression can't give. x is the within-entity event index
    * (row_number — integer, gap-free), y the integer-scaled metric; over
    * the trailing `window` rows all four sums (Σx, Σy, Σxy, Σx²) are EXACT
    * BIGINTs in one bounded window frame, so each row's slope numerator
    * and denominator are exact longs and the slope is ONE IEEE division —
    * bit-portable per row, no fold anywhere.
    *
    * Range bound: Σxy ≤ window·L·max|y| for entity length L — cent-scaled
    * metrics hold to ~10⁹-row entities; ANSI fails loudly beyond.
    *
    * Scale shape: one shuffle on the entity key, ONE window pass (all
    * sums share the frame), pure projection after. A hot entity
    * serializes its partition — the standard windowed caveat.
    */
  def rollingRegression(df: DataFrame, entityCol: String, orderCols: Seq[String],
                        yCol: Column, window: Int): DataFrame = {
    require(window >= 2 && window <= 4096, s"window must be in [2,4096], got $window")
    val ord = Window.partitionBy(col("entity")).orderBy(orderCols.map(col): _*)
    val frame = ord.rowsBetween(-(window - 1), 0)
    val base = df.select(Seq(col(entityCol).as("entity")) ++ orderCols.map(col) :+
        yCol.cast("long").as("y"): _*)
      .withColumn("pos", row_number().over(ord).cast("long"))
      .withColumn("sy", sum(col("y")).over(frame))
    // x is the CONSECUTIVE index pos-n_w+1..pos, so n_w, Σx and Σx² have
    // closed forms — only Σx·y genuinely needs a second window pass
    // (pos is itself a window output, so its products can't ride the
    // first). Two Window nodes, ONE sort, one exchange.
    val num = col("n_w") * col("sxy") - col("sx") * col("sy")
    val den = col("n_w") * col("sx2") - col("sx") * col("sx")
    base
      .withColumn("n_w", least(col("pos"), lit(window.toLong)))
      .withColumn("sx",
        expr(s"(n_w * (2 * pos - n_w + 1)) div 2"))
      .withColumn("sx2",
        expr("(pos * (pos + 1) * (2 * pos + 1)) div 6") -
          expr("((pos - n_w) * (pos - n_w + 1) * (2 * (pos - n_w) + 1)) div 6"))
      .withColumn("sxy", sum(col("pos") * col("y")).over(frame))
      .withColumn("slope",
        when(col("n_w") > 1 && den =!= 0L,
          num.cast("double") / den.cast("double")))
      .select(col("entity"), col("pos"), col("y"), col("n_w"), col("slope"))
  }

  /** First-order partial correlation r_xy·z — the linear association of x
    * and y with the confounder z regressed out, the "is this feature
    * signal or just a proxy" screen that plain [[regression]]/corr-matrix
    * rows can't answer. All ten moment sums (n, Σx, Σy, Σz, Σx², Σy²,
    * Σz², Σxy, Σxz, Σyz) are exact DECIMAL(38,0) in ONE map-combined
    * aggregate; each pairwise r and the partial itself are single
    * fixed-operand-order IEEE expressions over those exact sums — the
    * statistic is bit-portable, not just its inputs. Inputs are
    * integer-scaled by the caller (cents discipline); DECIMAL(38) holds
    * n·Σxy for cent-scaled pairs up to ~10³⁰ row-value products.
    */
  def partialCorrelation(df: DataFrame, xCol: Column, yCol: Column,
                         zCol: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val agg = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"),
        zCol.cast("long").as("z"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("z"))).as("sz"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("z")) * dec(col("z"))).as("szz"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("z"))).as("sxz"),
        sum(dec(col("y")) * dec(col("z"))).as("syz"))
    val n = col("n")
    def num(sab: String, sa: String, sb: String): Column =
      (dec(n) * col(sab) - col(sa) * col(sb)).cast("double")
    def den(saa: String, sa: String): Column =
      (dec(n) * col(saa) - col(sa) * col(sa)).cast("double")
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String): Column =
      when(den(saa, sa) > lit(0.0) && den(sbb, sb) > lit(0.0),
        num(sab, sa, sb) / sqrt(den(saa, sa) * den(sbb, sb)))
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    val pden = (lit(1.0) - col("r_xz") * col("r_xz")) *
      (lit(1.0) - col("r_yz") * col("r_yz"))
    agg
      .withColumn("r_xy", rxy)
      .withColumn("r_xz", rxz)
      .withColumn("r_yz", ryz)
      .withColumn("r_partial",
        when(col("r_xy").isNotNull && col("r_xz").isNotNull &&
             col("r_yz").isNotNull && pden > lit(0.0),
          (col("r_xy") - col("r_xz") * col("r_yz")) / sqrt(pden)))
      .select(col("n"), col("r_xy"), col("r_xz"), col("r_yz"), col("r_partial"))
  }
}
