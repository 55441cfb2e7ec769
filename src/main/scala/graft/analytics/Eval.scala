package graft.analytics

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact model-evaluation statistics at corpus scale.
  *
  * Every statistic here is a ratio of exact integers assembled in one
  * final fixed-operand-order IEEE division, so the values hash-compare
  * across engines (the chi2Buckets/cuped precedent). The rank-based pair
  * ([[aucExact]], [[ksStatistic]]) shares one plan idea: a cumulative
  * count over *distinct metric values* is needed, and the naive form is a
  * single-task `ORDER BY value` window over every distinct value. Instead
  * the distinct values are histogrammed into width-2048 buckets
  * (two-pass-quantiles style, [[Quantiles]]): the only empty-partition
  * window runs over the metadata-sized bucket frame, and the per-value
  * cumulative runs *partitioned by bucket* — parallel, each partition
  * bounded by the values falling in one bucket. Equality with the naive
  * form is what the oracle rows prove.
  *
  * Scale contract: the bucket count is `(max score − min score) / 2048`,
  * in the thousands for cent-scaled scores (it is a histogram, not a
  * sort). Scores are integer-scaled (cents) on entry, so
  * there is no FP comparison anywhere in rank space.
  */
object Eval {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Canonical plain-digit rendering of an exact wide integer for the
    * emitted (hash-compared) schema: DECIMAL never appears in an output
    * column — the verification driver canonicalizes DECIMAL differently
    * between a Spark parquet and a DuckDB result, so exact wide integers
    * travel as STRING (scale-0 decimal → plain digits, identical on both
    * engines); the DECIMAL(38) math stays internal.
    */
  private def canon(c: Column): Column = c.cast("string")

  /** Exact ROC AUC of `scoreCents` against boolean `label`, tie-aware
    * (average-rank / trapezoid semantics): AUC = (#{pos>neg} + ½#{ties}) /
    * (n₊·n₋). Returned as one row: `n_pos`, `n_neg`, `two_u` (the exact
    * integer 2U = Σ_s p_s·(2·neg_below(s) + n_s), DECIMAL(38) internally,
    * emitted as canonical plain-digit STRING), and `auc` =
    * two_u / (2·n₊·n₋) — a single gated division. Equivalent to the
    * Mann-Whitney U statistic (2U here), so this row doubles as the exact
    * rank-sum test audit.
    */
  def aucExact(df: DataFrame, scoreCents: Column, label: Column): DataFrame = {
    val perVal = df
      .select(scoreCents.cast("long").as("s"), label.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("n"))
      .withColumn("b", expr("s div 2048"))
    val bucketFrame = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketCum = perVal.groupBy(col("b")).agg(sum(col("n")).as("nb"))
      .withColumn("cum_nb", coalesce(sum(col("nb")).over(bucketFrame), lit(0L)))
      .select(col("b"), col("cum_nb"))
    val inBucket = Window.partitionBy(col("b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perVal
      .join(broadcast(bucketCum), Seq("b"))
      .withColumn("neg_below",
        col("cum_nb") + coalesce(sum(col("n")).over(inBucket), lit(0L)))
      .agg(
        sum(col("p")).as("n_pos"),
        sum(col("n")).as("n_neg"),
        sum(dec(col("p")) * (dec(col("neg_below")) * lit(2) + dec(col("n"))))
          .cast("decimal(38,0)").as("two_u"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("two_u").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double"))))
      .withColumn("two_u", canon(col("two_u")))
  }

  /** [[aucExact]] with its DeLong (1988) standard error — the number
    * that turns "model A's AUC is 0.71 vs 0.69" into a defensible
    * decision. The placement components are exact integers on the same
    * bucketed two-level cumulative as [[aucExact]], now run over BOTH
    * class cumulatives: for a positive at score s the scaled placement
    * is w10 = 2·neg_below + neg_at (Σ over positives = the 2U
    * statistic), for a negative w01 = 2·pos_above + pos_at, and the
    * variance needs only their exact weighted sums of squares:
    *
    *   Var(AUC) = [D10/(n₊−1) + D01/(n₋−1)] / (4·n₊²·n₋²),
    *   D10 = n₊·Σp_s·w10² − (2U)²,  D01 = n₋·Σn_s·w01² − (2U01)²
    *
    * — both D's exact DECIMAL(38) internally (emitted as canonical digit
    * strings under the verification hash); the SE is
    * ONE fixed-operand-order IEEE expression with a correctly-rounded
    * sqrt. Same plan shape as [[aucExact]]: the only global window rides
    * the bucket frame. Degenerate classes (n ≤ 1 on either side) gate
    * the SE to NULL.
    */
  def aucDeLong(df: DataFrame, scoreCents: Column, label: Column): DataFrame = {
    // the per-score count frame is value-domain bounded (metadata) and
    // feeds the bucket cumulative, the totals AND the placed join — anchored
    // eagerly, the source aggregates once instead of per consumer
    val perVal = df
      .select(scoreCents.cast("long").as("s"), label.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("n"))
      .withColumn("b", expr("s div 2048"))
      .anchor(Bound.Metadata)
    val bucketFrame = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketCum = perVal.groupBy(col("b"))
      .agg(sum(col("n")).as("nb"), sum(col("p")).as("pb"))
      .withColumn("cum_nb", coalesce(sum(col("nb")).over(bucketFrame), lit(0L)))
      .withColumn("cum_pb", coalesce(sum(col("pb")).over(bucketFrame), lit(0L)))
      .select(col("b"), col("cum_nb"), col("cum_pb"))
    val inBucket = Window.partitionBy(col("b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = broadcast(perVal.agg(
      sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg")))
    val placed = perVal
      .join(broadcast(bucketCum), Seq("b"))
      .withColumn("neg_below",
        col("cum_nb") + coalesce(sum(col("n")).over(inBucket), lit(0L)))
      .withColumn("pos_below",
        col("cum_pb") + coalesce(sum(col("p")).over(inBucket), lit(0L)))
      .crossJoin(totals)
      .withColumn("w10", col("neg_below") * 2 + col("n"))
      .withColumn("w01",
        (col("n_pos") - col("pos_below") - col("p")) * 2 + col("p"))
    val agg = placed.agg(
      max(col("n_pos")).as("n_pos"),
      max(col("n_neg")).as("n_neg"),
      sum(dec(col("p")) * dec(col("w10"))).cast("decimal(38,0)").as("two_u"),
      sum(dec(col("p")) * dec(col("w10")) * dec(col("w10")))
        .cast("decimal(38,0)").as("sum_w10_sq"),
      sum(dec(col("n")) * dec(col("w01"))).cast("decimal(38,0)").as("two_u01"),
      sum(dec(col("n")) * dec(col("w01")) * dec(col("w01")))
        .cast("decimal(38,0)").as("sum_w01_sq"))
    agg
      .withColumn("d10",
        (dec(col("n_pos")) * col("sum_w10_sq") - col("two_u") * col("two_u"))
          .cast("decimal(38,0)"))
      .withColumn("d01",
        (dec(col("n_neg")) * col("sum_w01_sq") - col("two_u01") * col("two_u01"))
          .cast("decimal(38,0)"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("two_u").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double"))))
      .withColumn("se_delong",
        when(col("n_pos") > 1 && col("n_neg") > 1,
          sqrt((col("d10").cast("double") / (col("n_pos") - 1).cast("double") +
            col("d01").cast("double") / (col("n_neg") - 1).cast("double")) /
            (lit(4.0) * col("n_pos").cast("double") * col("n_pos").cast("double") *
              col("n_neg").cast("double") * col("n_neg").cast("double")))))
      .select(col("n_pos"), col("n_neg"),
        canon(col("two_u")).as("two_u"), canon(col("two_u01")).as("two_u01"),
        canon(col("d10")).as("d10"), canon(col("d01")).as("d01"),
        col("auc"), col("se_delong"))
  }

  /** Per-group [[aucExact]] — slice-wise model evaluation (AUC by
    * language, source, cohort): the same tie-aware exact 2U statistic,
    * every stage additionally keyed by `groupCol`. Unlike the global
    * variant, NO stage here is ever global: the bucket-level cumulative
    * window partitions by group (the "single-task window" of the naive
    * form becomes G parallel metadata-sized windows), the in-bucket
    * cumulative partitions by (group, bucket), and the final collapse is
    * a per-group hash aggregate — so adding evaluation slices adds
    * parallelism, not serialization. One row per group.
    */
  def aucExactBy(df: DataFrame, groupCol: Column, scoreCents: Column,
                 label: Column): DataFrame = {
    val perVal = df
      .select(groupCol.as("g"), scoreCents.cast("long").as("s"),
        label.cast("long").as("y"))
      .groupBy(col("g"), col("s"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("n"))
      .withColumn("b", expr("s div 2048"))
    val bucketFrame = Window.partitionBy(col("g")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketCum = perVal.groupBy(col("g"), col("b")).agg(sum(col("n")).as("nb"))
      .withColumn("cum_nb", coalesce(sum(col("nb")).over(bucketFrame), lit(0L)))
      .select(col("g"), col("b"), col("cum_nb"))
    val inBucket = Window.partitionBy(col("g"), col("b")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perVal
      .join(broadcast(bucketCum), Seq("g", "b"))
      .withColumn("neg_below",
        col("cum_nb") + coalesce(sum(col("n")).over(inBucket), lit(0L)))
      .groupBy(col("g"))
      .agg(
        sum(col("p")).as("n_pos"),
        sum(col("n")).as("n_neg"),
        sum(dec(col("p")) * (dec(col("neg_below")) * lit(2) + dec(col("n"))))
          .cast("decimal(38,0)").as("two_u"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("two_u").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double"))))
      .withColumn("two_u", canon(col("two_u")))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the `inA` and
    * `inB` populations of `valueCents`: D = max_v |F_A(v) − F_B(v)|,
    * computed as the exact integer numerator max_v |cumA(v)·n_B −
    * cumB(v)·n_A| (inclusive CDF at each distinct value) over the same
    * bucketed two-level cumulative as [[aucExact]]. One row: `n_a`, `n_b`,
    * `d_num` (exact integer, emitted as canonical digit string), `d` =
    * d_num/(n_a·n_b).
    */
  def ksStatistic(df: DataFrame, valueCents: Column, inA: Column, inB: Column): DataFrame = {
    val perVal = df
      .select(valueCents.cast("long").as("s"),
        inA.cast("long").as("a0"), inB.cast("long").as("b0"))
      // a NULL score would form its own ECDF row and sort NULLS FIRST in
      // Spark, NULLS LAST in a SQL mirror — drop it (mannWhitney discipline)
      .filter(col("s").isNotNull)
      .groupBy(col("s"))
      .agg(sum(col("a0")).as("a"), sum(col("b0")).as("b"))
      .withColumn("bk", expr("s div 2048"))
    val bucketFrame = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketCum = perVal.groupBy(col("bk"))
      .agg(sum(col("a")).as("ab"), sum(col("b")).as("bb"))
      .withColumn("cum_ab", coalesce(sum(col("ab")).over(bucketFrame), lit(0L)))
      .withColumn("cum_bb", coalesce(sum(col("bb")).over(bucketFrame), lit(0L)))
      .select(col("bk"), col("cum_ab"), col("cum_bb"))
    val inBucket = Window.partitionBy(col("bk")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = perVal.agg(sum(col("a")).as("n_a"), sum(col("b")).as("n_b"))
    perVal
      .join(broadcast(bucketCum), Seq("bk"))
      .withColumn("ca", col("cum_ab") + sum(col("a")).over(inBucket))
      .withColumn("cb", col("cum_bb") + sum(col("b")).over(inBucket))
      .crossJoin(broadcast(totals))
      .agg(
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        max(abs(dec(col("ca")) * dec(col("n_b")) - dec(col("cb")) * dec(col("n_a"))))
          .cast("decimal(38,0)").as("d_num"))
      .withColumn("d",
        when(col("n_a") > 0 && col("n_b") > 0,
          col("d_num").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))))
      .withColumn("d_num", canon(col("d_num")))
  }

  /** Multi-class classification report from (truth, pred) pairs: per-class
    * tp/fp/fn plus precision, recall and F1 — each metric ONE gated
    * division of exact longs (F1 in the algebraically-reduced single-
    * division form 2·tp/(2·tp+fp+fn), so no compound rounding). The
    * confusion matrix is class²-bounded: one shuffle to build it,
    * everything downstream metadata-sized.
    */
  def classificationReport(df: DataFrame, truth: Column, pred: Column): DataFrame =
    classificationReportFromConfusion(
      df.groupBy(truth.as("truth"), pred.as("pred")).agg(count(lit(1)).as("c")))

  /** [[classificationReport]] from an already-materialized confusion
    * matrix `cm(truth, pred, c)` — the entry point for INCREMENTALLY
    * MAINTAINED matrices: confusion counts are add-mergeable, so a
    * streaming aggregation or a CDC delta fold can keep `cm` live and
    * derive the report from the class²-bounded state at any time.
    */
  def classificationReportFromConfusion(cm: DataFrame): DataFrame = {
    val byTruth = cm.groupBy(col("truth").as("cls")).agg(sum(col("c")).as("t_cnt"))
    val byPred = cm.groupBy(col("pred").as("cls")).agg(sum(col("c")).as("p_cnt"))
    val diag = cm.filter(col("truth") === col("pred"))
      .select(col("truth").as("cls"), col("c").as("tp0"))
    byTruth.join(byPred, Seq("cls"), "full_outer")
      .join(diag, Seq("cls"), "left_outer")
      .select(
        col("cls"),
        coalesce(col("tp0"), lit(0L)).as("tp"),
        (coalesce(col("p_cnt"), lit(0L)) - coalesce(col("tp0"), lit(0L))).as("fp"),
        (coalesce(col("t_cnt"), lit(0L)) - coalesce(col("tp0"), lit(0L))).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
      .withColumn("f1",
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          (col("tp") * 2).cast("double") /
            (col("tp") * 2 + col("fp") + col("fn")).cast("double")))
  }

  /** Cutoff rank of [[mrrAtK]] and [[ndcgAtK]]. */
  private val AtK = 10

  /** Retrieval evaluation at k = [[AtK]] on the integer grid: hit-rate@k and MRR@k
    * per the [[ndcgDiscounts]] discipline — reciprocal ranks are the
    * fixed integers round(2^20 / rank), so the MRR numerator is an
    * ORDER-FREE exact BIGINT sum over groups and MRR itself ONE gated
    * division by n·2^20 (a float Σ1/rank would depend on aggregation
    * order). One rank window per group + two aggregates. Groups with no
    * relevant item in the top k contribute 0 to the numerator.
    */
  /** Integer reciprocal-rank grid for [[mrrAtK]] — round(2^20 / rank). */
  def mrrGrid(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(math.pow(2, 20) / i))

  def mrrAtK(df: DataFrame, group: Column, score: Column, tie: Column,
             relevant: Column): DataFrame = {
    val gridArr = array(mrrGrid(AtK).map(lit(_)): _*)
    val byScore = Window.partitionBy(col("g")).orderBy(col("s").desc, col("t"))
    val perGroup = df
      .select(group.as("g"), score.as("s"), tie.as("t"),
        relevant.cast("boolean").as("rel"))
      .withColumn("rk", row_number().over(byScore))
      .filter(col("rk") <= AtK)
      .groupBy(col("g"))
      .agg(min(when(col("rel"), col("rk"))).as("first_rel"))
    perGroup.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("first_rel").isNotNull, 1L).otherwise(0L)).as("hits"),
        // explicit isNotNull gate: element_at(arr, NULL) inside this
        // aggregate shape leaks the LAST array element instead of NULL
        // (observed on Spark 4.1 — coalesce alone silently credited every
        // miss with grid(k); caught by the oracle hash)
        sum(when(col("first_rel").isNotNull,
            element_at(gridArr, col("first_rel").cast("int")))
          .otherwise(lit(0L))).as("rr_sum_scaled"))
      .withColumn("hit_rate",
        when(col("n_groups") > 0,
          col("hits").cast("double") / col("n_groups").cast("double")))
      .withColumn("mrr",
        when(col("n_groups") > 0,
          col("rr_sum_scaled").cast("double") /
            (col("n_groups") * 1048576L).cast("double")))
  }

  /** Per-group binomial proportion with a Wilson score interval — the
    * slice-wise conversion/defect-rate report that stays valid at small
    * n (the normal interval collapses or exits [0,1] exactly where
    * slicing makes groups thin). Counts are exact longs; p̂ and the
    * Wilson bounds are fixed-operand-order IEEE expressions over them
    * (sqrt is correctly rounded), with z = 1.96 interpolated as one double
    * literal into both engines. One map-combined aggregate, one
    * projection; n = 0 gates to NULL.
    */
  def wilsonProportions(df: DataFrame, group: Column, success: Column): DataFrame = {
    val zc = lit(1.96)
    df.select(group.as("g"), success.cast("long").as("y"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("successes"))
      .withColumn("p_hat",
        when(col("n") > 0,
          col("successes").cast("double") / col("n").cast("double")))
      .withColumn("wilson_lo", {
        val n = col("n").cast("double")
        val p = col("p_hat")
        when(col("n") > 0,
          (p + zc * zc / (lit(2.0) * n) -
            zc * sqrt(p * (lit(1.0) - p) / n +
              zc * zc / (lit(4.0) * n * n))) /
            (lit(1.0) + zc * zc / n))
      })
      .withColumn("wilson_hi", {
        val n = col("n").cast("double")
        val p = col("p_hat")
        when(col("n") > 0,
          (p + zc * zc / (lit(2.0) * n) +
            zc * sqrt(p * (lit(1.0) - p) / n +
              zc * zc / (lit(4.0) * n * n))) /
            (lit(1.0) + zc * zc / n))
      })
  }

  /** Regression evaluation from exact integer moments: MAE, MSE, RMSE and
    * R² of integer-scaled predictions against actuals, one row. Σ|e|, Σe²,
    * Σy, Σy² are exact BIGINT/DECIMAL(38) sums; MAE/MSE are single gated
    * divisions, RMSE is the correctly-rounded IEEE sqrt of MSE, and R² is
    * the cross-multiplied 1 − n·Σe² / (n·Σy² − (Σy)²) — no mean is ever
    * materialized, so the whole report is one map-combined aggregate.
    */
  def regressionReport(df: DataFrame, actualCents: Column,
                       predCents: Column): DataFrame = {
    val base = df.select(actualCents.cast("long").as("y"),
      predCents.cast("long").as("p"))
      .withColumn("e", col("p") - col("y"))
    base.agg(
        count(lit(1)).as("n"),
        sum(abs(col("e"))).as("sae"),
        sum(dec(col("e")) * dec(col("e"))).cast("decimal(38,0)").as("sse"),
        sum(col("y")).as("sy"),
        sum(dec(col("y")) * dec(col("y"))).cast("decimal(38,0)").as("syy"))
      .withColumn("mae",
        when(col("n") > 0, col("sae").cast("double") / col("n").cast("double")))
      .withColumn("mse",
        when(col("n") > 0, col("sse").cast("double") / col("n").cast("double")))
      .withColumn("rmse", sqrt(col("mse")))
      .withColumn("r2", {
        val sstot = dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy"))
        when(sstot > 0,
          lit(1.0) - (dec(col("n")) * col("sse")).cast("double") /
            sstot.cast("double"))
      })
      .withColumn("sse", canon(col("sse")))
      .withColumn("syy", canon(col("syy")))
  }

  /** Probability-calibration audit on the permille grid: reliability bins
    * plus per-bin and pooled Brier scores. `probPermille` is the model's
    * predicted probability ×1000 as an integer (the repo's cent-scaling
    * discipline applied to probabilities), so the squared error
    * (p − 1000·y)² is an exact BIGINT and every emitted score is ONE
    * gated division by n·10⁶. One map-combined aggregate to ≤ 11 rows
    * (10 bins plus the pooled row); the pooled row rides a
    * grouping-sets-free union of one more aggregate over the same
    * shuffle-reduced frame.
    */
  def brierReliability(df: DataFrame, probPermille: Column, label: Column): DataFrame = {
    val base = df.select(probPermille.cast("long").as("p"),
      label.cast("long").as("y"))
      .select(col("p"), col("y"),
        // clamp to [0, 9]: a permille outside the contract's [0,1000]
        // grid mis-bins into the edge bin instead of colliding with the
        // bin = -1 pooled-row sentinel
        greatest(lit(0L),
          least(expr("p div 100"), lit(9L))).as("bin"),
        ((col("p") - col("y") * 1000) * (col("p") - col("y") * 1000))
          .as("__se"))
    val perBin = base.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"),
        sum(col("y")).as("sum_y"), sum(col("__se")).as("se_num"))
    val pooled = perBin.agg(lit(-1L).as("bin"), sum(col("n")).as("n"),
      sum(col("sum_p")).as("sum_p"), sum(col("sum_y")).as("sum_y"),
      sum(col("se_num")).as("se_num"))
    perBin.unionByName(pooled)
      .withColumn("avg_p",
        when(col("n") > 0, col("sum_p").cast("double") / col("n").cast("double")))
      .withColumn("frac_pos",
        when(col("n") > 0,
          (col("sum_y") * 1000).cast("double") / col("n").cast("double")))
      .withColumn("brier",
        when(col("n") > 0,
          col("se_num").cast("double") / (col("n") * 1000000L).cast("double")))
      .orderBy(col("bin"))
  }

  /** Integer-grid discount table for [[ndcgAtK]]: round(2^20 / log2(i+1))
    * for ranks 1..k — fixed integers computed once driver-side, so the
    * DCG sum is an ORDER-FREE exact BIGINT (a float discount chain would
    * make the per-group sum depend on aggregation order). Relative
    * quantization error < 1e-6 — far below any ranking decision.
    */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(math.pow(2, 20) / (math.log(i + 1) / math.log(2))))

  /** NDCG@k per group, k = [[AtK]]: graded relevance `rel`, system order by (`score`
    * desc, `tie`), ideal order by (`rel` desc, `tie`). DCG and IDCG are
    * exact BIGINTs on the [[ndcgDiscounts]] integer grid; NDCG is ONE
    * gated division. Both rank windows share the group partition key —
    * one shuffle, two in-partition sorts. Groups whose top-k is all
    * zero-relevance gate to NULL.
    */
  def ndcgAtK(df: DataFrame, group: Column, score: Column, tie: Column,
              rel: Column): DataFrame = {
    val dArr = array(ndcgDiscounts(AtK).map(lit(_)): _*)
    val base = df.select(group.as("g"), score.as("s"), tie.as("t"),
      rel.cast("long").as("r"))
    val byScore = Window.partitionBy(col("g")).orderBy(col("s").desc, col("t"))
    val byRel = Window.partitionBy(col("g")).orderBy(col("r").desc, col("t"))
    base
      .withColumn("rk", row_number().over(byScore))
      .withColumn("irk", row_number().over(byRel))
      .groupBy(col("g"))
      .agg(
        coalesce(sum(when(col("rk") <= AtK,
          col("r") * element_at(dArr, col("rk").cast("int")))), lit(0L))
          .as("dcg_scaled"),
        coalesce(sum(when(col("irk") <= AtK,
          col("r") * element_at(dArr, col("irk").cast("int")))), lit(0L))
          .as("idcg_scaled"))
      .withColumn("ndcg",
        when(col("idcg_scaled") > 0,
          col("dcg_scaled").cast("double") / col("idcg_scaled").cast("double")))
  }

  /** Exact Gini coefficient of a per-key integer quantity (inequality /
    * concentration audit — spend, tokens, traffic). `perKey` must carry
    * one row per key with `centsCol`; ranks come from the scale-safe
    * [[graft.ops.StableIds]] range-partition path (the naive global
    * `row_number` is the oracle), tie order irrelevant: Σ(2i−n−1)x is
    * invariant to permutations within equal-x runs. One row: `n`,
    * `sum_cents`, `gini_num` = 2·Σi·xᵢ − (n+1)·Σx (exact, emitted as
    * canonical digit string) and
    * `gini` = gini_num/(n·Σx), one gated division.
    */
  def giniCoefficient(perKey: DataFrame, keyCol: String, centsCol: String): DataFrame = {
    val ranked = graft.ops.StableIds.withStableIds(
      perKey.select(col(centsCol).cast("long").as("x"), col(keyCol)),
      Seq("x", keyCol))
    ranked
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sum_cents"),
        sum(dec(col("stable_id") + 1) * dec(col("x")))
          .cast("decimal(38,0)").as("s1"))
      .select(
        col("n"), col("sum_cents"),
        canon((dec(col("s1")) * lit(2) - (dec(col("n")) + lit(1)) * dec(col("sum_cents")))
          .cast("decimal(38,0)")).as("gini_num"),
        when(col("n") > 0 && col("sum_cents") > 0,
          (dec(col("s1")) * lit(2) - (dec(col("n")) + lit(1)) * dec(col("sum_cents")))
            .cast("double") /
            (col("n").cast("double") * col("sum_cents").cast("double"))).as("gini"))
  }

  /** Binary-classifier diagnostics beyond precision/recall: the full
    * confusion cell counts plus Matthews correlation (the single number
    * robust to class imbalance — chance = 0, perfect = 1, inverted = −1),
    * balanced accuracy (mean of TPR and TNR) and Youden's J
    * (TPR + TNR − 1, the optimal-threshold objective). One map-combined
    * aggregate to ONE row; every emitted statistic is a fixed-operand-order
    * IEEE expression over the four exact cell counts (the MCC numerator
    * and the four marginal products run in DECIMAL(38) internally — cell
    * products overflow BIGINT at corpus scale).
    */
  def binaryDiagnostics(df: DataFrame, label: Column, pred: Column): DataFrame = {
    val base = df.select(label.cast("long").as("y"), pred.cast("long").as("p"))
    base
      .agg(
        sum(col("y") * col("p")).as("tp"),
        sum((lit(1L) - col("y")) * col("p")).as("fp"),
        sum(col("y") * (lit(1L) - col("p"))).as("fn"),
        sum((lit(1L) - col("y")) * (lit(1L) - col("p"))).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when((col("tp") + col("fp")) > 0 && (col("tp") + col("fn")) > 0 &&
             (col("tn") + col("fp")) > 0 && (col("tn") + col("fn")) > 0,
          (dec(col("tp")) * dec(col("tn")) - dec(col("fp")) * dec(col("fn")))
            .cast("double") /
            // marginal product as a left-assoc DOUBLE chain: the exact
            // 4-way integer product overflows DECIMAL(38)/HUGEINT beyond
            // ~1e9 rows per cell; the double chain is deterministic IEEE
            // and replayed identically by the oracle
            sqrt((col("tp") + col("fp")).cast("double") *
              (col("tp") + col("fn")).cast("double") *
              (col("tn") + col("fp")).cast("double") *
              (col("tn") + col("fn")).cast("double"))).as("mcc"),
        when((col("tp") + col("fn")) > 0 && (col("tn") + col("fp")) > 0,
          (col("tp").cast("double") / (col("tp") + col("fn")).cast("double") +
            col("tn").cast("double") / (col("tn") + col("fp")).cast("double")) /
            lit(2.0)).as("balanced_acc"),
        when((col("tp") + col("fn")) > 0 && (col("tn") + col("fp")) > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double") +
            col("tn").cast("double") / (col("tn") + col("fp")).cast("double") -
            lit(1.0)).as("youden_j"))
  }

  /** Expected calibration error on the permille grid — the headline
    * calibration number [[brierReliability]]'s bin table feeds in practice,
    * computed EXACTLY: over equal-width probability bins,
    * ECE = Σ_b (n_b/n)·|acc_b − conf_b| telescopes to the single exact
    * integer numerator Σ_b |1000·Σy_b − Σp_b| over 1000·n (per-bin counts
    * and permille sums are exact BIGINTs, the absolute difference is
    * integer, and the bin weights cancel the per-bin denominators), so the
    * emitted `ece` is ONE division. One map-combined aggregate to ≤ bins
    * rows, one metadata-sized fold.
    */
  def expectedCalibrationError(df: DataFrame, probPermille: Column,
                               label: Column): DataFrame = {
    val base = df.select(probPermille.cast("long").as("p"),
      label.cast("long").as("y"))
      .select(col("p"), col("y"),
        greatest(lit(0L),
          least(expr("p div 100"), lit(9L))).as("bin"))
    base.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("sum_y"),
        sum(col("p")).as("sum_p"))
      .agg(
        sum(col("n_b")).as("n"),
        count(lit(1)).as("n_bins_used"),
        sum(abs(col("sum_y") * lit(1000L) - col("sum_p"))).as("ece_num"))
      .withColumn("ece",
        when(col("n") > 0,
          col("ece_num").cast("double") / (col("n") * lit(1000L)).cast("double")))
  }

  /** Average precision (the PR-AUC summary — the imbalanced-class
    * companion of [[aucExact]]: ROC-AUC stays rosy when negatives dwarf
    * positives; AP collapses with precision). Tie-aware group-inclusive
    * definition: over distinct scores s in DESCENDING order,
    * AP = (1/P)·Σ_s p_s · prec(s), where prec(s) = tp_cum/(tp_cum+fp_cum)
    * is the precision of the cut that keeps everything scoring ≥ s
    * (ties enter together — disclosed semantics, the sklearn step-wise
    * variant without interpolation).
    *
    * Plan shape: the same bucketed two-level cumulative as [[aucExact]]
    * (bucket frame = the ONLY global window, in-bucket cumulatives
    * partitioned by bucket), plus the [[ndcgDiscounts]] integer-grid
    * discipline for the fold: per-value precisions are quantized to
    * round(2³⁰·prec) — ONE fixed-order division per distinct score — so
    * Σ p_s·prec_grid is an ORDER-FREE exact DECIMAL(38) sum (a raw double
    * fold would be aggregation-order-dependent and engine-divergent under
    * windowed summation). Relative quantization error < 1e-9, far below
    * any ranking decision; `ap_num` ships as a canonical digit string,
    * `average_precision` is one final division.
    */
  def averagePrecision(df: DataFrame, scoreCents: Column, label: Column): DataFrame = {
    val grid = 1073741824.0 // 2^30
    val perVal = df
      .select(scoreCents.cast("long").as("s"), label.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("n"))
      .withColumn("b", expr("s div 2048"))
    // descending cumulative: buckets above b, then in-bucket values above s
    val bucketFrame = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketCum = perVal.groupBy(col("b"))
      .agg(sum(col("p")).as("pb"), sum(col("n")).as("nb"))
      .withColumn("cum_pb", coalesce(sum(col("pb")).over(bucketFrame), lit(0L)))
      .withColumn("cum_nb", coalesce(sum(col("nb")).over(bucketFrame), lit(0L)))
      .select(col("b"), col("cum_pb"), col("cum_nb"))
    val inBucket = Window.partitionBy(col("b")).orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = broadcast(perVal.agg(
      sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg")))
    perVal
      .join(broadcast(bucketCum), Seq("b"))
      .withColumn("tp_cum", col("cum_pb") + sum(col("p")).over(inBucket))
      .withColumn("fp_cum", col("cum_nb") + sum(col("n")).over(inBucket))
      .withColumn("prec_grid",
        round(lit(grid) * col("tp_cum").cast("double") /
          (col("tp_cum") + col("fp_cum")).cast("double"), 0).cast("long"))
      .agg(sum(dec(col("p")) * dec(col("prec_grid")))
        .cast("decimal(38,0)").as("ap_num"))
      .crossJoin(totals)
      .select(col("n_pos"), col("n_neg"), canon(col("ap_num")).as("ap_num"),
        when(col("n_pos") > 0,
          col("ap_num").cast("double") / (lit(grid) * col("n_pos").cast("double")))
          .as("average_precision"))
  }

  /** Confident-learning label-error audit (Northcutt et al. 2021, the
    * binary joint estimate): flag examples whose model confidence
    * contradicts their (possibly noisy) label — the triage list every
    * labeled-data pipeline runs before retraining on its own mistakes.
    * Class thresholds are the per-class mean confidences; an example
    * labeled 0 but with P(1) above class 1's threshold is a suspected
    * missing positive (`c01`), and vice versa (`c10`). All comparisons are
    * CROSS-MULTIPLIED exact integers (p·n₁ ≥ Σp₁ instead of p ≥ Σp₁/n₁ —
    * the mean never materializes as a float), so the suspect counts are
    * exact; `suspect_rate` is ONE gated division. Two map-combined
    * aggregates with the 1-row threshold frame broadcast back — the fact
    * table never re-shuffles.
    */
  def confidentLabelErrors(df: DataFrame, probPermille: Column,
                           label: Column): DataFrame = {
    val base = df.select(probPermille.cast("long").as("p"),
      label.cast("long").as("y"))
    val th = broadcast(base.agg(
      sum(col("y")).as("n1"),
      (count(lit(1)) - sum(col("y"))).as("n0"),
      sum(col("y") * col("p")).as("sum_p1"),
      sum((lit(1L) - col("y")) * (lit(1000L) - col("p"))).as("sum_q0")))
    base.crossJoin(th)
      .agg(
        count(lit(1)).as("n"),
        max(col("n1")).as("n1"),
        max(col("n0")).as("n0"),
        max(col("sum_p1")).as("sum_p1"),
        max(col("sum_q0")).as("sum_q0"),
        sum(when(col("y") === 0 && col("n1") > 0 &&
          col("p") * col("n1") >= col("sum_p1"), 1L).otherwise(0L)).as("c01"),
        sum(when(col("y") === 1 && col("n0") > 0 &&
          (lit(1000L) - col("p")) * col("n0") >= col("sum_q0"), 1L)
          .otherwise(0L)).as("c10"))
      .withColumn("suspect_rate",
        when(col("n") > 0,
          (col("c01") + col("c10")).cast("double") / col("n").cast("double")))
  }

  /** Two-sample standardized mean difference (Cohen's d with the pooled
    * variance) of an integer-scaled metric between `inTreat` rows and the
    * rest — the effect-size companion of the A/B z-test (significance says
    * "real", d says "big enough to matter") and the covariate-balance
    * check of matched-pair analyses. One map-combined aggregate; means and
    * the pooled SD are fixed-operand-order IEEE expressions over exact
    * sums (Σx, Σx² run in DECIMAL(38) internally and the sums of squares
    * ship as canonical digit strings). Degenerate groups (n ≤ 1 either
    * side, zero pooled variance) gate to NULL.
    */
  def cohensD(df: DataFrame, valueCents: Column, inTreat: Column): DataFrame = {
    val base = df.select(valueCents.cast("long").as("x"),
      inTreat.cast("long").as("t"))
    val agg = base.agg(
      sum(col("t")).as("n1"),
      (count(lit(1)) - sum(col("t"))).as("n0"),
      sum(col("t") * col("x")).as("sum1"),
      sum((lit(1L) - col("t")) * col("x")).as("sum0"),
      sum(dec(col("t")) * dec(col("x")) * dec(col("x")))
        .cast("decimal(38,0)").as("ss1"),
      sum(dec(lit(1L) - col("t")) * dec(col("x")) * dec(col("x")))
        .cast("decimal(38,0)").as("ss0"))
    agg
      .withColumn("d", {
        val n1 = col("n1").cast("double"); val n0 = col("n0").cast("double")
        // (n−1)·s² = Σx² − (Σx)²/n, assembled exactly then divided once:
        // css = (n·Σx² − (Σx)²) / n in DECIMAL → double
        val css1 = (dec(col("n1")) * col("ss1") - dec(col("sum1")) * dec(col("sum1")))
          .cast("double") / n1
        val css0 = (dec(col("n0")) * col("ss0") - dec(col("sum0")) * dec(col("sum0")))
          .cast("double") / n0
        val sp = sqrt((css1 + css0) / (n1 + n0 - lit(2.0)))
        when(col("n1") > 1 && col("n0") > 1 && sp > 0.0,
          (col("sum1").cast("double") / n1 - col("sum0").cast("double") / n0) / sp)
      })
      .select(col("n1"), col("n0"), col("sum1"), col("sum0"),
        canon(col("ss1")).as("ss1"), canon(col("ss0")).as("ss0"), col("d"))
  }

  /** Most ratings one item may carry in [[krippendorffAlpha]]. */
  private val MaxRaters = 4

  /** Krippendorff's alpha (nominal) over multi-rater item labels — the
    * agreement readout that, unlike Fleiss kappa, tolerates VARYING rater
    * counts per item (the real shape of crowd/LLM-judge labeling runs).
    * Exactness: the coincidence diagonal o_cc = Sigma_i n_ic(n_ic-1)/(m_i-1)
    * mixes per-item denominators, so every term is scaled by
    * `scale` = lcm(1..MaxRaters-1) = 6 - (m_i-1) divides it, making
    * n_ic(n_ic-1)*(scale div (m_i-1)) an EXACT integer - and
    * alpha = 1 - (n-1)*(scale*n - Sigma o_scaled) / (scale*(n^2 - Sigma n_c^2))
    * is one division of exact DECIMAL products. The per-item rater cap
    * ([[MaxRaters]]) is ENFORCED in-plan (raise_error); items with one rating drop (nothing
    * pairable). One row: `n_ratings`, `n_items`, `n_categories`,
    * `do_num`/`de_num` (canonical strings), `alpha`.
    */
  def krippendorffAlpha(df: DataFrame, itemCol: Column, ratingCol: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val scale = 6L // lcm(1..MaxRaters-1)
    // the (item, category) count frame is ≤ items × categories rows and
    // feeds its own m_i self-join; withM feeds the o_diag aggregate AND the
    // category marginal — anchored eagerly, the source derives once instead
    // of four times (the cap's raise_error now fires at construction, same
    // fail-loud contract)
    val ic = df.select(itemCol.cast("string").as("item"),
        ratingCol.cast("string").as("c"))
      .groupBy(col("item"), col("c")).agg(count(lit(1)).as("n_ic"))
      .anchor(Bound.Metadata)
    val withM = ic.join(
      ic.groupBy(col("item")).agg(sum(col("n_ic")).as("m_i")), Seq("item"))
      .filter(col("m_i") >= 2)
      .filter(col("m_i") <= MaxRaters ||
        raise_error(concat(lit("krippendorffAlpha: item "), col("item"),
          lit(s" has "), col("m_i").cast("string"),
          lit(s" ratings, over the cap of $MaxRaters raters per item " +
            "(scale = lcm(1..MaxRaters-1) must stay integral)"))).cast("boolean"))
      .anchor(Bound.Metadata)
    // scale div (m_i-1) is exact BY CONSTRUCTION (lcm divisibility);
    // `div`, not `/` - Column./ is double division
    val oScaled = col("n_ic") * (col("n_ic") - lit(1L)) *
      expr(s"$scale div (m_i - 1)")
    val agg = withM.agg(
      sum(col("n_ic")).as("n"),
      count_distinct(col("item")).as("n_items"),
      count_distinct(col("c")).as("n_categories"),
      sum(dec(oScaled)).as("o_diag"))
    val marg = withM.groupBy(col("c")).agg(sum(col("n_ic")).as("n_c"))
      .agg(sum(dec(col("n_c")) * dec(col("n_c"))).as("sum_nc2"))
    val doNum = dec(col("n")) * dec(lit(scale)) - col("o_diag")
    val deNum = dec(lit(scale)) *
      (dec(col("n")) * dec(col("n")) - col("sum_nc2"))
    agg.crossJoin(broadcast(marg))
      .withColumn("__do", doNum)
      .withColumn("__de", deNum)
      .select(col("n").as("n_ratings"), col("n_items"), col("n_categories"),
        col("__do").cast("string").as("do_num"),
        col("__de").cast("string").as("de_num"),
        when(col("__de") > 0,
          lit(1.0) - ((col("n") - lit(1L)).cast("double") *
            col("__do").cast("double")) / col("__de").cast("double"))
          .as("alpha"))
  }
}
