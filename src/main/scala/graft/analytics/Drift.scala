package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-sample distribution-drift audit: bucket a numeric column into fixed
  * equi-width bins and compare cohort A against cohort B with per-bucket
  * chi-square contributions — the retrain/rollback tripwire every
  * production training pipeline runs between data drops.
  *
  * Oracle discipline: bucket counts and totals are exact BIGINTs; each
  * bucket's expected counts and chi-square terms are single fixed-
  * operand-order IEEE expressions over those longs, emitted PER BUCKET —
  * a cross-bucket double total would depend on aggregation order, so the
  * (bounded, bucket-count-sized) summation is left to the caller.
  *
  * Scale shape: one map-side-combined aggregate on the bucket key (reduce
  * state ≤ nBuckets rows) plus a broadcast of the one-row totals. A pure
  * scan otherwise.
  */
object Drift {

  /** Per bucket: n_a, n_b (exact), expected counts and chi-square
    * contributions under the homogeneity null. `cohortA` is the boolean
    * split; values clamp into [0, nBuckets) by `bucketWidth`.
    */
  def chi2Buckets(df: DataFrame, valueCol: String, cohortA: Column,
                  bucketWidth: Long, nBuckets: Int): DataFrame = {
    require(bucketWidth > 0 && nBuckets > 0, "bucketWidth/nBuckets must be positive")
    val bucket = least(greatest((col(valueCol).cast("long") / bucketWidth)
      .cast("long"), lit(0L)), lit(nBuckets - 1L)).as("bucket")
    val counts = df.select(bucket, cohortA.as("__a"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"),
      sum(col("n_a") + col("n_b")).as("__n"))
    def term(o: Column, e: Column): Column =
      when(e > 0.0, (o.cast("double") - e) * (o.cast("double") - e) / e)
        .otherwise(0.0)
    counts.crossJoin(broadcast(totals))
      .withColumn("e_a",
        ((col("n_a") + col("n_b")) * col("__ta")).cast("double") /
          col("__n").cast("double"))
      .withColumn("e_b",
        ((col("n_a") + col("n_b")) * col("__tb")).cast("double") /
          col("__n").cast("double"))
      .withColumn("chi2_a", term(col("n_a"), col("e_a")))
      .withColumn("chi2_b", term(col("n_b"), col("e_b")))
      .select(col("bucket"), col("n_a"), col("n_b"), col("e_a"), col("e_b"),
        col("chi2_a"), col("chi2_b"))
  }

  /** One-sided CUSUM change detection per entity — the sequential-analysis
    * tripwire for "this device/user's metric drifted upward": the Page
    * statistic `s_t = max(0, s_{t−1} + x_t − k)` with alarm at `s_t ≥ h`.
    *
    * The recursion LOOKS inherently sequential, but has the exact closed
    * form `s_t = cum_t − least(0, min_{j≤t} cum_j)` over the drift-adjusted
    * cumulative sum `cum_t = Σ_{j≤t}(x_j − k)` — so it is two window
    * passes over the SAME (entity, time) window spec: one running sum, one
    * running min, a single sort per entity partition. All arithmetic is
    * BIGINT on the scaled metric — the statistic, not just its inputs, is
    * exact cross-engine.
    *
    * Scale shape: one shuffle on the entity key; windows never cross
    * entities. A hot entity serializes its own history through one task —
    * the standard windowed caveat; CUSUM histories are naturally bounded
    * per device/user.
    */
  def cusum(df: DataFrame, entityCol: String, orderCols: Seq[String],
            xCol: Column, k: Long, h: Long): DataFrame = {
    require(h > 0, s"alarm threshold h must be positive, got $h")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(entityCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.select(Seq(col(entityCol)) ++ orderCols.map(col) :+
        xCol.cast("long").as("x"): _*)
      .withColumn("__cum", sum(col("x") - lit(k)).over(w))
      .withColumn("cusum",
        col("__cum") - least(lit(0L), min(col("__cum")).over(w)))
      .withColumn("alarm", col("cusum") >= h)
      .drop("__cum")
  }

  /** Two-proportion A/B conversion test: unit-level deterministic hash
    * assignment (`md5U32("ab:<seed>:" || unit) mod 2` — growth-stable, no
    * assignment table to store or join), unit-level conversion = "at least
    * `minSuccesses` success events", pooled two-proportion z statistic.
    *
    * Oracle discipline: n/conversions per arm are exact BIGINTs; rates and
    * the z score are single fixed-operand-order IEEE expressions over those
    * longs (+, −, ×, ÷, √ are all correctly rounded, so the statistic is
    * bit-portable — the chi2Buckets precedent).
    *
    * Scale shape: one map-combined aggregate to unit level (assignment is a
    * pure projection), one 2-row aggregate, then a 1-row wide pivot — the
    * event log is scanned once and never re-shuffled.
    */
  def abTest(events: DataFrame, unitCol: String, success: Column,
             seed: String, minSuccesses: Long): DataFrame = {
    require(minSuccesses >= 1, s"minSuccesses must be >= 1, got $minSuccesses")
    val arm = pmod(graft.functions.Md5Field.md5U32(concat(lit(s"ab:$seed:"),
      col("unit").cast("string"))), lit(2L))
    val units = events
      .select(col(unitCol).as("unit"), success.cast("long").as("__s"))
      .groupBy(col("unit"))
      .agg((sum(col("__s")) >= minSuccesses).cast("long").as("converted"))
      .withColumn("arm", arm)
    val byArm = units.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val wide = byArm.agg(
      sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    // ANSI double division throws on a zero divisor, so every ratio is
    // gated; a degenerate experiment (empty arm, 0% or 100% pooled rate)
    // yields NULL statistics instead of an abort
    val pA = when(col("n_a") > 0,
      col("conv_a").cast("double") / col("n_a").cast("double"))
    val pB = when(col("n_b") > 0,
      col("conv_b").cast("double") / col("n_b").cast("double"))
    val pPool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    wide
      .withColumn("rate_a", pA)
      .withColumn("rate_b", pB)
      .withColumn("z",
        when(col("n_a") > 0 && col("n_b") > 0 &&
             col("conv_a") + col("conv_b") > 0 &&
             col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
          (pA - pB) / se))
  }

  /** Two-proportion sample-size planning from an observed pilot: given
    * unit-level conversion in two cohorts, the per-arm n required to
    * detect the OBSERVED rate difference at significance z_α and power
    * z_β — the "how long must this experiment run" readout next to
    * [[abTest]]'s "is it significant yet". Counts are exact BIGINTs; the
    * classic closed form
    * n = (z_α·√(2p̄(1−p̄)) + z_β·√(p₁(1−p₁)+p₂(1−p₂)))² / (p₁−p₂)² is one
    * fixed-operand-order IEEE expression over them (z constants must be
    * CAST AS DOUBLE in any oracle — bare 1.96 parses as DECIMAL).
    */
  def powerTwoProportions(units: DataFrame, cohortA: Column, converted: Column): DataFrame = {
    val agg = units.select(cohortA.as("__a"), converted.cast("long").as("__c"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), col("__c")).otherwise(0L)).as("conv_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"),
        sum(when(col("__a"), 0L).otherwise(col("__c"))).as("conv_b"))
    val p1 = col("conv_a").cast("double") / col("n_a").cast("double")
    val p2 = col("conv_b").cast("double") / col("n_b").cast("double")
    val pbar = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val num = lit(1.96) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(0.84) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    agg
      .withColumn("rate_a", when(col("n_a") > 0, p1))
      .withColumn("rate_b", when(col("n_b") > 0, p2))
      .withColumn("n_required",
        when(col("n_a") > 0 && col("n_b") > 0 &&
             col("rate_a") =!= col("rate_b"),
          (num * num) / ((p1 - p2) * (p1 - p2))))
  }

  /** Population stability index between cohort A and cohort B over fixed
    * equi-width buckets — the scorecard-monitoring drift number risk teams
    * threshold at 0.1/0.25. Buckets empty on EITHER side are excluded
    * from the sum (the standard no-smoothing convention) and surfaced in
    * `n_skipped_buckets` so a silent support mismatch can't hide. Counts
    * are exact BIGINTs; per-bucket terms are fixed-order IEEE
    * expressions; the fold rides one UNPARTITIONED ordered cumulative
    * over the nBuckets-bounded frame (terms can be negative only in
    * pathological p≈q cases — PSI terms (p−q)ln(p/q) are ≥ 0, so the
    * cumulative's max is the total).
    */
  def psi(df: DataFrame, valueCol: String, cohortA: Column,
          bucketWidth: Long, nBuckets: Int): DataFrame = {
    require(bucketWidth > 0 && nBuckets > 0, "bucketWidth/nBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val bucket = least(greatest((col(valueCol).cast("long") / bucketWidth)
      .cast("long"), lit(0L)), lit(nBuckets - 1L)).as("bucket")
    val counts = df.select(bucket, cohortA.as("__a"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    val p = col("n_a").cast("double") / col("__ta").cast("double")
    val q = col("n_b").cast("double") / col("__tb").cast("double")
    val term = when(col("n_a") > 0 && col("n_b") > 0,
      (p - q) * log(p / q)).otherwise(lit(0.0))
    val skipped = when(col("n_a") === 0 || col("n_b") === 0, 1L).otherwise(0L)
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(totals))
      .withColumn("__c", sum(term).over(w))
      .agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        sum(skipped).as("n_skipped_buckets"), max(col("__c")).as("psi"))
      .withColumn("band",
        when(col("psi") < lit(0.1), "stable")
          .when(col("psi") < lit(0.25), "moderate")
          .otherwise("shifted"))
  }

  /** Bhattacharyya coefficient and Hellinger distance between cohort A's
    * and cohort B's bucketed value distributions — the bounded-metric
    * companion of [[psi]] that stays finite on disjoint support (BC = 0,
    * H = 1) and needs NO log: per-bucket √(p·q) terms use only
    * correctly-rounded IEEE ops (÷, ×, √), so the fold over the
    * nBuckets-bounded unpartitioned frame replays bit-exactly with no
    * quantization. H = √(max(0, 1−BC)) — the clamp guards the
    * Cauchy–Schwarz bound against last-bit overshoot identically on both
    * engines.
    */
  def hellinger(df: DataFrame, valueCol: String, cohortA: Column,
                bucketWidth: Long, nBuckets: Int): DataFrame = {
    require(bucketWidth > 0 && nBuckets > 0, "bucketWidth/nBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val bucket = least(greatest((col(valueCol).cast("long") / bucketWidth)
      .cast("long"), lit(0L)), lit(nBuckets - 1L)).as("bucket")
    val counts = df.select(bucket, cohortA.as("__a"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    val p = col("n_a").cast("double") / col("__ta").cast("double")
    val q = col("n_b").cast("double") / col("__tb").cast("double")
    val term = when(col("n_a") > 0 && col("n_b") > 0, sqrt(p * q))
      .otherwise(lit(0.0))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(totals))
      .withColumn("__c", sum(term).over(w))
      .agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        max(col("__c")).as("bc"))
      .withColumn("hellinger",
        when(col("n_a") > 0 && col("n_b") > 0,
          sqrt(greatest(lit(0.0), lit(1.0) - col("bc")))))
  }

  /** Two-cohort event-rate comparison (Poisson z): exact event counts and
    * exact per-cohort observation spans in epoch micros; rates and the
    * normal-approximation z are fixed-operand-order IEEE expressions over
    * those longs. "Is this event type firing faster than that one per
    * unit of observed time" — the ops-side companion of [[abTest]]'s
    * per-unit conversion view.
    */
  def rateTest(df: DataFrame, cohortA: Column, tsMicros: Column): DataFrame = {
    val agg = df.select(cohortA.as("__a"), tsMicros.cast("long").as("__t"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("k_a"),
        (max(when(col("__a"), col("__t"))) -
          min(when(col("__a"), col("__t")))).as("span_a_us"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("k_b"),
        (max(when(!col("__a"), col("__t"))) -
          min(when(!col("__a"), col("__t")))).as("span_b_us"))
    val ra = col("k_a").cast("double") / col("span_a_us").cast("double")
    val rb = col("k_b").cast("double") / col("span_b_us").cast("double")
    val se = sqrt(col("k_a").cast("double") /
        (col("span_a_us").cast("double") * col("span_a_us").cast("double")) +
      col("k_b").cast("double") /
        (col("span_b_us").cast("double") * col("span_b_us").cast("double")))
    agg
      .withColumn("rate_a_per_us", when(col("span_a_us") > 0, ra))
      .withColumn("rate_b_per_us", when(col("span_b_us") > 0, rb))
      .withColumn("z",
        when(col("span_a_us") > 0 && col("span_b_us") > 0 &&
             col("k_a") + col("k_b") > 0,
          (ra - rb) / se))
  }

  /** Best single changepoint per entity by binary segmentation: the split
    * position maximizing the between-segment sum-of-squares reduction
    * `gain(i) = SS(all) − SS(1..i) − SS(i+1..n)` over the (entity, time)
    * order, with `SS = Σx² − (Σx)²/n` — the first step of the classic
    * binary-segmentation changepoint recursion, which is the step a drift
    * monitor actually alerts on ("WHERE did this entity's metric shift").
    *
    * Oracle discipline: prefix Σx and Σx² are exact DECIMAL(38,0) running
    * sums (never emitted); each row's gain is one fixed-operand-order IEEE
    * expression over those exact prefixes, so the per-row doubles are
    * bit-portable and the argmax (ties → earliest split) is deterministic
    * cross-engine.
    *
    * Scale shape: one shuffle on the entity key; two window passes over
    * the same (entity, time) spec (growing prefix frame + whole-partition
    * totals — never a shrinking frame, the r9 O(n²) trap) and a
    * whole-partition max for the argmax. Output is one row per entity.
    */
  def changepoint(df: DataFrame, entityCol: String, orderCols: Seq[String],
                  centsCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.select(Seq(col(entityCol).as("entity")) ++ orderCols.map(col) :+
      centsCol.cast("long").as("cents"): _*)
    val ord = Window.partitionBy(col("entity")).orderBy(orderCols.map(col): _*)
    val pre = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("entity"))
    def ss(n: Column, sc: Column, q: Column): Column =
      q.cast("double") - (sc.cast("double") * sc.cast("double")) / n.cast("double")
    val scored = base
      .withColumn("pos", row_number().over(ord).cast("long"))
      .withColumn("ps", sum(dec(col("cents"))).over(pre))
      .withColumn("pq", sum(dec(col("cents")) * dec(col("cents"))).over(pre))
      .withColumn("n_u", count(lit(1)).over(all))
      .withColumn("s_u", sum(dec(col("cents"))).over(all))
      .withColumn("q_u", sum(dec(col("cents")) * dec(col("cents"))).over(all))
      .filter(col("n_u") >= 2 && col("pos") < col("n_u"))
      .withColumn("gain",
        ss(col("n_u"), col("s_u"), col("q_u")) -
          ss(col("pos"), col("ps"), col("pq")) -
          ss(col("n_u") - col("pos"), col("s_u") - col("ps"),
            col("q_u") - col("pq")))
    scored
      .withColumn("__mg", max(col("gain")).over(all))
      .filter(col("gain") === col("__mg"))
      .groupBy(col("entity"))
      .agg(max(col("n_u")).as("n"), min(col("pos")).as("split_pos"),
        max(col("__mg")).as("gain"))
  }

  /** Jensen–Shannon divergence between cohort A's and cohort B's value
    * distributions over fixed equi-width buckets — the bounded, symmetric
    * drift metric mixture curation actually thresholds on (χ² is unbounded,
    * KL is asymmetric and infinite on disjoint support; JSD ∈ [0, ln 2]).
    *
    * Oracle discipline: bucket counts are exact BIGINTs; each bucket's
    * ln(p/m) factor is QUANTIZED to the floor-pico-nat grid
    * (⌊ln(p/m)·10¹²⌋, the [[graft.analytics.Inequality.theilDecomposition]]
    * idiom at a finer grid because JSD magnitudes are small) and weighted
    * by the exact bucket count, so the cross-bucket fold is an ORDER-FREE
    * exact DECIMAL sum — no window, no fold-order pin needed. Raw-double
    * folds are unreproducible here twice over: terms p·ln(p/m) are
    * NEGATIVE wherever the other cohort dominates the bucket (Gibbs
    * bounds only the sum, so max-over-cumulative returns the running
    * peak, not the total), and Java Math.log vs libm ln diverge 1 ulp on
    * some arguments. `jsd_bits` divides by ln(2) COMPUTED on each engine
    * (a 0.69… literal would parse as DECIMAL in the oracle and fold
    * differently).
    *
    * Scale shape: one map-side-combined aggregate on the bucket key plus a
    * broadcast of the one-row totals; the fold frame is nBuckets rows.
    */
  def jensenShannon(df: DataFrame, valueCol: String, cohortA: Column,
                    bucketWidth: Long, nBuckets: Int,
                    gridScale: Double = 1e12): DataFrame = {
    require(bucketWidth > 0 && nBuckets > 0, "bucketWidth/nBuckets must be positive")
    require(gridScale > 0, "gridScale must be positive")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val bucket = least(greatest((col(valueCol).cast("long") / bucketWidth)
      .cast("long"), lit(0L)), lit(nBuckets - 1L)).as("bucket")
    val counts = df.select(bucket, cohortA.as("__a"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    val p = col("n_a").cast("double") / col("__ta").cast("double")
    val q = col("n_b").cast("double") / col("__tb").cast("double")
    val m = (p + q) / lit(2.0)
    // n_bucket · ⌊ln(p/m)·gridScale⌋ — exact integers, order-free sum;
    // kl = Σ / (total · gridScale) because p = n_bucket/total factors out.
    // Grid choice: a 1-ulp Java-vs-libm ln divergence flips a floor cell
    // with probability ≈ ulp/cell ≈ 2e-16·gridScale per argument — 1e12
    // is safe for ≤ ~20 ln args (money deciles); WIDE bucket sets
    // (hashed-vocab drift, 256+ buckets) must pass a coarser grid (1e6
    // → flip risk ~1e-10·args) and accept micro-nat resolution.
    val qA = when(col("n_a") > 0,
      dec(col("n_a")) * dec(floor(log(p / m) * lit(gridScale)).cast("long")))
      .otherwise(dec(lit(0L)))
    val qB = when(col("n_b") > 0,
      dec(col("n_b")) * dec(floor(log(q / m) * lit(gridScale)).cast("long")))
      .otherwise(dec(lit(0L)))
    counts.crossJoin(broadcast(totals))
      .agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        sum(qA).as("__qa"), sum(qB).as("__qb"))
      .withColumn("kl_a", when(col("n_a") > 0, col("__qa").cast("double") /
        (col("n_a").cast("double") * lit(gridScale))))
      .withColumn("kl_b", when(col("n_b") > 0, col("__qb").cast("double") /
        (col("n_b").cast("double") * lit(gridScale))))
      .withColumn("jsd_nats",
        when(col("n_a") > 0 && col("n_b") > 0,
          lit(0.5) * col("kl_a") + lit(0.5) * col("kl_b")))
      .withColumn("jsd_bits", col("jsd_nats") / log(lit(2.0)))
      .select(col("n_a"), col("n_b"), col("kl_a"), col("kl_b"),
        col("jsd_nats"), col("jsd_bits"))
  }
}
