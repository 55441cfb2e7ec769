package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixing.
  *
  * `sample(fraction)` is neither exact-count nor stable across reruns and
  * partitionings; dataset curation wants "exactly n documents per stratum,
  * reproducibly". Hash-ordering (`md5(id)`) gives a fixed pseudo-random
  * permutation per stratum — same inputs, same sample, on any cluster.
  *
  * Scale shape: one shuffle on the stratum; the `row_number ≤ n` filter
  * triggers Spark's `WindowGroupLimit` rewrite (asserted in SamplingSpec),
  * so each map task forwards only its local top-n per stratum — a hot
  * stratum never materializes, let alone sorts, all of its rows in one
  * partition.
  */
object Sampling {

  /** Exactly `min(n, |stratum|)` rows per stratum, hash-selected. `id` must
    * be unique (it both seeds the permutation and breaks ties).
    */
  def stratifiedSample(df: DataFrame, stratum: Column, n: Int, id: Column): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(md5(id.cast("string")), id)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** The Efraimidis–Spirakis (A-ES) sampling key `u^(1/w)`: the `n` largest
    * keys are an exact weighted-without-replacement sample (a row's inclusion
    * probability is proportional to its weight at every step). The uniform
    * `u ∈ (0,1)` is *deterministic*: the first 8 hex chars of
    * `md5("aes" || id)` as a 32-bit integer, then `(h + 0.5) / 2^32` — same
    * md5-permutation discipline as [[stratifiedSample]], same sample on any
    * cluster/partitioning/rerun. (Java
    * `String.hashCode` is NOT usable here: it is monotonic in trailing
    * digits of equal-length keys, which would silently turn the draw into
    * "highest ids win".) Weights must be strictly positive.
    */
  private def aesKey(id: Column, weight: Column): Column = {
    val h = graft.functions.Md5Field.md5U32(
      concat(lit("aes"), id.cast("string")))
    // (h + 0.5) / 2^32 is exact in double (division by a power of two). The
    // A-ES key u^(1/w) is ranked in the log domain — ln(u)/w orders
    // identically (ln is monotone, w > 0) but needs ONE transcendental where
    // pow = exp(ln(u)/w) needs two, halving the cross-engine ulp surface (no
    // transcendental-free formulation of weighted A-ES exists). The oracle
    // computes the same ln(u)/w expression; a set flip would still need two
    // rows' keys within an ulp of each other exactly at the top-n cutoff.
    log((h.cast("double") + 0.5) / 4294967296.0) / weight.cast("double")
  }

  /** Weighted reservoir sample (A-ES): the global top-`n` rows by sampling
    * key. Plans as `TakeOrderedAndProject` — each partition forwards only its
    * local top-n, no global sort, no single-reducer window — so the draw
    * scales to any corpus size.
    */
  def weightedSample(df: DataFrame, weight: Column, n: Int, id: Column): DataFrame =
    df.withColumn("__aes", aesKey(id, weight))
      .orderBy(col("__aes").desc, id)
      .limit(n)
      .drop("__aes")

  /** Per-stratum A-ES: exactly `min(n, |stratum|)` rows per stratum, drawn
    * with probability proportional to `weight`. The `row_number <= n` filter
    * takes Spark's `WindowGroupLimit` rewrite, same scale shape as
    * [[stratifiedSample]].
    */
  def weightedStratifiedSample(df: DataFrame, stratum: Column, weight: Column,
                               n: Int, id: Column): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(col("__aes").desc, id)
    df.withColumn("__aes", aesKey(id, weight))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__aes", "__rn")
  }

  /** Seeded negative sampling for contrastive / recommender training: for
    * each user in `positives` (user, item), up to k = 3 catalog items the
    * user has NOT interacted with, drawn by deterministic rejection sampling.
    *
    * The naive form — `users × catalog` anti-join positives, then sample —
    * is a cartesian product (|users|·|catalog| rows; at 100 TB, fatal). This
    * implementation probes instead: each user generates 12 candidate
    * items via the md5 uniform (`item = min + md5U32("neg":user:i) mod n`),
    * duplicates within a user keep only their first probe, positives are
    * removed with ONE distributed anti-join, and the first `k` survivors by
    * probe index win. Cost is O(|users| · probes) regardless of catalog
    * size; the probes only need to exceed k by the expected collision +
    * positive-hit margin (probes ≥ k + |positives per user| · probes / n in
    * expectation — the 12-vs-3 margin is ample for catalogs ≥ 100× the
    * per-user history). Catalog min/count arrive as a 1-row broadcast,
    * never a driver collect. Fully deterministic: same negatives on any
    * cluster, any partitioning.
    */
  def negativeSample(positives: DataFrame, catalogIds: DataFrame): DataFrame = {
    val userCol = positives.columns(0)
    val itemCol = positives.columns(1)
    val catCol = catalogIds.columns(0)
    val stats = catalogIds.agg(
      count(lit(1)).as("__n_items"),
      min(col(catCol)).as("__min_item"))
    val cand = positives.select(col(userCol)).distinct()
      .crossJoin(broadcast(stats))
      .withColumn("probe_idx", explode(sequence(lit(0), lit(11))))
      .withColumn("__u32",
        graft.functions.Md5Field.md5U32(concat(lit("neg"), lit(":"),
          col(userCol).cast("string"), lit(":"),
          col("probe_idx").cast("string"))))
      .withColumn("neg_item",
        col("__min_item") + pmod(col("__u32"), col("__n_items")))
    val firstProbe = Window.partitionBy(col(userCol), col("neg_item"))
      .orderBy(col("probe_idx"))
    val byUser = Window.partitionBy(col(userCol)).orderBy(col("probe_idx"))
    cand
      .withColumn("__dup", row_number().over(firstProbe))
      .filter(col("__dup") === 1)
      .join(positives.select(col(userCol), col(itemCol).as("neg_item")).distinct(),
        Seq(userCol, "neg_item"), "left_anti")
      .withColumn("__rk", row_number().over(byUser))
      .filter(col("__rk") <= 3)
      .select(col(userCol), col("neg_item"), col("probe_idx"))
  }

  /** Join-preserving ("consistent") downsampling: keep a row iff its
    * ENTITY's md5 uniform falls under `permille`/1000 — so every table
    * sampled with the same (seed, entity) keeps exactly the same
    * entities, joins between sampled tables lose NOTHING relative to
    * sampling after the join, and per-entity statistics (session
    * lengths, funnel shapes, lifetime values) survive intact. Row-level
    * Bernoulli sampling destroys all three, which is why pipeline
    * downsampling must gate on the entity.
    *
    * Pure stateless predicate — no sample table to ship, any engine or
    * service reproduces membership from (seed, permille) alone; the
    * filter pushes to the scan.
    */
  def consistentEntitySample(df: DataFrame, entity: Column, seed: String,
                             permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000,
      s"permille must be in [0, 1000], got $permille")
    val h = graft.functions.Md5Field.md5U32(concat(lit(s"ces:$seed:"),
      entity.cast("string")))
    // h uniform on [0, 2^32): keep iff h·1000 < permille·2^32 (exact ints)
    df.filter(h * 1000L < permille.toLong * 4294967296L)
  }

  /** Neyman (optimal) allocation of a total sample budget across strata —
    * the sampling-design step before [[stratifiedSample]]: stratum h gets
    * n_h ∝ N_h·S_h (size × population sd), which minimizes the variance
    * of the stratified mean at fixed budget. Per-stratum (N, Σx, Σx²)
    * are exact integer aggregates; the weights w_h = N_h·S_h and the
    * quotas fold on the ordered STRATUM frame (metadata-sized by
    * construction); integer allocations come from floor + largest-
    * remainder so Σ n_h == budget EXACTLY (remainders ranked by
    * (frac, stratum) — deterministic under ties). One row per stratum:
    * `stratum`, `n_pop`, `sd_pop`, `weight`, `n_alloc`.
    */
  def neymanAllocation(df: DataFrame, stratum: Column, valueCents: Column,
                       budget: Int): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = df.select(stratum.cast("string").as("stratum"),
        valueCents.cast("long").as("x"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_pop"), sum(dec(col("x"))).as("s"),
        sum(dec(col("x")) * dec(col("x"))).as("q"))
    // population variance: (N·Σx² − (Σx)²) / N² — exact numerator
    val sd = sqrt((dec(col("n_pop")) * col("q") - col("s") * col("s"))
      .cast("double") /
      (col("n_pop").cast("double") * col("n_pop").cast("double")))
    val wg = Window.orderBy(col("stratum"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy()
    val weighted = g
      .withColumn("sd_pop", sd)
      .withColumn("weight", col("n_pop").cast("double") * col("sd_pop"))
      .withColumn("__cw", sum(col("weight")).over(wg))
      .withColumn("__tw", max_by(col("__cw"), col("stratum")).over(wall))
      .withColumn("__tn", sum(col("n_pop")).over(wall))
    // Degenerate case (every stratum has zero variance ⇒ Σweight == 0):
    // Neyman gives no guidance, so fall back to PROPORTIONAL allocation
    // (weight := n_pop) rather than allocating nothing — Σ n_alloc ==
    // budget holds unconditionally, and the oracle mirrors the same CASE.
    val effW = when(col("__tw") > lit(0.0), col("weight"))
      .otherwise(col("n_pop").cast("double"))
    val effT = when(col("__tw") > lit(0.0), col("__tw"))
      .otherwise(col("__tn").cast("double"))
    val quota = lit(budget.toDouble) * effW / effT
    val floored = weighted
      .withColumn("__q", quota)
      .withColumn("__fl", floor(col("__q")).cast("long"))
      .withColumn("__rem", col("__q") - col("__fl").cast("double"))
      .withColumn("__give",
        sum(col("__fl")).over(wall))
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("__rem").desc, col("stratum")))
          .cast("long"))
    floored
      .withColumn("n_alloc",
        col("__fl") + when(
          col("__rk") <= lit(budget.toLong) - col("__give"),
          1L).otherwise(0L))
      .select(col("stratum"), col("n_pop"), col("sd_pop"), col("weight"),
        col("n_alloc"))
      .orderBy(col("stratum"))
  }
}
