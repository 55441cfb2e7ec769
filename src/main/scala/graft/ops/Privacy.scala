package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy operators beyond content redaction
  * ([[graft.text.Curation]]'s PII pass):
  *
  *  - [[pseudonym]]: deterministic keyed pseudonymization — the same id
  *    maps to the same opaque token everywhere (joins and aggregates still
  *    work across tables). sha256(secret ‖ id ‖ secret): the keyed-envelope
  *    ("sandwich") construction closes the length-extension hole of a bare
  *    prefix key while staying a pure codegen projection that any SQL
  *    engine with sha256 can replicate. The privacy guarantee is only as
  *    strong as the secret: a low-entropy secret is brute-forceable offline
  *    from a single known (id, pseudonym) pair, so issue a long random key
  *    (and use HMAC-SHA256 via a crypto library where cross-engine SQL
  *    replication of the pseudonym is not required).
  *  - [[kAnonymityRisk]]: the k-anonymity audit — quasi-identifier
  *    combinations observed fewer than k times re-identify their members;
  *    the audit counts risky groups and rows. One aggregate on the
  *    quasi-identifier key, map-side combined.
  */
object Privacy {

  /** Keyed pseudonym for `id` (any type; canonicalized via cast to string). */
  def pseudonym(id: Column, secret: String): Column =
    sha2(concat(lit(secret), lit("|"), id.cast("string"), lit("|"), lit(secret)), 256)

  /** Quasi-identifier groups smaller than `k`, with their sizes. */
  def kAnonymityRisk(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)

  /** l-diversity audit — k-anonymity's complement: a quasi-identifier group
    * can be large yet still leak if (nearly) every member shares the same
    * SENSITIVE value. Reports each group's size and distinct-sensitive
    * count with the `diverse` verdict (≥ l distinct values). One aggregate
    * on the quasi-identifier key, map-side combined, group-proportional
    * output — same scale shape as [[kAnonymityRisk]].
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
                 l: Int): DataFrame =
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= l)

  /** t-closeness audit — l-diversity's refinement (Li/Li/Venkatasubramanian
    * 2007): a group can be l-diverse yet still leak if its SENSITIVE-value
    * DISTRIBUTION deviates from the table's. For an ORDERED sensitive
    * attribute the distance is the Earth Mover's Distance with unit ground
    * spacing: `EMD = (1/(k−1)) · Σ_i |CumQ_i − CumP_i|` over the k ordered
    * values (Q = group distribution, P = global).
    *
    * Exactness: cumulative probabilities are rationals; the sum is carried
    * as the exact BIGINT numerator `Σ_i |cq_i·N − cp_i·n_g|` (worst case
    * n·N·k ≲ 10¹²·k, far under 2⁶³) and `emd` is ONE IEEE division by
    * `n_g·N·(k−1)` — hash-comparable, no per-term float accumulation.
    *
    * Scale shape: one global aggregate (k rows, broadcast), one
    * (group, value) aggregate, a group×k dense grid via broadcast-join of
    * the value domain (missing cells count 0 — cumulative sums need dense
    * support), and one k-row-bounded window per group. Output is
    * group-proportional.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
                 t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = col(sensitiveCol)
    val global = df.groupBy(s.as("__v")).agg(count(lit(1)).as("__cp"))
    val groups = df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("group_size"))
    val cells = df.groupBy(quasiCols.map(col) :+ s.as("__v"): _*)
      .agg(count(lit(1)).as("__cq"))
    val grid = groups.crossJoin(broadcast(global))
      .join(cells, quasiCols :+ "__v", "left_outer")
      .withColumn("__cq", coalesce(col("__cq"), lit(0L)))
    val w = Window.partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(quasiCols.map(col): _*)
    grid
      .withColumn("__cumq", sum(col("__cq")).over(w))
      .withColumn("__cump", sum(col("__cp")).over(w))
      .withColumn("__N", sum(col("__cp")).over(tot))
      .withColumn("__k", count(lit(1)).over(tot))
      .filter(col("__k") > 1)
      .groupBy(quasiCols.map(col) :+ col("group_size") :+
        col("__N").as("__n") :+ col("__k").as("__kk"): _*)
      .agg(sum(abs(col("__cumq") * col("__N") - col("__cump") * col("group_size")))
        .as("__num"))
      .withColumn("emd", col("__num").cast("double") /
        (col("group_size") * col("__n") * (col("__kk") - 1)).cast("double"))
      .withColumn("close", col("emd") <= t)
      .select(quasiCols.map(col) :+ col("group_size") :+ col("emd") :+
        col("close"): _*)
  }

  /** Generalization-ladder search (Mondrian/Datafly-lite): given an
    * ordered ladder of increasingly coarse quasi-identifier groupings,
    * report each level's group count and minimum group size and mark the
    * FIRST level that satisfies k-anonymity — the "how much must we
    * coarsen before release" decision, made entirely in-plan (each level
    * is one map-combined aggregate; the ladder frame is level-count-sized,
    * so the first-satisfying scan is a metadata window).
    *
    * Levels are (name, grouping-columns) in preference order — most
    * specific first; `chosen` is true on the first level whose minimum
    * group size reaches `k` (false everywhere if none does).
    */
  def generalizationLadder(df: DataFrame,
                           levels: Seq[(String, Seq[Column])],
                           k: Long): DataFrame = {
    require(levels.nonEmpty, "at least one generalization level")
    require(k >= 1, s"k must be >= 1, got $k")
    val perLevel = levels.zipWithIndex.map { case ((name, cols), i) =>
      df.groupBy(cols: _*).agg(count(lit(1)).as("__gs"))
        .agg(count(lit(1)).as("n_groups"), min(col("__gs")).as("min_group_size"))
        .select(lit(i).as("level"), lit(name).as("level_name"),
          col("n_groups"), col("min_group_size"))
    }.reduce(_ unionByName _)
    import org.apache.spark.sql.expressions.Window
    val byLevel = Window.orderBy(col("level"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perLevel
      .withColumn("satisfies", col("min_group_size") >= k)
      .withColumn("chosen",
        col("satisfies") &&
          coalesce(max(col("satisfies").cast("int")).over(byLevel), lit(0)) === 0)
  }

  /** Warner randomized response (1965) — the local-privacy collection
    * primitive: each row reports its true boolean with probability
    * p = 3/4 and the flipped value otherwise, so no individual report is
    * trustworthy, yet the population count debiases exactly:
    * t̂ = (4·observed − n) / 2.
    *
    * The coin is the deterministic md5 uniform over `idCol` under `seed`
    * (reproducible on any cluster — the library-wide draw discipline), so
    * the whole mechanism, including the noisy reports, replays bit-exactly
    * in the oracle. A production deployment would draw the coin
    * client-side from real entropy; the estimator and its algebra are
    * unchanged. Plan shape: one pure projection + one map-combined
    * aggregate — the response column never shuffles row-wise.
    *
    * Returns one row: `n`, `true_cnt` (audit-only — the collector cannot
    * see it in production), `observed`, the exact integer `est_num` =
    * 4·observed − n, and `est` = est_num/2, one division.
    */
  def randomizedResponse(df: DataFrame, idCol: Column, truth: Column,
                         seed: String): DataFrame = {
    val (pNum, pDen) = (3, 4)
    val draw = pmod(
      graft.functions.Md5Field.md5U32(
        concat(lit(s"rr:$seed:"), idCol.cast("string"))),
      lit(pDen.toLong))
    df.select(truth.cast("long").as("t"),
        when(draw < pNum, truth.cast("long"))
          .otherwise(lit(1L) - truth.cast("long")).as("rep"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("true_cnt"),
        sum(col("rep")).as("observed"))
      .withColumn("est_num",
        lit(pDen.toLong) * col("observed") -
          lit((pDen - pNum).toLong) * col("n"))
      .withColumn("est",
        col("est_num").cast("double") / lit((2 * pNum - pDen).toDouble))
  }

  /** Inverse-CDF thresholds of the TRUNCATED discrete Laplace (two-sided
    * geometric) distribution P(k) ∝ α^|k|, α = e^(−ε), k ∈ [−K, K],
    * renormalized over the truncation window and scaled onto the
    * [0, 2³²) uniform: `thresholds(j) = floor(2³²·CDF(−K+j))` for
    * j = 0..2K−1. Computed ONCE driver-side and interpolated as the SAME
    * literal array into the Spark plan and any verification SQL (the
    * ndcgDiscounts discipline) — sampling is then pure exact-integer
    * comparison, no per-row transcendental anywhere.
    */
  def discreteLaplaceThresholds(epsNum: Int, epsDen: Int): Seq[Long] = {
    require(epsNum > 0 && epsDen > 0)
    val alpha = math.exp(-epsNum.toDouble / epsDen)
    val ks = -20 to 20
    val w = ks.map(k => math.pow(alpha, math.abs(k)))
    val total = w.sum
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    cdf.init.map(c => math.floor(c * 4294967296.0).toLong)
  }

  /** ε-DP count release per key under the truncated discrete Laplace
    * mechanism: exact per-key counts, one deterministic md5 uniform per
    * KEY (reproducible-draw discipline — a re-run releases the identical
    * noise, so the privacy budget is spent once, not per execution), and
    * the noise via exact-integer threshold comparison against
    * [[discreteLaplaceThresholds]]. Emits `true_count` alongside
    * `released` FOR THE VERIFICATION HARNESS ONLY — a production release
    * projects it away. Scale shape: one map-combined count per key, a
    * pure projection after; the threshold array is a 2K-element literal.
    */
  def dpCounts(df: DataFrame, keyCol: Column, epsNum: Int, epsDen: Int,
               seed: String): DataFrame = {
    val thresholds = discreteLaplaceThresholds(epsNum, epsDen)
    val u = graft.functions.Md5Field.md5U32(
      concat(lit(s"dp:$seed:"), col("key")))
    df.select(keyCol.cast("string").as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("true_count"))
      .withColumn("noise",
        lit(-20L) +
          size(filter(typedlit(thresholds), t => t <= u)).cast("long"))
      .withColumn("released", col("true_count") + col("noise"))
  }
}
