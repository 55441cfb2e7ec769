package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic multiplier bootstrap — the distributed way to put a
  * confidence interval on a mean without resampling rows (row resampling
  * needs n draws WITH replacement from a distributed table, i.e. a
  * global index; multiplier weights need only a per-row hash).
  *
  * Each (row, replicate) gets an integer weight w ~ Binomial(8, 1/8)
  * (mean 1 — the standard Poisson(1) bootstrap surrogate, Chamandy et
  * al., "Estimating Uncertainty for Massive Data Streams", Google 2012),
  * derived from its own 8-hex-digit field of the md5 of
  * (seed, id, replicate-group) — the library-wide reproducible-draw
  * discipline, so every replicate replays bit-exactly on any cluster
  * and in the verification engine.
  * Replicate means are ratios of exact BIGINT sums; the CI bounds are
  * order statistics of those B means selected by cross-multiplied
  * integer ranks (no FP percentile arithmetic).
  *
  * Scale shape: the explode multiplies rows by B/4 partition-locally
  * and the replicate-group aggregate map-side combines (8 sums per
  * group) before its single shuffle — traffic O(partitions · B), never
  * O(n · B) — and the rank/selection machinery runs on the B-row
  * metadata frame (its global window is over ≤ B rows BY CONSTRUCTION).
  * Cost is one deliberate O(n·B) CPU pass; pick B in the
  * tens-to-hundreds.
  */
object Bootstrap {

  /** One row: `n`, `sum_cents`, `mean` (exact ratio), `b_used`, and the
    * `[loPermille, hiPermille]` percentile-bootstrap bounds `ci_lo`,
    * `ci_hi` over 64 deterministic replicate means.
    */
  def meanCI(df: DataFrame, idCol: Column, valueCents: Column, seed: String): DataFrame = {
    val base = df.select(idCol.cast("string").as("__id"),
      valueCents.cast("long").as("x"))
    val full = base
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_cents"))
      .withColumn("mean",
        when(col("n") > 0,
          col("sum_cents").cast("double") / col("n").cast("double")))
    // One md5 DIGEST VALUE serves four replicates (32 hex digits = 4
    // disjoint 8-digit fields), keyed per (row, replicate-group) — the
    // draw count is n·B/4 distinct digests, not n·B. The weight
    // w = #{hex digits in {0,1}} ~ Binomial(8, 1/8) is counted
    // arithmetically (digit < 2 ⇔ the nibble's upper 3 bits are 0);
    // digit POSITIONS don't matter for the count, so nibble order agrees
    // with a per-digit string compare in the verification engine.
    //
    // All four replicates of a group aggregate FLAT in one hash
    // aggregate (8 sums per group) and the 64-replicate table is rebuilt
    // by a B/4-row metadata reshape afterwards. Flat is load-bearing: an
    // explode whose array elements carry the weight expressions defeats
    // codegen subexpression elimination (each conv re-inlines per
    // reference — measured 44 s vs 4 s for the same math here; the NOTES
    // explode-pushdown trap in aggregate form).
    val msg = concat(lit(s"boot:$seed:"), col("__id"), lit(":"),
      col("rg").cast("string"))
    // w = #{hex digits of the field in {'0','1'}} ⇔ #{nibbles whose
    // upper 3 bits are 0}. All four weights come from ONE native
    // [[graft.functions.Md5Field.md5BinWeights4]] digest per
    // (row, replicate-group) — as four separate md5_field expressions each
    // weight re-digested the same message (CSE cannot reach inside an
    // expression's eval), quadrupling the md5 work of the draw pass, the
    // dominant cost here (r17; the digit-count fold also moves from 32
    // codegen conditionals per group into the digest loop). The native
    // path itself replaced the built-in Md5+conv+substring chain earlier
    // (2.5× — per-call MessageDigest.getInstance, per-weight string scans).
    // Weights are hoisted into the projection BELOW the aggregate so the
    // digest runs exactly once per (row, replicate-group): as an
    // aggregate-input expression the 8 sums would each re-inline it
    // (subexpression elimination does not span aggregate functions).
    def weightAt(wq: Column, s: Int): Column =
      shiftright(wq, 8 * (3 - s)).bitwiseAND(lit(0xFFL))
    val perRg = base
      .select(col("__id"), col("x"),
        explode(sequence(lit(0), lit(15))).as("rg"))
      .select(col("rg"), col("x"),
        graft.functions.Md5Field.md5BinWeights4(msg).as("__wq"))
      .select(col("rg"), col("x"),
        weightAt(col("__wq"), 0).as("w0"), weightAt(col("__wq"), 1).as("w1"),
        weightAt(col("__wq"), 2).as("w2"), weightAt(col("__wq"), 3).as("w3"))
      .groupBy(col("rg"))
      .agg(sum(col("w0") * col("x")).as("swx0"), sum(col("w0")).as("sw0"),
        sum(col("w1") * col("x")).as("swx1"), sum(col("w1")).as("sw1"),
        sum(col("w2") * col("x")).as("swx2"), sum(col("w2")).as("sw2"),
        sum(col("w3") * col("x")).as("swx3"), sum(col("w3")).as("sw3"))
    val repMeans = perRg
      .select(explode(array((0 to 3).map(s =>
          struct((col("rg") * 4 + s).as("rep"),
            col(s"swx$s").as("swx"), col(s"sw$s").as("sw"))): _*)).as("r"))
      .select(col("r.rep").as("rep"), col("r.swx").as("swx"), col("r.sw").as("sw"))
      .withColumn("m",
        when(col("sw") > 0,
          col("swx").cast("double") / col("sw").cast("double")))
      .filter(col("m").isNotNull)
    // metadata frame: <= B rows from here on; globals are by construction
    val ranked = repMeans
      .withColumn("rn", row_number().over(Window.orderBy(col("m"), col("rep"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
    // rn >= ceil(cnt * p / 1000)  <=>  rn * 1000 >= cnt * p  (integers)
    val stats = ranked.agg(
      min(when(col("rn") * 1000 >= col("cnt") * 25, col("m"))).as("ci_lo"),
      min(when(col("rn") * 1000 >= col("cnt") * 975, col("m"))).as("ci_hi"),
      max(col("cnt")).as("b_used"))
    full.crossJoin(broadcast(stats))
      .select(col("n"), col("sum_cents"), col("mean"), col("b_used"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Delete-one-GROUP jackknife standard error of the ratio mean Σx/n —
    * the clustered-uncertainty companion of [[meanCI]]: when rows within
    * a group (nation, tenant, shard) are correlated, the multiplier
    * bootstrap's per-row independence understates the SE; the grouped
    * jackknife deletes one whole group per replicate. θ_(i) =
    * (S−s_i)/(N−n_i) from exact per-group integer sums; SE_J =
    * √((g−1)/g · Σ(θ_(i)−θ̄_J)²) with the two double folds (Σθ, Σθ²)
    * riding ONE ordered unpartitioned window over the g-row GROUP frame
    * (metadata-sized by construction — both engines stream it; last row
    * taken by max_by, never max). One row: `n`, `g`, `theta`, `se_jack`.
    */
  def jackknifeGroupRatio(df: DataFrame, grpCol: Column,
                          valueCents: Column): DataFrame = {
    val g = df.select(grpCol.cast("string").as("grp"),
        valueCents.cast("long").as("x"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_i"),
        sum(col("x").cast("decimal(38,0)")).as("s_i"))
    val tot = g.agg(sum(col("n_i")).as("n"), count(lit(1)).as("g_cnt"),
      sum(col("s_i")).as("s_all"))
    val theta_i = (col("s_all") - col("s_i")).cast("double") /
      (col("n") - col("n_i")).cast("double")
    val wg = Window.orderBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val folded = g.crossJoin(broadcast(tot))
      .filter(col("n") > col("n_i")) // deleting the only group is undefined
      .withColumn("__th", theta_i)
      .withColumn("__cth", sum(col("__th")).over(wg))
      .withColumn("__cth2", sum(col("__th") * col("__th")).over(wg))
      .agg(max(col("n")).as("n"), max(col("g_cnt")).as("g"),
        max(col("s_all")).as("s_all"),
        max_by(col("__cth"), col("grp")).as("sth"),
        max_by(col("__cth2"), col("grp")).as("sth2"))
    val gd = col("g").cast("double")
    val ss = col("sth2") - col("sth") * col("sth") / gd
    folded.select(col("n"), col("g"),
      when(col("n") > 0,
        col("s_all").cast("double") / col("n").cast("double")).as("theta"),
      when(col("g") > 1 && ss >= lit(0.0),
        sqrt((gd - lit(1.0)) / gd * ss)).as("se_jack"))
  }
}
