package graft.sim

import graft.Anchor._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed top-principal-component extraction by INTEGER power
  * iteration on quantized embeddings — the "which direction dominates this
  * embedding corpus" audit (drift between snapshots, anisotropy before
  * indexing, whitening sanity) without ever materializing the d×d
  * covariance: each iteration is the Gram-vector trick
  * `w = Xᵀ(Xv) = Σᵢ xᵢ (xᵢ·v)`, i.e. one broadcast of the current d-vector,
  * one per-row dot product, and one d-key map-combined aggregate per round.
  *
  * Exactness discipline: float embeddings quantize once to integers
  * (`round(x·1000)` — the [[Similarity.quantizeInt8]] idiom), the init
  * vector is all-ones, and every dot/accumulate is BIGINT — so unlike FP
  * power iteration (whose per-partition sum order perturbs low bits and
  * with them the whole trajectory), the iterate is a pure function of the
  * corpus, partitioning-invariant, and bit-replicable in a verification
  * engine. Between rounds the iterate rescales to magnitude ≤ scale = 10³ by
  * truncated-toward-zero integer division (sign-split into `abs … div` so
  * engines whose `//` floors replay it exactly); headroom:
  * |q|·d·scale²·n ≲ 2^52 for n = 10⁹ docs at d = 64 — and
  * DECIMAL(38) sums are the widening path beyond that.
  *
  * Convergence is the standard power-method rate (λ₂/λ₁ per round); two
  * rounds suffice for the dominance audit, more rounds are just more of
  * the same plan. Sign follows the init vector deterministically.
  */
object PowerIteration {

  /** Two-round power iteration over `embedding` (array<float/double>, fixed
    * dim `d`). Returns one row per dimension with the raw and rescaled
    * iterates of both rounds — all exact BIGINTs.
    */
  def topComponent(corpus: DataFrame, d: Int): DataFrame = {
    require(d >= 2 && d <= 4096, s"d must be in [2,4096], got $d")
    val q = corpus.select(col("vec_id").as("vid"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))")
        .as("q"))
    // round 1: v0 = ones, so the dot is the plain element sum
    val withDot1 = q.withColumn("dot1",
      expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
    val ex1 = withDot1.select(col("dot1"), posexplode(col("q")).as(Seq("dim", "qj")))
    // the d-row Gram results anchor EAGERLY (metadata-scale: d ≤ 4096 rows):
    // the rescale helper consumes its input twice (max-abs agg + crossJoin),
    // so an unanchored w re-runs its whole corpus pass per consumer
    val w1 = ex1.groupBy(col("dim")).agg(sum(col("qj") * col("dot1")).as("w1"))
      .anchor(Bound.Metadata)
    // sign-split truncating rescale to magnitude <= scale (exact integer)
    def rescaled(w: DataFrame, wc: String, vc: String): DataFrame = {
      val s = w.agg(
        expr(s"greatest(max(abs($wc)) div 1000, CAST(1 AS BIGINT))").as("__s"))
      w.crossJoin(broadcast(s))
        .withColumn(vc,
          when(col(wc) < 0, -expr(s"abs($wc) div __s"))
            .otherwise(expr(s"$wc div __s")))
        .select(col("dim"), col(wc), col(vc))
    }
    val v1 = rescaled(w1, "w1", "v1").anchor(Bound.Metadata)
    // round 2: the dot against v1 is ROW-LOCAL — v1 rides along as one
    // broadcast d-element array (sorted by dim; posexplode emits every dim
    // for every row, so w1 covers all d dims and zip_with lengths agree)
    // instead of explode → broadcast join → groupBy(vid) shuffle → join
    // back. Integer sums are order-free, so the dot is bit-identical.
    val v1arr = v1.agg(expr(s"array_sort(collect_list(struct(dim, v1)))").as("sv"))
      .select(expr("transform(sv, s -> s.v1)").as("__v1arr"))
    val withDot2 = q.crossJoin(broadcast(v1arr))
      .withColumn("dot2",
        expr("aggregate(zip_with(q, __v1arr, (x, v) -> x * v), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
    val ex2 = withDot2.select(col("dot2"), posexplode(col("q")).as(Seq("dim", "qj")))
    val w2 = ex2.groupBy(col("dim")).agg(sum(col("qj") * col("dot2")).as("w2"))
      .anchor(Bound.Metadata)
    val v2 = rescaled(w2, "w2", "v2")
    v1.join(v2, Seq("dim"))
      .select(col("dim"), col("w1"), col("v1"), col("w2"), col("v2"))
  }
}
