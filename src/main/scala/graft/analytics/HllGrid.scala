package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Md5Field.md5U32

/** From-scratch HyperLogLog as a DETERMINISTIC register table (Flajolet et
  * al. 2007) — the distinct-count companion to [[CountMin]]'s frequency
  * grid: `m` registers, each holding the maximum leading-zero rank seen
  * among items hashing into it. The register table is metadata-sized at any
  * corpus size, merges across days/sources by register-wise MAX (the same
  * algebra Spark's built-in `hll_sketch_agg` exposes opaquely), and —
  * because the hash is the repo's md5U32 uniform — every register value and
  * the estimate itself replay bit-exactly in a verification engine, which
  * an opaque binary sketch cannot.
  *
  * Exactness discipline: ranks are integers from `length(bin(w))`; the
  * harmonic denominator Σ 2^(−M_j) is computed as the exact BIGINT
  * Σ 2^(B−M_j) with B = 33 − log2(m) (= 25 at the default m = 256; rank
  * ≤ B for the 32 − log2(m) post-index bits, so the scaled sum
  * is ≤ 2^33); the estimate is then ONE fixed-order IEEE expression over
  * that exact sum. No small-range (linear-counting) correction is applied —
  * callers below ~2.5·m distinct items should use exact counting anyway
  * (disclosed bias, same contract as the 15% band on `q_hll_intersect`).
  *
  * Scale shape: one map-combined aggregate into ≤ m rows, then an m-row
  * broadcast fill of untouched registers. The corpus is scanned once.
  */
object HllGrid {

  /** The m = 256 register table: one row per TOUCHED register (idx, max
    * rank); merge two grids with `unionByName → groupBy(idx) → max(m)`.
    */
  def registers(items: DataFrame, itemCol: String): DataFrame = {
    val b = rankBase(256)
    val h = md5U32(concat(lit("hllg:"), col(itemCol).cast("string")))
    items
      .select(pmod(h, lit(256L)).as("idx"),
        (h / 256).cast("long").as("__w"))
      .select(col("idx"),
        when(col("__w") === 0, lit(b))
          .otherwise(lit(b) - length(bin(col("__w")))).as("rank"))
      .groupBy(col("idx")).agg(max(col("rank")).as("m_rank"))
  }

  /** Rank base = (32 − log2(m)) + 1: the md5U32 hash has 32 − log2(m)
    * post-index bits, so a zero word scores base and the rank is always
    * >= 1 — for the default m = 256 this is the historical constant 25.
    * Using 25 for every m was wrong for m != 256: at m = 32 the word has
    * 27 bits, ranks went NEGATIVE, and a touched register could
    * contribute MORE than an untouched one to the harmonic sum.
    */
  private[analytics] def rankBase(m: Int): Long = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two >= 16, got $m")
    33L - java.lang.Long.numberOfTrailingZeros(m.toLong)
  }

  /** Grouped register tables: one row per touched `(group, idx)` — the
    * distinct-count-per-dimension shape (users per day, parts per flag).
    * Still one map-combined aggregate; reduce state ≤ groups·m rows.
    * Estimates follow from [[estimateBy]]. Small-group caveat as on the
    * object: below ~2.5·m true distincts the raw estimate is biased
    * (no linear-counting correction) — exact counting is cheaper there.
    */
  def registersBy(items: DataFrame, groupCol: String, itemCol: String,
                  m: Int = 256): DataFrame = {
    val b = rankBase(m)
    val h = md5U32(concat(lit("hllg:"), col(itemCol).cast("string")))
    items
      .select(col(groupCol).as("grp"), pmod(h, lit(m.toLong)).as("idx"),
        (h / m).cast("long").as("__w"))
      .select(col("grp"), col("idx"),
        when(col("__w") === 0, lit(b))
          .otherwise(lit(b) - length(bin(col("__w")))).as("rank"))
      .groupBy(col("grp"), col("idx")).agg(max(col("rank")).as("m_rank"))
  }

  /** Per-group estimates from a grouped register table: untouched
    * registers contribute rank 0 via the closed form
    * `Σ 2^(B−M) = touchedSum + (m − touched)·2^B` — no domain join.
    */
  def estimateBy(grid: DataFrame): DataFrame = {
    val b = rankBase(256)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    grid
      .withColumn("__term",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST($b - m_rank AS INT))"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_used"),
        sum(col("__term")).as("__touched_sum"),
        sum(col("m_rank")).as("register_sum"))
      .withColumn("sum_scaled",
        col("__touched_sum") + (lit(256L) - col("n_used")) * (1L << b.toInt))
      .withColumn("estimate",
        alpha * lit((256L * 256 * (1L << b.toInt)).toDouble) /
          col("sum_scaled").cast("double"))
      .select(col("grp"), col("n_used"), col("register_sum"),
        col("sum_scaled"), col("estimate"))
  }

  /** One-row estimate + audit columns from a register grid: the exact
    * scaled harmonic sum, the raw-estimate double, and grid-pinning
    * checksums (register sum / xor) so the WHOLE sketch state sits under a
    * verification hash.
    */
  def estimate(grid: DataFrame): DataFrame = {
    val full = grid.sparkSession.range(256).select(col("id").as("idx"))
      .join(grid, Seq("idx"), "left")
      .withColumn("m_rank", coalesce(col("m_rank"), lit(0L)))
      .withColumn("__term",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${rankBase(256)} - m_rank AS INT))"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    full.agg(
        sum(col("__term")).as("sum_scaled"),
        count(when(col("m_rank") > 0, 1)).as("n_used"),
        sum(col("m_rank")).as("register_sum"),
        call_function("bit_xor", col("idx") * 31 + col("m_rank")).as("register_xor"))
      .withColumn("estimate",
        alpha * lit((256L * 256 * (1L << rankBase(256).toInt)).toDouble) /
          col("sum_scaled").cast("double"))
  }
}
