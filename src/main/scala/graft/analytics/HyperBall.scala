package graft.analytics

import graft.Anchor._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
  * Centralities with HyperBall", 2013) — the neighborhood function
  * N(h) = |{(v,u) : dist(v,u) ≤ h}| estimated by giving every node an
  * HLL register set of its h-ball and growing balls by register-wise
  * max-merge along edges. THE way to measure reachability growth /
  * effective diameter on a graph too large for exact per-node BFS:
  * exact per-node neighborhoods need O(n²) state in the worst case,
  * while HyperBall state is a fixed m = 32 registers per node, rounds are
  * one equi-join + one max-aggregate each, and the merge is the same
  * algebra [[HllGrid]] already proves mergeable.
  *
  * Everything compared is exact integer register state: per-hop cell
  * counts, rank sums, and an xor fold over (node, idx, rank) pin the
  * ENTIRE register table under the verification hash (the q_hll_grid
  * discipline), plus one seed node's closed-form scaled harmonic sum
  * and its single fixed-order IEEE estimate. Registers use the
  * library-wide md5 uniform, so every round replays bit-exactly in SQL.
  *
  * Scale shape: state is nodes·(≤m) rows; each round shuffles
  * state ⋈ adjacency (max-merge combines map-side) and
  * anchors to cut lineage — the star-contraction
  * discipline. Rounds are bounded by `maxHops` (the question is "how
  * fast do balls grow", not convergence).
  */
object HyperBall {

  /** One audit row per hop 0..`maxHops`: `hop`, `n_nodes`, `n_cells`,
    * `rank_sum`, `reg_xor` (exact register-state pins) and the min-id
    * seed node's `seed_sum_scaled` + `seed_estimate`.
    */
  def neighborhoodFunction(pairs: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val m = 32
    val e = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = adj.select(col("u").as("node")).distinct()
    val adjSelf = adj
      .unionByName(nodes.select(col("node").as("u"), col("node").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = broadcast(nodes.agg(min(col("node")).as("__seed")))
    val b = HllGrid.rankBase(m)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))

    def audit(g: DataFrame, h: Int): DataFrame = {
      val pins = g.agg(
        countDistinct(col("node")).as("n_nodes"),
        count(lit(1)).as("n_cells"),
        sum(col("m_rank")).as("rank_sum"),
        expr("bit_xor(node * 8191 + idx * 31 + m_rank)").as("reg_xor"))
      val seedRow = g.join(seed, col("node") === col("__seed"))
        .agg(count(lit(1)).as("__t"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($b - m_rank AS INT))"))
            .as("__ts"))
        .select((col("__ts") + (lit(m.toLong) - col("__t")) * (1L << b.toInt))
          .as("seed_sum_scaled"))
        .withColumn("seed_estimate",
          alpha * lit((m.toLong * m * (1L << b.toInt)).toDouble) /
            col("seed_sum_scaled").cast("double"))
      pins.crossJoin(seedRow).select(lit(h).as("hop"), col("n_nodes"),
        col("n_cells"), col("rank_sum"), col("reg_xor"),
        col("seed_sum_scaled"), col("seed_estimate"))
    }

    var grid = HllGrid.registersBy(
        nodes.select(col("node").as("grp"), col("node").as("it")), "grp", "it", m)
      .select(col("grp").as("node"), col("idx"), col("m_rank"))
      .anchor(Bound.PerEntity)
    var out = audit(grid, 0)
    var h = 1
    while (h <= maxHops) {
      grid = grid.join(adjSelf, grid("node") === adjSelf("u"))
        .select(adjSelf("v").as("node"), col("idx"), col("m_rank"))
        .groupBy(col("node"), col("idx")).agg(max(col("m_rank")).as("m_rank"))
        .anchor(Bound.PerEntity)
      out = out.unionByName(audit(grid, h))
      h += 1
    }
    out.orderBy(col("hop"))
  }
}
