package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperBall invariant: after h max-merge rounds, each node's register
  * set must equal the HLL registers of its EXACT h-hop neighborhood —
  * max-merge along edges loses nothing and adds nothing.
  */
class HyperBallSpec extends SparkSpec {
  import spark.implicits._

  private def pins(grid: DataFrame): (Long, Long, Long) =
    grid.agg(count(lit(1)), sum(col("m_rank")),
        expr("bit_xor(node * 8191 + idx * 31 + m_rank)"))
      .as[(Long, Long, Long)].head()

  test("ball registers at each hop equal registers of the exact neighborhood") {
    // triangle 1-2-3 with a 3-4-5 tail
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val balls: Map[Int, Map[Long, Set[Long]]] = Map(
      0 -> (1L to 5L).map(v => v -> Set(v)).toMap,
      1 -> Map(1L -> Set(1L, 2L, 3L), 2L -> Set(1L, 2L, 3L),
        3L -> Set(1L, 2L, 3L, 4L), 4L -> Set(3L, 4L, 5L), 5L -> Set(4L, 5L)),
      2 -> Map(1L -> Set(1L, 2L, 3L, 4L), 2L -> Set(1L, 2L, 3L, 4L),
        3L -> Set(1L, 2L, 3L, 4L, 5L), 4L -> Set(1L, 2L, 3L, 4L, 5L),
        5L -> Set(3L, 4L, 5L)))
    val out = HyperBall.neighborhoodFunction(edges, maxHops = 2)
      .select($"hop", $"n_nodes", $"n_cells", $"rank_sum", $"reg_xor")
      .as[(Int, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    (0 to 2).foreach { h =>
      val members = balls(h).toSeq.flatMap { case (v, s) => s.map(v -> _) }
        .toDF("grp", "it")
      val exact = HllGrid.registersBy(members, "grp", "it", m = 32)
        .select(col("grp").as("node"), col("idx"), col("m_rank"))
      val (cells, rsum, rxor) = pins(exact)
      assert(out(h)._2 === 5L, s"hop $h n_nodes")
      assert((out(h)._3, out(h)._4, out(h)._5) === ((cells, rsum, rxor)),
        s"hop $h register state must equal the exact-neighborhood registers")
    }
  }

  test("seed estimate is within the HLL regime and balls only grow") {
    val edges = (1L to 30L).map(i => (i, i % 30 + 1)).toDF("id_a", "id_b") // ring
    val out = HyperBall.neighborhoodFunction(edges, maxHops = 2)
      .select($"hop", $"n_cells", $"seed_estimate")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._2).sliding(2).forall(w => w(0) <= w(1)),
      "total register cells must be monotone in hop")
    // seed ball sizes on a ring: 1, 3, 5 — raw small-range HLL overestimates
    // are disclosed; just pin monotone growth of the estimate
    assert(out.map(_._3).sliding(2).forall(w => w(0) <= w(1) + 1e-9))
  }
}
