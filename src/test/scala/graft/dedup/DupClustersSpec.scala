package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    DupClusters.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  /** Reference union-find, for ground truth. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain collapses to one component rooted at the min") {
    assert(components(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint groups stay disjoint") {
    val got = components(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 30L)))
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("adversarial 512-node path converges (logarithmic rounds, not diameter)") {
    val chain = (0L until 511L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.size == 512 && got.values.forall(_ == 0L))
  }

  test("random graph matches union-find ground truth") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    assert(components(edges) == unionFind(edges))
  }

  test("triangleCounts: hand-counted graph; matches naive enumeration on a random graph") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant edge 4-5
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val out = DupClusters.triangleCounts((k4 :+ ((4L, 5L))).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // random graph: degree-ordered compact-forward == naive a<b<c enumeration
    val rnd = new scala.util.Random(7)
    val edges = (0 until 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val fast = DupClusters.triangleCounts(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val eSet = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val naive = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && eSet((a, b))
      c <- nodes if b < c && eSet((b, c)) && eSet((a, c))
    } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
    assert(fast == naive.toMap)
    // an edge list carrying BOTH orientations must not double-count: same
    // K4 with every edge duplicated reversed yields identical counts
    val bothWays = k4 ++ k4.map { case (a, b) => (b, a) }
    val out2 = DupClusters.triangleCounts(bothWays.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(out2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("labelPropagation: star converges to hub label; majority beats min-id") {
    // star 0-{1,2,3}: leaves tie {self, 0} -> 0; hub ties all at 1 -> min 0
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val l1 = DupClusters.labelPropagation(star, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(l1 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // rounds = 0 is the identity labeling
    val l0 = DupClusters.labelPropagation(star, rounds = 0)
      .as[(Long, Long)].collect().toMap
    assert(l0 == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // majority wins over smaller id: node 9 sits between community {5,6,7}
    // (already labeled via round 1 of a triangle) and lone smaller id 1
    // triangle 5-6-7 + tail 9 attached to 5,6 + edge 1-9:
    // round1: 5,6,7 -> 5 (triangle majority/min), 9's votes: self 9, 5, 6, 1
    //   all c=1 -> min 1. round2: 9's votes: self 1, labels(5)=5, labels(6)=5,
    //   labels(1)=9?? -> 1's round1: votes self 1 + 9 -> min 1. so 9 sees
    //   {1:2 (self+node1), 5:2} -> tie -> min 1... adjust: attach 9 to 7 too.
    // with 5,6,7 all voting 5: {5:3, 1:2} -> 5 wins despite 1 < 5.
    val g = Seq((5L, 6L), (6L, 7L), (5L, 7L), (9L, 5L), (9L, 6L), (9L, 7L),
      (1L, 9L)).toDF("id_a", "id_b")
    val l2 = DupClusters.labelPropagation(g, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(l2(9L) == 5L, s"majority must beat smaller id: $l2")
  }

  test("pageRankFixedPoint: hand-computed values on a path; center of a star dominates") {
    // path 1-2-3, two iterations at scale 10¹² (= 1.0): base = 1.5·10¹¹
    // it 1: sums 1: 5·10¹¹, 2: 2·10¹², 3: 5·10¹¹
    //   pr1(1) = pr1(3) = 1.5·10¹¹ + 85·5·10¹¹/100 = 5.75·10¹¹; pr1(2) = 1.85·10¹²
    // it 2: sums 1: 1.85·10¹² div 2 = 9.25·10¹¹, 2: 2·5.75·10¹¹ = 1.15·10¹²
    //   pr2(1) = pr2(3) = 1.5·10¹¹ + 7.8625·10¹¹; pr2(2) = 1.5·10¹¹ + 9.775·10¹¹
    val path = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val it2 = DupClusters.pageRankFixedPoint(path)
      .as[(Long, Long)].collect().toMap
    assert(it2 == Map(1L -> 936250000000L, 2L -> 1127500000000L, 3L -> 936250000000L))
    // star K1,4: the hub must outrank every leaf after two iterations
    val star = (2L to 5L).map(i => (1L, i)).toDF("id_a", "id_b")
    val pr = DupClusters.pageRankFixedPoint(star)
      .as[(Long, Long)].collect().toMap
    assert((2L to 5L).forall(l => pr(1L) > pr(l)))
    assert((2L to 5L).map(pr).toSet.size == 1) // leaves identical by symmetry
  }

  test("empty pair set yields empty assignment") {
    assert(components(Seq.empty) == Map.empty)
  }

  test("kCorePeel: triangle with tail, multi-round chain peel, 3-core, orientation safety") {
    def core(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
      DupClusters.kCorePeel(edges.toDF("id_a", "id_b"), k, rounds)
        .as[(Long, Long)].collect().toMap
    // triangle 1-2-3 with tail 3-4: tail peels in round 1, triangle is the
    // 2-core; round 2 == round 1 (fixpoint)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(core(tri, 2, 1) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(core(tri, 2, 2) == core(tri, 2, 1))
    // a 5-path needs TWO rounds to peel fully under k=2: ends first, then
    // the newly-exposed ends — the sequential-vs-parallel distinction
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(core(path, 2, 1) == Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
    assert(core(path, 2, 2) == Map.empty)
    // K4 + pendant: the 3-core is exactly K4 (every node degree 3)
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) :+ ((4L, 5L))
    assert(core(k4, 3, 2) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // both-orientation input must not double degrees: a bare edge carried
    // as (1,2) and (2,1) is still a 1-degree pair, peeled under k=2
    assert(core(Seq((1L, 2L), (2L, 1L)), 2, 1) == Map.empty)
    // rounds = 0 returns raw degrees of the normalized edge set
    assert(core(tri, 2, 0) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
  }

  test("twoHopNeighbors: path graph hand case; orientation-duplicate safety") {
    // path 1-2-3-4: node 1 reaches {3} in exactly 2 hops, node 2 reaches
    // {4}, symmetric on the other end; direct neighbors never counted
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = DupClusters.twoHopNeighbors(path)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(1L -> (1L, 1L), 2L -> (2L, 1L), 3L -> (2L, 1L), 4L -> (1L, 1L)))
    // triangle: everyone adjacent to everyone -> no strict 2-hop nodes
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 1L)).toDF("id_a", "id_b")
    val t = DupClusters.twoHopNeighbors(tri)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(t == Map(1L -> (2L, 0L), 2L -> (2L, 0L), 3L -> (2L, 0L)))
  }

  test("personalizedPageRank: disconnected component stays exactly 0; all-seeds == uniform") {
    // components {1,2} and {3,4}; seed only node 1
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val ppr = DupClusters.personalizedPageRank(pairs, Seq(1L).toDF("node_id"))
      .as[(Long, Long)].collect().toMap
    assert(ppr(3L) == 0L && ppr(4L) == 0L)
    assert(ppr(1L) > 0L && ppr(2L) > 0L)
    // hand-check round 2 for node 2 (deg 1 each, scale 1e12): node 2 holds
    // no initial mass, so it1(n1) = base only = 0.15e12 and
    // it2(n2) = 85% of that; it1(n2) = 85% of the seed's 1e12
    val s = 1000000000000L
    val it1n1 = 15L * s / 100 // + 85% of pr0(n2) = 0
    assert(ppr(2L) == (85L * it1n1) / 100)
    assert(ppr(1L) == 15L * s / 100 + (85L * ((85L * s) / 100)) / 100)
    // seeding EVERY node degenerates to the uniform fixed-point operator
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L)).toDF("id_a", "id_b")
    val all = (1L to 4L).toDF("node_id")
    val uni = DupClusters.pageRankFixedPoint(g).as[(Long, Long)].collect().toMap
    val per = DupClusters.personalizedPageRank(g, all).as[(Long, Long)].collect().toMap
    assert(uni == per)
  }

  test("clusterSizeAudit: histogram with singleton complement totals the corpus") {
    val comp = DupClusters.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b"))
      .select($"id".as("doc_id"), $"component")
    val universe = (1L to 7L).toDF("doc_id")
    val out = DupClusters.clusterSizeAudit(comp, universe)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 2L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
    assert(out.toSeq.map(_._3).sum == 7L) // n_docs partitions the universe
  }

  test("hits: hand-computed two-round authorities on a tiny bipartite graph") {
    val e = Seq((1L, "a"), (2L, "a"), (2L, "b")).toDF("src", "dst")
    val out = DupClusters.hits(e).as[(String, Long, Long)].collect().toSet
    // a1: a=2, b=1;  h1: 1↦2, 2↦3;  a2: a = 2+3 = 5, b = 3
    assert(out == Set(("a", 2L, 5L), ("b", 1L, 3L)))
  }

  test("degreeAssortativity: perfect star is exactly −1; regular ring is +1-degenerate") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val r = DupClusters.degreeAssortativity(star)
      .select("assortativity").as[Double].head()
    assert(r == -1.0, s"star assortativity must be exactly −1, got $r")
    // 4-ring: every node degree 2 → zero variance → NULL by convention
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("id_a", "id_b")
    val rr = DupClusters.degreeAssortativity(ring)
      .select(col("assortativity")).collect().head
    assert(rr.isNullAt(0), "constant-degree graph must yield NULL r")
  }

  test("randomWalks min_by aggregate reproduces the windowed argmin semantics") {
    // reference: row_number over (md5("walk":walk:s:nxt), nxt) picking rank 1 —
    // the pre-r9 implementation — computed by hand via the same draw
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (4L, 0L))
      .toDF("id_a", "id_b")
    val walks = DupClusters.randomWalks(edges, steps = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    def md5Hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val adj = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (4L, 0L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val expected = adj.keys.toSeq.sorted.map { start =>
      var cur = start
      val steps = (1 to 3).map { s =>
        val nbrs = adj.getOrElse(cur, Seq(cur))
        cur = nbrs.minBy(n => (md5Hex(s"walk:$start:$s:$n"), n))
        cur
      }
      (start, steps(0), steps(1), steps(2))
    }
    assert(walks.toSeq == expected)
  }

  test("bfsHops: path graph — synchronous rounds give exact min hops, bounded radius") {
    // path 1-2-3-4-5 with a shortcut 1-4; seed {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("id_a", "id_b")
    val seeds = Seq(1L).toDF("node_id")
    val r = DupClusters.bfsHops(edges, seeds, maxHops = 2)
      .as[(Long, Int)].collect().toMap
    // 4 is hop 1 via the shortcut (not 3 via the path); 5 is hop 2; 3 is hop 2
    assert(r === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
    // radius bound: maxHops = 1 never reaches 3 or 5
    val r1 = DupClusters.bfsHops(edges, seeds, maxHops = 1)
      .as[(Long, Int)].collect().toMap
    assert(r1 === Map(1L -> 0, 2L -> 1, 4L -> 1))
  }

  test("boundedShortestPaths: cheaper long path beats the direct edge; revisits relax") {
    // 1-2 costs 5 direct, but 1-3-2 costs 2: round 1 sets dist(2)=5, round 2
    // must RELAX it down to 2 — the min-fold over already-visited nodes
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L)).toDF("id_a", "id_b", "w")
    val seeds = Seq(1L).toDF("node_id")
    val d = DupClusters.boundedShortestPaths(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d === Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
  }

  test("boundedShortestPaths: the round bound is the radius contract") {
    // chain 1-2-3-4-5 each w=1 plus direct 1-5 w=10
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L),
      (1L, 5L, 10L)).toDF("id_a", "id_b", "w")
    val seeds = Seq(1L).toDF("node_id")
    val d3 = DupClusters.boundedShortestPaths(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // within 3 edges the best route to 5 is the direct w=10 edge
    assert(d3(5L) === 10L)
    val d4 = DupClusters.boundedShortestPaths(edges, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // one more round admits the 4-edge chain of cost 4
    assert(d4(5L) === 4L)
  }

  test("bfsHops: multi-source takes the nearer seed; disconnected nodes absent") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val seeds = Seq(1L, 10L).toDF("node_id")
    val r = DupClusters.bfsHops(edges, seeds, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(r === Map(1L -> 0, 2L -> 1, 3L -> 2, 10L -> 0, 11L -> 1))
    assert(!r.contains(20L) && !r.contains(21L))
  }
}
