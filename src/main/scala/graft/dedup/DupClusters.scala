package graft.dedup

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over a near-duplicate
  * pair set, so a corpus dedup can keep one canonical document per *group*
  * (pairs alone under-delete: a≈b, b≈c must collapse to one survivor even
  * when a≉c directly).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log n) rounds on any graph, each round two shuffles (a groupBy-min and
  * an equi-join), no driver-side adjacency and no `collect()`. This is the
  * shape that survives 100 TB: label-propagation needs O(diameter) rounds
  * (a duplicate *chain* of near-identical crawl snapshots makes diameter
  * O(n)), while star contraction is logarithmic regardless of topology.
  *
  * Each round materializes once (the convergence check is an aggregate over
  * the new edge set) and truncates lineage with an anchor
  * ([[graft.Anchor]]) — iterative plans otherwise stack one optimizer pass
  * per round.
  */
object DupClusters {

  /** Each undirected `(id_a, id_b)` pair once as (u = min, v = max) longs, self-loops
    * dropped: the edge set every pair-keyed graph kernel below starts from.
    */
  private def undirectedEdges(pairs: DataFrame): DataFrame =
    pairs.select(
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("u"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** Per-node triangle participation counts over the undirected edge set
    * `pairs(id_a, id_b)` — the clustering-coefficient core of duplicate-graph
    * analysis (a near-dup pair inside a dense triangle cluster is template
    * boilerplate; an isolated pair is a genuine copy).
    *
    * Compact-forward enumeration (Latapy 2008 / Suri-Vassilvitskii 2011):
    * edges are oriented from lower to higher **(degree, id)** rank, wedges
    * are generated at their lowest-ranked corner, and each wedge closes
    * against one oriented edge — so every triangle is emitted exactly once
    * and the wedge fan-out per node is outdeg², bounded by O(√m) under
    * degree ordering. Id-ordered orientation (the naive a<b) has no such
    * bound: a low-id celebrity node generates deg² wedges. The triangle SET
    * is orientation-independent, which is what lets the DuckDB oracle use
    * the naive formulation while this implementation uses the skew-safe one.
    *
    * Scale shape: a degree aggregate, two equi-joins keyed on single node
    * ids / rank-ordered pairs, one explode+count — no cartesian anywhere.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // normalize to (least, greatest) BEFORE distinct: an edge list carrying
    // both orientations (a,b) and (b,a) would otherwise survive as two rows,
    // doubling degrees and multiply-counting every triangle
    val e0 = undirectedEdges(pairs)
    val tris = orientedTriangles(e0)
    tris.select(explode(array(col("x"), col("a"), col("b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Each triangle of the normalized (u < v, distinct) edge set exactly
    * once, via compact-forward (degree, id)-rank orientation — the
    * skew-safe enumeration documented on [[triangleCounts]]; shared with
    * [[kTrussPeel]].
    */
  private def orientedTriangles(e0: DataFrame): DataFrame = {
    val deg = e0.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val ranked = e0
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    // orient low rank -> high rank; rank = (degree, id)
    val oriented = ranked.select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("du").as("ds"), col("dv").as("dt")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("t"), col("dv").as("ds"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s"), col("e.t"), col("e.ds"), col("e.dt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges at the lowest-ranked corner s: pick the rank-ordered (a, b) of
    // the two far endpoints, close against the oriented edge (a, b)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.dt") < col("e2.dt") ||
            (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.s").as("x"), col("e1.t").as("a"), col("e2.t").as("b"))
    wedges.join(oriented.select(col("s").as("a"), col("t").as("b")),
        Seq("a", "b"))
      .select(col("x"), col("a"), col("b"))
  }

  /** Per-edge triangle support over the normalized undirected graph —
    * Granovetter's weak-tie audit: an edge inside no triangle (support
    * 0) bridges otherwise-unconnected neighborhoods, while high-support
    * edges sit inside mutually corroborated clusters. The one-shot
    * edge-level companion of [[kTrussPeel]] (which iterates this to a
    * fixpoint) — each triangle from the skew-safe enumeration credits
    * its three edges, one map-combined count, edges never in a triangle
    * kept at support 0 via the outer join.
    */
  def edgeTriangleSupport(pairs: DataFrame): DataFrame = {
    val e0 = undirectedEdges(pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val triEdges = orientedTriangles(e0)
      .select(explode(array(
        struct(least(col("x"), col("a")).as("u"), greatest(col("x"), col("a")).as("v")),
        struct(least(col("x"), col("b")).as("u"), greatest(col("x"), col("b")).as("v")),
        struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    e0.join(triEdges, Seq("u", "v"), "left_outer")
      .select(col("u"), col("v"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** k-truss peeling: iteratively delete edges supported by fewer than
    * `k − 2` triangles (among surviving edges) — the edge-level density
    * filter between triangle counting and k-core (every k-truss edge lies
    * in a (k−1)-core, but not vice versa). On a near-dup pair graph the
    * surviving truss edges are the template-family cores whose members are
    * mutually corroborated, the high-precision subset an aggressive dedup
    * pass can drop without pairwise re-verification.
    *
    * Per round: one oriented-triangle enumeration ([[orientedTriangles]] —
    * compact-forward, so the wedge fan-out is outdeg² ≤ O(√m), skew-safe
    * without a hub valve), one 3-edge explode + map-combined count, one
    * edge semi-join; an anchor truncates the iterative lineage
    * exactly as [[connectedComponents]] does. Support is recomputed from
    * scratch each round (exact; the decrement-propagation optimization
    * trades that simplicity for asynchronous bookkeeping Spark has no
    * cheap primitive for). Returns the surviving edges with their
    * final-round support.
    */
  def kTrussPeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = undirectedEdges(pairs)
      .anchor(Bound.Fixture)
    def roundSupport(edges: DataFrame): DataFrame =
      orientedTriangles(edges)
        .select(explode(array(
          struct(least(col("x"), col("a")).as("u"), greatest(col("x"), col("a")).as("v")),
          struct(least(col("x"), col("b")).as("u"), greatest(col("x"), col("b")).as("v")),
          struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))))
          .as("te"))
        .select(col("te.u").as("u"), col("te.v").as("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= k - 2)
    // rounds 1..n-1 peel with a semi-join + eager anchor; the FINAL round
    // is the inner join directly (r18 fusion): `support` has unique (u, v)
    // keys, so e ⋉ support ⋈ support ≡ e ⋈ support — the r17 shape's last
    // semi-join + checkpoint then re-ran the whole triangle enumeration a
    // SECOND time under the final join's plan (q_ktruss A/B x4 interleaved,
    // exact-equal: 0.98-1.51 s -> 0.86-0.94, 32 -> 26 jobs).
    (1 until rounds).foreach { _ =>
      e = e.join(roundSupport(e).select(col("u"), col("v")), Seq("u", "v"), "left_semi")
        .anchor(Bound.Fixture)
    }
    e.join(roundSupport(e), Seq("u", "v"))
  }

  /** Synchronous label propagation (community detection): each node starts
    * labeled with its own id; per round, every node adopts the most frequent
    * label among its neighbors AND itself (ties → smallest label). Unlike
    * [[connectedComponents]] (which finds maximal connected sets), majority
    * voting lets dense regions keep distinct communities inside one
    * component — the template-family detector over a near-dup pair graph.
    *
    * Scale shape per round: one equi-join of the (both-orientation) edge
    * list against the label table on the neighbor key, one (node, label)
    * count with map-side combine, one per-node rank window — all
    * partitioned by node id. A celebrity node's votes reduce through
    * combiners; the per-node window state is its DISTINCT neighbor labels,
    * ≤ its degree. Labels are persisted per round and the previous round
    * unpersisted; fully deterministic, so round-for-round SQL-replicable.
    */
  def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    // ONE materialization per round (r18 dispatch-floor fusion, the
    // kCorePeel playbook): the pre-r18 shape lazily persisted each round's
    // labels and forced them with a separate count() action — two jobs plus
    // cache-block management per round; the eager anchor is one job and
    // truncates the round-stacking lineage in the same stroke. Scale bound:
    // labels is one (node, lbl) row per node — node-set-sized, the anchor
    // envelope class (see SCALE.md r18). q_label_prop A/B x4 interleaved,
    // exact-equal: 1.14-1.60 s (24 jobs) -> 0.67-0.93 (16 jobs).
    val e = undirectedEdges(pairs)
      .anchor(Bound.Fixture)
    val nodes = e.select(col("u").as("n")).union(e.select(col("v").as("n"))).distinct()
    var labels = nodes.select(col("n"), col("n").as("lbl"))
      .anchor(Bound.PerEntity)
    val w = Window.partitionBy(col("n")).orderBy(col("c").desc, col("lbl"))
    (1 to rounds).foreach { _ =>
      val votes = e.join(labels.select(col("n").as("v"), col("lbl")), "v")
        .select(col("u").as("n"), col("lbl"))
        .union(e.join(labels.select(col("n").as("u"), col("lbl")), "u")
          .select(col("v").as("n"), col("lbl")))
        .union(labels)
      labels = votes.groupBy(col("n"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("n"), col("lbl"))
        .anchor(Bound.PerEntity)
    }
    labels
  }

  /** Iterative k-core peel: repeatedly drop nodes of degree < `k` (and
    * their incident edges) for `rounds` rounds, then return the surviving
    * nodes with their in-core degrees. The k-core is THE density filter for
    * duplicate graphs — spokes and chains (one-off copies) peel away while
    * template families (mutually-similar boilerplate) survive; it is also
    * the standard preprocessing cut before community detection
    * ([[labelPropagation]]) and triangle counting.
    *
    * Fixed `rounds` keeps the operator round-for-round deterministic (and
    * therefore SQL-replicable by CTE unrolling, the `q_pagerank` /
    * `q_label_prop` precedent); callers wanting the true core run until the
    * edge signature stabilizes — on any graph at most O(n) rounds, in
    * practice a handful (each round removes every currently-under-k node at
    * once, not one node at a time like the sequential algorithm).
    *
    * Scale shape per round: one degree aggregate (map-side combined) and
    * two semi-joins keyed on single node ids — no window, no collect; the
    * edge set only shrinks. an anchor per round truncates the
    * otherwise round-stacking lineage exactly like [[pageRankFixedPoint]].
    */
  def kCorePeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    var e = undirectedEdges(pairs)
      .anchor(Bound.Fixture)
    (1 to rounds).foreach { _ =>
      val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("n"))
      e = e.join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .anchor(Bound.Fixture)
    }
    e.select(explode(array(col("u"), col("v"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("core_degree"))
  }

  /** Exact 2-hop neighborhood sizes — the "how fast does transitive
    * closure grow" audit run before committing to connected-components
    * dedup (a node whose 2-hop ball explodes signals a borderline-
    * threshold hub that will glue unrelated clusters): per node, its
    * direct degree and the count of distinct nodes exactly two hops away
    * (reachable in 2, not adjacent, not itself).
    *
    * Scale shape: one self-join of the symmetric adjacency list on the
    * middle vertex — fan-out Σ deg², the standard 2-hop cost; run it
    * after a degree cut ([[kCorePeel]]) or on frequency-cut pair tables
    * where degrees are bounded by construction. Everything downstream of
    * the join is distinct + counts on node keys.
    */
  def twoHopNeighbors(pairs: DataFrame): DataFrame = {
    val e = undirectedEdges(pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val two = adj.select(col("u"), col("v").as("m"))
      .join(adj.select(col("u").as("m"), col("v").as("w")), Seq("m"))
      .filter(col("u") =!= col("w"))
      .select(col("u"), col("w")).distinct()
      .join(adj.select(col("u"), col("v").as("w")), Seq("u", "w"), "left_anti")
    val direct = adj.groupBy(col("u")).agg(count(lit(1)).as("n_direct"))
    direct
      .join(two.groupBy(col("u")).agg(count(lit(1)).as("__n2")), Seq("u"), "left")
      .select(col("u").as("node_id"), col("n_direct"),
        coalesce(col("__n2"), lit(0L)).as("n_two_hop"))
  }

  /** Common-neighbor link prediction over the undirected pair graph: for
    * every NON-adjacent pair (a, b) with at least one shared neighbor, the
    * shared-neighbor count, the neighborhood-union size, and their ratio
    * (neighborhood Jaccard). In a dedup pipeline these are the "missing
    * edges" — pairs the pairwise threshold narrowly rejected but whose
    * graph context says are the same template family — the candidate list a
    * borderline-review pass or a threshold-sensitivity audit consumes.
    * Scores are exact integer counts; the one division is reporting.
    *
    * Scale shape: wedge enumeration at the shared neighbor (one self-join
    * of the symmetric adjacency list on the middle vertex, Σ deg² fan-out —
    * identical to [[twoHopNeighbors]]), then an edge anti-join and two
    * metadata-sized degree joins. Run after a degree cut on hub-prone
    * graphs; frequency-cut pair tables bound degrees by construction.
    * `maxMiddleDegree` is the in-operator hub valve: wedges whose MIDDLE
    * vertex exceeds the cap are dropped before the self-join (a degree-d
    * hub contributes d² wedges), with the disclosed bias that pairs whose
    * only shared neighbors are celebrity hubs go unscored — for link
    * prediction the signal you usually want to ignore anyway. Endpoint
    * degrees (and so `n_union`) stay exact.
    */
  def linkPrediction(pairs: DataFrame, maxMiddleDegree: Int): DataFrame = {
    require(maxMiddleDegree >= 1, s"maxMiddleDegree must be >= 1, got $maxMiddleDegree")
    // one EAGER anchor on the normalized edge set; adj deliberately NOT
    // persisted — it is a map-only union over the anchor, so each consumer
    // re-derives it for the cost of a local scan, cheaper at every scale
    // than a second materialization. The anchor also collapses the lineage
    // the old lazy double-persist kept live (same-window A/B in the window
    // that reproduced the driver's 3.2 s q_link_prediction reading:
    // 4.0-6.0 s with two lazy persists → 0.63 s anchored, identical rows).
    // Eager: calling this operator runs the edge-normalization job at once.
    val e = undirectedEdges(pairs)
      .anchor(Bound.Fixture)
    val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val middles =
      if (maxMiddleDegree == Int.MaxValue) adj
      else adj.join(deg.filter(col("d") <= maxMiddleDegree).select(col("u")),
        Seq("u"), "left_semi")
    // each wedge a–m–b (a < b) is one row per distinct middle m, so the
    // count per (a, b) IS |N(a) ∩ N(b)|; the anti-join drops already-linked
    // pairs (e is normalized u < v, matching the a < b orientation)
    val common = middles.select(col("v").as("a"), col("u").as("m"))
      .join(middles.select(col("u").as("m"), col("v").as("b")), Seq("m"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
      .join(e.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
    common
      .join(deg.select(col("u").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("__db")), Seq("b"))
      .select(col("a").as("node_a"), col("b").as("node_b"), col("n_common"),
        (col("__da") + col("__db") - col("n_common")).as("n_union"))
      .withColumn("nbr_jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
  }

  /** Duplicate-cluster size distribution — the audit a dedup run ships with
    * its decision log: for every cluster size, how many clusters, how many
    * documents they hold, and how many rows dedup will remove
    * (`size − 1` per cluster). Documents absent from the pair graph are
    * size-1 clusters via one anti-join, so the `n_docs` column totals the
    * corpus exactly — a drifting total is the canonical sign the pair
    * table and corpus snapshot are out of sync.
    *
    * Scale shape: one groupBy(component) bounded by #clusters, one
    * id-keyed anti-join, and a #distinct-sizes-row output — metadata-sized
    * end to end.
    */
  def clusterSizeAudit(components: DataFrame, universe: DataFrame): DataFrame = {
    val sizes = components.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(col("cluster_size"))
    val singles = universe.select(col("doc_id"))
      .join(components.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(lit(1L).as("cluster_size"))
    sizes.unionByName(singles)
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("n_clusters") * col("cluster_size"))
      .withColumn("n_removable", col("n_clusters") * (col("cluster_size") - 1))
  }

  /** Canonical representative per duplicate cluster: the highest-quality
    * member (ties → lowest id) of each [[connectedComponents]] component —
    * the decision a real dedup ships (keep the best copy, not the
    * first-crawled one). One window top-1 per component (WindowGroupLimit:
    * only per-task winners shuffle) plus a metadata-sized count join.
    */
  def canonicalPerCluster(components: DataFrame, scores: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = components.select(col("id").as("doc_id"), col("component"))
      .join(scores.select(col("doc_id"), col("quality_score")), "doc_id")
    val counts = joined.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(counts, "component")
      .select(col("component"), col("doc_id").as("canon_id"),
        col("quality_score").as("canon_score"), col("n_members"))
  }

  /** Two-iteration fixed-point PageRank over the undirected pair graph:
    * probabilities are scaled integers (`scale` = 10¹² = 1.0) and every
    * division is a floor — so the
    * result is bit-reproducible on any engine, cluster, or partitioning,
    * unlike floating PageRank whose per-node neighbor sums depend on
    * reduction order. Per iteration:
    * `pr'(v) = (15·scale) div 100 + (85 · Σ_{u~v} pr(u) div deg(u)) div 100`.
    * The floor drift vs exact PageRank is < deg(v) parts in `scale` per
    * iteration — ranking-irrelevant at scale = 10¹².
    *
    * Scale shape: one degree aggregate up front; each iteration is one
    * id-keyed join (contributions) and one aggregate (neighbor sum) — the
    * classic message-passing round, lineage-truncated like
    * [[connectedComponents]]. Overflow bound: 85 · deg(v) · scale must fit
    * int64, i.e. max degree ≲ 10⁵.
    */
  def pageRankFixedPoint(pairs: DataFrame): DataFrame = {
    val scale = 1000000000000L
    val e = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("du"))
    val edges = sym.join(deg, "u")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = 15L * scale / 100L
    var pr = deg.select(col("u").as("id"), lit(scale).as("pr"))
    (1 to 2).foreach { _ =>
      pr = edges.join(pr, edges("u") === pr("id"))
        .select(col("v"), expr("pr div du").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("s"))
        .select(col("v").as("id"),
          (lit(base) + expr("(85 * s) div 100")).as("pr"))
        .anchor(Bound.PerEntity)
    }
    pr
  }

  /** Personalized PageRank — [[pageRankFixedPoint]] with the restart mass
    * pinned to a SEED set instead of spread uniformly: the graph-expansion
    * primitive for curation ("given these trusted/contaminated documents,
    * rank everything by proximity in the duplicate/similarity graph").
    * Same scaled-integer message discipline (10¹² units per seed, 15%
    * restart, integer div floors) — every round is deterministic integer
    * arithmetic, so iterations unroll into an exact SQL oracle and the
    * result is bit-reproducible on any cluster. Non-seed nodes receive
    * NO restart mass; nodes disconnected from every seed stay exactly 0.
    *
    * Scale shape per round: one degree-annotated edge join + one sum by
    * destination + a left join back onto the node table — shuffles keyed
    * on node ids only; an anchor truncates the per-round lineage.
    */
  def personalizedPageRank(pairs: DataFrame, seeds: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("du"))
    val edges = sym.join(deg, "u")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sd = seeds.select(col(seeds.columns.head).cast("long").as("id"))
      .distinct().withColumn("__s1", lit(1L))
    val nodes = deg.select(col("u").as("id"))
      .join(sd, Seq("id"), "left")
      .select(col("id"), coalesce(col("__s1"), lit(0L)).as("__s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = 15L * 1000000000000L / 100L
    var pr = nodes.select(col("id"), (col("__s") * lit(1000000000000L)).as("pr"))
    (1 to 2).foreach { _ =>
      val msgs = edges.join(pr, edges("u") === pr("id"))
        .select(col("v"), expr("pr div du").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      pr = nodes.join(msgs, nodes("id") === msgs("v"), "left")
        .select(col("id"),
          (col("__s") * lit(base) +
            expr("(85 * coalesce(s, 0L)) div 100")).as("pr"))
        .anchor(Bound.PerEntity)
    }
    pr
  }

  /** (id, component) for every node of the undirected edge set
    * `pairs(id_a, id_b)`; `component` is the smallest node id reachable from
    * `id` (so planted-duplicate groups get their original doc as canon).
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u}).
    // Emitted edges always point child → strictly-smaller parent.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
        .distinct()
    }

    // small-star on child→parent edges (v < u): u and all its parents link
    // to the smallest parent.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("mn"))
      e.join(mins, "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .unionAll(mins.select(col("u"), col("mn").as("v")))
        .distinct()
    }

    // (count, hash-xor) fingerprint: equal fingerprints ⇒ same edge set
    // (order-independent; xor, not sum — ANSI mode overflows a long sum of
    // 64-bit hashes), so the loop detects the fixpoint with one aggregate
    // instead of a full except() comparison
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(call_function("bit_xor", xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var edges = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .anchor(Bound.Fixture)
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < 30) {
      val next = smallStar(largeStar(edges)).anchor(Bound.Fixture)
      val nextSig = signature(next)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      iter += 1
    }
    require(converged, "connected components did not converge in 30 rounds")
    // fixpoint is a star forest child→root; roots carry themselves
    edges.select(col("u").as("id"), col("v").as("component"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Deterministic random-walk corpus for graph-embedding training
    * (DeepWalk/node2vec's data-generation stage): one `steps`-hop walk per
    * start node, where the "random" neighbor choice at step s is the
    * argmin of `md5("walk":walk:s:neighbor)` over the adjacency — a seeded
    * pseudo-random draw that is exactly reproducible on any cluster (the
    * same md5-permutation discipline as the sampling family). Dead ends stay put (self-hold), so every walk has full
    * length. Output: (walk, step1 … stepN).
    *
    * Scale shape: per step, one equi-join on the current node (O(Σ degree)
    * candidate rows) + one per-walk ARGMIN AGGREGATE — `min_by(nxt,
    * (md5, nxt))`, a hash aggregate with map-side partial combine, NOT a
    * row_number window: no sort, and a hub's candidate rows collapse to one
    * partial per map task before the shuffle, so a degree-10⁶ celebrity node
    * visited by W walks ships O(W · tasks) partials, not W·10⁶ sorted rows.
    * Steps are a small constant and walk state is one row per walk. The walk
    * corpus feeds skip-gram samplers exactly like a token corpus.
    */
  def randomWalks(edges: DataFrame, steps: Int): DataFrame = {
    val adjP = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = adjP.select(col("u")).distinct()
    var walk = nodes.select(col("u").as("walk"), col("u").as("cur"))
    (1 to steps).foreach { s =>
      val cand = walk.join(adjP, walk("cur") === adjP("u"), "left_outer")
        .select(walk.columns.map(col) :+
          coalesce(col("v"), col("cur")).as("nxt"): _*)
      // seeded draw = argmin over (md5 key, nxt): min_by over an orderable
      // struct reproduces row_number-over-(md5, nxt) pick #1 exactly, with
      // the tie-break inside the ordering key so the argmin is total
      val key = struct(
        md5(concat_ws(":", lit("walk"), col("walk"), lit(s), col("nxt"))),
        col("nxt"))
      val carried = walk.columns.filter(c => c != "walk" && c != "cur")
        .map(c => min(col(c)).as(c)) // constant within the group: exact carry
      walk = cand.groupBy(col("walk"))
        .agg(min_by(col("nxt"), key).as(s"step$s"), carried.toSeq: _*)
        .withColumn("cur", col(s"step$s"))
    }
    walk.drop("cur")
      .select(col("walk") +: (1 to steps).map(s => col(s"step$s")): _*)
  }

  /** HITS hubs-and-authorities (Kleinberg), UNNORMALIZED for exactness:
    * with h₀ ≡ 1, authority a₁(v) = Σ_{u→v} h₀(u) = in-degree, hub
    * h₁(u) = Σ_{u→v} a₁(v), a₂(v) = Σ_{u→v} h₁(u) — every score an exact
    * BIGINT (the usual L2 normalization only rescales the ranking and
    * costs a cross-engine sqrt, so it is deliberately omitted; two rounds
    * keep magnitudes ≤ deg·max-degree², far under 2⁶³ for real graphs).
    *
    * Scale shape: each half-round is ONE equi-join of the score table onto
    * the edge list plus a map-combined aggregate — the PageRank message
    * shape without the dangling-mass correction. Edges are used as-is
    * (directed); scores live keyed by node.
    *
    * `edges` must be distinct and materialized (anchored, scanned or
    * local): its three consumers (a1, the h1 join, the a2 join) read it as
    * is, so a caller that builds the edges with a join fuses the distinct
    * into its one anchor (q_hits).
    */
  def hits(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val a1 = e.groupBy(col("dst")).agg(count(lit(1)).as("a1")) // Σ h0 = indeg
    val h1 = e.join(a1, Seq("dst"))
      .groupBy(col("src")).agg(sum(col("a1")).as("h1"))
    val a2 = e.join(h1, Seq("src"))
      .groupBy(col("dst")).agg(sum(col("h1")).as("a2"))
    a1.join(a2, Seq("dst"), "left_outer")
      .select(col("dst").as("node"), col("a1").as("authority1"),
        coalesce(col("a2"), lit(0L)).as("authority2"))
  }

  /** Degree-assortativity coefficient (Newman): the Pearson correlation of
    * endpoint degrees over the directed-both-ways edge list — do similar-
    * degree nodes attach to each other (r > 0, social graphs) or do hubs
    * attach to leaves (r < 0, web/biology)? The ONE number that says
    * whether a dedup/citation graph's hubs are a star risk.
    *
    * Exactness: degrees and all five moment sums are BIGINTs; the n·Σ
    * products go through DECIMAL(38) (the [[graft.analytics.Correlation]]
    * pearsonMatrix discipline) and r is one fixed-operand-order IEEE
    * expression. One degree aggregate, two broadcast-shaped joins onto the
    * edge list, one map-combined moment aggregate.
    */
  def degreeAssortativity(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val m = e
      .join(deg.select(col("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dy")), Seq("v"))
      .agg(count(lit(1)).as("m"), sum(col("dx")).as("sx"),
        sum(col("dy")).as("sy"), sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val num = (dec(col("m")) * col("sxy") - dec(col("sx")) * col("sy")).cast("double")
    val da = (dec(col("m")) * col("sxx") - dec(col("sx")) * col("sx")).cast("double")
    val db = (dec(col("m")) * col("syy") - dec(col("sy")) * col("sy")).cast("double")
    m.withColumn("assortativity",
      when(da > 0.0 && db > 0.0, num / (sqrt(da) * sqrt(db)))
        .otherwise(lit(null).cast("double")))
  }

  /** Newman modularity Q of a GIVEN node partition over the undirected
    * `pairs` graph — the quality score that tells you whether a community
    * assignment (label propagation output, a blocking scheme, a shard
    * map) actually concentrates edges inside its groups:
    * Q = Σ_c [L_c/m − (D_c/2m)²] with L_c intra-community edges, D_c the
    * community degree sum, m the edge count.
    *
    * Computed as the EXACT integer numerator q_num = Σ_c (4·m·L_c − D_c²)
    * over denominator 4m² — one gated division at the end, so the score
    * hash-verifies. Scale shape: two node-keyed equi-joins to label edge
    * endpoints, map-combined aggregates to a |communities|-row frame,
    * one final fold. Nothing is ever quadratic in nodes or communities.
    */
  def modularity(pairs: DataFrame, communities: DataFrame): DataFrame = {
    val e = undirectedEdges(pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cm = communities.select(col("node_id").cast("long").as("n"),
      col("community").as("c"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val dc = deg.join(cm, Seq("n")).groupBy(col("c")).agg(sum(col("d")).as("dc"))
    val lc = e
      .join(cm.select(col("n").as("u"), col("c").as("cu")), Seq("u"))
      .join(cm.select(col("n").as("v"), col("c").as("cv")), Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(count(lit(1)).as("lc"))
    val mRow = broadcast(e.agg(count(lit(1)).as("m")))
    def dec(c: Column) = c.cast("decimal(38,0)")
    dc.join(lc, Seq("c"), "left_outer")
      .select(col("c"), col("dc"), coalesce(col("lc"), lit(0L)).as("lc"))
      .crossJoin(mRow)
      .agg(
        max(col("m")).as("m"),
        count(lit(1)).as("n_communities"),
        sum(dec(col("lc")) * dec(col("m")) * lit(4) - dec(col("dc")) * dec(col("dc")))
          .cast("decimal(38,0)").as("q_num"))
      .withColumn("modularity",
        when(col("m") > 0,
          col("q_num").cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double"))))
      // exact numerator ships as canonical plain-digit string, never DECIMAL
      .withColumn("q_num", col("q_num").cast("string"))
  }

  /** Bounded-round single-source-set shortest paths over a weighted
    * undirected graph — distributed Bellman–Ford: `rounds` synchronous
    * relaxations, each ONE equi-join of the current distance table
    * against the adjacency list plus ONE min-aggregate (map-side
    * combinable), an anchor per round. Unlike [[bfsHops]] a
    * cheaper path may reach an ALREADY-visited node, so the min-fold is
    * load-bearing, and the result is exact over all paths of ≤ `rounds`
    * edges (the bounded-radius contract that keeps cost O(edges within
    * the ball) instead of O(diameter) at 100 TB). Integer weights ⇒
    * distances exact BIGINTs.
    */
  def boundedShortestPaths(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col("id_a").cast("long").as("u"),
      col("id_b").cast("long").as("v"), col("w").cast("long").as("w"))
      .filter(col("u") =!= col("v"))
    val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col("node_id").cast("long").as("node_id"))
      .distinct().withColumn("dist", lit(0L)).anchor(Bound.PerEntity)
    var r = 0
    while (r < rounds) {
      val relaxed = dist.join(adj, dist("node_id") === adj("u"))
        .select(adj("v").as("node_id"), (dist("dist") + adj("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node_id")).agg(min(col("dist")).as("dist"))
        .anchor(Bound.PerEntity)
      r += 1
    }
    dist
  }

  /** Minimum-hop distances from a seed set by synchronous frontier BFS
    * over the undirected `pairs` graph, bounded at `maxHops` rounds —
    * the reachability primitive (contamination spread from flagged
    * documents, catalog distance from a seed set, bounded-radius
    * neighborhood extraction) that a recursive CTE expresses on a
    * single-node engine.
    *
    * Per round: ONE equi-join of the current frontier against the
    * adjacency list plus ONE anti-join against the visited set — no
    * per-node state, no driver-side queue. Because expansion is
    * synchronous, the first round that reaches a node IS its minimum
    * hop, so no min-aggregate re-visits are ever needed. Each round
    * anchors the visited set (lineage would otherwise stack
    * one optimizer pass per round — the star-contraction discipline).
    * Rounds are bounded by `maxHops`, not convergence: the contract is
    * "everything within radius k", which is also what keeps the cost
    * O(edges within k hops) on a 100 TB graph instead of O(diameter).
    */
  def bfsHops(pairs: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = seeds.select(col("node_id").cast("long").as("node_id"))
      .distinct().withColumn("hop", lit(0)).anchor(Bound.PerEntity)
    var frontier = visited
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(adj, frontier("node_id") === adj("u"))
        .select(adj("v").as("node_id")).distinct()
        .join(visited, Seq("node_id"), "left_anti")
        .withColumn("hop", lit(h))
      visited = visited.unionByName(next).anchor(Bound.PerEntity)
      frontier = visited.filter(col("hop") === h)
      h += 1
    }
    visited
  }

}
