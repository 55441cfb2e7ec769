package graft.queries

import graft.{Fixtures, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared derived graphs, materialized ONCE per SF dir (the
  * [[graft.text.TextAnalysis.materializePostings]] discipline): the
  * significant co-purchase part graph is consumed by seven operators
  * (link prediction, clustering coefficient, BFS, HyperBall, modularity,
  * shortest paths, weak ties), and re-deriving its lineitem self-join in
  * every query is exactly the repeated work a production pipeline
  * materializes as a derived table per snapshot. Each consumer still
  * hash-verifies against an oracle that recomputes the graph from
  * lineitem, so the materialization is proven equivalent on every run.
  *
  * The build cost lands once in whichever consumer runs first; the table
  * is node-bucketed so downstream node-keyed joins can co-locate.
  * BASELINE.md §Amortization is the binding convention; GraphsSpec holds
  * the required table ≡ recomputation proofs.
  */
object Graphs {

  /** Distinct (basket = l_orderkey, item = l_partkey) rows, materialized
    * once per SF dir and bucketed+sorted by basket — the shared upstream
    * of both the co-purchase graph build and the whole itemset family
    * (frequent pairs/triples, association rules), each of which otherwise
    * re-scans lineitem and re-pays the same distinct shuffle. Basket
    * bucketing co-locates the per-basket self-joins those consumers run.
    */
  def baskets(s: SparkSession, dir: String): DataFrame =
    s.table(Fixtures.bucketedTable(s, "baskets", dir, "basket", 8,
        Seq("basket", "item")) {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
        .distinct()
    })

  /** Per-node triangle participation counts of the co-purchase graph,
    * materialized once per SF dir: the oriented-triangle enumeration
    * ([[graft.dedup.DupClusters.triangleCounts]]) is the shared upstream
    * of the local clustering coefficient (per-node), global transitivity
    * (Σ over nodes = 3·triangles), and the triangle-census health checks —
    * re-enumerating it per query repeats the family's most expensive
    * join. Consumers' oracles still recount triangles naively from
    * lineitem, so the materialization is proven exact on every run.
    */
  def copurchaseTriangles(s: SparkSession, dir: String): DataFrame =
    s.table(Fixtures.bucketedTable(s, "copurchase_tri", dir, "node_id", 8,
        Seq("node_id")) {
      graft.dedup.DupClusters.triangleCounts(copurchaseEdges(s, dir))
        .select(col("doc_id").as("node_id"), col("n_triangles"))
    })

  /** Edges (id_a, id_b) of the deterministic star-and-ring community
    * graph over document ids — each 10-block's hub collects its nine
    * spokes, hubs chain to the next hub within the 100-block —
    * materialized once per SF dir. Six registry operators (label
    * propagation, random walks, assortativity, k-core, 2-hop, PPR)
    * re-derive this same frame from `documents` per query; like
    * [[copurchaseEdges]] it is the derived-graph-per-snapshot table a
    * production pipeline would keep, bucketed by `id_a` so node-keyed
    * downstream joins co-locate. Every consumer's oracle still rebuilds
    * the graph from `documents` in SQL, so the materialization is proven
    * equivalent on every driver run.
    */
  def starRingEdges(s: SparkSession, dir: String): DataFrame =
    s.table(Fixtures.bucketedTable(s, "starring", dir, "id_a", 8,
        Seq("id_a", "id_b")) {
      val ids = Tables.documents(s, dir).select(col("doc_id").as("id"))
      val star = ids.filter(col("id") % 10 =!= 0)
        .select((col("id") - col("id") % 10).as("id_a"), col("id").as("id_b"))
      val ring = ids.filter(col("id") % 10 === 0 && col("id") % 100 < 90)
        .select(col("id").as("id_a"), (col("id") + 10).as("id_b"))
        .join(ids.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b"))
      star.unionByName(ring)
    })

  /** [[starRingEdges]] plus the per-100-block cycle-closing edge
    * (hub 90 → hub 0), so each block's ten hubs form a closed cycle —
    * the planted graph of the k-core / 2-hop / personalized-PageRank
    * operators, materialized once per SF dir with the same oracle
    * discipline (consumers' oracles rebuild from `documents`).
    */
  def hubCycleEdges(s: SparkSession, dir: String): DataFrame =
    s.table(Fixtures.bucketedTable(s, "hubcycle", dir, "id_a", 8,
        Seq("id_a", "id_b")) {
      val closing = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0 && col("doc_id") % 100 === 90)
        .select((col("doc_id") - lit(90L)).as("id_a"), col("doc_id").as("id_b"))
      starRingEdges(s, dir).unionByName(closing)
    })

  /** Edges (id_a < id_b) of the significant co-purchase graph: part
    * pairs sharing ≥ 2 distinct orders.
    */
  def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    s.table(Fixtures.bucketedTable(s, "copurchase", dir, "id_a", 8,
        Seq("id_a", "id_b")) {
      val li = baskets(s, dir).select(col("basket").as("ok"), col("item").as("pk"))
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("id_a"), col("y.pk").as("id_b"))
        .agg(count(lit(1)).as("__sup"))
        .filter(col("__sup") >= 2)
        .select(col("id_a"), col("id_b"))
    })
}
