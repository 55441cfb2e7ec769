package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Plan-shape pins for the round-8 text/graph/selection operators — the
  * properties that keep them valid at 100 TB (no product joins, bounded
  * windows, broadcast-only where claimed).
  */
class Round8PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val docs = graft.Tables.documents(spark, sf())

  test("rakeKeyphrases: no product join; top-k plans as TakeOrderedAndProject") {
    val p = plan(graft.text.TextAnalysis.rakeKeyphrases(docs))
    assert(!p.contains("CartesianProduct"), s"rake planned a product:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"rake top-k must not global-sort:\n$p")
  }

  test("phraseSearch: equi-joins on (doc, start) only — no product, no NLJ") {
    val p = plan(graft.text.TextAnalysis.phraseSearch(docs, Seq("table", "hash")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"phrase search planned a product:\n$p")
  }

  test("randomWalks: per-step windows partition by walk (no global window), no product") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val df = graft.dedup.DupClusters.randomWalks(edges, steps = 2)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"walks planned a product:\n$p")
    // every Window node (if any) carries a non-empty partition spec — a
    // global window would single-task the step join at scale
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"unpartitioned window in walks:\n$p")
    // semantic: walks never leave the path graph's node set
    val rows = df.collect()
    val nodes = Set(0L, 1L, 2L, 3L)
    rows.foreach { r =>
      assert(nodes.contains(r.getLong(1)) && nodes.contains(r.getLong(2)))
    }
    // determinism across partitionings
    val again = graft.dedup.DupClusters.randomWalks(edges.repartition(3), steps = 2)
      .orderBy(col("walk")).collect().toSeq
    assert(again == df.orderBy(col("walk")).collect().toSeq)
  }

  test("lDiversity is one aggregate (no join, single exchange)") {
    val d = Seq(("a", 1, "x"), ("a", 1, "y"), ("b", 2, "x"))
      .toDF("q1", "q2", "sv")
    val p = plan(graft.ops.Privacy.lDiversity(d, Seq("q1", "q2"), "sv", 2))
    assert(!p.contains("Join"), s"l-diversity must not join:\n$p")
  }
}
