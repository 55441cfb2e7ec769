package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape pins for the round-9 operators — the properties that keep
  * them valid at 100 TB (no product joins, equi-join keys where claimed,
  * bounded tops instead of global sorts).
  */
class Round9PlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val docs = graft.Tables.documents(spark, sf())

  test("skipGram pairs: the (doc, position) pair join is an equi-join; the only product is the 1-row broadcast totals") {
    val df = graft.text.SkipGram.pairs(docs, window = 2, minCount = 2L,
      tNum = 1L, tDen = 100L)
    df.collect() // finalize AQE so the 1-row broadcast side resolves
    // executedPlan.toString on a finalized AQE plan prints Final AND
    // Initial sections — pin the FINAL one only
    val p = plan(df).split("== Initial Plan ==").head
    // the corpus-sized pair join must hash/merge on (doc, p); a data-sized
    // nested loop would be the scale-killer this pin exists to catch. The
    // N-totals crossJoin is a broadcast 1-row invariant (repo discipline) —
    // count product joins and require at most that one.
    val products = "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size
    assert(products <= 1, s"skip-gram planned ${products} products:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), s"pair join must be an equi-join:\n$p")
  }

  test("editDistancePairs: block-key equi-join only — band+verify stay residual") {
    val keyed = docs.select(col("doc_id"), substring(col("text"), 1, 20).as("k"))
    val p = plan(graft.dedup.Dedup.editDistancePairs(keyed, "k", maxDist = 3))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"ER planned a product:\n$p")
  }

  test("giniStumps: top-m via TakeOrderedAndProject, not a global sort") {
    val df = graft.text.FeatureSelect.giniStumps(docs,
      when(col("lang") === "en", 1L).otherwise(0L))
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"gini top-m must not global-sort:\n$p")
  }

  test("hits: two equi-join rounds, no product") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = plan(graft.dedup.DupClusters.hits(e))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("rendezvous assign: argmax is a hash aggregate keyed by the key (no window sort)") {
    val keys = docs.select(col("doc_id"))
    val df = graft.ops.Sharding.assign(keys, "doc_id", n = 8)
    val p = plan(df)
    assert(!p.contains("Window"), s"rendezvous must aggregate, not window:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"argmax should hash-aggregate:\n$p")
  }

  test("tCloseness: windows bounded by the value domain partition by group") {
    val joined = graft.Tables.customer(spark, sf())
      .join(graft.Tables.orders(spark, sf()), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("o_orderpriority"))
    val df = graft.ops.Privacy.tCloseness(joined,
      Seq("c_mktsegment", "c_nationkey"), "o_orderpriority", 0.12)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "t-closeness must not use a global window")
  }
}
