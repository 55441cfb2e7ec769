package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape pins for the summary-structure operators — the properties
  * that keep them valid at 100 TB.
  */
class SummaryPlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val docs = graft.Tables.documents(spark, sf())

  test("countMin sketch: one map-combined hash aggregate, no window, no join") {
    val toks = docs.select(explode(split(col("text"), "\\s+")).as("token"))
    val p = plan(CountMin.sketch(toks, "token"))
    assert(!p.contains("Window"), s"sketch must not window:\n$p")
    assert(!p.contains("Join"), s"sketch must not join:\n$p")
    // partial + final HashAggregate = map-side combine into ≤ d·w rows
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"sketch must partially aggregate before the shuffle:\n$p")
  }

  test("countMin estimate: the grid joins BROADCAST — the corpus is never re-shuffled") {
    val toks = docs.select(explode(split(col("text"), "\\s+")).as("token"))
    val grid = CountMin.sketch(toks, "token")
    val p = plan(CountMin.estimate(grid, toks.distinct(), "token"))
    assert(p.contains("BroadcastHashJoin"),
      s"estimate must broadcast the metadata-sized grid:\n$p")
  }

  test("winnowing: every window is doc-partitioned (no global window), pair join is equi") {
    val fpsPlan = graft.dedup.Winnowing.fingerprints(docs)
    val globals = fpsPlan.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, s"winnowing planned a global window: $globals")
    val p = plan(graft.dedup.Winnowing.fingerprintPairs(docs))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fingerprint pair join must be equi:\n$p")
  }

  test("quantiles2pass: pass 2 joins the straddling buckets broadcast; in-bucket rank windows are p-partitioned") {
    val cents = graft.Tables.orders(spark, sf()).select(
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val df = Quantiles.exactQuantilesTwoPass(cents, "cents", Seq(500), 100000L)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"pass-2 target join must broadcast:\n$p")
    // the only empty-partition window allowed is the cumulative sum over
    // the metadata-sized histogram — the in-bucket rank must be keyed by p
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "in-bucket rank window must be partitioned by the quantile key")
  }

  test("linkPrediction: wedge join is an equi-join on the middle vertex, no product") {
    val e = docs.select((col("doc_id") % 50).as("id_a"), (col("doc_id") % 97).as("id_b"))
    val p = plan(graft.dedup.DupClusters.linkPrediction(e, maxMiddleDegree = Int.MaxValue))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"link prediction planned a product:\n$p")
  }

  test("hllGrid registers: one map-combined aggregate, no window/join; estimate joins the 256-row domain only") {
    val toks = docs.select(explode(split(col("text"), "\\s+")).as("token"))
    val p = plan(HllGrid.registers(toks, "token"))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"register build must be pure aggregation:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"registers must partially aggregate before the shuffle:\n$p")
  }

  test("pca power iteration: per-round vector joins broadcast; dim aggregate map-combines") {
    val df = (1 to 50).map(i => (i.toLong, Array.fill(8)(i.toFloat / 100)))
      .toDF("vec_id", "embedding")
    val out = graft.sim.PowerIteration.topComponent(df, d = 8)
    out.collect() // finalize AQE
    val p = plan(out).split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"round-2 vector must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"power iteration planned a cartesian (the 1-row rescale crossJoins are broadcast):\n$p")
  }

  test("cdc chunking: the boundary-count window is doc-partitioned; rollup is a hash aggregate") {
    val df = graft.dedup.ContentChunking.chunks(docs)
    val globals = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "CDC planned a global window")
    assert(plan(df).contains("HashAggregate") ||
      plan(df).contains("ObjectHashAggregate"))
  }

  test("kTrussPeel: every per-round join is equi (no cartesian/BNLJ)") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val p = plan(graft.dedup.DupClusters.kTrussPeel(e, k = 3, rounds = 2))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"k-truss planned a product:\n$p")
  }

  test("survivorship: one hash aggregate, no window, no join") {
    val recs = Seq((1L, 0L, "a", 1L)).toDF("ck", "rev", "name", "bal")
    val p = plan(graft.ops.Survivorship.goldenRecords(recs, "ck", Seq("rev"),
      Seq("name", "bal")))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"survivorship must be pure aggregation:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"))
  }

  test("abTest: unit rollup is a map-combined aggregate; no window, no join") {
    val ev = graft.Tables.events(spark, sf())
    val p = plan(Drift.abTest(ev, "user_id", col("event_type") === "purchase", "t",
      minSuccesses = 1L))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"abTest must be pure aggregation:\n$p")
  }
}
