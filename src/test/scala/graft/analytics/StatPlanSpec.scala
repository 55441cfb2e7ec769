package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape pins for this session's statistics/eval/matching operators —
  * the properties that keep them valid at 100 TB: no product joins beyond
  * the documented 1-row broadcasts, windows partitioned by real keys (or
  * provably riding metadata-sized frames), join-free sort-once matching.
  */
class StatPlanSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def products(p: String): Int =
    "CartesianProduct|BroadcastNestedLoop".r.findAllIn(p).size

  private val docs = graft.Tables.documents(spark, sf())

  test("bleu ngramPrecision: (pair, n, gram) equi-join; only product is the 1-row lens broadcast") {
    val pairs = docs.select(col("doc_id").as("pid"), col("text").as("cand"),
      col("text").as("ref"))
    val df = graft.text.BleuScore.ngramPrecision(pairs, "pid", "cand", "ref")
    val p = plan(df)
    assert(products(p) <= 1, s"bleu planned ${products(p)} products:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), s"gram join must be an equi-join:\n$p")
  }

  test("bootstrap meanCI: rank/CI windows sit above the B-row replicate aggregate, never the data") {
    val df = Bootstrap.meanCI(docs, col("doc_id"), col("n_chars"), "pp")
    assert(products(plan(df)) <= 1, "only the 1-row stats broadcast may be a product")
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "every bootstrap window must sit above the replicate aggregate")
    }
  }

  test("targetEncodeLOO: category stats come back via broadcast joins only") {
    val df = graft.ops.Encoding.targetEncodeLOO(
      docs.select(col("doc_id"), col("lang")), col("lang"), col("doc_id") % 2 === 0)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"stats join must broadcast:\n$p")
    assert(products(p) <= 1, s"only the 1-row prior may be a product:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the fact side must not shuffle:\n$p")
  }

  test("matching nearestControl: NO join anywhere — one stratum-partitioned sort") {
    val df = graft.ops.Matching.nearestControl(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      col("lang"), col("doc_id"), col("n_chars"), col("doc_id") % 4 === 0)
    val p = plan(df)
    assert(!p.contains("Join"), s"1-D matching must be join-free:\n$p")
    val global = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty, "matching windows must partition by stratum")
  }

  test("autocorrelation: every lag rides ONE entity-partitioned window (one sort, no global window)") {
    val ev = graft.Tables.events(spark, sf())
    val df = graft.ops.TimeSeries.autocorrelation(ev, "user_id", "ts",
      "event_id", col("value").cast("long"), Seq(1, 2, 3))
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size === 1, s"all lags must share one window node, saw ${windows.size}")
    assert(windows.head.partitionSpec.nonEmpty, "the lag window must partition by entity")
  }

  test("clusteringCoefficient: equi-joins only, no product") {
    val p = plan(graft.SparkEntry.queries("q_clustering_coeff")(spark, sf()))
    assert(products(p) === 0, s"clustering coefficient planned a product:\n$p")
  }

  test("aucDeLong: like aucExact, the only global window rides the bucket-aggregate frame") {
    val df = (1 to 400).map(i => (i.toLong * 17 % 509, i % 4 == 0)).toDF("s", "y")
    val out = Eval.aucDeLong(df, col("s"), col("y"))
    val globals = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globals.size === 1, "exactly the bucket-frame window may be global")
    assert(globals.head.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "the global window must sit above the bucket histogram")
    assert(products(plan(out)) <= 2,
      "only the totals + bucket-cum broadcasts may be products")
  }

  test("mrrAtK: one group-partitioned rank window, no product, no global window") {
    val ev = graft.Tables.events(spark, sf())
    val out = Eval.mrrAtK(ev, col("user_id"), col("value").cast("long"),
      col("event_id"), col("event_type") === "purchase")
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size === 1 && windows.head.partitionSpec.nonEmpty)
    assert(products(plan(out)) === 0)
  }

  test("survival hazardTable: the only global window rides the per-day aggregate frame") {
    val ev = graft.Tables.events(spark, sf())
    val df = Survival.hazardTable(ev, col("user_id"), to_date(col("ts")))
    val global = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(global.size === 1)
    assert(global.head.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "the risk-set cumulative must sit above the per-day aggregate")
  }

  test("round-11 kernels: windows above bounded aggregates, products are 1-row broadcasts only") {
    val ev = graft.Tables.events(spark, sf())
    // mannWhitney: the rank window rides the distinct-cents histogram
    val mw = Hypothesis.mannWhitney(
      ev.select(col("event_type"), round(col("value") * 100, 0).cast("long").as("c")),
      col("event_type") === "purchase", "c")
    val mwWindows = mw.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(mwWindows.nonEmpty)
    mwWindows.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "MW rank window must sit above the value histogram")
    }
    // smdBalance: aggregation only - no join anywhere
    val smd = Hypothesis.smdBalance(ev, col("user_id") % 2 === 0,
      Seq(("c", round(col("value") * 100, 0).cast("long"))))
    val psmd = plan(smd)
    assert(!psmd.contains("Join"), s"SMD must be join-free:\n$psmd")
    // logRank: E/V windows ride the per-day aggregate, never the events
    val lr = graft.analytics.Survival.logRank(ev, col("user_id"),
      to_date(col("ts")), col("user_id") % 2 === 0)
    val lrWindows = lr.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(lrWindows.nonEmpty)
    lrWindows.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, "log-rank windows must sit above the day life table")
    }
    // neymanAllocation: quota/rank windows above the stratum aggregate;
    // no product at all
    val ney = graft.ops.Sampling.neymanAllocation(ev, col("event_type"),
      round(col("value") * 100, 0).cast("long"), budget = 100)
    assert(products(plan(ney)) == 0, s"neyman planned a product:\n${plan(ney)}")
    // centroidSilhouette: the only join is the broadcast of the k x 64
    // centroid frame - never a shuffle join of the points
    val emb = graft.Tables.embeddings(spark, sf())
    val sil = graft.sim.Similarity.centroidSilhouette(emb)
    val psil = plan(sil)
    assert(!psil.contains("SortMergeJoin"),
      s"silhouette must broadcast centroids, not shuffle points:\n$psil")
  }
}
