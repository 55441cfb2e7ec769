package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Physical-plan shape assertions: the plans we want at 100 TB, not just the
  * first ones that pass (builder prompt: explain-and-iterate).
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q5 broadcasts all four dimension joins") {
    val p = plan(StarQueries.localSupplierVolume(spark, sf()))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts in:\n$p")
  }

  test("q7 broadcasts both nation roles + dims; q9 broadcasts the filtered part side") {
    val p7 = plan(StarQueries.volumeShipping(spark, sf()))
    assert("BroadcastHashJoin".r.findAllIn(p7).size >= 4,
      s"q7 must broadcast supplier/customer/both nation roles:\n$p7")
    assert(!p7.contains("CartesianProduct"), s"q7 planned a product join:\n$p7")
    val p9 = plan(StarQueries.productProfit(spark, sf()))
    assert("BroadcastHashJoin".r.findAllIn(p9).size >= 3,
      s"q9 must broadcast part/supplier/nation:\n$p9")
  }

  test("q18 aggregates the fact before any join and broadcasts customer; q4 plans one semi-join") {
    val p18 = plan(StarQueries.largeOrders(spark, sf()))
    assert(p18.contains("BroadcastHashJoin"), s"q18 must broadcast customer:\n$p18")
    assert(!p18.contains("CartesianProduct"), s"q18 planned a product join:\n$p18")
    assert(p18.contains("TakeOrderedAndProject"), s"q18 top-k must not global-sort:\n$p18")
    // the HAVING aggregate must sit BELOW the orders join: the first
    // HashAggregate (bottom-up text order) appears after the join mentions
    val p4 = plan(StarQueries.latePriorityCheck(spark, sf()))
    assert(p4.contains("LeftSemi"), s"q4 EXISTS must plan as a semi-join:\n$p4")
    assert(!p4.contains("CartesianProduct"), s"q4 planned a product join:\n$p4")
  }

  test("bpeEncode plans as a pure projection - zero shuffles") {
    import graft.text.TextAnalysis
    val docs = graft.Tables.documents(spark, sf())
    val p = plan(TextAnalysis.bpeEncode(docs, Seq(("t", "h"), ("th", "e"))))
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n$p")
  }

  test("interval coverage plans exactly two group-key shuffles") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf()).select(col("user_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) + 1000000L).as("e_us"))
    val p = plan(graft.ops.Intervals.coverage(ev, "user_id", "s_us", "e_us"))
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 2, s"expected <=2 shuffles, got $ex:\n$p")
  }

  test("geo radius join: equi-join on cell, no product join, filter after") {
    import org.apache.spark.sql.functions._
    val pts = graft.Tables.documents(spark, sf()).select(col("doc_id").as("id"),
      (col("doc_id") * 37 % 1000).as("x"), (col("doc_id") * 61 % 1000).as("y"))
    val p = plan(graft.ops.GeoJoin.radiusJoin(pts, 25))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"radius join planned a product join:\n$p")
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = plan(StarQueries.pricingSummary(spark, sf()))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("q1 scan prunes to only referenced columns") {
    val p = StarQueries.pricingSummary(spark, sf())
      .queryExecution.executedPlan.toString
    // ReadSchema must not include unused columns like l_comment-ish extras
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && read.contains("l_quantity"), read)
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val p = plan(StarQueries.topOrders(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("risk-score pipeline plans exactly one shuffle (the device-day agg)") {
    import graft.queries.TelematicsQueries
    import graft.score.RiskScore
    val df = RiskScore.pipeline(TelematicsQueries.normalizedFact(spark, sf()))
    val exchanges = "Exchange".r.findAllIn(plan(df)).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n${plan(df)}")
    assert(plan(df).contains("partial_count") || plan(df).contains("HashAggregate"))
  }

  test("bucketed embedding dedup never plans a nested-loop join") {
    import graft.sim.Similarity
    val df = Similarity.bucketedThresholdPairs(
      graft.Tables.embeddings(spark, sf()), 0.6)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"full-corpus dedup must be a bucketed equi-join, got:\n$p")
  }

  test("multiprobe LSH: broadcast equi-join on bucket, never a nested loop") {
    import graft.sim.Similarity
    val emb = graft.Tables.embeddings(spark, sf())
    val df = Similarity.lshTopKMultiprobe(emb, emb.filter(col("vec_id") < 5), k = 3)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"probe must stay an equi-join:\n$p")
  }

  test("interval-overlap join plans as an equi-join on bin, no nested loop / cartesian") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(spark, sf())
    val a = e.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("ts").cast("long").as("a_lo"))
      .withColumn("a_hi", col("a_lo") + lit(600L))
    val b = e.filter(col("event_type") === "error")
      .select(col("event_id").as("b_id"), col("ts").cast("long").as("b_lo"))
      .withColumn("b_hi", col("b_lo") + lit(900L))
    val p = plan(RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi", 512L))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join") && p.contains("__bin"), p)
  }

  test("bm25 prefilters to query-term postings before any aggregate; no cartesian") {
    val p = plan(graft.text.TextAnalysis.bm25TopK(
      graft.Tables.documents(spark, sf()), Seq("data", "query"), k = 10))
    // the only nested-loop is the deliberate 1-row corpus-stats broadcast;
    // a CartesianProduct (non-broadcast cross) must never appear
    assert(!p.contains("CartesianProduct"), p)
    // isin prefilter runs on the exploded terms BEFORE the (id, term) agg,
    // so only the query terms' postings ever shuffle
    assert(p.contains("IN (data,query)") || p.contains("INSET"), p)
  }

  test("sliding chunks plan is narrow: no shuffle at all") {
    import graft.text.Curation
    val df = Curation.slidingChunks(graft.Tables.documents(spark, sf()), 64, 32)
    val p = plan(df)
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("tf-idf top-k window triggers the WindowGroupLimit rewrite") {
    import graft.text.TextAnalysis
    val df = TextAnalysis.topTermsByTfIdf(graft.Tables.documents(spark, sf()), 3)
    val p = plan(df)
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("decontaminate broadcasts the benchmark shingle set, never the corpus") {
    import graft.text.Curation
    val docs = graft.Tables.documents(spark, sf())
    val bench = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 3)
    val df = Curation.decontaminate(docs, bench)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("bloom prefilter keeps the fact filter in the scan stage (no early shuffle)") {
    import graft.ops.BloomPrefilter
    import org.apache.spark.sql.functions.col
    val dim = graft.Tables.customer(spark, sf())
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bloom = BloomPrefilter.build(dim, col("c_custkey"))
    val pre = BloomPrefilter.prefilter(graft.Tables.orders(spark, sf()), col("o_custkey"), bloom)
    val p = plan(pre)
    // the bloom probe is a plain Filter over the scan — nothing exchanged
    assert(p.contains("might_contain"), s"expected bloom probe in plan:\n$p")
    assert(!p.contains("Exchange"), s"prefilter must precede any shuffle:\n$p")
  }

  test("semi/anti joins and correlated subqueries plan as hash joins, no nested loops") {
    val semiAnti = plan(graft.SparkEntry.queries("q_semi_anti")(spark, sf()))
    assert(semiAnti.contains("LeftSemi") && semiAnti.contains("LeftAnti"), semiAnti)
    assert(!semiAnti.contains("BroadcastNestedLoopJoin") && !semiAnti.contains("CartesianProduct"))
    val sub = plan(graft.SparkEntry.queries("q_subqueries")(spark, sf()))
    assert(!sub.contains("BroadcastNestedLoopJoin") && !sub.contains("CartesianProduct"),
      s"correlated EXISTS must decorrelate to a join:\n$sub")
  }

  test("fuzzy matching full-set path: equi-join candidates, no nested loop / cartesian") {
    import graft.text.Curation
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf())
    val base = docs.filter(col("doc_id") % 10 === 0)
    val titles = base.select(col("doc_id"), substring(col("text"), 1, 30).as("title"))
      .unionByName(base.select((col("doc_id") + 4000000L).as("doc_id"),
        concat(lit("x"), substring(col("text"), 2, 29)).as("title")))
    val p = plan(Curation.fuzzyPairs(titles, maxDist = 2))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy candidate generation must be equi-joins:\n$p")
  }

  test("parquet aggregate pushdown: min/max/count served from footer statistics") {
    import org.apache.spark.sql.functions._
    graft.GraftSession.withConf(spark, "spark.sql.sources.useV1SourceList" -> "",
        "spark.sql.parquet.aggregatePushDown" -> "true") {
      val df = spark.read.parquet(s"${sf()}/lineitem.parquet")
        .agg(count(lit(1)), min(col("l_quantity")), max(col("l_shipdate")))
      val p = plan(df)
      assert(p.contains("PushedAggregation"),
        s"expected footer-statistics aggregation pushdown:\n$p")
    }
  }

  test("IVF-PQ candidates come from an equi-join on cell, never a cartesian") {
    import graft.sim.{Ivf, Pq}
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf())
    val ivf = Ivf.cachedBuild(emb, sf() + "#planspec", nlist = 4)
    val pq = Pq.cachedBuild(emb, sf() + "#planspec", dim = 64, m = 4, k = 4)
    val p = plan(Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 3), ivf, pq,
      k = 3, nprobe = 2))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVF-PQ must join candidates on the cell key:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must take WindowGroupLimit:\n$p")
  }

  test("latest-per-device plans a single shuffle on device_id") {
    import graft.queries.TelematicsQueries
    val df = graft.serve.Api.latestPerDevice(
      TelematicsQueries.normalizedFact(spark, sf()),
      org.apache.spark.sql.functions.col("correlation_id").cast("long"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan(df)).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges")
  }
}
