package graft.ops

import graft.{SparkSpec, Tables}
import graft.analytics.GroupedTopK
import graft.functions.NormalizeUnicode.normalizeUnicode
import org.apache.spark.sql.functions._

class SamplingAndTopKSpec extends SparkSpec {
  import spark.implicits._

  test("stratified sample: exact count per stratum, stable across partitionings") {
    val docs = Tables.documents(spark, sf())
    val a = Sampling.stratifiedSample(docs, col("doc_id") % 7, 5, col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.stratifiedSample(docs.repartition(17), col("doc_id") % 7, 5, col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b, "sample not partitioning-independent")
    val perStratum = Sampling.stratifiedSample(docs, col("doc_id") % 7, 5, col("doc_id"))
      .groupBy(col("doc_id") % 7).count().as[(Long, Long)].collect().toMap
    assert(perStratum.size == 7 && perStratum.values.forall(_ == 5L))
  }

  test("weighted A-ES sample plans as TakeOrderedAndProject; stratified as WindowGroupLimit") {
    val docs = Tables.documents(spark, sf())
    val drawn = Sampling.weightedSample(docs, (col("doc_id") % 5 + 1).cast("double"),
      n = 50, id = col("doc_id"))
    assert(drawn.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      drawn.queryExecution.executedPlan.toString)
    val strat = Sampling.weightedStratifiedSample(docs, col("doc_id") % 7,
      (col("doc_id") % 5 + 1).cast("double"), n = 5, id = col("doc_id"))
    assert(strat.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      strat.queryExecution.executedPlan.toString)
  }

  test("row_number<=k plans as WindowGroupLimit (map-side top-k per group)") {
    val sampled = Sampling.stratifiedSample(
      Tables.documents(spark, sf()), col("doc_id") % 7, 5, col("doc_id"))
    assert(sampled.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      sampled.queryExecution.executedPlan.toString)
    val topk = GroupedTopK.topKPerGroup(Tables.orders(spark, sf()),
      Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
    assert(topk.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("grouped top-k matches per-group sort-and-take") {
    val orders = Tables.orders(spark, sf())
    val got = GroupedTopK.topKPerGroup(orders,
        Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .select($"o_orderpriority", $"o_orderkey").as[(String, Long)].collect().toSet
    val expected = orders.select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (p, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).map(r => (p, r._2)).toSeq
      }.toSet
    assert(got == expected)
  }

  test("normalize_unicode composes NFC and handles null/ascii/forms") {
    // other forms are reached through the SQL function's form argument
    graft.functions.GraftExtensions.register(spark)
    val rows = Seq("café", "ascii only", null, "ﬁnal")
      .toDF("s")
      .select(normalizeUnicode(col("s")).as("nfc"),
        expr("normalize_unicode(s, 'NFKC')").as("nfkc"))
      .collect()
    assert(rows(0).getString(0) == "café") // composed
    assert(rows(1).getString(0) == "ascii only")
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
    assert(rows(3).getString(0) == "ﬁnal") // NFC keeps the ligature…
    assert(rows(3).getString(1) == "final")     // …NFKC folds it
  }

  test("normalize_unicode survives interpreted eval and SQL registration") {
    graft.GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false") {
      val v = Seq("é").toDF("s").select(normalizeUnicode(col("s"))).head.getString(0)
      assert(v == "é")
    }
    graft.functions.GraftExtensions.register(spark)
    val sql = spark.sql("SELECT normalize_unicode('café', 'NFC') AS n").head.getString(0)
    assert(sql == "café")
  }

  test("neymanAllocation: allocations track N*S, sum EXACTLY to the budget") {
    // stratum a: constant (sd 0) -- gets nothing despite being large;
    // b and c split by size x spread
    val rows = (1 to 100).map(i => ("a", 500L)) ++
      (1 to 50).map(i => ("b", (i % 10) * 100L)) ++
      (1 to 25).map(i => ("c", (i % 10) * 100L))
    val out = graft.ops.Sampling.neymanAllocation(
        rows.toDF("s", "cents"), $"s", $"cents", budget = 90)
      .select($"stratum", $"n_alloc").as[(String, Long)].collect().toMap
    assert(out("a") == 0L, "zero-variance stratum needs no sample")
    assert(out.values.sum == 90L, "largest-remainder must hit the budget exactly")
    assert(out("b") > out("c"), "allocation must scale with N at equal sd")
    // degenerate: every stratum constant — Σweight = 0, so Neyman gives no
    // guidance and the allocation falls back to PROPORTIONAL (weight :=
    // n_pop), keeping the Σ n_alloc == budget invariant unconditionally
    // (ADVICE r11: the old Spark guard allocated nothing here while the
    // SQL mirror still handed out +1s — now both take the same CASE)
    val zeros = (Seq.fill(3)(("x", 5L)) ++ Seq.fill(1)(("y", 7L)))
      .toDF("s", "cents")
    val z = graft.ops.Sampling.neymanAllocation(zeros, $"s", $"cents", 8)
      .select($"stratum", $"n_alloc").as[(String, Long)].collect().toMap
    assert(z.values.sum == 8L,
      "all-zero-variance strata must still exhaust the budget")
    assert(z("x") == 6L && z("y") == 2L,
      s"degenerate case allocates proportional to n_pop: $z")
  }
}
