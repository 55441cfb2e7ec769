package graft.analytics

import graft.SparkSpec
import graft.dedup.{DupClusters, Winnowing}
import graft.sim.PowerIteration
import org.apache.spark.sql.functions._

/** Planted-data guarantees for the summary-structure operators: Count-Min
  * sketch, winnowing fingerprints, two-pass exact quantiles, A/B test,
  * link prediction.
  */
class SummaryOpsSpec extends SparkSpec {
  import spark.implicits._

  test("countMin: estimates are overestimate-only and exact when collision-free") {
    val items = (Seq.fill(100)("hot") ++ (1 to 50).map(i => s"cold$i"))
      .toDF("item")
    val grid = CountMin.sketch(items, "item")
    val query = (Seq("hot") ++ (1 to 50).map(i => s"cold$i")).toDF("item")
    val est = CountMin.estimate(grid, query, "item")
      .as[(String, Long)].collect().toMap
    val truth = Map("hot" -> 100L) ++ (1 to 50).map(i => s"cold$i" -> 1L)
    truth.foreach { case (k, v) =>
      assert(est(k) >= v, s"$k: est ${est(k)} < true $v — one-sidedness broken")
    }
    // 51 distinct items into 4×512 cells: collisions are possible but the
    // MIN over 4 independent rows recovering the exact count is the
    // overwhelmingly common case; require it for the hot item at least
    assert(est("hot") === 100L)
  }

  test("countMin: grids merge by cellwise addition (sketch(A ∪ B) = sketch(A) ⊕ sketch(B))") {
    val a = (1 to 40).map(i => s"t${i % 7}").toDF("item")
    val b = (1 to 25).map(i => s"t${i % 5}").toDF("item")
    val merged = CountMin.sketch(a.unionByName(b), "item")
      .as[(Int, Long, Long)].collect().toSet
    val summed = CountMin.sketch(a, "item")
      .unionByName(CountMin.sketch(b, "item"))
      .groupBy($"r", $"cell").agg(sum($"cnt").as("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === summed)
  }

  test("winnowing: exact copies share their full fingerprint set; detection floor holds") {
    val shared = (1 to 10).map(i => s"run$i").mkString(" ") // 10-token run
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"zeta eta theta iota $shared kappa"),
      (3L, "unrelated words only here nothing shared at all today"),
      (10L, s"alpha beta gamma $shared delta epsilon") // exact copy of 1
    ).toDF("doc_id", "text")
    val fps = Winnowing.fingerprints(docs)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // exact copy ⇒ identical fingerprint sets
    assert(fps(1L) === fps(10L))
    // winnowing theorem: a shared run of ≥ w+k−1 = 6 tokens guarantees a
    // shared fingerprint — docs 1 and 2 share a 10-token run
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    assert(fps(3L).intersect(fps(1L)).isEmpty)
    // the 10-token run holds two disjoint full windows (2w + k − 1 = 10
    // tokens), so every pair sharing it shares 2 fingerprints
    val pairs = Winnowing.fingerprintPairs(docs)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 10L))
      && pairs.contains((2L, 10L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowing: fingerprint selection is partitioning-invariant and ≤ gram count") {
    val docs = (1L to 20L).map(i =>
      (i, (1 to 30).map(j => s"w${(i * 31 + j * 17) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    val one = Winnowing.fingerprints(docs)
      .as[(Long, Long)].collect().toSet
    val many = Winnowing.fingerprints(docs.repartition(7))
      .as[(Long, Long)].collect().toSet
    assert(one === many)
    // ≤ one fingerprint per full window, and the 2/(w+1) density makes it
    // far fewer in practice — sanity-bound it by the gram count
    assert(one.size <= 20 * 28)
  }

  test("quantiles2pass: equals the naive global-sort order statistic, any bucket width") {
    val vals = (1 to 997).map(i => ((i * 7919L) % 10007L)).toDF("cents")
    val naive = vals.orderBy($"cents").as[Long].collect()
    def kOf(p: Int) = (997L * p + 999) / 1000
    for (width <- Seq(1L, 100L, 1000L, 100000L)) {
      val got = Quantiles.exactQuantilesTwoPass(vals, "cents",
        Seq(100, 250, 500, 750, 999), width)
        .select($"p", $"value_cents").as[(Int, Long)].collect().toMap
      for (p <- Seq(100, 250, 500, 750, 999))
        assert(got(p) === naive(kOf(p).toInt - 1),
          s"p=$p width=$width: got ${got(p)}, want ${naive(kOf(p).toInt - 1)}")
    }
  }

  test("weighted quantiles2pass: equals the naive cumulative-weight selection, any bucket width") {
    val rows = (1 to 500).map(i => (((i * 7919L) % 1009L), (i % 5 + 1).toLong))
      .toDF("cents", "wt")
    // naive: smallest value whose cumulative weight reaches k
    val data = rows.as[(Long, Long)].collect()
    val byVal = data.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    val total = data.map(_._2).sum
    def naive(p: Int): Long = {
      val k = (total * p + 999) / 1000
      var cum = 0L
      byVal.find { case (_, w) => { cum += w; cum >= k } }.get._1
    }
    for (width <- Seq(1L, 10L, 250L)) {
      val got = Quantiles.exactWeightedQuantilesTwoPass(rows, "cents", "wt",
        Seq(100, 500, 900), width)
        .select($"p", $"value_cents").as[(Int, Long)].collect().toMap
      for (p <- Seq(100, 500, 900))
        assert(got(p) === naive(p), s"p=$p width=$width")
    }
  }

  test("grouped quantiles2pass: per-group equality with the naive selection") {
    val rows = (1 to 600).map(i => (s"g${i % 3}", ((i * 7919L) % 5003L)))
      .toDF("grp", "cents")
    val data = rows.as[(String, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    def naive(g: String, p: Int): Long = {
      val v = data(g); v(((v.length.toLong * p + 999) / 1000).toInt - 1)
    }
    val got = Quantiles.exactGroupedQuantilesTwoPass(rows, "grp", "cents",
      Seq(250, 500, 750), 500L)
      .select($"grp", $"p", $"value_cents").as[(String, Int, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    for (g <- Seq("g0", "g1", "g2"); p <- Seq(250, 500, 750))
      assert(got((g, p)) === naive(g, p), s"grp=$g p=$p")
  }

  test("abTest: arm counts partition the units; degenerate 100% rate yields NULL z, not an abort") {
    val ev = (1L to 40L).flatMap(u => Seq((u, "buy"), (u, "view")))
      .toDF("user_id", "event_type")
    val r = Drift.abTest(ev, "user_id", $"event_type" === "buy", seed = "t",
      minSuccesses = 1L)
      .collect().head
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === 40L)
    // every unit converts ⇒ pooled variance 0 ⇒ gated NULL
    assert(r.isNullAt(r.fieldIndex("z")))
    assert(r.getAs[Long]("conv_a") === r.getAs[Long]("n_a"))
    // interior rates produce a finite z with the sign of (rate_a − rate_b)
    val ev2 = (1L to 40L).map(u => (u, if (u % 4 == 0) "buy" else "view"))
      .toDF("user_id", "event_type")
    val r2 = Drift.abTest(ev2, "user_id", $"event_type" === "buy", seed = "t",
      minSuccesses = 1L)
      .collect().head
    val z = r2.getAs[Double]("z")
    assert(!z.isNaN && !z.isInfinite)
    assert((z > 0) === (r2.getAs[Double]("rate_a") > r2.getAs[Double]("rate_b")))
  }

  test("kTrussPeel: peeling cascades — an edge supported only by a dying triangle dies next round") {
    // triangle {1,2,3} plus pendant edge (3,4): round 1 drops (3,4)
    // (support 0) and keeps the triangle (support 1 each, k=3)
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val r1 = graft.dedup.DupClusters.kTrussPeel(tri, k = 3, rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
    // two triangles {1,2,3} and {2,3,4} share edge (2,3): under k=4
    // (support ≥ 2) only (2,3) passes round 1, but its triangle partners
    // all died with it — round 2 must peel it too: the cascade a one-shot
    // support filter cannot see
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val once = graft.dedup.DupClusters.kTrussPeel(twoTri, k = 4, rounds = 1)
      .select($"u", $"v").as[(Long, Long)].collect().toSet
    assert(once === Set((2L, 3L))) // survives the first filter alone...
    val twice = graft.dedup.DupClusters.kTrussPeel(twoTri, k = 4, rounds = 2)
    assert(twice.count() === 0L) // ...and dies once its triangles are gone
  }

  test("cdc chunking: insertion resynchronizes — all chunks after the first boundary are shared") {
    val base = (1 to 120).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, s"inserted $base")).toDF("doc_id", "text")
    val ch = graft.dedup.ContentChunking.chunks(docs)
      .select($"doc", $"chunk", $"chunk_hash")
      .as[(Long, Long, String)].collect()
    val h1 = ch.filter(_._1 == 1L).map(_._3).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._3).toSet
    // every chunk of doc 1 except (at most) its head chunk reappears in
    // doc 2: the insertion only perturbs content before the first cut
    val missing = h1 -- h2
    assert(missing.size <= 1, s"CDC failed to resynchronize: $missing")
    // chunk ids are a partition of each doc's tokens
    val n1 = ch.filter(_._1 == 1L).map(_._2).distinct.length
    assert(n1 >= 2, "divisor 16 over 120 tokens should cut at least once")
  }

  test("interpolate: exact blend between knots, NULL outside the span, knots pass through") {
    val rows = Seq(
      // entity 1: knots at t=0 (v=10) and t=100 (v=20); probes at 25, 50
      (1L, 0L, 1L, Some(10.0)), (1L, 25L, 2L, None), (1L, 50L, 3L, None),
      (1L, 100L, 4L, Some(20.0)),
      // probe after the last knot and before the first
      (1L, 200L, 5L, None), (2L, 10L, 6L, None), (2L, 20L, 7L, Some(5.0))
    ).toDF("user_id", "t_us", "event_id", "v")
    val out = graft.ops.TimeSeries.interpolate(rows, "user_id", "t_us", "event_id", "v")
      .select($"event_id", $"interp").as[(Long, Option[Double])].collect().toMap
    assert(out(1L).contains(10.0) && out(4L).contains(20.0)) // knots pass through
    assert(out(2L).contains(12.5) && out(3L).contains(15.0)) // exact blends
    assert(out(5L).isEmpty && out(6L).isEmpty) // no extrapolation
  }

  test("hllGrid: registers merge by max; estimate lands in the 1.04/sqrt(m) error regime") {
    val a = (1 to 4000).map(i => s"item$i").toDF("item")
    val b = (3001 to 7000).map(i => s"item$i").toDF("item")
    val ga = HllGrid.registers(a, "item")
    val gb = HllGrid.registers(b, "item")
    val merged = ga.unionByName(gb).groupBy($"idx")
      .agg(max($"m_rank").as("m_rank"))
    val direct = HllGrid.registers(a.unionByName(b), "item")
    assert(merged.as[(Long, Long)].collect().toSet ===
      direct.as[(Long, Long)].collect().toSet)
    val est = HllGrid.estimate(direct).select($"estimate").as[Double].collect().head
    // true distinct = 7000; 3 sigma at m=256 is ~20%
    assert(math.abs(est - 7000.0) <= 0.2 * 7000.0, s"estimate $est vs 7000")
  }

  test("pca power iteration: recovers a planted dominant direction, partitioning-invariant") {
    // 200 vectors along +/- e0 with magnitude 2, small e1 noise: the top
    // component must align with dim 0 (|v2_0| >> |v2_j| for j > 0)
    val rows = (1 to 200).map { i =>
      val sign = if (i % 2 == 0) 1.0 else -1.0
      val noise = (i % 7).toDouble / 100.0
      (i.toLong, Array(2.0f * sign.toFloat, noise.toFloat, 0.01f, 0.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = PowerIteration.topComponent(df, d = 4)
      .select($"dim", $"v2").as[(Int, Long)].collect().toMap
    assert(math.abs(out(0)) > 10 * math.abs(out(1)),
      s"dominant direction not recovered: $out")
    assert(math.abs(out(0)) > 100 * math.abs(out(3)))
    val again = PowerIteration.topComponent(df.repartition(7), d = 4)
      .select($"dim", $"v2").as[(Int, Long)].collect().toMap
    assert(again === out, "power iterate must be partitioning-invariant")
  }

  test("survivorship: latest non-null wins per field across different revisions; all-null stays null") {
    val recs = Seq(
      (1L, 0L, Some("a0"), Some(10L)), (1L, 1L, Some("a1"), None),
      (1L, 2L, None, Some(30L)),
      (2L, 0L, None, None), (2L, 1L, None, None)
    ).toDF("ck", "rev", "name", "bal")
    val g = graft.ops.Survivorship.goldenRecords(recs, "ck", Seq("rev"),
        Seq("name", "bal"))
      .select($"cluster", $"golden_name", $"golden_bal", $"nd_name", $"nd_bal",
        $"n_sources")
      .as[(Long, Option[String], Option[Long], Long, Long, Long)]
      .collect().toSet
    // cluster 1: name survives from rev 1 (rev 2's is null), bal from rev 2
    assert(g === Set(
      (1L, Some("a1"), Some(30L), 2L, 2L, 3L),
      (2L, None, None, 0L, 0L, 2L)))
    val again = graft.ops.Survivorship.goldenRecords(recs.repartition(5), "ck",
        Seq("rev"), Seq("name", "bal")).count()
    assert(again === 2L)
  }

  test("linkPrediction: hand case and middle-degree valve") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val out = DupClusters.linkPrediction(e, maxMiddleDegree = Int.MaxValue)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // only non-adjacent distance-2 pair is (1,4): common {2,3}, degs 2/2
    assert(out === Set((1L, 4L, 2L, 2L, 1.0)))
    // capping middles at degree < 3 removes nodes 2 and 3 (degree 3 each)
    val capped = DupClusters.linkPrediction(e, maxMiddleDegree = 2)
    assert(capped.count() === 0L)
    // a cap above every degree is the uncapped result
    val big = DupClusters.linkPrediction(e, maxMiddleDegree = 100)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(big === out)
  }

  test("autocorrelation: alternating series has acf(1) = -1, acf(2) = +1 exactly") {
    // one entity, values +1,-1,+1,-1,... — perfect anti/positive correlation
    val rows = (1 to 40).map(i => (1L, i.toLong, i.toLong,
      if (i % 2 == 0) 1L else -1L)).toDF("e", "t", "tie", "v")
    val r = graft.ops.TimeSeries.autocorrelation(rows, "e", "t", "tie",
        col("v"), Seq(1, 2))
      .select($"lag", $"n", $"acf").as[(Long, Long, Double)].collect()
      .map(x => x._1 -> x).toMap
    // sqrt(dx)*sqrt(dy) != dx exactly in IEEE, so ±1 lands within 1 ulp —
    // still deterministic (fixed operand order), just not the exact literal
    assert(r(1L)._2 === 39L && math.abs(r(1L)._3 + 1.0) < 1e-12)
    assert(r(2L)._2 === 38L && math.abs(r(2L)._3 - 1.0) < 1e-12)
  }

  test("autocorrelation: pairs never cross entities; constant series gated to NULL") {
    // two entities whose concatenation would fake correlation if pairs leaked
    val rows = Seq((1L, 1L, 1L, 10L), (1L, 2L, 2L, 20L),
      (2L, 1L, 3L, 30L), (2L, 2L, 4L, 40L)).toDF("e", "t", "tie", "v")
    val n = graft.ops.TimeSeries.autocorrelation(rows, "e", "t", "tie",
        col("v"), Seq(1))
      .select($"n").as[Long].head()
    assert(n === 2L, "one in-entity pair per entity, never the boundary pair")
    val const = Seq((1L, 1L, 1L, 5L), (1L, 2L, 2L, 5L), (1L, 3L, 3L, 5L))
      .toDF("e", "t", "tie", "v")
    val acf = graft.ops.TimeSeries.autocorrelation(const, "e", "t", "tie",
        col("v"), Seq(1))
      .select($"acf").as[Option[Double]].head()
    assert(acf.isEmpty, "zero variance must gate to NULL, not NaN")
  }
}
