package graft.sim

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf())

  test("dot/cosine on known vectors") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(Similarity.dot(col("a"), col("b"))).as[Double].head()
    assert(d == 32.0)
    val c = df.select(Similarity.cosine(col("a"), col("a"))).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("cosine: degenerate vectors are NULL, never throw, never win top-k") {
    // zero / empty / null embeddings (failed encoders at crawl scale):
    // undefined similarity is NULL — no ANSI DIVIDE_BY_ZERO — and NULL
    // sorts last under `cosine desc`, so degenerates can't take a slot
    val df = Seq(
      (Seq(0.0, 0.0), "zero"), (Seq.empty[Double], "empty"),
      (null.asInstanceOf[Seq[Double]], "null"), (Seq(3.0, 4.0), "real"))
      .toDF("v", "kind")
    val c = df.select(col("kind"),
        Similarity.cosine(col("v"), typedLit(Seq(1.0, 0.0))).as("c"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(c("zero").isEmpty && c("empty").isEmpty && c("null").isEmpty)
    assert(math.abs(c("real").get.asInstanceOf[Double] - 0.6) < 1e-12)
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
      (2L, Seq(0.0, 0.0)), (3L, Seq(0.5, 0.5))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .select("nn_id").as[Long].collect().toSet
    assert(!top.contains(2L), "zero vector must not win a neighbor slot")
  }

  test("cosine: a NaN-poisoned vector is NULL-scored, never ranks first") {
    // Spark orders NaN GREATER than every double — unguarded, one vector
    // with a single NaN element took rank 1 in EVERY query's top-k
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
      (2L, Seq(Double.NaN, 1.0)), (3L, Seq(0.5, 0.5)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .select("nn_id", "cosine").collect()
    assert(!out.map(_.getLong(0)).contains(2L),
      "NaN-poisoned vector must not win a neighbor slot")
    assert(out.forall(r => !r.getDouble(1).isNaN))
    val c = vecs.select(Similarity.cosine(col("embedding"),
      typedLit(Seq(1.0, 0.0))).as("c")).collect()
    assert(c.count(_.isNullAt(0)) === 1) // exactly the poisoned one
  }

  test("brute-force top-k: k rows per query, self excluded, ranks ordered") {
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 5), k = 3)
      .as[(Long, Long, Int, Double)].collect()
    assert(out.length == 15)
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == Seq(1, 2, 3))
      assert(rows.forall(_._2 != q))
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN results are a recall-limited subset with exact cosines") {
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 20), k = 50)
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val lsh = Similarity.lshTopK(emb, emb.filter($"vec_id" < 20), k = 3)
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, n, c) =>
      // every LSH hit carries the exact cosine (verification, not sketch)
      brute.get((q, n)).foreach(exact => assert(exact == c))
    }
    // same-bucket implies identical sign pattern => generally close vectors;
    // sanity: each reported neighbor list is rank-consistent
    lsh.groupBy(_._1).foreach { case (_, rows) =>
      val cs = rows.map(_._3).toSeq.sorted.reverse
      assert(cs == rows.map(_._3).toSeq.sorted.reverse)
    }
  }

  test("bucketed threshold pairs: subset of exact pairs with exact cosines") {
    val small = emb.filter($"vec_id" < 200)
    val bucketed = Similarity.bucketedThresholdPairs(small, 0.4)
      .as[(Long, Long, Double)].collect()
    assert(bucketed.nonEmpty, "no candidate survived banded SRP")
    val exact = Similarity.thresholdPairs(small, 0.4, lit(true))
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => (a, b) -> c }.toMap
    bucketed.foreach { case (a, b, c) =>
      assert(exact.get((a, b)).contains(c), s"pair ($a,$b) not exact or wrong cosine")
    }
    // banded capture: with 4 bands of 4 planes, near-identical directions
    // (cosine >= 0.95) collide in at least one band with high probability;
    // require most of them captured
    val hot = exact.filter { case (_, c) => c >= 0.95 }
    if (hot.nonEmpty) {
      val captured = hot.keys.count(k => bucketed.exists(p => (p._1, p._2) == k))
      assert(captured.toDouble / hot.size >= 0.8,
        s"captured $captured of ${hot.size} near-identical pairs")
    }
  }

  test("semDedupSurvivors: planted scaled dup dropped, lowest id kept, others survive") {
    // a scaled copy has cosine exactly 1 with its source and lands in the
    // same SRP buckets (signs are scale-invariant) — must be dropped
    val planted = emb.select($"vec_id", $"embedding")
      .unionByName(emb.filter($"vec_id" === 7)
        .select(($"vec_id" + 5000L).as("vec_id"),
          transform($"embedding", x => x * 2.0f).as("embedding")))
    val survivors = Similarity.semDedupSurvivors(planted, 0.999)
      .select($"vec_id").as[Long].collect().toSet
    assert(survivors.contains(7L) && !survivors.contains(5007L))
    // survivors = all ids minus those with a lower-id near dup; at 0.999 on
    // this corpus only the planted copy can be that similar
    assert(survivors.size == planted.count() - 1)
  }

  test("multiprobe LSH: recall@k vs brute force >= single-bucket LSH, exact cosines") {
    val queries = emb.filter($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select($"query_id", $"nn_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val hits = df.select($"query_id", $"nn_id").as[(Long, Long)].collect().toSet
      (hits & brute).size.toDouble / brute.size
    }
    val single = recall(Similarity.lshTopK(emb, queries, k = 3))
    val multi = recall(Similarity.lshTopKMultiprobe(emb, queries, k = 3))
    assert(multi >= single, s"multiprobe recall $multi < single-bucket $single")
    // every multiprobe hit carries the exact cosine
    val exact = Similarity.bruteForceTopK(emb, queries, k = 2000)
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    Similarity.lshTopKMultiprobe(emb, queries, k = 3)
      .select($"query_id", $"nn_id", $"cosine").as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) =>
        exact.get((q, n)).foreach(e => assert(e == c))
      }
  }

  test("label centroids: exact decimal sums, one row per (label, dim)") {
    val out = Similarity.labelCentroids(emb)
    assert(out.count() == 10 * 64)
    val n0 = out.filter($"label" === 0 && $"dim" === 0).select($"n").as[Long].head()
    assert(n0 == emb.filter($"label" === 0).count())
  }

  test("native DotProduct is bit-identical to the HOF fold on real embeddings") {
    val pairs = emb.limit(100).select(col("embedding").cast("array<double>").as("a"))
      .crossJoin(emb.limit(7).select(col("embedding").cast("array<double>").as("b")))
    val diff = pairs.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
    // and in interpreted mode
    graft.GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false") {
      assert(pairs.select(Similarity.dot(col("a"), col("b")).as("n"),
          Similarity.dotHof(col("a"), col("b")).as("h"))
        .filter(col("n") =!= col("h")).count() == 0)
    }
  }

  test("dot: mismatched lengths are NULL in BOTH forms, never a prefix dot") {
    // a 384-dim vector mixed into a 768-dim table (model-version pipeline
    // bug) must not get a plausible prefix similarity; zip_with already
    // nulls the HOF fold, and the native expression must agree
    val rows = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 1.0)),          // mismatch
      (Seq(1.0, 2.0), Seq(3.0, 4.0)))                // match: 11.0
      .toDF("a", "b")
    val out = rows.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1))
    assert(out(1).getDouble(0) === 11.0 && out(1).getDouble(1) === 11.0)
    // and through cosine, under both codegen modes
    for (ws <- Seq("true", "false"))
      graft.GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> ws) {
        val c = rows.select(Similarity.cosine(col("a"), col("b"))).collect()
        assert(c(0).isNullAt(0), s"wholeStage=$ws")
        assert(!c(1).isNullAt(0), s"wholeStage=$ws")
      }
  }

  test("native SrpBucket is bit-identical to the HOF when-chain") {
    val planes = Similarity.hyperplanes(8, 64, 42L)
    val vecs = emb.limit(300).select(col("embedding").cast("array<double>").as("v"))
    def mismatches() = vecs.select(
        Similarity.srpBucket(col("v"), planes).as("native"),
        Similarity.srpBucketHof(col("v"), planes).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches() == 0)
    graft.GraftSession.withConf(spark, "spark.sql.codegen.wholeStage" -> "false") {
      assert(mismatches() == 0)
    }
  }

  test("srp bucket is deterministic across evaluations") {
    val planes = Similarity.hyperplanes(8, 64, 42L)
    val b1 = emb.limit(50).select(col("vec_id"),
      Similarity.srpBucket(col("embedding").cast("array<double>"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    val b2 = emb.limit(50).select(col("vec_id"),
      Similarity.srpBucket(col("embedding").cast("array<double>"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < 256))
  }
  test("knnGraph: ranks per source, mutual flag symmetric, no cartesian") {
    val g = Similarity.knnGraph(emb, k = 3).cache()
    val rows = g.as[(Long, Long, Int, Double, Boolean)].collect()
    // ranks within each source are 1..n without gaps, n <= k
    rows.groupBy(_._1).foreach { case (_, es) =>
      assert(es.map(_._3).sorted.toSeq == (1 to es.length).toSeq && es.length <= 3)
    }
    // mutual is true exactly when the reverse edge is present
    val edgeSet = rows.map(r => (r._1, r._2)).toSet
    rows.foreach { r =>
      assert(r._5 == edgeSet.contains((r._2, r._1)), s"mutual mismatch on $r")
    }
    // cosine ordering within a source is non-increasing by rank
    rows.groupBy(_._1).foreach { case (_, es) =>
      val sorted = es.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4)
        case _ =>
      }
    }
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    g.unpersist()
    ()
  }
  test("vectorHygiene flags planted corruption classes") {
    val base = emb.limit(20).select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val bad = Seq(
      (9001L, Seq.fill(64)(0.0)),                       // zero
      (9002L, Seq.fill(64)(Double.NaN)),                // nan
      (9003L, Seq.fill(32)(1.0))                        // wrong dim
    ).toDF("vec_id", "embedding")
    val r = Similarity.vectorHygiene(base.unionByName(bad)).collect()(0)
    assert(r.getAs[Long]("n_vectors") == 23L)
    assert(r.getAs[Long]("n_zero") == 1L)
    assert(r.getAs[Long]("n_with_nan") == 1L)
    assert(r.getAs[Long]("n_wrong_dim") == 1L)
    assert(r.getAs[Long]("n_ok") == 20L)
  }

  test("hardNegatives: rank-1 per (anchor, kind), labels split correctly") {
    val out = Similarity.hardNegatives(emb, emb.filter($"vec_id" < 30))
      .as[(Long, String, Long, Int, Int, Double)].collect()
    // at most one pos and one neg per anchor
    out.groupBy(r => (r._1, r._2)).foreach { case (_, rs) => assert(rs.length == 1) }
    out.foreach { r =>
      if (r._2 == "pos") assert(r._4 == r._5, s"pos pair with different labels: $r")
      else assert(r._4 != r._5, s"neg pair with same label: $r")
      assert(r._1 != r._3)
    }
    assert(out.nonEmpty)
  }

  test("mmrSelect: diversity penalty demotes the redundant near-copy") {
    // q = e1; a and b are near-copies hugging q; c is less relevant but
    // orthogonal to a. Pure relevance picks (a, b); MMR picks (a, c).
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),           // query
      (1L, Seq(0.999, 0.01, 0.0)),        // a: best rel
      (2L, Seq(0.998, 0.012, 0.0)),       // b: redundant with a
      (3L, Seq(0.7, 0.0, 0.7)),           // c: diverse
      (4L, Seq(-1.0, 0.0, 0.0))           // far
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(vecs, queryId = 0L, k = 2,
        nCandidates = 4, lambda = 0.5)
      .select($"mmr_rank", $"vec_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L), (2L, 3L)))
    // pure relevance rank-2 would have been vec 2
    val rel2 = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .filter($"rank" === 2).select($"nn_id").as[Long].head()
    assert(rel2 == 2L)
    // k rows, ranks contiguous, scores non-increasing... and rank 1 is the
    // relevance argmax by construction
    val full = Similarity.mmrSelect(vecs, 0L, k = 4, nCandidates = 4, lambda = 0.5)
      .select($"mmr_rank", $"mmr_score").as[(Long, Double)].collect().sortBy(_._1)
    assert(full.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("centroidSilhouette: separated clusters score high, merged labels ~0") {
    // two tight, well-separated 2-point clusters in 64-d (axis 0 vs axis 1)
    def v(axis: Int, mag: Double) =
      (0 until 64).map(i => if (i == axis) mag.toFloat else 0.0f).toArray
    val sep = Seq(
      (1L, 0, v(0, 10.0)), (2L, 0, v(0, 10.2)),
      (3L, 1, v(1, 10.0)), (4L, 1, v(1, 10.2))).toDF("vec_id", "label", "embedding")
    val rows = graft.sim.Similarity.centroidSilhouette(sep)
      .select($"label", $"n", $"mean_silhouette")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._2).forall(_ == 2L))
    assert(rows.forall(_._3 > 0.9),
      s"separated clusters must score near 1: ${rows.toSeq}")
    // the same points split across two labels INSIDE one cloud: b ~ a,
    // silhouette collapses toward (or below) zero
    val merged = Seq(
      (1L, 0, v(0, 10.0)), (2L, 1, v(0, 10.1)),
      (3L, 0, v(0, 10.2)), (4L, 1, v(0, 10.3))).toDF("vec_id", "label", "embedding")
    val m = graft.sim.Similarity.centroidSilhouette(merged)
      .agg(avg($"mean_silhouette")).as[Double].head()
    assert(m < 0.5, s"overlapping labels must not look separated: $m")
    // single-label corpus: b (min distance to ANY OTHER cluster) does not
    // exist. Convention (ADVICE r11): the point contributes silhouette 0
    // and still counts — Spark's NULL-skipping sum used to drop it from
    // s_sum_micro while n counted it, diverging from the SQL CASE...ELSE 0
    val lone = Seq(
      (1L, 0, v(0, 10.0)), (2L, 0, v(0, 10.2)), (3L, 0, v(0, 10.4)))
      .toDF("vec_id", "label", "embedding")
    val lr = graft.sim.Similarity.centroidSilhouette(lone)
      .select($"n", $"s_sum_micro", $"mean_silhouette")
      .as[(Long, Long, Double)].head()
    assert(lr == ((3L, 0L, 0.0)),
      s"k=1 corpus: every point contributes exactly 0: $lr")
  }

  test("dpCounts: deterministic noise in [-K, K], identical across runs") {
    val df = (1 to 1000).map(i => s"k${i % 7}").toDF("k")
    val out = graft.ops.Privacy.dpCounts(df, $"k", 1, 1, seed = "t")
      .select($"key", $"true_count", $"noise", $"released")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 7)
    out.foreach { r =>
      assert(r._3 >= -20L && r._3 <= 20L, s"noise out of truncation window: $r")
      assert(r._4 == r._2 + r._3)
    }
    val again = graft.ops.Privacy.dpCounts(df, $"k", 1, 1, seed = "t")
      .select($"key", $"noise").as[(String, Long)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._3)).toSeq == again.toSeq,
      "re-released noise must be identical (budget spent once)")
    // a different seed is a different draw
    val other = graft.ops.Privacy.dpCounts(df, $"k", 1, 1, seed = "u")
      .select($"noise").as[Long].collect()
    assert(other.toSeq != out.map(_._3).toSeq)
    // thresholds are strictly within [0, 2^32) and nondecreasing
    val th = graft.ops.Privacy.discreteLaplaceThresholds(1, 1)
    assert(th.length == 40 && th == th.sorted &&
      th.head >= 0L && th.last < (1L << 32))
  }
}
