package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GeoIncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("radiusJoin matches brute force (incl. negative coords); no cartesian") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(400).toLong - 200L, rnd.nextInt(400).toLong - 200L))
    val df = pts.toDF("id", "x", "y")
    val r = 17L
    val out = GeoJoin.radiusJoin(df, r).as[(Long, Long, Long)].collect().toSet
    val naive = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1, d2)).toSet
    assert(out == naive, s"radius join diverged: ${out.size} vs ${naive.size}")
    val plan = GeoJoin.radiusJoin(df, r).queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"radius join planned a product join:\n$plan")
  }

  test("radiusJoin: boundary distance is inclusive, exactly once per pair") {
    // two points exactly r apart on an axis, plus a just-outside pair
    val df = Seq((1L, 0L, 0L), (2L, 5L, 0L), (3L, 100L, 0L), (4L, 100L, 6L))
      .toDF("id", "x", "y")
    val out = GeoJoin.radiusJoin(df, 5L).as[(Long, Long, Long)].collect().toSeq
    assert(out.sortBy(_._1) == Seq((1L, 2L, 25L)))
  }

  test("applyDelta: inserts, delete+insert updates, group birth and death") {
    val baseAgg = Seq((0L, 2L, 10L), (1L, 1L, 3L), (2L, 1L, 8L))
      .toDF("g", "n_rows", "sum_v")
    // g=0: +1 row; g=1: update (delete 3, insert 5); g=2: group dies;
    // g=3: brand-new group
    val delta = Seq(
      ("insert", 0L, 4L), ("delete", 1L, 3L), ("insert", 1L, 5L),
      ("delete", 2L, 8L), ("insert", 3L, 7L))
      .toDF("__change", "g", "v")
    val out = Incremental.applyDelta(baseAgg, delta, Seq("g"), Seq("v"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 3L, 14L), (1L, 1L, 5L), (3L, 1L, 7L)))
  }

  test("applyDelta refuses an unknown change tag") {
    val baseAgg = Seq((0L, 1L, 1L)).toDF("g", "n_rows", "sum_v")
    val delta = Seq(("upsert", 0L, 1L)).toDF("__change", "g", "v")
    intercept[Exception] {
      Incremental.applyDelta(baseAgg, delta, Seq("g"), Seq("v")).collect()
    }
  }

  test("moments: uniform three-point shape; constant group degenerates to 0") {
    import graft.analytics.Correlation
    val df = (Seq(1L, 2L, 3L).map(("u", _)) ++ Seq(5L, 5L).map(("c", _)))
      .toDF("g", "x")
    val out = Correlation.moments(df, "g", "x")
      .select("g", "variance", "skewness", "kurtosis")
      .as[(String, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(out(1)._1 == "u" && math.abs(out(1)._2 - 2.0 / 3) < 1e-12)
    assert(out(1)._3 == 0.0) // symmetric
    assert(math.abs(out(1)._4 + 1.5) < 1e-12) // uniform 3-point excess kurtosis
    assert(out(0) == (("c", 0.0, 0.0, 0.0)))
  }

  test("pearsonMatrix: perfect anti-correlation, independence, constant-column null") {
    import graft.analytics.Correlation
    // y = -x exactly; z constant; w uncorrelated-with-x by symmetry
    val df = Seq((1.0, -1.0, 7.0, 1.0), (2.0, -2.0, 7.0, -1.0),
      (3.0, -3.0, 7.0, -1.0), (4.0, -4.0, 7.0, 1.0))
      .toDF("x", "y", "z", "w")
    val out = Correlation.pearsonMatrix(df, Seq("x", "y", "z", "w"))
      .select($"col_a", $"col_b", $"r").as[(String, String, Option[Double])]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(out(("x", "y")).get + 1.0) < 1e-12)
    assert(out(("x", "z")).isEmpty && out(("y", "z")).isEmpty && out(("z", "w")).isEmpty)
    assert(math.abs(out(("x", "w")).get) < 1e-12) // Σxw = Σx·Σw/n exactly here
    assert(out.size == 6)
  }

  test("weightedMedian: heavy tail wins; even split takes the lower value") {
    import graft.analytics.Correlation
    val df = Seq(("a", 1L, 1L, 1L), ("a", 2L, 2L, 1L), ("a", 3L, 3L, 10L),
      ("b", 4L, 1L, 5L), ("b", 5L, 2L, 5L)).toDF("g", "id", "v", "wt")
    val out = Correlation.weightedMedian(df, "g", "v", "wt", "id")
      .select("g", "weighted_median").as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 3L, "b" -> 1L))
  }

  test("spearman: perfect, inverted, and hand-computed partial correlation") {
    import graft.analytics.Correlation
    // g=a: y = 2x (perfect, rho 1, sum_d2 0); g=b: y = -x (rho -1)
    // g=c: ranks x:(1,2,3,4) y:(2,1,4,3) -> d2 = 1+1+1+1 = 4
    //      rho = 1 - 6*4/(4*15) = 0.6
    val df = (
      (1 to 5).map(i => ("a", i.toLong, 2L * i, i.toLong)) ++
      (1 to 5).map(i => ("b", i.toLong, -i.toLong, 100L + i)) ++
      Seq(("c", 1L, 20L, 201L), ("c", 2L, 10L, 202L),
        ("c", 3L, 40L, 203L), ("c", 4L, 30L, 204L))
    ).toDF("g", "x", "y", "id")
    val out = Correlation.spearman(df, "g", "x", "y", "id")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == (("a", 5L, 0L, 1.0)))
    assert(out(1)._1 == "b" && out(1)._3 == 40L && math.abs(out(1)._4 + 1.0) < 1e-12)
    assert(out(2) == (("c", 4L, 4L, 0.6)))
  }

  test("nearestWithin: ties break by id; unreachable points absent") {
    val df = Seq((1L, 0L, 0L), (2L, 3L, 0L), (3L, -3L, 0L), (4L, 500L, 500L))
      .toDF("id", "x", "y")
    // point 1 is 3 away from both 2 and 3 -> tie breaks to lower id 2;
    // point 4 has no neighbor within the radius -> absent
    val full = GeoJoin.nearestWithin(df, 10L).as[(Long, Long, Long)].collect().toSet
    assert(full == Set((1L, 2L, 9L), (2L, 1L, 9L), (3L, 1L, 9L)))
  }

  test("regression: hand-computed slope/intercept; degenerate x gives 0") {
    import graft.analytics.Correlation
    // g=a: y = 3x + 2 exactly -> slope 3, intercept 2
    // g=b: all x equal -> det 0 -> slope 0, intercept = mean y
    val df = ((1 to 5).map(i => ("a", i.toLong, 3L * i + 2)) ++
      Seq(("b", 4L, 10L), ("b", 4L, 20L))).toDF("g", "x", "y")
    val out = Correlation.regression(df, "g", "x", "y")
      .select("g", "slope", "intercept").as[(String, Double, Double)]
      .collect().sortBy(_._1)
    assert(out(0) == (("a", 3.0, 2.0)))
    assert(out(1) == (("b", 0.0, 15.0)))
  }

  test("interval coverage: hand-computed islands; touching intervals merge") {
    // user 1: [0,10],[5,12],[12,20] -> one island [0,20] (touch extends);
    //         [30,35] -> second island. covered = 20 + 5
    // user 2: [0,1],[2,3] -> two islands, covered 2
    val iv = Seq((1L, 0L, 10L), (1L, 5L, 12L), (1L, 12L, 20L), (1L, 30L, 35L),
      (2L, 0L, 1L), (2L, 2L, 3L)).toDF("u", "s", "e")
    val out = Intervals.coverage(iv, "u", "s", "e")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 4L, 2L, 25L), (2L, 2L, 2L, 2L)))
  }

  test("skyline2d equals naive dominance filter on random points") {
    import graft.analytics.Skyline
    val rnd = new scala.util.Random(3)
    val pts = (0 until 500).map(_ => ("g" + rnd.nextInt(3),
      rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val out = Skyline.skyline2d(pts.toDF("g", "x", "y"), "g", "x", "y")
      .as[(String, Long, Long)].collect().toSet
    val dis = pts.distinct
    val naive = dis.filter { case (g, x, y) =>
      !dis.exists { case (g2, x2, y2) =>
        g2 == g && x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }.toSet
    assert(out == naive)
  }

  test("frameEnergies: hand-computed energies from the sample formula") {
    import graft.multimodal.Multimodal
    val media = Multimodal.wavMedia(spark, Seq(3L).toDF("doc_id")).toDF()
    // doc 3: n = 103 samples; win 80 hop 20 -> frames at 0 and 20
    val out = Multimodal.frameEnergies(spark, media, win = 80, hop = 20)
      .collect().sortBy(_.frame_idx)
    assert(out.length == 2 && out.forall(_.n_frames == 2))
    out.foreach { f =>
      val ss = (f.frame_idx * 20 until f.frame_idx * 20 + 80)
        .map(i => Multimodal.wavSample(3L, i))
      assert(f.energy == ss.map(s => s.toLong * s).sum)
      assert(f.peak == ss.map(math.abs).max)
    }
    // corrupt payload: no frames, batch survives
    val junk = Seq((9L, Array[Byte](1, 2), 8000, 10)).toDF(
      "doc_id", "media", "sample_rate", "n_samples")
    assert(Multimodal.frameEnergies(spark, junk, 80, 20).collect().isEmpty)
  }

  test("resampleAudio: truncated pair averages, positional checksum, junk degrades") {
    import graft.multimodal.Multimodal
    val media = Multimodal.wavMedia(spark, Seq(3L).toDF("doc_id")).toDF()
    val out = Multimodal.resampleAudio(spark, media).collect()
    assert(out.length == 1)
    val r = out.head
    // doc 3: n = 103 -> 51 output samples at half rate
    assert(r.n_in == 103 && r.n_out == 51 &&
      r.in_rate == 8000 && r.out_rate == 4000 && r.decoded)
    val exp = (0 until 51).map { i =>
      (Multimodal.wavSample(3L, 2 * i) + Multimodal.wavSample(3L, 2 * i + 1)) / 2
    }
    assert(r.peak == exp.map(math.abs).max)
    assert(r.sum_abs == exp.map(v => math.abs(v).toLong).sum)
    assert(r.checksum == exp.zipWithIndex.map { case (s, i) => (i + 1).toLong * s }.sum)
    // corrupt payload: flagged, never wrong-with-decoded=true
    val junk = Seq((9L, Array[Byte](1, 2), 8000, 10)).toDF(
      "doc_id", "media", "sample_rate", "n_samples")
    val j = Multimodal.resampleAudio(spark, junk).collect().head
    assert(!j.decoded && j.n_out == 0)
  }

  test("vocab OOV: tie at the cut breaks by term; rates hand-computed") {
    import graft.text.Vocab
    // 499 terms of count 3 fill all but the last slot of the top-500
    // vocabulary; c and d (count 1 each) tie for it -> term order keeps c
    val hot = (1 to 499).map(i => f"h$i%03d")
    val docs = Seq(
      (1L, (hot ++ hot :+ "c").mkString(" "), "s1"),
      (2L, (hot :+ "d").mkString(" "), "s2")
    ).toDF("doc_id", "text", "source")
    val rates = Vocab.oovRate(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rates("s1") == (999L, 0L)) // c made the cut
    assert(rates("s2") == (500L, 1L)) // d did not
  }

  test("kendallTau: hand-computed concordance; perfect and inverted orders") {
    import graft.analytics.Correlation
    val df = Seq(
      ("g", 1L, 1L, 1L), ("g", 2L, 3L, 2L), ("g", 3L, 2L, 3L),
      ("inv", 1L, 3L, 1L), ("inv", 2L, 2L, 2L), ("inv", 3L, 1L, 3L)
    ).toDF("grp", "x", "y", "id")
    val out = Correlation.kendallTau(df, "grp", "x", "y", "id").collect()
      .map(r => r.getString(0) -> r).toMap
    // g: pairs (1,2) C, (1,3) C, (2,3) D  → τ = (2−1)/3
    assert(out("g").getLong(1) == 3 && out("g").getLong(2) == 2 &&
      out("g").getLong(3) == 1)
    assert(math.abs(out("g").getDouble(4) - 1.0 / 3.0) < 1e-15)
    // inverted: all discordant → τ = −1
    assert(out("inv").getDouble(4) == -1.0)
  }

  test("interval coverage matches a naive reference on random intervals (property)") {
    val rnd = new scala.util.Random(23)
    val iv = (0 until 400).map { _ =>
      val g = rnd.nextInt(5).toLong
      val s = rnd.nextInt(100).toLong
      (g, s, s + 1 + rnd.nextInt(20))
    }
    val out = Intervals.coverage(iv.toDF("g", "s", "e"), "g", "s", "e")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4)))
      .toMap
    val naive = iv.groupBy(_._1).map { case (g, rows) =>
      val sorted = rows.map(r => (r._2, r._3)).sortBy(identity)
      var islands = List.empty[(Long, Long)]
      sorted.foreach { case (s, e) =>
        islands match {
          case (is, ie) :: rest if s <= ie =>
            islands = (is, math.max(ie, e)) :: rest
          case _ => islands = (s, e) :: islands
        }
      }
      g -> ((rows.size.toLong, islands.size.toLong,
        islands.map { case (s, e) => e - s }.sum))
    }
    assert(out == naive)
  }

  test("bpeTrain matches a reference sequential trainer on random corpora (property)") {
    import graft.text.TextAnalysis
    // reference: word-frequency table, pair counts, (n desc, l, r) argmax,
    // left-to-right non-overlapping merge per word
    def reference(words: Seq[String], rounds: Int): Seq[(String, String, Long)] = {
      var freq = words.groupBy(identity).map { case (w, g) =>
        w.map(_.toString).toVector -> g.size.toLong }.toVector
      (1 to rounds).flatMap { _ =>
        val counts = scala.collection.mutable.Map[(String, String), Long]()
          .withDefaultValue(0L)
        freq.foreach { case (syms, c) =>
          syms.sliding(2).filter(_.size == 2).foreach(p =>
            counts((p(0), p(1))) += c)
        }
        if (counts.isEmpty) None
        else {
          val (l, r) = counts.keys.toSeq
            .sortBy { case (a, b) => (-counts((a, b)), a, b) }.head
          val n = counts((l, r))
          freq = freq.map { case (syms, c) =>
            val out = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
                out += l + r; i += 2
              } else { out += syms(i); i += 1 }
            }
            out.toVector -> c
          }
          Some((l, r, n))
        }
      }
    }
    val rnd = new scala.util.Random(5)
    (0 until 3).foreach { trial =>
      val alphabet = "abcd"
      val words = (0 until 60).map(_ =>
        (0 until 1 + rnd.nextInt(6)).map(_ => alphabet(rnd.nextInt(4))).mkString)
      val docs = words.grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
      val got = TextAnalysis.bpeTrain(docs, rounds = 4)
        .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
        .map(r => (r._2, r._3, r._5)).toSeq
      assert(got == reference(words, 4), s"trial $trial diverged")
    }
  }

  test("chi2Buckets: hand-computed contributions; identical cohorts are zero") {
    import graft.analytics.Drift
    // A: values 0,0,60 -> buckets 0,0,1 ; B: 0,60,60 -> 0,1,1
    // bucket0: na=2 nb=1; bucket1: na=1 nb=2; ta=tb=3 N=6
    // e_a = e_b = 1.5 both buckets; term = 0.25/1.5 each
    val df = Seq((true, 0L), (true, 0L), (true, 60L),
      (false, 0L), (false, 60L), (false, 60L)).toDF("a", "v")
    val out = Drift.chi2Buckets(df, "v", col("a"), 50L, 10)
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3)).toSeq == Seq((0L, 2L, 1L), (1L, 1L, 2L)))
    out.foreach { r =>
      assert(r._4 == 1.5 && r._5 == 1.5)
      assert(math.abs(r._6 - 0.25 / 1.5) < 1e-15 && math.abs(r._7 - 0.25 / 1.5) < 1e-15)
    }
    // identical cohorts -> zero drift everywhere
    val same = Seq((true, 10L), (false, 10L), (true, 70L), (false, 70L))
      .toDF("a", "v")
    Drift.chi2Buckets(same, "v", col("a"), 50L, 10)
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .collect().foreach(r => assert(r._6 == 0.0 && r._7 == 0.0))
  }

  test("quantileNormalize: hand-computed midpoint-quantile mapping") {
    import graft.analytics.QuantileNorm
    // a: [10,20] n=2; b: [1,2,3,4] n=4; pooled [1,2,3,4,10,20] N=6
    // a r1 -> idx (1*6+2)/4=2 -> 2;  a r2 -> (3*6+2)/4=5 -> 10
    // b ranks 1..4 -> idx 1,2,4,5 -> 1,2,4,10
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 1L), ("b", 4L, 2L),
      ("b", 5L, 3L), ("b", 6L, 4L)).toDF("g", "id", "v")
    val out = QuantileNorm.quantileNormalize(df, "g", "v", "id")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(out == Set((1L, "a", 10L, 2L), (2L, "a", 20L, 10L),
      (3L, "b", 1L, 1L), (4L, "b", 2L, 2L), (5L, "b", 3L, 4L),
      (6L, "b", 4L, 10L)))
    // partitioning invariance: the pooled index must not depend on layout
    val out2 = QuantileNorm.quantileNormalize(df.repartition(7), "g", "v", "id")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(out2 == out)
  }

  test("bpeEncode segments with the trained merges; counts hand-checked") {
    import graft.text.TextAnalysis
    val docs = Seq((1L, "low low lower"), (2L, "newest newest")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, rounds = 2)
      .orderBy(col("round")).collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("l", "o"), ("lo", "w")))
    val out = TextAnalysis.bpeEncode(docs, merges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // doc1: words low,low,lower; chars 3+3+5=11; after lo+low: low=1 sym x2,
    // lower -> low,e,r = 3 -> 5 tokens
    assert(out(0) == ((1L, 3L, 11L, 5L)))
    // doc2: newest x2: 6+6=12 chars, merges don't apply -> 12 tokens
    assert(out(1) == ((2L, 2L, 12L, 12L)))
  }

  test("bpeEncode: sentinel-bearing text takes the split fallback; counts match the split form") {
    import graft.text.TextAnalysis
    // r18: counts are length arithmetic on sentinel-FREE text; a text that
    // already contains U+001F/U+001E (where the split-based count merges
    // the adjacent symbols) must take the per-row fallback and reproduce
    // the historical split semantics exactly.
    val docs = Seq(
      (1L, "a\u001fb cd"),   // U+001F inside a word: split form sees 2+2 symbols, not 3+2
      (2L, "x\u001ey z"),    // U+001E inside a word: split form sees 2+1
      (3L, "low low"),       // sentinel-free: arithmetic path
      (4L, "")               // empty: both paths zero
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, Seq(("l", "o"), ("lo", "w")))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 2L, 4L, 4L)))  // not 5: the embedded U+001F collapses a+b
    assert(out(1) == ((2L, 2L, 3L, 3L)))  // not 4: the embedded U+001E collapses x+y
    assert(out(2) == ((3L, 2L, 6L, 2L)))  // low,low -> 1 merged symbol each
    assert(out(3) == ((4L, 0L, 0L, 0L)))
  }

  test("rbo: identical rankings score the truncated maximum; disjoint score 0") {
    import graft.analytics.Correlation
    val r1 = (1L to 10L).map(i => (i, i)).toDF("doc_id", "rank")
    val same = Correlation.rbo(r1, r1, depth = 10)
      .select($"rbo", $"a_10").as[(Double, Long)].head()
    // truncated max: 0.5 * sum(0.5^(d-1) * d/d) = 1 - 0.5^10
    assert(math.abs(same._1 - (1.0 - math.pow(0.5, 10))) < 1e-15 && same._2 == 10L)
    val r2 = (1L to 10L).map(i => (i + 100, i)).toDF("doc_id", "rank")
    val disj = Correlation.rbo(r1, r2, depth = 10).select($"rbo").as[Double].head()
    assert(disj == 0.0)
    // top-heavy agreement beats tail agreement: swapping ranks 1&2 hurts
    // more than swapping 9&10
    def swapped(a: Long, b: Long) = (1L to 10L)
      .map(i => (if (i == a) b else if (i == b) a else i, i)).toDF("doc_id", "rank")
    val top = Correlation.rbo(r1, swapped(1, 2), 10).select($"rbo").as[Double].head()
    val tail = Correlation.rbo(r1, swapped(9, 10), 10).select($"rbo").as[Double].head()
    assert(top < tail && tail < same._1)
  }

  test("cusum: closed form equals the sequential Page recursion; alarms fire and reset") {
    import graft.analytics.Drift
    // hand case, k=5 h=8: x = 9,9,1,1,12 -> s = 4,8,4,0,7; alarm at t=2 only
    val hand = Seq((1L, 1L, 9L), (1L, 2L, 9L), (1L, 3L, 1L), (1L, 4L, 1L),
      (1L, 5L, 12L)).toDF("u", "t", "v")
    val got = Drift.cusum(hand, "u", Seq("t"), $"v", k = 5L, h = 8L)
      .select($"t", $"cusum", $"alarm").as[(Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, false), (2L, 8L, true), (3L, 4L, false),
      (4L, 0L, false), (5L, 7L, false)))
    // property: closed form == max(0, s+x-k) fold on pseudo-random history
    val rnd = (1 to 200).map(t => (7L, t.toLong,
      ((t * 2654435761L) % 13) - 2)) // values in [-2, 10], k drift 4
    val out = Drift.cusum(rnd.toDF("u", "t", "v"), "u", Seq("t"), $"v", 4L, 6L)
      .select($"t", $"cusum").as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    val expect = rnd.map(_._3).scanLeft(0L)((s, x) => math.max(0L, s + x - 4L)).tail
    assert(out.toSeq == expect)
  }

  test("phraseSearch counts overlapping starts; multi-word chains exact") {
    import graft.text.TextAnalysis
    val docs = Seq(
      (1L, "a a a b"),        // "a a" starts at 0 and 1
      (2L, "x a a y a a"),    // starts at 1 and 4
      (3L, "a b a")           // no "a a"
    ).toDF("doc_id", "text")
    val out = TextAnalysis.phraseSearch(docs, Seq("a", "a")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L))
    val tri = TextAnalysis.phraseSearch(docs, Seq("a", "a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 1L))
  }

  test("rakeKeyphrases: hand-computed island scores on a tiny corpus") {
    import graft.text.TextAnalysis
    // stopword 'the' splits islands. Islands: [big cat], [big dog], [cat]
    // freq: big=2, cat=2, dog=1; deg: big=2+2=4, cat=2+1=3, dog=2
    // scores (scale 10⁶): big=2·10⁶, cat=1.5·10⁶, dog=2·10⁶
    // phrases: "big cat"=3.5·10⁶, "big dog"=4·10⁶, "cat"=1.5·10⁶
    val docs = Seq(
      (1L, "big cat the big dog"),
      (2L, "the cat")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeyphrases(docs)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out == Map("big dog" -> 4000000L, "big cat" -> 3500000L, "cat" -> 1500000L))
  }
}
