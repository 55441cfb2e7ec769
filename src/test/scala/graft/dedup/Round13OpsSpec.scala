package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-derived fixtures for the round-13 operators: bipartite verbatim-run
  * decontamination and cross-snapshot near-dup dedup.
  */
class Round13OpsSpec extends SparkSpec {
  import spark.implicits._

  private def toks(n: Int, prefix: String = "w"): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  test("benchmarkTokenRuns: run lengths, bench-doc counts, thresholds — by hand") {
    // bench doc 100: tokens w1..w20; bench doc 200: tokens v1..v20
    val bench = Seq(
      (100L, toks(20).mkString(" ")),
      (200L, toks(20, "v").mkString(" "))).toDF("doc_id", "text")
    val corpus = Seq(
      // copies w3..w17 → one 15-token run, flagged at minRun=15
      (1L, ("x0 " + toks(20).slice(2, 17).mkString(" ") + " y0")),
      // copies w1..w14 → 14-token run, NOT flagged at 15
      (2L, (toks(20).take(14).mkString(" ") + " z1 z2 z3 z4 z5 z6")),
      // two separate runs from bench 100 (w1..w10, w11..w20 separated by a
      // non-bench token → two 10-token runs; flagged only at minRun=10)
      (3L, (toks(20).take(10).mkString(" ") + " qq " +
        toks(20).drop(10).mkString(" "))),
      // 15-token runs from BOTH bench docs → n_bench_docs = 2
      (4L, (toks(20).take(15).mkString(" ") + " kk " +
        toks(20, "v").take(15).mkString(" "))),
      // no overlap at all
      (5L, toks(30, "u").mkString(" "))).toDF("doc_id", "text")

    val corpusArr = Dedup.positionalArrays(corpus, 5)
    val at15 = Dedup.benchmarkTokenRunsFromPositional(corpusArr, bench, k = 5, minRunTokens = 15)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(at15.keySet == Set(1L, 4L), s"flagged at 15: ${at15.keySet}")
    assert(at15(1L) == ((1L, 1L, 15L)))
    assert(at15(4L) == ((2L, 2L, 15L)))

    val at10 = Dedup.benchmarkTokenRunsFromPositional(corpusArr, bench, k = 5, minRunTokens = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(at10.keySet == Set(1L, 2L, 3L, 4L))
    assert(at10(3L) == ((2L, 1L, 10L)), s"doc 3 got ${at10(3L)}")
    assert(at10(2L) == ((1L, 1L, 14L)))
  }

  test("dedupDeltaAgainstCorpus: corpus dups, earlier-delta dups, kept novel — by hand") {
    // base corpus: A (w1..w20), B (v1..v20)
    val base = Seq(
      (10L, toks(20).mkString(" ")),
      (11L, toks(20, "v").mkString(" "))).toDF("doc_id", "text")
    val delta = Seq(
      // exact copy of corpus A → dropped
      (50L, toks(20).mkString(" ")),
      // near copy of corpus B (prefix token): 16 shared of 16∪17 → j=16/17 → dropped
      (51L, ("zq " + toks(20, "v").mkString(" "))),
      // novel → kept
      (52L, toks(20, "n").mkString(" ")),
      // identical novel pair: earlier id kept, later dropped (within-delta order)
      (53L, toks(20, "m").mkString(" ")),
      (54L, toks(20, "m").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.dedupDeltaAgainstCorpus(
        Dedup.withShingles(base, 5), Dedup.withShingles(delta, 5),
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet == Set(50L, 51L, 52L, 53L, 54L))
    assert(out(50L) == ((1L, false)), s"exact corpus copy: ${out(50L)}")
    assert(out(51L) == ((1L, false)), s"near corpus copy: ${out(51L)}")
    assert(out(52L) == ((0L, true)))
    assert(out(53L) == ((0L, true)), "earlier twin must be kept")
    assert(out(54L) == ((1L, false)), "later twin must be dropped")
  }

  test("dedupDeltaAgainstCorpus: hot shingles make candidates die and counts prune — by hand") {
    // base docs B1..B3 and 1000 fillers all contain the shingle (h1..h5)
    // -> past the 1000-doc cut that shingle is HOT (df = 1005 incl. the
    // delta docs); a filler shares nothing else with any other doc.
    val common = toks(5, "h").mkString(" ")
    val fillers = (1 to 1000).map(i => (1000L + i, common + " " + toks(10, s"f${i}_").mkString(" ")))
    val base = (Seq(
      (10L, common + " " + toks(10, "a").mkString(" ")),
      (11L, common + " " + toks(10, "b").mkString(" ")),
      (12L, common + " " + toks(10, "c").mkString(" "))) ++ fillers).toDF("doc_id", "text")
    // delta doc 50 shares ONLY the hot shingle with B3 (c-tokens absent):
    // every candidate route is hot, so it must be KEPT even though its
    // full-space Jaccard vs B1 would be tiny anyway; delta doc 51 copies
    // B1 entirely: rare a-shingles alone carry it over threshold 0.5 in
    // the PRUNED space (intersection counts only rare shingles).
    val delta = Seq(
      (50L, common + " " + toks(10, "z").mkString(" ")),
      (51L, common + " " + toks(10, "a").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.dedupDeltaAgainstCorpus(
        Dedup.withShingles(base, 5), Dedup.withShingles(delta, 5),
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // doc 50: shares only the hot run with the corpus -> zero candidates
    assert(out(50L) == ((0L, true)), s"hot-only overlap must not match: ${out(50L)}")
    // doc 51 vs B1: 15 tokens -> 11 distinct 5-shingles each (full
    // sizes); only the pure (h1..h5) window is hot (df 1005 > 1000), the ten
    // straddling/rare windows are shared, so pruned i = 10 against
    // union = 11 + 11 - 10 = 12, 10/12 >= 0.5 -> dropped, exactly once
    assert(out(51L) == ((1L, false)), s"rare mass must still match: ${out(51L)}")
  }

  test("dedupDeltaAgainstCorpus: short docs (<k tokens) are out of contract") {
    val base = Seq((1L, toks(20).mkString(" "))).toDF("doc_id", "text")
    val delta = Seq((2L, "a b c"), (3L, toks(20).mkString(" ")))
      .toDF("doc_id", "text")
    val ids = Dedup.dedupDeltaAgainstCorpus(
        Dedup.withShingles(base, 5), Dedup.withShingles(delta, 5), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(3L), "sub-k docs are dropped by the shingle builder")
  }
}
