package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-14 LSH-candidate cross-snapshot dedup
  * ([[Dedup.dedupDeltaAgainstCorpusLsh]]): hand-planted keep/drop verdicts,
  * the identical-set hard-recall guarantee, and verdict-equality to the
  * exact shingle-join kernel on the real fixture.
  */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  private def toks(n: Int, prefix: String = "w"): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  private def bandsOf(df: org.apache.spark.sql.DataFrame) =
    MinHashLSH.replayableBandRows(MinHashLSH.md5Signatures(df, 16), 8)

  test("dedupDeltaAgainstCorpusLsh: corpus dups, earlier-delta dups, kept novel — by hand") {
    // the Round13OpsSpec exact-kernel fixture, decided via the band index
    val base = Seq(
      (10L, toks(20).mkString(" ")),
      (11L, toks(20, "v").mkString(" "))).toDF("doc_id", "text")
    val delta = Seq(
      (50L, toks(20).mkString(" ")),            // exact corpus copy → dropped
      (51L, ("zq " + toks(20, "v").mkString(" "))), // near corpus copy, j=16/17 → dropped
      (52L, toks(20, "n").mkString(" ")),       // novel → kept
      (53L, toks(20, "m").mkString(" ")),       // earlier twin → kept
      (54L, toks(20, "m").mkString(" ")))       // later twin → dropped
      .toDF("doc_id", "text")
    val baseSh = Dedup.withStringShingles(base, 5)
    val out = Dedup.dedupDeltaAgainstCorpusLsh(
        baseSh, bandsOf(baseSh), Dedup.withStringShingles(delta, 5),
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet == Set(50L, 51L, 52L, 53L, 54L))
    assert(out(50L) == ((1L, false)), s"exact corpus copy: ${out(50L)}")
    assert(out(51L) == ((1L, false)), s"near corpus copy: ${out(51L)}")
    assert(out(52L) == ((0L, true)))
    assert(out(53L) == ((0L, true)), "earlier twin must be kept")
    assert(out(54L) == ((1L, false)), "later twin must be dropped")
  }

  test("identical shingle sets collide in EVERY band (hard exact-dup recall)") {
    // the sketch's one deterministic guarantee: equal sets → equal
    // signatures → equal band buckets, so an exact duplicate can never be
    // missed, independent of the 1-(1-s^r)^b collision probability that
    // governs near-dups
    val docs = Seq(
      (1L, toks(30).mkString(" ")),
      (2L, toks(30).mkString(" ")), // same tokens, different id
      (3L, toks(30, "z").mkString(" "))).toDF("doc_id", "text")
    val b = bandsOf(Dedup.withStringShingles(docs, 5))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    (0 until 8).foreach { band =>
      assert(b((1L, band)) == b((2L, band)),
        s"identical docs differ in band $band")
      assert(b((1L, band)) != b((3L, band)),
        s"distinct docs collide in band $band on a 30-token fixture")
    }
  }

  test("hotCutJoiner: broadcast path ≡ shuffle-anti fallback, and the gate trips on size") {
    // ADVICE r13 medium: the >maxFreq hot-set broadcast must be gated.
    // Build a frame with two hot shingles and three rare ones; cut with the
    // two-row hot set (broadcast path) and with that set padded past the
    // HotBroadcastMaxRows ceiling by shingles no row carries (forced
    // fallback) — the results must be identical by complement either way.
    val rows = Seq(
      (1L, "hot1"), (2L, "hot1"), (3L, "hot1"),
      (1L, "hot2"), (2L, "hot2"), (3L, "hot2"),
      (1L, "rare_a"), (2L, "rare_b"), (3L, "rare_c"))
      .toDF("id", "shingle")
    val hot = rows.groupBy("shingle").agg(count(lit(1)).as("f"))
      .filter(col("f") > 2).select("shingle")
    def padded(total: Int) = hot.unionByName(spark.range(total - 2L)
      .select(concat(lit("pad"), col("id").cast("string")).as("shingle")))
    def collectCut(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "shingle")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def broadcasts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    val viaBroadcast = Dedup.hotCutJoiner(hot)(rows)
    val viaFallback = Dedup.hotCutJoiner(padded(Dedup.HotBroadcastMaxRows + 1))(rows)
    val expected = Set((1L, "rare_a"), (2L, "rare_b"), (3L, "rare_c"))
    assert(collectCut(viaBroadcast) == expected, s"broadcast path: ${collectCut(viaBroadcast)}")
    assert(collectCut(viaFallback) == expected, s"fallback path: ${collectCut(viaFallback)}")
    assert(broadcasts(viaBroadcast) && !broadcasts(viaFallback),
      "the gate must trip one row past the ceiling")
    // boundary: a hot set exactly AT the ceiling still broadcasts
    val atCeiling = Dedup.hotCutJoiner(padded(Dedup.HotBroadcastMaxRows))(rows)
    assert(collectCut(atCeiling) == expected)
    assert(broadcasts(atCeiling))
  }

  test("LSH verdicts ≡ exact-kernel verdicts on the xsnap fixture (sf0.001)") {
    // end-to-end equality of the two registry queries on the planted
    // fixture: every exact-kernel DROP is re-found through the band index
    // (empirical recall 1 here and at sf0.1 — all fixture dup pairs sit at
    // Jaccard ≈ 1 where collision probability is ≈ 1; a genuinely novel
    // pair at exactly 0.5 would collide w.p. 0.9 per the disclosed
    // contract) and nothing extra survives exact verification
    val exact = graft.SparkEntry.queries("q_dedup_cross_snapshot")(spark, sf())
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val lsh = graft.SparkEntry.queries("q_dedup_cross_snapshot_lsh")(spark, sf())
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(exact.keySet == lsh.keySet)
    val diff = exact.keySet.filter(k => exact(k) != lsh(k))
    assert(diff.isEmpty,
      s"verdict/count divergence on ${diff.take(5)}: " +
        s"exact=${diff.take(5).map(exact)}, lsh=${diff.take(5).map(lsh)}")
    assert(exact.values.exists(!_._2), "fixture must contain drops")
  }
}
