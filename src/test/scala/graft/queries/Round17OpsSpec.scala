package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-17 operator contracts: the two remaining broadcast-only delta
  * paths re-expressed through the r16 bucket-partitioned co-located
  * template ([[graft.dedup.Dedup.dedupDeltaAgainstCorpusLshBucketed]]) —
  * [[graft.multimodal.Multimodal.phashIncrementalBucketed]] (image band
  * index bucketed on `(bi, bv)`) and
  * [[graft.dedup.BloomDedup.bloomProbeBucketed]] (corpus fingerprint
  * store bucketed on `fp`). Each: word-for-word result equality against
  * its oracle-green broadcast sibling, live planted verdicts on both
  * sides of the contract, and the Exchange-savings plan pin (bucketed
  * standing tables must join without reshuffling the standing side).
  */
class Round17OpsSpec extends SparkSpec {

  private def countExchanges(plan: String): Int =
    plan.linesIterator.count(_.contains("Exchange hashpartitioning"))

  /** TRUE iff a shuffle Exchange sits BETWEEN `table`'s file scan and the
    * join that consumes it — i.e. the standing side MOVES to reach its
    * join. Exchanges ABOVE the join (the distinct/groupBy of the
    * collision-sized join output) are the probe's own O(collisions) work
    * and not the standing side moving, so an exchange only counts when
    * its subtree contains the scan and no join. The semantically precise
    * form of the Exchange-savings pin: independent of partition-count
    * coincidences on the probe side.
    */
  private def standingSideMoves(df: org.apache.spark.sql.DataFrame,
                                table: String): Boolean = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e }.exists { e =>
      e.collectLeaves().exists(_.toString.contains(table)) &&
        e.find(_.nodeName.contains("Join")).isEmpty
    }
  }

  private def dropTables(ts: String*): Unit =
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("bucketed TB-delta pHash incremental ≡ broadcast variant; standing index joins without Exchange") {
    import graft.multimodal.Multimodal
    val hashes = graft.Tables.cachedParquet(spark,
        PipelineQueries.phashHashesParquet(spark, sf()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val isDeltaId = (c: org.apache.spark.sql.Column) => c % 7 === 0
    val v1Hashes = hashes.filter(!isDeltaId(col("doc_id")))
    val delta = hashes.filter(isDeltaId(col("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v1Bands = Multimodal.phashBands(v1Hashes)
    val isV1 = !isDeltaId(col("pid"))
    dropTables("r17_phb_idx", "r17_phb_idx_plain", "r17_phb_idx_salt")
    v1Bands.write.bucketBy(8, "bi", "bv").sortBy("bi", "bv")
      .saveAsTable("r17_phb_idx")
    v1Bands.write.saveAsTable("r17_phb_idx_plain")
    Multimodal.phashBandsSalted(v1Hashes, numSalts = 4)
      .write.bucketBy(8, "bi", "bv", "salt").sortBy("bi", "bv", "salt")
      .saveAsTable("r17_phb_idx_salt")
    try {
      val expected = Multimodal.phashIncremental(v1Bands, delta, hashes, isV1)
        .collect().sortBy(_.getLong(0))
      val got = Multimodal.phashIncrementalBucketed("r17_phb_idx", delta,
        hashes, isV1, numSalts = 1).collect().sortBy(_.getLong(0))
      assert(got.length == expected.length,
        s"row counts diverge: ${got.length} vs ${expected.length}")
      got.zip(expected).foreach { case (g, e) =>
        assert(g == e, s"bucketed variant diverges: got $g want $e")
      }
      // the SALTED skew layout (table bucketed on (bi, bv, salt), probe
      // exploded across salts) must be pair-for-pair identical too —
      // every corpus partner carries exactly one salt
      val gotSalt = Multimodal.phashIncrementalBucketed("r17_phb_idx_salt",
        delta, hashes, isV1, numSalts = 4).collect().sortBy(_.getLong(0))
      gotSalt.zip(expected).foreach { case (g, e) =>
        assert(g == e, s"salted variant diverges: got $g want $e")
      }
      // the fixture must exercise BOTH verdicts and both match generations
      // (the dense mod-768 hash space plants v1 twins; the %7 slice of a
      // mod-768-periodic id space plants delta-internal twins)
      assert(got.exists(_.getString(5) == "near_dup"), "no near_dup planted")
      assert(got.exists(_.getString(5) == "novel"), "no novel planted")
      assert(got.exists(_.getLong(2) > 0), "no v1-generation match planted")
      assert(got.exists(_.getLong(3) > 0), "no delta-generation match planted")
      assert(got.forall(_.getBoolean(6)), "inc_equals_rebuild must hold")
      // plan shape: with broadcasts disabled, the (bi, bv)-bucketed
      // standing index must save ≥ 1 Exchange vs the same function over an
      // identical non-bucketed table (the corpus-branch probe reads the
      // index co-located; the delta side shuffles INTO its layout)
      graft.GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        def exchanges(t: String) = countExchanges(
          Multimodal.phashIncrementalBucketed(t, delta, hashes, isV1, numSalts = 1)
            .queryExecution.executedPlan.toString)
        val nBucketed = exchanges("r17_phb_idx")
        val nPlain = exchanges("r17_phb_idx_plain")
        assert(nBucketed <= nPlain - 1,
          s"bucketing saved no Exchange: bucketed=$nBucketed plain=$nPlain")
        // the precise claim: the standing index never moves when bucketed
        assert(!standingSideMoves(Multimodal.phashIncrementalBucketed(
          "r17_phb_idx", delta, hashes, isV1, numSalts = 1), "r17_phb_idx"),
          "bucketed standing index was shuffled")
        assert(standingSideMoves(Multimodal.phashIncrementalBucketed(
          "r17_phb_idx_plain", delta, hashes, isV1, numSalts = 1), "r17_phb_idx_plain"),
          "plain-table control should shuffle (pin would prove nothing)")
      }
    } finally {
      dropTables("r17_phb_idx", "r17_phb_idx_plain", "r17_phb_idx_salt")
      hashes.unpersist(); delta.unpersist()
    }
  }

  test("bucketed TB-delta bloom confirm ≡ broadcast variant; standing fp store joins without Exchange") {
    import graft.dedup.BloomDedup
    val docs = graft.Tables.documents(spark, sf()).select(col("doc_id"), col("text"))
    val corpusFp = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // delta: exact copies of corpus docs (+1M — true dups, must confirm)
    // and suffixed variants (+2M — novel, exercise fp accounting)
    val src = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 1)
    val deltaFp = src
      .select((col("doc_id") + 1000000L).as("doc_id"), md5(col("text")).as("fp"))
      .unionByName(src.select((col("doc_id") + 2000000L).as("doc_id"),
        md5(concat(col("text"), lit("~novel"))).as("fp")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = BloomDedup.corpusBloom(corpusFp, 1 << 16, 4)
    dropTables("r17_fp", "r17_fp_plain")
    corpusFp.select("fp").write.bucketBy(8, "fp").sortBy("fp")
      .saveAsTable("r17_fp")
    corpusFp.select("fp").write.saveAsTable("r17_fp_plain")
    try {
      val expected = BloomDedup.bloomProbe(words, corpusFp, deltaFp,
        mBits = 1 << 16, k = 4).collect().sortBy(_.getLong(0))
      val got = BloomDedup.bloomProbeBucketed(words, "r17_fp", deltaFp,
        mBits = 1 << 16, k = 4).collect().sortBy(_.getLong(0))
      assert(got.length == expected.length,
        s"row counts diverge: ${got.length} vs ${expected.length}")
      got.zip(expected).foreach { case (g, e) =>
        assert(g == e, s"bucketed variant diverges: got $g want $e")
      }
      assert(got.exists(_.getString(3) == "drop"), "no true dup planted")
      assert(got.exists(_.getString(3) == "keep"), "no novel planted")
      // plan shape: with broadcasts disabled, the fp-bucketed standing
      // store must save ≥ 1 Exchange vs the same function over an
      // identical non-bucketed table (the hit set shuffles INTO the
      // store's layout; the corpus side never moves). Shuffle partitions
      // pinned to the bucket count for the comparison — the production
      // configuration (a store bucketed at a count incompatible with the
      // session's shuffle width would pay one hit-sized re-Exchange to
      // align, never a corpus-sized one; at the suite's 4-vs-8 mismatch
      // that alignment masks the corpus-side saving in a raw count)
      graft.GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.shuffle.partitions" -> "8") {
        def exchanges(t: String) = countExchanges(
          BloomDedup.bloomProbeBucketed(words, t, deltaFp,
              mBits = 1 << 16, k = 4)
            .queryExecution.executedPlan.toString)
        val nBucketed = exchanges("r17_fp")
        val nPlain = exchanges("r17_fp_plain")
        assert(nBucketed <= nPlain - 1,
          s"bucketing saved no Exchange: bucketed=$nBucketed plain=$nPlain")
        // the precise claim: the standing fp store never moves when
        // bucketed (independent of the shuffle-width pin above)
        assert(!standingSideMoves(BloomDedup.bloomProbeBucketed(words,
          "r17_fp", deltaFp, mBits = 1 << 16, k = 4), "r17_fp"),
          "bucketed standing fp store was shuffled")
        assert(standingSideMoves(BloomDedup.bloomProbeBucketed(words,
          "r17_fp_plain", deltaFp, mBits = 1 << 16, k = 4), "r17_fp_plain"),
          "plain-table control should shuffle (pin would prove nothing)")
      }
    } finally {
      dropTables("r17_fp", "r17_fp_plain")
      corpusFp.unpersist(); deltaFp.unpersist()
    }
  }

  test("NULL fingerprint rides three-valued logic identically on broadcast and bucketed confirm") {
    import graft.dedup.BloomDedup
    import spark.implicits._
    // the ADVICE-r14 latent class made explicit: md5(NULL text) = NULL fp
    // must surface bloom_hit = NULL, is_dup = NULL, verdict = 'keep' —
    // never a false drop — on BOTH confirm shapes
    val corpusFp = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("doc_id", "fp")
    val deltaFp = Seq((10L, "aa"), (11L, "zz"),
      (12L, null.asInstanceOf[String])).toDF("doc_id", "fp")
    val words = BloomDedup.corpusBloom(corpusFp, 1 << 10, 4)
    dropTables("r17_fp_null")
    corpusFp.select("fp").write.bucketBy(4, "fp").saveAsTable("r17_fp_null")
    try {
      val a = BloomDedup.bloomProbe(words, corpusFp, deltaFp,
        mBits = 1 << 10, k = 4).collect().sortBy(_.getLong(0))
      val b = BloomDedup.bloomProbeBucketed(words, "r17_fp_null", deltaFp,
        mBits = 1 << 10, k = 4).collect().sortBy(_.getLong(0))
      a.zip(b).foreach { case (x, y) =>
        assert(x == y, s"variants diverge on $x vs $y")
      }
      val nullRow = b.find(_.getLong(0) == 12L).get
      assert(nullRow.isNullAt(1), "bloom_hit must be NULL for a NULL fp")
      assert(nullRow.isNullAt(2), "is_dup must be NULL for a NULL fp")
      assert(nullRow.getString(3) == "keep", "NULL fp must keep, never drop")
      assert(b.find(_.getLong(0) == 10L).get.getString(3) == "drop")
      assert(b.find(_.getLong(0) == 11L).get.getString(3) == "keep")
    } finally dropTables("r17_fp_null")
  }
}
