package graft.queries

import graft.SparkSpec
import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Inter-stage contracts of `q_pipeline_e2e` (r13 verdict Next #4), each
  * asserted AT THE JOINT: every stage's drop set is recomputed here from
  * the base tables through the public operator API — independently of the
  * query's filtered-materialized-table shortcuts — and must equal the fate
  * the composed query assigned. A divergence would mean a shortcut
  * (shingle-table doc_id filter, positional-table filter, budget window)
  * changed semantics at the boundary between two stages.
  */
class PipelineE2eSpec extends SparkSpec {

  private lazy val fates =
    graft.SparkEntry.queries("q_pipeline_e2e")(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The pipeline's input (augmented + the +3M batch-internal copies). */
  private def aug = PipelineQueries.e2eCorpus(
    graft.Tables.documents(spark, sf()))

  /** The standing-artifact corpus (pair/positional tables are keyed to it). */
  private def augBase = PipelineQueries.augmented(
    graft.Tables.documents(spark, sf()))

  private val AllFates = Set("ingest_dup", "exact_dup", "near_dup",
    "contaminated", "low_quality", "selected", "over_budget")

  test("fates PARTITION the augmented corpus (each doc exactly one fate)") {
    val n = aug.count()
    assert(fates.size.toLong == n, s"${fates.size} fates for $n docs")
    val byFate = fates.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byFate.keySet.subsetOf(AllFates), s"unexpected fates: ${byFate.keySet}")
    // the fixture must exercise at least the gate + dedup + selection joints
    assert(byFate.getOrElse("ingest_dup", 0) > 0)
    assert(byFate.getOrElse("exact_dup", 0) > 0)
    assert(byFate.getOrElse("near_dup", 0) > 0)
    assert(byFate.getOrElse("selected", 0) > 0)
  }

  test("stage-0 joint: ingest_dup set ≡ bloom gate recomputed from base tables") {
    // fresh fingerprints + a fresh bitmap, independent of the memoized
    // fixtures the query reads — equality proves artifact freshness AND the
    // gate's exactness (confirm removes every false positive)
    val corpusFp = graft.Tables.documents(spark, sf())
      .select(md5(col("text")).as("fp"))
    val deltaFp = aug.filter(col("doc_id") >= 1000000L)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val bloom = graft.dedup.BloomDedup
    val drop0 = bloom
      .bloomProbe(bloom.corpusBloom(corpusFp, 1 << 16, 4), corpusFp, deltaFp, mBits = 1 << 16, k = 4)
      .filter(col("verdict") === "drop")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ingest = fates.filter(_._2 == "ingest_dup").keySet
    assert(ingest == drop0,
      s"ingest_dup mismatch: only-in-query=${(ingest -- drop0).take(5)} " +
        s"only-in-replay=${(drop0 -- ingest).take(5)}")
    // exactness: gate drops = delta fps that literally occur in the corpus
    val corpusSet = corpusFp.distinct().collect().map(_.getString(0)).toSet
    val exact = deltaFp.collect()
      .filter(r => corpusSet(r.getString(1))).map(_.getLong(0)).toSet
    assert(drop0 == exact)
  }

  // stage-0 survivors per the assigned fates (joint style: each test trusts
  // the PREVIOUS stage's fates and re-derives its own stage independently)
  private def s0 = {
    val ingest = fates.filter(_._2 == "ingest_dup").keySet.toSeq
    aug.filter(!col("doc_id").isin(ingest: _*))
  }

  test("stage-1/2 joint: near_dup set ≡ full-corpus pairs recomputed, survivor-restricted") {
    val keep1 = s0.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    // fresh pair computation from the base tables — the query read the
    // materialized dupPairsParquet instead; equality proves BOTH the
    // artifact's freshness and the restriction semantics at this joint
    val keep1Ids = keep1.collect().map(_.getLong(0)).toSet
    val drop2 = Dedup.ngramJaccardPairs(augBase, k = 5, threshold = 0.5)
      .select("id_a", "id_b")
      .collect()
      .filter(r => keep1Ids(r.getLong(0)) && keep1Ids(r.getLong(1)))
      .map(_.getLong(1)).toSet
    val nearDupFates = fates.filter(_._2 == "near_dup").keySet
    assert(nearDupFates == drop2,
      s"near_dup mismatch: only-in-query=${(nearDupFates -- drop2).take(5)} " +
        s"only-in-replay=${(drop2 -- nearDupFates).take(5)}")
    // exact_dup joint: dropped = stage-0 survivors minus keep1
    val exactFates = fates.filter(_._2 == "exact_dup").keySet
    val keep1Set = keep1.collect().map(_.getLong(0)).toSet
    val s0Set = s0.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactFates == (s0Set -- keep1Set))
  }

  test("stage-2/3 joint: contaminated set ≡ run detection recomputed over near-dup survivors") {
    val keep1 = s0.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s1 = aug.join(keep1, Seq("doc_id"), "left_semi")
    val drop2Ids = fates.filter(_._2 == "near_dup").keySet.toSeq
    val s2 = s1.filter(!col("doc_id").isin(drop2Ids: _*))
    val bench = graft.Tables.documents(spark, sf())
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 97 === 3)
    val drop3 = Dedup.benchmarkTokenRunsFromPositional(Dedup.positionalArrays(s2, 5), bench,
        k = 5, minRunTokens = 15)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = fates.filter(_._2 == "contaminated").keySet
    assert(contaminated == drop3,
      s"contaminated mismatch: only-in-query=${(contaminated -- drop3).take(5)} " +
        s"only-in-replay=${(drop3 -- contaminated).take(5)}")
    // every in-corpus eval doc long enough to self-match must be gone by
    // stage 3 (the "eval leaked into train" guarantee the stage exists for)
    val leakyBench = bench
      .filter(size(split(col("text"), "\\s+")) >= 15)
      .collect().map(_.getLong(0)).toSet
    val badFates = leakyBench.filter(id =>
      !Set("exact_dup", "near_dup", "contaminated").contains(fates(id)))
    assert(badFates.isEmpty,
      s"eval docs survived past decon: ${badFates.take(5).map(id => id -> fates(id))}")
  }

  test("stage-4/5 joints: quality threshold and greedy budget prefix") {
    val survivors3 = fates.filter(f => Set("low_quality", "selected",
      "over_budget").contains(f._2)).keySet.toSeq
    val q = TextAnalysis.qualityFeatures(
        aug.filter(col("doc_id").isin(survivors3: _*)))
      .select(col("doc_id"), col("quality_score"), col("n_tokens"),
        TextAnalysis.langId(col("text")).as("pred_lang"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
    // quality joint
    q.foreach { case (id, score, _, _) =>
      if (score < 0.5) assert(fates(id) == "low_quality", s"$id score=$score")
      else assert(fates(id) != "low_quality", s"$id score=$score")
    }
    // budget joint: per language, in (quality desc, id) order the running
    // BIGINT token sum decides selected/over_budget; since the sum is
    // monotone nondecreasing, 'selected' must be a PREFIX and its token
    // total must fit the 20k budget
    q.filter(t => t._2 >= 0.5).groupBy(_._4).foreach { case (lang, docs) =>
      val ordered = docs.sortBy(d => (-d._2, d._1))
      var cum = 0L
      var seenOver = false
      ordered.foreach { case (id, _, nTok, _) =>
        cum += nTok
        val expected = if (cum <= 20000L) "selected" else "over_budget"
        assert(fates(id) == expected,
          s"budget joint: $lang doc $id cum=$cum got ${fates(id)}")
        if (fates(id) == "over_budget") seenOver = true
        else assert(!seenOver, s"selected after over_budget in $lang at $id")
      }
    }
  }
}
