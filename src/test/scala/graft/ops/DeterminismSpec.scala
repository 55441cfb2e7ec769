package graft.ops

import graft.SparkSpec
import graft.dedup.{Dedup, MinHashLSH}
import graft.text.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partitioning-invariance properties: on a real cluster the input arrives in
  * arbitrary splits, so every operator must produce identical results for
  * identical *data* regardless of how it is partitioned. Each test runs the
  * operator on a 1-partition and a shuffled 7-partition copy of the same
  * input and asserts byte-identical results.
  */
class DeterminismSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 60L)
    .map(i => (i, s"alpha b$i gamma d${i % 7} epsilon z${i % 3} eta theta", s"src${i % 4}"))
    .toDF("doc_id", "text", "source")

  private def variants(df: DataFrame): (DataFrame, DataFrame) =
    (df.repartition(1), df.repartition(7, col("doc_id")))

  test("minhash + OPH signatures are partitioning-invariant") {
    val (a, b) = variants(docs)
    def sigs(d: DataFrame, oph: Boolean) = {
      val sh = Dedup.withShingles(d, 3)
      val s = if (oph) MinHashLSH.signaturesOPH(sh, buckets = 16)
        else MinHashLSH.signaturesFromShingles(sh, numHashes = 16)
      s.select($"id", $"sig").as[(Long, Seq[Long])].collect().toMap
    }
    assert(sigs(a, oph = false) == sigs(b, oph = false))
    assert(sigs(a, oph = true) == sigs(b, oph = true))
  }

  test("lineDedup output is partitioning-invariant") {
    val (a, b) = variants(docs)
    def run(d: DataFrame) = Dedup.lineDedup(d)
      .select($"doc_id", $"n_kept", $"clean_text")
      .as[(Long, Long, String)].collect().toSet
    assert(run(a) == run(b))
  }

  test("packSequences offsets are partitioning-invariant") {
    val (a, b) = variants(docs)
    def run(d: DataFrame) = Curation.packSequences(d, seqLen = 16, numShards = 4)
      .select($"doc_id", $"start_offset", $"seq_first", $"seq_last")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(run(a) == run(b))
  }

  test("mixtureInterleave order and tokenBudget selection are partitioning-invariant") {
    val (a, b) = variants(docs)
    def mix(d: DataFrame) = Curation.mixtureInterleave(d, Seq("src0" -> 2.0))
      .orderBy($"ord", $"source", $"doc_id").limit(20)
      .select($"doc_id").as[Long].collect().toSeq
    assert(mix(a) == mix(b))
    def budget(d: DataFrame) = Curation.tokenBudget(d, budget = 30L)
      .select($"doc_id").as[Long].collect().toSet
    assert(budget(a) == budget(b))
  }

  test("weighted (A-ES) sampling is partitioning-invariant and weight-sensitive") {
    val (a, b) = variants(docs)
    def draw(d: DataFrame) = Sampling.weightedSample(
        d, ($"doc_id" % 5 + 1).cast("double"), n = 20, id = $"doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(draw(a) == draw(b))
    def strat(d: DataFrame) = Sampling.weightedStratifiedSample(
        d, $"doc_id" % 3, ($"doc_id" % 5 + 1).cast("double"), n = 4, id = $"doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(strat(a) == strat(b))
    // uniform weights: the draw is not a fixed prefix or suffix of ids
    val uniform = Sampling.weightedSample(docs, lit(1.0), n = 20, id = $"doc_id")
      .select($"doc_id").as[Long].collect().toSet
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    assert(uniform.size == 20 && uniform != ids.take(20).toSet &&
      uniform != ids.takeRight(20).toSet)
    // weight sensitivity: weight-10 rows must beat weight-0.1 rows in
    // expectation — with 30 of each and n=20, a correct A-ES draw picks
    // far more heavy rows (probability of the reverse is astronomically
    // small for any seed; this is deterministic given the fixed seed)
    val skewed = Sampling.weightedSample(docs,
        when($"doc_id" < 30, lit(10.0)).otherwise(lit(0.1)), n = 20, id = $"doc_id")
      .select($"doc_id").as[Long].collect()
    assert(skewed.count(_ < 30) >= 15, s"heavy rows under-drawn: ${skewed.toSeq}")
  }

  test("exact and n-gram dedup pair sets are partitioning-invariant") {
    val dup = docs.unionByName(
      docs.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 1000L).as("doc_id"), $"text", $"source"))
    val (a, b) = variants(dup)
    def pairs(d: DataFrame) = Dedup.ngramJaccardPairs(d, k = 3, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs(a) == pairs(b))
    def groups(d: DataFrame) = Dedup.exactDuplicateGroups(d)
      .select($"content_hash", $"keep_id").as[(String, Long)].collect().toSet
    assert(groups(a) == groups(b))
  }
  test("stableIds equal the total-order position under any partitioning") {
    val (a, b) = variants(docs)
    def ids(d: org.apache.spark.sql.DataFrame) =
      StableIds.withStableIds(d, Seq("source", "doc_id"))
        .select($"doc_id", $"stable_id").as[(Long, Long)].collect().toMap
    val ia = ids(a)
    assert(ia == ids(b))
    // contiguous 0..n-1, and ordered like (source, doc_id)
    assert(ia.values.toSeq.sorted == (0L until 60L).toSeq)
    val bySort = docs.select($"doc_id", $"source").as[(Long, String)].collect()
      .sortBy { case (id, src) => (src, id) }.map(_._1)
    bySort.zipWithIndex.foreach { case (id, i) => assert(ia(id) == i.toLong) }
  }

  test("sentenceStats: crafted sentences, empties dropped") {
    val out = graft.text.TextAnalysis.sentenceStats(
        Seq((1L, "a b c. d e! f g h?"), (2L, "no punct here")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_sentences") == 3L)
    assert(out(1L).getAs[Long]("n_words") == 8L)
    assert(out(1L).getAs[Long]("max_sentence_words") == 3L)
    assert(out(2L).getAs[Long]("n_sentences") == 1L)
    assert(out(2L).getAs[Double]("avg_sentence_words") == 3.0)
  }
  test("knnGraph edges are partitioning-invariant") {
    val emb = graft.Tables.embeddings(spark, sf())
      .select($"vec_id", $"embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.sim.Similarity.knnGraph(d, k = 2)
        .select($"src", $"dst", $"rank", $"mutual")
        .as[(Long, Long, Int, Boolean)].collect().toSet
    assert(run(emb.repartition(1)) == run(emb.repartition(7, $"vec_id")))
  }

  test("kendallTau / theilSen / duplicateWeights are partitioning-invariant") {
    import graft.analytics.Correlation
    val pts = (0L until 40L)
      .map(i => (s"g${i % 3}", i, (i * 7 + i % 5 * 11) % 97, i))
      .toDF("grp", "x", "y", "id")
    val (p1, p7) = (pts.repartition(1), pts.repartition(7, col("id")))
    assert(
      Correlation.kendallTau(p1, "grp", "x", "y", "id").orderBy("grp").collect().toSeq ==
      Correlation.kendallTau(p7, "grp", "x", "y", "id").orderBy("grp").collect().toSeq)
    assert(
      Correlation.theilSen(p1, "grp", "x", "y").orderBy("grp").collect().toSeq ==
      Correlation.theilSen(p7, "grp", "x", "y").orderBy("grp").collect().toSeq)
    val (d1, d7) = variants(docs)
    assert(
      Dedup.duplicateWeights(d1).orderBy("doc_id").collect().toSeq ==
      Dedup.duplicateWeights(d7).orderBy("doc_id").collect().toSeq)
  }
}
