package graft.text

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level generation-evaluation overlap: the clipped n-gram
  * precision components of BLEU (Papineni et al. 2002) between candidate
  * and reference text pairs — the standard surface-overlap audit for
  * summarization/translation outputs and for measuring how literally a
  * dataset's "paraphrases" copy their sources.
  *
  * Everything compared is an exact integer: per-n clipped match counts
  * (Σ_g min(c_cand(g), c_ref(g))), candidate gram totals, and the corpus
  * token lengths that drive the brevity penalty; each precision is ONE
  * gated division. The combined geometric-mean BLEU needs pow/exp —
  * transcendentals whose last-ulp behavior is engine-specific — so this
  * operator deliberately stops at the exact components (the form every
  * eval harness logs anyway) rather than hash-compare a transcendental.
  *
  * Scale shape: the gram stream is Σ_{n≤N}(L−n+1) ≈ N·L rows per pair —
  * linear in corpus size, generated partition-locally by one explode per
  * side; both sides aggregate on (pair, n, gram) with map-side combine
  * and meet in ONE co-partitioned equi-join on that same key (no
  * cross-pair traffic anywhere), then collapse to N rows. Adding pairs
  * adds partitions, never join width.
  */
object BleuScore {

  /** Per-n corpus rows `(n, match_cnt, cand_cnt, prec, cand_len,
    * ref_len)` for n = 1..4 over `pairs(pairIdCol, candCol,
    * refCol)`. Tokenization is whitespace `split` — mirror it exactly in
    * any verification engine.
    */
  def ngramPrecision(pairs: DataFrame, pairIdCol: String, candCol: String,
                     refCol: String): DataFrame = {
    // eager anchor (r17): the tokenized pair table feeds THREE consumers
    // (candidate gram counts, reference gram counts, the length totals) —
    // unanchored, each re-ran both tokenizations over the raw text; and the
    // anchor sits on the ARRAY frame, not the exploded one, per the rule-1
    // explode-pushdown discipline
    val tok = pairs.select(col(pairIdCol).as("pair_id"),
      graft.dedup.Dedup.tokens(col(candCol)).as("ct"),
      graft.dedup.Dedup.tokens(col(refCol)).as("rt"))
      .anchor(Bound.PerEntity)

    def grams(t: Column, n: Int): Column =
      when(size(t) >= n,
        transform(sequence(lit(1), size(t) - (n - 1)),
          i => struct(lit(n).as("n"), array_join(slice(t, i, lit(n)), " ").as("gram"))))
        .otherwise(array().cast("array<struct<n:int,gram:string>>"))

    def sideCounts(t: Column, cntName: String): DataFrame =
      tok.select(col("pair_id"),
          explode(flatten(array((1 to 4).map(n => grams(t, n)): _*))).as("ng"))
        .groupBy(col("pair_id"), col("ng.n").as("n"), col("ng.gram").as("gram"))
        .agg(count(lit(1)).as(cntName))

    val cand = sideCounts(col("ct"), "c_cand")
    val ref = sideCounts(col("rt"), "c_ref")
    val perN = cand
      .join(ref, Seq("pair_id", "n", "gram"), "left_outer")
      .select(col("n"), col("c_cand"),
        least(col("c_cand"), coalesce(col("c_ref"), lit(0L))).as("m"))
      .groupBy(col("n"))
      .agg(sum(col("m")).as("match_cnt"), sum(col("c_cand")).as("cand_cnt"))
      .withColumn("prec",
        when(col("cand_cnt") > 0,
          col("match_cnt").cast("double") / col("cand_cnt").cast("double")))
    val lens = tok.agg(
      sum(size(col("ct"))).as("cand_len"), sum(size(col("rt"))).as("ref_len"))
    perN.crossJoin(broadcast(lens)).orderBy(col("n"))
  }

  /** ROUGE-N corpus components for n = 1..2 — the RECALL-oriented counterpart of
    * [[ngramPrecision]] (summarization eval asks "how much of the
    * reference did the candidate cover", BLEU asks the reverse). Per n:
    * clipped matches Σ_g min(c_cand, c_ref), candidate and reference
    * gram totals, precision, recall, and F1 = 2·match/(cand+ref) — the
    * algebraic 2PR/(P+R) collapsed to ONE division of exact integers.
    * Same (pair, n, gram) co-partitioned join shape as BLEU, full-outer
    * so reference grams absent from the candidate still count in the
    * recall denominator.
    */
  def rougeN(pairs: DataFrame, pairIdCol: String, candCol: String,
             refCol: String): DataFrame = {
    // eager anchor on the array frame — same rationale as [[ngramPrecision]]
    // (two gram-count consumers re-tokenized the pair table otherwise)
    val tok = pairs.select(col(pairIdCol).as("pair_id"),
      graft.dedup.Dedup.tokens(col(candCol)).as("ct"),
      graft.dedup.Dedup.tokens(col(refCol)).as("rt"))
      .anchor(Bound.PerEntity)

    def grams(t: Column, n: Int): Column =
      when(size(t) >= n,
        transform(sequence(lit(1), size(t) - (n - 1)),
          i => struct(lit(n).as("n"), array_join(slice(t, i, lit(n)), " ").as("gram"))))
        .otherwise(array().cast("array<struct<n:int,gram:string>>"))

    def sideCounts(t: Column, cntName: String): DataFrame =
      tok.select(col("pair_id"),
          explode(flatten(array((1 to 2).map(n => grams(t, n)): _*))).as("ng"))
        .groupBy(col("pair_id"), col("ng.n").as("n"), col("ng.gram").as("gram"))
        .agg(count(lit(1)).as(cntName))

    sideCounts(col("ct"), "c_cand")
      .join(sideCounts(col("rt"), "c_ref"),
        Seq("pair_id", "n", "gram"), "full_outer")
      .select(col("n"),
        coalesce(col("c_cand"), lit(0L)).as("cc"),
        coalesce(col("c_ref"), lit(0L)).as("cr"))
      .withColumn("m", least(col("cc"), col("cr")))
      .groupBy(col("n"))
      .agg(sum(col("m")).as("match_cnt"), sum(col("cc")).as("cand_cnt"),
        sum(col("cr")).as("ref_cnt"))
      .select(col("n"), col("match_cnt"), col("cand_cnt"), col("ref_cnt"),
        when(col("cand_cnt") > 0,
          col("match_cnt").cast("double") / col("cand_cnt").cast("double"))
          .as("rouge_p"),
        when(col("ref_cnt") > 0,
          col("match_cnt").cast("double") / col("ref_cnt").cast("double"))
          .as("rouge_r"),
        when(col("cand_cnt") + col("ref_cnt") > 0,
          (col("match_cnt") * 2L).cast("double") /
            (col("cand_cnt") + col("ref_cnt")).cast("double")).as("rouge_f1"))
      .orderBy(col("n"))
  }
}
