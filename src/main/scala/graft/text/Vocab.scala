package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Vocabulary coverage auditing for tokenizer/serving pipelines: fix a
  * frequency-ranked top-V vocabulary, then measure each source's
  * out-of-vocabulary token rate — the signal that decides whether a
  * tokenizer (or embedding table) trained on one mix transfers to another.
  *
  * Scale shape: the corpus-frequency aggregate is one map-combined shuffle;
  * the top-V cut plans as TakeOrderedAndProject (per-partition local top-V,
  * no global sort) with the total (count, term) order making the cut
  * deterministic under ties; V is bounded (vocab-sized), so the vocabulary
  * broadcasts back onto the token stream — the audit never shuffles the
  * corpus a second time. Token arrays are materialized before the explode
  * (NOTES rule 1).
  */
object Vocab {

  private def tokens(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), graft.dedup.Dedup.tokens(col("text")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    tok.select(col("source"), explode(col("t")).as("term"))
  }

  /** The top-`v` terms by corpus frequency; ties cut by term text so the
    * vocabulary is a pure function of the corpus.
    */
  private def topOf(toks: DataFrame, v: Int): DataFrame =
    toks
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term"))
      .limit(v)
      .select(col("term"))

  /** Heaps'-law (type–token) growth curve: vocabulary size as a function of
    * corpus size, sampled at 10 equal-width document-id checkpoints —
    * the audit that says whether a corpus is still contributing new
    * vocabulary or has saturated (useful before paying for more data of the
    * same source). Sub-linear growth (V ≈ K·nᵝ, β < 1) is healthy; a curve
    * that flattens early means the marginal data is lexically redundant.
    *
    * Exactness: a token type is "seen by checkpoint c" iff its FIRST
    * occurrence (min doc id) is ≤ c — so each checkpoint's type count is an
    * exact conditional sum over the per-token min, and token totals are
    * plain conditional counts. Checkpoints are `i·maxId/10` in integer
    * division — a pure function of the corpus.
    *
    * Scale shape: one min-per-token aggregate (map-combined; vocabulary-
    * sized result) and one 10-column conditional aggregate over it,
    * plus the same over the occurrence stream; the 1-row id-range frame
    * broadcasts. Nothing is ever sorted.
    */
  def heapsCurve(docs: DataFrame): DataFrame = {
    val points = 10
    // `tok` is consumed exactly once (by `occ`, which IS persisted), so it
    // carries no cache of its own (r17 — the lazy persist only added
    // cache-block management)
    val tok = docs.select(col("doc_id").as("__id"), graft.dedup.Dedup.tokens(col("text")).as("t"))
    val occ = tok.select(col("__id"), explode(col("t")).as("term"))
      .filter(col("term") =!= "")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val firsts = occ.groupBy(col("term")).agg(min(col("__id")).as("__first"))
    val maxId = occ.agg(max(col("__id")).as("__mx"))
    def curve(src: DataFrame, idc: String, alias: String): DataFrame = {
      // cross-multiplied (id·points ≤ maxId·i): pure BIGINT, no division —
      // identical semantics to `id ≤ maxId·i/points` without a float or an
      // engine-specific integer-division rounding in the comparison
      val aggs = (1 to points).map { i =>
        sum(when(col(idc) * points <= col("__mx") * i, 1L).otherwise(0L))
          .as(s"${alias}_$i")
      }
      src.crossJoin(broadcast(maxId)).agg(aggs.head, aggs.tail: _*)
    }
    val types = curve(firsts, "__first", "types")
    val tokens = curve(occ, "__id", "tokens")
    // unpivot via ONE crossJoin + a metadata explode over the single
    // 2·points-column row (r17 A/B x3, exact-equal: 1.30-1.88 s vs
    // 0.54-0.66 on q_heaps_law): the previous points-way union re-embedded
    // BOTH aggregate subtrees in every branch, so each checkpoint re-ran
    // the full types/tokens aggregations. The exploded array elements are
    // plain attribute references of the 1-row input — not the rule-1
    // complex-expression class.
    types.crossJoin(broadcast(tokens))
      .select(explode(array((1 to points).map(i =>
          struct(lit(i).as("checkpoint"),
            col(s"tokens_$i").as("n_tokens"),
            col(s"types_$i").as("n_types"))): _*)).as("r"))
      .select(col("r.checkpoint").as("checkpoint"),
        col("r.n_tokens").as("n_tokens"), col("r.n_types").as("n_types"))
  }

  /** Per-source token count, OOV count against the top-500 vocabulary, and
    * the OOV rate (one division of exact longs). The token stream is built
    * (and its array frame persisted) ONCE and shared by the vocabulary cut
    * and the audit join — the corpus is tokenized a single time.
    */
  def oovRate(docs: DataFrame): DataFrame = {
    val toks = tokens(docs)
    val voc = topOf(toks, 500).withColumn("__in", lit(1))
    toks
      .join(broadcast(voc), Seq("term"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Chao1 vocabulary-richness estimate and Good–Turing unseen mass per
    * source — "how much vocabulary does this corpus still hide": Chao1's
    * bias-corrected V + f1(f1−1)/(2(f2+1)) from the singleton/doubleton
    * counts, and f1/N as the Good–Turing probability mass of unseen types.
    * All inputs are exact BIGINTs from one per-(source, term) aggregate;
    * both estimates are single fixed-operand-order IEEE expressions.
    * The [[heapsCurve]] companion: Heaps says how fast vocabulary grew,
    * Chao1 says how much is left.
    */
  def chao1(docs: DataFrame): DataFrame = {
    val pt = tokens(docs).groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("f"))
    val g = pt.groupBy(col("source")).agg(
      sum(col("f")).as("n_tokens"), count(lit(1)).as("vocab"),
      sum(when(col("f") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("f") === 2, 1L).otherwise(0L)).as("f2"))
    g.withColumn("chao1",
        col("vocab").cast("double") +
          col("f1").cast("double") * (col("f1").cast("double") - lit(1.0)) /
            (lit(2.0) * (col("f2").cast("double") + lit(1.0))))
      .withColumn("gt_unseen_mass",
        when(col("n_tokens") > 0,
          col("f1").cast("double") / col("n_tokens").cast("double")))
  }

  /** Zipf's-law fit over the top-500 rank–frequency curve: OLS of ln(freq)
    * on ln(rank) — slope ≈ −1 is the healthy-corpus signature, a flat
    * slope means the corpus is template-dominated (the [[heapsCurve]]
    * companion along the OTHER axis of lexical statistics). The top-k cut
    * plans as TakeOrderedAndProject with the (count, term) order making
    * rank deterministic under ties.
    *
    * Oracle discipline: raw ln(c) folds are NOT hash-safe — Java's
    * `Math.log` and libm diverge by 1 ulp on some integer counts (measured
    * on this corpus: Σln(c) differed in the last bit while Σln(c)² did
    * not). Both log coordinates therefore QUANTIZE to the floor-micro-nat
    * integer grid (the bigram-perplexity discipline), making all five OLS
    * sums exact BIGINTs; slope (unitless — the grid scale cancels),
    * intercept (÷10⁶ back to nats) and R² are then single
    * fixed-operand-order IEEE expressions over exact integers.
    */
  def zipfFit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k·(ln(max c)·10⁶)² must stay under 2⁶³: at k = 500 it does for every
    // BIGINT count (ln c ≤ 44)
    val tf = tokens(docs).groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(500)
    val ranked = tf
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("term"))).cast("long"))
      .withColumn("x6",
        floor(log(col("rank").cast("double")) * lit(1e6)).cast("long"))
      .withColumn("y6",
        floor(log(col("c").cast("double")) * lit(1e6)).cast("long"))
    val kd = col("k").cast("double")
    val snum = kd * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val sden = kd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val yden = kd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    ranked
      .agg(count(lit(1)).as("k"), sum(col("x6")).as("sx"),
        sum(col("y6")).as("sy"), sum(col("x6") * col("x6")).as("sxx"),
        sum(col("x6") * col("y6")).as("sxy"),
        sum(col("y6") * col("y6")).as("syy"))
      .withColumn("slope", when(col("k") > 1 && sden > lit(0.0), snum / sden))
      .withColumn("intercept",
        when(col("slope").isNotNull,
          (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
            kd / lit(1e6)))
      .withColumn("r2",
        when(col("slope").isNotNull && yden > lit(0.0),
          (snum * snum) / (sden * yden)))
      .select(col("k"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        col("syy"), col("slope"), col("intercept"), col("r2"))
  }
}
