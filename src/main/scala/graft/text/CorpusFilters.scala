package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based corpus filtering — the cleaning pass every web-scale training
  * pipeline runs before dedup/mixing. Two public rule sets:
  *
  *  - [[c4Flags]]/[[c4Summary]]: C4-style cleanliness rules (terminal
  *    punctuation, no code braces, no boilerplate "lorem ipsum", blocklist
  *    words, max word length, minimum word count) — cf. the C4 dataset
  *    construction rules (Raffel et al., 2020, §2.2).
  *  - [[gopherFlags]]: Gopher-style quality thresholds (word-count bounds,
  *    mean-word-length band, symbol-to-word ratio, alphabetic-word fraction,
  *    minimum stopword count) — cf. Rae et al., 2021, Appendix A.
  *
  * Every rule is a codegen'd string/array projection over the document —
  * no shuffle at all until the caller aggregates; at 100 TB this pass is
  * embarrassingly parallel and IO-bound, which is exactly what you want
  * from a first-stage filter. Ratios are a single IEEE division of two
  * integer-derived operands, so both the booleans and the reported ratio
  * columns compare bit-exactly across engines.
  */
object CorpusFilters {

  private def toks(c: Column): Column = graft.dedup.Dedup.tokens(c)

  // ---- C4-style cleanliness rules -----------------------------------------

  /** Per-document C4 rule booleans + the conjunctive `keep` flag. */
  def c4Flags(docs: DataFrame): DataFrame = {
    // Coalesce so a null document gets definite flags (keep=false via
    // r_min_words) rather than NULL flags — NULL `keep` passes a
    // `filter(!keep)` reject-side audit, the same three-valued trap as the
    // bloom NULL-fingerprint verdict. Token-less docs pass r_word_len_ok
    // vacuously (array_max of an empty array is NULL, not a verdict).
    val t = coalesce(col("text"), lit(""))
    val w = toks(t)
    val badHit = Seq("zqxbadword").map(b => t.contains(b)).reduce(_ || _)
    docs
      .withColumn("r_terminal_punct", t.rlike("[.!?\"]$"))
      .withColumn("r_no_brace", !t.contains("{") && !t.contains("}"))
      .withColumn("r_no_lorem", !t.contains("lorem ipsum"))
      .withColumn("r_no_badword", !badHit)
      .withColumn("r_word_len_ok",
        coalesce(array_max(transform(w, x => length(x))) <= 30,
          lit(true)))
      .withColumn("r_min_words", size(w) >= 20)
      .withColumn("keep",
        col("r_terminal_punct") && col("r_no_brace") && col("r_no_lorem") &&
          col("r_no_badword") && col("r_word_len_ok") && col("r_min_words"))
  }

  /** Per-rule pass/fail counts + a `zz_keep_all` row for the conjunction.
    * One map-side partial aggregate to a single row, then a local `stack` —
    * the whole audit costs one reduce of ~8 longs regardless of corpus size.
    */
  def c4Summary(docs: DataFrame): DataFrame = {
    val rules = Seq("r_terminal_punct", "r_no_brace", "r_no_lorem",
      "r_no_badword", "r_word_len_ok", "r_min_words", "keep")
    val names = Map("r_terminal_punct" -> "terminal_punct",
      "r_no_brace" -> "no_brace", "r_no_lorem" -> "no_lorem",
      "r_no_badword" -> "no_badword", "r_word_len_ok" -> "word_len_ok",
      "r_min_words" -> "min_words", "keep" -> "zz_keep_all")
    val aggs = rules.map(r =>
      sum(when(col(r), 1L).otherwise(0L)).as(s"p_$r")) :+
      count(lit(1)).as("n_total")
    val one = c4Flags(docs)
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.map(r => s"'${names(r)}', p_$r").mkString(", ")
    one.selectExpr("n_total",
        s"stack(${rules.size}, $stackArgs) AS (rule, n_pass)")
      .select(col("rule"), col("n_pass"),
        (col("n_total") - col("n_pass")).as("n_fail"))
  }

  // ---- Gopher-style quality thresholds ------------------------------------

  /** Per-document Gopher quality metrics, per-rule booleans, and the
    * conjunctive `keep`. All metrics are exact-integer-derived; the three
    * ratio columns are each one IEEE division (bit-stable cross-engine).
    */
  def gopherFlags(docs: DataFrame): DataFrame = {
    // Coalesce + ratio guards: under the null-safe tokenizer a null/blank
    // document has n_words = 0, and ANSI division would otherwise throw at
    // the first degenerate crawl row. Ratios are 0.0 for token-less docs
    // (keep already rejects them via g_words).
    val t = coalesce(col("text"), lit(""))
    val nWords = size(toks(t)).cast("long")
    val nonSpace = length(regexp_replace(t, "\\s", "")).cast("long")
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val ellipses =
      ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long")
    val nAlpha = size(filter(toks(t), x => x.rlike("[a-z]"))).cast("long")
    val nStop = TextAnalysis.markerCount(t, TextAnalysis.Stopwords).cast("long")
    def ratio(num: Column): Column =
      when(col("n_words") > 0, num.cast("double") / col("n_words"))
        .otherwise(0.0)
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", ratio(nonSpace))
      .withColumn("symbol_ratio", ratio(hashes + ellipses))
      .withColumn("alpha_frac", ratio(nAlpha))
      .withColumn("n_stopwords", nStop)
      .withColumn("g_words", col("n_words").between(20, 10000))
      .withColumn("g_mean_len",
        col("mean_word_len").between(3.0, 10.0))
      .withColumn("g_symbol", col("symbol_ratio") <= 0.05)
      .withColumn("g_alpha", col("alpha_frac") >= 0.8)
      .withColumn("g_stop", col("n_stopwords") >= 2)
      .withColumn("keep", col("g_words") && col("g_mean_len") &&
        col("g_symbol") && col("g_alpha") && col("g_stop"))
  }
}
