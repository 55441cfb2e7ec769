package graft.text

import graft.Anchor._
import graft.functions.JavaHash.javaHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: quality scoring,
  * language ID, token counting, fingerprinting. Pure column expressions —
  * fully codegen'd, embarrassingly parallel (no shuffle until the caller
  * aggregates).
  */
object TextAnalysis {

  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "with")

  /** Deterministic rule-based language ID: per-language marker-word
    * occurrence counts, argmax with fixed tie order (en > es > de > fr >
    * unknown). The n-gram-heuristic family of langid — profiles are
    * swappable.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "de" -> Seq("der", "die", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"))

  /** Canonical null-safe whitespace tokenizer (see
    * [[graft.dedup.Dedup.tokens]] for the null ≡ blank ≡ zero-tokens
    * contract).
    */
  private def toks(c: Column): Column = graft.dedup.Dedup.tokens(c)

  /** Occurrences of any word from `words` among the tokens of `c`. */
  def markerCount(c: Column, words: Seq[String]): Column =
    size(filter(toks(c), t => t.isin(words.map(lit): _*)))

  /** Encoding-corruption audit per corpus segment — the mojibake sweep a
    * web-scale pipeline runs before tokenization, since double-encoded
    * UTF-8 ("Ã©" where "é" was meant), U+FFFD replacement characters,
    * and "â€"-class punctuation wrecks survive every length/stopword
    * quality gate. Detection is by LITERAL byte-signature containment
    * (`contains` on the four highest-precision signatures: U+FFFD, "Ã©",
    * "Ã±", "â€") — deliberately not a regex, so any verification engine
    * replays the same semantics byte-for-byte. Per segment: doc counts
    * per signature, the any-signature union, and its permille rate (one
    * gated division of exact longs). One map-combined aggregate on the
    * segment key; the scan prunes to (segment, text).
    */
  def encodingAudit(docs: DataFrame): DataFrame = {
    val t = col("text")
    def has(sig: String): Column = when(t.contains(sig), 1L).otherwise(0L)
    val anySig = when(t.contains("�") || t.contains("Ã©") ||
      t.contains("Ã±") || t.contains("â€"), 1L).otherwise(0L)
    docs.select(col("source").as("segment"), t)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_docs"),
        sum(has("�")).as("n_replacement"),
        sum(has("Ã©")).as("n_latin1_e"),
        sum(has("Ã±")).as("n_latin1_n"),
        sum(has("â€")).as("n_punct_wreck"),
        sum(anySig).as("n_suspect"))
      .withColumn("suspect_permille",
        when(col("n_docs") > 0,
          (col("n_suspect") * 1000L).cast("double") /
            col("n_docs").cast("double")))
  }

  /** Special-token leakage audit per corpus segment — scraped text that
    * already contains tokenizer control strings ("<|endoftext|>", chat
    * markers) poisons training: the model learns to emit them mid-text,
    * and injected markers are a prompt-injection vector. Same literal-
    * containment discipline as [[encodingAudit]] (no regex — byte-exact
    * in any verification engine), over the standard marker set: GPT-style
    * `<|endoftext|>`/`<|im_start|>`, sentencepiece `<s>`/`</s>`, and
    * llama-chat `[INST]`. Per segment: doc counts per marker, the
    * any-marker union, and its permille rate.
    */
  def specialTokenAudit(docs: DataFrame): DataFrame = {
    val t = col("text")
    def has(sig: String): Column = when(t.contains(sig), 1L).otherwise(0L)
    val anySig = when(t.contains("<|endoftext|>") || t.contains("<|im_start|>") ||
      t.contains("<s>") || t.contains("</s>") || t.contains("[INST]"),
      1L).otherwise(0L)
    docs.select(col("source").as("segment"), t)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_docs"),
        sum(has("<|endoftext|>")).as("n_endoftext"),
        sum(has("<|im_start|>")).as("n_im_start"),
        sum(when(t.contains("<s>") || t.contains("</s>"), 1L).otherwise(0L))
          .as("n_sentencepiece"),
        sum(has("[INST]")).as("n_inst"),
        sum(anySig).as("n_leaked"))
      .withColumn("leaked_permille",
        when(col("n_docs") > 0,
          (col("n_leaked") * 1000L).cast("double") /
            col("n_docs").cast("double")))
  }

  /** Quality-scoring feature columns + a composite [0,1] score.
    * Degenerate inputs (null/empty/blank text) produce 0-ratios and a 0.0
    * score, not nulls/NaN — null text is coalesced to "" up front. Before
    * that guard a NULL token count slid through `least(NULL/50, 1.0)`
    * (Spark's `least` SKIPS nulls) as a full 1.0 length factor, scoring a
    * null document 0.5 — above every real short document. A quality gate at
    * the conventional 0.5 would have selected exactly the null docs.
    */
  def qualityFeatures(df: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val nTokens = size(toks(t))
    val nChars = length(t)
    val nonSpaceChars = length(regexp_replace(t, "\\s", ""))
    df.withColumn("n_chars", nChars.cast("long"))
      .withColumn("n_tokens", nTokens.cast("long"))
      .withColumn("avg_token_len",
        when(nTokens > 0, nonSpaceChars.cast("double") / nTokens).otherwise(0.0))
      .withColumn("stopword_ratio",
        when(nTokens > 0, markerCount(t, Stopwords).cast("double") / nTokens).otherwise(0.0))
      .withColumn("punct_ratio",
        when(nChars > 0,
          (nChars - length(regexp_replace(t, "[\\.,;:!\\?]", ""))).cast("double") / nChars)
          .otherwise(0.0))
      .withColumn("quality_score",
        round(least(col("n_tokens").cast("double") / 50.0, lit(1.0)) *
          (lit(1.0) - col("punct_ratio")) *
          when(col("stopword_ratio").between(0.05, 0.6), 1.0).otherwise(0.5), 6))
  }

  /** Quality-stratified corpus bands: ntile over [[qualityFeatures]]'
    * composite score within each source (deterministic total order: score
    * desc, id asc), aggregated to per-(source, band) statistics — the
    * "keep the top quality quartile per source" curation step, as an
    * auditable summary. Only exact columns are aggregated (counts, BIGINT
    * token sums, min/max of the rounded score) — no double summation, so the
    * oracle compares bit-exactly.
    *
    * Scale shape: the scoring is a codegen'd projection; the ntile window
    * shuffles once on the source key. A single gigantic source serializes
    * its band assignment through one task — if sources are that skewed,
    * pre-split them ([[graft.ops.SkewJoin]]-style salting changes band
    * boundaries, so the valve here is splitting the source label upstream).
    */
  def qualityBands(docs: DataFrame, nBands: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    qualityFeatures(docs)
      .withColumn("band", ntile(nBands).over(w))
      .groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
  }

  /** Language prediction column (argmax of marker counts, fixed tie order). */
  def langId(textCol: Column): Column = {
    val counts = LangMarkers.map { case (lang, words) => lang -> markerCount(textCol, words) }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldLeft(when(best === 0, "unknown")) { case (acc, (lang, c)) =>
      acc.when(c === best, lang)
    }.otherwise("unknown")
  }

  /** Character-trigram profiles per language (toy profiles over the corpus
    * vocabulary — swappable for real ones; the *mechanism* is the standard
    * n-gram-overlap language detector, Cavnar-Trenkle style).
    */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", " th", "he ", "ing", "ed "),
    "es" -> Seq("el ", " de", "la ", "que", "os ", "ión"),
    "de" -> Seq("der", "die", "und", "ein", "ch ", "sch"),
    "fr" -> Seq("le ", " le", "es ", "ent", "une", "eur"))

  /** N-gram-heuristic language ID: argmax over per-language counts of profile
    * trigrams present in the text (fixed tie order en>es>de>fr).
    */
  def langIdNgram(textCol: Column): Column = {
    def overlap(profile: Seq[String]): Column =
      profile.map(g => when(contains(textCol, lit(g)), 1).otherwise(0))
        .reduce(_ + _)
    val counts = TrigramProfiles.map { case (lang, grams) => lang -> overlap(grams) }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldLeft(when(best === 0, "unknown")) { case (acc, (lang, c)) =>
      acc.when(c === best, lang)
    }.otherwise("unknown")
  }

  /** Markup stripping for web-scraped corpora: drop tags, unescape the five
    * predefined XML entities (`&amp;` last, so `&amp;lt;` correctly yields
    * the literal `&lt;`), collapse whitespace. A pure codegen'd regex chain
    * — the deterministic column-level core of boilerplate removal (a real
    * pipeline layers DOM-tree heuristics on top; every step here is
    * engine-portable so the result is oracle-exact).
    */
  def stripMarkup(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (ent, ch)) => regexp_replace(acc, ent, ch) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** [[stripMarkup]] plus the markup-density features a curation filter
    * cuts on: tag count and the fraction of characters the strip removed
    * (markup-heavy pages score high and get dropped before tokenization).
    */
  def markupStats(df: DataFrame): DataFrame = {
    // coalesce: null text gets definite stats (stripped "", 0 tags, ratio
    // 0.0) instead of NULL feature columns
    val t = coalesce(col("text"), lit(""))
    df.withColumn("stripped", stripMarkup(t))
      .withColumn("n_tags", regexp_count(t, lit("<[^>]*>")).cast("long"))
      .withColumn("markup_ratio",
        when(length(t) > 0,
          (length(t) - length(col("stripped"))).cast("double") / length(t))
          .otherwise(0.0))
  }

  /** Whitespace token count and a BPE-ish subword-regex token count
    * (word-chars runs | single non-space non-word chars), the standard cheap
    * token estimator. Null/blank text counts 0 under both estimators (the
    * shared tokenizer contract; `regexp_count` gets the same coalesce so the
    * two columns agree on degenerate input).
    */
  def tokenCounts(df: DataFrame): DataFrame =
    df.withColumn("ws_tokens", size(toks(col("text"))).cast("long"))
      .withColumn("re_tokens",
        regexp_count(coalesce(col("text"), lit("")),
          lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast("long"))

  /** Top-k salient terms per document by tf·idf — with the idf kept as the
    * exact rational `tf/df` (same ordering as `tf·ln(N/df)` per document,
    * since ln is monotone and N is constant): no transcendentals, so the
    * DuckDB oracle is bit-identical. Ties break on the term string.
    *
    * Scale shape: shuffles on (doc, term) then term (the document-frequency
    * agg — partial map-side combine applies), a term-keyed join, and one
    * window per doc whose `row_number ≤ k` triggers the WindowGroupLimit
    * rewrite (top-k forwarded per map task, never a full per-doc sort).
    */
  def topTermsByTfIdf(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val tf = docs.select(col("doc_id").as("id"), col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
      .select(col("id"), explode(col("__toks")).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("term"))
    tf.join(df_, "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** 32-bit rolling-polynomial document fingerprint over normalized text
    * (lowercase, collapsed whitespace) — Java-hashCode polynomial via the
    * native [[graft.functions.JavaHashCode]] expression.
    */
  def fingerprint(textCol: Column): Column =
    javaHash(trim(regexp_replace(lower(textCol), "\\s+", " ")))

  /** Unigram corpus-likelihood features — the transcendental-free core of
    * perplexity-style filtering (a doc of corpus-typical tokens scores high,
    * one full of rare tokens low): per document, exact-integer sums over the
    * corpus-wide token frequency table. `avg_cf = sum_cf / n_tokens` is the
    * only ratio, derived from exact BIGINTs so the oracle is bit-identical;
    * rank-ordering by it matches ordering by mean log-frequency surprisal
    * direction for the common monotone use ("drop the bottom quantile").
    *
    * Scale shape: one (doc,term)-explode, a term-keyed frequency aggregate
    * (map-side partial combine), a term-keyed shuffle join back, one doc
    * aggregate. The frequency table is the only state — at 100 TB it is
    * vocabulary-sized, so it shuffles rather than broadcasts; a frequency
    * cut (keep top-K terms, default-weight the tail) is the standard memory
    * valve if vocabulary explodes.
    */
  def corpusFreqScores(docs: DataFrame): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val tok = docs.select(col("doc_id").as("id"), col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
      .select(col("id"), explode(col("__toks")).as("term"))
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    tok.join(freq, "term")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cf")).as("sum_cf"),
        min(col("cf")).as("min_cf"),
        sum(when(col("cf") === 1, 1L).otherwise(0L)).as("n_hapax_tokens"))
      .withColumn("avg_cf", col("sum_cf").cast("double") / col("n_tokens"))
  }

  /** Per-group vocabulary statistics (corpus monitoring: vocabulary growth,
    * hapax mass, type-token ratio). Two aggregates — (group, term) then
    * group — both with map-side combine; no joins.
    */
  def vocabStats(docs: DataFrame): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val perTerm = docs.select(col("source"), col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
      .select(col("source"), explode(col("__toks")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("f"))
    perTerm.groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("type_token_ratio",
        col("vocab_size").cast("double") / col("n_tokens"))
  }

  /** Bigram collocations by exact lift (PMI without the log): for adjacent
    * token pairs with corpus count ≥ `minCount`,
    * `lift = N · c(w1w2) / (c(w1) · c(w2))` — the same ranking as pointwise
    * mutual information (ln is monotone, N constant) with NO transcendentals:
    * both factors are exact BIGINT products, the one division is IEEE-exact,
    * so the score itself sits under the oracle hash. The standard
    * collocation/multi-word-expression miner for tokenizer vocab curation.
    *
    * Scale shape: bigram and unigram counts are term-keyed aggregates with
    * map-side combine; the two count joins key on single terms (frequency
    * skew bounded by the `minCount` cut happening BEFORE the joins). The
    * top-k window runs over surviving collocations only. The BIGINT products
    * hold to ~4·10⁹ count×corpus scale; beyond that swap DECIMAL(38,0) in
    * both engines.
    */
  def collocations(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val arr = docs.select(col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
      .select(col("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = arr.select(explode(col("__toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tokens"))
    val bi = arr
      .filter(size(col("__toks")) >= 2)
      .withColumn("__pairs",
        transform(sequence(lit(1), size(col("__toks")) - 1),
          i => struct(element_at(col("__toks"), i).as("w1"),
            element_at(col("__toks"), i + 1).as("w2"))))
      .select(explode(col("__pairs")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    bi
      .join(uni.select(col("term").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("term").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nTok))
      .withColumn("lift",
        (col("c12") * col("n_tokens")).cast("double") / (col("c1") * col("c2")))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lift").desc, col("w1"), col("w2"))))
      .filter(col("rank") <= k)
      .select(col("rank"), col("w1"), col("w2"), col("c12"), col("c1"),
        col("c2"), col("lift"))
  }

  /** Sentence segmentation + per-document sentence statistics: split on
    * terminal-punctuation runs, drop empties, report sentence count, word
    * totals, and the mean/max sentence length — the doc-structure features
    * quality classifiers and packing policies consume (C4's "≥3 sentences"
    * class of rules needs exactly this). Pure projection (the sentence
    * array is materialized in its own projection per the object rules);
    * no shuffle.
    */
  def sentenceStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("__sents",
        filter(split(coalesce(col("text"), lit("")), "[.!?]+\\s*"), s => s =!= ""))
      .select(col("doc_id"), col("__sents"))
      .withColumn("__lens", transform(col("__sents"), s => size(toks(s))))
      .select(
        col("doc_id"),
        size(col("__sents")).cast("long").as("n_sentences"),
        aggregate(col("__lens"), lit(0L), (acc, x) => acc + x).as("n_words"),
        // empty/whitespace-only doc: array_max of [] is null and 0/0 would
        // be an engine-dependent NaN — guard like readability does
        coalesce(array_max(col("__lens")).cast("long"), lit(0L))
          .as("max_sentence_words"))
      .withColumn("avg_sentence_words",
        col("n_words").cast("double") / greatest(col("n_sentences"), lit(1L)))

  /** Flesch-style readability: words/sentence and (vowel-group) syllables
    * /word feed the published formula. Syllables are approximated as
    * maximal vowel runs — the standard dictionary-free heuristic, and an
    * exact integer count both engines reproduce. The two ratios are each
    * one IEEE division and the formula's constants multiply in fixed
    * order, so the score itself is hash-comparable. Pure projection.
    */
  def readability(docs: DataFrame): DataFrame = {
    // coalesce + n_words guard: a null/blank doc has zero words under the
    // shared tokenizer and the syllables/word term would throw under ANSI;
    // a word-less doc has no defined readability → flesch NULL, counts 0
    val t = coalesce(col("text"), lit(""))
    val nWords = size(toks(t)).cast("long")
    val nSents = greatest(
      size(filter(split(t, "[.!?]+\\s*"), s => s =!= "")).cast("long"), lit(1L))
    val nSyll = greatest(regexp_count(t, lit("[aeiou]+")).cast("long"), lit(1L))
    docs.select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sentences"),
        nSyll.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0,
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))))
  }

  /** One BPE-training round: corpus-wide counts of adjacent character pairs
    * within words — the merge-candidate statistic a byte-pair-encoding
    * tokenizer trainer computes each iteration (the top pair becomes the
    * next merge). Every occurrence counts (not per-word distinct), matching
    * the BPE objective. Top-k by (count desc, pair asc) — fully
    * deterministic, integer-only.
    *
    * Scale shape: two narrow explodes (token, then ≤len-1 pairs per token)
    * feed ONE aggregate on the pair key with map-side combine — the reduce
    * side sees at most |alphabet|² keys regardless of corpus size, so the
    * shuffle is metadata-sized. The top-k is a TakeOrderedAndProject.
    * An iterated trainer would re-run this per merge round over the
    * re-paired corpus; each round is this same plan.
    */
  def bpePairs(docs: DataFrame, k: Int): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val words = docs.select(col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
      .select(explode(col("__toks")).as("word"))
      .filter(length(col("word")) >= 2)
    words
      .withColumn("__pairs",
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2))))
      .select(explode(col("__pairs")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Iterative BPE trainer: `rounds` merge rounds, each one distributed
    * pair-count → argmax → corpus-wide re-segmentation; returns the merge
    * table (round, lhs, rhs, merged, n) — the artifact a tokenizer ships.
    *
    * Scale shape: the corpus is scanned ONCE, collapsing to the distinct-
    * word frequency table (vocabulary-bounded — tens of millions of rows at
    * 100 TB, not trillions of tokens); every round then runs on that
    * persisted table: one pair aggregate with map-side combine (reduce keys
    * ≤ observed adjacent pairs), one single-row argmax to the driver (the
    * merge table is driver-side BY DESIGN — it is the trainer's output,
    * bounded by `rounds`), one codegen'd `replace` projection. Lineage is
    * truncated every 8 rounds (an anchor, the
    * [[graft.dedup.DupClusters]] fixed-point convention) so a vocab-budget
    * training run doesn't stack thousands of optimizer passes.
    *
    * Merge semantics: symbols are joined into a `\u001f\u001f`-delimited
    * string (`␟␟s1␟␟s2␟␟…`) and a round's merge is ONE plain-string
    * `replace(s, ␟+lhs+␟␟+rhs+␟, ␟+lhs·rhs+␟)` — non-overlapping
    * left-to-right, the original Sennrich re.sub behavior ("aaaa" + (a,a) →
    * "aa aa", and a symbol minted this round never re-merges this round;
    * the single flanking separator each side keeps the double-separator
    * invariant so adjacent occurrences both match). The same literal
    * replace exists in every SQL engine, which is what makes an exact
    * cross-engine oracle of an ITERATIVE trainer possible. Ties break by
    * (count desc, lhs, rhs) — fully deterministic. Stops early if no pair
    * is left to merge.
    */
  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val spark = docs.sparkSession
    val sep = "\u001f"
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val words = docs.select(col("text").as("__text"))
      .repartition(parallelism)
      .select(explode(toks(col("__text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit(sep + sep),
          array_join(filter(split(col("word"), ""), x => x =!= ""), sep + sep),
          lit(sep + sep)).as("s"),
        col("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val syms = filter(split(col("s"), sep + sep), x => x =!= "")
      val top = cur
        .select(col("cnt"), explode(arrays_zip(
          slice(syms, lit(1), size(syms) - 1).as("l"),
          slice(syms, lit(2), size(syms) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, rr, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rr, l + rr, n))
        cur = cur.withColumn("s",
          call_function("replace", col("s"),
            lit(sep + l + sep + sep + rr + sep), lit(sep + l + rr + sep)))
        if (r % 8 == 0) cur = cur.anchor(Bound.Metadata)
        r += 1
      }
    }
    words.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("round", "lhs", "rhs", "merged", "n")
  }

  /** Apply a trained BPE merge table ([[bpeTrain]]) to a corpus — the
    * serving-side tokenizer: per-document token counts before and after the
    * merges. The whole document is one sentinel-delimited symbol string
    * (words separated by U+001E so no merge can cross a word boundary), and
    * each merge is the same plain-string `replace` the trainer used, applied
    * in merge order — so encode∘train is exactly the trainer's segmentation,
    * and the identical replace chain is expressible in SQL for the oracle.
    *
    * Scale shape: a pure projection (split → per-word join → |merges|
    * chained replaces) — no shuffle, no state; the merge table rides into
    * the plan as literals (bounded by the vocab budget, exactly how a
    * tokenizer ships).
    *
    * Counting (r18, guide §4): the symbol/token counts are LENGTH
    * ARITHMETIC, not array splits — every symbol is exactly one code point
    * and every merge `replace` removes exactly one U+001F U+001F pair, so
    * on sentinel-free text len(doc0) = 3·n_chars_sym + 3·n_words − 1 and
    * n_tokens = n_chars_sym − (len(doc0) − len(enc))/2. A document whose
    * text already CONTAINS a sentinel code point (U+001E/U+001F — the one
    * case where the split-based count merges adjacent symbols) takes the
    * original split expressions through a per-row `when` gate, so the
    * output is unconditionally identical to the split-based form (and to
    * the SQL oracle mirror). Measured 0.96-1.04 s → 0.54-0.69 on
    * q_bpe_encode at sf0.1 (A/B ×4 interleaved, exact-equal).
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val s = "\u001f"
    val rs = "\u001e"
    val wordSyms = transform(filter(toks(col("text")), w => w =!= ""),
      w => concat(lit(s + s),
        array_join(filter(split(w, ""), c => c =!= ""), s + s), lit(s + s)))
    def encChain(acc0: Column): Column = merges.foldLeft(acc0) { case (acc, (l, r)) =>
      call_function("replace", acc, lit(s + l + s + s + r + s), lit(s + l + r + s))
    }
    val hasSentinel = col("text").contains(s) || col("text").contains(rs)
    val oldChars = size(filter(split(col("__doc0"), s"[$rs$s]+"), x => x =!= ""))
      .cast("long")
    val oldToks = size(filter(split(col("__enc"), s"[$rs$s]+"), x => x =!= ""))
      .cast("long")
    val arith =
      expr("(CAST(length(__doc0) AS BIGINT) - 3L * n_words + 1L) div 3L")
    docs.select(col("doc_id"), col("text"))
      .withColumn("n_words",
        size(filter(toks(col("text")), w => w =!= "")).cast("long"))
      .withColumn("__doc0", array_join(wordSyms, rs))
      .withColumn("__enc", encChain(col("__doc0")))
      .withColumn("n_chars_sym", when(hasSentinel, oldChars).otherwise(arith))
      .withColumn("n_tokens",
        when(hasSentinel, oldToks).otherwise(
          col("n_chars_sym") -
            expr("(CAST(length(__doc0) AS BIGINT) - CAST(length(__enc) AS BIGINT)) div 2L")))
      .select(col("doc_id"), col("n_words"), col("n_chars_sym"), col("n_tokens"))
  }

  /** Inverted-index posting lists: one row per term with its document
    * frequency and the sorted posting array. At 100 TB this is materialized
    * once as a term-bucketed table ([[graft.maintain.Layout.writeBucketed]])
    * so searches probe buckets instead of scanning the corpus; a single hot
    * term's posting list can be long, but it stays one row — list *chunking*
    * (posting_part arrays of bounded length) is the standard follow-up if a
    * term's postings outgrow a task.
    */
  def buildPostings(docs: DataFrame): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.select(col("doc_id").as("id"), col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
      .select(col("id"), explode(col("__toks")).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("id"))).as("postings"))
  }

  /** [[buildPostings]] with the posting-list chunking its scaladoc names:
    * each term's postings are sharded into `posting_part` rows of at most
    * `chunkSize` ids, so a hot term (a stopword over a 100 TB corpus can
    * match billions of documents) never materializes as one unbounded
    * collect_list row — every row the aggregate state ever holds is bounded
    * by `chunkSize`. `df` (the term's total document frequency) is carried on
    * every part so consumers can rank without reassembling.
    *
    * Skew: ranking within one `Window.partitionBy(term)` would serialize a
    * Zipfian hot term's postings through a single task, so ids are salted
    * first — `salt = pmod(id, salts)` (deterministic, oracle-expressible),
    * local rank within `(term, salt)`, and
    * `posting_part = (local_rank / chunkSize) * salts + salt`. Part ids stay
    * deterministic (a pure function of the id set), every part is still
    * bounded by `chunkSize`, and the hot term's rank work spreads over
    * `salts` tasks. Parts are no longer contiguous ranges of the sorted
    * order — each holds the salt's residue class — which no consumer relies
    * on ([[searchPostings]] is part-agnostic; [[reassemblePostings]] sorts).
    *
    * `df` is aggregated skew-free too: per-(term, salt) counts ride the same
    * window partition as the rank (no extra exchange), are reduced to one
    * row per (term, salt), summed per term on that metadata-sized table, and
    * joined back on (term, salt) — every shuffle key includes the salt.
    *
    * Requires a numeric id column (the salt is `id mod salts`).
    */
  def buildPostingsChunked(docs: DataFrame, chunkSize: Int,
                           salts: Int = 32): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(salts > 0, s"salts must be positive, got $salts")
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val wSalted = Window.partitionBy(col("term"), col("__salt")).orderBy(col("id"))
    val ranked = docs.select(col("doc_id").as("id"), col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
      .select(col("id"), explode(col("__toks")).as("term"))
      .distinct()
      .withColumn("__salt", pmod(col("id").cast("long"), lit(salts.toLong)))
      .withColumn("__lrank", row_number().over(wSalted) - 1)
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(col("term"), col("__salt"))))
    val dfPerSalt = ranked.select(col("term"), col("__salt"), col("__cnt"))
      .distinct()
      .withColumn("df", sum(col("__cnt")).over(Window.partitionBy(col("term"))))
      .select(col("term"), col("__salt"), col("df"))
    ranked.join(dfPerSalt, Seq("term", "__salt"))
      .withColumn("posting_part",
        (col("__lrank") / chunkSize).cast("long") * salts + col("__salt"))
      .groupBy(col("term"), col("posting_part"))
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(col("id"))).as("postings"))
  }

  /** Reassemble [[buildPostingsChunked]] output back to one row per term
    * (the [[buildPostings]] shape). Intended for bounded slices — e.g. the
    * terms of one query — not the whole index, where the parts exist
    * precisely so this row never materializes. Salted parts interleave the
    * id space, so the flattened list is re-sorted.
    */
  def reassemblePostings(parts: DataFrame): DataFrame =
    parts.groupBy(col("term"))
      .agg(first(col("df")).as("df"),
        array_sort(flatten(collect_list(col("postings")))).as("postings"))

  /** Materialize the chunked posting index as a term-bucketed catalog table
    * — the SCALE.md §Curation serving layout: searches probe term buckets
    * instead of re-tokenizing the corpus: 8 term buckets, posting lists
    * chunked at 1024 ids. Built once per `key` per process through
    * [[graft.Fixtures]] (the build is an
    * offline indexing job, same amortization rationale as
    * [[graft.sim.Ivf.cachedBuild]]); returns the table name. Bucketing +
    * within-bucket sort on `term` means a term-filtered probe scans only
    * `SelectedBucketsCount` buckets with zero Exchange on the scan side, and
    * [[buildPostingsChunked]] bounds every row even for hot terms.
    */
  def materializePostings(docs: DataFrame, key: String): String =
    graft.Fixtures.bucketedTable(docs.sparkSession, "postings",
        s"$key|8|1024", "term", 8, Seq("term", "posting_part")) {
      buildPostingsChunked(docs, 1024)
    }

  /** Conjunctive keyword search probing a [[materializePostings]] table:
    * the `isin` filter on the bucketing column prunes to the terms' buckets
    * (no shuffle, no corpus scan — the probe side reads a few bucket files),
    * then only the matched postings explode into the one small aggregation
    * on doc_id. Chunked parts need no reassembly: distinct-term counting is
    * part-agnostic. Same result as [[searchAll]] over the raw corpus.
    */
  def searchPostings(spark: org.apache.spark.sql.SparkSession, table: String,
                     terms: Seq[String]): DataFrame =
    spark.table(table)
      .filter(col("term").isin(terms.map(lit(_)): _*))
      .select(col("term"), explode(col("postings")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_matched"))
      .filter(col("n_matched") === terms.size)

  /** BM25-ranked disjunctive search: documents matching ANY of `terms`,
    * ranked by the Okapi BM25 score (`idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * summed over matched terms, idf = ln((N−df+0.5)/(df+0.5)+1)).
    *
    * Oracle discipline: the score contains `ln`, so — same rationale as the
    * A-ES sampling key ([[graft.ops.Sampling]]) — it appears ONLY in the
    * rank's ORDER BY, never as an output column; emitted columns are the
    * exact BIGINTs (`n_matched`, `sum_tf`) plus the integer rank. The
    * per-document sum is a fixed-order chain of per-term conditional
    * aggregates (term₀ + term₁ + …), so both engines add the same doubles in
    * the same order and a rank flip would need two documents' scores within
    * ~1 ulp of each other.
    *
    * Scale shape: the `isin` prefilter keeps state O(postings of the query
    * terms); `df` is a ≤|terms|-row broadcast; `dl` joins on the id key. The
    * final rank window is global but runs over the matched set only — for a
    * serving deployment the same scoring runs on a [[materializePostings]]
    * probe instead of the corpus scan.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(col("doc_id").as("id"), col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", toks(col("__text")))
    val dl = base.select(col("id"), size(col("__toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val tf = base.select(col("id"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms.map(lit(_)): _*))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dft), "term")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("__score",
        col("__idf") * (col("tf").cast("double") * (1.2 + 1)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(1.0 - 0.75) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("__score"))).as(s"__s$i")
    }
    val aggCols = Seq(count(lit(1)).as("n_matched"), sum(col("tf")).as("sum_tf")) ++ perTerm
    val total = terms.indices
      .map(i => coalesce(col(s"__s$i"), lit(0.0)))
      .reduce(_ + _)
    scored.groupBy(col("id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("rank",
        row_number().over(Window.orderBy(total.desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("id").as("doc_id"), col("rank"), col("n_matched"), col("sum_tf"))
  }

  /** Exact-integer keyword relevance rank: documents matching ANY of `terms`
    * ranked by (#distinct matched terms desc, total tf desc, id asc) — the
    * transcendental-free keyword side for [[rrfFuse]], where fusion itself
    * must stay bit-exact across engines.
    */
  def keywordRank(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    docs.select(col("doc_id"), col("text").as("__text"))
      .withColumn("__toks", toks(col("__text")))
      .select(col("doc_id"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms.map(lit(_)): _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_matched"), count(lit(1)).as("sum_tf"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_matched").desc, col("sum_tf").desc, col("doc_id"))))
      .filter(col("rank") <= k)

  /** Reciprocal-rank fusion of two ranked lists (keyword ⊕ vector — the
    * standard hybrid-search combiner): `rrf = Σ 1/(kRrf + rank)`, taking each
    * side's contribution as 0 where the document is absent. Ranks are
    * integers, so the two divisions and one addition are IEEE-exact and
    * cross-engine reproducible — the fused score itself sits under the
    * oracle hash, unlike the transcendental BM25 score. Missing ranks are
    * emitted as 0 (never null) so the output is dtype-stable.
    *
    * Both inputs are top-k lists (bounded); the fusion is a full outer join
    * on the id plus one global top-k window over ≤ 2k rows.
    */
  def rrfFuse(left: DataFrame, right: DataFrame, k: Int): DataFrame = {
    val l = left.select(col("doc_id"), col("rank").cast("long").as("__lr"))
    val r = right.select(col("doc_id"), col("rank").cast("long").as("__rr"))
    val rrf =
      coalesce(lit(1.0) / (lit(60L) + col("__lr")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60L) + col("__rr")), lit(0.0))
    l.join(r, Seq("doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("fused_rank") <= k)
      .select(col("doc_id"), coalesce(col("__lr"), lit(0L)).as("left_rank"),
        coalesce(col("__rr"), lit(0L)).as("right_rank"), col("rrf"),
        col("fused_rank"))
  }

  /** Conjunctive keyword search over the implicit inverted index: documents
    * containing ALL of `terms` (exact whitespace-token match). The `isin`
    * prefilter runs *before* the distinct/aggregate, so only postings of the
    * queried terms ever shuffle — the scan side is a codegen'd filter, the
    * state is O(matching postings), never corpus-sized. (A 100 TB serving
    * deployment materializes [[corpusFreqScores]]-style term → posting-list
    * tables once and probes them; this operator is that probe expressed
    * against the raw corpus.)
    */
  def searchAll(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs.select(col("doc_id"), col("text").as("__text"))
      .withColumn("__toks", toks(col("__text")))
      .select(col("doc_id"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms.map(lit(_)): _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_matched"))
      .filter(col("n_matched") === terms.size)

  /** Exact phrase search via positional-posting intersection: the
    * distributed form of "find `w₀ w₁ … wₖ` as consecutive tokens". Each
    * phrase term's occurrences are an `isin`-pushed slice of the positional
    * token stream; term i joins on `(doc, pos − i)` so every surviving key
    * is a phrase START position. Cost is O(Σ posting lengths of the phrase
    * terms) — the corpus itself never re-shuffles, and rare terms prune the
    * probe exactly like the conjunctive `searchAll`. The naive per-document
    * array scan is the ORACLE (`q_phrase_search`), proving the k-way
    * positional join equals it.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val arr = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = arr.select(col("doc_id"),
      posexplode(col("t")).as(Seq("pos", "term")))
    val starts = phrase.zipWithIndex.map { case (w, i) =>
      tok.filter(col("term") === w)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
    starts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010), top 20 phrases: candidate phrases are
    * maximal stopword-free token runs (gaps-and-islands over token
    * positions); each word scores `degree/frequency` over the candidate set
    * and a phrase scores the sum of its word scores. To stay hash-exact the
    * per-word ratio is floor-scaled to an integer grid
    * (`deg·10⁶ div freq`) — phrase scores are then exact BIGint sums,
    * order-independent, within 10⁻⁶ per word of the continuous form
    * (the same quantize-for-exactness move as DSIR's bitlen weights).
    *
    * Scale shape: islands are per-document windows (doc-bounded); word
    * stats are one term-keyed aggregate (vocabulary-sized, NOT broadcast —
    * the score join shuffles on the word key like tf-idf); the top-k is
    * TakeOrderedAndProject.
    */
  def rakeKeyphrases(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arr = docs.select(col("doc_id"), toks(col("text")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = arr.select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "term")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val phrases = tok.filter(!col("term").isin(Stopwords: _*))
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(sort_array(collect_list(struct(col("pos"), col("term")))).as("ps"))
      .select(col("doc_id"), col("island"),
        transform(col("ps"), p => p.getField("term")).as("words"))
      .withColumn("plen", size(col("words")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pw = phrases.select(col("doc_id"), col("island"), col("plen"),
      col("words"), explode(col("words")).as("word"))
    val stats = pw.groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    pw.join(stats, Seq("word"))
      .groupBy(col("doc_id"), col("island"))
      .agg(first(array_join(col("words"), " ")).as("phrase"),
        first(col("plen")).as("plen"),
        sum(expr("deg * 1000000 div freq")).as("score"))
      .groupBy(col("phrase"))
      .agg(max(col("plen")).as("plen"), max(col("score")).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(20)
  }
}
