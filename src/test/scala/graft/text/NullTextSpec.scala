package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The null/blank-text contract (r17 null-sweep): a 100 TB crawl WILL carry
  * null, empty, and whitespace-only text fields; the parquet fixtures never
  * do, so this spec is the only executable witness of the contract:
  *
  *   1. `Dedup.tokens` pins null ≡ "" ≡ blank → ZERO tokens (no phantom
  *      `""` token from `split`, no NULL array from `split(NULL)`).
  *   2. Per-document feature/verdict operators emit a row for EVERY input
  *      document — never silently drop the degenerate ones — and emit
  *      definite (non-NULL) verdicts where a downstream filter would
  *      misread NULL three-valuedly.
  *   3. No ANSI arithmetic throw on token-less documents (guarded ratios).
  *   4. Exact-dedup content identity is `md5(coalesce(text,''))` — the
  *      window-based and join-based paths agree that null ≡ empty.
  *
  * The pre-fix failure this spec guards against: `least(NULL/50, 1.0)`
  * skips NULLs, so a null document scored quality 0.5 — above every real
  * short document — and a `>= 0.5` quality gate selected exactly the nulls.
  */
class NullTextSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame =
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, null.asInstanceOf[String]),
      (3L, ""),
      (4L, "   "),
      (5L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(coalesce(col("text"), lit(""))))

  test("tokens: null, empty, and blank text all tokenize to zero tokens") {
    val out = docs
      .select(col("doc_id"), size(graft.dedup.Dedup.tokens(col("text"))).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(out(2) === 0 && out(3) === 0 && out(4) === 0)
    assert(out(1) === 12 && out(5) === 12)
    // leading/trailing whitespace never yields a phantom "" token
    val ws = Seq((1L, "  a b "), (2L, "\ta\nb  c ")).toDF("id", "t")
      .select(size(graft.dedup.Dedup.tokens(col("t"))).as("n"))
      .as[Int].collect().toSeq
    assert(ws === Seq(2, 3))
  }

  test("qualityFeatures: null text scores 0.0, below every real document") {
    val q = TextAnalysis.qualityFeatures(docs)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"),
        col("n_chars"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q.size === 5, "no document row may be dropped")
    for (id <- Seq(2L, 3L, 4L)) {
      assert(q(id).getDouble(1) === 0.0, s"doc $id must score 0.0")
      assert(q(id).getLong(2) === 0L, s"doc $id must count 0 tokens")
      assert(!q(id).isNullAt(3), s"doc $id n_chars must be definite")
    }
    assert(q(1L).getDouble(1) > 0.0)
  }

  test("tokenCounts: both estimators count 0 for null/empty/blank") {
    val out = TextAnalysis.tokenCounts(docs)
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for (id <- Seq(2L, 3L, 4L)) assert(out(id) === ((0L, 0L)))
    assert(out(1L)._1 === 12L)
  }

  test("c4Flags/gopherFlags: definite flags, keep=false, no ANSI throw") {
    val c4 = CorpusFilters.c4Flags(docs).collect()
    assert(c4.length === 5)
    val c4ByItem = c4.map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(2L, 3L, 4L); f <- Seq("r_terminal_punct", "r_no_brace",
        "r_no_lorem", "r_no_badword", "r_word_len_ok", "r_min_words", "keep")) {
      assert(!c4ByItem(id).isNullAt(c4ByItem(id).fieldIndex(f)),
        s"c4 $f NULL for doc $id — NULL keep passes a filter(!keep) audit")
    }
    assert(!c4ByItem(2L).getAs[Boolean]("keep"))
    val g = CorpusFilters.gopherFlags(docs).collect()
    assert(g.length === 5)
    val gByItem = g.map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(2L, 3L, 4L)) {
      assert(gByItem(id).getAs[Long]("n_words") === 0L)
      assert(gByItem(id).getAs[Double]("mean_word_len") === 0.0)
      assert(!gByItem(id).getAs[Boolean]("keep"))
    }
  }

  test("repetitionFeatures: every doc gets a row; token-less fractions 0.0") {
    val out = Curation.repetitionFeatures(docs).collect()
    assert(out.length === 5, "token-less docs must not be dropped")
    val m = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(2L, 3L, 4L)) {
      assert(m(id).getAs[Long]("n_tokens") === 0L)
      assert(m(id).getAs[Double]("dup_token_frac") === 0.0)
      assert(m(id).getAs[Double]("top_token_frac") === 0.0)
      assert(!m(id).getAs[Boolean]("repetitive"))
    }
    assert(m(1L).getAs[Double]("dup_token_frac") > 0.0) // "the"/"again" repeat
  }

  test("SimHash.fingerprints: every doc gets a row; token-less docs fp=0") {
    val out = graft.dedup.SimHash.fingerprints(docs)
      .as[(Long, Long)].collect().toMap
    assert(out.size === 5, "token-less docs must not be dropped")
    for (id <- Seq(2L, 3L, 4L)) assert(out(id) === 0L)
    assert(out(1L) === out(5L))
    assert(out(1L) !== 0L)
  }

  test("lineDedup: null-text doc is retained and dedups as empty text") {
    val out = graft.dedup.Dedup.lineDedup(docs)
      .select(col("doc_id"), col("n_lines"), col("n_kept")).collect()
    assert(out.length === 5, "null-text doc must not be dropped")
  }

  test("rakeKeyphrases: no empty or blank keyphrase from degenerate docs") {
    val phrases = TextAnalysis.rakeKeyphrases(docs)
      .select(col("phrase")).as[String].collect().toSeq
    assert(phrases.nonEmpty)
    assert(phrases.forall(_.trim.nonEmpty),
      s"degenerate keyphrase leaked: ${phrases.map("'" + _ + "'")}")
  }

  test("langId: null/empty/blank text predicts 'unknown'") {
    val out = docs
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    for (id <- Seq(2L, 3L, 4L)) assert(out(id) === "unknown")
    assert(out(1L) === "en")
  }

  test("readability/sentenceStats/markupStats: no throw, definite counts") {
    val r = TextAnalysis.readability(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.size === 5)
    for (id <- Seq(2L, 3L, 4L)) {
      assert(r(id).getAs[Long]("n_words") === 0L)
      assert(r(id).isNullAt(r(id).fieldIndex("flesch")),
        "word-less doc has no defined readability")
    }
    assert(!r(1L).isNullAt(r(1L).fieldIndex("flesch")))
    val s = TextAnalysis.sentenceStats(docs).collect()
    assert(s.length === 5)
    val m = TextAnalysis.markupStats(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(m(2L).getAs[String]("stripped") === "")
    assert(m(2L).getAs[Long]("n_tags") === 0L)
    assert(m(2L).getAs[Double]("markup_ratio") === 0.0)
  }

  test("exact dedup: null ≡ empty under both the window and join paths") {
    val d = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, null
      .asInstanceOf[String]), (4L, "real text here")).toDF("doc_id", "text")
    // window path: one group for {null, "", null} → keep-first doc 1
    val kept = graft.dedup.Dedup.dedupExact(d)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 4L))
    val w = graft.dedup.Dedup.duplicateWeights(d)
      .select(col("doc_id"), col("dup_count")).as[(Long, Long)]
      .collect().toMap
    assert(w(1L) === 3L && w(2L) === 3L && w(4L) === 1L)
    // join path agrees: a null-text new doc IS a dup of an empty-text corpus
    val newDocs = Seq((10L, null.asInstanceOf[String]), (11L, "novel"))
      .toDF("doc_id", "text")
    val corpus = Seq((1L, "")).toDF("doc_id", "text")
    val surv = graft.dedup.Dedup.dedupAgainstCorpus(newDocs, corpus)
      .select("doc_id").as[Long].collect().toSeq
    assert(surv === Seq(11L))
  }

  test("fimSplit/lengthBuckets/shardBalance/BLEU: no ANSI throw on blanks") {
    val f = Curation.fimSplit(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(f.size === 5)
    assert(f(3L).getAs[Long]("n_tokens") === 0L)
    assert(f(1L).getAs[Long]("n_tokens") === 12L)
    // batch-accounting rows: all 5 docs land in the 16-token bucket
    // (zero-token docs bucket at 16, not NULL-poisoned to 512), 3 batches
    val lb = Curation.lengthBuckets(docs, batchSize = 2).collect()
    assert(lb.map(_.getAs[Long]("n_docs")).sum === 5L)
    assert(lb.forall(_.getAs[Long]("bucket") === 16L))
    val sb = Curation.shardBalance(docs, shards = 2).collect()
    assert(sb.nonEmpty) // token_skew definite (Σtokens > 0 via docs 1/5)
    assert(sb.forall(!_.isNullAt(3)))
    val pairs = Seq((1L, "", "a b"), (2L, null.asInstanceOf[String], null
      .asInstanceOf[String]), (3L, "a b c", "a b c")).toDF("pid", "c", "r")
    val bleu = BleuScore.ngramPrecision(pairs, "pid", "c", "r")
      .collect()
    assert(bleu.nonEmpty) // empty candidates contribute nothing, no throw
  }
}
