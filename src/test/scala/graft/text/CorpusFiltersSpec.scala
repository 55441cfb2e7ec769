package graft.text

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class CorpusFiltersSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("c4Flags fires each rule on exactly the crafted violation") {
    val df = CorpusFilters.c4Flags(docs(
      1L -> ("good text with plenty of words here to clear the minimum " +
        "bar one two three four five six seven eight nine ten."),
      2L -> "short.",                                   // min_words
      3L -> ("x " * 25 + "code {brace} here."),         // no_brace
      4L -> ("lorem ipsum " + "word " * 25 + "end."),   // no_lorem + punct
      5L -> ("w " * 25 + "z" * 31 + "."),               // word_len_ok
      6L -> ("w " * 25 + "zqxbadword.")))               // no_badword
    val m = df.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Boolean]("keep"))
    assert(!m(2L).getAs[Boolean]("r_min_words"))
    assert(!m(3L).getAs[Boolean]("r_no_brace"))
    assert(!m(4L).getAs[Boolean]("r_no_lorem") &&
      m(4L).getAs[Boolean]("r_terminal_punct"))
    assert(!m(5L).getAs[Boolean]("r_word_len_ok"))
    assert(!m(6L).getAs[Boolean]("r_no_badword"))
    Seq(2L, 3L, 4L, 5L, 6L).foreach(id => assert(!m(id).getAs[Boolean]("keep")))
  }

  test("c4Summary counts reconcile with per-doc flags") {
    val base = docs((1L to 50L).map(i =>
      i -> (if (i % 5 == 0) "tiny" else "w " * 30 + "end.")): _*)
    val flags = CorpusFilters.c4Flags(base)
    val summary = CorpusFilters.c4Summary(base).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nKeep = flags.filter(col("keep")).count()
    val nMin = flags.filter(col("r_min_words")).count()
    assert(summary("zz_keep_all") === ((nKeep, 50L - nKeep)))
    assert(summary("min_words") === ((nMin, 50L - nMin)))
    assert(summary.size === 7)
  }

  test("gopherFlags metrics and rules on crafted docs") {
    val long = ("alpha beta gamma delta epsilon " * 5).trim   // 25 words, all alpha
    val df = CorpusFilters.gopherFlags(docs(
      1L -> long,
      2L -> "one two three",                                  // too few words
      3L -> (long + " # # # # # # # # # #"),                  // symbol spam
      4L -> "9 8 7 6 5 4 3 2 1 0 9 8 7 6 5 4 3 2 1 0 x y"))   // numeric salad
    val m = df.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Boolean]("g_words") && m(1L).getAs[Boolean]("g_alpha"))
    assert(m(1L).getAs[Long]("n_words") === 25L)
    assert(!m(2L).getAs[Boolean]("g_words"))
    assert(!m(3L).getAs[Boolean]("g_symbol"))
    assert(m(3L).getAs[Double]("symbol_ratio") === 10.0 / 35.0)
    assert(!m(4L).getAs[Boolean]("g_alpha"))
    assert(!m(4L).getAs[Boolean]("g_mean_len"))
    assert(m(4L).getAs[Double]("alpha_frac") === 2.0 / 22.0)
  }

  test("gopher ratios are plain projections — no shuffle in the plan") {
    val df = CorpusFilters.gopherFlags(
      graft.Tables.documents(spark, sf()).select(col("doc_id"), col("text")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }
  test("url normalization: case, www, fragment, utm params, survivor order") {
    import spark.implicits._
    val df = Seq(
      "see https://WWW.Example.COM/Path?utm_source=x&a=1&utm_b=2&b=2#frag end",
      "plain http://site.org/p",
      "no urls here").toDF("text")
    val out = graft.text.Urls.urlStats(df).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out === Set(
      ("example.com", "https://example.com/Path?a=1&b=2", 1L),
      ("site.org", "http://site.org/p", 1L)))
  }
}
