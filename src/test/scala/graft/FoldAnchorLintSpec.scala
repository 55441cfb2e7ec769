package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint fencing the fold-anchoring bug class mechanically
  * (VERDICT r11 #4): aggregating `max(col("x"))` / `min(col("x"))` over a
  * column that is a WINDOW CUMULATIVE is only correct when the cumulative
  * is provably monotone (non-negative summands) or the max-over-prefixes
  * IS the semantics (KS sup). For a signed-term cumulative where the
  * intent is "the value on the last row", max() silently reads the wrong
  * row — the exact r10 defect in mutualInformation / jensenShannon /
  * maxDrawdown, which the oracle-mirroring made hash-invisible and only
  * the driver's independent SQL caught. The anchored idiom is
  * `max_by(col("cum"), orderCol)` / `min_by` (see
  * `analytics/Bootstrap.scala` sth/sth2, `analytics/Survival.scala`).
  *
  * Mechanism: scan every main-tree source file, collect column names
  * bound to `sum(...)/count(...)` over a window (`withColumn("x",
  * sum(...).over(...)` or `sum(...).over(...).as("x")`), then flag every
  * aggregate `max(col("x"))`/`min(col("x"))` (not itself windowed) over
  * such a name. Every flagged site must be WHITELISTED below with its
  * monotonicity/constancy justification; a new site fails this spec until
  * the author either re-anchors with max_by/min_by or proves the fold and
  * extends the whitelist — plus adds an adversarial negative-term fixture
  * if the summand sign is data-dependent.
  *
  * The name match is file-scoped and textual, so it OVER-captures columns
  * that merely share a name with a cumulative in the same file (broadcast
  * totals like `max(col("n"))`); those land in the whitelist as
  * "constant-per-frame" entries. Over-capture is the safe direction for a
  * lint whose job is to force a human look at each new fold.
  */
class FoldAnchorLintSpec extends AnyFunSuite {

  /** file basename -> (foldedColumn -> allowed occurrence count).
    * Justifications:
    *  - monotone: summand provably >= 0, so max(cum) == final total,
    *    order-free (entropy terms -p*ln(p/q) with p<=q domain, chi^2
    *    num^2/den, PSI (p-q)ln(p/q), Hellinger sqrt(pq), rank-sum
    *    R_i^2/n_i, s_i^2/n_i).
    *  - constant: the column is a broadcast/window total constant on the
    *    aggregated frame (max is just "pick the value"), or the
    *    max(when(key===k, v)) pivot idiom over per-key constants.
    */
  private val whitelist: Map[String, Map[String, Int]] = Map(
    "Bootstrap.scala" -> Map("cnt" -> 1, "n" -> 1), // constant (unpartitioned count / crossJoin total)
    "Drift.scala" -> Map("__c" -> 2, // monotone: PSI term (p-q)ln(p/q) >= 0; Hellinger sqrt(pq) >= 0
      "n_u" -> 1), // monotone: cumulative count, max == group total
    "Eval.scala" -> Map("n_pos" -> 1, "n_a" -> 1), // constant (broadcast totals; the KS sup max(abs(...)) is the semantics and matches no bare col name)
    "Hypothesis.scala" -> Map(
      "__cum" -> 3, // monotone: R_i^2/n_i, s_i^2/n_i, chi2 terms, all >= 0
      "n" -> 5, "n_a" -> 1), // constant (broadcast totals)
    "TimeSeries.scala" -> Map("__c" -> 2), // monotone: entropy terms -p*ln(p') >= 0 (p' <= 1)
    "AnalyticsQueries.scala" -> Map("n" -> 1), // constant (count over the full partition)
    "StatQueries.scala" -> Map(
      "__cum" -> 1, // monotone: chi^2 num^2/den >= 0
      "n" -> 5), // constant (broadcast order-statistic totals; pivot idiom —
                 // incl. trimmedMeanQ's max(n) over the two-pass quantile
                 // rows, where n is the identical total on every row)
    "SummaryQueries.scala" -> Map("median_value" -> 1) // constant per (event_type, dow) after the broadcast join
  )

  test("max/min over window-cumulative columns are anchored or whitelisted") {
    val root = new java.io.File("src/main/scala/graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil

    val cumDef1 = java.util.regex.Pattern.compile(
      "withColumn\\(\\s*\"(\\w+)\"\\s*,\\s*(?:sum|count)\\([\\s\\S]{0,200}?\\.over\\(")
    val cumDef2 = java.util.regex.Pattern.compile(
      "(?:sum|count)\\([\\s\\S]{0,200}?\\.over\\([\\s\\S]{0,120}?\\)\\s*\\.as\\(\\s*\"(\\w+)\"\\)")
    val fold = java.util.regex.Pattern.compile(
      "\\b(?:max|min)\\(\\s*col\\(\"(\\w+)\"\\)\\s*\\)(?!\\s*\\.over)")

    val offenders = walk(root).flatMap { f =>
      val t = {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString finally src.close()
      }
      val cums = scala.collection.mutable.Set.empty[String]
      val m1 = cumDef1.matcher(t); while (m1.find()) cums += m1.group(1)
      val m2 = cumDef2.matcher(t); while (m2.find()) cums += m2.group(1)
      if (cums.isEmpty) Nil
      else {
        val counts = scala.collection.mutable.Map.empty[String, Int]
        val mf = fold.matcher(t)
        while (mf.find()) {
          val c = mf.group(1)
          if (cums(c)) counts(c) = counts.getOrElse(c, 0) + 1
        }
        val allowed = whitelist.getOrElse(f.getName, Map.empty)
        counts.toSeq.collect {
          case (c, n) if n != allowed.getOrElse(c, 0) =>
            s"${f.getName}: $c x$n (whitelisted ${allowed.getOrElse(c, 0)})"
        }
      }
    }
    assert(offenders.isEmpty,
      "max()/min() over a window-cumulative column detected outside the " +
        "whitelist. If you want the LAST row of the cumulative, anchor with " +
        "max_by/min_by on the window's order column (signed summands make " +
        "max() read the wrong row — the r10 mutualInformation defect); if " +
        "the fold is provably monotone or the column is constant-per-frame, " +
        "whitelist it in FoldAnchorLintSpec with the justification, and add " +
        "an adversarial negative-term fixture when the summand sign is " +
        s"data-dependent. Offenders: ${offenders.mkString("; ")}")
  }
}
