package graft.dedup

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003 — the MOSS algorithm): slide a window of `w` = 4 consecutive k-gram
  * (k = 3) hashes over each document and select each window's MINIMUM hash as a
  * fingerprint. The winnowing theorem guarantees any shared token run of at
  * least `w + k − 1` tokens between two documents yields at least one
  * SHARED fingerprint, while only ~`2/(w+1)` of positions are selected — a
  * near-dup signal with a *provable* detection floor at a fraction of the
  * full positional-shingle volume ([[Dedup.sharedTokenRunsFromPositional]] is the exact
  * run extractor; winnowing is its cheap corpus-scale screen).
  *
  * Determinism/portability: fingerprint identity is the VALUE of the window
  * minimum (not its position), so tie-breaking between equal hashes is
  * irrelevant and the selected set is a pure function of the text. Hashes
  * are the `md5U60` uniform (first 15 hex chars of the md5 digest → a
  * 60-bit value that fits signed BIGINT on BOTH engines), so a
  * verification engine replays the selection bit-exactly. At 60 bits the
  * expected birthday collisions among 5M selected fingerprints are ~1e-5
  * (the earlier 32-bit form measured ±0.1% row perturbation at that
  * volume); corpora beyond ~10⁹ fingerprints should widen to a full
  * 128-bit digest — nothing else changes, identity is the value.
  *
  * Scale shape: k-gram hashing is one codegen projection over the exploded
  * token stream (lead() window — no interpreted HOF lambda per element);
  * the window minimum rides the SAME (doc, pos) sort — one shuffle total
  * for fingerprinting. The pair join is bounded by the fingerprint-df cut
  * ([[MaxDocFreq]]): a fingerprint shared by more than that many documents is
  * boilerplate and is dropped before the self-join, the same valve as the
  * shingle-frequency cut in [[Dedup.ngramJaccardPairs]] (bias disclosed:
  * pairs whose ONLY shared runs are corpus-boilerplate are missed — by
  * design).
  */
object Winnowing {

  private val K = 3
  private val W = 4
  private val MaxDocFreq = 50

  private def md5U60(c: Column): Column =
    graft.functions.Md5Field.md5Field(c, 0, 15)

  /** Selected fingerprints per document: distinct `(doc_id, fp)` rows, where
    * `fp` is the minimum k-gram hash of some full `w`-window. Documents with
    * fewer than `w + k − 1` tokens yield no fingerprints.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id").as("doc"), Dedup.tokens(col("text")).as("__t"))
      .select(col("doc"), expr("filter(__t, x -> x <> '')").as("__t"))
    val pos = toks.select(col("doc"), posexplode(col("__t")).as(Seq("pos", "wd")))
    val byPos = Window.partitionBy(col("doc")).orderBy(col("pos"))
    // k-gram hash at pos p = hash of tokens [p, p+k) — codegen lead(), no HOF
    val withGram = pos
      .withColumn("__g",
        when((1 until K).map(j => lead(col("wd"), j).over(byPos).isNotNull)
               .reduce(_ && _),
          md5U60(concat_ws(" ",
            col("wd") +: (1 until K).map(j => lead(col("wd"), j).over(byPos)): _*)))
          .otherwise(lit(null)))
      .filter(col("__g").isNotNull)
    // window min over w consecutive grams, only for FULL windows; gram rows
    // are contiguous in pos, so the same sort order serves both windows
    val minW = Window.partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, W - 1)
    val cntW = Window.partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    withGram
      .withColumn("__fp", min(col("__g")).over(minW))
      .withColumn("__follow", count(lit(1)).over(cntW))
      .filter(col("__follow") >= W)
      .select(col("doc"), col("__fp").as("fp"))
      .distinct()
  }

  /** Document pairs sharing at least 2 selected fingerprints — the near-dup
    * candidate set with the winnowing detection guarantee. [[MaxDocFreq]] is
    * the boilerplate valve (see object doc).
    */
  def fingerprintPairs(docs: DataFrame): DataFrame = {
    // eager anchor before the self-join: both join branches (and both df-cut
    // consumers below) ultimately consume the fingerprint table, and without
    // the cut each re-runs the whole tokenize → k-gram window → winnow-min →
    // distinct pipeline (r17 A/B x3 interleaved, exact-equal: base
    // 1.90-2.40 s vs anchored 1.55-1.88 at sf0.1). At corpus scale the
    // anchored frame is the selected-fingerprint table (~2/(w+1) of token
    // positions, two longs per row) — materializing it once is strictly
    // cheaper than recomputing the fingerprint pipeline per branch; at
    // scale the standing fingerprint parquet artifact replaces the anchor.
    val fps = fingerprints(docs)
      .anchor(Bound.Data("selected fingerprints, ~2/(w+1) of token positions"))
    // df cut as a broadcast LEFT ANTI of the metadata-sized HOT set (the r13
    // inversion, r17 here: A/B x4 interleaved, exact-equal, 1.32-1.69 s →
    // 1.15-1.51 at sf0.1): the per-fp window count shuffled and sorted ALL
    // (doc, fp) rows by fp just to read each group's size, where the
    // groupBy aggregates map-side to one row per fingerprint and only the
    // > MaxDocFreq survivors — boilerplate fingerprints, a vanishing
    // fraction by the winnowing guarantee — are broadcast. fps rows are
    // distinct (doc, fp), so count-per-fp IS the document frequency on both
    // shapes.
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > MaxDocFreq)
      .select(col("fp"))
    // broadcast-hint GUARD (ADVICE r17): every hot fingerprint absorbs
    // > MaxDocFreq distinct (doc, fp) rows, so |hot| <= |fps| / (MaxDocFreq
    // + 1) — a provable bound computable job-free from the checkpoint's
    // Catalyst stats (checkpointed frames carry real sizes, the
    // kernelPartitions contract). The force-broadcast applies only while
    // that bound stays under a driver-safe cap; a boilerplate-heavy corpus
    // past it falls back to the planner's choice (shuffled join) instead
    // of exhausting driver memory through an unbounded hint.
    val hotBoundBytes =
      fps.queryExecution.optimizedPlan.stats.sizeInBytes / (MaxDocFreq + 1)
    val hotSide =
      if (hotBoundBytes <= (64L << 20)) broadcast(hot) else hot
    val rare = fps.join(hotSide, Seq("fp"), "left_anti")
      .select(col("doc"), col("fp"))
    rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 2)
  }
}
