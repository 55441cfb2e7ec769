package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.Md5Field.md5U32

/** DSIR-style data selection with importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score raw
  * documents by how target-like their hashed n-gram feature distribution is,
  * so a pretraining corpus can be filtered toward a high-quality target
  * domain without training a classifier.
  *
  * Fidelity note — exactness over the continuous form: the paper's importance
  * weight is Σ log(p_tgt(b) / p_raw(b)) over a document's hashed-bigram
  * buckets. Transcendental logs cannot cross engines bit-exactly, so this
  * implementation quantizes a log-ratio to the power-of-two grid:
  * `w(b) = bitlen(tgt(b)+1) − bitlen(raw(b)+1)` where `bitlen(n) =
  * length(bin(n))` = ⌊log2 n⌋+1, computed as a STRING length — exact integer
  * arithmetic on both engines (Spark `bin` and DuckDB `bin` both render
  * unpadded binary). The per-document score Σ w(b) is then an exact BIGINT:
  * order-independent and hash-comparable.
  *
  * What the weight approximates: the raw COUNT ratio log₂(tgt_cnt/raw_cnt)
  * (within 1 bit per feature), NOT the paper's probability ratio
  * log(p_tgt/p_raw). The two differ by the constant log₂(N_raw/N_tgt) per
  * bucket (N = total bigram mass per side), so a document's score carries an
  * additive bias of n_bigrams · log₂(N_raw/N_tgt): rankings among documents
  * of EQUAL bigram count match DSIR's intent exactly, while cross-length
  * comparisons are length-biased toward the larger-mass side. Callers that
  * rank across lengths should normalize by `n_bigrams` (both columns are
  * emitted by [[docScores]]) or select within length strata. The constant is
  * deliberately not folded in: keeping the weight a pure two-integer bitlen
  * difference is what makes the score reproducible bit-exactly on any engine
  * with integer binary rendering.
  *
  * Scale shape (100 TB): the feature space is a FIXED bucket count (256;
  * the paper uses 10k — still broadcastable), so the weight table is
  * metadata-sized regardless of corpus size. Two shuffles total: the bucket
  * count aggregate (map-side combined, reduce ships ≤ B rows) and the
  * per-document score aggregate. The weight table joins back by broadcast.
  * Token arrays are materialized before the bigram explode (NOTES rule 1 —
  * the explode-pushdown trap), and the exploded bucket frame is persisted
  * because it feeds both the weight estimate and the scoring pass.
  */
object Dsir {

  /** doc_id, source, bucket rows — one per hashed bigram occurrence. */
  private def bigramBuckets(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("source"), graft.dedup.Dedup.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b)).as("bg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    tok.select(col("doc_id"), col("source"), explode(col("bg")).as("bigram"))
      .select(col("doc_id"), col("source"),
        pmod(md5U32(col("bigram")), lit(256)).as("bucket"))
  }

  /** Per-bucket target/raw counts and the quantized log-ratio weight. */
  private def weightsOf(bucketRows: DataFrame, targetSource: String): DataFrame =
    bucketRows
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("tgt_cnt"),
        sum(when(col("source") =!= targetSource, 1L).otherwise(0L)).as("raw_cnt"))
      .withColumn("weight",
        (length(bin(col("tgt_cnt") + 1)) - length(bin(col("raw_cnt") + 1)))
          .cast("long"))

  /** Per-document importance score: Σ weight over the document's hashed
    * bigrams (exact BIGINT). Documents with fewer than two tokens score 0.
    */
  def docScores(docs: DataFrame, targetSource: String): DataFrame = {
    val bb = bigramBuckets(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val w = weightsOf(bb, targetSource).select(col("bucket"), col("weight"))
    val scored = bb
      .join(broadcast(w), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("weight")).as("score"))
    docs.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score"), lit(0L)).as("score"))
  }
}
