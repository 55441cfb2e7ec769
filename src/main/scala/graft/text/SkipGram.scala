package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.Md5Field.md5U32

/** Skip-gram training-pair generation — the word2vec/DeepWalk data stage:
  * every (center, context) token pair within a `window`-token neighborhood,
  * after frequency subsampling of the token stream (Mikolov et al. 2013,
  * "Distributed Representations of Words and Phrases").
  *
  * Subsampling, exactly: word2vec keeps an occurrence of token w with
  * probability `sqrt(t/f(w))`-ish; a square root in a filter can flip on a
  * 1-ulp cross-engine difference, so this implementation uses the LINEAR
  * keep rule `P(keep) = min(1, t·N / f(w))` evaluated entirely in BIGINT
  * cross-multiplication: occurrence kept iff
  * `u32(seed:doc:pos) · f(w) < tNum · N · 2³²/ tDen` — rearranged as
  * `u32 · tDen · f < tNum · N · 2³²` so every operand is exact (worst case
  * ~2³²·10⁶ ≈ 4·10¹⁵, far under 2⁶³). Same high-frequency-word damping
  * intent, bit-reproducible on any engine with md5.
  *
  * After the drop, surviving tokens are re-indexed (`row_number` within the
  * document) and pairs form over the COMPACTED stream — word2vec's actual
  * behavior (deleted words widen the effective window).
  *
  * Scale shape: tokenize → one corpus-frequency aggregate (map-combined;
  * the frequency table is vocabulary-sized and joins back broadcast for
  * bounded vocabularies — here via a shuffle join that AQE can downgrade) →
  * the keep filter → one rank window per document → the pair join is an
  * EQUI-join on (doc, position) against the ±window offset explosion
  * (2·window rows per surviving token, a fixed multiplier) → one count
  * aggregate. Everything is linear in corpus size × window.
  */
object SkipGram {

  /** (center, context, n_pairs) counts over the subsampled corpus;
    * `minCount` prunes the long tail (SQL HAVING). `tNum/tDen` is the
    * subsample threshold t as an exact rational (1/100 drops tokens above
    * 1% of the stream proportionally).
    */
  def pairs(docs: DataFrame, window: Int, minCount: Long,
            tNum: Long, tDen: Long): DataFrame = {
    require(window >= 1 && window <= 16, s"window must be in [1,16], got $window")
    val tok = docs
      .select(col("doc_id").as("doc"), graft.dedup.Dedup.tokens(col("text")).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK) // NOTES rule 1: array before explode
    val occ = tok.select(col("doc"), posexplode(col("t")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val freq = occ.groupBy(col("w")).agg(count(lit(1)).as("f"))
    val totals = occ.agg(count(lit(1)).as("N"))
    // keep rule in pure BIGINT: u32·tDen·f < tNum·N·2³²
    val kept = occ
      .join(freq, Seq("w"))
      .crossJoin(broadcast(totals))
      .filter(
        md5U32(concat_ws(":", lit("sg"), col("doc"), col("pos"))) *
          lit(tDen) * col("f") < lit(tNum) * col("N") * lit(4294967296L))
      .withColumn("p", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
          .orderBy(col("pos"))).cast("long"))
      .select(col("doc"), col("p"), col("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val offsets = (-window to window).filter(_ != 0).map(_.toLong)
    val centers = kept.select(col("doc"), col("w").as("center"),
      explode(array(offsets.map(o => col("p") + lit(o)): _*)).as("p"))
    centers.join(kept.withColumnRenamed("w", "context"), Seq("doc", "p"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
  }
}
