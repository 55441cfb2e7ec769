package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Field.md5U32

/** Content-defined chunking (Rabin/CDC-style, cf. LBFS and every
  * dedupe-storage system since): cut each document into variable-size
  * chunks at content-determined positions — a token starts a new chunk iff
  * `md5U32("cdc:" || token) mod 16 == 0` — so an insertion near the
  * head of a document shifts only the chunk it lands in; boundaries
  * RESYNCHRONIZE at the next content cut and every later chunk hashes
  * identically. Fixed-size chunking has no such property (one inserted
  * token shifts every subsequent boundary), which is why CDC is the
  * storage-layer dedup primitive for append-heavy corpora.
  *
  * Determinism/portability: the boundary predicate is a pure function of
  * the single token (the degenerate-but-sound k=1 rolling window), and the
  * chunk identity is `md5` of the position-ordered token join — both replay
  * bit-exactly in a verification engine.
  *
  * Scale shape: one (doc, pos) sort serves the running boundary count; the
  * chunk rollup is a map-combined aggregate on (doc, chunk) whose ordered
  * concat runs over chunk-bounded arrays (expected 16 tokens). No
  * corpus self-join anywhere; chunk-level dedup downstream is a groupBy on
  * the chunk hash.
  */
object ContentChunking {

  /** One row per (doc, chunk): ordinal, token count, start position and the
    * chunk content hash. Expected chunk length ≈ 16 tokens.
    */
  def chunks(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id").as("doc"), Dedup.tokens(col("text")).as("__t"))
      .select(col("doc"), expr("filter(__t, x -> x <> '')").as("__t"))
    val pos = toks.select(col("doc"), posexplode(col("__t")).as(Seq("pos", "tok")))
    val byPos = Window.partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pos
      .withColumn("__bnd",
        (pmod(md5U32(concat(lit("cdc:"), col("tok"))), lit(16L)) === 0)
          .cast("long"))
      .withColumn("chunk", sum(col("__bnd")).over(byPos))
      .groupBy(col("doc"), col("chunk"))
      .agg(count(lit(1)).as("n_tokens"), min(col("pos")).as("start_pos"),
        md5(concat_ws(" ",
          expr("transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)")))
          .as("chunk_hash"))
  }
}
