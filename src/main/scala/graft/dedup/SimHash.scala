package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash document fingerprints (Charikar '02; Manku/Jain/Sarma WWW'07
  * near-duplicate detection).
  *
  * 64-bit fingerprint: each token votes ±1 on every bit position of its
  * 64-bit hash; fingerprint bit k is 1 iff the vote sum is positive.
  * Near-duplicates = fingerprints within `MaxHamming` = 3 bits, found via the
  * Manku block trick: two fingerprints within d bits must agree exactly on at
  * least one of d+1 blocks — candidates come from an equi-join on
  * (block_idx, block_value), then exact `bit_count(xor)` verification.
  *
  * All bit arithmetic is Catalyst expressions (shiftright/bitwise and/xor,
  * `bit_count`) — codegen'd, shuffle only on block buckets.
  */
object SimHash {

  /** doc_id, 64-bit simhash fingerprint.
    *
    * Shaped as explode → hash → [[graft.functions.SimHashAggregate]] (a
    * single typed imperative aggregate holding all 64 vote counters),
    * instead of nested array lambdas or 64 separate `sum(when(bit))`
    * columns: Catalyst HOF lambdas evaluate interpreted (64 × tokens
    * invocations per document), and the 64-column aggregate generated a
    * janino class so large that cold JIT dominated the query. The explode
    * still never materializes — it streams straight into the partial
    * object-hash aggregate, and map-side combine ships one 512-byte buffer
    * per document at 100 TB fan-in.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    // explode_outer + null-guarded hash: a null/blank document (zero tokens
    // under the shared tokenizer) must still get a fingerprint row — plain
    // explode would silently drop it from the output. The guard matters
    // because Spark's xxhash64(NULL) returns the SEED (42), not NULL; the
    // when() passes a true NULL through, which SimHashAggregate skips, so a
    // token-less doc evals the empty vote buffer to the well-defined fp 0.
    docs
      .select(col("doc_id").as("id"), col("text").as("__text"))
      .repartition(parallelism)
      .select(col("id"), explode_outer(Dedup.tokens(col("__text"))).as("tok"))
      .groupBy(col("id"))
      .agg(graft.functions.SimHashAgg.simhashAgg(
        when(col("tok").isNotNull, xxhash64(col("tok")))).as("fp"))
  }

  private val MaxHamming = 3

  /** Near-dup pairs with Hamming distance ≤ [[MaxHamming]] via block-join. */
  def nearDuplicates(docs: DataFrame): DataFrame = {
    val blocks = MaxHamming + 1
    val width = 64 / blocks
    val fps = fingerprints(docs)
    // the blocked frame is both sides of the self-join; persist the (tiny)
    // (id, fp, block, key) projection so the fingerprint aggregation — the
    // expensive part — runs once, not once per join side
    val blocked = fps.select(col("id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(blocks - 1)),
        j => call_function("shiftright", col("fp"), j * width)
          .bitwiseAND(lit((1L << width) - 1)))).as(Seq("block", "key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    blocked.as("a").join(blocked.as("b"),
        col("a.block") === col("b.block") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= MaxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
