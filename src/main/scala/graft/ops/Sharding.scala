package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Md5Field.md5U32

/** Rendezvous (highest-random-weight) sharding — the stateless shard
  * assignment used for stable key→worker routing (cache shards, stateful
  * stream tasks, bucketed ANN cells): key k goes to the shard s maximizing
  * `md5U32(k:s)`. Unlike `hash(k) mod n`, growing the ring from n to n+1
  * moves ONLY the keys whose new shard wins the argmax — an expected
  * 1/(n+1) of them — instead of reshuffling (n−1)/n of the keyspace; and
  * unlike consistent-hash rings it needs no virtual-node state at all.
  *
  * Exactness: the argmax is `max_by(s, (weight, s))` over an exploded
  * 0..n−1 shard array — the weight is the md5 u32 (engine-portable), the
  * tie-break is the shard id, so the assignment is a pure deterministic
  * function of (key, n) on any engine.
  *
  * Scale shape: n rows per key into a map-side-combinable argmax aggregate
  * keyed by the key — one shuffle, no joins; n is a small constant. The
  * movement audit joins the n and n+1 assignments on the key (same
  * shuffle key both sides).
  */
object Sharding {

  /** (key, shard) under rendezvous hashing with `n` shards. */
  def assign(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 1024, s"shard count must be in [1,1024], got $n")
    df.select(col(keyCol).as("key"))
      .distinct()
      .select(col("key"),
        explode(array((0 until n).map(s => lit(s.toLong)): _*)).as("s"))
      .withColumn("w", md5U32(concat_ws(":",
        lit("shard"), col("key").cast("string"), col("s"))))
      .groupBy(col("key"))
      .agg(max_by(col("s"), struct(col("w"), col("s"))).as("shard"))
  }

  /** Elasticity audit for growing `n` → `n+1`: total keys, keys that moved
    * (expected ≈ n_keys/(n+1) — THE rendezvous advantage over mod-hashing,
    * which moves ≈ n_keys·n/(n+1)), and the old ring's load spread.
    */
  def growthAudit(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    val a = assign(df, keyCol, n)
    val b = assign(df, keyCol, n + 1)
      .withColumnRenamed("shard", "shard_next")
    val moved = a.join(b, Seq("key"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("shard") =!= col("shard_next"), 1L).otherwise(0L))
          .as("n_moved"))
    val loads = a.groupBy(col("shard")).agg(count(lit(1)).as("load"))
      .agg(max(col("load")).as("max_load"), min(col("load")).as("min_load"))
    moved.crossJoin(broadcast(loads))
  }
}
