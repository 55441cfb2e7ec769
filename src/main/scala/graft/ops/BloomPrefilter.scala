package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter semi-join reduction: build a bloom filter over the (already
  * filtered) dimension keys, then prefilter the fact side *before* its
  * shuffle, so rows that cannot match never leave the scan stage.
  *
  * This is the manual form of Spark's own runtime-filter rewrite
  * (`InjectRuntimeFilter`), for when the build side is the result of an
  * arbitrary pipeline rather than a join the optimizer can see through. Both
  * sides reuse Spark's internal `BloomFilterAggregate` /
  * `BloomFilterMightContain` expressions — codegen'd, and keyed on
  * `xxhash64` so the filter stores 8-byte hashes, never the key bytes.
  *
  * The built filter returns to the driver as one compact binary (like any
  * broadcast variable — ~180 KB at its 200 k expected items) and is inlined as a
  * literal, which keeps `might_contain` foldable-checkable and the fact-side
  * scan a pure map stage. No false negatives: the downstream join re-checks
  * equality, so the composition is exactly the plain join.
  */
object BloomPrefilter {

  /** Keys a filter is sized for: the q_bloom_join dimension (BUILDING
    * customers) with headroom. More keys only raise the false-positive
    * rate, which the downstream join absorbs.
    */
  private val ExpectedItems = 200000L

  /** Distributed bloom build over `keys` (partial filters merge associatively
    * in the agg); the finished filter is collected to the driver.
    */
  def build(keys: DataFrame, key: Column): Array[Byte] = {
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(key)),
      Literal(ExpectedItems), Literal(8L * 1024 * 1024)).toAggregateExpression()
    keys.agg(ColumnBridge.column(agg).as("bloom")).head().getAs[Array[Byte]](0)
  }

  /** `might_contain(bloom, xxhash64(key))` as a Column. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType), ColumnBridge.expression(xxhash64(key))))

  /** Fact side pre-filtered by the bloom — a narrow map-stage filter. */
  def prefilter(fact: DataFrame, key: Column, bloom: Array[Byte]): DataFrame =
    fact.filter(mightContain(bloom, key))

  /** The composed pattern: filter `fact` by a bloom of `dim`'s join keys,
    * then join. Semantically identical to `fact.join(dim, keys)` (false
    * positives are removed by the join; bloom filters have no false
    * negatives), but only the surviving ~|matching| rows enter the shuffle.
    */
  def prefilteredJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String): DataFrame = {
    val bloom = build(dim, col(dimKey))
    prefilter(fact, col(factKey), bloom)
      .join(dim, col(factKey) === col(dimKey))
  }
}
