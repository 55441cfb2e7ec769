package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}

/** Bit-exact Java `String.hashCode` as a native Catalyst expression.
  *
  * The reference buckets its fact table by `MOD(ABS(HASH_CODE(device_id)), 32)`
  * (Flink `HASH_CODE`, reference `config/flink/sink_telematics_real_time.sql:40`;
  * re-implemented as a Python UDF in `config/spark/backfill_telematics.py:6-16`
  * so Spark-written files land in the same buckets). Spark's builtin `hash()`
  * is Murmur3 — not compatible — so this is the one genuinely custom scalar
  * function in the system.
  *
  * Implemented with `doGenCode` (not a Scala UDF) so it stays inside
  * whole-stage codegen: at 100 TB this runs once per ingested row and a UDF's
  * serialization boundary would break the codegen pipeline of the ingest
  * projection around it.
  */
case class JavaHashCode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "java_hash_code"

  override protected def nullSafeEval(input: Any): Any =
    input.toString.hashCode // UTF8String.toString — JVM String semantics

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$c.toString().hashCode()")

  override protected def withNewChildInternal(newChild: Expression): JavaHashCode =
    copy(child = newChild)
}

/** `MOD(ABS(java_hash_code(s)), n)` fused into one codegen'd int op.
  *
  * Fused (rather than composed from `abs`/`%` Columns) so ANSI-mode overflow
  * checking cannot fire on the `Int.MinValue` hash edge: Java's
  * `Math.abs(Int.MinValue)` stays negative but `% 32 == 0` either way, and the
  * reference relies on exactly that JVM behavior.
  *
  * Bucket count is restricted to powers of two: `Int.MinValue` divides every
  * `2^k`, so `abs(h) % buckets` is then never negative — whereas e.g.
  * `buckets = 7` would map the `Int.MinValue` hash to bucket −2. The
  * reference only ever uses 32.
  */
case class JavaHashBucket(child: Expression, buckets: Int) extends UnaryExpression {
  require(buckets > 0 && Integer.bitCount(buckets) == 1,
    s"bucket count must be a positive power of two (got $buckets): " +
      "abs(Int.MinValue) stays negative and would yield a negative bucket " +
      "for non-power-of-two counts")
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "java_hash_bucket"

  override protected def nullSafeEval(input: Any): Any = {
    val h = input.toString.hashCode
    math.abs(h) % buckets
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.abs($c.toString().hashCode()) % $buckets")

  override protected def withNewChildInternal(newChild: Expression): JavaHashBucket =
    copy(child = newChild)
}

object JavaHash {
  /** Column wrapper: Java String.hashCode of a string column. */
  def javaHash(c: Column): Column =
    ColumnBridge.column(JavaHashCode(ColumnBridge.expression(c)))

  /** Column wrapper: `abs(javaHash(c)) % buckets` — the reference's bucketing. */
  def deviceBucket(c: Column, buckets: Int): Column =
    ColumnBridge.column(JavaHashBucket(ColumnBridge.expression(c), buckets))
}
