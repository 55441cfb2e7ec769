package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's deterministic parquet testdata (TESTDATA.md).
  *
  * At 100 TB these reads become partitioned-table scans; everything
  * downstream only assumes "a DataFrame with this schema", so swapping
  * `parquet(dir)` for a catalog table (Delta/Iceberg) is a one-line change.
  * Filters/projections applied by callers are pushed into the parquet scan
  * by Catalyst (verify with .explain: PushedFilters / ReadSchema).
  */
object Tables {
  /** Parquet schemas memoized per path (process-wide). A bare
    * `spark.read.parquet(path)` re-infers the schema from file footers on
    * EVERY call (~80-90 ms even for a 5-row table, measured on this host);
    * a catalog-backed table (Hive/Delta/Iceberg) instead carries its schema
    * in table metadata, so scan setup never re-reads footers. This memo
    * reproduces the catalog behavior for the driver's path-addressed
    * testdata: infer once per process, then open with the memo (each call
    * still mints fresh attribute IDs, so self-joins of two loads remain
    * unambiguous).
    * CONTRACT: only for write-once paths (the read-only driver testdata and
    * write-once fixtures); a path rewritten with a different schema would be
    * served stale.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Schema-memoized parquet read for write-once paths (see [[schemaMemo]]).
    * Only the SCHEMA is memoized; the files are found fresh on every call:
    *
    *  - a table with a `_manifest` ([[graft.maintain.Layout.writeFact]])
    *    opens from it ([[graft.maintain.TableIndex.openManifest]]): one
    *    small file read, no directory listing. For the 960-file sf0.1 fact
    *    at `local[4]` that is ~3 ms against ~100-150 ms for a listing open.
    *    The open reads the files the last `writeFact` wrote; the in-place
    *    writers (`Maintenance.compactPartition`, `retentionDelete`,
    *    `overwritePartitions`) drop the manifest before they touch the
    *    table, and `StreamingIngest.factSink` before each batch's files
    *    land, so the next open lists;
    *  - any other path lists its directory, as `spark.read.parquet` does.
    */
  def cachedParquet(spark: SparkSession, path: String): DataFrame = {
    val schema = parquetSchema(spark, path)
    graft.maintain.TableIndex.openManifest(spark, path, schema)
      .getOrElse(spark.read.schema(schema).parquet(path))
  }

  /** Memoized parquet schema of a write-once path (one footer read per
    * process — the catalog-metadata analogue for `readStream.schema(...)`
    * sources and other schema-only consumers).
    */
  def parquetSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemaMemo.computeIfAbsent(path, p => spark.read.parquet(p).schema)

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    cachedParquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  /** `events.ts` normalized to session-local TIMESTAMP regardless of the
    * parquet generation: TIMESTAMP(NANOS) arrives as a nano-epoch long under
    * `spark.sql.legacy.parquet.nanosAsLong=true` and is converted in exact
    * integer space (`div` — a double division would lose precision above
    * 2^53 ns); TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    * TIMESTAMP_NTZ and is cast (epoch-preserving: every graft entrypoint
    * runs with session TZ UTC). Downstream code can then rely on
    * `unix_micros`/watermarks/`cast(long)` uniformly.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventTs(t(spark, dir, "events"))

  /** The `ts` normalization of [[events]], for any frame with the events
    * schema — batch or stream (a stream source over the events parquet
    * needs it too, or `unix_micros`/watermarks reject the column).
    */
  def eventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
