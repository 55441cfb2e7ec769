package graft.ingest

import graft.maintain.LocalFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Text/columnar format source-sink round-trips beyond parquet (the
  * reference's lake is parquet-only, `config/flink/create.sql:52`; real
  * ingest surfaces also land CSV/ORC drops — this is that surface).
  *
  * Discipline for scale: **explicit schemas only** — `inferSchema` runs an
  * extra full scan of the input and guesses types per-file; at 100 TB that is
  * both a second read of the lake and a correctness hazard. CSV uses RFC
  * doubled-quote escaping on both write and read so embedded quotes,
  * separators, and newlines survive the trip.
  */
object Formats {

  private val csvOpts = Map(
    "header" -> "true",
    "escape" -> "\"") // RFC 4180 doubled quotes, not backslash

  def writeCsv(df: DataFrame, path: String): Unit =
    LocalFs.write(df).mode("overwrite").options(csvOpts).csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    // multiLine: without it, quoted embedded newlines split records on read
    // and PERMISSIVE mode turns the halves into corrupt rows silently. Cost:
    // multiLine files are not line-splittable, so one task per file — keep
    // individual CSV files bounded (they're an ingest edge, not a lake format)
    spark.read.options(csvOpts).option("multiLine", "true")
      .schema(schema).csv(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    LocalFs.write(df).mode("overwrite").option("compression", "zstd").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Avro: the row-oriented edge format (Kafka payloads, log shippers land
    * Avro; the lake stays columnar). Schema travels in the file, so the read
    * side needs no explicit schema — unlike CSV there is nothing to infer.
    * The provider is addressed by class: this Spark build bundles the Avro
    * classes but not the `avro` short-name service registration.
    */
  private val AvroProvider = "org.apache.spark.sql.avro.AvroFileFormat"

  def writeAvro(df: DataFrame, path: String): Unit =
    LocalFs.write(df).mode("overwrite").format(AvroProvider).save(path)

  def readAvro(spark: SparkSession, path: String): DataFrame =
    spark.read.format(AvroProvider).load(path)
}
