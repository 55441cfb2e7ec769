package graft.stream

import graft.ingest.Normalize
import graft.maintain.TableIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured Streaming form of the reference's K1 job
  * (`sink_telematics_real_time.sql`; SURVEY.md §2.10): source, transform,
  * sink.
  *
  * The transform logic is the *same function* the batch/oracle path uses
  * (`Normalize.normalizeTelemetry`), applied to an unbounded DataFrame: the
  * reference's streams are stateless project/filter/cast jobs, which is
  * exactly the subset that is batch/stream agnostic. Exactly-once lands on
  * checkpointing + idempotent file sinks, replacing Flink's aligned
  * checkpoints (`sink_telematics_real_time.sql:8-12`).
  *
  * Scale notes: stateless streams scale by source partitions (Kafka
  * partitions ↔ tasks); the partitioned file sink writes
  * `(device_id_bucket, received_day)` directories exactly like the batch
  * layout, so downstream scans are identical. Nothing here keeps state
  * beyond the sink's checkpoint. The reference's K3 upsert is the batch
  * `Upsert` + `Maintenance.overwritePartitions`, and the stateful stream
  * shapes (dedup, windows, joins, sessions, late data) are the registry's
  * `q_stream_*` queries.
  */
object StreamingIngest {

  /** Kafka JSON source (S1-S3) → edge-schema rows. Requires the Kafka
    * connector on the classpath at runtime; the shape is what matters for the
    * offline harness, where a file or memory stream stands in.
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest") // ≈ 'scan.startup.mode' create.sql:103-104
      .load()
      .select(from_json(col("value").cast("string"), Normalize.kafkaEdgeSchema).as("j"))
      .select(col("j.*"))

  /** The streaming ingest transform — literally the batch pipeline. */
  def ingest(edgeStream: DataFrame): DataFrame =
    Normalize.normalizeTelemetry(edgeStream)

  /** Checkpointed, partitioned, exactly-once append sink (K1). Its
    * target is new, empty or written by this sink: a target that holds
    * parquet data without the sink's log (a `Layout.writeFact` table) is
    * refused with an `IllegalArgumentException`, because the log the first
    * batch starts would hide that data from every open.
    */
  def factSink(normalized: DataFrame, targetDir: String,
               checkpointDir: String): DataStreamWriter[Row] = {
    val spark = normalized.sparkSession
    TableIndex.requireSinkTarget(spark, targetDir)
    TableIndex.dropManifest(spark, targetDir)
    normalized.writeStream
      .format("parquet")
      .option("path", targetDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("device_id_bucket", "received_day")
      .trigger(Trigger.ProcessingTime(1000L))
      .outputMode("append")
  }
}
