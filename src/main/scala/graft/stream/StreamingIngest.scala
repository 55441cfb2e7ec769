package graft.stream

import graft.ingest.Normalize
import graft.maintain.{LocalFs, TableIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
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
  * the checkpoint's offset and commit logs plus a batch append that a
  * re-run replaces ([[factSink]]), replacing Flink's aligned checkpoints
  * (`sink_telematics_real_time.sql:8-12`).
  *
  * Scale notes: stateless streams scale by source partitions (Kafka
  * partitions ↔ tasks); the sink writes `(device_id_bucket, received_day)`
  * directories exactly like the batch layout, so downstream scans are
  * identical. Nothing here keeps state beyond the checkpoint. The
  * reference's K3 upsert is the batch `Upsert` +
  * `Maintenance.overwritePartitions`, and the stateful stream shapes
  * (dedup, windows, joins, sessions, late data) are the registry's
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

  /** Checkpointed, partitioned, exactly-once append sink (K1): each
    * micro-batch is appended to `targetDir` by [[appendBatch]]. The table
    * keeps no log of its own, so every open sees every file under it,
    * whichever writer made it, and the in-place writers of
    * `graft.maintain.Maintenance` may rewrite what the stream wrote.
    */
  def factSink(normalized: DataFrame, targetDir: String,
               checkpointDir: String): DataStreamWriter[Row] =
    normalized.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(1000L))
      .outputMode("append")
      .foreachBatch((batch: DataFrame, id: Long) => appendBatch(batch, targetDir, id))

  /** Appends micro-batch `id` to the table at `root`, creating every file
    * and dir through `LocalFs`, so none forks a `chmod`. The batch is
    * written into `root/_batch-<id>` with overwrite, which also clears
    * what an earlier attempt staged. Then, partition dir by partition dir,
    * the files an earlier attempt of this batch moved in are deleted and
    * the staged ones are renamed in as `b<id>-<query id>-<name>`; the
    * staging dir, with its `_SUCCESS`, goes last. So a batch that Spark
    * runs again after a crash, before its commit-log entry, replaces its
    * own files and nothing else. The query id, which the checkpoint keeps
    * and a new checkpoint renews, keeps apart two checkpoints' batches
    * that share an id.
    *
    * The table's manifest is dropped before the first file lands, so the
    * next open lists. A listing open while the files move in may see part
    * of the batch; a manifest published per batch would hide it.
    */
  private def appendBatch(batch: DataFrame, root: String, id: Long): Unit = {
    val spark = batch.sparkSession
    val staging = new Path(root, s"_batch-$id")
    LocalFs.write(batch).mode("overwrite").partitionBy("device_id_bucket", "received_day")
      .parquet(staging.toString)
    val prefix = s"b$id-${spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)}-"
    TableIndex.dropManifest(spark, root)
    val fs = LocalFs.fileSystem(spark, staging)
    try {
      fs.globStatus(new Path(staging, "*/*/*.parquet")).map(_.getPath).groupBy(_.getParent)
        .foreach { case (dir, files) =>
          val part = new Path(root, s"${dir.getParent.getName}/${dir.getName}")
          if (fs.exists(part)) fs.listStatus(part).map(_.getPath)
            .filter(_.getName.startsWith(prefix)).foreach(fs.delete(_, false))
          else fs.mkdirs(part)
          files.foreach { f =>
            val to = new Path(part, prefix + f.getName)
            if (!fs.rename(f, to)) throw new java.io.IOException(s"could not move $f to $to")
          }
        }
      fs.delete(staging, true)
    } finally fs.close()
  }
}
