package graft.stream

import graft.ingest.Normalize
import graft.ops.Upsert
import graft.score.RiskScore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured Streaming wrappers of the batch pipeline — the Spark
  * re-expression of the reference's 7 always-on Flink jobs (SURVEY.md §2.10).
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
  * layout, so downstream scans are identical. The only stateful operator here
  * (windowed counts) carries a watermark so state is bounded.
  */
object StreamingIngest {

  /** Kafka JSON source (S1-S3) → edge-schema rows. Requires the Kafka
    * connector on the classpath at runtime; the shape is what matters for the
    * offline harness, where [[jsonFileSource]] / MemoryStream stand in.
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

  /** File-based streaming source with the same edge schema (offline stand-in
    * for Kafka; also the production pattern for landing-zone ingest).
    */
  def jsonFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Normalize.kafkaEdgeSchema).json(dir)

  /** The streaming ingest transform — literally the batch pipeline. */
  def ingest(edgeStream: DataFrame): DataFrame =
    Normalize.normalizeTelemetry(edgeStream)

  /** [[ingest]] with an [[org.apache.spark.sql.Observation]]-style `observe`
    * node: per-micro-batch row/alert/overspeed counters ride the existing job
    * (no second pass, no extra action) and surface in every
    * `StreamingQueryProgress.observedMetrics` — the ops dashboard the
    * reference gets from Flink's metric reporters, for free in-plan.
    */
  def ingestWithMetrics(edgeStream: DataFrame): DataFrame =
    ingest(edgeStream).observe("graft_ingest",
      count(lit(1)).as("rows_out"),
      sum(when(col("report_type") === "ALERT", 1L).otherwise(0L)).as("alerts"),
      sum(when(col("speed_kmh") > RiskScore.OverspeedKmh, 1L).otherwise(0L)).as("overspeed"))

  /** Checkpointed, partitioned, exactly-once append sink (K1). Appends
    * to a `Layout.writeFact` table drop its manifest first, so its opens
    * list and see the appended files.
    */
  def factSink(normalized: DataFrame, targetDir: String, checkpointDir: String,
               triggerMs: Long = 1000L): DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.maintain.TableIndex.dropManifest(normalized.sparkSession, targetDir)
    normalized.writeStream
      .format("parquet")
      .option("path", targetDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("device_id_bucket", "received_day")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .outputMode("append")
  }

  /** Streaming upsert (K3) via foreachBatch: per micro-batch, merge into the
    * keyed parquet table with the same `Upsert` used in batch — idempotent
    * across replays because the key dedup keeps the highest precedence.
    *
    * With `partitionCols` set (the 100 TB path), each micro-batch reads and
    * rewrites ONLY the partitions present in the batch — O(batch), not
    * O(table) — via partition-pruned read + dynamic partition overwrite
    * ([[graft.maintain.Maintenance.overwritePartitions]]). Assumes a key's
    * partition values never change across updates (partitionCols ⊆ keys or
    * derived from them), else the stale copy in the old partition survives.
    *
    * Without `partitionCols` the whole table is merged and swapped — only for
    * small dimension-style tables. The swap renames the live directory aside
    * before promoting the new one (backup-swap): a crash at any point leaves
    * at least one complete copy on disk, and the next batch self-recovers.
    *
    * A `Layout.writeFact` table's manifest goes either way: the partition
    * rewrite drops it ([[graft.maintain.Maintenance.overwritePartitions]]),
    * and the swap replaces the whole directory, manifest included, with one
    * that has none.
    */
  def upsertSink(scored: DataFrame, targetDir: String, checkpointDir: String,
                 keys: Seq[String], precedenceCol: String,
                 partitionCols: Seq[String] = Nil)(
      implicit spark: SparkSession): DataStreamWriter[org.apache.spark.sql.Row] =
    scored.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (partitionCols.nonEmpty) upsertPartitions(batch, targetDir, keys, precedenceCol, partitionCols)
        else upsertFullSwap(batch, targetDir, keys, precedenceCol)
      }

  /** Streaming upsert onto a [[graft.maintain.Versioned]] table: each
    * micro-batch is one atomic MERGE snapshot (manifest CAS commit — a
    * crash at any point leaves the previous snapshot fully readable), and
    * every batch's pre-state stays time-travelable until
    * `Versioned.expireSnapshots` retires it. The transaction-log answer to
    * the same K3 contract [[upsertSink]] meets with swap/partition tricks.
    */
  def versionedUpsertSink(scored: DataFrame, tableDir: String, checkpointDir: String,
                          keys: Seq[String], precedenceCol: String)(
      implicit spark: SparkSession): DataStreamWriter[org.apache.spark.sql.Row] =
    scored.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.maintain.Versioned.upsert(batch, tableDir, keys, col(precedenceCol))
        ()
      }

  /** The live table at `targetDir`, or an empty frame of the batch's schema
    * if there is none yet. Only a MISSING target counts as empty: any other
    * read failure (a corrupt footer, an I/O error) propagates and fails the
    * batch, because the caller overwrites what it read — treating an
    * unreadable table as empty would replace it with one micro-batch.
    */
  private def existingOrEmpty(batch: DataFrame, targetDir: String): DataFrame = {
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(targetDir)
    if (target.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(target))
      spark.read.parquet(targetDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
  }

  /** Partition-restricted merge: prune the read and the rewrite to the
    * partitions the micro-batch touches.
    */
  private def upsertPartitions(batch: DataFrame, targetDir: String,
                               keys: Seq[String], precedenceCol: String,
                               partitionCols: Seq[String]): Unit = {
    val cached = batch.persist()
    try {
      // the batch's partition set is small by construction (a micro-batch
      // touches few day/bucket partitions); collecting it drives pruning
      val parts = cached.select(partitionCols.map(col): _*).distinct().collect()
      if (parts.isEmpty) return
      val touched = parts.map(r =>
          partitionCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
            .reduce(_ && _))
        .reduce(_ || _)
      val existing = existingOrEmpty(cached, targetDir).filter(touched)
      val merged = Upsert.upsert(existing, cached, keys,
        col(precedenceCol), col(precedenceCol))
      graft.maintain.Maintenance.overwritePartitions(merged, targetDir, partitionCols)
    } finally { cached.unpersist(); () }
  }

  /** Whole-table merge with a crash-safe backup-swap promote. The live
    * table is read inside the staged write, after `Promote.replace` has
    * restored a table an interrupted swap left in its backup.
    */
  private def upsertFullSwap(batch: DataFrame, targetDir: String,
                             keys: Seq[String], precedenceCol: String): Unit =
    graft.maintain.Promote.replace(batch.sparkSession, targetDir) { staged =>
      Upsert.upsert(existingOrEmpty(batch, targetDir), batch, keys,
        col(precedenceCol), col(precedenceCol)).write.mode("overwrite").parquet(staged)
    }

  /** Streaming dedup by id within the watermark horizon
    * (`dropDuplicatesWithinWatermark`): the in-flight version of exact dedup
    * — replayed/duplicated telemetry (at-least-once upstreams) collapses to
    * one row, with state bounded by the watermark instead of growing forever.
    */
  def dedupStream(normalized: DataFrame): DataFrame =
    normalized
      .transform(withEventTime)
      .withWatermark("gps_epoch", "10 minutes")
      .dropDuplicatesWithinWatermark("correlation_id")

  /** The watermark-boundary gate: only rows whose event time survived
    * normalization may enter watermarked state.
    *
    * A corrupt timestamp nulls out at [[graft.ingest.Normalize]]'s
    * `try_cast` (the row itself survives ingest), but Spark's stateful
    * operators handle a NULL event time in two different bad ways
    * (probed on 4.1): windowed/session aggregations drop the row
    * SILENTLY (`window(NULL)` groups away), while
    * `dropDuplicatesWithinWatermark` RETAINS it — and a state row keyed
    * under a NULL event time has no watermark to expire against, which
    * is unbounded state at crawl scale. This gate replaces both
    * behaviors with one explicit, documented disposition: corrupt-time
    * rows are excluded from event-time state; callers that must not
    * lose them route `filter(col("gps_epoch").isNull)` to the DLQ
    * sink, the same keep-the-failures discipline as the payload DLQ.
    */
  def withEventTime(df: DataFrame): DataFrame =
    df.filter(col("gps_epoch").isNotNull)

  /** Arbitrary-state streaming (`mapGroupsWithState`): running per-device
    * totals that survive across micro-batches — the `GroupState` surface for
    * custom state the reference's stateless jobs never needed (north-star
    * extension; state is per-key and checkpointed with the query).
    */
  def runningDeviceTotals(events: org.apache.spark.sql.Dataset[(String, Double)])(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[(String, Long, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (device: String, rows: Iterator[(String, Double)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Double)]) =>
          val (n0, max0) = state.getOption.getOrElse((0L, Double.MinValue))
          val batch = rows.toSeq
          val updated = (n0 + batch.size,
            math.max(max0, if (batch.isEmpty) max0 else batch.map(_._2).max))
          state.update(updated)
          (device, updated._1, updated._2)
      }
  }

  /** [[runningDeviceTotals]] on the arbitrary-state v2 API
    * (`transformWithState`): a named `ValueState` per device inside a
    * `StatefulProcessor` — the surface that adds per-state TTL, timers, and
    * multiple independent state variables per key, with state-store schema
    * evolution. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`); behavior is identical
    * to the v1 operator, asserted cross-batch in the spec.
    */
  class DeviceTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(device: String, rows: Iterator[(String, Double)],
        timerValues: TimerValues): Iterator[(String, Long, Double)] = {
      val (n0, max0) = if (totals.exists()) totals.get() else (0L, Double.MinValue)
      val batch = rows.toSeq
      val updated = (n0 + batch.size,
        math.max(max0, if (batch.isEmpty) max0 else batch.map(_._2).max))
      totals.update(updated)
      Iterator.single((device, updated._1, updated._2))
    }
  }

  def runningDeviceTotalsV2(events: org.apache.spark.sql.Dataset[(String, Double)])(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[(String, Long, Double)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_._1)
      .transformWithState(new DeviceTotalsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** CEP-style pattern detection with `flatMapGroupsWithState`: emit an alert
    * row whenever a device reports `runLength` *consecutive* over-threshold
    * speeds (zero or many outputs per group per batch — the shape
    * `mapGroupsWithState` can't express). State is one counter per device;
    * a processing-time timeout would retire idle devices at fleet scale.
    */
  def consecutiveSpeedAlerts(events: org.apache.spark.sql.Dataset[(String, Double)],
                             threshold: Double = RiskScore.OverspeedKmh, runLength: Int = 3)(
      implicit spark: SparkSession): org.apache.spark.sql.Dataset[(String, Int)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (device: String, rows: Iterator[(String, Double)], state: GroupState[Int]) =>
          var run = state.getOption.getOrElse(0)
          val alerts = scala.collection.mutable.ArrayBuffer[(String, Int)]()
          rows.foreach { case (_, speed) =>
            run = if (speed > threshold) run + 1 else 0
            if (run >= runLength) alerts += ((device, run))
          }
          state.update(run)
          alerts.iterator
      }
  }

  /** Event-time windowed device counts with a watermark — the bounded-state
    * streaming aggregation surface (not in the reference, which stores event
    * time but never aggregates it in-flight; north-star extension).
    */
  def windowedDeviceCounts(normalized: DataFrame, window_ : String = "5 minutes",
                           watermark: String = "10 minutes"): DataFrame =
    normalized
      .transform(withEventTime)
      .withWatermark("gps_epoch", watermark)
      .groupBy(window(col("gps_epoch"), window_), col("device_id"))
      .agg(count(lit(1)).as("n"), max(col("speed_kmh")).as("max_speed"))

  /** Event-time *session* windows per device (`session_window` — the same
    * operator `q_session_window` runs in batch, here in-flight). State is one
    * open session per active device, closed and emitted once the watermark
    * passes the gap — bounded regardless of stream length.
    */
  def sessionizedDeviceCounts(normalized: DataFrame, gap: String = "30 minutes",
                              watermark: String = "10 minutes"): DataFrame =
    normalized
      .transform(withEventTime)
      .withWatermark("gps_epoch", watermark)
      .groupBy(session_window(col("gps_epoch"), gap).as("w"), col("device_id"))
      .agg(count(lit(1)).as("n_events"), max(col("speed_kmh")).as("max_speed"))
      .select(col("device_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("max_speed"))

  /** Late-data accounting for a watermarked streaming query: total rows the
    * state store dropped because they arrived behind the watermark, summed
    * across stateful operators from the last `StreamingQueryProgress`. The
    * pipeline-health counter every production stream watches (a rising value
    * means the watermark is too tight for upstream skew) — exposed here so
    * callers alert on it instead of silently losing late events.
    */
  def lateRowsDropped(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      .getOrElse(0L)

  /** Stream-stream interval join: each alert enriched with the same device's
    * status reports from the preceding `lookback`. Watermarks on both inputs
    * plus the event-time bound let Spark evict join state — without the
    * interval condition a stream-stream join buffers forever.
    */
  def alertEnrichmentJoin(alerts: DataFrame, statuses: DataFrame,
                          lookback: String = "5 minutes",
                          watermark: String = "10 minutes"): DataFrame = {
    val a = withEventTime(alerts)
      .withWatermark("gps_epoch", watermark).alias("a")
    val st = withEventTime(statuses)
      .withWatermark("gps_epoch", watermark).alias("s")
    a.join(st,
        col("a.device_id") === col("s.device_id") &&
          col("s.gps_epoch") >= col("a.gps_epoch") - expr(s"INTERVAL $lookback") &&
          col("s.gps_epoch") <= col("a.gps_epoch"))
      .select(col("a.device_id").as("device_id"),
        col("a.correlation_id").as("alert_id"),
        col("a.gps_epoch").as("alert_time"),
        col("s.correlation_id").as("status_id"),
        col("s.gps_epoch").as("status_time"),
        col("s.speed_kmh").as("status_speed"))
  }
}
