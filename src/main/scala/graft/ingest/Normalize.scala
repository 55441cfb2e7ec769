package graft.ingest

import graft.functions.JavaHash.deviceBucket
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest normalization: the streaming ETL of the reference re-expressed as a
  * pure `DataFrame => DataFrame` so the exact same code serves batch
  * (oracle-testable), backfill, and Structured Streaming (`graft.stream`).
  *
  * Reference behavior: `config/flink/sink_telematics_real_time.sql:17-43`
  * (cast epoch-second strings to instants, compute the device hash bucket and
  * the received-day partition column, filter to STATUS/ALERT) and
  * `config/flink/sink_telematics_raw_dlq.sql:18-69` (raw passthrough with
  * ingestion-time stamping).
  *
  * Scale notes: every step is a narrow projection/filter — zero shuffles; the
  * whole normalize collapses into one WholeStageCodegen span over the source
  * scan. The bucket/day columns exist precisely so the *write* can be
  * partitioned `(device_id_bucket, received_day)` and downstream scans prune.
  */
object Normalize {

  /** Hash buckets of the fact layout's `device_id_bucket` column
    * (`sink_telematics_real_time.sql:40`): the ingest projection, the
    * [[graft.maintain.Layout.writeFact]] contract check and the
    * [[graft.plans.InjectPartitionGuard]] bucket derivation all use this one
    * count.
    */
  val DeviceBuckets = 32

  /** Kafka-edge JSON schema (pre-cast): epochs/numerics arrive as strings.
    * Reference `config/flink/create.sql:72-93`.
    */
  val kafkaEdgeSchema: StructType = StructType(Seq(
    StructField("report_type", StringType),
    StructField("tenant", StringType),
    StructField("provider", StringType),
    StructField("model", StringType),
    StructField("firmware", StringType),
    StructField("device_id", StringType),
    StructField("alert_type", StringType),
    StructField("latitude", StringType),
    StructField("longitude", StringType),
    StructField("gps_fixed", StringType),
    StructField("gps_epoch", StringType),
    StructField("satellites", StringType),
    StructField("speed_kmh", StringType),
    StructField("heading", StringType),
    StructField("odometer_meters", StringType),
    StructField("engine_on", StringType),
    StructField("vehicle_battery_voltage", StringType),
    StructField("backup_battery_voltage", StringType),
    StructField("received_epoch", StringType),
    StructField("decoded_epoch", StringType),
    StructField("correlation_id", StringType)
  ))

  private def epochStringToTs(c: Column): Column =
    timestamp_seconds(c.try_cast(LongType))

  /** The cast/bucket/filter pipeline of `sink_telematics_real_time.sql:17-43`:
    * takes the Kafka-edge (all-strings) shape, emits the fact-table shape.
    *
    * Every lossy string→typed cast is `try_cast`, NOT `cast`: under ANSI a
    * raw cast of one malformed field value THROWS `CAST_INVALID_INPUT` —
    * and the payload-level DLQ cannot help, because `{"gps_epoch": "abc"}`
    * is perfectly valid JSON. In the streaming wrapper that single field
    * would kill the whole query; in a backfill it aborts the batch. Field
    * corruption instead nulls the field (the same tolerance contract as
    * the backfill coordinate parse, `Backfill.scala` F14) and the row
    * survives with its intact fields; rows whose EVENT TIME nulled out are
    * in turn gated at the watermark boundary (see
    * [[graft.stream.StreamingIngest]]) rather than silently swallowed by
    * the state store.
    */
  def normalizeTelemetry(edge: DataFrame): DataFrame =
    edge.select(
      col("report_type"),
      col("tenant"), col("provider"), col("model"), col("firmware"),
      col("device_id"),
      col("alert_type"),
      col("latitude").try_cast(DoubleType).as("latitude"),
      col("longitude").try_cast(DoubleType).as("longitude"),
      col("gps_fixed").try_cast(BooleanType).as("gps_fixed"),
      epochStringToTs(col("gps_epoch")).as("gps_epoch"),
      col("satellites").try_cast(LongType).as("satellites"),
      col("speed_kmh").try_cast(DoubleType).as("speed_kmh"),
      col("heading"),
      col("odometer_meters").try_cast(LongType).as("odometer_meters"),
      col("engine_on").try_cast(BooleanType).as("engine_on"),
      col("vehicle_battery_voltage").try_cast(DoubleType)
        .as("vehicle_battery_voltage"),
      col("backup_battery_voltage").try_cast(DoubleType)
        .as("backup_battery_voltage"),
      epochStringToTs(col("received_epoch")).as("received_epoch"),
      epochStringToTs(col("decoded_epoch")).as("decoded_epoch"),
      col("correlation_id"),
      deviceBucket(col("device_id"), DeviceBuckets).as("device_id_bucket"),
      to_date(epochStringToTs(col("received_epoch"))).as("received_day")
    ).filter(col("report_type").isin("STATUS", "ALERT"))

  /** Map the driver's `events` table onto the Kafka-edge telemetry shape so
    * the real ingest pipeline can be exercised on the testdata (FIXTURES.md §2):
    * user_id→device_id, ts→gps/received epoch (as epoch-second strings),
    * value→speed_kmh, event_type→report_type with 'error'/'purchase' standing
    * in for the reference's 'ALERT'/'STATUS' domain.
    */
  def eventsAsKafkaEdge(events: DataFrame): DataFrame = {
    val epochStr = unix_timestamp(col("ts")).cast(StringType)
    events.select(
      when(col("event_type") === "error", lit("ALERT"))
        .when(col("event_type") === "purchase", lit("STATUS"))
        .otherwise(upper(col("event_type"))).as("report_type"),
      lit("tenant0").as("tenant"),
      concat(lit("src"), (col("user_id") % 3).cast(StringType)).as("provider"),
      lit("m1").as("model"),
      lit("fw1").as("firmware"),
      col("user_id").cast(StringType).as("device_id"),
      when(col("event_type") === "error", col("event_type")).as("alert_type"),
      (col("value") / lit(10.0) - lit(9.0)).cast(StringType).as("latitude"),
      (col("value") / lit(5.0) - lit(99.0)).cast(StringType).as("longitude"),
      (col("event_id") % 2 === 0).cast(StringType).as("gps_fixed"),
      epochStr.as("gps_epoch"),
      (col("event_id") % 13).cast(StringType).as("satellites"),
      col("value").cast(StringType).as("speed_kmh"),
      lit("N").as("heading"),
      (col("event_id") * 17).cast(StringType).as("odometer_meters"),
      lit("true").as("engine_on"),
      lit("12.6").as("vehicle_battery_voltage"),
      lit("4.1").as("backup_battery_voltage"),
      epochStr.as("received_epoch"),
      epochStr.as("decoded_epoch"),
      col("event_id").cast(StringType).as("correlation_id")
    )
  }

  /** Raw-archive stamping (K2, `sink_telematics_raw_dlq.sql:18-27`): add
    * ingestion-time columns. `now` is injected (not `current_timestamp()`) so
    * batch replays and the oracle are deterministic; the streaming wrapper
    * passes the wall clock per micro-batch.
    */
  def stampRaw(raw: DataFrame, now: java.time.Instant): DataFrame = {
    val ts = lit(java.sql.Timestamp.from(now))
    raw.withColumn("created_at", ts)
      .withColumn("created_day", to_date(ts))
  }

  /** DLQ split (F15, `create.sql:120` + DLQ tables): parse a JSON payload
    * column; rows whose JSON fails to parse route to the dead-letter side.
    * Returns (parsed-good, dlq). PERMISSIVE `from_json` yields null on corrupt
    * input — the Spark-native version of Flink's `json.ignore-parse-errors`,
    * except we keep the failures instead of dropping them.
    */
  def dlqSplit(df: DataFrame, payloadCol: String, schema: StructType): (DataFrame, DataFrame) = {
    // PERMISSIVE from_json yields an all-null struct (not a null struct) on
    // malformed input, so corruption is detected via the dedicated
    // corrupt-record field — the canonical Spark DLQ pattern.
    val corrupt = "_corrupt_payload"
    val full = schema.add(StructField(corrupt, StringType))
    val parsed = df.withColumn("_parsed",
      from_json(col(payloadCol), full, Map("columnNameOfCorruptRecord" -> corrupt)))
    val good = parsed.filter(col(s"_parsed.$corrupt").isNull)
      .select(col("*"), col("_parsed.*")).drop("_parsed", corrupt)
    val dlq = parsed.filter(col(s"_parsed.$corrupt").isNotNull).drop("_parsed")
    (good, dlq)
  }
}
