package graft.schema

import org.apache.spark.sql.types._

/** Declared `StructType`s for all reference tables (SURVEY.md §1.2, FIXTURES.md
  * §1) — fixed schemas, no inference, mirroring the DDLs in
  * `config/flink/create.sql`. `SchemasSpec` checks each against the frame
  * that produces the table (field names and types; nullability aside).
  * The Kafka-edge pre-cast schema is [[graft.ingest.Normalize.kafkaEdgeSchema]].
  */
object Schemas {

  /** `telematics_real_time` (`create.sql:21-49`), partitioned
    * `(device_id_bucket, received_day)`.
    */
  val telematicsRealTime: StructType = StructType(Seq(
    StructField("report_type", StringType),
    StructField("tenant", StringType),
    StructField("provider", StringType),
    StructField("model", StringType),
    StructField("firmware", StringType),
    StructField("device_id", StringType),
    StructField("alert_type", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("gps_fixed", BooleanType),
    StructField("gps_epoch", TimestampType),
    StructField("satellites", LongType),
    StructField("speed_kmh", DoubleType),
    StructField("heading", StringType),
    StructField("odometer_meters", LongType),
    StructField("engine_on", BooleanType),
    StructField("vehicle_battery_voltage", DoubleType),
    StructField("backup_battery_voltage", DoubleType),
    StructField("received_epoch", TimestampType),
    StructField("decoded_epoch", TimestampType),
    StructField("correlation_id", StringType),
    StructField("device_id_bucket", IntegerType),
    StructField("received_day", DateType)))

  /** `risk_score_daily` (`create.sql:124-138`), key `(device_id, report_date)`,
    * partitioned by `report_date`.
    */
  val riskScoreDaily: StructType = StructType(Seq(
    StructField("device_id", StringType),
    StructField("report_date", DateType),
    StructField("score", DoubleType),
    StructField("level", StringType),
    StructField("total_reports", LongType),
    StructField("overspeed_reports", LongType),
    StructField("night_reports", LongType)))

  /** `telematics_{maxtrack,queclink,suntech}_raw` (`create.sql:148-153` et
    * al.), partitioned by `created_day`; `created_at` NOT NULL.
    */
  val vendorRaw: StructType = StructType(Seq(
    StructField("device_id", StringType),
    StructField("raw_report", StringType),
    StructField("correlation_id", StringType),
    StructField("created_at", TimestampType, nullable = false),
    StructField("created_day", DateType)))

  /** `telematics_*_raw_dlq` ×3 (`create.sql:322-326` et al.). */
  val vendorDlq: StructType = StructType(Seq(
    StructField("raw_report", StringType),
    StructField("created_at", TimestampType, nullable = false),
    StructField("created_day", DateType)))
}
