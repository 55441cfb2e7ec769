package graft.score

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Daily device risk scoring — the flagship batch pipeline.
  *
  * Re-expresses the 6-CTE chain of the reference's daily batch job
  * (`config/flink/sink_risk_score_daily.sql:13-77`) as composable DataFrame
  * stages: base scan/derivations → keyed aggregate → per-group rates →
  * exponent shaping → weighted sum → logistic score → null-gated
  * classification.
  *
  * Execution shape at scale: ONE shuffle (the hash aggregate on
  * `(device_id, report_date)`), with map-side partial aggregation, then a
  * purely scalar codegen'd pipeline. The reference's manual partition-pruning
  * guard on `received_day` ports as an optional filter that Catalyst pushes to
  * the scan; on a day-partitioned layout it prunes partitions before IO.
  */
object RiskScore {

  val OverspeedKmh = 110.0
  /** Night window: hour >= 23 or < 4, in *local* time
    * (`sink_risk_score_daily.sql:18,30`; TZ pinned at `:2`).
    */
  val LocalTz = "America/Mexico_City"

  /** Event instant (stored UTC) → local wall-clock timestamp. */
  def localTs(ts: Column): Column =
    convert_timezone(lit("UTC"), lit(LocalTz), ts)

  /** Stage `base` (`sink_risk_score_daily.sql:13-23`): per-report derivations.
    * Day filtering is the caller's concern (the reference hardcodes
    * yesterday + a device IN-list); pass filters before this stage so they
    * push down to the scan.
    */
  def base(fact: DataFrame): DataFrame = {
    val lt = localTs(col("gps_epoch"))
    fact.select(
      col("device_id"),
      to_date(lt).as("report_date"),
      col("speed_kmh").cast(DoubleType).as("speed_kmh"),
      hour(lt).as("gps_hour_local")
    )
  }

  /** Stage `agg` (`:24-33`): conditional-sum hash aggregate per device-day. */
  def aggregate(base: DataFrame): DataFrame =
    base.groupBy(col("device_id"), col("report_date")).agg(
      count(lit(1)).as("total_reports"),
      sum(when(col("speed_kmh") > OverspeedKmh, 1L).otherwise(0L)).as("overspeed_reports"),
      sum(when(col("gps_hour_local") >= 23 || col("gps_hour_local") < 4, 1L).otherwise(0L))
        .as("night_reports")
    )

  /** Stages `ratio`→`transf`→`scored`→`scored2` (`:34-60`): the scalar score
    * formula. Pure column arithmetic — fully codegen'd, no extra shuffle.
    */
  def score(agg: DataFrame): DataFrame = {
    val rs = col("overspeed_reports").cast(DoubleType) / col("total_reports").cast(DoubleType)
    val rn = col("night_reports").cast(DoubleType) / col("total_reports").cast(DoubleType)
    val fs = pow(rs, 1.7)
    val fn = pow(rn, 1.3)
    val fint = rs * rn
    val riskRaw = lit(0.55) * fs + lit(0.30) * fn + lit(0.15) * fint
    val scoreRaw = lit(100.0) / (lit(1.0) + exp(lit(-12.0) * (riskRaw - lit(0.1155))))
    agg.withColumn("score_raw", scoreRaw)
  }

  /** Final projection (`:61-77`): clamp to [0,100], null-gate sparse
    * device-days (< 10 reports), 3-way level label.
    */
  def classify(scored: DataFrame): DataFrame = {
    val clamped = least(greatest(round(col("score_raw")), lit(0.0)), lit(100.0)).cast(DoubleType)
    scored.select(
      col("device_id"),
      col("report_date"),
      when(col("total_reports") < 10, lit(null).cast(DoubleType)).otherwise(clamped).as("score"),
      when(col("total_reports") < 10, "Sin evidencia")
        .when(clamped <= 20, "Seguro")
        .when(clamped <= 60, "Menos seguro")
        .otherwise("Inseguro").as("level"),
      col("total_reports"),
      col("overspeed_reports"),
      col("night_reports")
    )
  }

  /** Full pipeline: fact-table shape in, `risk_score_daily` shape out. */
  def pipeline(fact: DataFrame): DataFrame =
    classify(score(aggregate(base(fact))))
}
