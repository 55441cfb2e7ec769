package graft.score

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** Typed-`Dataset` formulation of the risk-score aggregation — the
  * `Aggregator[IN, BUF, OUT]` surface (SURVEY.md §2.12 notes the reference
  * needs no UDAF; this is the north-star typed API demonstration, proven
  * equal to the untyped pipeline by `TypedRiskScoreSpec`).
  *
  * Same execution shape as the untyped version: one shuffle with partial
  * aggregation (Aggregator compiles to an ObjectHashAggregate /
  * SortAggregate with merge-able buffers).
  */
object TypedRiskScore {

  /** One telemetry report, pre-localized (local date + local hour). */
  case class LocalReport(device_id: String, report_date: java.sql.Date,
                         speed_kmh: Double, gps_hour_local: Int)
  case class RiskCounts(total_reports: Long, overspeed_reports: Long,
                        night_reports: Long)
  case class DeviceDay(device_id: String, report_date: java.sql.Date,
                       total_reports: Long, overspeed_reports: Long,
                       night_reports: Long)

  val riskAgg: Aggregator[LocalReport, RiskCounts, RiskCounts] =
    new Aggregator[LocalReport, RiskCounts, RiskCounts] {
      override def zero: RiskCounts = RiskCounts(0L, 0L, 0L)
      override def reduce(b: RiskCounts, r: LocalReport): RiskCounts =
        RiskCounts(
          b.total_reports + 1,
          b.overspeed_reports + (if (r.speed_kmh > RiskScore.OverspeedKmh) 1 else 0),
          b.night_reports + (if (r.gps_hour_local >= 23 || r.gps_hour_local < 4) 1 else 0))
      override def merge(a: RiskCounts, b: RiskCounts): RiskCounts =
        RiskCounts(a.total_reports + b.total_reports,
          a.overspeed_reports + b.overspeed_reports,
          a.night_reports + b.night_reports)
      override def finish(r: RiskCounts): RiskCounts = r
      override def bufferEncoder: Encoder[RiskCounts] = Encoders.product[RiskCounts]
      override def outputEncoder: Encoder[RiskCounts] = Encoders.product[RiskCounts]
    }

  /** Typed equivalent of `RiskScore.base` + `RiskScore.aggregate`. */
  def aggregate(spark: SparkSession, fact: org.apache.spark.sql.DataFrame): Dataset[DeviceDay] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lt = RiskScore.localTs(col("gps_epoch"))
    fact.select(
        col("device_id"),
        to_date(lt).as("report_date"),
        col("speed_kmh").cast("double").as("speed_kmh"),
        hour(lt).as("gps_hour_local"))
      .as[LocalReport]
      .groupByKey(r => (r.device_id, r.report_date.toString))
      .agg(riskAgg.toColumn.name("counts"))
      .map { case ((dev, day), c) =>
        DeviceDay(dev, java.sql.Date.valueOf(day), c.total_reports,
          c.overspeed_reports, c.night_reports)
      }
  }
}
