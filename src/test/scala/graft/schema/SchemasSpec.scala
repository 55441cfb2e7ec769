package graft.schema

import graft.SparkSpec
import graft.ingest.Normalize
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** [[Schemas]] is the declared shape of each reference table; this spec
  * holds it to the frames that actually produce those tables. Field names,
  * order and types must match; nullability is the writer's business.
  */
class SchemasSpec extends SparkSpec {

  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("the normalized fact is telematics_real_time") {
    val fact = graft.queries.TelematicsQueries.normalizedFact(spark, sf())
    assert(shape(fact.schema) == shape(Schemas.telematicsRealTime))
  }

  test("the risk pipeline emits risk_score_daily") {
    val fact = graft.queries.TelematicsQueries.normalizedFact(spark, sf())
    assert(shape(graft.score.RiskScore.pipeline(fact).schema) ==
      shape(Schemas.riskScoreDaily))
  }

  test("the stamped raw and DLQ projections are the vendor raw and DLQ tables") {
    import spark.implicits._
    // the projections the nightly cycle archives each payload batch with
    val (ok, bad) = Normalize.dlqSplit(Seq("{}").toDF("value"), "value",
      Normalize.kafkaEdgeSchema)
    val now = java.time.Instant.parse("2024-01-01T12:00:00Z")
    val raw = Normalize.stampRaw(ok.select(col("device_id"),
      col("value").as("raw_report"), col("correlation_id")), now)
    val dlq = Normalize.stampRaw(bad.select(col("value").as("raw_report")), now)
    assert(shape(raw.schema) == shape(Schemas.vendorRaw))
    assert(shape(dlq.schema) == shape(Schemas.vendorDlq))
  }
}
