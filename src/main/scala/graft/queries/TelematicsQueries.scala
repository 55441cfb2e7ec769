package graft.queries

import graft.Tables
import graft.ingest.{Backfill, Normalize}
import graft.score.RiskScore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity queries over the telematics pipeline, mapped onto the
  * driver's `events` table (FIXTURES.md §2). Each entry has a DuckDB oracle in
  * [[oracles]]; names and output column names must match exactly (driver
  * hash-compares after sorting columns by name).
  *
  * Oracle TZ note: the pipeline computes local time in America/Mexico_City via
  * `convert_timezone`; the testdata spans Jan 2024 where that zone is a fixed
  * UTC-6 (Mexico abolished DST in 2022), so the oracle uses
  * `ts - INTERVAL 6 HOUR` — exact for this data.
  */
object TelematicsQueries {

  /** events → Kafka-edge shape → normalized fact table (S1/K1 + F1-F5 + P1). */
  def normalizedFact(spark: SparkSession, dir: String): DataFrame =
    Normalize.normalizeTelemetry(Normalize.eventsAsKafkaEdge(Tables.events(spark, dir)))

  /** DuckDB SQL producing the same normalized fact rows from `events`. */
  private val normalizeOracle: String =
    s"""WITH edge AS (
      |  SELECT
      |    CASE WHEN event_type = 'error' THEN 'ALERT'
      |         WHEN event_type = 'purchase' THEN 'STATUS'
      |         ELSE upper(event_type) END AS report_type,
      |    'tenant0' AS tenant,
      |    'src' || (user_id % 3)::VARCHAR AS provider,
      |    'm1' AS model, 'fw1' AS firmware,
      |    user_id::VARCHAR AS device_id,
      |    CASE WHEN event_type = 'error' THEN event_type END AS alert_type,
      |    value / 10.0 - 9.0 AS latitude,
      |    value / 5.0 - 99.0 AS longitude,
      |    (event_id % 2 = 0) AS gps_fixed,
      |    date_trunc('second', ts) AS gps_epoch,
      |    (event_id % 13)::BIGINT AS satellites,
      |    value AS speed_kmh,
      |    'N' AS heading,
      |    (event_id * 17)::BIGINT AS odometer_meters,
      |    true AS engine_on,
      |    12.6::DOUBLE AS vehicle_battery_voltage,
      |    4.1::DOUBLE AS backup_battery_voltage,
      |    date_trunc('second', ts) AS received_epoch,
      |    date_trunc('second', ts) AS decoded_epoch,
      |    event_id::VARCHAR AS correlation_id,
      |    ${OracleSql.javaHashSql("user_id::VARCHAR")} AS __h
      |  FROM events
      |)
      |SELECT * EXCLUDE (__h),
      |  (abs(CASE WHEN __h >= 2147483648 THEN __h - 4294967296 ELSE __h END) % ${Normalize.DeviceBuckets})::INTEGER
      |    AS device_id_bucket,
      |  CAST(received_epoch AS DATE) AS received_day
      |FROM edge
      |WHERE report_type IN ('STATUS','ALERT')
      |ORDER BY CAST(correlation_id AS BIGINT)""".stripMargin

  /** DuckDB CTE reproducing the normalized fact's query-relevant columns. */
  private val factCte: String =
    """fact AS (
      |  SELECT
      |    CASE WHEN event_type = 'error' THEN 'ALERT' ELSE 'STATUS' END AS report_type,
      |    user_id::VARCHAR AS device_id,
      |    date_trunc('second', ts) AS gps_epoch,
      |    value AS speed_kmh,
      |    event_id::VARCHAR AS correlation_id,
      |    CAST(date_trunc('second', ts) AS DATE) AS received_day
      |  FROM events
      |  WHERE event_type IN ('error', 'purchase')
      |)""".stripMargin

  /** Score-pipeline CTE chain (through `scored`), shared by the score oracle
    * and the as-of-join oracle.
    */
  private val scoreCtes: String =
    s"""$factCte,
      |base AS (
      |  SELECT device_id,
      |    CAST(gps_epoch - INTERVAL 6 HOUR AS DATE) AS report_date,
      |    speed_kmh,
      |    extract(hour FROM gps_epoch - INTERVAL 6 HOUR) AS gps_hour_local
      |  FROM fact
      |),
      |agg AS (
      |  SELECT device_id, report_date,
      |    count(*) AS total_reports,
      |    CAST(sum(CASE WHEN speed_kmh > 110 THEN 1 ELSE 0 END) AS BIGINT) AS overspeed_reports,
      |    CAST(sum(CASE WHEN gps_hour_local >= 23 OR gps_hour_local < 4 THEN 1 ELSE 0 END) AS BIGINT) AS night_reports
      |  FROM base GROUP BY device_id, report_date
      |),
      |scored AS (
      |  SELECT *,
      |    100.0 / (1.0 + exp(-12.0 * (
      |      0.55 * power(overspeed_reports::DOUBLE / total_reports, 1.7)
      |      + 0.30 * power(night_reports::DOUBLE / total_reports, 1.3)
      |      + 0.15 * (overspeed_reports::DOUBLE / total_reports) * (night_reports::DOUBLE / total_reports)
      |      - 0.1155))) AS score_raw
      |  FROM agg
      |),
      |final AS (
      |SELECT device_id, report_date,
      |  CASE WHEN total_reports < 10 THEN NULL
      |       ELSE least(greatest(round(score_raw), 0), 100)::DOUBLE END AS score,
      |  CASE WHEN total_reports < 10 THEN 'Sin evidencia'
      |       WHEN least(greatest(round(score_raw), 0), 100) <= 20 THEN 'Seguro'
      |       WHEN least(greatest(round(score_raw), 0), 100) <= 60 THEN 'Menos seguro'
      |       ELSE 'Inseguro' END AS level,
      |  total_reports, overspeed_reports, night_reports
      |FROM scored
      |)""".stripMargin

  private val scoreOracle: String =
    s"""WITH $scoreCtes
      |SELECT * FROM final ORDER BY device_id, report_date""".stripMargin

  // ---- serving-layer queries (graft.serve.Api) --------------------------

  private val lookupCols = Seq("device_id", "gps_epoch", "speed_kmh", "report_type", "correlation_id")

  private def pointLookup(s: SparkSession, dir: String): DataFrame = {
    import graft.serve.Api
    val filtered = Api.pointLookup(normalizedFact(s, dir), "7",
      "2024-01-05 00:00:00", "2024-01-25 00:00:00", "2024-01-05", "2024-01-25")
    Api.page(Api.project(filtered, lookupCols),
      Seq(col("gps_epoch").desc, col("correlation_id").cast("long").desc),
      offset = 5, limit = 100)
  }

  private val lookupWhere =
    """device_id = '7'
      |  AND gps_epoch BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-25 00:00:00'
      |  AND received_day BETWEEN DATE '2024-01-05' AND DATE '2024-01-25'""".stripMargin

  private val pointLookupOracle =
    s"""WITH $factCte
      |SELECT device_id, gps_epoch, speed_kmh, report_type, correlation_id
      |FROM fact
      |WHERE $lookupWhere
      |ORDER BY gps_epoch DESC, CAST(correlation_id AS BIGINT) DESC
      |LIMIT 100 OFFSET 5""".stripMargin

  private val pageCountOracle =
    s"""WITH $factCte
      |SELECT count(*) AS total FROM fact WHERE $lookupWhere""".stripMargin

  private val latestOracle =
    s"""WITH $factCte
      |SELECT device_id, gps_epoch, speed_kmh, correlation_id
      |FROM fact
      |QUALIFY row_number() OVER (
      |  PARTITION BY device_id
      |  ORDER BY gps_epoch DESC, CAST(correlation_id AS BIGINT) DESC) = 1
      |ORDER BY device_id""".stripMargin

  private val dynamicOracle =
    s"""WITH $factCte
      |SELECT device_id, count(*) AS n, min(gps_epoch) AS first_ts, max(gps_epoch) AS last_ts
      |FROM fact
      |WHERE device_id IN ('1','3','5') AND gps_epoch >= TIMESTAMP '2024-01-10 00:00:00'
      |GROUP BY device_id ORDER BY device_id""".stripMargin

  // ---- upsert / retention -----------------------------------------------

  private def upsertQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Upsert
    val scored = RiskScore.pipeline(normalizedFact(s, dir))
      .select(col("device_id"), col("report_date"), col("total_reports"))
    val existing = scored.withColumn("version", lit(1))
    val incoming = scored.filter(col("device_id").cast("long") % 2 === 0)
      .withColumn("total_reports", col("total_reports") + 1000L)
      .withColumn("version", lit(2))
    Upsert.upsert(existing, incoming, Seq("device_id", "report_date"),
        precedence = col("version"), tieBreak = col("version"))
      .orderBy(col("device_id"), col("report_date"))
  }

  private val upsertOracle =
    s"""WITH $factCte,
      |agg AS (
      |  SELECT device_id,
      |    CAST(gps_epoch - INTERVAL 6 HOUR AS DATE) AS report_date,
      |    count(*) AS total_reports
      |  FROM fact GROUP BY 1, 2
      |)
      |SELECT device_id, report_date,
      |  CASE WHEN CAST(device_id AS BIGINT) % 2 = 0
      |       THEN total_reports + 1000 ELSE total_reports END AS total_reports,
      |  CASE WHEN CAST(device_id AS BIGINT) % 2 = 0 THEN 2 ELSE 1 END AS version
      |FROM agg ORDER BY device_id, report_date""".stripMargin

  private def retentionQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.Maintenance
    Maintenance.retain(normalizedFact(s, dir), "received_day", 10,
        java.time.LocalDate.parse("2024-01-25"))
      .groupBy(col("received_day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("received_day"))
  }

  private val retentionOracle =
    s"""WITH $factCte
      |SELECT received_day, count(*) AS n
      |FROM fact WHERE received_day >= DATE '2024-01-15'
      |GROUP BY received_day ORDER BY received_day""".stripMargin

  // ---- backfill coordinate parse (F14) ----------------------------------

  private def coordParse(s: SparkSession, dir: String): DataFrame = {
    // "(lon,lat)" point string, parsed by the backfill's tolerant F14 parse
    // (backfill_telematics.py:117,127-128; item 0 = longitude, item 1 = latitude)
    val point = concat(lit("("), col("l_partkey").cast("string"), lit(","),
      col("l_orderkey").cast("string"), lit(")"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), point.as("point"))
    Backfill.parsePoint(li, "point")
      .select(col("l_orderkey"), col("l_linenumber"), col("longitude"), col("latitude"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val coordParseOracle =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(str_split(regexp_replace('(' || l_partkey::VARCHAR || ',' || l_orderkey::VARCHAR || ')', '[()]', '', 'g'), ',')[1] AS DOUBLE) AS longitude,
      |  CAST(str_split(regexp_replace('(' || l_partkey::VARCHAR || ',' || l_orderkey::VARCHAR || ')', '[()]', '', 'g'), ',')[2] AS DOUBLE) AS latitude
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- DLQ split (F15) ---------------------------------------------------

  private def dlqQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val payload = when(col("event_id") % 7 === 0, substring(col("props"), 1, 3))
      .otherwise(col("props"))
    val withPayload = Tables.events(s, dir).withColumn("payload", payload)
    val schema = StructType(Seq(StructField("k", LongType)))
    val (good, dlq) = Normalize.dlqSplit(withPayload, "payload", schema)
    val g = good.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_good"), sum(col("k")).as("sum_k"))
    val d = dlq.groupBy(col("event_type")).agg(count(lit(1)).as("n_dlq"))
    g.join(d, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_good"), lit(0L)).as("n_good"),
        coalesce(col("n_dlq"), lit(0L)).as("n_dlq"),
        coalesce(col("sum_k"), lit(0L)).as("sum_k"))
      .orderBy(col("event_type"))
  }

  private val dlqOracle =
    """WITH p AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 3) ELSE props END AS payload
      |  FROM events
      |)
      |SELECT event_type,
      |  CAST(count(CASE WHEN json_valid(payload) THEN 1 END) AS BIGINT) AS n_good,
      |  CAST(count(CASE WHEN NOT json_valid(payload) THEN 1 END) AS BIGINT) AS n_dlq,
      |  CAST(coalesce(sum(CASE WHEN json_valid(payload)
      |       THEN CAST(json_extract_string(payload, '$.k') AS BIGINT) END), 0) AS BIGINT) AS sum_k
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ingest_normalize" -> ((s, dir) =>
      normalizedFact(s, dir).orderBy(col("correlation_id").cast("long"))),
    "q_risk_score_daily" -> ((s, dir) =>
      RiskScore.pipeline(normalizedFact(s, dir))
        .orderBy(col("device_id"), col("report_date"))),
    "q_point_lookup" -> (pointLookup _),
    "q_page_count" -> ((s, dir) => {
      import graft.serve.Api
      val filtered = Api.pointLookup(normalizedFact(s, dir), "7",
        "2024-01-05 00:00:00", "2024-01-25 00:00:00", "2024-01-05", "2024-01-25")
      filtered.agg(count(lit(1)).as("total"))
    }),
    "q_latest_per_device" -> ((s, dir) => {
      import graft.serve.Api
      Api.latestPerDevice(normalizedFact(s, dir), col("correlation_id").cast("long"))
        .select(lookupCols.filterNot(_ == "report_type").map(col): _*)
        .orderBy(col("device_id"))
    }),
    "q_dynamic_pred" -> ((s, dir) => {
      import graft.serve.Api
      Api.dynamicFilter(normalizedFact(s, dir),
          deviceIds = Some(Seq("1", "3", "5")), from = Some("2024-01-10 00:00:00"))
        .groupBy(col("device_id"))
        .agg(count(lit(1)).as("n"),
          min(col("gps_epoch")).as("first_ts"), max(col("gps_epoch")).as("last_ts"))
        .orderBy(col("device_id"))
    }),
    "q_upsert" -> (upsertQuery _),
    "q_retention" -> (retentionQuery _),
    "q_coord_parse" -> (coordParse _),
    "q_dlq_split" -> (dlqQuery _),
    "q_asof_join" -> ((s, dir) => {
      import graft.analytics.AsOfJoin
      val fact = normalizedFact(s, dir)
      // score only the first two weeks so later events genuinely reach back
      val scores = RiskScore.pipeline(fact)
        .filter(col("report_date") <= lit("2024-01-14").cast("date"))
        .select(col("device_id"), col("report_date"), col("level"))
      val ev = fact.select(col("device_id"),
        to_date(RiskScore.localTs(col("gps_epoch"))).as("event_date"))
      // per event-day × matched level: regressions in the as-of matching
      // show up as shifted day rows, not a single absorbed count
      AsOfJoin.asOfJoin(ev, scores, Seq("device_id"),
          col("event_date"), col("report_date"))
        .groupBy(col("event_date"), col("level"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("device_id")).as("n_devices"))
        .orderBy(col("event_date"), col("level").asc_nulls_first)
    }),
    "q_keyset_page" -> ((s, dir) => {
      import graft.serve.Api
      // deep-pagination scale path for O1: O(page), not O(offset)
      val df = normalizedFact(s, dir)
        .withColumn("ck", col("correlation_id").cast("long"))
      Api.keysetPage(df, col("ck"), after = Some(lit(1000L)), limit = 25)
        .select(col("ck"), col("device_id"), col("gps_epoch"), col("speed_kmh"))
    }),
    "q_ts_format" -> ((s, dir) => {
      // F17: API-layer timestamp presentation "…mmm -0600" (main.py:127-163)
      val lt = RiskScore.localTs(col("ts"))
      Tables.events(s, dir)
        .filter(col("user_id") === 3)
        .select(col("event_id"),
          concat(date_format(lt, "yyyy-MM-dd HH:mm:ss.SSS"), lit(" -0600"))
            .as("local_ts_fmt"))
        .orderBy(col("event_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_ingest_normalize" -> normalizeOracle,
    "q_risk_score_daily" -> scoreOracle,
    "q_point_lookup" -> pointLookupOracle,
    "q_page_count" -> pageCountOracle,
    "q_latest_per_device" -> latestOracle,
    "q_dynamic_pred" -> dynamicOracle,
    "q_upsert" -> upsertOracle,
    "q_retention" -> retentionOracle,
    "q_coord_parse" -> coordParseOracle,
    "q_dlq_split" -> dlqOracle,
    "q_asof_join" ->
      s"""WITH $scoreCtes,
        |scores AS (SELECT device_id, report_date, level FROM final
        |           WHERE report_date <= DATE '2024-01-14'),
        |ev AS (SELECT device_id, CAST(gps_epoch - INTERVAL 6 HOUR AS DATE) AS event_date
        |       FROM fact)
        |SELECT event_date, level, count(*) AS n,
        |  CAST(count(DISTINCT ev.device_id) AS BIGINT) AS n_devices
        |FROM ev ASOF LEFT JOIN scores
        |  ON ev.device_id = scores.device_id AND ev.event_date >= scores.report_date
        |GROUP BY event_date, level ORDER BY event_date, level NULLS FIRST""".stripMargin,
    "q_keyset_page" ->
      s"""WITH $factCte
        |SELECT CAST(correlation_id AS BIGINT) AS ck, device_id, gps_epoch, speed_kmh
        |FROM fact WHERE CAST(correlation_id AS BIGINT) > 1000
        |ORDER BY ck LIMIT 25""".stripMargin,
    "q_ts_format" ->
      """SELECT event_id,
        |  strftime(ts - INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S.%g') || ' -0600' AS local_ts_fmt
        |FROM events WHERE user_id = 3 ORDER BY event_id""".stripMargin
  )
}
