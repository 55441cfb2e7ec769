package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Serving-layer query builders — the Spark re-expression of the reference's
  * read API (`services/telematics_api/main.py`): point lookup with
  * partition-pruning conjuncts, dynamic predicates, client projection, and
  * offset/limit pagination with a total-count envelope.
  *
  * Scale notes: the whole of the reference's HTTP→Trino→Iceberg path
  * collapses to one declarative plan; Catalyst pushes the predicates into the
  * parquet scan (`PushedFilters`) and prunes both partition columns. On a
  * table opted into [[graft.plans.InjectPartitionGuard]], the rule derives
  * the `device_id_bucket` conjunct from the `device_id` equality / `IN` list
  * and the `received_day` range from the `gps_epoch` range, so a device
  * request reads 1 bucket per id × the guarded days. [[pointLookup]] also
  * keeps the reference's hand-written `received_day` conjunct
  * (`main.py:258-259, 275-277`). Pagination is `offset().limit()` which plans
  * as a GlobalLimit over a sorted shuffle; for deep pagination at scale,
  * prefer keyset pagination (`$"gps_epoch" < lastSeen`) — both are provided.
  */
object Api {

  val DefaultColumns: Seq[String] = Seq(
    "report_type", "tenant", "provider", "model", "firmware", "device_id",
    "alert_type", "latitude", "longitude", "gps_fixed", "gps_epoch",
    "satellites", "speed_kmh", "heading", "odometer_meters", "engine_on",
    "vehicle_battery_voltage", "backup_battery_voltage", "received_epoch",
    "decoded_epoch", "correlation_id")

  val MaxPageSize = 10000 // main.py:247

  /** Point lookup (P3): equality on device + event-time range + the manual
    * partition-pruning day-range conjunct; the bucket conjunct is derived by
    * the partition guard on opted-in tables.
    */
  def pointLookup(fact: DataFrame, deviceId: String,
                  gpsFrom: String, gpsTo: String,
                  dayFrom: String, dayTo: String): DataFrame =
    fact.filter(col("device_id") === deviceId &&
      col("gps_epoch").between(lit(gpsFrom).cast("timestamp"), lit(gpsTo).cast("timestamp")) &&
      col("received_day").between(lit(dayFrom).cast("date"), lit(dayTo).cast("date")))

  /** Dynamic predicate assembly (P4, `main.py:331-347`): every filter is
    * optional; absent → no-op.
    */
  def dynamicFilter(df: DataFrame,
                    deviceIds: Option[Seq[String]] = None,
                    from: Option[String] = None,
                    to: Option[String] = None): DataFrame = {
    val preds = Seq(
      deviceIds.map(ids => col("device_id").isin(ids: _*)),
      from.map(f => col("gps_epoch") >= lit(f).cast("timestamp")),
      to.map(t => col("gps_epoch") < lit(t).cast("timestamp")))
    preds.flatten.foldLeft(df)((d, p) => d.filter(p))
  }

  /** Client projection (P5) with the reference's default column list. */
  def project(df: DataFrame, columns: Seq[String] = DefaultColumns): DataFrame =
    df.select(columns.map(col): _*)

  /** Offset/limit pagination over a total order (O1). `orderCols` must be a
    * total order for the page to be deterministic.
    */
  def page(df: DataFrame, orderCols: Seq[Column], offset: Int, limit: Int): DataFrame = {
    require(limit <= MaxPageSize, s"limit $limit exceeds $MaxPageSize")
    df.orderBy(orderCols: _*).offset(offset).limit(limit)
  }

  /** Keyset pagination — the scale-friendly variant: O(page) not O(offset). */
  def keysetPage(df: DataFrame, orderCol: Column, after: Option[Column],
                 limit: Int): DataFrame =
    after.fold(df)(a => df.filter(orderCol > a)).orderBy(orderCol).limit(limit)

  /** Count for the `{items, page{total}}` envelope (A2). Note this is a
    * second scan per page request on top of [[page]] — exactly the
    * reference's contract (`main.py:281` count + `:286` data query). At
    * corpus scale, serve [[keysetPage]] without a total (or a cached /
    * approximate one) instead; both paths ship and are oracle-checked
    * (`q_point_lookup`, `q_keyset_page`).
    */
  def total(df: DataFrame): Long = df.count()

  /** "Latest row per device" (README.md:194's upsert-view capability):
    * row_number over (device, event-time desc). At scale this is one shuffle
    * on device_id; if the table is already bucketed by device it is
    * shuffle-free.
    */
  def latestPerDevice(fact: DataFrame, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("device_id"))
      .orderBy(col("gps_epoch").desc, tieBreak.desc)
    fact.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }
}
