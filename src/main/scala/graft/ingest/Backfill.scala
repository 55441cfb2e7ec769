package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC backfill (S4) — the Spark re-expression of
  * `config/spark/backfill_telematics.py`: read a relational source with the
  * *whole* predicate pushed down as a subquery-as-table, transform to the
  * fact shape, append, in device-ID chunks with per-chunk error isolation.
  *
  * Scale notes: the subquery pushdown means the database does the filtering —
  * Spark never sees non-matching rows (`backfill_telematics.py:100-113`).
  * Chunking bounds both the IN-list size the database must plan and the unit
  * of retry; failed chunks are reported, not fatal
  * (`backfill_telematics.py:154-156`). For parallel reads of one huge chunk,
  * `partitionColumn/lowerBound/upperBound/numPartitions` split the range scan.
  */
object Backfill {

  /** SQL string literal with embedded quotes doubled — the reference's
    * `sql_str_list` escaping (`backfill_telematics.py`); without it a value
    * containing `'` breaks, or injects into, the source database's query.
    */
  private def sqlStr(v: String): String = "'" + v.replace("'", "''") + "'"

  /** The pushdown subquery (`backfill_telematics.py:100-103` shape). */
  def pushdownSubquery(table: String, reportTypes: Seq[String],
                       epochFrom: Long, epochTo: Long,
                       deviceIds: Seq[String]): String = {
    val types = reportTypes.map(sqlStr).mkString(", ")
    val ids = deviceIds.map(sqlStr).mkString(", ")
    s"""(SELECT * FROM $table
       | WHERE report_type IN ($types)
       |   AND received_epoch >= $epochFrom AND received_epoch < $epochTo
       |   AND device_id IN ($ids)) AS src""".stripMargin
  }

  /** JDBC reader for one chunk — identical API to the reference's
    * `spark.read.format("jdbc").option("dbtable", subquery)`.
    */
  def readChunk(spark: SparkSession, url: String, table: String,
                reportTypes: Seq[String], epochFrom: Long, epochTo: Long,
                deviceIds: Seq[String],
                props: Map[String, String]): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", pushdownSubquery(table, reportTypes, epochFrom, epochTo, deviceIds))
    props.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  final case class ChunkResult(chunk: Seq[String], rows: Long,
                               error: Option[String])

  /** The chunk loop (`backfill_telematics.py:90-158`): `source` abstracts the
    * per-chunk read (JDBC in production, any DataFrame source in tests),
    * `transform` is the normalize pipeline, `sink` the append. Errors are
    * isolated per chunk and reported in the result.
    */
  def run(deviceIds: Seq[String], chunkSize: Int)(
      source: Seq[String] => DataFrame)(
      transform: DataFrame => DataFrame)(
      sink: DataFrame => Unit): Seq[ChunkResult] =
    deviceIds.grouped(chunkSize).map { chunk =>
      try {
        val out = transform(source(chunk))
        val n = out.count() // the reference counts per chunk for progress logs
        sink(out)
        ChunkResult(chunk, n, None)
      } catch {
        case e: Exception => ChunkResult(chunk, 0L, Some(e.getMessage))
      }
    }.toSeq

  /** Coordinate-string parse (F14, `backfill_telematics.py:117, 127-128`):
    * "(lon,lat)" → (longitude, latitude); malformed input yields nulls (the
    * try_cast analog of the reference's tolerant parse).
    */
  def parsePoint(df: DataFrame, pointCol: String): DataFrame =
    df.withColumn("__pt", regexp_replace(col(pointCol).cast("string"), "[()]", ""))
      // try_element_at + try_cast: ANSI mode would otherwise throw on
      // missing items / non-numeric garbage — the DLQ philosophy is null-out
      .withColumn("longitude",
        expr("try_cast(try_element_at(split(__pt, ','), 1) AS DOUBLE)"))
      .withColumn("latitude",
        expr("try_cast(try_element_at(split(__pt, ','), 2) AS DOUBLE)"))
      .drop("__pt")
}
