package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ingest.Normalize
import graft.maintain.Maintenance
import graft.ops.Upsert
import graft.score.RiskScore
import graft.stream.StreamingIngest

/** The write path of `nightly_batch`: days of `events` replayed as nightly
  * cycles of the reference's cron job. Each cycle (one op):
  *
  *  1. the day's edge-JSON payloads (with the seeded corrupt copies, written
  *     by inputs.py) land as one file, consumed as one micro-batch by two
  *     streams: `StreamingIngest.ingest` into `factSink`, and the raw
  *     archive + DLQ stream (`Normalize.dlqSplit`, `Normalize.stampRaw` with
  *     the replayed day as `now`);
  *  2. `RiskScore.pipeline` scores report dates D−1 and D (partial), merged
  *     with `Upsert.upsertAntiJoin` and written with
  *     `Maintenance.overwritePartitions`;
  *  3. cleanup: `Maintenance.compactPartition` of the raw day and
  *     `Maintenance.retentionDelete` with 5 days of retention.
  */
final class DailyCycle(ctx: Context) {
  import DailyCycle._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val payloads = Paths.get(ctx.inputs, "payloads")
  private val live = new Tables(ctx.work("daily/live"))
  private val warm = new Tables(ctx.work("daily/warm"))
  private val corruptPerDay: Map[String, Long] =
    Fs.readLines(s"${ctx.inputs}/corrupt_per_day.tsv").map { l =>
      val Array(d, n) = l.split('\t'); d -> n.toLong
    }.toMap.withDefaultValue(0L)
  private var daysRun = 0

  // per-layer figures, summed over the measured cycles
  private val fig = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = if (tracer.enabled) fig(k) += v

  final class Tables(base: String) {
    val landing: String = s"$base/landing"
    val fact: String = s"$base/fact"
    val raw: String = s"$base/raw"
    val dlq: String = s"$base/dlq"
    val risk: String = s"$base/risk_score_daily"
    val ckptFact: String = s"$base/ckpt/fact"
    val ckptRaw: String = s"$base/ckpt/raw"
    def reset(): Unit = { Fs.deleteTree(Paths.get(base)); Files.createDirectories(Paths.get(landing)) }
    def dirs: Seq[String] = Seq(fact, raw, dlq, risk)
  }

  /** Empties the live table set. */
  def setup(): Unit = live.reset()

  /** One full cycle on a throw-away table set. */
  def warmup(): Unit = {
    warm.reset()
    cycle(warm, 1, measured = false)
    Fs.deleteTree(Paths.get(ctx.work("daily/warm")))
  }

  /** The measured cycle of replayed day `d`, on the live table set. */
  def night(d: Int): Unit = {
    cycle(live, d, measured = true)
    daysRun = d
  }

  private def dayDate(d: Int): String = ServeApi.day(d)

  /** One nightly cycle for replayed day `d` (1 = 2024-01-01) on table set `t`. */
  private def cycle(t: Tables, d: Int, measured: Boolean): Unit = {
    val day = dayDate(d)
    val now = java.time.LocalDate.parse(day).atTime(12, 0).toInstant(java.time.ZoneOffset.UTC)

    // 1. arrival of the day's payload file, consumed as one micro-batch
    Files.copy(payloads.resolve(s"$day.txt"), Paths.get(t.landing, s"$day.txt"),
      StandardCopyOption.REPLACE_EXISTING)
    tracer.span("stream.ingest") {
      val source = spark.readStream.option("maxFilesPerTrigger", "1").text(t.landing)
      val (good, _) = Normalize.dlqSplit(source, "value", Normalize.kafkaEdgeSchema)
      val factQ = StreamingIngest.factSink(StreamingIngest.ingest(good.drop("value")),
          t.fact, t.ckptFact)
        .trigger(Trigger.AvailableNow()).start()
      factQ.awaitTermination()
      if (measured) progress(factQ)
    }
    tracer.span("ingest.raw_dlq") {
      val rawQ = spark.readStream.option("maxFilesPerTrigger", "1").text(t.landing)
        .writeStream.option("checkpointLocation", t.ckptRaw)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val (ok, bad) = Normalize.dlqSplit(batch, "value", Normalize.kafkaEdgeSchema)
          Normalize.stampRaw(ok.select(col("device_id"), col("value").as("raw_report"),
              col("correlation_id")), now)
            .write.mode("append").partitionBy("created_day").parquet(t.raw)
          Normalize.stampRaw(bad.select(col("value").as("raw_report")), now)
            .write.mode("append").partitionBy("created_day").parquet(t.dlq)
          ()
        }.start()
      rawQ.awaitTermination()
      if (measured) progress(rawQ)
    }

    // 2. score D-1 (now closed) and D (partial), upsert, rewrite both partitions
    val dates = Seq(dayDate(d - 1), day).map(java.sql.Date.valueOf)
    val incoming = tracer.span("score.exec") {
      val fact = spark.read.parquet(t.fact)
        .filter(col("received_day").between(lit(dates.head), lit(dates.last)))
      local(RiskScore.pipeline(fact).filter(col("report_date").isin(dates: _*)))
    }
    val existing =
      if (Files.exists(Paths.get(t.risk)))
        spark.read.parquet(t.risk).filter(col("report_date").isin(dates: _*)).select(RiskCols.map(col): _*)
      else spark.createDataFrame(java.util.List.of[Row](), incoming.schema)
    val merged = tracer.span("ops.upsert") {
      local(Upsert.upsertAntiJoin(existing, incoming, Seq("device_id", "report_date")))
    }
    if (measured && tracer.enabled) {
      val before = existing.collect().toSet
      add("ops.rows_changed", incoming.collect().count(r => !before.contains(r)).toDouble)
      add("ops.rows_written", merged.count().toDouble)
    }
    tracer.span("maintain.write") {
      Maintenance.overwritePartitions(merged, t.risk, Seq("report_date"))
    }
    if (measured && tracer.enabled) dates.foreach { dt =>
      val (bytes, files) = Fs.usage(Paths.get(t.risk, s"report_date=$dt"))
      add("maintain.bytes_written", bytes.toDouble)
      add("maintain.files_written", files.toDouble)
    }

    // 3. cleanup of the raw archive
    val rawDay = Paths.get(t.raw, s"created_day=$day")
    val ingestedBytes = Fs.usage(rawDay)._1
    tracer.span("maintain.compact") {
      Maintenance.compactPartition(spark, t.raw, "created_day", day)
    }
    if (measured && tracer.enabled) {
      add("maintain.compact_bytes_in", ingestedBytes.toDouble)
      add("maintain.compact_bytes_out", Fs.usage(rawDay)._1.toDouble)
    }
    tracer.span("maintain.retention") {
      Maintenance.retentionDelete(spark, t.raw, "created_day", RetentionDays,
        java.time.LocalDate.parse(day))
    }
  }

  /** Materializes a small frame in driver memory, so that reading and
    * rewriting the same partitions never overlap.
    */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def progress(q: StreamingQuery): Unit =
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.rows", p.numInputRows.toDouble)
      add("stream.trigger_ms", ms("triggerExecution"))
      add("stream.wal_commit_ms", ms("walCommit") + ms("commitOffsets"))
      add("ingest.add_batch_ms", ms("addBatch"))
    }

  def checks(): Seq[(String, Option[String])] = {
    def check(name: String)(body: => Option[String]): (String, Option[String]) =
      name -> (try body catch { case e: Throwable => Some(s"threw ${e.getMessage}") })
    val last = java.time.LocalDate.parse(dayDate(daysRun))
    Seq(
      check("risk_score_daily equals the oracle on closed dates") {
        val want = Expected.riskByDate.filter { case (dt, _) => dt < last.toString }
        val got = Expected.fingerprintBy(spark.read.parquet(live.risk).select(RiskCols.map(col): _*),
            "report_date")
          .filter { case (dt, _) => dt < last.toString }
        if (want.isEmpty) Some("no closed dates")
        else if (got == want) None
        else Some(s"${(want.toSet diff got.toSet).size} of ${want.size} dates differ")
      },
      check("DLQ holds exactly the seeded corrupt payloads") {
        val want = (1 to daysRun).map(d => corruptPerDay(dayDate(d))).sum
        val got = spark.read.parquet(live.dlq).count()
        if (got == want) None else Some(s"DLQ has $got rows, $want corrupt payloads were sent")
      },
      check("no raw partition is older than the retention cutoff") {
        val cutoff = last.minusDays(RetentionDays.toLong).toString
        val old = Files.list(Paths.get(live.raw)).iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("created_day=")).map(_.stripPrefix("created_day=")).filter(_ < cutoff).toSeq
        if (old.isEmpty) None else Some(s"raw partitions older than $cutoff: ${old.mkString(",")}")
      })
  }

  def space(): (Long, Long) =
    (live.dirs.map(p => Fs.usage(Paths.get(p))._1).sum,
      Files.size(Paths.get(s"${ctx.sf01}/events.parquet")))

  def layerFigures(): Map[String, Double] =
    fig.toMap ++ Map("ingest.dlq_rows" -> spark.read.parquet(live.dlq).count().toDouble)
}

object DailyCycle {
  /** Days every run replays (1 to 7, whatever its time), so that each run
    * has the same ops and checks closed dates, the DLQ, and a retention pass
    * that deletes. A run of the whole month (30 cycles, ~100 s) does not fit
    * the benchmark's time budget.
    */
  val Cycles = 7
  val RetentionDays = 5

  /** Edge-JSON payloads of the events of days 1 to [[Cycles]], as
    * `<event id>\t<json>` lines in one text file per day
    * (`<out>/day=<date>/part-*`), in event order. Seed-independent: written
    * once with the input tables; inputs.py adds the seeded corrupt copies.
    */
  def writePayloads(spark: SparkSession, events: String, out: String): Unit = {
    val edge = Normalize.eventsAsKafkaEdge(graft.Tables.events(spark, events))
    edge.select(
        col("correlation_id").cast("long").as("event_id"),
        to_json(struct(edge.columns.map(col): _*)).as("json"),
        to_date(timestamp_seconds(col("gps_epoch").cast("long"))).cast("string").as("day"))
      .filter(col("day") <= ServeApi.day(Cycles))
      .repartition(col("day"))
      .sortWithinPartitions("day", "event_id")
      .select(concat_ws("\t", col("event_id").cast("string"), col("json")).as("value"), col("day"))
      .write.partitionBy("day").text(out)
  }
  val RiskCols = Seq("device_id", "report_date", "score", "level", "total_reports",
    "overspeed_reports", "night_reports")
}
