package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.maintain.Layout
import graft.plans.InjectPartitionGuard
import graft.queries.TelematicsQueries
import graft.serve.Api

/** `serve_api`: the API consumers of the reference's telematics service, as a
  * closed loop of two client threads on one session. Each request opens the
  * fact table, builds its query through `graft.serve.Api`, and waits for the
  * answer, which is checked against the benchmark's own answer.
  */
final class ServeApi(ctx: Context) extends Workload {
  import ServeApi._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val factPath = ctx.work("serve/fact")
  private val requests = Fs.readLines(s"${ctx.inputs}/requests.tsv").map(Req.parse)
  private val warmupRequests = Fs.readLines(s"${ctx.inputs}/warmup.tsv").map(Req.parse)
  private var expected: IndexedSeq[Answer] = IndexedSeq.empty
  private var partitionsInTable = 0L

  // per-layer counts of the measured requests (traced runs only)
  private val opens = new AtomicLong
  private val filesListed = new AtomicLong
  private val scans = new AtomicLong
  private val filesRead = new AtomicLong
  private val partitionsRead = new AtomicLong
  private val rowsScanned = new AtomicLong
  private val rowsReturned = new AtomicLong

  /** One round: writing the 960-file layout costs 10–20 s, too much to repeat
    * within a run's time budget.
    */
  val setupRounds = 1

  def setup(round: Int): Unit = {
    val fact = TelematicsQueries.normalizedFact(spark, ctx.sf01)
    Layout.writeFact(fact, factPath)
    InjectPartitionGuard.optIn(spark, factPath)
    partitionsInTable = java.nio.file.Files.list(java.nio.file.Paths.get(factPath)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("device_id_bucket="))
      .map(b => java.nio.file.Files.list(b).count()).sum
    // the benchmark's own answers: the unpartitioned normalized fact, collected
    // and answered in memory (no serve, plans or layout code)
    val ref = new Reference(fact
      .select("device_id", "gps_epoch", "speed_kmh", "report_type", "correlation_id",
        "device_id_bucket").collect())
    expected = requests.map(ref.answer)
  }

  private def open(): DataFrame = tracer.span("tables.read") {
    val df = Tables.cachedParquet(spark, factPath)
    if (tracer.enabled && tracer.inOp) {
      opens.incrementAndGet()
      df.queryExecution.analyzed.foreach {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          filesListed.addAndGet(fs.location.inputFiles.length.toLong)
        case _ =>
      }
    }
    df
  }

  private def build[T](body: => T): T = tracer.span("serve.build")(body)
  private def plan(df: DataFrame): Unit = tracer.span("serve.plan") { df.queryExecution.executedPlan; () }
  private def exec[T](body: => T): T = tracer.span("serve.exec")(body)

  private def collected(df: DataFrame, rows: Array[Row]): Seq[Seq[Any]] = {
    if (tracer.enabled && tracer.inOp) {
      val s = PlanStats.scans(df)
      scans.incrementAndGet()
      filesRead.addAndGet(s.files)
      partitionsRead.addAndGet(s.partitions)
      rowsScanned.addAndGet(s.rows)
      rowsReturned.addAndGet(rows.length.toLong)
    }
    rows.toSeq.map(_.toSeq)
  }

  /** Runs one request through the program and returns its answer. */
  def execute(r: Req): Answer = r match {
    case Lookup(dev, first, days, offset, limit) => tracer.span("serve.lookup_page") {
      val fact = open()
      val (filtered, page) = build {
        val f = Api.pointLookup(fact, dev, ts(first), ts(first + days), day(first), day(first + days))
        (f, Api.page(Api.project(f, LookupCols), PageOrder, offset, limit))
      }
      plan(page)
      val (total, rows) = exec((Api.total(filtered), page.collect()))
      Answer(total, Digest.rows(collected(page, rows)))
    }
    case Keyset(dev, after, limit) => tracer.span("serve.keyset_page") {
      val fact = open()
      val page = build {
        val f = Api.dynamicFilter(fact, deviceIds = Some(Seq(dev)))
          .withColumn("ck", col("correlation_id").cast("long"))
        Api.keysetPage(f, col("ck"), Some(lit(after)), limit).select(KeysetCols.map(col): _*)
      }
      plan(page)
      Answer(-1, Digest.rows(collected(page, exec(page.collect()))))
    }
    case Dynamic(ids, first, days) => tracer.span("serve.dynamic_filter") {
      val fact = open()
      val page = build {
        val f = Api.dynamicFilter(fact, Some(ids), Some(ts(first)), Some(ts(first + days)))
        Api.page(Api.project(f, LookupCols), PageOrder, 0, DynamicLimit)
      }
      plan(page)
      Answer(-1, Digest.rows(collected(page, exec(page.collect()))))
    }
    case Latest(bucket) => tracer.span("serve.latest") {
      val fact = open()
      val rows = build {
        Api.latestPerDevice(fact.filter(col("device_id_bucket") === bucket),
            col("correlation_id").cast("long"))
          .select(LatestCols.map(col): _*).orderBy(col("device_id"))
      }
      plan(rows)
      Answer(-1, Digest.rows(collected(rows, exec(rows.collect()))))
    }
  }

  /** The warm-up requests, under the same two-client load as the run. */
  def warmup(): Unit = closedLoop(warmupRequests, warmupRequests.size, System.nanoTime()) { (i, r) =>
    execute(r); OpResult(r.kind, 0, ok = true)
  }

  /** Whole decks, at least [[MinRequests]], and until the deadline. */
  def run(deadlineNs: Long): Seq[OpResult] = closedLoop(requests, MinRequests, deadlineNs) { (i, r) =>
    val t0 = System.nanoTime()
    val (ok, err) =
      try {
        val got = tracer.withOp(i.toLong + 1)(execute(r))
        if (got == expected(i)) (true, "") else (false, s"request $i: got $got, want ${expected(i)}")
      } catch { case e: Throwable => (false, s"request $i threw ${e.getClass.getName}: ${e.getMessage}") }
    OpResult(r.kind, (System.nanoTime() - t0) / 1e6, ok, err)
  }

  /** [[Clients]] threads each send the next request of `reqs` once their
    * previous one has been answered.
    */
  private def closedLoop(reqs: IndexedSeq[Req], minRequests: Int, deadlineNs: Long)(
      send: (Int, Req) => OpResult): Seq[OpResult] = {
    var issued = 0
    var stopped = false
    def next(): Int = synchronized {
      if (!stopped && issued % DeckSize == 0 && issued >= minRequests &&
          System.nanoTime() >= deadlineNs) stopped = true
      if (stopped) -1 else { issued += 1; (issued - 1) % reqs.size }
    }
    val results = new ConcurrentLinkedQueue[OpResult]()
    val clients = (0 until Clients).map { _ =>
      new Thread(() => {
        var i = next()
        while (i >= 0) {
          results.add(send(i, reqs(i)))
          i = next()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    results.asScala.toSeq
  }

  def checks(): Seq[(String, Option[String])] =
    Seq("expected answers cover the request stream" ->
      (if (expected.size == requests.size) None else Some("answers missing")))

  def space(): (Long, Long) =
    (Fs.usage(java.nio.file.Paths.get(factPath))._1,
      java.nio.file.Files.size(java.nio.file.Paths.get(s"${ctx.sf01}/events.parquet")))

  def layerFigures(): Map[String, Double] = Map(
    "tables.opens" -> opens.get.toDouble,
    "tables.files_listed" -> filesListed.get.toDouble,
    "serve.scans" -> scans.get.toDouble,
    "serve.files_read" -> filesRead.get.toDouble,
    "serve.rows_scanned" -> rowsScanned.get.toDouble,
    "serve.rows_returned" -> rowsReturned.get.toDouble,
    "plans.partitions_read" -> partitionsRead.get.toDouble,
    "plans.partitions_in_table" -> partitionsInTable.toDouble)
}

object ServeApi {
  val Clients = 2
  /** Requests per shuffled deck of the mix (inputs.py). */
  val DeckSize = 10
  /** Requests every run measures at least: two decks. */
  val MinRequests = 20
  val DynamicLimit = 100
  val LookupCols = Seq("device_id", "gps_epoch", "speed_kmh", "report_type", "correlation_id")
  val KeysetCols = Seq("ck", "device_id", "gps_epoch", "speed_kmh")
  val LatestCols = Seq("device_id", "gps_epoch", "speed_kmh", "correlation_id")
  val PageOrder = Seq(col("gps_epoch").desc, col("correlation_id").cast("long").desc)

  /** Day `d` of the replayed month (1 = 2024-01-01). */
  def localDay(d: Int): java.time.LocalDate = java.time.LocalDate.of(2024, 1, 1).plusDays(d - 1L)
  def day(d: Int): String = localDay(d).toString
  def ts(d: Int): String = s"${day(d)} 00:00:00"
  def micros(d: Int): Long = localDay(d).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L

  sealed trait Req { def kind: String }
  final case class Lookup(dev: String, first: Int, days: Int, offset: Int, limit: Int) extends Req {
    def kind = "lookup_page" }
  final case class Keyset(dev: String, after: Long, limit: Int) extends Req { def kind = "keyset_page" }
  final case class Dynamic(ids: Seq[String], first: Int, days: Int) extends Req {
    def kind = "dynamic_filter" }
  final case class Latest(bucket: Int) extends Req { def kind = "latest" }

  object Req {
    def parse(line: String): Req = line.split('\t').toList match {
      case "lookup" :: d :: f :: n :: o :: l :: Nil => Lookup(d, f.toInt, n.toInt, o.toInt, l.toInt)
      case "keyset" :: d :: a :: l :: Nil => Keyset(d, a.toLong, l.toInt)
      case "dynamic" :: ids :: f :: n :: Nil => Dynamic(ids.split(',').toSeq, f.toInt, n.toInt)
      case "latest" :: b :: Nil => Latest(b.toInt)
      case _ => throw new IllegalArgumentException(s"bad request line: $line")
    }
  }

  /** `total` is -1 for request types without a count envelope. */
  final case class Answer(total: Long, digest: Long)

  /** The benchmark's own answers, computed in memory from fact rows. */
  final class Reference(rows: Array[Row]) {
    private final case class R(dev: String, gps: java.sql.Timestamp, speed: Any, kind: String,
                               corr: String, bucket: Int) {
      val ck: Long = corr.toLong
      val micros: Long = gps.getTime * 1000L + (gps.getNanos / 1000) % 1000
    }
    private val all = rows.map(r => R(r.getString(0), r.getTimestamp(1), r.get(2), r.getString(3),
      r.getString(4), r.getInt(5)))
    private val byDevice = all.groupBy(_.dev).withDefaultValue(Array.empty[R])
    private val newestFirst: Ordering[R] =
      Ordering.by((r: R) => (r.micros, r.ck)).reverse
    private def lookupRow(r: R): Seq[Any] = Seq(r.dev, r.gps, r.speed, r.kind, r.corr)

    def answer(req: Req): Answer = req match {
      case Lookup(dev, first, days, offset, limit) =>
        val (lo, hi) = (micros(first), micros(first + days))
        val hit = byDevice(dev).filter(r => r.micros >= lo && r.micros <= hi)
        Answer(hit.length.toLong,
          Digest.rows(hit.sorted(newestFirst).slice(offset, offset + limit).toSeq.map(lookupRow)))
      case Keyset(dev, after, limit) =>
        Answer(-1, Digest.rows(byDevice(dev).filter(_.ck > after).sortBy(_.ck).take(limit).toSeq
          .map(r => Seq(r.ck, r.dev, r.gps, r.speed))))
      case Dynamic(ids, first, days) =>
        val (lo, hi) = (micros(first), micros(first + days))
        val hit = ids.distinct.flatMap(d => byDevice(d)).filter(r => r.micros >= lo && r.micros < hi)
        Answer(-1, Digest.rows(hit.sorted(newestFirst).take(DynamicLimit).map(lookupRow)))
      case Latest(bucket) =>
        Answer(-1, Digest.rows(all.filter(_.bucket == bucket).groupBy(_.dev).values
          .map(_.min(newestFirst)).toSeq.sortBy(_.dev)
          .map(r => Seq(r.dev, r.gps, r.speed, r.corr))))
    }
  }
}
