package graft.stream

import graft.SparkSpec
import graft.ingest.Normalize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Edge(report_type: String, tenant: String, provider: String,
                model: String, firmware: String, device_id: String,
                alert_type: String, latitude: String, longitude: String,
                gps_fixed: String, gps_epoch: String, satellites: String,
                speed_kmh: String, heading: String, odometer_meters: String,
                engine_on: String, vehicle_battery_voltage: String,
                backup_battery_voltage: String, received_epoch: String,
                decoded_epoch: String, correlation_id: String)

object Edge {
  def mk(dev: String, epoch: Long, rt: String = "STATUS", speed: String = "50.0"): Edge =
    Edge(rt, "t", "p", "m", "f", dev, null, "1.0", "2.0", "true",
      epoch.toString, "5", speed, "N", "100", "true", "12.0", "4.0",
      epoch.toString, epoch.toString, s"$dev-$epoch")
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest applies the exact batch normalize semantics") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Edge]
    val q = StreamingIngest.ingest(mem.toDF())
      .writeStream.format("memory").queryName("ingest_out").outputMode("append").start()
    try {
      mem.addData(
        Edge.mk("7", 1704067200L),
        Edge.mk("7", 1704067260L, rt = "ALERT"),
        Edge.mk("9", 1704067300L, rt = "PING")) // filtered out
      q.processAllAvailable()
      val out = spark.table("ingest_out")
        .select("device_id", "device_id_bucket", "report_type")
        .as[(String, Int, String)].collect().sorted
      assert(out.length == 2)
      assert(out.forall(_._1 == "7"))
      assert(out.forall(_._2 == math.abs("7".hashCode) % 32))
    } finally q.stop()
  }

  test("corrupt field values null out, never kill the stream or the state") {
    implicit val sql = spark.sqlContext
    // a VALID JSON payload with a garbage field is invisible to the
    // payload-level DLQ; a raw ANSI cast on it would throw
    // CAST_INVALID_INPUT and kill the whole streaming query
    val corrupt = Edge.mk("7", 1704067200L)
      .copy(gps_epoch = "not-an-epoch", speed_kmh = "NaNsense")
    val mem = MemoryStream[Edge]
    val q = StreamingIngest.ingest(mem.toDF())
      .writeStream.format("memory").queryName("corrupt_out")
      .outputMode("append").start()
    try {
      mem.addData(Edge.mk("7", 1704067200L), corrupt, Edge.mk("8", 1704067260L))
      q.processAllAvailable() // would rethrow a cast failure
      val out = spark.table("corrupt_out")
        .select(col("device_id"), col("gps_epoch").isNull.as("no_ts"),
          col("speed_kmh").isNull.as("no_speed"))
        .as[(String, Boolean, Boolean)].collect().sortBy(_.toString)
      assert(out.length == 3, "the corrupt-field row must survive ingest")
      assert(out.count(r => r._2 && r._3) == 1, "corrupt fields null out")
    } finally q.stop()
    // ...and the watermark-boundary gate keeps the corrupt-time row out of
    // event-time state (windowed agg would silently drop it; the
    // watermark dedup would hold its state forever)
    val mem2 = MemoryStream[Edge]
    val q2 = StreamingIngest.dedupStream(
        Normalize.normalizeTelemetry(mem2.toDF()))
      .writeStream.format("memory").queryName("corrupt_dedup")
      .outputMode("append").start()
    try {
      mem2.addData(Edge.mk("7", 1704067200L), corrupt, Edge.mk("8", 1704067260L))
      q2.processAllAvailable()
      val ids = spark.table("corrupt_dedup")
        .select("correlation_id").as[String].collect().sorted.toSeq
      assert(ids == Seq("7-1704067200", "8-1704067260"),
        "corrupt-time rows are gated at the watermark boundary")
    } finally q2.stop()
  }

  test("streaming upsert sink is idempotent across micro-batches") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val dir = graft.TempDirs.fixtureDir("upsert") + "/table"
    val ckpt = graft.TempDirs.fixtureDir("ckpt")
    val mem = MemoryStream[(String, String, Long, Int)]
    val scored = mem.toDF().toDF("device_id", "report_date", "total", "version")
    val q = StreamingIngest.upsertSink(scored, dir, ckpt,
      Seq("device_id", "report_date"), "version").start()
    try {
      mem.addData(("d1", "2024-01-01", 5L, 1), ("d2", "2024-01-01", 7L, 1))
      q.processAllAvailable()
      mem.addData(("d1", "2024-01-01", 9L, 2)) // re-score d1
      q.processAllAvailable()
      val out = spark.read.parquet(dir)
        .select("device_id", "total", "version").as[(String, Long, Int)].collect().toSet
      assert(out == Set(("d1", 9L, 2), ("d2", 7L, 1)))
    } finally q.stop()
  }

  test("partitioned streaming upsert rewrites only the touched partitions") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val dir = graft.TempDirs.fixtureDir("upsert_part") + "/table"
    val ckpt = graft.TempDirs.fixtureDir("ckpt_part")
    val mem = MemoryStream[(String, String, Long, Int)]
    val scored = mem.toDF().toDF("device_id", "report_date", "total", "version")
    val q = StreamingIngest.upsertSink(scored, dir, ckpt,
      Seq("device_id", "report_date"), "version",
      partitionCols = Seq("report_date")).start()
    try {
      mem.addData(("d1", "2024-01-01", 5L, 1), ("d2", "2024-01-02", 7L, 1))
      q.processAllAvailable()
      def partFiles(day: String): Map[String, Long] = {
        val d = new java.io.File(s"$dir/report_date=$day")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      val before = partFiles("2024-01-01")
      assert(before.nonEmpty)
      Thread.sleep(1100) // mtime granularity
      mem.addData(("d2", "2024-01-02", 9L, 2)) // touches only 2024-01-02
      q.processAllAvailable()
      // untouched partition: identical files, byte-for-byte untouched mtimes
      assert(partFiles("2024-01-01") == before,
        "untouched partition was rewritten by a partition-restricted upsert")
      val out = spark.read.parquet(dir)
        .select("device_id", "total", "version").as[(String, Long, Int)].collect().toSet
      assert(out == Set(("d1", 5L, 1), ("d2", 9L, 2)))
    } finally q.stop()
  }

  test("versioned streaming upsert: atomic per-batch merges with time travel") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val dir = graft.TempDirs.fixtureDir("vups") + "/table"
    val ckpt = graft.TempDirs.fixtureDir("vups_ckpt")
    val mem = MemoryStream[(String, String, Long, Int)]
    val scored = mem.toDF().toDF("device_id", "report_date", "total", "version")
    val q = StreamingIngest.versionedUpsertSink(scored, dir, ckpt,
      Seq("device_id", "report_date"), "version").start()
    try {
      mem.addData(("d1", "2024-01-01", 5L, 1), ("d2", "2024-01-01", 7L, 1))
      q.processAllAvailable()
      mem.addData(("d1", "2024-01-01", 9L, 2))
      q.processAllAvailable()
      import graft.maintain.Versioned
      val now = Versioned.read(spark, dir)
        .select("device_id", "total", "version").as[(String, Long, Int)].collect().toSet
      assert(now == Set(("d1", 9L, 2), ("d2", 7L, 1)))
      // batch 1's state is still readable (snapshot v1)
      val v1 = Versioned.read(spark, dir, Some(1))
        .select("device_id", "total", "version").as[(String, Long, Int)].collect().toSet
      assert(v1 == Set(("d1", 5L, 1), ("d2", 7L, 1)))
    } finally q.stop()
  }

  test("full-swap streaming upsert self-recovers from a missing live dir") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val base = graft.TempDirs.fixtureDir("upsert_rec")
    val dir = s"$base/table"
    val ckpt = graft.TempDirs.fixtureDir("ckpt_rec")
    val mem = MemoryStream[(String, String, Long, Int)]
    val scored = mem.toDF().toDF("device_id", "report_date", "total", "version")
    val q = StreamingIngest.upsertSink(scored, dir, ckpt,
      Seq("device_id", "report_date"), "version").start()
    try {
      mem.addData(("d1", "2024-01-01", 5L, 1))
      q.processAllAvailable()
      // simulate a crash between the two promote renames: live dir moved
      // aside to the backup name, target missing
      val f = new java.io.File(dir)
      assert(f.renameTo(new java.io.File(dir + "__backup")))
      mem.addData(("d2", "2024-01-01", 7L, 1))
      q.processAllAvailable() // must restore the backup, then merge onto it
      val out = spark.read.parquet(dir)
        .select("device_id", "total").as[(String, Long)].collect().toSet
      assert(out == Set(("d1", 5L), ("d2", 7L)))
    } finally q.stop()
  }

  test("an unreadable live table fails the upsert batch and is left in place") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    // full swap: a junk file at the table root; partitioned: one inside the
    // partition the batch touches. Reading either throws; an upsert that
    // took the table for empty would overwrite it with the batch.
    for ((tag, partitionCols, junkDir) <- Seq(
        ("upsert_junk", Nil, ""),
        ("upsert_junk_part", Seq("report_date"), "/report_date=2024-01-01"))) {
      val dir = graft.TempDirs.fixtureDir(tag) + "/table"
      val junk = new java.io.File(dir + junkDir, "part-0.parquet")
      junk.getParentFile.mkdirs()
      java.nio.file.Files.writeString(junk.toPath, "not a parquet file")
      val mem = MemoryStream[(String, String, Long, Int)]
      val scored = mem.toDF().toDF("device_id", "report_date", "total", "version")
      val q = StreamingIngest.upsertSink(scored, dir, graft.TempDirs.fixtureDir(tag + "_ckpt"),
        Seq("device_id", "report_date"), "version", partitionCols).start()
      try {
        mem.addData(("d1", "2024-01-01", 5L, 1))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          q.processAllAvailable())
      } finally q.stop()
      assert(junk.isFile, s"$tag: the unreadable table was overwritten")
      assert(java.nio.file.Files.readString(junk.toPath) == "not a parquet file")
    }
  }

  test("streaming dedup collapses replayed ids across micro-batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Edge]
    val q = StreamingIngest.dedupStream(StreamingIngest.ingest(mem.toDF()))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(Edge.mk("7", 1704067200L), Edge.mk("7", 1704067200L)) // dup in batch
      q.processAllAvailable()
      mem.addData(Edge.mk("7", 1704067200L)) // replay in next batch
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 1)
    } finally q.stop()
  }

  test("file ingest with checkpointed sink is exactly-once across restart") {
    val base = graft.TempDirs.fixtureDir("e2e")
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    new java.io.File(srcDir).mkdirs()
    def writeBatch(name: String, rows: Seq[Edge]): Unit = {
      val tmp = new java.io.File(s"$srcDir/.$name.tmp")
      val w = new java.io.PrintWriter(tmp)
      rows.foreach { e =>
        val fields = e.productIterator.zip(Edge.mk("x", 0).productElementNames)
          .collect { case (v, n) if v != null => s""""$n": "$v"""" }
        w.println(fields.mkString("{", ", ", "}"))
      }
      w.close()
      tmp.renameTo(new java.io.File(s"$srcDir/$name.json")) // atomic visibility
    }
    def start() = StreamingIngest.factSink(
      StreamingIngest.ingest(StreamingIngest.jsonFileSource(spark, srcDir)),
      outDir, ckpt, triggerMs = 100L).start()

    writeBatch("b1", (0 until 5).map(i => Edge.mk("7", 1704067200L + i)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    writeBatch("b2", (0 until 4).map(i => Edge.mk("8", 1704067300L + i)))
    val q2 = start() // restart from checkpoint
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir)
    assert(out.count() == 9, s"expected 9 rows, got ${out.count()}")
    assert(out.select("correlation_id").distinct().count() == 9) // no replays
    // partitioned layout materialized as directories
    val parts = new java.io.File(outDir).listFiles().map(_.getName)
      .filter(_.startsWith("device_id_bucket="))
    assert(parts.nonEmpty)
  }

  test("session windows merge while gaps stay under the gap, split otherwise") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Edge]
    val sessions = StreamingIngest.sessionizedDeviceCounts(
      StreamingIngest.ingest(mem.toDF()), gap = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      // 00:00, 00:01 -> one session; 01:00 -> a second (gap 59 min >= 30)
      mem.addData(Edge.mk("7", 1704067200L), Edge.mk("7", 1704067260L),
        Edge.mk("7", 1704070800L))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select(col("session_start").cast("long"), col("session_end").cast("long"),
          col("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      assert(out == Set(
        (1704067200L, 1704067260L + 1800L, 2L),  // end = last event + gap
        (1704070800L, 1704070800L + 1800L, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join enriches alerts with recent same-device statuses") {
    implicit val sql = spark.sqlContext
    val alertMem = MemoryStream[Edge]
    val statusMem = MemoryStream[Edge]
    val joined = StreamingIngest.alertEnrichmentJoin(
      StreamingIngest.ingest(alertMem.toDF()),
      StreamingIngest.ingest(statusMem.toDF()), lookback = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("join_out")
      .outputMode("append").start()
    try {
      statusMem.addData(
        Edge.mk("7", 1704067000L),              // 200 s before the alert: match
        Edge.mk("7", 1704066000L),              // 20 min before: outside lookback
        Edge.mk("8", 1704067100L))              // other device: no match
      alertMem.addData(Edge.mk("7", 1704067200L, rt = "ALERT"))
      q.processAllAvailable()
      val out = spark.table("join_out")
        .select("device_id", "status_id").as[(String, String)].collect().toSeq
      assert(out == Seq(("7", "7-1704067000")))
    } finally q.stop()
  }

  test("rows behind the watermark are dropped and surfaced via lateRowsDropped") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Edge]
    val counts = StreamingIngest.windowedDeviceCounts(
      StreamingIngest.ingest(mem.toDF()), window_ = "5 minutes", watermark = "10 minutes")
    val q = counts.writeStream.format("memory").queryName("late_out")
      .outputMode("update").start()
    try {
      mem.addData(Edge.mk("7", 1704070800L))
      q.processAllAvailable() // watermark advances to 1704070800 - 600
      assert(StreamingIngest.lateRowsDropped(q) == 0L)
      // 3 hours behind the watermark: its window closed long ago -> dropped
      mem.addData(Edge.mk("7", 1704060000L))
      q.processAllAvailable()
      assert(StreamingIngest.lateRowsDropped(q) >= 1L,
        "late row was not counted by numRowsDroppedByWatermark")
    } finally q.stop()
  }

  test("streaming near-dup filter flags planted dups against a static corpus") {
    implicit val sql = spark.sqlContext
    import graft.sim.Similarity
    val base = Seq(1.0, 2.0, 3.0, 4.0)
    val ortho = Seq(-2.0, 1.0, -4.0, 3.0) // exactly orthogonal to base
    val corpus = Seq((100L, base)).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Double])]
    val flags = Similarity.nearDupFlags(
      mem.toDF().toDF("vec_id", "embedding"), corpus, threshold = 0.9, dim = 4)
    val q = flags.writeStream.format("memory").queryName("dup_flags")
      .outputMode("append").start()
    try {
      mem.addData((1L, base.map(_ * 2.0)), (2L, ortho))
      q.processAllAvailable()
      val out = spark.table("dup_flags")
        .select($"in_id", $"dup_of", $"cosine").as[(Long, Long, Double)].collect()
      // the scaled copy collides with the corpus vector's bucket (same
      // direction -> same sign pattern) and passes the exact-cosine verify
      assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 100L)),
        s"expected only the planted dup flagged, got ${out.toSeq}")
      assert(math.abs(out.head._3 - 1.0) < 1e-12)
    } finally q.stop()
  }

  test("observe() metrics ride the ingest stream into query progress") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Edge]
    val q = StreamingIngest.ingestWithMetrics(mem.toDF())
      .writeStream.format("memory").queryName("obs_out").outputMode("append").start()
    try {
      mem.addData(
        Edge.mk("7", 1704067200L, speed = "120.5"),          // overspeed
        Edge.mk("7", 1704067260L, rt = "ALERT", speed = "80.0"),
        Edge.mk("9", 1704067300L, rt = "PING"))              // filtered out
      q.processAllAvailable()
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_ingest"))).last
      assert(m.getAs[Long]("rows_out") == 2L)
      assert(m.getAs[Long]("alerts") == 1L)
      assert(m.getAs[Long]("overspeed") == 1L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState: consecutive-overspeed runs alert across batches") {
    implicit val s = spark
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val q = StreamingIngest.consecutiveSpeedAlerts(mem.toDS(), threshold = 100.0, runLength = 3)
      .toDF("device_id", "run")
      .writeStream.format("memory").queryName("cep_out").outputMode("append").start()
    try {
      mem.addData(("d1", 120.0), ("d1", 130.0))          // run of 2: no alert yet
      q.processAllAvailable()
      assert(spark.table("cep_out").count() == 0)
      mem.addData(("d1", 125.0), ("d1", 50.0), ("d1", 140.0)) // 3rd consecutive, then reset
      q.processAllAvailable()
      val out = spark.table("cep_out").as[(String, Int)].collect().toSeq
      assert(out == Seq(("d1", 3)))                      // state carried across batches
    } finally q.stop()
  }

  test("windowed device counts aggregate event time") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Edge]
    val counts = StreamingIngest.windowedDeviceCounts(
      StreamingIngest.ingest(mem.toDF()), "5 minutes", "10 minutes")
    val q = counts.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      // 1704067200 = 2024-01-01T00:00:00Z; three in window [00:00,00:05), one in [00:05,00:10)
      mem.addData(Edge.mk("7", 1704067200L), Edge.mk("7", 1704067260L),
        Edge.mk("7", 1704067290L), Edge.mk("7", 1704067500L))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select(col("window.start").cast("long"), col("n")).as[(Long, Long)]
        .collect().toMap
      assert(out == Map(1704067200L -> 3L, 1704067500L -> 1L))
    } finally q.stop()
  }
}
