package graft.stream

import graft.SparkSpec
import graft.ingest.Normalize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

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

  /** Lands `rows` in `srcDir` as the edge-JSON file `<name>.json`. */
  private def writeJson(srcDir: String, name: String, rows: Seq[Edge]): Unit = {
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

  test("corrupt field values null out, never kill the stream") {
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
  }

  test("file ingest with checkpointed sink is exactly-once across restart") {
    val base = graft.TempDirs.fixtureDir("e2e")
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    new java.io.File(srcDir).mkdirs()
    def writeBatch(name: String, rows: Seq[Edge]): Unit = writeJson(srcDir, name, rows)
    def start() = StreamingIngest.factSink(
      StreamingIngest.ingest(spark.readStream.schema(Normalize.kafkaEdgeSchema).json(srcDir)),
      outDir, ckpt).start()

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

  test("a batch run again after its commit-log entry is lost replaces its own files") {
    val base = graft.TempDirs.fixtureDir("rerun")
    val (srcDir, outDir, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    new java.io.File(srcDir).mkdirs()
    def run(): Seq[Long] = {
      val q = StreamingIngest.factSink(
        StreamingIngest.ingest(spark.readStream.schema(Normalize.kafkaEdgeSchema).json(srcDir)),
        outDir, ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    }
    def files(): Seq[String] = {
      val all = java.nio.file.Files.walk(java.nio.file.Paths.get(outDir))
      try all.iterator().asScala.map(_.toString.drop(outDir.length))
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally all.close()
    }

    writeJson(srcDir, "b1", (0 until 5).map(i => Edge.mk("7", 1704067200L + i)))
    assert(run() == Seq(0L))
    writeJson(srcDir, "b2", (0 until 4).map(i => Edge.mk("8", 1704067300L + i)))
    assert(run() == Seq(1L))
    val before = files()
    val commits = new java.io.File(ckpt, "commits")
    Seq("1", ".1.crc").foreach(n => new java.io.File(commits, n).delete())
    assert(!new java.io.File(commits, "1").exists())

    assert(run() == Seq(1L), "batch 1 runs again")
    val out = spark.read.parquet(outDir)
    assert(out.count() == 9)
    assert(out.select("correlation_id").distinct().count() == 9)
    // batch 0's files are untouched, batch 1's are replaced one for one
    val after = files()
    def ofBatch(fs: Seq[String], id: Int) = fs.filter(_.contains(s"/b$id-"))
    assert(ofBatch(after, 0) == ofBatch(before, 0))
    assert(ofBatch(after, 1).size == ofBatch(before, 1).size)
    assert(ofBatch(after, 1) != ofBatch(before, 1))
    assert(after.forall(p => p.contains("/b0-") || p.contains("/b1-")), after)
    val top = new java.io.File(outDir).list().toSeq
    assert(top.forall(_.startsWith("device_id_bucket=")), s"left under the table: $top")
  }

  test("streaming near-dup filter flags planted dups against a static corpus") {
    implicit val sql = spark.sqlContext
    import graft.sim.Similarity
    val base = (1 to 64).map(_.toDouble)
    // exactly orthogonal to base: each pair (a, b) of base becomes (-b, a)
    val ortho = base.grouped(2).flatMap { case Seq(a, b) => Seq(-b, a) }.toSeq
    val corpus = Seq((100L, base)).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Double])]
    val flags = Similarity.nearDupFlags(
      mem.toDF().toDF("vec_id", "embedding"), corpus, threshold = 0.9)
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
}
