package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Per-round streaming-throughput trend line: runs two fixed
  * MemoryStream workloads (the count-min sketch maintenance stream and a
  * watermarked stream-stream interval join — the two shapes behind the
  * bench's streaming constants) and APPENDS one JSON line per workload to
  * `STREAM_TREND.jsonl`, so the streaming constant's drift is measurable
  * across rounds the way `tools/bench_diff.py` measures the batch
  * queries. Rates come from the engine's own progress records
  * (`numInputRows` / `triggerExecution`), the same observability the
  * StreamingStateSpec progress pins assert on.
  *
  * Usage: `sbt "runMain graft.tools.StreamTrend <label>"` (label = round
  * tag, e.g. r11). Run it ALONE like Bench — rates are timing artifacts.
  */
object StreamTrend {

  def main(args: Array[String]): Unit = {
    val label = if (args.nonEmpty) args(0) else "dev"
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    import spark.implicits._
    implicit val sql = spark.sqlContext

    def emit(workload: String, rows: Long, ms: Long): Unit = {
      val rate = if (ms > 0) rows * 1000.0 / ms else 0.0
      val line = f"""{"label":"$label","workload":"$workload",""" +
        f""""rows":$rows,"busy_ms":$ms,"rows_per_sec":$rate%.1f}"""
      val w = new java.io.FileWriter("STREAM_TREND.jsonl", true)
      try w.write(line + "\n") finally w.close()
      println(s"[trend] $line")
    }

    // Workload 1: count-min sketch maintenance (complete-mode stateful
    // agg, state bounded by sketch shape) — 20 batches x 5k rows.
    {
      val mem = MemoryStream[(Long, Long)]
      val cm = graft.analytics.CountMin.sketch(
        mem.toDF().toDF("user_id", "value").select(col("user_id")),
        "user_id", depth = 4, width = 512)
      val q = cm.writeStream.format("memory").queryName("trend_cm")
        .outputMode("complete").start()
      try {
        (0 until 20).foreach { b =>
          mem.addData((0 until 5000).map(i => ((b * 137 + i * 7) % 9000L,
            i.toLong)): _*)
          q.processAllAvailable()
        }
        val loaded = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        emit("cm_sketch", loaded.map(_.numInputRows).sum,
          loaded.map(_.durationMs.get("triggerExecution").longValue).sum)
      } finally q.stop()
    }

    // Workload 2: watermarked stream-stream interval join (the
    // q_stream_join shape) — views join purchases within 2 minutes.
    {
      val vm = MemoryStream[(Long, Long)]
      val pm = MemoryStream[(Long, Long)]
      val views = vm.toDF().toDF("user_id", "m")
        .select(col("user_id"), timestamp_micros(col("m") * 60000000L).as("vt"))
        .withWatermark("vt", "10 minutes")
      val purch = pm.toDF().toDF("user_id", "m")
        .select(col("user_id").as("p_user"),
          timestamp_micros(col("m") * 60000000L + 30000000L).as("pt"))
        .withWatermark("pt", "10 minutes")
      val joined = views.join(purch,
        col("user_id") === col("p_user") &&
          col("pt") >= col("vt") &&
          col("pt") < col("vt") + expr("INTERVAL 2 MINUTES"))
      val q = joined.writeStream.format("memory").queryName("trend_join")
        .outputMode("append").start()
      try {
        (0 until 10).foreach { b =>
          val rows = (0 until 2500).map(i =>
            ((i % 500).toLong, (b * 3 + i % 3).toLong))
          vm.addData(rows: _*)
          pm.addData(rows: _*)
          q.processAllAvailable()
        }
        val loaded = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        emit("stream_join", loaded.map(_.numInputRows).sum,
          loaded.map(_.durationMs.get("triggerExecution").longValue).sum)
      } finally q.stop()
    }

    spark.stop()
  }
}
