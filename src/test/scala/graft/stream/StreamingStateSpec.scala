package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** State-store observability for the live sketch maintenance streams:
  * multi-batch feeds pin, through `StreamingQueryProgress.stateOperators`,
  * that resident state is bounded by the sketch shape, not stream length.
  */
class StreamingStateSpec extends SparkSpec {
  import spark.implicits._

  private def stateRowsNow(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)

  /** The three live sketch/eval maintenance streams (`q_stream_count_min`,
    * `q_stream_hll`, `q_stream_eval`) are complete-mode aggregations whose
    * 100 TB contract is SKETCH-BOUNDED STATE: the aggregation hash map can
    * never exceed the sketch shape (depth×width cells, m registers,
    * classes² confusion entries) no matter how many rows stream through.
    * The oracle rows pin state EQUIVALENCE to the batch rebuild; this test
    * pins the THROUGHPUT OBSERVABILITY the bench constant relies on —
    * progress records report the fed rows, a positive processing rate, and
    * bounded batch durations — plus the state ceiling across batches.
    */
  test("sketch maintenance streams: state bounded by sketch shape, progress metrics sane") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val src = mem.toDF().toDF("user_id", "value")
    val cm = graft.analytics.CountMin.sketch(src.select($"user_id"), "user_id")
    val q = cm.writeStream.format("memory").queryName("state_cm_out")
      .outputMode("complete").start()
    try {
      val perBatchState = (0 until 4).map { b =>
        mem.addData((0 until 500).map(i => ((b * 137 + i * 7) % 900L, i.toLong)): _*)
        q.processAllAvailable()
        stateRowsNow(q)
      }
      val progress = q.recentProgress.toSeq
      // every fed row is accounted for in the progress stream
      assert(progress.map(_.numInputRows).sum == 2000L,
        s"progress rows ${progress.map(_.numInputRows).sum} != fed 2000")
      // load batches report a positive processing rate and bounded duration
      val loaded = progress.filter(_.numInputRows > 0)
      assert(loaded.nonEmpty)
      loaded.foreach { p =>
        assert(p.processedRowsPerSecond > 0.0,
          s"batch ${p.batchId} reports no processing rate")
        assert(p.durationMs.get("triggerExecution") < 60000L,
          s"batch ${p.batchId} took ${p.durationMs.get("triggerExecution")} ms")
      }
      // state is sketch-bounded (4×512 cells), monotone under merge, and
      // NEVER tracks input volume
      assert(perBatchState.last <= 4L * 512L,
        s"CM state ${perBatchState.last} exceeds the 2048-cell sketch")
      assert(perBatchState == perBatchState.sorted,
        s"cell count must be monotone under add-merge, got $perBatchState")
      // the sink state equals the batch-built sketch over the same rows
      val fed = (0 until 4).flatMap(b =>
        (0 until 500).map(i => (b * 137 + i * 7) % 900L))
      val batchGrid = graft.analytics.CountMin.sketch(fed.toDF("user_id"), "user_id")
      val mismatches = spark.table("state_cm_out")
        .join(batchGrid.withColumnRenamed("cnt", "cnt_b"), Seq("r", "cell"), "full_outer")
        .filter(org.apache.spark.sql.functions.not($"cnt" <=> $"cnt_b")).count()
      assert(mismatches == 0L, s"streamed sketch diverges from batch rebuild")
    } finally q.stop()

    // HLL registers: state ≤ m, same progress contract
    val memH = MemoryStream[(Long, Long)]
    val hll = graft.analytics.HllGrid
      .registers(memH.toDF().toDF("user_id", "value").select($"user_id"), "user_id")
    val qh = hll.writeStream.format("memory").queryName("state_hll_out")
      .outputMode("complete").start()
    try {
      (0 until 3).foreach { b =>
        memH.addData((0 until 400).map(i => ((b * 1000 + i).toLong, 0L)): _*)
        qh.processAllAvailable()
      }
      val progress = qh.recentProgress.toSeq
      assert(progress.map(_.numInputRows).sum == 1200L)
      assert(progress.filter(_.numInputRows > 0)
        .forall(_.processedRowsPerSecond > 0.0))
      assert(stateRowsNow(qh) <= 256L,
        s"HLL state ${stateRowsNow(qh)} exceeds m=256 registers")
    } finally qh.stop()

    // confusion matrix: state ≤ classes², same progress contract
    val memE = MemoryStream[(String, String)]
    val cmx = memE.toDF().toDF("truth", "pred")
      .groupBy($"truth", $"pred").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    val qe = cmx.writeStream.format("memory").queryName("state_eval_out")
      .outputMode("complete").start()
    try {
      val classes = Seq("a", "b", "c")
      (0 until 3).foreach { b =>
        memE.addData((0 until 300).map(i =>
          (classes(i % 3), classes((i + b) % 3))): _*)
        qe.processAllAvailable()
      }
      val progress = qe.recentProgress.toSeq
      assert(progress.map(_.numInputRows).sum == 900L)
      assert(progress.filter(_.numInputRows > 0)
        .forall(_.processedRowsPerSecond > 0.0))
      assert(stateRowsNow(qe) <= 9L,
        s"confusion state ${stateRowsNow(qe)} exceeds classes²=9")
    } finally qe.stop()
  }
}
