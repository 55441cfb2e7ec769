package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Outcome of one timed op: a request, a nightly cycle or a kernel call. An op
  * that threw or answered wrongly is `ok = false`; its time is kept apart and
  * never enters the latency figures.
  */
final case class OpResult(kind: String, ms: Double, ok: Boolean, err: String = "")

/** What every workload provides to [[Main]]. */
trait Workload {
  /** Set-up rounds to time; each rebuilds the workload's state from scratch. */
  def setupRounds: Int
  def setup(round: Int): Unit
  /** One-time warm-up after the last round (caches, generated code, JIT). */
  def warmup(): Unit
  /** Runs ops until `deadlineNs` (or the workload's whole pass) is done. */
  def run(deadlineNs: Long): Seq[OpResult]
  /** Output checks of the whole run: name -> failure message, if any. */
  def checks(): Seq[(String, Option[String])]
  /** Bytes on disk in the workload's tables and bytes of its input parquet. */
  def space(): (Long, Long)
  /** Per-layer figures only the workload can see (counts, ratios, times). */
  def layerFigures(): Map[String, Double]
}

final class Context(val spark: SparkSession, val tracer: Tracer, val dataDir: String,
                    val inputs: String, val seconds: Double) {
  /** The sf0.1 input tables. */
  val sf01: String = s"$dataDir/sf0.1"
  def work(name: String): String = {
    val p = Paths.get(name).toAbsolutePath
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** `Main --workload w --data dir --inputs dir --seconds s --trace 0|1 --out f` */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val traced = args("trace") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.create()
    val listener = new LayerListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(traced, spark)
    val ctx = new Context(spark, tracer, args("data"), args("inputs"), args("seconds").toDouble)
    val w: Workload = args("workload") match {
      case "serve_api" => new ServeApi(ctx)
      case "nightly_batch" => new NightlyBatch(ctx)
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupS = (0 until w.setupRounds).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    // the storage peak is the measured phase's own, not left over from warm-up
    Gc.settle(spark)
    Gc.totalNs = 0L
    val peak = new StoragePeak(spark)
    val t0 = System.nanoTime()
    val ops = w.run(t0 + (ctx.seconds * 1e9).toLong)
    val measuredS = (System.nanoTime() - t0 - Gc.totalNs) / 1e9
    val checks = w.checks()
    val peakBytes = peak.stop()
    val (tableBytes, inputBytes) = w.space()
    val figures = w.layerFigures()
    if (traced) org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    val counters = listener.snapshot.map { case (span, c) =>
      span -> Map("jobs" -> c.jobs, "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks,
        "task_wait_ms" -> c.taskWaitMs, "shuffle_bytes" -> c.shuffleBytes)
    }
    val spans = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    val out = Map(
      "workload" -> args("workload"),
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "measured_s" -> measuredS,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)),
      "checks" -> checks.map { case (n, e) => Map("name" -> n, "error" -> e.orNull) },
      "storage_peak_bytes" -> peakBytes,
      "table_bytes" -> tableBytes,
      "input_bytes" -> inputBytes,
      "figures" -> figures,
      "counters" -> counters,
      "jobs_by_op" -> listener.jobsByOp,
      "spans" -> spans)
    Files.writeString(Paths.get(args("out")), Json(out))
    spark.stop()
  }
}
