package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The one SparkSession configuration every workload runs under: the same
  * settings as `graft.Bench` (local[4], Kryo, UTC, a large codegen cache), plus
  * the graft session extensions so the partition guard can apply.
  */
object Session {
  val Cpus = 4

  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get("spark-warehouse").toAbsolutePath.toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }

  /** Bytes and data files under `p` (parquet/json payload files; no metadata). */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(f => Files.isRegularFile(f)).forEach { f =>
          val n = f.getFileName.toString
          if (!n.startsWith(".") && !n.startsWith("_")) { bytes += Files.size(f); files += 1 }
        }
        (bytes, files)
      } finally s.close()
    }

  def readLines(p: String): Vector[String] = {
    val src = scala.io.Source.fromFile(p, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }
}

/** One timed span: a layer boundary call made from the benchmark's files. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out at the end of the run. With tracing
  * off, [[span]] only runs its body: no clock reads, no local properties.
  *
  * The name of the innermost open span is also set as the Spark local property
  * `perfbench.span`, so jobs submitted inside it (including those of a
  * streaming query started inside it) are attributed to it by
  * [[LayerListener]].
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, String)]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[Long] { override def initialValue() = 0L }

  /** Tags spans (and, traced, Spark jobs) started by `body` with op `op`. */
  def withOp[T](op: Long, label: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    val (prev, prevLabel) = (opOf.get(), sc.getLocalProperty("perfbench.op"))
    opOf.set(op)
    if (enabled) sc.setLocalProperty("perfbench.op", label)
    try body
    finally {
      opOf.set(prev)
      if (enabled) sc.setLocalProperty("perfbench.op", prevLabel)
    }
  }

  /** Whether this thread is inside a measured op (not set-up or warm-up). */
  def inOp: Boolean = opOf.get() != 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val sc = spark.sparkContext
      stack.set((id, name) :: outer)
      sc.setLocalProperty("perfbench.span", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), opOf.get(), name, t0, t1))
        stack.set(outer)
        sc.setLocalProperty("perfbench.span", outer.headOption.map(_._2).orNull)
      }
    }

  def all: Seq[Span] = spans.toArray(Array.empty[Span]).toSeq
}

/** Per-span-name Spark work counters, attributed through the `perfbench.span`
  * local property of each job.
  */
final class LayerListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var tasks = 0L; var failedTasks = 0L
    var taskWaitMs = 0.0; var shuffleBytes = 0L
  }
  private val counts = mutable.HashMap[String, Counts]()
  private val opJobs = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private val stageSpan = mutable.HashMap[Int, String]()
  private val stageSubmitted = mutable.HashMap[Int, Long]()
  private def of(span: String) = counts.getOrElseUpdate(span, new Counts)

  /** Jobs of measured ops only (`perfbench.op` is set inside
    * [[Tracer.withOp]]); set-up and warm-up jobs count as "other".
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op")))
    val span = if (op.isEmpty) "other"
      else props.flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("other")
    of(span).jobs += 1
    op.filter(_.nonEmpty).foreach(o => opJobs(o) += 1)
    e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    // time from stage submission to the stage's first task launch
    stageSubmitted.remove(e.stageId).foreach { sub =>
      of(stageSpan.getOrElse(e.stageId, "other")).taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, "other"))
    c.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
    Option(e.taskMetrics).foreach(m => c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
  }

  def snapshot: Map[String, Counts] = synchronized(counts.toMap)
  /** Jobs per op label (the kernel name of a kernel call). */
  def jobsByOp: Map[String, Long] = synchronized(opJobs.toMap)
}

/** Peak block-manager storage memory (cached and anchor blocks, broadcasts),
  * sampled every 20 ms.
  */
final class StoragePeak(spark: SparkSession) {
  @volatile private var peak = 0L
  @volatile private var running = true
  private def used(): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
  private val t = new Thread(() => {
    while (running) { peak = math.max(peak, used()); Thread.sleep(20) }
  })
  t.setDaemon(true)
  t.start()
  def stop(): Long = { running = false; t.join(); math.max(peak, used()) }
}

/** Between two sequential ops, untimed: drop cached frames, and let a full GC
  * and Spark's ContextCleaner free the blocks of frames no longer referenced
  * (anchor blocks survive `clearCache` until then). Without it, the storage
  * peak depends on when the JVM happens to collect.
  */
object Gc {
  /** Time spent settling, which throughput figures leave out. */
  @volatile var totalNs = 0L

  def settle(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    Thread.sleep(100)
    totalNs += System.nanoTime() - t0
  }
}

/** Scan statistics of an executed plan, read through AQE query stages. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, partitions: Long, rows: Long)
  def scans(df: DataFrame): Scan = {
    val ss = collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    Scan(ss.map(m(_, "numFiles")).sum, ss.map(m(_, "numPartitions")).sum,
      ss.map(m(_, "numOutputRows")).sum)
  }
}

/** Order-sensitive digest of collected rows, computed the same way for the
  * program's answer and the benchmark's own expected answer.
  */
object Digest {
  def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }
  def rows(rs: Seq[Seq[Any]]): Long =
    rs.foldLeft(1125899906842597L)((h, r) => 31 * h + r.map(cell).mkString("\u0001").hashCode)
}

/** Minimal JSON writer for the run's raw result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
