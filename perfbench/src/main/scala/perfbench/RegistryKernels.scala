package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** The pipeline jobs of `nightly_batch`: six registry queries called through
  * `SparkEntry.queries`, in a seeded order, each fully evaluated by an
  * xxhash64 `bit_xor` fingerprint over all its columns and checked against
  * the fingerprint recorded once the DuckDB oracle had passed on the same
  * input tables.
  */
final class RegistryKernels(ctx: Context) {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  /** The kernels in the run's seeded order. */
  val order: Vector[String] = Fs.readLines(s"${ctx.inputs}/kernels.txt")
  private val dir = s"${ctx.dataDir}/${RegistryKernels.Scale}"
  private var anchorBytes = 0L

  /** Opens every input table (schema and file listing). */
  def setup(): Unit =
    GenData.Tables.foreach(t => graft.Tables.cachedParquet(spark, s"$dir/$t.parquet").inputFiles)

  /** One untimed pass: generated code, JIT and the kernels' fixture tables. */
  def warmup(): Unit = order.foreach { name =>
    Expected.fingerprint(SparkEntry.queries(name)(spark, dir))
    spark.sharedState.cacheManager.clearCache()
  }

  private def storageUsed(): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  /** One kernel call: build (construction, including eager anchors), plan and
    * execute the fingerprint. Returns the fingerprint.
    */
  private def fingerprint(name: String): (Long, Long) = {
    val before = if (tracer.enabled) storageUsed() else 0L
    val df = tracer.span("queries.build")(SparkEntry.queries(name)(spark, dir))
    if (tracer.enabled) anchorBytes += math.max(0L, storageUsed() - before)
    val fp = Expected.fingerprintFrame(df)
    tracer.span("queries.plan") { fp.queryExecution.executedPlan; () }
    val r = tracer.span("queries.exec")(fp.collect().head)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** One measured kernel call; throws if its answer differs from the
    * recorded one.
    */
  def call(name: String): Unit = {
    val got = fingerprint(name)
    val want = Expected.kernels.get(name)
    if (!want.contains(got)) throw new IllegalStateException(s"$name: fingerprint $got, recorded ${want.orNull}")
  }

  def checks(): Seq[(String, Option[String])] =
    Seq("every kernel has a recorded fingerprint" ->
      order.find(n => !Expected.kernels.contains(n)).map(n => s"$n has none"))

  /** Fixture tables the kernels write, and the input tables they read. */
  def space(): (Long, Long) = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val fixtures = java.nio.file.Files.list(tmp).filter(_.getFileName.toString.startsWith("graft_"))
      .toArray.map(p => Fs.usage(p.asInstanceOf[java.nio.file.Path])._1).sum
    (fixtures, GenData.Tables.map(t => java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/$t.parquet"))).sum)
  }

  def layerFigures(): Map[String, Double] = Map("queries.anchor_bytes" -> anchorBytes.toDouble)
}

object RegistryKernels {
  /** The input tables the kernels run on (see README.md for why not sf0.1). */
  val Scale = "sf0.01"
}

/** Recorded answers (`expected.tsv` on the classpath) and the fingerprint
  * they were recorded with.
  */
object Expected {
  private lazy val lines: Seq[Array[String]] = {
    val in = getClass.getResourceAsStream("/perfbench/expected.tsv")
    require(in != null, "perfbench/expected.tsv is missing from the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t')).toVector
    finally src.close()
  }
  lazy val kernels: Map[String, (Long, Long)] =
    lines.collect { case Array("kernel", n, c, f) => n -> ((c.toLong, f.toLong)) }.toMap
  lazy val riskByDate: Map[String, (Long, Long)] =
    lines.collect { case Array("risk", d, c, f) => d -> ((c.toLong, f.toLong)) }.toMap

  private def hash(df: DataFrame) = xxhash64(struct(df.columns.map(c => df.col(s"`$c`")).toSeq: _*))

  /** One row: (row count, bit_xor of xxhash64 over all columns). */
  def fingerprintFrame(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), call_function("bit_xor", hash(df)))

  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = fingerprintFrame(df).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def fingerprintBy(df: DataFrame, key: String): Map[String, (Long, Long)] =
    df.groupBy(col(key).cast("string").as("__k"))
      .agg(count(lit(1)), call_function("bit_xor", hash(df)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
}

/** `Record <dataDir> <kernels> <out>`: writes `expected.tsv` — the
  * fingerprints of the kernels (on the [[RegistryKernels.Scale]] tables) and
  * of `q_risk_score_daily` per report date at sf0.1. Run it only after the
  * DuckDB oracle has passed on the same tables (record_expected.py).
  */
object Record {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = Session.create()
    val dir = s"${args(0)}/${RegistryKernels.Scale}"
    val kernels = args(1).split(',').toSeq
    val out = new StringBuilder("# kind\tname\trows\tbit_xor(xxhash64(all columns))\n")
    kernels.sorted.foreach { n =>
      val (c, f) = Expected.fingerprint(SparkEntry.queries(n)(spark, dir))
      out ++= s"kernel\t$n\t$c\t$f\n"
      spark.sharedState.cacheManager.clearCache()
    }
    val risk = SparkEntry.queries("q_risk_score_daily")(spark, s"${args(0)}/sf0.1").select(DailyCycle.RiskCols.map(col): _*)
    Expected.fingerprintBy(risk, "report_date").toSeq.sorted.foreach { case (d, (c, f)) =>
      out ++= s"risk\t$d\t$c\t$f\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(2)), out.toString)
    spark.stop()
  }
}
