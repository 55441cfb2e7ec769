package graft.plans

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Test helpers for [[InjectPartitionGuard]] over a `Layout.writeFact`
  * table. The shared test session is built without
  * [[graft.functions.GraftExtensions]], so the rule is installed per block.
  */
object GuardTesting extends AdaptiveSparkPlanHelper {

  /** Runs `f` with the rule installed and `optIn` locations opted in, and
    * undoes both afterwards.
    */
  def withGuard[T](spark: SparkSession, optIn: String*)(f: => T): T = {
    val rule = InjectPartitionGuard()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ rule
    optIn.foreach(InjectPartitionGuard.optIn(spark, _))
    try f finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == rule)
      spark.conf.unset(InjectPartitionGuard.PathsConfKey)
    }
  }

  /** The buckets of every `device_id_bucket` conjunct in the optimized
    * plan's filters; empty if there is none.
    */
  def bucketConjuncts(df: DataFrame): Seq[Set[Int]] =
    df.queryExecution.optimizedPlan.collect { case Filter(c, _) => c }
      .flatMap(_.collect {
        case EqualTo(a, Literal(b: Int, _)) if a.references.exists(_.name == "device_id_bucket") =>
          Set(b)
        case In(a, list) if a.references.exists(_.name == "device_id_bucket") =>
          list.collect { case Literal(b: Int, _) => b }.toSet
      })

  /** `(device_id_bucket, received_day)` of every partition the file scans
    * of `df`'s physical plan select (static pruning only).
    */
  def selectedPartitions(df: DataFrame): Set[(Int, LocalDate)] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap { s =>
        val schema = s.relation.partitionSchema
        val (b, d) = (schema.fieldIndex("device_id_bucket"), schema.fieldIndex("received_day"))
        s.selectedPartitions.filePartitionIterator.map(p =>
          (p.values.getInt(b), LocalDate.ofEpochDay(p.values.getInt(d).toLong)))
      }.toSet

  /** `(device_id_bucket, received_day)` of every partition directory of the
    * table at `dir`.
    */
  def partitionsOnDisk(dir: String): Set[(Int, LocalDate)] = {
    def values(f: java.io.File, key: String) =
      f.listFiles().toSeq.filter(_.getName.startsWith(key + "="))
        .map(x => (x, x.getName.stripPrefix(key + "=")))
    (for {
      (bf, b) <- values(new java.io.File(dir), "device_id_bucket")
      (_, d) <- values(bf, "received_day")
    } yield (b.toInt, LocalDate.parse(d))).toSet
  }
}
