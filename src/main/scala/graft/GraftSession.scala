package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory: Bench, Verify, every dev tool and the
  * test suites all run under the same configuration, so a tool's timing
  * measures what Bench measures.
  */
object GraftSession {

  /** Local cores to run on: `SPARK_GRAFT_CPUS`, else the machine's count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` session with `cpus` shuffle partitions. `extra` entries
    * are applied last, so they override any default below.
    */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      // Kryo for shuffle/checkpoint blocks (the standard cluster default;
      // ABA-measured ~8-12% on the anchor/shuffle-heavy class, r15 NOTES)
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      // pass-major sampling cycles the FULL query set between one query's
      // samples; the default 100-entry codegen class cache then evicts
      // every query's generated classes between its own passes, so each
      // "steady" sample pays full Janino+JIT recompile (~+0.15 s/query,
      // measured +35% on the whole suite). A long-running cluster job has a
      // stable query set resident in this cache — size it so the benchmark
      // does too.
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.ui.enabled" -> "false")
    val spark = (defaults ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
