package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev utility: dump `.explain("formatted")` for every registered query (or a
  * comma-separated subset) to one file per query, for plan-shape audits
  * (Exchange counts, join strategies, PushedFilters/ReadSchema, codegen
  * spans). The dumped QUERY is not executed, so AQE plans print their
  * initial (isFinalPlan=false) shape — the right artifact for auditing
  * static plan decisions. NOTE (ADVICE r17): query CONSTRUCTION does run
  * real jobs — many builders anchor multi-consumer frames with eager
  * `localCheckpoint(true)` — so a dump needs readable test data, and a
  * full-registry pass accumulates checkpoint RDD blocks until the
  * ContextCleaner GCs them (`clearCache` below frees persisted datasets
  * only, not checkpoint blocks).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [sfDir] [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PlanDump <outDir> [sfDir] [q1,q2,...]")
      return
    }
    val outDir = java.nio.file.Paths.get(args(0))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    val wanted: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (args.length > 2) {
        val names = args(2).split(',').toSet
        SparkEntry.queries.filter { case (k, _) => names(k) }
      } else SparkEntry.queries
    // index builds some queries probe lazily at first use; plans of those
    // queries reference the prebuilt artifacts, so build them once up front
    try graft.queries.PipelineQueries.prebuildIndexes(spark, dir)
    catch { case e: Throwable => System.err.println(s"[plandump] prebuild failed: $e") }
    val mode = ExplainMode.fromString("formatted")
    wanted.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val txt = df.queryExecution.explainString(mode)
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
        // queries may persist intermediates during construction
        spark.sharedState.cacheManager.clearCache()
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: $e")
          java.nio.file.Files.writeString(outDir.resolve(s"$name.ERROR.txt"),
            e.toString)
      }
    }
    spark.stop()
    println(s"[plandump] wrote ${wanted.size} plans to $outDir")
  }
}
