package graft.tools

import graft.maintain.Layout
import graft.queries.TelematicsQueries

/** Ops utility: materialize the partitioned fact layout from the events
  * testdata. Usage: runMain graft.tools.WriteFact <sfDir> <outDir>
  */
object WriteFact {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    Layout.writeFact(TelematicsQueries.normalizedFact(spark, sfDir), outDir)
    println(s"[writefact] wrote $outDir")
    spark.stop()
  }
}
