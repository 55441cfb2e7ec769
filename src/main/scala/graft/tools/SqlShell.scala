package graft.tools

import graft.functions.GraftExtensions

/** Dev utility: run one SQL statement on a graft-extended session (native
  * functions + optimizer rules registered).
  * Usage: runMain graft.tools.SqlShell "<sql>" [sfDir] [factDir]
  * — testdata tables are temp views; if `factDir` is given, the partitioned
  * fact layout there is registered as view `fact`.
  */
object SqlShell {
  def main(args: Array[String]): Unit = {
    val sql = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val factDir = if (args.length > 2) Some(args(2)) else None
    val spark = graft.GraftSession.local(graft.GraftSession.cpus,
      "spark.sql.extensions" -> classOf[GraftExtensions].getName)
    spark.sparkContext.setLogLevel("ERROR")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
      catch { case _: Exception => () }
    }
    factDir.foreach(f => spark.read.parquet(f).createOrReplaceTempView("fact"))
    spark.sql(sql).show(50, truncate = false)
    spark.stop()
  }
}
