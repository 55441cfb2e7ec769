package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** Dev utility: run named queries N times against a given sf dir and print
  * per-iteration wall times (first = cold, rest = warm JIT/cache), split
  * into build (query construction, including its eager anchors), plan
  * (analysis + optimization + physical planning of Bench's fingerprint
  * aggregate) and exec (its collect).
  *
  * Conf A/Bs: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides session settings.
  *
  * Usage: runMain graft.tools.ProfileOne <q1,q2,...> <sfDir> [iters]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',')
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(';').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark = GraftSession.local(GraftSession.cpus, extra.toSeq: _*)
    names.foreach { q =>
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        val t1 = System.nanoTime()
        val fp = Bench.fingerprint(df)
        fp.queryExecution.executedPlan
        val t2 = System.nanoTime()
        fp.collect()
        val t3 = System.nanoTime()
        spark.sharedState.cacheManager.clearCache()
        println(f"[profile] $q iter $i: build=${(t1 - t0) / 1e9}%.2f " +
          f"plan=${(t2 - t1) / 1e9}%.2f exec=${(t3 - t2) / 1e9}%.2f " +
          f"total=${(t3 - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
