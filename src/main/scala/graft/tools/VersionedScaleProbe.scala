package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe for the versioned/maintenance family (the r12 verdict's
  * Next #3: `q_branch_merge` and the `*_incremental` ops rest on small
  * two-snapshot fixtures — no tier covered manifest-store merge/CDC at
  * 10×/30× rows or snapshot counts).
  *
  * Two axes, because the family has two potential super-linear terms:
  *
  *  - ROW tier (x1/x10/x30 of a 200k-key table): three-way branch merge
  *    (conflict check + merge commit + merged fold), adjacent-snapshot
  *    CDC, and MERGE-INTO upsert. All three are built from per-key
  *    joins/anti-joins, so time and shuffle must grow ~linearly with the
  *    table; anything quadratic (e.g. a conflict check that re-diffs per
  *    key) would surface immediately.
  *  - SNAPSHOT tier (S = 5/50/150 append commits of a fixed 20k-row
  *    delta): adjacent CDC + latest read + time travel to v2 +
  *    expire/orphan maintenance. Manifests are per-snapshot line files, so
  *    metadata work must stay O(S) (expire/orphans) or O(1 manifest)
  *    (time travel); the data term of read(latest)/CDC grows with TOTAL
  *    rows — which is itself ∝ S here — so the gate is "tracks total
  *    rows, never S·rows".
  *
  * Output format matches [[ScaleProbe]] (min-of-3 time, shuffle bytes of
  * the timed pass, output rows, then `[scale]` ratio lines), so SCALE.md
  * tables can splice rows from either probe.
  *
  * Usage: runMain graft.tools.VersionedScaleProbe [workDir]
  */
object VersionedScaleProbe {

  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "/tmp/graft_vscale"
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    import graft.maintain.Versioned
    val listener = new ShuffleListener
    spark.sparkContext.addSparkListener(listener)
    spark.range(1L << 20).agg(sum(col("id"))).collect()

    def fresh(tag: String): String = {
      val d = new java.io.File(workDir, tag)
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(del)
        f.delete(); ()
      }
      if (d.exists()) del(d)
      d.mkdirs()
      d.toString
    }

    val results = scala.collection.mutable.ArrayBuffer[
      (String, String, Int, Double, Long, Long, Long)]()
    def sample(op: String, expect: String, tier: Int, samples: Int)
              (f: => DataFrame): Unit = {
      var bestT = Double.MaxValue
      var bw = 0L; var br = 0L; var rows = 0L
      (1 to samples).foreach { _ =>
        listener.reset()
        val t0 = System.nanoTime()
        val df = f
        graft.Bench.fullyEvaluate(df)
        val dt = (System.nanoTime() - t0) / 1e9
        val n = df.count()
        spark.sharedState.cacheManager.clearCache()
        if (dt < bestT) {
          bestT = dt; bw = listener.write.get; br = listener.read.get; rows = n
        }
      }
      println(f"$op%-20s x$tier%-5s $bestT%8.2f ${bw / 1e6}%9.1f " +
        f"${br / 1e6}%9.1f $rows%9d")
      results += ((op, expect, tier, bestT, bw, br, rows))
    }

    val baseRows = 200000L

    // ---- ROW tier --------------------------------------------------------
    Seq(1, 10, 30).foreach { n =>
      val rows = baseRows * n
      def baseDf = spark.range(rows).select(col("id").as("k"),
        (col("id") % 997).as("v"))
      // per-sample fresh tables for the MUTATING merge (three prebuilt
      // tables, one merge each — build cost untimed; the timed region is
      // the q_branch_merge shape: conflict check + merge + merged fold)
      val mergeTbls = (1 to 3).map { i =>
        val t = fresh(s"merge_x${n}_$i")
        Versioned.commit(baseDf, t)
        Versioned.createBranch(spark, t, "dev")
        Versioned.commit(baseDf.withColumn("v",
          when(col("k") % 40 === 0, col("v") + 1).otherwise(col("v"))),
          t, append = false)
        Versioned.commitToBranch(
          baseDf.withColumn("v",
            when(col("k") % 40 === 10, col("v") + 2).otherwise(col("v")))
            .unionByName(spark.range(rows, rows + rows / 40)
              .select(col("id").as("k"), lit(7L).as("v"))),
          t, "dev", append = false)
        t
      }.iterator
      sample("branchMergeFold", "~N", n, 3) {
        val t = mergeTbls.next()
        val conflicts = Versioned.branchConflicts(spark, t, "dev", Seq("k"))
        Versioned.mergeBranch(spark, t, "dev", Seq("k"))
        Versioned.read(spark, t)
          .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
          .crossJoin(conflicts.agg(count(lit(1)).as("n_conflicts")))
      }
      // CDC + upsert on one non-consumed table (upsert appends snapshots;
      // the diff targets fixed versions so repeat samples are identical)
      val t = fresh(s"cdc_x$n")
      Versioned.commit(baseDf, t)
      Versioned.upsert(
        baseDf.filter(col("k") % 10 === 0)
          .withColumn("v", col("v") + 1)
          .unionByName(spark.range(rows, rows + rows / 20)
            .select(col("id").as("k"), lit(3L).as("v"))),
        t, Seq("k"), precedence = col("v"))
      sample("cdcDiffFold", "~N", n, 3) {
        Versioned.snapshotDiff(spark, t, 1, 2)
          .groupBy(col("__change")).agg(count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"))
      }
      sample("upsertCommit", "~N", n, 3) {
        val v = Versioned.upsert(
          baseDf.filter(col("k") % 7 === 0).withColumn("v", col("v") + 5),
          t, Seq("k"), precedence = col("v"))
        Versioned.read(spark, t, Some(v))
          .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
      }
    }

    // ---- SNAPSHOT tier ---------------------------------------------------
    val deltaRows = 20000L
    Seq(5, 50, 150).foreach { sCount =>
      val t = fresh(s"snaps_$sCount")
      (0 until sCount).foreach { i =>
        Versioned.commit(
          spark.range(i * deltaRows, (i + 1) * deltaRows)
            .select(col("id").as("k"), (col("id") % 997).as("v")),
          t) // append = true: each snapshot carries all previous files
      }
      sample("snapDiffAdjacent", "rows", sCount, 3) {
        Versioned.snapshotDiff(spark, t, sCount - 1, sCount)
          .groupBy(col("__change")).agg(count(lit(1)).as("n"))
      }
      sample("snapReadLatest", "rows", sCount, 3) {
        Versioned.read(spark, t)
          .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
      }
      sample("snapTimeTravelV2", "flat", sCount, 3) {
        Versioned.read(spark, t, Some(2))
          .agg(count(lit(1)).as("n_rows"))
      }
      // mutating maintenance: one sample (the op destroys its input)
      sample("expireAndOrphans", "S", sCount, 1) {
        val expired = Versioned.expireSnapshots(spark, t, keepLast = 2)
        val orphans = Versioned.removeOrphanFiles(spark, t)
        spark.range(1).select(lit(expired.size).as("n_expired"),
          lit(orphans.size).as("n_orphans"))
      }
    }

    // ratio summary vs each op's smallest tier
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (op, rs) =>
      val one = rs.minBy(_._3)
      rs.filter(_._3 != one._3).sortBy(_._3).foreach { big =>
        val f = big._3.toDouble / one._3
        println(f"[scale] $op x${big._3}/x${one._3} (${f}%.0fx input): " +
          f"time x${big._4 / one._4}%.2f, shufW x${
            if (one._5 == 0) Double.NaN else big._5.toDouble / one._5}%.2f, " +
          f"rows x${
            if (one._7 == 0) Double.NaN else big._7.toDouble / one._7}%.2f " +
          f"(expect ${big._2})")
      }
    }
    spark.stop()
  }
}
