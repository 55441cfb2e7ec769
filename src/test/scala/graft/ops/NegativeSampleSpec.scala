package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NegativeSampleSpec extends SparkSpec {
  import spark.implicits._

  private def positives = Seq(
    (1L, 10L), (1L, 11L), (1L, 12L),
    (2L, 10L), (2L, 13L),
    (3L, 14L)
  ).toDF("user_id", "item")

  private def catalog = (10L to 29L).toDF("item_id")

  test("negatives are never positives, at most k per user, ordered by probe index") {
    val neg = Sampling.negativeSample(positives, catalog)
    val rows = neg.collect()
    val pos = positives.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      assert(!pos.contains((r.getLong(0), r.getLong(1))),
        s"positive leaked into negatives: $r")
    }
    val perUser = rows.groupBy(_.getLong(0))
    assert(perUser.values.forall(_.length <= 3))
    perUser.values.foreach { rs =>
      val idx = rs.map(_.getInt(2)).sorted
      assert(idx.distinct.length == idx.length, "duplicate probe index")
    }
    // catalog membership
    val cat = catalog.collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(cat.contains(r.getLong(1))))
  }

  test("deterministic across reruns and partitionings; draws replay the md5 probes") {
    val a = Sampling.negativeSample(positives, catalog).orderBy("user_id", "probe_idx")
      .collect().toSeq
    val b = Sampling.negativeSample(positives.repartition(5), catalog.repartition(3))
      .orderBy("user_id", "probe_idx").collect().toSeq
    assert(a == b, "same draw on any partitioning")
    // probe i of user u is item 10 + md5U32("neg:u:i") mod 20; a user keeps
    // the first 3 probes that are neither repeats nor positives
    def md5U32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    val pos = positives.as[(Long, Long)].collect().toSet
    val expected = pos.map(_._1).toSeq.sorted.flatMap { u =>
      (0 until 12).map(i => (u, 10L + md5U32(s"neg:$u:$i") % 20, i))
        .groupBy(_._2).values.map(_.minBy(_._3)).toSeq.sortBy(_._3)
        .filterNot(t => pos.contains((u, t._2))).take(3)
    }
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))) == expected)
  }

  test("plan: catalog stats are a 1-row broadcast, no cartesian product") {
    val p = Sampling.negativeSample(positives, catalog)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(p.contains("Broadcast"), s"stats must broadcast:\n$p")
  }
}
