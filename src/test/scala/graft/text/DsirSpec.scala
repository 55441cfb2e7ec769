package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a b", "tgt"),   // bigrams: "a b" ×2, "b a"
    (2L, "x y", "raw"),       // "x y"
    (3L, "a b c", "raw"),     // "a b", "b c"
    (4L, "solo", "raw")       // no bigram
  ).toDF("doc_id", "text", "source")

  test("bucket weights follow the power-of-two log-ratio formula") {
    // one-bigram documents score exactly their bucket's weight
    // w = bitlen(tgt+1) - bitlen(raw+1); the four bigrams hash to distinct
    // buckets (fixed md5 values)
    val planted = Seq("p q" -> ((3, 0)), "r s" -> ((1, 6)), "u v" -> ((2, 2)), "k l" -> ((0, 1)))
    val rows = planted.flatMap { case (bg, (t, r)) =>
      Seq.fill(t)(bg -> "tgt") ++ Seq.fill(r)(bg -> "raw") }
    val df = rows.zipWithIndex.map { case ((bg, src), i) => (i.toLong, bg, src) }
      .toDF("doc_id", "text", "source")
    def bitlen(n: Long) = 64 - java.lang.Long.numberOfLeadingZeros(n)
    val weight = planted.map { case (bg, (t, r)) => bg -> (bitlen(t + 1L) - bitlen(r + 1L)).toLong }.toMap
    assert(weight == Map("p q" -> 2L, "r s" -> -1L, "u v" -> 0L, "k l" -> -1L))
    val scores = Dsir.docScores(df, "tgt").select($"doc_id", $"n_bigrams", $"score")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    rows.zipWithIndex.foreach { case ((bg, _), i) =>
      assert(scores(i.toLong) == ((1L, weight(bg))), s"doc $i ($bg)")
    }
  }

  test("doc scores: target-like docs score higher; bigram-less docs score zero") {
    val s = Dsir.docScores(docs, "tgt").collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_bigrams"), r.getAs[Long]("score"))).toMap
    assert(s(1L) == (3L, 1L), "target doc: w(a b)+w(a b)+w(b a) = 0+0+1")
    assert(s(2L) == (1L, -1L))
    assert(s(3L) == (2L, -1L), "a b (0) + b c (−1)")
    assert(s(4L) == (0L, 0L), "single-token doc survives with zero score")
  }

  test("scores are partitioning-invariant") {
    val a = Dsir.docScores(docs, "tgt").orderBy("doc_id").collect().toSeq
    val b = Dsir.docScores(docs.repartition(7), "tgt").orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("weight table stays bucket-bounded and broadcastable") {
    val big = graft.Tables.documents(spark, sf())
    val scored = Dsir.docScores(big, "src0")
    scored.collect()
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"weights must broadcast back:\n$p")
    // the broadcast weight table holds one row per bucket: at most 256
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val broadcastRows = nodes(scored.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
          if b.output.exists(_.name == "weight") => b.metrics("numOutputRows").value
    }
    assert(broadcastRows.nonEmpty && broadcastRows.forall(n => n > 0 && n <= 256),
      s"weight broadcast rows: $broadcastRows")
  }
}
