package graft.queries

import graft.SparkSpec

/** The one-shot stream lifecycle leaves nothing behind: each memory-sink
  * `q_stream_*` query returns its rows as a local frame, and by the time it
  * returns its stream has stopped and its sink's temp view is gone.
  */
class OneShotStreamSpec extends SparkSpec {

  private val memorySinkQueries = Seq("q_stream_tumbling", "q_stream_dedup",
    "q_stream_join", "q_stream_session", "q_stream_count_min", "q_stream_hll",
    "q_stream_psi", "q_stream_quantile", "q_stream_eval")

  test("memory-sink stream queries stop their streams and drop their sink views") {
    val rows = memorySinkQueries.map { q =>
      q -> graft.SparkEntry.queries(q)(spark, sf()).collect().length
    }
    rows.foreach { case (q, n) => assert(n > 0, s"$q returned no rows") }
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, s"sink views left registered: ${views.mkString(", ")}")
    assert(spark.streams.active.isEmpty,
      s"streams left running: ${spark.streams.active.map(_.name).mkString(", ")}")
  }
}
