package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one-shot stream lifecycle behind every live `q_stream_*` registry
  * query: a file source, one `Trigger.AvailableNow` run at a pinned
  * shuffle width, and (for the memory-sink queries) the sink's final rows
  * handed back as a local frame with the sink's temp view dropped. The
  * stateful operators run inside the timed lifecycle, so a bench of a
  * stream query times the real stream.
  */
private[queries] object OneShotStream {

  /** Shuffle partitions while a stream query STARTS. A stateful streaming
    * aggregation allocates one state-store instance per shuffle partition
    * PER BATCH; the registry's stream fixtures carry tiny bounded state
    * (buckets, registers, sessions), nowhere near local[32]'s 32
    * partitions — 8 cut the fixed state-store cost ~20 % per query
    * (measured on q_stream_psi: 1.6 → 1.3 s steady), and the r13 8-vs-4
    * A/B (9 stream queries, min-of-3, same window) took another
    * ~0.05 s/query at 4 with no value change, so the fixtures pin 4. The
    * conf is read at query START, so the restore cannot affect a running
    * stream; registry queries execute sequentially (Verify/Bench), so the
    * temporary session mutation is not racy.
    *
    * The 4 is a calibration for THESE fixtures, not a magic number. The
    * sizing rule a deployment applies: shuffle partitions ≈
    * ceil(peak state volume / target per-store state size) — RocksDB/
    * HDFS-backed stores run best holding ~0.5–2 GiB each, so a stream
    * carrying e.g. 200 GiB of dedup/session state wants a few hundred
    * partitions, while these fixtures carry KB-scale bounded state
    * (fixed bucket grids, 32-register sketches, a handful of open
    * sessions), where anything beyond a handful only multiplies
    * per-batch store open/commit overhead. Resizing requires a new
    * checkpoint dir (state is partition-count-keyed), which is why it is
    * pinned at START and not varied mid-stream.
    */
  private val ShufflePartitions = 4

  /** `dir`'s events table as a file stream, `ts` normalized by
    * [[graft.Tables.eventTs]]. The source dir holds a copy of the events
    * parquet, made once per process and shared by every stream query.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val src = graft.Fixtures.dir("events_stream", dir) { p =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(dir, "events.parquet"),
        java.nio.file.Paths.get(p, "events.parquet"))
    }
    graft.Tables.eventTs(
      s.readStream.schema(graft.Tables.parquetSchema(s, src)).parquet(src))
  }

  /** Run the stream `df` once to completion (`AvailableNow`) into the sink
    * `sink` configures. The writer is built here, from `df`, because the
    * shuffle pin needs `df`'s session.
    */
  def run(df: DataFrame)(sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val q = graft.GraftSession.withConf(df.sparkSession,
        "spark.sql.shuffle.partitions" -> ShufflePartitions.toString) {
      sink(df.writeStream).trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
  }

  /** Run the stream `df` into a memory sink in `outputMode` and return a
    * frame over the sink's final rows, with the sink's temp view dropped:
    * the returned frame is the only reference left to the rows (its
    * analyzed plan holds the sink, not the view name), so they are freed
    * with it instead of at session end. Copying them into a local frame
    * instead measured ~0.25 s slower on q_stream_dedup and
    * q_stream_session at sf0.1 (a 100k-row local relation is hashed and
    * re-converted at planning), and frees nothing sooner.
    */
  def drain(df: DataFrame, outputMode: String): DataFrame = {
    val s = df.sparkSession
    val name = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      run(df)(_.format("memory").queryName(name).outputMode(outputMode))
      s.table(name)
    } finally { s.catalog.dropTempView(name); () }
  }
}
