package graft.queries

import graft.Anchor._
import graft.analytics.StarQueries
import graft.maintain.LocalFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational extension queries (joins/windows/top-k/set ops/rollup) on the
  * star schema, with DuckDB oracles. See [[StarQueries]] for the determinism
  * discipline (exact DECIMAL sums; FP only in derived scalars).
  */
object AnalyticsQueries {

  private val q1Oracle =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order,
      |  round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*), 4) AS avg_qty,
      |  round(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*), 4) AS avg_price
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val q3Oracle =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1996-06-30'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  private val q5Oracle =
    """SELECT n_name,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  private val q7Oracle =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  private val q9Oracle =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) -
      |    CAST(p_retailprice * l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_type LIKE '%PROMO%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  private val topkOracle =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  private val setOpsOracle =
    """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
      |     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
      |SELECT 'union' AS op, count(*) AS n FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
      |UNION ALL
      |SELECT 'intersect', count(*) FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
      |UNION ALL
      |SELECT 'except', count(*) FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
      |ORDER BY op""".stripMargin

  private val sessionOracle =
    """WITH g AS (
      |  SELECT user_id, event_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events
      |)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  max(gap_us) AS max_gap_us
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  private val rollupOracle =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  private val sqlSurfaceOracle =
    """SELECT r_name, count(DISTINCT n_nationkey) AS n_nations, count(c_custkey) AS n_customers
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |LEFT JOIN customer ON c_nationkey = n_nationkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  private val statsOracle =
    """SELECT c_mktsegment, count(*) AS n,
      |  count(DISTINCT c_nationkey) AS n_nations,
      |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
      |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_bal,
      |  CAST(CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_sq,
      |  round(CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*), 4) AS avg_bal,
      |  round(sqrt((CAST(CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)
      |    - CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
      |      * CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*))
      |    / (count(*) - 1)), 4) AS std_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  private def skewJoinQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.SkewJoin
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val li = graft.Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "okey")
    val o = graft.Tables.orders(s, dir).withColumnRenamed("o_orderkey", "okey")
    SkewJoin.saltedJoin(li, o, "okey", saltFactor = 8, disambiguator = col("l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Oracle is the *unsalted* join: proves the salted rewrite is semantically
    * identity.
    */
  private val skewJoinOracle =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    import graft.analytics.RangeJoin
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("pt"))
    val iv = graft.Tables.events(s, dir).filter(col("event_type") === "error")
      .select(col("event_id").as("interval_id"), unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + 600L * 1000000L).as("hi"))
    RangeJoin.pointInInterval(ev, iv, "pt", "lo", "hi", binWidth = 300L * 1000000L)
      .groupBy(col("interval_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("interval_id"))
  }

  /** Oracle is the naive theta join — proves the binned rewrite is identity. */
  private val rangeJoinOracle =
    """WITH ev AS (SELECT event_id, epoch_us(ts) AS pt FROM events),
      |iv AS (SELECT event_id AS interval_id, epoch_us(ts) AS lo,
      |       epoch_us(ts) + 600000000 AS hi FROM events WHERE event_type = 'error')
      |SELECT interval_id, count(*) AS n
      |FROM ev JOIN iv ON pt >= lo AND pt < hi
      |GROUP BY interval_id ORDER BY interval_id""".stripMargin

  private def pivotQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .select(col("user_id") +: Seq("click", "error", "purchase", "signup", "view")
        .map(c => coalesce(col(c), lit(0L)).as(s"n_$c")): _*)
      .orderBy(col("user_id"))
  }

  private val pivotOracle =
    """SELECT user_id,
      |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
      |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
      |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
      |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
      |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `unpivot` (wide → long, the inverse of [[pivotQ]]): the per-type count
    * columns melt back into (user_id, event_type, n) rows. Narrow operator —
    * one Expand node, no shuffle beyond the feeding aggregate.
    */
  private def unpivotQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    pivotQ(s, dir).unpivot(
        Array(col("user_id")),
        Seq("click", "error", "purchase", "signup", "view")
          .map(c => col(s"n_$c").as(c)).toArray,
        "event_type", "n")
      .orderBy(col("user_id"), col("event_type"))
  }

  private val unpivotOracle =
    """WITH p AS (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY user_id, event_type
      |), grid AS (
      |  SELECT user_id, et AS event_type
      |  FROM (SELECT DISTINCT user_id FROM events),
      |    unnest(['click', 'error', 'purchase', 'signup', 'view']) t(et)
      |)
      |SELECT g.user_id, g.event_type, coalesce(p.n, 0) AS n
      |FROM grid g LEFT JOIN p USING (user_id, event_type)
      |ORDER BY user_id, event_type""".stripMargin

  private def tumblingQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    graft.Tables.events(s, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DecimalType(18, 4))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
      .orderBy(col("window_start"))
  }

  private val tumblingOracle =
    """SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin

  /** The SAME tumbling aggregation executed as a LIVE Structured Streaming
    * query — file source over the events parquet, one-shot run,
    * complete-mode memory sink — then compared against the identical batch
    * SQL oracle as `q_tumbling_window`. This puts actual streaming
    * execution (source → stateful agg → sink commit) under the driver's
    * hash gate, the "stateless/stateful streams = batch functions"
    * contract of §2.10 proven end-to-end rather than spec-only. The memory
    * sink holds only the aggregate (≤ #windows rows — bounded); each call
    * runs a fresh uniquely-named query, so benches time the real stream.
    */
  private def streamTumblingQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    OneShotStream.drain(OneShotStream.events(s, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DecimalType(18, 4))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value")),
      "complete").orderBy(col("window_start"))
  }

  /** Start a one-shot streaming lifecycle ([[OneShotStream]]) with the
    * trailing NO-DATA micro-batch disabled, for queries where that batch
    * is provably zero-effect: an r16 Scratch decomposition measured it at
    * ~0.9 s of q_stream_join's ~3.2 s lifecycle while (a) emitting zero
    * rows (inner-join / append-dedup eviction produces no output) and
    * (b) evicting zero state rows (stateRows 40025 → 40025 — the fixture's
    * event span ≈ the watermark delay, so nothing is expirable), after
    * which the query stops and drops the state anyway. This is the
    * documented production knob (`spark.sql.streaming.noDataMicroBatches
    * .enabled`) for exactly this one-shot shape — dead final-eviction work
    * — NOT timer narrowing: the data micro-batch, state stores, offset and
    * commit logs all stay inside the lifecycle. Queries whose RESULT rides
    * watermark advance after the last file (q_stream_late's window-close
    * emission) must NOT use this wrapper.
    */
  private def withNoDataBatchesDisabled[T](
      s: org.apache.spark.sql.SparkSession)(f: => T): T =
    graft.GraftSession.withConf(s,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(f)

  /** DERIVED kernel pin width (r17, verdict #2): the sizing rule documented
    * on [[withKernelShufflePartitionsFor]] — `partitions ≈ ceil(frontier
    * bytes / 128 MiB)`, floored at 8 — computed from Catalyst's size
    * estimate of the kernel's input frame(s) instead of a literal 8 baked
    * into every call site. At fixture scale every frontier is KB–MB, so
    * the floor binds and the pin stays the measured 8; if the bench
    * SF rises the pin grows with the data instead of silently becoming
    * the bottleneck. Callers pass the MATERIALIZED base frame(s) the
    * kernel iterates over (a parquet scan, cache, or anchor — frames
    * whose `stats.sizeInBytes` is a real size), never a join/explode
    * plan whose estimate is a product. When no caller frame has a usable
    * estimate (Catalyst's unknown-size default is ~`Long.MaxValue`), the
    * pin degrades to the session's current shuffle width — a no-op
    * rather than a guess.
    */
  private[queries] def kernelPartitions(
      s: org.apache.spark.sql.SparkSession,
      frontier: org.apache.spark.sql.DataFrame*): Int = {
    val target = BigInt(128L << 20)
    // anything at or above 1 PiB is Catalyst's "don't know" class, not a
    // measurement (defaultSizeInBytes, join-product estimates)
    val unknown = BigInt(1L) << 50
    val sizes = frontier.map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
    if (sizes.isEmpty || sizes.exists(_ >= unknown) || sizes.sum >= unknown)
      s.conf.get("spark.sql.shuffle.partitions").toInt
    else ((sizes.sum + target - 1) / target).toInt.max(8)
  }

  /** Run an EAGER iterative graph kernel (per-round `.anchor(...)` inside
    * `f` — label propagation, PPR, k-core peel, fixed-point PageRank,
    * HyperBall) with shuffle partitions pinned at the width
    * [[kernelPartitions]] derives from the kernel's input frames,
    * restored after. Each synchronous round pays one shuffle + one
    * anchor job whose task count is the partition count; AQE
    * coalesces the *read* side of a shuffle but not the map-task count
    * or the anchored RDD's partitioning, so a 5 000-node fixture
    * graph at local[32]'s 32 partitions spends more wall-clock on task
    * dispatch than on data (measured: q_ppr 2.1 → 1.4 s, q_label_prop
    * 2.9 → 1.7 s steady at n = 8; values untouched — the kernels are
    * exact integer algebra, partition-count-invariant).
    *
    * Sizing rule at scale: partitions ≈ ceil(frontier bytes / 128 MiB
    * target partition), i.e. proportional to |edges| of the round's
    * message frame — a 100 TB-corpus graph wants thousands; these
    * planted ~5 000-node fixtures round up to single digits. The pin
    * only applies to work executed INSIDE `f` (the eager rounds); the
    * lazy epilogue of the returned frame re-plans under the session
    * default.
    *
    * CALLER CONTRACT (ADVICE r12): the conf is restored when `f`
    * returns, so a kernel that merely BUILDS a lazy plan inside the
    * block gets NO pin — `f` must eagerly materialize every round it
    * wants pinned. Audited: all call sites comply — per-round anchors
    * in DupClusters.labelPropagation, kCorePeel, pageRankFixedPoint and
    * personalizedPageRank and in HyperBall.neighborhoodFunction; driver-side
    * `count()`/`collect()` per round in Perceptron.trainAudit; and an
    * explicit `.anchor(...)` EPILOGUE in twoHopQ and
    * the r13 whole-query pins — the six versioned-fixture queries
    * (timeTravel/snapshotCdc/branchMerge/bitemporal/mvIncremental/
    * mvJoinIncremental: fixture commits are eager writes, the returned
    * fold anchors inside the block) plus dedupCrossSnapshotQ and
    * decontaminateRunsQ (shingling amortized to materialized tables, so
    * every remaining stage is fixture-sized — the dispatch-bound regime;
    * measured q_dedup_cross_snapshot 2.52 → 0.89 in-bench), and r14's
    * dedupCrossSnapshotLshQ (same shape) and hitsQ (the erEntitiesQ
    * HYBRID done right: the scan-heavy edge build anchors WIDE
    * before the block, only the ~10 MB distinct + message-passing rounds
    * pin, eager epilogue inside — 1.74 → 1.32 same-window).
    * (erEntitiesQ was pinned in r13 and REVERTED: the extra eager
    * anchor of its CPU-bound Levenshtein join cost more than the
    * 8-partition CC rounds saved — the pin pays off only when the
    * kernel's per-round frames are fixture-sized AND the pre-kernel work
    * is cheap.) A new call site around a lazy kernel must add the same
    * eager anchor or the pin silently evaporates. Session-conf mutation
    * assumes strictly sequential query execution (see
    * [[graft.GraftSession.withConf]]).
    */
  private[queries] def withKernelShufflePartitionsFor[T](
      s: org.apache.spark.sql.SparkSession,
      frontier: org.apache.spark.sql.DataFrame*)(f: => T): T =
    graft.GraftSession.withConf(s,
      "spark.sql.shuffle.partitions" -> kernelPartitions(s, frontier: _*).toString)(f)

  /** Watermark LATE-DATA accounting proven live, across a restart: run 1
    * streams the on-time half of `events` into an append-mode 6-hour
    * window aggregate (a `foreachBatch` parquet append + checkpoint) —
    * its trailing no-data batch advances the watermark to max(ts) − 3
    * days and emits exactly the windows that closed. Run 2 RESUMES the
    * same checkpoint with a second file whose rows sit 3650 days in the
    * past: the restored watermark must classify every one as late and
    * drop it, appending NOTHING (a 2014 window in the sink would mean
    * late data leaked through the restart). Final sink = on-time windows
    * whose end the watermark passed — the oracle replays the cutoff from
    * the same max-timestamp arithmetic. Sequential runs impose arrival
    * order by construction (file-listing order across two loose files
    * proved nondeterministic), and watermark persistence across
    * checkpoint restart is exactly what a production resume relies on.
    */
  private def streamLateQ(s: SparkSession, dir: String): DataFrame = {
    // per-SF fixture: the two single-file halves (order is imposed by the
    // two sequential RUNS below, never by file-listing order — a
    // modification-time race made listing-order nondeterministic)
    val base = graft.Fixtures.dir("events_late", dir) { p =>
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
      LocalFs.write(ev.filter(col("event_id") % 2 === 0).coalesce(1))
        .mode("overwrite").parquet(s"$p/a")
      LocalFs.write(ev.filter(col("event_id") % 2 =!= 0)
        .withColumn("ts", col("ts") - expr("INTERVAL 3650 DAYS"))
        .coalesce(1))
        .mode("overwrite").parquet(s"$p/b")
    }
    val p = java.nio.file.Paths.get(base)
    def part(sub: String): java.nio.file.Path =
      new java.io.File(p.resolve(sub).toFile.listFiles()
        .filter(_.getName.startsWith("part-")).head.getPath).toPath
    // per-RUN state (source copies + checkpoint + sink): delete-on-reuse +
    // exit cleanup via TempDirs — Bench fully evaluates the returned frame
    // before the next invocation, so reclaiming the previous run is safe
    val runDir = graft.TempDirs.runDir("stream_late_run_" +
      java.lang.Integer.toHexString(dir.hashCode))
    val src = runDir.resolve("src")
    java.nio.file.Files.createDirectories(src)
    val sink = runDir.resolve("sink").toString
    val ckpt = runDir.resolve("ckpt").toString
    val stream = s.readStream
      .schema(graft.Tables.parquetSchema(s, p.resolve("a").toString))
      .parquet(src.toString)
      .withWatermark("ts", "3 days")
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))
    def run(): Unit = OneShotStream.run(stream)(_.option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch((batch: DataFrame, _: Long) => LocalFs.write(batch).mode("append").parquet(sink)))
    java.nio.file.Files.copy(part("a"), src.resolve("ontime.parquet"))
    run()
    java.nio.file.Files.copy(part("b"), src.resolve("late.parquet"))
    run()
    // plain read, NOT Tables.cachedParquet: the sink path is deleted and
    // rewritten per invocation, outside the schema memo's write-once
    // contract (ADVICE r15) — and a sink read is once-per-query, so the
    // memo's ~70 ms footer saving doesn't apply anyway.
    s.read.parquet(sink).orderBy(col("window_start"))
  }

  private val streamLateOracle =
    """WITH a AS (SELECT ts FROM events WHERE event_id % 2 = 0),
      |wm AS (SELECT max(ts) - INTERVAL 3 DAY AS w FROM a),
      |g AS (
      |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM a GROUP BY 1)
      |SELECT window_start, n FROM g, wm
      |WHERE window_start + INTERVAL 6 HOUR <= wm.w
      |ORDER BY window_start""".stripMargin

  /** Streaming dedup proven end-to-end: the source directory holds the
    * events file TWICE (a replayed feed), the stream applies
    * `dropDuplicatesWithinWatermark(event_id)`, and the appended sink must
    * contain each event exactly once — the oracle is simply the events
    * table. Duplicate arrivals may land in different micro-batches, so
    * the dedup state (not batch-local distinct) is what passes the hash.
    */
  private def streamDedupQ(s: SparkSession, dir: String): DataFrame = {
    val srcDir = graft.Fixtures.dir("events_dup_stream", dir) { p =>
      Seq("events_a.parquet", "events_b.parquet").foreach(name =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(dir, "events.parquet"),
          java.nio.file.Paths.get(p, name)))
    }
    val ev = graft.Tables.eventTs(s.readStream
      .schema(graft.Tables.parquetSchema(s, srcDir))
      .option("maxFilesPerTrigger", 1).parquet(srcDir))
    // no-data batch zero-effect here: append-mode dedup emits rows only on
    // ARRIVAL; the 3650-day watermark expires nothing within the fixture's
    // span, so the trailing batch neither emits nor evicts (see
    // withNoDataBatchesDisabled).
    withNoDataBatchesDisabled(s) {
      OneShotStream.drain(ev.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
        "append")
    }.orderBy(col("event_id"))
  }

  private val streamDedupOracle =
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** Stream-STREAM inner join executed live: views joined to the same
    * user's purchases within the next 2 hours, both sides watermarked
    * (the watermark + time-range condition is what lets Spark expire join
    * state — the unbounded-state trap this operator exists to avoid at
    * 100 TB). File source over the events parquet, one-shot run,
    * append-mode memory sink; the oracle is the equivalent batch interval
    * join. Single-file source ⇒ one micro-batch ⇒ the watermark cannot
    * drop rows, so the streamed result is exactly the batch join.
    */
  private def streamJoinQ(s: SparkSession, dir: String): DataFrame = {
    // Tables.eventTs gives both sides the TIMESTAMP (LTZ) watermarks need;
    // session TZ is UTC in every graft entrypoint, so delta_us matches the
    // oracle's epoch_us arithmetic.
    val v = OneShotStream.events(s, dir).filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("vt"))
      .withWatermark("vt", "30 days")
    val p = OneShotStream.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("pt"))
      .withWatermark("pt", "30 days")
    // no-data batch zero-effect here: INNER-join eviction emits nothing,
    // and the fixture's 30-day event span ≈ the 30-day watermark delay so
    // the final eviction pass frees ~nothing before the query stops
    // (Scratch r16: 0 rows emitted, stateRows 40025 → 40025, ~0.9 s).
    withNoDataBatchesDisabled(s) {
      OneShotStream.drain(v.join(p, col("v_user") === col("p_user") &&
          col("pt") >= col("vt") &&
          col("pt") < col("vt") + expr("INTERVAL 2 HOURS"))
        .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
          (unix_micros(col("pt")) - unix_micros(col("vt"))).as("delta_us")),
        "append")
    }.orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  }

  /** The SAME 30-minute-gap sessionization as `q_session_window`, executed
    * as a LIVE streaming query (file source, one-shot run, complete-mode
    * memory sink — complete mode is what lets session windows emit without
    * a watermark having passed them). Shares `sessionWindowOracle`
    * verbatim: streamed stateful session merging must equal the batch
    * gaps-and-islands SQL. The memory sink holds one row per (user,
    * session) — bounded by the session count, not the event count.
    */
  private def streamSessionQ(s: SparkSession, dir: String): DataFrame =
    OneShotStream.drain(OneShotStream.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events")),
      "complete").orderBy(col("user_id"), col("session_start"))

  /** OHLC downsampling bars: per (event_type, day) the opening/closing
    * values selected by lexicographic struct min/max over the unique
    * (epoch, event_id) order — exact selection, no arithmetic on the
    * values — plus high/low/count. One hash aggregate; the classic
    * time-series downsample that turns a raw feed into bounded bars.
    */
  private def ohlcQ(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(s, dir)
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → LTZ, UTC session
      .select(col("event_type"),
        window(col("ts"), "1 day")("start").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
    e.groupBy(col("event_type"), col("day"))
      .agg(
        min(struct(col("us"), col("event_id"), col("value"))).as("__o"),
        max(struct(col("us"), col("event_id"), col("value"))).as("__c"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("day"),
        col("__o.value").as("open"), col("high"), col("low"),
        col("__c.value").as("close"), col("n"))
      .orderBy(col("event_type"), col("day"))
  }

  private val ohlcOracle =
    """WITH e AS (
      |  SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS day,
      |    ts, event_id, value FROM events),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM e),
      |agg AS (
      |  SELECT event_type, day, max(value) AS high, min(value) AS low,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY event_type, day)
      |SELECT agg.event_type, agg.day, o.value AS open, high, low,
      |  c.value AS close, n
      |FROM agg
      |JOIN r o ON o.event_type = agg.event_type AND o.day = agg.day AND o.rn_a = 1
      |JOIN r c ON c.event_type = agg.event_type AND c.day = agg.day AND c.rn_d = 1
      |ORDER BY agg.event_type, agg.day""".stripMargin

  private val streamJoinOracle =
    """WITH v AS (SELECT user_id, event_id AS view_id, ts AS vt
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS pt
      |  FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id AS user_id, view_id, purchase_id,
      |  epoch_us(pt) - epoch_us(vt) AS delta_us
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND pt >= vt AND pt < vt + INTERVAL 2 HOUR
      |ORDER BY v.user_id, view_id, purchase_id""".stripMargin

  /** Interval-overlap join ([[graft.analytics.RangeJoin.intervalOverlap]]):
    * click-derived windows × error-derived windows, with id-derived integer
    * lengths. The oracle is the naive theta join — identity proof that the
    * binned rewrite is exact AND duplicate-free (a distinct-free bin join
    * emitting each pair once). Epochs are floored seconds on both engines.
    */
  private def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(s, dir)
    val a = e.filter(col("event_type") === "click")
      .select(col("event_id").as("a_id"), col("ts").cast("long").as("a_lo"))
      .withColumn("a_hi", col("a_lo") + lit(600L) + pmod(col("a_id"), lit(600L)))
    val b = e.filter(col("event_type") === "error")
      .select(col("event_id").as("b_id"), col("ts").cast("long").as("b_lo"))
      .withColumn("b_hi", col("b_lo") + lit(900L) + pmod(col("b_id"), lit(300L)))
    graft.analytics.RangeJoin.intervalOverlap(a, b,
        "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 512L)
      .select(col("a_id"), col("b_id"),
        (least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo")))
          .as("overlap_sec"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val intervalOverlapOracle =
    """WITH a AS (
      |  SELECT event_id AS a_id, CAST(floor(epoch(ts)) AS BIGINT) AS a_lo,
      |    CAST(floor(epoch(ts)) AS BIGINT) + 600 + event_id % 600 AS a_hi
      |  FROM events WHERE event_type = 'click'
      |),
      |b AS (
      |  SELECT event_id AS b_id, CAST(floor(epoch(ts)) AS BIGINT) AS b_lo,
      |    CAST(floor(epoch(ts)) AS BIGINT) + 900 + event_id % 300 AS b_hi
      |  FROM events WHERE event_type = 'error'
      |)
      |SELECT a_id, b_id,
      |  CAST(least(a_hi, b_hi) - greatest(a_lo, b_lo) AS BIGINT) AS overlap_sec
      |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
      |ORDER BY a_id, b_id""".stripMargin

  /** Mergeable-sketch lifecycle: per-day HLL sketches of user_id
    * (`hll_sketch_agg`) are UNIONED per event type (`hll_union_agg`) and only
    * then estimated — the incremental-analytics pattern where daily partials
    * are stored and a month's distinct count never rescans raw data. The
    * oracle checks the exact count, the day count, and that the merged
    * estimate landed within 10% (`merged_ok` must come out true).
    */
  private def hllMergeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(s, dir)
    val daily = e.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n_days"), col("n_exact"),
        (abs(col("__est") - col("n_exact")).cast("double") / col("n_exact") <= 0.1)
          .as("merged_ok"))
      .orderBy(col("event_type"))
  }

  private val hllMergeOracle =
    """SELECT event_type,
      |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, true AS merged_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Step-wise ordered funnel with drop-off: users advance
    * view → click → purchase only through events AFTER their previous
    * stage's first event (min-after-min chaining — the ordered-sequence
    * semantics, not mere presence). One row per stage: users reaching it,
    * conversion from the previous stage (exact division). Three bounded
    * aggregates; every boundary is an exact epoch-micro.
    */
  private def funnelStepsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("us") >= col("t_view"))
      .groupBy(col("user_id"), col("t_view")).agg(min(col("us")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("us") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("us")).as("t_purchase"))
    // stage counts stay in-plan: three 1-row aggregates cross-joined
    // (broadcast), stacked into the 3-row report — no driver actions
    v.agg(count(lit(1)).as("nv"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("nc"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("np"))))
      .selectExpr(
        """stack(3,
          |1, 'view', nv, CAST(1.0 AS DOUBLE),
          |2, 'click', nc,
          |  CASE WHEN nv = 0 THEN 0.0 ELSE CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE) END,
          |3, 'purchase', np,
          |  CASE WHEN nc = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / CAST(nc AS DOUBLE) END
          |) AS (step, stage, n_users, conv_from_prev)""".stripMargin)
      .orderBy(col("step"))
  }

  private val funnelStepsOracle =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS t_view FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, v.t_view, min(e.us) AS t_click
      |  FROM e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.us >= v.t_view
      |  GROUP BY e.user_id, v.t_view),
      |p AS (SELECT e.user_id, min(e.us) AS t_purchase
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= c.t_click
      |  GROUP BY e.user_id),
      |n AS (SELECT (SELECT count(*) FROM v) AS nv,
      |  (SELECT count(*) FROM c) AS nc, (SELECT count(*) FROM p) AS np)
      |SELECT 1 AS step, 'view' AS stage, CAST(nv AS BIGINT) AS n_users,
      |  CAST(1 AS DOUBLE) AS conv_from_prev FROM n
      |UNION ALL SELECT 2, 'click', CAST(nc AS BIGINT),
      |  CASE WHEN nv = 0 THEN 0.0 ELSE CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE) END FROM n
      |UNION ALL SELECT 3, 'purchase', CAST(np AS BIGINT),
      |  CASE WHEN nc = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / CAST(nc AS DOUBLE) END FROM n
      |ORDER BY step""".stripMargin

  /** Linear (equal-credit) multi-touch attribution: every click strictly
    * before the user's first purchase shares the conversion credit equally
    * (`1/n` — one exact division), completing the attribution family next
    * to first-touch and last-touch. One aggregate over the pre-conversion
    * click set; exact epoch-micro boundaries under the hash.
    */
  private def linearAttributionQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(s, dir)
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("conv_us"))
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      .join(firstPurchase, Seq("user_id"))
      .filter(col("c_us") < col("conv_us"))
      .groupBy(col("user_id"), col("conv_us"))
      .agg(count(lit(1)).as("n_touches"))
      .withColumn("credit_per_touch", lit(1.0) / col("n_touches").cast("double"))
      .select(col("user_id"), col("conv_us"), col("n_touches"),
        col("credit_per_touch"))
      .orderBy(col("user_id"))
  }

  private val linearAttributionOracle =
    """WITH fp AS (
      |  SELECT user_id, min(epoch_us(ts)) AS conv_us
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, fp.conv_us
      |  FROM events e JOIN fp ON e.user_id = fp.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) < fp.conv_us)
      |SELECT user_id, conv_us, CAST(count(*) AS BIGINT) AS n_touches,
      |  CAST(1 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS credit_per_touch
      |FROM c GROUP BY user_id, conv_us ORDER BY user_id""".stripMargin

  /** Audience-overlap estimation from mergeable sketches: |A∩B| via
    * inclusion-exclusion over three HLL estimates (est(A) + est(B) −
    * est(A∪B)) — the sketch-only answer to "how many users both viewed and
    * purchased" when raw re-scans are off the table. Self-verifying oracle:
    * exact distinct counts plus the flag that the sketch estimate landed
    * within 15% of the exact intersection (`ie_ok` must come out true;
    * inclusion-exclusion compounds the per-sketch error, hence the wider
    * band than `q_hll_merge`'s 10%).
    */
  private def hllIntersectQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(s, dir)
    val a = e.filter(col("event_type") === "view")
    val b = e.filter(col("event_type") === "purchase")
    val estA = a.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_a"))
    val estB = b.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_b"))
    val estU = a.unionByName(b)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_u"))
    val exact = a.select(col("user_id")).intersect(b.select(col("user_id")))
      .agg(count(lit(1)).as("n_exact_intersect"))
    val exactA = a.agg(countDistinct(col("user_id")).as("n_exact_a"))
    val exactB = b.agg(countDistinct(col("user_id")).as("n_exact_b"))
    exactA.crossJoin(exactB).crossJoin(exact)
      .crossJoin(broadcast(estA)).crossJoin(broadcast(estB)).crossJoin(broadcast(estU))
      .select(col("n_exact_a"), col("n_exact_b"), col("n_exact_intersect"),
        (abs((col("est_a") + col("est_b") - col("est_u")) -
          col("n_exact_intersect")).cast("double") /
          col("n_exact_intersect") <= 0.15).as("ie_ok"))
  }

  private val hllIntersectOracle =
    """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
      |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_exact_a,
      |  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_exact_b,
      |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_exact_intersect,
      |  true AS ie_ok""".stripMargin

  /** Sliding (hopping) windows: 6-hour windows hopping every 2 hours, so
    * each event belongs to exactly 3 overlapping windows. The oracle
    * replicates Spark's epoch-aligned slot assignment by unnesting the three
    * slide-aligned starts per event; sums stay in exact DECIMAL.
    */
  private def slidingWindowQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    graft.Tables.events(s, dir)
      .groupBy(window(col("ts"), "6 hours", "2 hours").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DecimalType(18, 4))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
      .orderBy(col("window_start"))
  }

  private val slidingWindowOracle =
    """WITH w AS (
      |  SELECT time_bucket(INTERVAL 2 HOUR, ts) - unnest([0, 1, 2]) * INTERVAL 2 HOUR
      |      AS window_start,
      |    value
      |  FROM events
      |)
      |SELECT window_start, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1 ORDER BY window_start""".stripMargin

  private def quantilesQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))
      .orderBy(col("event_type"))
  }

  private val quantilesOracle =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.95), 6) AS p95
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bloom-prefiltered fact→dim join; the oracle is the plain join, proving
    * the bloom rewrite is semantically identity (BloomPrefilterSpec proves
    * the fact side actually shrinks before the shuffle).
    */
  private def bloomJoinQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.BloomPrefilter
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val dim = graft.Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    BloomPrefilter.prefilteredJoin(graft.Tables.orders(s, dir), dim,
        factKey = "o_custkey", dimKey = "c_custkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val bloomJoinOracle =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** t-digest-style approximate quantiles, self-verified: exact discrete
    * quantiles (rank-selected, integer arithmetic → bit-identical across
    * engines) are emitted for DuckDB to re-derive, and `approx_ok` checks the
    * sketch's rank error in-plan (count of values ≤ sketch result vs the
    * target rank) — it flips false if `percentile_approx` breaks.
    *
    * The exact side rides the value-grid histogram (l_quantity is the
    * 1..50 integer grid): value at rank r == smallest value whose
    * cumulative count reaches r, so a per-(flag, qty) count + a cumulative
    * over the ≤ 50-row-per-flag frame replaces the full per-flag sort a
    * row_number window would cost — the [[graft.analytics.Quantiles]]
    * two-pass discipline, which is also the only shape that survives a
    * 100 TB fact table (the histogram is metadata-sized; the sort is not).
    */
  private def approxQuantilesQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), col("l_quantity").cast("double").as("qty"))
    val hist = li.groupBy(col("flag"), col("qty")).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy("flag").orderBy("qty")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("flag")))
    val exact = cum.groupBy(col("flag")).agg(
      max(col("n")).as("n"),
      min(when(col("cum") >= ceil(col("n") * 0.5), col("qty"))).as("p50_exact"),
      min(when(col("cum") >= ceil(col("n") * 0.9), col("qty"))).as("p90_exact"))
    val approx = li.groupBy(col("flag")).agg(
      percentile_approx(col("qty"), lit(0.5), lit(1000)).as("a50"),
      percentile_approx(col("qty"), lit(0.9), lit(1000)).as("a90"))
    // rank of each sketch result; tolerance covers sketch error (n/1000)
    // plus tie mass (l_quantity is heavily tied), well under the 0.1 the
    // uniform 1..50 distribution implies
    val ranks = li.join(broadcast(approx), "flag").groupBy(col("flag")).agg(
      sum(when(col("qty") <= col("a50"), 1L).otherwise(0L)).as("r50"),
      sum(when(col("qty") <= col("a90"), 1L).otherwise(0L)).as("r90"))
    exact.join(ranks, "flag")
      .select(col("flag"), col("n"), col("p50_exact"), col("p90_exact"),
        (abs(col("r50") - ceil(col("n") * 0.5)) <= col("n") * 0.05 + 1 &&
          abs(col("r90") - ceil(col("n") * 0.9)) <= col("n") * 0.05 + 1).as("approx_ok"))
      .orderBy(col("flag"))
  }

  private val approxQuantilesOracle =
    """WITH s AS (
      |  SELECT l_returnflag AS flag, CAST(l_quantity AS DOUBLE) AS qty FROM lineitem
      |), r AS (
      |  SELECT flag, qty, row_number() OVER (PARTITION BY flag ORDER BY qty) AS rn,
      |    count(*) OVER (PARTITION BY flag) AS n
      |  FROM s
      |)
      |SELECT flag, CAST(max(n) AS BIGINT) AS n,
      |  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN qty END) AS p50_exact,
      |  max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN qty END) AS p90_exact,
      |  true AS approx_ok
      |FROM r GROUP BY flag ORDER BY flag""".stripMargin

  /** Native `session_window` (the Structured-Streaming-compatible session
    * operator, here in batch mode); the oracle re-derives sessions with the
    * gap-and-islands window idiom. Session end = last event + gap, and
    * events merge while consecutive gaps are *strictly* under the gap.
    */
  private def sessionWindowQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  private val sessionWindowOracle =
    """WITH l AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |         >= 1800 * 1000000
      |      THEN 1 ELSE 0 END AS brk
      |  FROM events
      |), g AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM l
      |)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
      |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** CUBE over (event_type, day): all four grouping-set combinations in one
    * pass (map-side partial aggs per grouping set — the Spark expansion is
    * the same multi-set hash agg DuckDB runs).
    */
  private def cubeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    graft.Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DecimalType(18, 4))
          .cast("double").as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)
  }

  private val cubeOracle =
    """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY CUBE (event_type, CAST(ts AS DATE))
      |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin

  /** Frequent-items sketch (`stat.freqItems`, Karp et al. streaming
    * heavy-hitters) self-verified in-plan: the exact top-10 terms are the
    * compared payload, and `all_heavy_captured` re-proves the sketch's
    * no-false-negative guarantee (every term with freq > support·n is in the
    * sketch result) — flips false if the sketch breaks.
    */
  private def heavyHittersQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val terms = graft.Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(explode(col("toks")).as("term"))
    val support = 0.005
    val sketch = terms.stat.freqItems(Array("term"), support)
      .head.getSeq[String](0)
    // vocab-bounded term-count frame (metadata) anchors eagerly: it feeds
    // the total, the capture flag AND the top-10 — three tokenize+explode
    // aggregate passes collapse to one
    val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("n_term"))
      .anchor(Bound.Metadata)
    val total = counts.agg(sum(col("n_term")).as("n_total"))
    val flag = counts.crossJoin(total)
      .filter(col("n_term") > col("n_total") * support)
      .agg(coalesce(
        min(array_contains(typedLit(sketch), col("term"))), lit(true))
        .as("all_heavy_captured"))
    counts.orderBy(col("n_term").desc, col("term")).limit(10)
      .crossJoin(flag)
      .select(col("term"), col("n_term"), col("all_heavy_captured"))
      .orderBy(col("n_term").desc, col("term"))
  }

  private val heavyHittersOracle =
    """WITH t AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS term FROM documents
      |), c AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS n_term FROM t GROUP BY term
      |)
      |SELECT term, n_term, true AS all_heavy_captured
      |FROM c ORDER BY n_term DESC, term LIMIT 10""".stripMargin

  /** The window-function family in one query: running totals, lag deltas,
    * dense ranks, frame-bounded moving averages — all per customer, one
    * shuffle. Money stays in exact DECIMAL inside every frame (running and
    * moving sums are order-sensitive in FP; decimal makes them exact).
    */
  private def windowFuncsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val o = graft.Tables.orders(s, dir).filter(col("o_custkey") < 200)
    val byTime = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val price = col("o_totalprice").cast(DecimalType(18, 2))
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"),
        sum(price).over(byTime.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DecimalType(18, 2)).cast("double").as("running_total"),
        lag(col("o_totalprice"), 1).over(byTime).as("prev_price"),
        dense_rank().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("price_rank"),
        avg(price).over(byTime.rowsBetween(-2, 0))
          .cast(DecimalType(18, 6)).cast("double").as("moving_avg3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val windowFuncsOracle =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE)
      |    AS running_total,
      |  lag(o_totalprice, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
      |  CAST(dense_rank() OVER (
      |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
      |    AS price_rank,
      |  CAST(CAST(avg(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(18,6)) AS DOUBLE)
      |    AS moving_avg3
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Explicit LEFT SEMI / LEFT ANTI joins (the relational "has any match /
    * has no match" surface; both broadcast the key set).
    */
  private def semiAntiQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val c = graft.Tables.customer(s, dir)
    // big-ticket orders only, so both the semi and the anti side select rows
    val keys = graft.Tables.orders(s, dir)
      .filter(col("o_totalprice") > 300000.0).select(col("o_custkey"))
    def side(tpe: String, tag: String) =
      c.join(keys, col("c_custkey") === col("o_custkey"), tpe)
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .withColumn("op", lit(tag))
    side("left_semi", "with_orders")
      .unionByName(side("left_anti", "no_orders"))
      .select("op", "c_mktsegment", "n")
      .orderBy(col("op"), col("c_mktsegment"))
  }

  private val semiAntiOracle =
    """SELECT op, c_mktsegment, n FROM (
      |  SELECT 'with_orders' AS op, c_mktsegment, count(*) AS n FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  GROUP BY c_mktsegment
      |  UNION ALL
      |  SELECT 'no_orders', c_mktsegment, count(*) FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  GROUP BY c_mktsegment
      |)
      |ORDER BY op, c_mktsegment""".stripMargin

  /** Scalar + correlated subqueries through the SQL surface — identical SQL
    * text runs on both engines (the scalar average is an exact-decimal
    * derivation so the comparison boundary is deterministic).
    */
  private val subqueriesSql =
    """SELECT op, grp, n FROM (
      |  SELECT 'rich_customers' AS op, c_mktsegment AS grp, count(*) AS n
      |  FROM %CUST%
      |  WHERE c_acctbal > (
      |    SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
      |      / count(*) FROM %CUST%)
      |  GROUP BY c_mktsegment
      |  UNION ALL
      |  SELECT 'heavy_orders', o_orderpriority, count(*)
      |  FROM %ORD% o
      |  WHERE EXISTS (SELECT 1 FROM %LI% l
      |    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
      |  GROUP BY o_orderpriority
      |)
      |ORDER BY op, grp""".stripMargin

  private def subqueriesQ(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.customer(s, dir).createOrReplaceTempView("v_sq_customer")
    graft.Tables.orders(s, dir).createOrReplaceTempView("v_sq_orders")
    graft.Tables.lineitem(s, dir).createOrReplaceTempView("v_sq_lineitem")
    s.sql(subqueriesSql.replace("%CUST%", "v_sq_customer")
      .replace("%ORD%", "v_sq_orders").replace("%LI%", "v_sq_lineitem"))
  }

  private val subqueriesOracle = subqueriesSql
    .replace("%CUST%", "customer").replace("%ORD%", "orders").replace("%LI%", "lineitem")

  /** Semi-structured surface: encode rows to JSON (`to_json`), decode with a
    * schema (`from_json`) and with path extraction (`get_json_object`), and
    * emit the recovered values. The oracle computes the same values directly
    * from the columns — hash equality proves the JSON round trip is lossless
    * (including shortest-roundtrip double formatting).
    */
  private def jsonRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("id", LongType).add("u", LongType)
      .add("meta", new StructType().add("t", StringType).add("v", DoubleType))
    graft.Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .withColumn("j", to_json(struct(
        col("event_id").as("id"), col("user_id").as("u"),
        struct(col("event_type").as("t"), col("value").as("v")).as("meta"))))
      .select(
        from_json(col("j"), schema).as("d"),
        get_json_object(col("j"), "$.meta.t").as("path_t"))
      .select(col("d.id").as("event_id"), col("d.u").as("user_id"),
        col("path_t"), col("d.meta.v").as("value"))
      .orderBy(col("event_id"))
  }

  private val jsonRoundtripOracle =
    """SELECT event_id, user_id, event_type AS path_t, value
      |FROM events WHERE event_type = 'error'
      |ORDER BY event_id""".stripMargin

  /** Array-function surface over token arrays: distinct/sort/slice/set ops,
    * reduced to scalars (sizes + joined heads) so the compare stays
    * list-free. Narrow projection, no shuffle.
    */
  private def arrayFuncsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("t"))
      .withColumn("u", split(upper(concat_ws(" ", col("t"))), " "))
    d.select(col("doc_id"),
        size(col("t")).as("n"),
        size(array_distinct(col("t"))).as("n_distinct"),
        concat_ws(",", slice(sort_array(col("t")), 1, 3)).as("sorted_head"),
        size(array_intersect(col("t"), col("u"))).as("n_self_upper"),
        size(array_union(col("t"), col("u"))).as("n_union"),
        size(array_except(col("t"), col("u"))).as("n_except"),
        concat_ws(",", array_remove(slice(col("t"), 1, 5), element_at(col("t"), 1)))
          .as("head_wo_first"))
      .orderBy(col("doc_id"))
  }

  private val arrayFuncsOracle =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS t,
      |    string_split(upper(array_to_string(string_split_regex(text, '\s+'), ' ')), ' ') AS u
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(len(t) AS INTEGER) AS n,
      |  CAST(len(list_distinct(t)) AS INTEGER) AS n_distinct,
      |  array_to_string(list_sort(t)[1:3], ',') AS sorted_head,
      |  CAST(len(list_intersect(list_distinct(t), list_distinct(u))) AS INTEGER) AS n_self_upper,
      |  CAST(len(list_distinct(list_concat(t, u))) AS INTEGER) AS n_union,
      |  CAST(len(list_filter(list_distinct(t), x -> NOT list_contains(u, x))) AS INTEGER) AS n_except,
      |  array_to_string(list_filter(t[1:5], x -> x <> t[1]), ',') AS head_wo_first
      |FROM d ORDER BY doc_id""".stripMargin

  /** String-function surface (the Java-/DuckDB-identical subset): pad, trim,
    * slice, search, repeat, reverse, case. One codegen'd projection.
    */
  private def stringFuncsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 12).as("h"))
      .select(col("doc_id"),
        upper(col("h")).as("up"),
        lpad(col("h"), 16, "*").as("padded"),
        reverse(col("h")).as("rev"),
        repeat(substring(col("h"), 1, 2), 3).as("rep"),
        instr(col("h"), "e").cast("long").as("first_e"),
        translate(col("h"), "aeiou", "AEIOU").as("vowels_up"),
        length(trim(col("h"))).cast("long").as("trimmed_len"))
      .orderBy(col("doc_id"))
  }

  private val stringFuncsOracle =
    """WITH d AS (SELECT doc_id, substr(text, 1, 12) AS h FROM documents)
      |SELECT doc_id,
      |  upper(h) AS up,
      |  lpad(h, 16, '*') AS padded,
      |  reverse(h) AS rev,
      |  repeat(substr(h, 1, 2), 3) AS rep,
      |  CAST(coalesce(strpos(h, 'e'), 0) AS BIGINT) AS first_e,
      |  translate(h, 'aeiou', 'AEIOU') AS vowels_up,
      |  CAST(length(trim(h)) AS BIGINT) AS trimmed_len
      |FROM d ORDER BY doc_id""".stripMargin

  /** Date/time + conditional scalar surface: truncation, calendar fields,
    * day arithmetic, month rollovers, null-gating — the F5-F9 families
    * widened to their full built-in breadth. (Spark `dayofweek` is 1-based
    * Sunday-first; DuckDB's is 0-based — the oracle offsets.)
    */
  private def dateFuncsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.orders(s, dir)
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"),
        col("o_totalprice"))
      .select(col("o_orderkey"),
        col("d"),
        date_trunc("month", col("d")).cast("date").as("month_start"),
        dayofweek(col("d")).as("dow"),
        dayofmonth(col("d")).cast("int").as("dom"),
        quarter(col("d")).as("q"),
        last_day(col("d")).as("month_end"),
        add_months(col("d"), 2).as("plus_2m"),
        datediff(lit(java.sql.Date.valueOf("1999-01-01")), col("d")).as("days_to_99"),
        nullif(col("o_totalprice"), col("o_totalprice")).as("always_null"),
        coalesce(nullif(lit("x"), lit("x")), lit("fallback")).as("fallback"))
      .orderBy(col("o_orderkey"))
  }

  private val dateFuncsOracle =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS d,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
      |  CAST(dayofmonth(CAST(o_orderdate AS DATE)) AS INTEGER) AS dom,
      |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS q,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INTEGER)
      |    AS days_to_99,
      |  nullif(o_totalprice, o_totalprice) AS always_null,
      |  coalesce(nullif('x', 'x'), 'fallback') AS fallback
      |FROM orders WHERE o_orderkey < 3000
      |ORDER BY o_orderkey""".stripMargin

  private def topkPerGroupQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.analytics.GroupedTopK.topKPerGroup(graft.Tables.orders(s, dir),
        groupCols = Seq(col("o_orderpriority")),
        orderCols = Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  private val topkPerGroupOracle =
    """SELECT o_orderpriority, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (
      |  PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) <= 3
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** Forward fill (time-series gap fill): carry the last observed value
    * down each user's event timeline — `last(col, ignoreNulls)` over a
    * running row frame, one shuffle on the partition key. The standard
    * sensor/telemetry repair for sparse readings.
    */
  private def gapFillQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_id") % 3 === 0, col("value")).as("v"))
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .select("user_id", "event_id", "v", "filled")
      .orderBy(col("user_id"), col("event_id"))
  }

  private val gapFillOracle =
    """SELECT user_id, event_id, v,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM (SELECT user_id, event_id, ts,
      |        CASE WHEN event_id % 3 = 0 THEN value END AS v
      |      FROM events)
      |ORDER BY user_id, event_id""".stripMargin

  /** Schema evolution on read (`mergeSchema`): files written before a column
    * existed read back with nulls — the add-a-column path every long-lived
    * lake table hits; explicit so the contract is driver-checked.
    */
  private def schemaMergeQ(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    val tmp = graft.TempDirs.runDir("schema_rt").toString
    LocalFs.write(docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("source")))
      .parquet(s"$tmp/v1")
    LocalFs.write(docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), col("n_chars")))
      .parquet(s"$tmp/v2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .orderBy(col("doc_id"))
  }

  private val schemaMergeOracle =
    """SELECT doc_id, source, CAST(NULL AS BIGINT) AS n_chars
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 1
      |ORDER BY doc_id""".stripMargin

  /** Event-type transition matrix (first-order Markov counts): consecutive
    * pairs down each user's timeline via `lead`, then one aggregate — the
    * standard product-analytics "what happens after X" table.
    */
  private def eventTransitionsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("next_type"))
  }

  private val eventTransitionsOracle =
    """SELECT event_type, next_type, count(*) AS n FROM (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |WHERE next_type IS NOT NULL
      |GROUP BY event_type, next_type
      |ORDER BY event_type, next_type""".stripMargin

  /** Per-user CUSUM ([[graft.analytics.Drift.cusum]]) on cent-scaled event
    * values, drift allowance 60.00, alarm at 200.00: the closed-form
    * two-window statistic must equal the sequential Page recursion row for
    * row (DriftSpec proves that identity; here the oracle computes the
    * SAME closed form, so every running statistic and alarm bit is under
    * the hash).
    */
  private def cusumQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.cusum(
        graft.Tables.events(s, dir), "user_id", Seq("ts", "event_id"),
        round(col("value") * 100, 0), k = 6000L, h = 20000L)
      .select(col("user_id"), col("event_id"), col("x"), col("cusum"), col("alarm"))
      .orderBy(col("user_id"), col("event_id"))

  private val cusumOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events
      |), c AS (
      |  SELECT user_id, ts, event_id, x,
      |    sum(x - 6000) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM e
      |), m AS (
      |  SELECT user_id, event_id, x, cum,
      |    least(CAST(0 AS BIGINT), min(cum) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS floor_cum
      |  FROM c
      |)
      |SELECT user_id, event_id, x, CAST(cum - floor_cum AS BIGINT) AS cusum,
      |  (cum - floor_cum) >= 20000 AS alarm
      |FROM m ORDER BY user_id, event_id""".stripMargin

  /** Ordered-sequence funnel: users whose full event-type sequence contains
    * each stage in order (not necessarily adjacent) — sequence assembled
    * per user with an ordered collect, stages matched by position.
    */
  private def funnelQ(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val stages = ev.select(col("event_type")).distinct()
      .orderBy(col("event_type")).limit(2)
      .collect().map(_.getString(0)) // deterministic: 2 lexicographically-first types
    val seqs = ev
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), col("event_type")).as("e"))
      .groupBy(col("user_id"))
      .agg(transform(array_sort(collect_list(col("e"))),
        x => x.getField("event_type")).as("seq"))
    val pos1 = array_position(col("seq"), stages(0)).cast("int")
    // stage 2 must appear after the first stage-1 occurrence
    val rest = slice(col("seq"), pos1 + 1,
      greatest(size(col("seq")) - pos1, lit(0)))
    seqs
      .select(col("user_id"),
        (pos1 > 0).as("reached_s1"),
        (pos1 > 0 && array_position(rest, stages(1)) > 0).as("reached_s2"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("reached_s1"), 1L).otherwise(0L)).as("n_s1"),
        sum(when(col("reached_s1") && col("reached_s2"), 1L).otherwise(0L)).as("n_s2"))
  }

  private val funnelOracle =
    """WITH st AS (
      |  SELECT list(event_type ORDER BY event_type)[1:2] AS ss
      |  FROM (SELECT DISTINCT event_type FROM events)
      |), seq AS (
      |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS s FROM events
      |  GROUP BY user_id
      |), f AS (
      |  SELECT user_id, list_position(s, ss[1]) AS p1,
      |    CASE WHEN list_position(s, ss[1]) > 0
      |      THEN list_position(s[list_position(s, ss[1]) + 1:], ss[2])
      |      ELSE 0 END AS p2
      |  FROM seq, st
      |)
      |SELECT count(*) AS n_users,
      |  CAST(sum(CASE WHEN p1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_s1,
      |  CAST(sum(CASE WHEN p1 > 0 AND p2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_s2
      |FROM f""".stripMargin

  /** Fixed-width histogram of event values per type: bin ids from pure
    * integer-producing float arithmetic (`floor((v - lo) / w)`), identical
    * on both engines.
    */
  /** Equi-depth histogram ([[graft.maintain.Profile.equiDepthHistogram]])
    * of lineitem prices (cents), 16 tiles: the oracle's naive global
    * row_number is the single-task plan the operator's range-partitioned
    * rank avoids; tile populations (±1), and exact boundaries are all
    * under the hash.
    */
  private def equiDepthQ(s: SparkSession, dir: String): DataFrame =
    graft.maintain.Profile.equiDepthHistogram(
        graft.Tables.lineitem(s, dir)
          .select(round(col("l_extendedprice") * 100, 0).as("cents"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("rid")),
        col("cents"), k = 16, idCol = "rid")
      .orderBy(col("tile"))

  private val equiDepthOracle =
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
      |    l_orderkey * 10 + l_linenumber AS rid
      |  FROM lineitem
      |), r AS (
      |  SELECT x, row_number() OVER (ORDER BY x, rid) - 1 AS rk FROM v
      |), n AS (SELECT count(*) AS nn FROM v)
      |SELECT CAST((rk * 16) // nn AS BIGINT) AS tile,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(x) AS BIGINT) AS lo, CAST(max(x) AS BIGINT) AS hi
      |FROM r, n GROUP BY tile ORDER BY tile""".stripMargin

  /** Key-skew audit ([[graft.maintain.Profile.skewAudit]]) on the orders
    * join key: exact Gini over per-key frequencies (DECIMAL rank·freq
    * sums), hot-key share — the pre-shuffle planning statistic itself is
    * under the hash.
    */
  private def skewGiniQ(s: SparkSession, dir: String): DataFrame =
    graft.maintain.Profile.skewAudit(
      graft.Tables.lineitem(s, dir), "l_partkey")

  private val skewGiniOracle =
    """WITH f AS (
      |  SELECT l_partkey, count(*) AS f FROM lineitem GROUP BY l_partkey
      |), r AS (
      |  SELECT f, row_number() OVER (ORDER BY f, l_partkey) AS i FROM f
      |)
      |SELECT CAST(sum(f) AS BIGINT) AS n_rows,
      |  CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(max(f) AS BIGINT) AS max_freq,
      |  max(f)::DOUBLE / sum(f)::DOUBLE AS top_share,
      |  ((2::HUGEINT * sum(i::HUGEINT * f) - (count(*) + 1)::HUGEINT * sum(f))::DOUBLE) /
      |    ((count(*)::HUGEINT * sum(f))::DOUBLE) AS gini
      |FROM r""".stripMargin

  private def histogramQ(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .select(col("event_type"),
        least(floor((col("value") - lit(0.0)) / 10.0).cast("long"), lit(9L)).as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bin"))

  private val histogramOracle =
    """SELECT event_type,
      |  CAST(least(floor((value - 0.0) / 10.0), 9) AS BIGINT) AS bin,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin

  /** Outlier counts per event type at mean ± 2σ, with mean/variance derived
    * from *exact DECIMAL* sums (population σ; the only FP ops — divide,
    * sqrt — are correctly-rounded IEEE on identical inputs, so thresholds
    * match DuckDB bit-for-bit).
    */
  /** Robust (median/MAD) outlier counts per event type — the heavy-tail-safe
    * sibling of `q_outliers`' μ±2σ: median and MAD come from exact
    * interpolated percentiles, ROUNDED to 6 dp on both engines before the
    * flag comparison so a sub-ulp interpolation difference can't flip a
    * boundary row (`q_quantiles` pins 6 dp agreement of `percentile` ↔
    * `quantile_cont`).
    */
  private def madOutliersQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(s, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val mad = ev.join(med, "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("med")).as("med"),
        round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
    ev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  private val madOutliersOracle =
    """WITH med AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY event_type
      |),
      |mad AS (
      |  SELECT e.event_type, any_value(med) AS med,
      |    round(quantile_cont(abs(value - med), 0.5), 6) AS mad
      |  FROM events e JOIN med USING (event_type)
      |  GROUP BY e.event_type
      |)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
      |  any_value(mad.med) AS med, any_value(mad.mad) AS mad,
      |  CAST(sum(CASE WHEN abs(value - mad.med) > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM events e JOIN mad USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Cohort retention: users cohorted by the ISO week of their first event;
    * per (cohort week, week offset), the distinct users still active — the
    * standard product-analytics retention triangle, all integer/date math.
    */
  private def cohortRetentionQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val first = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("day"))).cast("date").as("cohort_week"))
    e.distinct().join(first, "user_id")
      .withColumn("week_offset",
        floor(datediff(col("day"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val cohortRetentionOracle =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |first AS (
      |  SELECT user_id, CAST(date_trunc('week', min(day)) AS DATE) AS cohort_week
      |  FROM d GROUP BY user_id
      |)
      |SELECT cohort_week,
      |  CAST(datediff('day', cohort_week, day) // 7 AS BIGINT) AS week_offset,
      |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
      |FROM d JOIN first USING (user_id)
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  private def outliersQ(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .select(col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,10)")).as("s"),
        sum((col("value") * col("value")).cast("decimal(28,10)")).as("s2"))
      .select(col("event_type"), col("n"),
        (col("s").cast("double") / col("n")).as("mean"),
        sqrt((col("s2").cast("double") / col("n")) -
          (col("s").cast("double") / col("n")) * (col("s").cast("double") / col("n")))
          .as("sd"))
    ev.join(stats, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("mean")) > lit(2.0) * col("sd"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  private val outliersOracle =
    """WITH st AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mean,
      |    sqrt(CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) / count(*)
      |      - (CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*))
      |        * (CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*))) AS sd
      |  FROM events GROUP BY event_type
      |)
      |SELECT e.event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN abs(e.value - st.mean) > 2.0 * st.sd
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM events e JOIN st USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Count-min sketch vs exact counts: the sketch never undercounts
    * (structural guarantee) and lands within `eps·N` of truth on this data —
    * the booleans recompute both facts from the materialized sketch, the
    * oracle pins them true next to DuckDB-derived exact counts. Mergeable
    * across partitions/streams like the HLL and freq-items sketches.
    */
  private def countMinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir).select(col("event_type"))
    // Only the sketch itself comes to the driver — one bounded row (the whole
    // point of a CMS is that it's small). The exact per-key counts stay
    // distributed: the sketch (java-serializable) ships in the task closure
    // and `estimateCount` is probed as a mapped column next to each group's
    // exact count, so the comparison scales with key cardinality.
    val bytes = ev
      .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val slack = math.ceil(0.001 * cms.totalCount()).toLong
    val est = udf((et: String) => cms.estimateCount(et))
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_true"))
      .withColumn("__est", est(col("event_type")))
      .select(col("event_type"), col("n_true"),
        (col("__est") >= col("n_true")).as("never_undercounts"),
        (col("__est") <= col("n_true") + slack).as("within_eps"))
      .orderBy(col("event_type"))
  }

  private val countMinOracle =
    """SELECT event_type, count(*) AS n_true,
      |  true AS never_undercounts, true AS within_eps
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Explicit GROUPING SETS with `grouping_id` disambiguation — the
    * remaining member of the cube/rollup family, same SQL text on both
    * engines.
    */
  private def groupingSetsQ(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(s, dir).createOrReplaceTempView("events_gs")
    s.sql(
      """SELECT event_type, user_id % 10 AS cohort,
        |  CAST(grouping_id() AS BIGINT) AS gid,
        |  count(*) AS n
        |FROM events_gs
        |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
        |ORDER BY gid, event_type, cohort""".stripMargin)
  }

  private val groupingSetsOracle =
    """SELECT event_type, user_id % 10 AS cohort,
      |  CAST(grouping(event_type) * 2 + grouping(user_id % 10) AS BIGINT) AS gid,
      |  count(*) AS n
      |FROM events
      |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
      |ORDER BY gid, event_type, cohort""".stripMargin

  /** Frequent part pairs ("ship together") over order baskets —
    * [[graft.analytics.Itemsets.frequentPairs]] with the apriori prune.
    */
  private def frequentPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Itemsets.frequentPairs(
        Graphs.baskets(s, dir), "basket", "item", minSupport = 2L)
      .orderBy(desc("support_ab"), col("item_a"), col("item_b"))

  private val frequentPairsOracle =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      |n AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
      |s AS (SELECT item, count(*) AS support FROM b GROUP BY item HAVING count(*) >= 2),
      |f AS (SELECT b.basket, b.item, s.support FROM b JOIN s USING (item)),
      |p AS (SELECT a.item AS item_a, c.item AS item_b,
      |    count(*) AS support_ab, min(a.support) AS support_a,
      |    min(c.support) AS support_b
      |  FROM f a JOIN f c ON a.basket = c.basket AND a.item < c.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT item_a, item_b, CAST(support_ab AS BIGINT) AS support_ab,
      |  CAST(support_a AS BIGINT) AS support_a,
      |  CAST(support_b AS BIGINT) AS support_b,
      |  (support_ab * n_baskets)::DOUBLE / (support_a * support_b)::DOUBLE AS lift
      |FROM p, n ORDER BY support_ab DESC, item_a, item_b""".stripMargin

  /** Directed association rules over the same baskets as `q_frequent_pairs`
    * ([[graft.analytics.Itemsets.associationRules]]): confidence gate
    * cross-multiplied in integer space, confidence one exact division.
    */
  private def assocRulesQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Itemsets.associationRules(
        Graphs.baskets(s, dir), "basket", "item", minSupport = 2L,
        minConfPct = 10)
      .orderBy(desc("confidence"), col("antecedent"), col("consequent"))

  private val assocRulesOracle =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      |n AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
      |s AS (SELECT item, count(*) AS support FROM b GROUP BY item HAVING count(*) >= 2),
      |f AS (SELECT b.basket, b.item, s.support FROM b JOIN s USING (item)),
      |p AS (SELECT a.item AS item_a, c.item AS item_b,
      |    count(*) AS support_ab, min(a.support) AS support_a,
      |    min(c.support) AS support_b
      |  FROM f a JOIN f c ON a.basket = c.basket AND a.item < c.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |pl AS (SELECT *, (support_ab * n_baskets)::DOUBLE /
      |    (support_a * support_b)::DOUBLE AS lift FROM p, n),
      |r AS (
      |  SELECT item_a AS antecedent, item_b AS consequent, support_ab,
      |    support_a AS support_ant, lift FROM pl
      |  UNION ALL
      |  SELECT item_b, item_a, support_ab, support_b, lift FROM pl)
      |SELECT antecedent, consequent, CAST(support_ab AS BIGINT) AS support_ab,
      |  CAST(support_ant AS BIGINT) AS support_ant, lift,
      |  support_ab::DOUBLE / support_ant::DOUBLE AS confidence
      |FROM r WHERE support_ab * 100 >= support_ant * 10
      |ORDER BY confidence DESC, antecedent, consequent""".stripMargin

  /** Theil–Sen robust trend of daily spend per event type
    * ([[graft.analytics.Correlation.theilSen]]): pairwise slopes over the
    * daily exact-cents series, lower-median slope selected (a data value).
    */
  private def theilSenQ(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("x"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
    graft.analytics.Correlation.theilSen(daily, "event_type", "x", "y")
      .orderBy(col("event_type"))
  }

  private val theilSenOracle =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS x,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, epoch_us(ts) // 86400000000),
      |p AS (
      |  SELECT a.event_type,
      |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope,
      |    a.x AS x1, b.x AS x2
      |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.x < b.x),
      |r AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, x1, x2) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS np
      |  FROM p)
      |SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
      |  slope AS median_slope
      |FROM r WHERE rn = (np + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** Q18-style large orders ([[graft.analytics.StarQueries.largeOrders]]):
    * HAVING-before-join, broadcast enrich, top-100 by stored total price
    * with key tiebreak.
    */
  private def q18Q(s: SparkSession, dir: String): DataFrame =
    graft.analytics.StarQueries.largeOrders(s, dir)

  private val q18Oracle =
    """WITH s AS (
      |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 200
      |)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM s JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** Q4-style priority lateness
    * ([[graft.analytics.StarQueries.latePriorityCheck]]): EXISTS as a
    * single semi-join with the non-equi lateness predicate.
    */
  private def q4Q(s: SparkSession, dir: String): DataFrame =
    graft.analytics.StarQueries.latePriorityCheck(s, dir)

  private val q4Oracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS late_orders
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Frequent triples ([[graft.analytics.Itemsets.frequentTriples]]) on
    * order baskets: the level-2 apriori prune runs in BOTH engines (the
    * unpruned three-way join is measurably pathological even at sf0.01),
    * and triple supports, per-item supports, and the n²-scaled triple lift
    * are all under the hash.
    */
  private def frequentTriplesQ(s: SparkSession, dir: String): DataFrame =
    // kernel pin (r16 A/B x3: base 1.2-2.7 s vs pin8 0.9-1.1, exact-equal —
    // the r13 "eager anchors lose here" adjudication was about ANCHORS,
    // not the pin; the planted baskets table is KB-scale)
    withKernelShufflePartitionsFor(s, Graphs.baskets(s, dir)) {
      graft.analytics.Itemsets.frequentTriples(
          Graphs.baskets(s, dir), "basket", "item", minSupport = 2L)
        .orderBy(desc("support_abc"), col("item_a"), col("item_b"), col("item_c"))
        .anchor(Bound.Fixture)
    }

  private val frequentTriplesOracle =
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      |n AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
      |s AS (SELECT item, count(*) AS support FROM b GROUP BY item HAVING count(*) >= 2),
      |f AS (SELECT b.basket, b.item FROM b JOIN s USING (item)),
      |fp AS (SELECT a.item AS x, c.item AS y
      |  FROM f a JOIN f c ON a.basket = c.basket AND a.item < c.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |ab AS (SELECT a.basket, a.item AS ia, c.item AS ib
      |  FROM f a JOIN f c ON a.basket = c.basket AND a.item < c.item
      |  JOIN fp ON fp.x = a.item AND fp.y = c.item),
      |abc AS (SELECT ab.ia, ab.ib, d.item AS ic FROM ab
      |  JOIN f d ON d.basket = ab.basket AND ab.ib < d.item
      |  JOIN fp p2 ON p2.x = ab.ia AND p2.y = d.item
      |  JOIN fp p3 ON p3.x = ab.ib AND p3.y = d.item),
      |t AS (SELECT ia, ib, ic, count(*) AS s_abc FROM abc
      |  GROUP BY 1, 2, 3 HAVING count(*) >= 2)
      |SELECT ia AS item_a, ib AS item_b, ic AS item_c,
      |  CAST(s_abc AS BIGINT) AS support_abc,
      |  CAST(sa.support AS BIGINT) AS support_a,
      |  CAST(sb.support AS BIGINT) AS support_b,
      |  CAST(sc.support AS BIGINT) AS support_c,
      |  ((s_abc::HUGEINT * n_baskets * n_baskets)::DOUBLE) /
      |    ((sa.support::HUGEINT * sb.support * sc.support)::DOUBLE) AS lift
      |FROM t
      |JOIN s sa ON sa.item = t.ia
      |JOIN s sb ON sb.item = t.ib
      |JOIN s sc ON sc.item = t.ic, n
      |ORDER BY support_abc DESC, item_a, item_b, item_c""".stripMargin

  /** Exact per-column dataset profile ([[graft.maintain.Profile]]) over six
    * representative lineitem columns (int, double, string, timestamp→date).
    */
  private def columnProfileQ(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.Profile
    Profile.columnProfile(graft.Tables.lineitem(s, dir), Seq(
        "l_orderkey" -> Profile.AsString,
        "l_linenumber" -> Profile.AsString,
        "l_quantity" -> Profile.AsDecimal2,
        "l_extendedprice" -> Profile.AsDecimal2,
        "l_returnflag" -> Profile.AsString,
        "l_shipdate" -> Profile.AsDate))
      .withColumnRenamed("column", "col_name")
      .orderBy(col("col_name"))
  }

  private val columnProfileOracle = {
    def branch(c: String, render: String) = {
      val mn = render match {
        case "dec"  => s"CAST(CAST(min($c) AS DECIMAL(18,2)) AS VARCHAR)"
        case "date" => s"CAST(CAST(min($c) AS DATE) AS VARCHAR)"
        case _      => s"CAST(min($c) AS VARCHAR)"
      }
      val mx = mn.replace("min(", "max(")
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
        |  $mn AS min_val, $mx AS max_val FROM lineitem""".stripMargin
    }
    Seq(branch("l_orderkey", "str"), branch("l_linenumber", "str"),
      branch("l_quantity", "dec"), branch("l_extendedprice", "dec"),
      branch("l_returnflag", "str"), branch("l_shipdate", "date"))
      .mkString("", "\nUNION ALL ", "\nORDER BY col_name")
  }

  /** Data-contract validation ([[graft.maintain.Expectations]]) over
    * lineitem: six named rules, thresholds chosen so several genuinely
    * fire on the data (quantity cap, discount cap, shipdate horizon,
    * returnflag domain) alongside clean ones — violation counts, not just
    * pass/fail.
    */
  private def expectationsQ(s: SparkSession, dir: String): DataFrame =
    graft.maintain.Expectations.validate(graft.Tables.lineitem(s, dir), Seq(
        "discount_le_008" -> (col("l_discount") <= 0.08),
        "orderkey_not_null" -> col("l_orderkey").isNotNull,
        "price_ge_1000" -> (col("l_extendedprice") >= 1000.0),
        "quantity_le_45" -> (col("l_quantity") <= 45.0),
        "returnflag_a_n" -> col("l_returnflag").isin("A", "N"),
        "shipdate_lt_2001" ->
          (col("l_shipdate") < lit("2001-01-01").cast("timestamp"))))
      .orderBy(col("rule"))

  private val expectationsOracle =
    """WITH a AS (SELECT count(*) AS n_rows,
      |  sum(CASE WHEN NOT coalesce(l_discount <= 0.08, false) THEN 1 ELSE 0 END) AS v1,
      |  sum(CASE WHEN NOT coalesce(l_orderkey IS NOT NULL, false) THEN 1 ELSE 0 END) AS v2,
      |  sum(CASE WHEN NOT coalesce(l_extendedprice >= 1000.0, false) THEN 1 ELSE 0 END) AS v3,
      |  sum(CASE WHEN NOT coalesce(l_quantity <= 45.0, false) THEN 1 ELSE 0 END) AS v4,
      |  sum(CASE WHEN NOT coalesce(l_returnflag IN ('A', 'N'), false) THEN 1 ELSE 0 END) AS v5,
      |  sum(CASE WHEN NOT coalesce(l_shipdate < TIMESTAMP '2001-01-01', false) THEN 1 ELSE 0 END) AS v6
      |FROM lineitem)
      |SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(v AS BIGINT) AS n_violations,
      |  v::DOUBLE / n_rows AS violation_rate
      |FROM (
      |  SELECT 'discount_le_008' AS rule, v1 AS v, n_rows FROM a
      |  UNION ALL SELECT 'orderkey_not_null', v2, n_rows FROM a
      |  UNION ALL SELECT 'price_ge_1000', v3, n_rows FROM a
      |  UNION ALL SELECT 'quantity_le_45', v4, n_rows FROM a
      |  UNION ALL SELECT 'returnflag_a_n', v5, n_rows FROM a
      |  UNION ALL SELECT 'shipdate_lt_2001', v6, n_rows FROM a)
      |ORDER BY rule""".stripMargin

  /** Scale-safe contiguous global ids ([[graft.ops.StableIds]]): range
    * partition + partition sort + zipWithIndex — no single-task global
    * window. The oracle is the naive `row_number() OVER (ORDER BY ...)`;
    * matching it exactly proves the distributed numbering equals the total
    * order.
    */
  private def stableIdsQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.StableIds.withStableIds(
        graft.Tables.documents(s, dir).select(col("doc_id"), col("source")),
        Seq("source", "doc_id"))
      .orderBy(col("stable_id"))

  private val stableIdsOracle =
    """SELECT doc_id, source,
      |  CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT) AS stable_id
      |FROM documents ORDER BY stable_id""".stripMargin

  /** Anti-entropy table checksum ([[graft.maintain.Profile.tableChecksum]])
    * over documents per source — both engines fold the same md5-u32 per
    * row, so the sums match exactly.
    */
  private def tableChecksumQ(s: SparkSession, dir: String): DataFrame =
    graft.maintain.Profile.tableChecksum(graft.Tables.documents(s, dir),
        "source", Seq("doc_id", "text", "lang", "n_chars"))
      .orderBy(col("source"))

  private val tableChecksumOracle = {
    val u32 = OracleSql.md5U32Sql(
      "doc_id::VARCHAR || '|' || text || '|' || lang || '|' || n_chars::VARCHAR")
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum($u32) AS BIGINT) AS checksum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** SCD2 validity-interval construction: each event becomes a version of
    * its user's state with `[valid_from, valid_to)` from `lead()` over the
    * (ts, event_id) total order — the standard slowly-changing-dimension
    * build that [[graft.analytics.AsOfJoin]] then probes. One window
    * shuffle on the entity key; timestamps compared as epoch micros.
    */
  private def scd2Q(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us",
        coalesce(unix_micros(lead(col("ts"), 1).over(w)), lit(-1L)))
      .withColumn("is_current", col("valid_to_us") === -1L)
      .select(col("user_id"), col("version"), col("valid_from_us"),
        col("valid_to_us"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  private val scd2Oracle =
    """SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  epoch_us(ts) AS valid_from_us,
      |  coalesce(lead(epoch_us(ts)) OVER w, -1) AS valid_to_us,
      |  (lead(epoch_us(ts)) OVER w IS NULL) AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** Per-group closed-form OLS trend (drift monitoring): slope/intercept of
    * n_chars over doc_id per source. All moment sums are exact BIGINT (the
    * inputs are integers), so the two final divisions are the only FP ops —
    * bit-stable cross-engine, slope itself under the hash.
    */
  private def groupTrendQ(s: SparkSession, dir: String): DataFrame = {
    val agg = graft.Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("sx"),
        sum(col("n_chars")).as("sy"),
        sum(col("doc_id") * col("n_chars")).as("sxy"),
        sum(col("doc_id") * col("doc_id")).as("sxx"))
    agg
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n").cast("double"))
      .select(col("source"), col("n"), col("slope"), col("intercept"))
      .orderBy(col("source"))
  }

  private val groupTrendOracle =
    """WITH a AS (SELECT source,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS sx,
      |  CAST(sum(n_chars) AS BIGINT) AS sy,
      |  CAST(sum(doc_id * n_chars) AS BIGINT) AS sxy,
      |  CAST(sum(doc_id * doc_id) AS BIGINT) AS sxx
      |FROM documents GROUP BY source)
      |SELECT source, n,
      |  (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope,
      |  (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE)
      |    * sx::DOUBLE) / n::DOUBLE AS intercept
      |FROM a ORDER BY source""".stripMargin

  /** Structural integrity audit ([[graft.maintain.Integrity]]): an FD check
    * that genuinely fires (source → lang does NOT hold), a referential
    * check against a parent with a planted missing slice (orders with
    * `o_orderkey % 100 = 7` dropped — the "lost dimension partition"
    * scenario), and a pk-uniqueness check on an augmented corpus with
    * planted duplicate ids. Three rows: check name, violations, checked.
    */
  private def integrityQ(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.Integrity
    val docs = graft.Tables.documents(s, dir)
    val li = graft.Tables.lineitem(s, dir)
    val ordersKept = graft.Tables.orders(s, dir)
      .filter(col("o_orderkey") % 100 =!= 7)
    val dupDocs = docs.select(col("doc_id"))
      .unionByName(docs.filter(col("doc_id") % 25 === 0).select(col("doc_id")))
    val fd = Integrity.fdViolatingGroups(docs, "source", "lang")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(docs.select(countDistinct(col("source")).as("n_checked")))
      .select(lit("fd_source_to_lang").as("check_name"), col("n_violations"),
        col("n_checked"))
    val orph = Integrity.orphans(li.select(col("l_orderkey")), "l_orderkey",
        ordersKept, "o_orderkey")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(li.select(count(lit(1)).as("n_checked")))
      .select(lit("orphans_lineitem_orders").as("check_name"), col("n_violations"),
        col("n_checked"))
    val dup = Integrity.duplicateKeys(dupDocs, "doc_id")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(dupDocs.select(count(lit(1)).as("n_checked")))
      .select(lit("duplicate_doc_ids").as("check_name"), col("n_violations"),
        col("n_checked"))
    fd.unionByName(orph).unionByName(dup).orderBy(col("check_name"))
  }

  private val integrityOracle =
    """SELECT 'duplicate_doc_ids' AS check_name,
      |  CAST((SELECT count(*) FROM (
      |    SELECT doc_id FROM (
      |      SELECT doc_id FROM documents
      |      UNION ALL SELECT doc_id FROM documents WHERE doc_id % 25 = 0)
      |    GROUP BY doc_id HAVING count(*) > 1)) AS BIGINT) AS n_violations,
      |  CAST((SELECT count(*) FROM (
      |    SELECT doc_id FROM documents
      |    UNION ALL SELECT doc_id FROM documents WHERE doc_id % 25 = 0))
      |    AS BIGINT) AS n_checked
      |UNION ALL
      |SELECT 'fd_source_to_lang',
      |  CAST((SELECT count(*) FROM (
      |    SELECT source FROM documents GROUP BY source
      |    HAVING count(DISTINCT lang) > 1)) AS BIGINT),
      |  CAST((SELECT count(DISTINCT source) FROM documents) AS BIGINT)
      |UNION ALL
      |SELECT 'orphans_lineitem_orders',
      |  CAST((SELECT count(*) FROM lineitem
      |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
      |      WHERE o_orderkey % 100 <> 7)) AS BIGINT),
      |  CAST((SELECT count(*) FROM lineitem) AS BIGINT)
      |ORDER BY check_name""".stripMargin

  /** Keyed pseudonymization ([[graft.ops.Privacy.pseudonym]]): per
    * event_type, distinct users must equal distinct pseudonyms (injective
    * mapping — joins still work), plus the full-table check. The oracle
    * recomputes the same sha256 envelope pseudonyms, so the counts (and the
    * injectivity they prove) are replicated, not assumed.
    */
  private def pseudonymizeQ(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .withColumn("pseudo", graft.ops.Privacy.pseudonym(col("user_id"), "s3cr3t"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("pseudo")).as("n_pseudonyms"))
      .withColumn("injective", col("n_users") === col("n_pseudonyms"))
      .orderBy(col("event_type"))

  private val pseudonymizeOracle =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(count(DISTINCT sha256('s3cr3t' || '|' || user_id::VARCHAR || '|' || 's3cr3t'))
      |    AS BIGINT) AS n_pseudonyms,
      |  count(DISTINCT user_id) = count(DISTINCT sha256('s3cr3t' || '|' ||
      |    user_id::VARCHAR || '|' || 's3cr3t')) AS injective
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** k-anonymity audit ([[graft.ops.Privacy.kAnonymityRisk]]) over a
    * deliberately sparse quasi-identifier (event_type × day × user bucket):
    * groups seen fewer than 5 times re-identify their members.
    */
  private def kAnonymityQ(s: SparkSession, dir: String): DataFrame = {
    val quasi = graft.Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        (col("user_id") % 97).as("bucket"))
    val risky = graft.ops.Privacy.kAnonymityRisk(quasi,
      Seq("event_type", "day", "bucket"), k = 5)
    risky.agg(count(lit(1)).as("n_risky_groups"),
        sum(col("group_size")).as("n_risky_rows"))
      .crossJoin(broadcast(quasi.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_type"), col("day"), col("bucket"))
          .as("n_groups"))))
      .select(col("n_groups"), col("n_risky_groups"), col("n_risky_rows"),
        col("n_rows"))
  }

  private val kAnonymityOracle =
    """WITH q AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    user_id % 97 AS bucket FROM events),
      |g AS (SELECT event_type, day, bucket, count(*) AS group_size
      |  FROM q GROUP BY 1, 2, 3),
      |r AS (SELECT * FROM g WHERE group_size < 5)
      |SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_groups,
      |  CAST((SELECT count(*) FROM r) AS BIGINT) AS n_risky_groups,
      |  CAST((SELECT coalesce(sum(group_size), 0) FROM r) AS BIGINT)
      |    AS n_risky_rows,
      |  CAST((SELECT count(*) FROM q) AS BIGINT) AS n_rows""".stripMargin

  /** Session path mining: the top-10 opening paths (first three event types
    * of each 30-minute-gap session, in exact (ts, id) order) — the
    * "how do journeys start" product query on top of the sessionizer.
    * Two window passes on the user key + one path aggregate.
    */
  private def topPathsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = ev
      .withColumn("__gap",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) >= 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("__gap")).over(w))
    val w2 = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("us"), col("event_id"))
    sess.withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= 3)
      .groupBy(col("user_id"), col("sid"))
      .agg(sort_array(collect_list(struct(col("__rn"), col("event_type"))))
        .as("ps"))
      .select(array_join(transform(col("ps"), p => p.getField("event_type")),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
  }

  private val topPathsOracle =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) IS NULL
      |    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      >= 1800 * 1000000 THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |sx AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, sid
      |    ORDER BY us, event_id) AS rn
      |  FROM sx),
      |p AS (
      |  SELECT user_id, sid,
      |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
      |  FROM r WHERE rn <= 3 GROUP BY user_id, sid)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin

  /** Deterministic random-walk corpus ([[graft.dedup.DupClusters.randomWalks]]):
    * 3-step seeded walks from every node of the star+ring community graph —
    * the DeepWalk/node2vec data-generation stage, exactly reproducible
    * (neighbor choice = argmin md5). The oracle unrolls all three steps.
    */
  private def randomWalksQ(s: SparkSession, dir: String): DataFrame =
    graft.dedup.DupClusters
      .randomWalks(Graphs.starRingEdges(s, dir), steps = 3)
      .orderBy(col("walk"))

  private val randomWalksOracle = {
    def step(n: Int, from: String, prevCols: String): String =
      s"""s$n AS (
        |  SELECT $prevCols, nxt AS step$n FROM (
        |    SELECT $prevCols, coalesce(a.v, p.cur) AS nxt,
        |      row_number() OVER (PARTITION BY p.walk ORDER BY
        |        md5('walk:' || p.walk || ':$n:' || coalesce(a.v, p.cur)),
        |        coalesce(a.v, p.cur)) AS rn
        |    FROM (SELECT *, ${if (n == 1) "walk" else s"step${n - 1}"} AS cur
        |      FROM $from) p
        |    LEFT JOIN adj a ON a.u = p.cur)
        |  WHERE rn = 1)""".stripMargin
    s"""WITH ids AS (SELECT doc_id AS id FROM documents),
      |star AS (SELECT id - id % 10 AS u, id AS v FROM ids WHERE id % 10 <> 0),
      |ring AS (SELECT a.id AS u, a.id + 10 AS v FROM ids a
      |  JOIN ids b ON b.id = a.id + 10
      |  WHERE a.id % 10 = 0 AND a.id % 100 < 90),
      |e AS (SELECT u, v FROM star UNION SELECT u, v FROM ring),
      |adj AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
      |nodes AS (SELECT DISTINCT u AS walk FROM adj),
      |${step(1, "nodes", "walk")},
      |${step(2, "s1", "walk, step1")},
      |${step(3, "s2", "walk, step1, step2")}
      |SELECT walk, step1, step2, step3 FROM s3 ORDER BY walk""".stripMargin
  }

  /** HITS hubs-and-authorities ([[graft.dedup.DupClusters.hits]]) on the
    * customer→supplier bipartite graph (orders ⋈ lineitem): authority1 =
    * customer-reach (in-degree), authority2 = two-hop hub-weighted reach —
    * the "most structurally central suppliers" ranking, all exact BIGINTs
    * (normalization deliberately omitted — it only rescales).
    */
  // r14 (the only monotone untouched mover r11→r13, adjudicated REAL by
  // solo ProfileOne convergence at 1.7-1.8): the erEntitiesQ hybrid — the
  // orders⋈lineitem edge build is scan-heavy and stays WIDE (eager
  // checkpoint at session parallelism), while the distinct + two
  // message-passing rounds move ~10 MB and run under the 8-partition
  // kernel pin (measured 1.74 → 1.32 same-window in Scratch)
  private def hitsQ(s: SparkSession, dir: String): DataFrame = {
    // r18 fusion (VERDICT r17 Next #3): the DISTINCT fuses into the wide
    // edge build, so the edge list is materialized ONCE — the r17 shape
    // checkpointed the raw join product and hits() then distinct'd and
    // checkpointed AGAIN under the pin (write + read + shuffle + write of
    // the same data). A/B x4 interleaved, exact-equal: 1.49-1.87 s ->
    // 1.25-1.52, 16 -> 15 jobs. The distinct rides the wide build at
    // session parallelism (it reduces the data-sized join product — the
    // CPU-wide class the kernel pin excludes).
    val e = graft.Tables.orders(s, dir)
      .join(graft.Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
      .anchor(Bound.PerEntity)
    // frontier = the base scans, NOT `e`: an anchor's origin
    // stats carry the upstream JOIN-product estimate (~1 TiB here —
    // measured pin 8177, q_hits 67 s in the r17 audit), exactly the
    // non-leaf-frame class the helper contract excludes
    withKernelShufflePartitionsFor(s,
      graft.Tables.orders(s, dir), graft.Tables.lineitem(s, dir)) {
      graft.dedup.DupClusters.hits(e)
        .orderBy(col("authority2").desc, col("node")).limit(10)
        .anchor(Bound.Metadata)
    }
  }

  private val hitsOracle =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |a1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS a1 FROM e GROUP BY dst),
      |h1 AS (
      |  SELECT src, CAST(sum(a1) AS BIGINT) AS h1
      |  FROM e JOIN a1 USING (dst) GROUP BY src),
      |a2 AS (
      |  SELECT dst, CAST(sum(h1) AS BIGINT) AS a2
      |  FROM e JOIN h1 USING (src) GROUP BY dst)
      |SELECT a1.dst AS node, a1.a1 AS authority1,
      |  CAST(COALESCE(a2.a2, 0) AS BIGINT) AS authority2
      |FROM a1 LEFT JOIN a2 ON a1.dst = a2.dst
      |ORDER BY authority2 DESC, node LIMIT 10""".stripMargin

  /** Degree assortativity ([[graft.dedup.DupClusters.degreeAssortativity]])
    * of the star-and-ring community graph — hubs attach to leaves, so r
    * must come out strongly negative; all five moment sums exact BIGINT,
    * r one fixed-order expression through DECIMAL(38) products.
    */
  private def assortativityQ(s: SparkSession, dir: String): DataFrame =
    // kernel pin (r16 A/B x3: base 1.8-3.0 s vs pin8 1.2-1.5, exact-equal)
    withKernelShufflePartitionsFor(s, Graphs.starRingEdges(s, dir)) {
      graft.dedup.DupClusters.degreeAssortativity(Graphs.starRingEdges(s, dir))
        .anchor(Bound.Metadata)
    }

  private val assortativityOracle =
    """WITH ids AS (SELECT doc_id AS id FROM documents),
      |star AS (SELECT id - id % 10 AS u, id AS v FROM ids WHERE id % 10 <> 0),
      |ring AS (SELECT a.id AS u, a.id + 10 AS v FROM ids a
      |  JOIN ids b ON b.id = a.id + 10
      |  WHERE a.id % 10 = 0 AND a.id % 100 < 90),
      |p AS (SELECT u, v FROM star UNION SELECT u, v FROM ring),
      |e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
      |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
      |j AS (
      |  SELECT du.d AS dx, dv.d AS dy FROM e
      |  JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v),
      |mm AS (
      |  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(dx) AS BIGINT) AS sx,
      |    CAST(sum(dy) AS BIGINT) AS sy, CAST(sum(dx * dy) AS BIGINT) AS sxy,
      |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
      |    CAST(sum(dy * dy) AS BIGINT) AS syy
      |  FROM j)
      |SELECT m, sx, sy, sxy, sxx, syy,
      |  CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0.0
      |        AND CAST(m * syy - sy * sy AS DOUBLE) > 0.0
      |    THEN CAST(m * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
      |        * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
      |    ELSE NULL END AS assortativity
      |FROM mm""".stripMargin

  /** l-diversity audit ([[graft.ops.Privacy.lDiversity]]): quasi-identifier
    * groups = (mktsegment, nation), sensitive value = the customer's order
    * priority — a group where everyone shares one priority leaks it even
    * when k-anonymous. Summary row + the non-diverse group list unioned
    * under one hash.
    */
  private def lDiversityQ(s: SparkSession, dir: String): DataFrame = {
    val joined = graft.Tables.customer(s, dir)
      .join(graft.Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("o_orderpriority"))
    graft.ops.Privacy.lDiversity(joined,
        Seq("c_mktsegment", "c_nationkey"), "o_orderpriority", l = 5)
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  private val lDiversityOracle =
    """SELECT c_mktsegment, c_nationkey,
      |  CAST(count(*) AS BIGINT) AS group_size,
      |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_sensitive,
      |  count(DISTINCT o_orderpriority) >= 5 AS diverse
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment, c_nationkey
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** t-closeness audit over the same quasi-identifier frame as
    * `q_l_diversity` ([[graft.ops.Privacy.tCloseness]]): EMD between each
    * group's order-priority distribution and the table's, carried as an
    * exact BIGINT numerator with ONE final division — a group can be
    * 5-diverse yet fail t-closeness when its priority mix skews.
    */
  private def tClosenessQ(s: SparkSession, dir: String): DataFrame = {
    val joined = graft.Tables.customer(s, dir)
      .join(graft.Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("o_orderpriority"))
    graft.ops.Privacy.tCloseness(joined,
        Seq("c_mktsegment", "c_nationkey"), "o_orderpriority", t = 0.12)
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  private val tClosenessOracle =
    """WITH j AS (
      |  SELECT c_mktsegment, c_nationkey, o_orderpriority AS v
      |  FROM customer JOIN orders ON c_custkey = o_custkey),
      |gdist AS (SELECT v, CAST(count(*) AS BIGINT) AS cp FROM j GROUP BY v),
      |grp AS (
      |  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS group_size
      |  FROM j GROUP BY 1, 2),
      |cells AS (
      |  SELECT c_mktsegment, c_nationkey, v, CAST(count(*) AS BIGINT) AS cq
      |  FROM j GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT g.c_mktsegment, g.c_nationkey, g.group_size, gl.v, gl.cp,
      |    COALESCE(c.cq, 0) AS cq
      |  FROM grp g CROSS JOIN gdist gl
      |  LEFT JOIN cells c ON c.c_mktsegment = g.c_mktsegment
      |    AND c.c_nationkey = g.c_nationkey AND c.v = gl.v),
      |cum AS (
      |  SELECT *,
      |    sum(cq) OVER (PARTITION BY c_mktsegment, c_nationkey
      |      ORDER BY v) AS cumq,
      |    sum(cp) OVER (PARTITION BY c_mktsegment, c_nationkey
      |      ORDER BY v) AS cump,
      |    sum(cp) OVER (PARTITION BY c_mktsegment, c_nationkey) AS N,
      |    count(*) OVER (PARTITION BY c_mktsegment, c_nationkey) AS k
      |  FROM grid)
      |SELECT c_mktsegment, c_nationkey, group_size,
      |  CAST(CAST(sum(abs(cumq * N - cump * group_size)) AS BIGINT) AS DOUBLE)
      |    / CAST(group_size * max(N) * (max(k) - 1) AS DOUBLE) AS emd,
      |  CAST(CAST(sum(abs(cumq * N - cump * group_size)) AS BIGINT) AS DOUBLE)
      |    / CAST(group_size * max(N) * (max(k) - 1) AS DOUBLE) <= 0.12 AS close
      |FROM cum WHERE k > 1
      |GROUP BY c_mktsegment, c_nationkey, group_size
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** Winsorization bounds from EXACT order statistics (the rank-`ceil(qn)`
    * value per group — a real data value, no interpolation, so it crosses
    * engines bit-exactly where interpolated percentiles would not), plus
    * clip counts. The robust-stats preprocessing step next to
    * `q_mad_outliers`. One window shuffle on the group key; the bound
    * tables are #groups-row broadcasts.
    */
  private def winsorizeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val ranked = ev
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // BOTH clip bounds read from ONE window pass (one filter catches either
    // rank, a conditional min picks each — ranks are unique per type, so
    // each min sees exactly one row and the values are identical to the
    // former one-pass-per-bound shape)
    val bounds = ranked
      .filter(col("rk") === ceil(col("n") * lit(0.05)) ||
        col("rk") === ceil(col("n") * lit(0.95)))
      .groupBy(col("event_type"))
      .agg(min(when(col("rk") === ceil(col("n") * lit(0.05)), col("value"))).as("lo"),
        min(when(col("rk") === ceil(col("n") * lit(0.95)), col("value"))).as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"))
      .orderBy(col("event_type"))
  }

  private val winsorizeOracle =
    """WITH r AS (SELECT event_type, event_id, value,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS BIGINT) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |lo AS (SELECT event_type, value AS lo FROM r
      |  WHERE rk = CAST(ceil(n * 0.05) AS BIGINT)),
      |hi AS (SELECT event_type, value AS hi FROM r
      |  WHERE rk = CAST(ceil(n * 0.95) AS BIGINT))
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
      |  min(lo) AS lo, min(hi) AS hi,
      |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_lo,
      |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_hi
      |FROM events e JOIN lo USING (event_type) JOIN hi USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Join-size estimation from per-key count products:
    * |A ⋈ B| = Σ_k cA(k)·cB(k), computed from two metadata-sized per-key
    * count tables — the statistic a planner (or a human sizing a shuffle)
    * uses WITHOUT running the join. The query also runs the actual join
    * count; the oracle recomputes both, and the `estimate_exact` flag
    * (estimate == actual, an identity) is demonstrated under the hash.
    * Self-join size (F2 moment, Σ c²) reported alongside for lineitem.
    */
  private def joinCardinalityQ(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
    val ord = graft.Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    val ca = li.groupBy(col("k")).agg(count(lit(1)).as("ca"))
    val cb = ord.groupBy(col("k")).agg(count(lit(1)).as("cb"))
    val est = ca.join(cb, "k")
      .agg(sum(col("ca") * col("cb")).as("estimated_join_rows"))
    val actual = li.join(ord, "k").agg(count(lit(1)).as("actual_join_rows"))
    val f2 = ca.agg(sum(col("ca") * col("ca")).as("lineitem_self_join_rows"))
    est.crossJoin(actual).crossJoin(f2)
      .select(col("estimated_join_rows"), col("actual_join_rows"),
        (col("estimated_join_rows") === col("actual_join_rows"))
          .as("estimate_exact"),
        col("lineitem_self_join_rows"))
  }

  private val joinCardinalityOracle =
    """WITH ca AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
      |cb AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1)
      |SELECT
      |  CAST((SELECT sum(ca.c * cb.c) FROM ca JOIN cb USING (k)) AS BIGINT)
      |    AS estimated_join_rows,
      |  CAST((SELECT count(*) FROM lineitem JOIN orders
      |    ON l_orderkey = o_orderkey) AS BIGINT) AS actual_join_rows,
      |  (SELECT sum(ca.c * cb.c) FROM ca JOIN cb USING (k)) =
      |    (SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |    AS estimate_exact,
      |  CAST((SELECT sum(c * c) FROM ca) AS BIGINT)
      |    AS lineitem_self_join_rows""".stripMargin

  /** Last-touch attribution: each purchase credits the user's most recent
    * prior click (`last(_, ignoreNulls)` over an unbounded-preceding
    * frame). One window shuffle on the user key; purchases with no prior
    * click attribute to nothing (counted separately).
    */
  private def attributionQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")),
          ignoreNulls = true).over(w))
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("last_click_id").isNull, 1L).otherwise(0L))
          .as("n_unattributed"),
        countDistinct(col("last_click_id")).as("n_credited_clicks"))
      .orderBy(col("user_id"))
  }

  private val attributionOracle =
    """WITH ev AS (SELECT user_id, ts, event_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(CASE WHEN last_click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unattributed,
      |  CAST(count(DISTINCT last_click_id) AS BIGINT) AS n_credited_clicks
      |FROM ev WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Rolling 7-day distinct users per day — exact, via a bounded day-range
    * self-join (the #days table is metadata-sized, so the "window with
    * DISTINCT" Spark windows can't express becomes a small range join +
    * distinct count; the sketch path for unbounded cardinalities is
    * `q_hll_merge`).
    */
  private def rollingDistinctQ(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = daily.select(col("day")).distinct()
    days.as("d").join(daily.as("u"),
        col("u.day").between(date_sub(col("d.day"), 6), col("d.day")))
      .groupBy(col("d.day").as("day"))
      .agg(countDistinct(col("u.user_id")).as("users_7d"))
      .orderBy(col("day"))
  }

  private val rollingDistinctOracle =
    """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM daily)
      |SELECT d.day AS day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS users_7d
      |FROM days d JOIN daily u
      |  ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      |GROUP BY d.day ORDER BY day""".stripMargin

  /** First-touch attribution: each purchase credits the user's FIRST click
    * ever (running `first(_, ignoreNulls)`) — the other end of the
    * attribution-model spectrum from [[attributionQ]]'s last-touch.
    */
  private def firstTouchQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("first_click_id",
        first(when(col("event_type") === "click", col("event_id")),
          ignoreNulls = true).over(w))
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("first_click_id").isNull, 1L).otherwise(0L))
          .as("n_unattributed"),
        countDistinct(col("first_click_id")).as("n_credited_clicks"))
      .orderBy(col("user_id"))
  }

  private val firstTouchOracle =
    """WITH ev AS (SELECT user_id, ts, event_id, event_type,
      |    first_value(CASE WHEN event_type = 'click' THEN event_id END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click_id
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(CASE WHEN first_click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unattributed,
      |  CAST(count(DISTINCT first_click_id) AS BIGINT) AS n_credited_clicks
      |FROM ev WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Spatial radius self-join ([[graft.ops.GeoJoin.radiusJoin]]) on
    * deterministic integer points derived from doc ids: grid-binned 3×3
    * neighborhood equi-join, exact squared-distance predicate. The oracle is
    * the brute-force O(n²) join — tractable at oracle scale, which is
    * precisely why the binned plan exists for every other scale.
    */
  private def geoRadiusQ(s: SparkSession, dir: String): DataFrame = {
    val pts = graft.Tables.documents(s, dir).select(col("doc_id").as("id"),
      (col("doc_id") * 37 % 1000).as("x"), (col("doc_id") * 61 % 1000).as("y"))
    graft.ops.GeoJoin.radiusJoin(pts, radius = 25)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val geoRadiusOracle =
    """WITH p AS (
      |  SELECT doc_id AS id, (doc_id * 37) % 1000 AS x,
      |    (doc_id * 61) % 1000 AS y
      |  FROM documents)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
      |FROM p a JOIN p b ON a.id < b.id
      |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 625
      |ORDER BY id_a, id_b""".stripMargin

  /** Per-source Spearman rank correlation
    * ([[graft.analytics.Correlation.spearman]]) of document length vs word
    * count: exact integer ranks (row_number, doc_id tie-break), exact Σd²,
    * and the classic ρ as one fixed-operand-order IEEE expression — the
    * FP-under-hash discipline of `q_readability`.
    */
  /** Kendall τ-a between per-user activity (event count) and spend (exact
    * cents) within each event type ([[graft.analytics.Correlation.kendallTau]]):
    * the exact half-matrix pair join, concordant/discordant as longs.
    */
  private def kendallQ(s: SparkSession, dir: String): DataFrame = {
    val g = graft.Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    graft.analytics.Correlation.kendallTau(g, "event_type", "x", "y", "user_id")
      .orderBy(col("event_type"))
  }

  private val kendallOracle =
    """WITH g AS (
      |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY event_type, user_id),
      |p AS (
      |  SELECT a.event_type, (a.x - b.x) * (a.y - b.y) AS s
      |  FROM g a JOIN g b
      |    ON a.event_type = b.event_type AND a.user_id < b.user_id)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      |  CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) -
      |       sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE) AS tau_a
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Sampled-pair Kendall τ̂ ([[graft.analytics.Correlation.kendallTauSampled]])
    * over the same per-user frame as `q_kendall_tau` — the scale path past
    * the enforced quadratic bound: 200 md5-deterministic pair draws per
    * event type, each resolved by two equi-joins on (group, rank); the
    * oracle unrolls the identical draw (md5 rank order, u32 fold, the
    * j≥i shift trick), so the hash match proves the estimator replays
    * bit-exactly on another engine.
    */
  private def kendallSampledQ(s: SparkSession, dir: String): DataFrame = {
    val g = graft.Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    graft.analytics.Correlation.kendallTauSampled(
      g, "event_type", "x", "y", "user_id", pairsPerGroup = 200)
      .orderBy(col("event_type"))
  }

  private val kendallSampledOracle = {
    val u32a = graft.queries.OracleSql.md5U32Sql(
      "'ktau:' || event_type || ':' || CAST(t AS VARCHAR) || ':a'")
    val u32b = graft.queries.OracleSql.md5U32Sql(
      "'ktau:' || event_type || ':' || CAST(t AS VARCHAR) || ':b'")
    s"""WITH g AS (
       |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM events GROUP BY event_type, user_id),
       |ranked AS (
       |  SELECT event_type, x, y,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY md5('ktau:' || CAST(user_id AS VARCHAR)), user_id)
       |      AS BIGINT) AS r
       |  FROM g),
       |counts AS (
       |  SELECT event_type, max(r) AS n FROM ranked GROUP BY event_type),
       |draws AS (
       |  SELECT event_type, n, t,
       |    1 + ($u32a) % n AS i,
       |    1 + ($u32b) % (n - 1) AS j0
       |  FROM counts CROSS JOIN generate_series(1, 200) AS s(t)
       |  WHERE n >= 2),
       |pairs AS (
       |  SELECT d.event_type,
       |    (l.x - rr.x) * (l.y - rr.y) AS sg
       |  FROM (SELECT event_type, i,
       |          CASE WHEN j0 >= i THEN j0 + 1 ELSE j0 END AS j
       |        FROM draws) d
       |  JOIN ranked l ON l.event_type = d.event_type AND l.r = d.i
       |  JOIN ranked rr ON rr.event_type = d.event_type AND rr.r = d.j)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN sg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
       |  CAST(sum(CASE WHEN sg < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
       |  CAST(sum(CASE WHEN sg > 0 THEN 1 ELSE 0 END) -
       |       sum(CASE WHEN sg < 0 THEN 1 ELSE 0 END) AS DOUBLE) /
       |    CAST(count(*) AS DOUBLE) AS tau_a_est
       |FROM pairs GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  private def rankCorrQ(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir).withColumn("n_words",
      size(filter(split(col("text"), "\\s+"), w => w =!= "")).cast("long"))
    graft.analytics.Correlation.spearman(d, "source", "n_chars", "n_words", "doc_id")
      .orderBy(col("source"))
  }

  private val rankCorrOracle =
    """WITH d AS (
      |  SELECT source, doc_id, n_chars,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      x -> x <> '')) AS BIGINT) AS n_words
      |  FROM documents),
      |r AS (
      |  SELECT source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
      |      AS BIGINT) AS rx,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_words, doc_id)
      |      AS BIGINT) AS ry
      |  FROM d)
      |SELECT source, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum((rx-ry)*(rx-ry)) AS BIGINT) AS sum_d2,
      |  CASE WHEN count(*) > 1 THEN
      |    1.0 - (6.0 * CAST(sum((rx-ry)*(rx-ry)) AS DOUBLE)) /
      |      (CAST(count(*) AS DOUBLE) *
      |        (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0))
      |  ELSE 0.0 END AS spearman_rho
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Interval-union coverage ([[graft.ops.Intervals.coverage]]): each event
    * opens an `event_id`-derived lease interval; per user, overlapping
    * leases merge into islands and the covered total counts overlap once.
    * All bounds are exact epoch-microsecond longs.
    */
  private def intervalCoverageQ(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) + (col("event_id") % 50 + 1) * 1000000L).as("e_us"))
    graft.ops.Intervals.coverage(ev, "user_id", "s_us", "e_us")
      .orderBy(col("user_id"))
  }

  private val intervalCoverageOracle =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + (event_id % 50 + 1) * 1000000 AS e_us
      |  FROM events),
      |m AS (
      |  SELECT user_id, s_us, e_us,
      |    max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM iv),
      |i AS (
      |  SELECT user_id, s_us, e_us,
      |    sum(CASE WHEN pm IS NULL OR s_us > pm THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM m),
      |g AS (
      |  SELECT user_id, island, count(*) AS cnt, min(s_us) AS s,
      |    max(e_us) AS e
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_intervals,
      |  CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(e - s) AS BIGINT) AS covered
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** 2-D skyline ([[graft.analytics.Skyline.skyline2d]]) per source over
    * (length, pseudo-score): the sort-filter window algorithm, proven
    * against the oracle's brute-force NOT-EXISTS dominance test.
    */
  private def skylineQ(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir).select(col("source"),
      col("n_chars").as("x"), ((col("doc_id") * 7) % 1000).as("y"))
    graft.analytics.Skyline.skyline2d(d, "source", "x", "y")
      .orderBy(col("source"), col("x"), col("y"))
  }

  private val skylineOracle =
    """WITH p AS (
      |  SELECT DISTINCT source, n_chars AS x, (doc_id * 7) % 1000 AS y
      |  FROM documents)
      |SELECT source, x, y FROM p a
      |WHERE NOT EXISTS (SELECT 1 FROM p b WHERE b.source = a.source
      |  AND b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y))
      |ORDER BY source, x, y""".stripMargin

  /** Per-source least squares ([[graft.analytics.Correlation.regression]])
    * of word count on char count: the exact BIGINT moment sums sit under
    * the hash alongside the fitted slope/intercept, each one fixed-order
    * IEEE expression — so the FIT itself is verified, not just its inputs.
    */
  private def groupRegressionQ(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir).withColumn("n_words",
      size(filter(split(col("text"), "\\s+"), w => w =!= "")).cast("long"))
    graft.analytics.Correlation.regression(d, "source", "n_chars", "n_words")
      .orderBy(col("source"))
  }

  private val groupRegressionOracle =
    """WITH d AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      t -> t <> '')) AS BIGINT) AS y
      |  FROM documents),
      |a AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
      |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
      |    CAST(sum(x * x) AS BIGINT) AS sum_x2
      |  FROM d GROUP BY source),
      |r AS (
      |  SELECT *, CASE WHEN CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE) -
      |      CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) <> 0.0
      |    THEN (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE) -
      |        CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE)) /
      |      (CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE) -
      |        CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
      |    ELSE 0.0 END AS slope
      |  FROM a)
      |SELECT source, n, sum_x, sum_y, sum_xy, sum_x2, slope,
      |  (CAST(sum_y AS DOUBLE) - slope * CAST(sum_x AS DOUBLE)) /
      |    CAST(n AS DOUBLE) AS intercept
      |FROM r ORDER BY source""".stripMargin

  /** Nearest neighbor within the radius ([[graft.ops.GeoJoin.nearestWithin]]):
    * per-point argmin over the binned candidate pairs, (dist2, id) ties
    * deterministic; the oracle brute-forces the same bounded-NN semantics.
    */
  private def geoNearestQ(s: SparkSession, dir: String): DataFrame = {
    val pts = graft.Tables.documents(s, dir).select(col("doc_id").as("id"),
      (col("doc_id") * 37 % 1000).as("x"), (col("doc_id") * 61 % 1000).as("y"))
    graft.ops.GeoJoin.nearestWithin(pts, radius = 25).orderBy(col("id"))
  }

  private val geoNearestOracle =
    """WITH p AS (
      |  SELECT doc_id AS id, (doc_id * 37) % 1000 AS x,
      |    (doc_id * 61) % 1000 AS y
      |  FROM documents),
      |c AS (
      |  SELECT a.id AS id, b.id AS nn,
      |    CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
      |  FROM p a JOIN p b ON a.id <> b.id
      |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 625)
      |SELECT id, nn AS nn_id, dist2 FROM (
      |  SELECT id, nn, dist2,
      |    row_number() OVER (PARTITION BY id ORDER BY dist2, nn) AS rk
      |  FROM c)
      |WHERE rk = 1 ORDER BY id""".stripMargin

  /** Quantile normalization ([[graft.analytics.QuantileNorm]]) of doc
    * length across sources: the oracle's naive global `row_number()` over
    * the pooled order IS the single-task plan the operator's
    * StableIds path exists to avoid — equality proves the range-partitioned
    * order statistics match the naive total order exactly.
    */
  private def quantileNormQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.QuantileNorm.quantileNormalize(
        graft.Tables.documents(s, dir), "source", "n_chars", "doc_id")
      .orderBy(col("doc_id"))

  private val quantileNormOracle =
    """WITH v AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM v),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
      |  FROM v GROUP BY source),
      |r AS (
      |  SELECT doc_id, source, v,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY v, doc_id)
      |      AS BIGINT) AS rk
      |  FROM v),
      |p AS (
      |  SELECT v AS pv,
      |    CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT) AS pos
      |  FROM v),
      |t AS (
      |  SELECT r.doc_id, r.source, r.v,
      |    least(greatest(((2 * rk - 1) * nn + ns) // (2 * ns), 1), nn) AS idx
      |  FROM r CROSS JOIN tot JOIN g ON g.source = r.source)
      |SELECT t.doc_id, t.source, t.v AS value, p.pv AS normalized
      |FROM t JOIN p ON p.pos = t.idx ORDER BY t.doc_id""".stripMargin

  /** Point-in-time (SCD2) dimension probe — THE lakehouse dimension-join
    * pattern: facts join the version whose validity window contains their
    * timestamp. Dim = the event-derived SCD2 table (`q_scd2`); probes =
    * purchase events at t+1 s. Equi-join on the entity key with the range
    * predicate as a post-filter — per-user version lists are short, so the
    * join cost is the user-key shuffle.
    */
  private def scd2JoinQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dim = graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us",
        coalesce(unix_micros(lead(col("ts"), 1).over(w)), lit(-1L)))
      .select(col("user_id"), col("version"), col("valid_from_us"),
        col("valid_to_us"))
    val probes = graft.Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("probe_id"), col("user_id"),
        (unix_micros(col("ts")) + 1000000L).as("t_us"))
    probes.join(dim, Seq("user_id"))
      .filter(col("t_us") >= col("valid_from_us") &&
        (col("valid_to_us") === -1L || col("t_us") < col("valid_to_us")))
      .select(col("probe_id"), col("user_id"), col("t_us"), col("version"))
      .orderBy(col("probe_id"))
  }

  private val scd2JoinOracle =
    """WITH dim AS (
      |  SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
      |    epoch_us(ts) AS vf, coalesce(lead(epoch_us(ts)) OVER w, -1) AS vt
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |pr AS (
      |  SELECT event_id AS probe_id, user_id, epoch_us(ts) + 1000000 AS t_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT probe_id, user_id, t_us, version
      |FROM pr JOIN dim USING (user_id)
      |WHERE t_us >= vf AND (vt = -1 OR t_us < vt)
      |ORDER BY probe_id""".stripMargin

  /** Two rounds of synchronous label propagation
    * ([[graft.dedup.DupClusters.labelPropagation]]) on a deterministic
    * star-and-ring community graph over doc ids; the oracle unrolls both
    * rounds (votes → count → (c desc, label) argmax) so every intermediate
    * majority vote is replicated, not just the final communities.
    */
  private def labelPropQ(s: SparkSession, dir: String): DataFrame =
    withKernelShufflePartitionsFor(s, Graphs.starRingEdges(s, dir)) {
      graft.dedup.DupClusters
        .labelPropagation(Graphs.starRingEdges(s, dir), rounds = 2)
        .select(col("n").as("node_id"), col("lbl").as("label"))
        .orderBy(col("node_id"))
    }

  private val labelPropOracle = {
    def round(k: Int) =
      s"""v$k AS (
        |  SELECT n, lbl, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT e.u AS n, l.lbl AS lbl FROM ed e JOIN l${k - 1} l ON l.n = e.v
        |    UNION ALL SELECT e.v, l.lbl FROM ed e JOIN l${k - 1} l ON l.n = e.u
        |    UNION ALL SELECT n, lbl FROM l${k - 1})
        |  GROUP BY 1, 2),
        |l$k AS (
        |  SELECT n, lbl FROM (SELECT n, lbl,
        |      row_number() OVER (PARTITION BY n ORDER BY c DESC, lbl) AS rk
        |    FROM v$k) WHERE rk = 1)""".stripMargin
    s"""WITH ed AS (
      |  SELECT doc_id - doc_id % 10 AS u, doc_id AS v FROM documents
      |  WHERE doc_id % 10 <> 0
      |  UNION
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 10
      |  WHERE a.doc_id % 10 = 0 AND a.doc_id % 100 < 90),
      |l0 AS (
      |  SELECT n, n AS lbl FROM (
      |    SELECT u AS n FROM ed UNION SELECT v FROM ed)),
      |${round(1)},
      |${round(2)}
      |SELECT n AS node_id, lbl AS label FROM l2 ORDER BY node_id""".stripMargin
  }

  /** k-core peel ([[graft.dedup.DupClusters.kCorePeel]]) on the planted
    * hub-and-spoke graph of `q_label_prop` plus a ring-closing edge per
    * 100-block, so each block's ten hubs form a closed cycle: the 2-core is
    * exactly the hub cycles (every spoke peels in round 1, every hub keeps
    * degree 2), and round 2 is already the fixpoint — which the spec
    * asserts, so the fixed-rounds oracle is checking the converged core.
    */
  private def kCoreQ(s: SparkSession, dir: String): DataFrame =
    withKernelShufflePartitionsFor(s, Graphs.hubCycleEdges(s, dir)) {
      graft.dedup.DupClusters
        .kCorePeel(Graphs.hubCycleEdges(s, dir), k = 2, rounds = 2)
        .orderBy(col("node_id"))
    }

  private val kCoreOracle = {
    def round(i: Int) =
      s"""d$i AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
        |  GROUP BY n),
        |k$i AS (SELECT n FROM d$i WHERE d >= 2),
        |e$i AS (
        |  SELECT u, v FROM e${i - 1}
        |  WHERE u IN (SELECT n FROM k$i) AND v IN (SELECT n FROM k$i))""".stripMargin
    s"""WITH ed AS (
      |  SELECT doc_id - doc_id % 10 AS u, doc_id AS v FROM documents
      |  WHERE doc_id % 10 <> 0
      |  UNION
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 10
      |  WHERE a.doc_id % 10 = 0 AND a.doc_id % 100 < 90
      |  UNION
      |  SELECT doc_id - 90 AS u, doc_id AS v FROM documents
      |  WHERE doc_id % 10 = 0 AND doc_id % 100 = 90),
      |e0 AS (
      |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM ed
      |  WHERE u <> v),
      |${round(1)},
      |${round(2)}
      |SELECT n AS node_id, CAST(count(*) AS BIGINT) AS core_degree FROM (
      |  SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2)
      |GROUP BY n ORDER BY node_id""".stripMargin
  }

  /** 2-hop neighborhood audit ([[graft.dedup.DupClusters.twoHopNeighbors]])
    * on the `q_kcore` hub-cycle graph: spokes see their hub's cycle
    * neighbors and co-spokes; hubs see two cycle-distance-2 hubs plus
    * neighbor hubs' spokes. The oracle recomputes the exact adjacency
    * self-join — degree and 2-hop counts per node all under the hash.
    */
  // eager-evaluated inside the kernel pin (the lazy wedge DAG otherwise
  // re-plans under the session's 32 partitions at fixture scale); rows
  // and values are partition-count-invariant exact integers
  private def twoHopQ(s: SparkSession, dir: String): DataFrame =
    withKernelShufflePartitionsFor(s, Graphs.hubCycleEdges(s, dir)) {
      graft.dedup.DupClusters
        .twoHopNeighbors(Graphs.hubCycleEdges(s, dir))
        .orderBy(col("node_id"))
        .anchor(Bound.Fixture)
    }

  private val twoHopOracle =
    """WITH ed AS (
      |  SELECT doc_id - doc_id % 10 AS u, doc_id AS v FROM documents
      |  WHERE doc_id % 10 <> 0
      |  UNION
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 10
      |  WHERE a.doc_id % 10 = 0 AND a.doc_id % 100 < 90
      |  UNION
      |  SELECT doc_id - 90 AS u, doc_id AS v FROM documents
      |  WHERE doc_id % 10 = 0 AND doc_id % 100 = 90),
      |e0 AS (
      |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM ed
      |  WHERE u <> v),
      |adj AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
      |two AS (
      |  SELECT DISTINCT a.u, b.v AS w
      |  FROM adj a JOIN adj b ON a.v = b.u
      |  WHERE a.u <> b.v),
      |twoex AS (
      |  SELECT two.u, two.w FROM two
      |  WHERE NOT EXISTS (SELECT 1 FROM adj WHERE adj.u = two.u AND adj.v = two.w)),
      |d AS (SELECT u, CAST(count(*) AS BIGINT) AS n_direct FROM adj GROUP BY u),
      |t AS (SELECT u, CAST(count(*) AS BIGINT) AS n2 FROM twoex GROUP BY u)
      |SELECT d.u AS node_id, d.n_direct,
      |  CAST(coalesce(t.n2, 0) AS BIGINT) AS n_two_hop
      |FROM d LEFT JOIN t ON t.u = d.u ORDER BY node_id""".stripMargin

  /** Personalized PageRank
    * ([[graft.dedup.DupClusters.personalizedPageRank]]) seeded at block 0's
    * hubs on the hub-cycle graph: mass stays inside block 0 (blocks are
    * disconnected), spokes earn message-only mass (zero restart), every
    * other block is EXACTLY 0 — all integer arithmetic, both unrolled
    * rounds under the hash.
    */
  private def pprQ(s: SparkSession, dir: String): DataFrame =
    withKernelShufflePartitionsFor(s, Graphs.hubCycleEdges(s, dir)) {
      val seeds = graft.Tables.documents(s, dir)
        .filter(col("doc_id") < 100 && col("doc_id") % 10 === 0)
        .select(col("doc_id").as("node_id"))
      graft.dedup.DupClusters
        .personalizedPageRank(Graphs.hubCycleEdges(s, dir), seeds)
        .select(col("id").as("node_id"), col("pr"))
        .orderBy(col("node_id"))
    }

  private val pprOracle =
    """WITH ed AS (
      |  SELECT doc_id - doc_id % 10 AS u, doc_id AS v FROM documents
      |  WHERE doc_id % 10 <> 0
      |  UNION
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 10
      |  WHERE a.doc_id % 10 = 0 AND a.doc_id % 100 < 90
      |  UNION
      |  SELECT doc_id - 90 AS u, doc_id AS v FROM documents
      |  WHERE doc_id % 10 = 0 AND doc_id % 100 = 90),
      |e0 AS (
      |  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM ed
      |  WHERE u <> v),
      |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS du FROM e GROUP BY u),
      |nodes AS (
      |  SELECT u AS id,
      |    CASE WHEN u < 100 AND u % 10 = 0 THEN 1 ELSE 0 END AS s
      |  FROM deg),
      |pr0 AS (SELECT id, CAST(s * 1000000000000 AS BIGINT) AS pr FROM nodes),
      |m1 AS (
      |  SELECT e.v, sum(pr // du) AS sm
      |  FROM e JOIN deg USING (u) JOIN pr0 ON pr0.id = e.u GROUP BY e.v),
      |it1 AS (
      |  SELECT n.id,
      |    CAST(n.s * 150000000000 + (85 * coalesce(m1.sm, 0)) // 100 AS BIGINT) AS pr
      |  FROM nodes n LEFT JOIN m1 ON m1.v = n.id),
      |m2 AS (
      |  SELECT e.v, sum(pr // du) AS sm
      |  FROM e JOIN deg USING (u) JOIN it1 ON it1.id = e.u GROUP BY e.v),
      |it2 AS (
      |  SELECT n.id,
      |    CAST(n.s * 150000000000 + (85 * coalesce(m2.sm, 0)) // 100 AS BIGINT) AS pr
      |  FROM nodes n LEFT JOIN m2 ON m2.v = n.id)
      |SELECT id AS node_id, pr FROM it2 ORDER BY node_id""".stripMargin

  /** Distribution-drift audit ([[graft.analytics.Drift.chi2Buckets]]):
    * even- vs odd-id documents as the two data drops, n_chars bucketed by
    * 50 into 10 bins. Exact counts under the hash; expected counts and
    * per-bucket chi-square contributions as fixed-order IEEE expressions
    * (no cross-bucket double total — summation order would be
    * engine-dependent; callers sum ≤ nBuckets terms).
    */
  private def driftQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.chi2Buckets(graft.Tables.documents(s, dir),
        "n_chars", col("doc_id") % 2 === 0, bucketWidth = 50L, nBuckets = 10)
      .orderBy(col("bucket"))

  private val driftOracle =
    """WITH b AS (
      |  SELECT least(greatest(n_chars // 50, 0), 9) AS bucket,
      |    doc_id % 2 = 0 AS a
      |  FROM documents),
      |c AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM b GROUP BY bucket),
      |t AS (
      |  SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
      |    CAST(sum(n_a + n_b) AS BIGINT) AS nn
      |  FROM c),
      |e AS (
      |  SELECT bucket, n_a, n_b,
      |    CAST((n_a + n_b) * ta AS DOUBLE) / CAST(nn AS DOUBLE) AS e_a,
      |    CAST((n_a + n_b) * tb AS DOUBLE) / CAST(nn AS DOUBLE) AS e_b
      |  FROM c CROSS JOIN t)
      |SELECT bucket, n_a, n_b, e_a, e_b,
      |  CASE WHEN e_a > 0.0 THEN
      |    (CAST(n_a AS DOUBLE) - e_a) * (CAST(n_a AS DOUBLE) - e_a) / e_a
      |    ELSE 0.0 END AS chi2_a,
      |  CASE WHEN e_b > 0.0 THEN
      |    (CAST(n_b AS DOUBLE) - e_b) * (CAST(n_b AS DOUBLE) - e_b) / e_b
      |    ELSE 0.0 END AS chi2_b
      |FROM e ORDER BY bucket""".stripMargin

  /** Distribution shape per source ([[graft.analytics.Correlation.moments]]):
    * the exact BIGINT power sums sit under the hash alongside variance /
    * skewness / kurtosis, each a fixed-operand-order IEEE expression from
    * those sums — shape statistics verified cross-engine.
    */
  private def momentsQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Correlation.moments(
        graft.Tables.documents(s, dir), "source", "n_chars")
      .orderBy(col("source"))

  private val momentsOracle =
    """WITH a AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(n_chars) AS BIGINT) AS s1,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
      |    CAST(sum(n_chars * n_chars * n_chars) AS BIGINT) AS s3,
      |    CAST(sum(n_chars * n_chars * n_chars * n_chars) AS BIGINT) AS s4
      |  FROM documents GROUP BY source),
      |b AS (
      |  SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM a),
      |c AS (
      |  SELECT *,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mean * mean AS variance,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) -
      |      3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
      |      2.0 * mean * mean * mean AS m3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) -
      |      4.0 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) +
      |      6.0 * mean * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) -
      |      3.0 * mean * mean * mean * mean AS m4
      |  FROM b)
      |SELECT source, n, s1, s2, s3, s4, mean, variance,
      |  CASE WHEN variance > 0.0
      |    THEN m3 / sqrt(variance * variance * variance) ELSE 0.0 END AS skewness,
      |  CASE WHEN variance > 0.0
      |    THEN m4 / (variance * variance) - 3.0 ELSE 0.0 END AS kurtosis
      |FROM c ORDER BY source""".stripMargin

  /** Pearson matrix over lineitem pricing columns
    * ([[graft.analytics.Correlation.pearsonMatrix]]): cent-grid integers,
    * BIGINT moment sums, DECIMAL(38) cross products, one fixed-order IEEE
    * `r` per pair — the correlation VALUES hash-compare, and `sum_ab` pins
    * the exact sums they came from. TPC-H ties l_extendedprice to
    * l_quantity, so the (quantity, discount/tax) pairs are near zero and
    * the machinery can't pass on magnitude alone.
    */
  private def corrMatrixQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Correlation.pearsonMatrix(
        graft.Tables.lineitem(s, dir),
        Seq("l_quantity", "l_discount", "l_tax"))
      .orderBy(col("col_a"), col("col_b"))

  private val corrMatrixOracle = {
    def r(i: Int, j: Int) = {
      val (sa, sb, sab) = (s"s$i", s"s$j", s"s${i}_$j")
      s"""CASE WHEN (n::HUGEINT*s$i$i - $sa::HUGEINT*$sa) > 0
        |    AND (n::HUGEINT*s$j$j - $sb::HUGEINT*$sb) > 0
        |  THEN ((n::HUGEINT*$sab - $sa::HUGEINT*$sb)::DOUBLE) /
        |    (sqrt((n::HUGEINT*s$i$i - $sa::HUGEINT*$sa)::DOUBLE) *
        |     sqrt((n::HUGEINT*s$j$j - $sb::HUGEINT*$sb)::DOUBLE))
        |  ELSE NULL END AS r""".stripMargin
    }
    s"""WITH x AS (
      |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x0,
      |    CAST(round(l_discount * 100) AS BIGINT) AS x1,
      |    CAST(round(l_tax * 100) AS BIGINT) AS x2
      |  FROM lineitem),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x0) AS BIGINT) AS s0, CAST(sum(x0*x0) AS BIGINT) AS s00,
      |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x1*x1) AS BIGINT) AS s11,
      |    CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(x2*x2) AS BIGINT) AS s22,
      |    CAST(sum(x0*x1) AS BIGINT) AS s0_1,
      |    CAST(sum(x0*x2) AS BIGINT) AS s0_2,
      |    CAST(sum(x1*x2) AS BIGINT) AS s1_2
      |  FROM x)
      |SELECT * FROM (
      |  SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, n,
      |    s0_1 AS sum_ab, ${r(0, 1)} FROM s
      |  UNION ALL
      |  SELECT 'l_quantity', 'l_tax', n, s0_2, ${r(0, 2)} FROM s
      |  UNION ALL
      |  SELECT 'l_discount', 'l_tax', n, s1_2, ${r(1, 2)} FROM s)
      |ORDER BY col_a, col_b""".stripMargin
  }

  /** Exact weighted median per event type
    * ([[graft.analytics.Correlation.weightedMedian]]): smallest value whose
    * running weight reaches half the total — 2·cumw ≥ W on exact BIGINTs,
    * the selected value is a data value.
    */
  private def weightedMedianQ(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir).select(col("event_type"),
      col("event_id"), (col("event_id") % 100).as("v"),
      (col("user_id") % 7 + 1).as("wt"))
    graft.analytics.Correlation.weightedMedian(ev, "event_type", "v", "wt",
        "event_id")
      .orderBy(col("event_type"))
  }

  private val weightedMedianOracle =
    """WITH ev AS (
      |  SELECT event_type, event_id, event_id % 100 AS v,
      |    user_id % 7 + 1 AS wt
      |  FROM events),
      |c AS (
      |  SELECT event_type, v, wt,
      |    sum(wt) OVER (PARTITION BY event_type ORDER BY v, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
      |  FROM ev),
      |t AS (
      |  SELECT event_type, CAST(sum(wt) AS BIGINT) AS tw,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM ev GROUP BY event_type)
      |SELECT c.event_type, t.n, t.tw AS total_weight,
      |  CAST(min(c.v) AS BIGINT) AS weighted_median
      |FROM c JOIN t ON t.event_type = c.event_type
      |WHERE c.cumw * 2 >= t.tw
      |GROUP BY c.event_type, t.n, t.tw
      |ORDER BY c.event_type""".stripMargin

  /** Run-length clustering audit — the metric layout sorting (Z-order,
    * [[graft.maintain.Layout]]) exists to improve: per source, how many
    * value-runs does the `lang` column form in id order, and the average
    * run length (exact counts; the ratio is one division). Long runs ⇒
    * better RLE/dictionary compression and fewer row-group value switches.
    */
  private def runLengthQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    graft.Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("lang"))
      .withColumn("__new",
        when(lag(col("lang"), 1).over(w).isNull ||
          col("lang") =!= lag(col("lang"), 1).over(w), 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("__new")).as("n_runs"))
      .withColumn("avg_run_len",
        col("n").cast("double") / col("n_runs").cast("double"))
      .orderBy(col("source"))
  }

  private val runLengthOracle =
    """WITH r AS (
      |  SELECT source,
      |    CASE WHEN lag(lang) OVER (PARTITION BY source ORDER BY doc_id)
      |      IS DISTINCT FROM lang THEN 1 ELSE 0 END AS nw
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(nw) AS BIGINT) AS n_runs,
      |  CAST(count(*) AS DOUBLE) / CAST(sum(nw) AS DOUBLE) AS avg_run_len
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Time-to-conversion: per user, the first click and the first purchase
    * at-or-after it, with the exact microsecond delta — the product-funnel
    * latency metric; users who never converted after their first click are
    * excluded (the unconverted count is `q_funnel`'s business).
    */
  private def timeToConvertQ(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("first_click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    firstClick.join(purchases, Seq("user_id"))
      .filter(col("p_us") >= col("first_click_us"))
      .groupBy(col("user_id"), col("first_click_us"))
      .agg(min(col("p_us")).as("first_purchase_us"))
      .withColumn("delta_us", col("first_purchase_us") - col("first_click_us"))
      .select(col("user_id"), col("first_click_us"), col("first_purchase_us"),
        col("delta_us"))
      .orderBy(col("user_id"))
  }

  private val timeToConvertOracle =
    """WITH fc AS (
      |  SELECT user_id, min(epoch_us(ts)) AS first_click_us
      |  FROM events WHERE event_type = 'click' GROUP BY user_id),
      |p AS (
      |  SELECT user_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT fc.user_id, fc.first_click_us,
      |  min(p.p_us) AS first_purchase_us,
      |  min(p.p_us) - fc.first_click_us AS delta_us
      |FROM fc JOIN p ON p.user_id = fc.user_id
      |WHERE p.p_us >= fc.first_click_us
      |GROUP BY fc.user_id, fc.first_click_us
      |ORDER BY fc.user_id""".stripMargin

  /** Frequent temporal 2-sequences ("A occurs, then B occurs, per user") —
    * the sequential-pattern-mining support primitive, DISTINCT from the
    * adjacent-transition Markov counts of `q_event_transitions`: support
    * here is EXISTENTIAL per user (some A occurrence strictly before some
    * B occurrence, i.e. first(A) < last(B)), the PrefixSpan length-2
    * definition. Per-user state is the k-bounded (user, type) first/last
    * frame, so the self-join fans out at most k² rows per user — ONE
    * shuffle on the user key, never a per-event pair join.
    */
  private def seqPatternsQ(s: SparkSession, dir: String): DataFrame = {
    val occ = graft.Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = occ.groupBy(col("event_type").as("antecedent"))
      .agg(count(lit(1)).as("ante_users"))
    val sup = occ.as("a").join(occ.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_type") =!= col("b.event_type") &&
        col("a.first_ts") < col("b.last_ts"))
      .groupBy(col("a.event_type").as("antecedent"),
        col("b.event_type").as("consequent"))
      .agg(count(lit(1)).as("support"))
    sup.filter(col("support") >= 5)
      .join(broadcast(base), Seq("antecedent"))
      .withColumn("confidence",
        col("support").cast("double") / col("ante_users").cast("double"))
      .orderBy(desc("support"), col("antecedent"), col("consequent"))
  }

  private val seqPatternsOracle =
    """WITH occ AS (
      |  SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
      |  FROM events GROUP BY user_id, event_type),
      |base AS (SELECT event_type AS antecedent,
      |  CAST(count(*) AS BIGINT) AS ante_users FROM occ GROUP BY event_type),
      |sup AS (SELECT a.event_type AS antecedent, b.event_type AS consequent,
      |  CAST(count(*) AS BIGINT) AS support
      |  FROM occ a JOIN occ b ON a.user_id = b.user_id
      |    AND a.event_type <> b.event_type AND a.first_ts < b.last_ts
      |  GROUP BY a.event_type, b.event_type)
      |SELECT antecedent, consequent, support, ante_users,
      |  CAST(support AS DOUBLE) / CAST(ante_users AS DOUBLE) AS confidence
      |FROM sup JOIN base USING (antecedent)
      |WHERE support >= 5
      |ORDER BY support DESC, antecedent, consequent""".stripMargin

  /** Per-user best changepoint ([[graft.analytics.Drift.changepoint]]):
    * the split of each user's (ts, event_id)-ordered cent series that
    * maximizes the between-segment SS reduction — binary segmentation's
    * first step. Exact DECIMAL prefix sums; per-row gains are single
    * fixed-order IEEE expressions; argmax ties break to the earliest
    * split. The oracle replays the identical windows.
    */
  private def changepointQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.changepoint(
        graft.Tables.events(s, dir), "user_id", Seq("ts", "event_id"),
        round(col("value") * 100, 0))
      .withColumnRenamed("entity", "user_id")
      .orderBy(col("user_id"))

  private val changepointOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |p AS (SELECT user_id,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
      |  sum(CAST(cents AS HUGEINT)) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
      |  sum(CAST(cents AS HUGEINT) * cents) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pq,
      |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_u,
      |  sum(CAST(cents AS HUGEINT)) OVER (PARTITION BY user_id) AS s_u,
      |  sum(CAST(cents AS HUGEINT) * cents) OVER (PARTITION BY user_id) AS q_u
      |  FROM e),
      |g AS (SELECT user_id, n_u, pos,
      |  (CAST(q_u AS DOUBLE)
      |     - (CAST(s_u AS DOUBLE) * CAST(s_u AS DOUBLE)) / CAST(n_u AS DOUBLE))
      |  - (CAST(pq AS DOUBLE)
      |     - (CAST(ps AS DOUBLE) * CAST(ps AS DOUBLE)) / CAST(pos AS DOUBLE))
      |  - (CAST(q_u - pq AS DOUBLE)
      |     - (CAST(s_u - ps AS DOUBLE) * CAST(s_u - ps AS DOUBLE))
      |       / CAST(n_u - pos AS DOUBLE)) AS gain
      |  FROM p WHERE n_u >= 2 AND pos < n_u),
      |m AS (SELECT user_id, n_u, pos, gain,
      |  max(gain) OVER (PARTITION BY user_id) AS mg FROM g)
      |SELECT user_id, max(n_u) AS n, min(pos) AS split_pos, max(mg) AS gain
      |FROM m WHERE gain = mg GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Per-user rolling OLS slope over the trailing 8 events
    * ([[graft.analytics.Correlation.rollingRegression]]): x is the
    * within-user event index, all four window sums are exact BIGINTs, and
    * each row's slope is one exact-integer division — the windowed trend
    * detector, bit-portable per row with no fold anywhere.
    */
  private def rollingRegQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Correlation.rollingRegression(
        graft.Tables.events(s, dir), "user_id", Seq("ts", "event_id"),
        round(col("value") * 100, 0), window = 8)
      .withColumnRenamed("entity", "user_id")
      .orderBy(col("user_id"), col("pos"))

  private val rollingRegOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events),
      |p AS (SELECT user_id, y,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS BIGINT) AS pos
      |  FROM e),
      |w AS (SELECT user_id, pos, y,
      |  CAST(count(*) OVER fr AS BIGINT) AS n_w,
      |  CAST(sum(pos) OVER fr AS BIGINT) AS sx,
      |  CAST(sum(y) OVER fr AS BIGINT) AS sy,
      |  CAST(sum(pos * y) OVER fr AS BIGINT) AS sxy,
      |  CAST(sum(pos * pos) OVER fr AS BIGINT) AS sx2
      |  FROM p WINDOW fr AS (PARTITION BY user_id ORDER BY pos
      |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
      |SELECT user_id, pos, y, n_w,
      |  CASE WHEN n_w > 1 AND n_w * sx2 - sx * sx <> 0 THEN
      |    CAST(n_w * sxy - sx * sy AS DOUBLE)
      |      / CAST(n_w * sx2 - sx * sx AS DOUBLE)
      |  END AS slope
      |FROM w ORDER BY user_id, pos""".stripMargin

  /** Supplier revenue concentration ([[graft.analytics.Inequality.herfindahl]]):
    * HHI and its 0–1 normalization from exact DECIMAL share sums — no
    * fold, no window, two final divisions.
    */
  private def herfindahlQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Inequality.herfindahl(
      graft.Tables.lineitem(s, dir)
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents")),
      "l_suppkey", "cents")

  private val herfindahlOracle =
    """WITH e AS (
      |  SELECT l_suppkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |s AS (SELECT l_suppkey, sum(CAST(cents AS HUGEINT)) AS s_i
      |  FROM e GROUP BY l_suppkey),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(s_i) AS total,
      |  sum(s_i * s_i) AS ssq FROM s),
      |h AS (SELECT k, total, ssq,
      |  CASE WHEN CAST(total AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(ssq AS DOUBLE) / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
      |  END AS hhi FROM g)
      |SELECT k, CAST(total AS VARCHAR) AS total, CAST(ssq AS VARCHAR) AS sum_sq,
      |  hhi,
      |  CASE WHEN hhi IS NOT NULL AND k > 1 THEN
      |    (hhi - CAST(1 AS DOUBLE) / CAST(k AS DOUBLE))
      |      / (CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / CAST(k AS DOUBLE))
      |  END AS hhi_norm
      |FROM h""".stripMargin

  /** Theil T inequality of customer order totals with the between/within
    * NATION decomposition ([[graft.analytics.Inequality.theilDecomposition]]):
    * per-row log factors on the floor-micro-nat grid (exact integer
    * contributions, order-free sums), the between term folded over the
    * 25-nation frame.
    */
  private def theilQ(s: SparkSession, dir: String): DataFrame = {
    val cust = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = graft.Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("x"))
    graft.analytics.Inequality.theilDecomposition(
      ord.join(cust, col("o_custkey") === col("c_custkey")),
      "c_nationkey", "x")
  }

  private val theilOracle =
    """WITH cx AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |e AS (SELECT c.c_nationkey AS grp, cx.x
      |  FROM cx JOIN customer c ON cx.o_custkey = c.c_custkey),
      |drp AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM e WHERE x <= 0),
      |ev AS (SELECT grp, x FROM e WHERE x > 0),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
      |  sum(CAST(x AS HUGEINT)) AS s_g FROM ev GROUP BY grp),
      |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |  sum(s_g) AS s FROM g),
      |rq AS (SELECT
      |  CAST(x AS HUGEINT) * CAST(floor(ln(
      |      CAST(CAST(x AS HUGEINT) * n AS DOUBLE) / CAST(s AS DOUBLE))
      |    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS ct,
      |  CAST(x AS HUGEINT) * CAST(floor(ln(
      |      CAST(CAST(x AS HUGEINT) * n_g AS DOUBLE) / CAST(s_g AS DOUBLE))
      |    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS cw
      |  FROM ev JOIN g USING (grp) CROSS JOIN t),
      |sm AS (SELECT sum(ct) AS ct, sum(cw) AS cw FROM rq),
      |bt AS (SELECT max_by(c, grp) AS theil_between FROM (
      |  SELECT grp,
      |    sum((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE)) *
      |      ln((CAST(s_g AS DOUBLE) * CAST(n AS DOUBLE))
      |        / (CAST(s AS DOUBLE) * CAST(n_g AS DOUBLE))))
      |      OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS c
      |  FROM g CROSS JOIN t))
      |SELECT t.n, t.k, drp.n_dropped, CAST(t.s AS VARCHAR) AS total,
      |  CASE WHEN CAST(t.s AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(sm.ct AS DOUBLE)
      |      / (CAST(t.s AS DOUBLE) * CAST(1000000 AS DOUBLE))
      |  END AS theil_total,
      |  bt.theil_between,
      |  CASE WHEN CAST(t.s AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(sm.cw AS DOUBLE)
      |      / (CAST(t.s AS DOUBLE) * CAST(1000000 AS DOUBLE))
      |  END AS theil_within
      |FROM t CROSS JOIN sm CROSS JOIN bt CROSS JOIN drp""".stripMargin

  /** Semi-structured extraction from the event props JSON — the
    * schema-on-read path (`get_json_object` ≡ DuckDB json_extract_string):
    * extract an integer field, band it, exact aggregates per band.
    */
  private def jsonExtractQ(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy((col("k") % 10).as("k_band"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("k_band"))

  private val jsonExtractOracle =
    """SELECT k % 10 AS k_band, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
      |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |GROUP BY k % 10 ORDER BY k_band""".stripMargin

  /** Functional-dependency audit (Metanome-style profiling): for each
    * candidate X → Y, the number of X keys mapping to MORE than one Y and
    * the surplus (distinct pair count minus key count) — two hold by
    * construction (order → customer, customer → nation) and two are
    * expected violations (order ↛ supplier, part ↛ supplier), so the
    * query pins both directions. Exact counts only.
    */
  private def fdCheckQ(s: SparkSession, dir: String): DataFrame = {
    def fd(df: DataFrame, x: String, y: String, label: String): DataFrame =
      df.select(col(x).as("k"), col(y).as("v")).distinct()
        .groupBy(col("k")).agg(count(lit(1)).as("vs"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("vs") > 1, 1L).otherwise(0L)).as("violating_keys"),
          sum(col("vs") - lit(1L)).as("extra_pairs"))
        .select(lit(label).as("dependency"), col("n_keys"),
          col("violating_keys"), col("extra_pairs"))
    fd(graft.Tables.orders(s, dir), "o_orderkey", "o_custkey",
        "orders: o_orderkey -> o_custkey")
      .unionByName(fd(graft.Tables.customer(s, dir), "c_custkey", "c_nationkey",
        "customer: c_custkey -> c_nationkey"))
      .unionByName(fd(graft.Tables.lineitem(s, dir), "l_orderkey", "l_suppkey",
        "lineitem: l_orderkey -> l_suppkey"))
      .unionByName(fd(graft.Tables.lineitem(s, dir), "l_partkey", "l_suppkey",
        "lineitem: l_partkey -> l_suppkey"))
      .orderBy(col("dependency"))
  }

  private val fdCheckOracle =
    """WITH f1 AS (
      |  SELECT 'orders: o_orderkey -> o_custkey' AS dependency,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(CASE WHEN vs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS violating_keys,
      |    CAST(sum(vs - 1) AS BIGINT) AS extra_pairs
      |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS vs FROM
      |    (SELECT DISTINCT o_orderkey AS k, o_custkey AS v FROM orders)
      |    GROUP BY k)),
      |f2 AS (
      |  SELECT 'customer: c_custkey -> c_nationkey' AS dependency,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(CASE WHEN vs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS violating_keys,
      |    CAST(sum(vs - 1) AS BIGINT) AS extra_pairs
      |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS vs FROM
      |    (SELECT DISTINCT c_custkey AS k, c_nationkey AS v FROM customer)
      |    GROUP BY k)),
      |f3 AS (
      |  SELECT 'lineitem: l_orderkey -> l_suppkey' AS dependency,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(CASE WHEN vs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS violating_keys,
      |    CAST(sum(vs - 1) AS BIGINT) AS extra_pairs
      |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS vs FROM
      |    (SELECT DISTINCT l_orderkey AS k, l_suppkey AS v FROM lineitem)
      |    GROUP BY k)),
      |f4 AS (
      |  SELECT 'lineitem: l_partkey -> l_suppkey' AS dependency,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(CASE WHEN vs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS violating_keys,
      |    CAST(sum(vs - 1) AS BIGINT) AS extra_pairs
      |  FROM (SELECT k, CAST(count(*) AS BIGINT) AS vs FROM
      |    (SELECT DISTINCT l_partkey AS k, l_suppkey AS v FROM lineitem)
      |    GROUP BY k))
      |SELECT * FROM f1 UNION ALL SELECT * FROM f2
      |UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4
      |ORDER BY dependency""".stripMargin

  /** Degree distribution of the co-purchase graph with a Hill power-law
    * tail estimate: the degree histogram is exact; the Hill α over
    * degrees ≥ 2 quantizes each distinct degree's ln(d/d_min) to
    * floor-micro-nats so the tail sum is an exact integer (the zipf
    * discipline at the graph scale) and α is one fixed-order expression.
    */
  private def degreeDistQ(s: SparkSession, dir: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val e = Graphs.copurchaseEdges(s, dir)
    val deg = e.select(col("id_a").as("nd")).unionAll(e.select(col("id_b").as("nd")))
      .groupBy(col("nd")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val tail = hist.filter(col("degree") >= 2)
      .select(col("n_nodes"),
        (dec(col("n_nodes")) *
          dec(floor(log(col("degree").cast("double") / lit(2.0)) * lit(1e6))
            .cast("long"))).as("contrib"))
      .agg(sum(col("n_nodes")).as("n_tail"), sum(col("contrib")).as("lsum"))
    hist.crossJoin(broadcast(tail))
      .select(col("degree"), col("n_nodes"), col("n_tail"),
        col("lsum").cast("string").as("tail_ln_micronats"),
        when(col("lsum").cast("double") > lit(0.0),
          lit(1.0) + col("n_tail").cast("double") /
            (col("lsum").cast("double") / lit(1e6))).as("hill_alpha"))
      .orderBy(col("degree"))
  }

  private val degreeDistOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |deg AS (SELECT nd, CAST(count(*) AS BIGINT) AS degree FROM (
      |  SELECT u AS nd FROM e UNION ALL SELECT v AS nd FROM e) GROUP BY nd),
      |hist AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
      |  FROM deg GROUP BY degree),
      |tl AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_tail,
      |  sum(CAST(n_nodes AS HUGEINT)
      |    * CAST(floor(ln(CAST(degree AS DOUBLE) / CAST(2 AS DOUBLE))
      |      * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS lsum
      |  FROM hist WHERE degree >= 2)
      |SELECT degree, n_nodes, n_tail, CAST(lsum AS VARCHAR)
      |    AS tail_ln_micronats,
      |  CASE WHEN CAST(lsum AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(1 AS DOUBLE) + CAST(n_tail AS DOUBLE)
      |      / (CAST(lsum AS DOUBLE) / CAST(1000000 AS DOUBLE))
      |  END AS hill_alpha
      |FROM hist CROSS JOIN tl ORDER BY degree""".stripMargin

  /** ABC (Pareto) classification of parts by revenue mass: the class cut
    * values are EXACT weighted order statistics
    * ([[graft.analytics.Quantiles.exactWeightedQuantilesTwoPass]] with the
    * revenue as its own weight — A holds the top ~80% of mass, C the
    * bottom ~5%), so no global sort ranks the parts; per-class counts and
    * shares are exact. The inventory-control classic as two broadcast
    * thresholds.
    */
  private def abcClassQ(s: SparkSession, dir: String): DataFrame = {
    // per-part revenue anchors eagerly (the q_rfm per-entity playbook: one
    // bounded row per part) — it feeds the two-pass weighted quantiles, the
    // class-tagging crossJoin AND the total, each of which re-ran the
    // lineitem aggregate
    val rev = graft.Tables.lineitem(s, dir).groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev"))
      .anchor(Bound.PerEntity)
    val cuts = graft.analytics.Quantiles.exactWeightedQuantilesTwoPass(
        rev, "rev", "rev", Seq(50, 200), bucketWidth = 100000L)
      .agg(max(when(col("p") === 200, col("value_cents"))).as("v_a"),
        max(when(col("p") === 50, col("value_cents"))).as("v_b"))
    rev.crossJoin(broadcast(cuts))
      .withColumn("abc", when(col("rev") >= col("v_a"), "A")
        .when(col("rev") >= col("v_b"), "B").otherwise("C"))
      .groupBy(col("abc"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("class_rev"))
      .crossJoin(broadcast(rev.agg(sum(col("rev")).as("__tot"))))
      .withColumn("rev_share",
        when(col("__tot") > 0,
          col("class_rev").cast("double") / col("__tot").cast("double")))
      .select(col("abc"), col("n_parts"), col("class_rev"), col("rev_share"))
      .orderBy(col("abc"))
  }

  private val abcClassOracle =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS w FROM rev),
      |pv AS (SELECT rev AS c, CAST(sum(rev) AS BIGINT) AS vw
      |  FROM rev GROUP BY rev),
      |cumv AS (SELECT c, vw,
      |  sum(vw) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cum
      |  FROM pv),
      |k AS (SELECT w, CAST((w * 200 + 999) // 1000 AS BIGINT) AS ka,
      |  CAST((w * 50 + 999) // 1000 AS BIGINT) AS kb FROM tot),
      |va AS (SELECT min(c) AS v_a FROM cumv, k WHERE cum >= ka),
      |vb AS (SELECT min(c) AS v_b FROM cumv, k WHERE cum >= kb),
      |cls AS (SELECT
      |  CASE WHEN rev >= v_a THEN 'A' WHEN rev >= v_b THEN 'B' ELSE 'C' END
      |    AS abc,
      |  rev FROM rev CROSS JOIN va CROSS JOIN vb)
      |SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(sum(rev) AS BIGINT) AS class_rev,
      |  CASE WHEN w > 0
      |    THEN CAST(sum(rev) AS DOUBLE) / CAST(w AS DOUBLE)
      |  END AS rev_share
      |FROM cls CROSS JOIN tot GROUP BY abc, w ORDER BY abc""".stripMargin

  /** Cohort lifetime-value curve: users cohort by their FIRST 30-day
    * period (pure epoch-day arithmetic), revenue accumulates per cohort
    * over age — the LTV companion of the retention matrix, entirely in
    * exact BIGINTs (the cumulative window partitions by cohort over the
    * months-bounded age frame).
    */
  private def cohortLtvQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 2592000000000").as("period"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val coh = ev.groupBy(col("user_id")).agg(min(col("period")).as("cohort"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.join(coh, Seq("user_id"))
      .withColumn("age", col("period") - col("cohort"))
      .groupBy(col("cohort"), col("age"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(col("cents")).as("rev_cents"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .orderBy(col("cohort"), col("age"))
  }

  private val cohortLtvOracle =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 2592000000000 AS period,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |c AS (SELECT user_id, CAST(min(period) AS BIGINT) AS cohort
      |  FROM e GROUP BY user_id),
      |j AS (SELECT e.user_id, c.cohort, e.period - c.cohort AS age, e.cents
      |  FROM e JOIN c ON e.user_id = c.user_id),
      |g AS (SELECT cohort, CAST(age AS BIGINT) AS age,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(sum(cents) AS BIGINT) AS rev_cents
      |  FROM j GROUP BY cohort, age)
      |SELECT cohort, age, n_users, rev_cents,
      |  CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_rev_cents
      |FROM g ORDER BY cohort, age""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cohort_ltv" -> (cohortLtvQ _),
    "q_abc_class" -> (abcClassQ _),
    "q_fd_check" -> (fdCheckQ _),
    "q_degree_dist" -> (degreeDistQ _),
    "q_herfindahl" -> (herfindahlQ _),
    "q_theil_index" -> (theilQ _),
    "q_json_extract" -> (jsonExtractQ _),
    "q_rolling_regression" -> (rollingRegQ _),
    "q_seq_patterns" -> (seqPatternsQ _),
    "q_changepoint" -> (changepointQ _),
    "q_run_length" -> (runLengthQ _),
    "q_time_to_convert" -> (timeToConvertQ _),
    "q_moments" -> (momentsQ _),
    "q_corr_matrix" -> (corrMatrixQ _),
    "q_weighted_median" -> (weightedMedianQ _),
    "q_drift_chi2" -> (driftQ _),
    "q_cusum" -> (cusumQ _),
    "q_scd2_join" -> (scd2JoinQ _),
    "q_label_prop" -> (labelPropQ _),
    "q_kcore" -> (kCoreQ _),
    "q_two_hop" -> (twoHopQ _),
    "q_ppr" -> (pprQ _),
    "q_quantile_norm" -> (quantileNormQ _),
    "q_geo_radius" -> (geoRadiusQ _),
    "q_geo_nearest" -> (geoNearestQ _),
    "q_group_regression" -> (groupRegressionQ _),
    "q_rank_correlation" -> (rankCorrQ _),
    "q_kendall_tau" -> (kendallQ _),
    "q_kendall_tau_sampled" -> (kendallSampledQ _),
    "q_interval_coverage" -> (intervalCoverageQ _),
    "q_skyline" -> (skylineQ _),
    "q_first_touch" -> (firstTouchQ _),
    "q_attribution" -> (attributionQ _),
    "q_rolling_distinct" -> (rollingDistinctQ _),
    "q_join_cardinality" -> (joinCardinalityQ _),
    "q_winsorize" -> (winsorizeQ _),
    "q_pseudonymize" -> (pseudonymizeQ _),
    "q_k_anonymity" -> (kAnonymityQ _),
    "q_l_diversity" -> (lDiversityQ _),
    "q_t_closeness" -> (tClosenessQ _),
    "q_hits" -> (hitsQ _),
    "q_assortativity" -> (assortativityQ _),
    "q_random_walks" -> (randomWalksQ _),
    "q_top_paths" -> (topPathsQ _),
    "q_integrity_checks" -> (integrityQ _),
    "q_scd2" -> (scd2Q _),
    "q_group_trend" -> (groupTrendQ _),
    "q_table_checksum" -> (tableChecksumQ _),
    "q_stable_ids" -> (stableIdsQ _),
    "q_frequent_pairs" -> (frequentPairsQ _),
    "q_assoc_rules" -> (assocRulesQ _),
    "q_theil_sen" -> (theilSenQ _),
    "q_frequent_triples" -> (frequentTriplesQ _),
    "q18_large_orders" -> (q18Q _),
    "q4_priority_late" -> (q4Q _),
    "q_column_profile" -> (columnProfileQ _),
    "q_expectations" -> (expectationsQ _),
    "q_grouping_sets" -> (groupingSetsQ _),
    "q_count_min" -> (countMinQ _),
    "q_gap_fill" -> (gapFillQ _),
    "q_schema_merge" -> (schemaMergeQ _),
    "q_event_transitions" -> (eventTransitionsQ _),
    "q_funnel" -> (funnelQ _),
    "q_histogram" -> (histogramQ _),
    "q_equidepth_hist" -> (equiDepthQ _),
    "q_skew_gini" -> (skewGiniQ _),
    "q_outliers" -> (outliersQ _),
    "q_mad_outliers" -> (madOutliersQ _),
    "q_cohort_retention" -> (cohortRetentionQ _),
    "q_bloom_join" -> (bloomJoinQ _),
    "q_approx_quantiles" -> (approxQuantilesQ _),
    "q_session_window" -> (sessionWindowQ _),
    "q_cube" -> (cubeQ _),
    "q_heavy_hitters" -> (heavyHittersQ _),
    "q_window_funcs" -> (windowFuncsQ _),
    "q_semi_anti" -> (semiAntiQ _),
    "q_subqueries" -> (subqueriesQ _),
    "q_json_roundtrip" -> (jsonRoundtripQ _),
    "q_array_funcs" -> (arrayFuncsQ _),
    "q_string_funcs" -> (stringFuncsQ _),
    "q_date_funcs" -> (dateFuncsQ _),
    "q_topk_per_group" -> (topkPerGroupQ _),
    "q_pivot" -> (pivotQ _),
    "q_unpivot" -> (unpivotQ _),
    "q_tumbling_window" -> (tumblingQ _),
    "q_stream_tumbling" -> (streamTumblingQ _),
    "q_stream_late" -> (streamLateQ _),
    "q_stream_dedup" -> (streamDedupQ _),
    "q_stream_join" -> (streamJoinQ _),
    "q_stream_session" -> (streamSessionQ _),
    "q_ohlc_bars" -> (ohlcQ _),
    "q_sliding_window" -> (slidingWindowQ _),
    "q_interval_overlap" -> (intervalOverlapQ _),
    "q_hll_merge" -> (hllMergeQ _),
    "q_hll_intersect" -> (hllIntersectQ _),
    "q_linear_attribution" -> (linearAttributionQ _),
    "q_funnel_steps" -> (funnelStepsQ _),
    "q_quantiles" -> (quantilesQ _),
    "q_range_join" -> (rangeJoinQ _),
    "q_skew_join" -> (skewJoinQ _),
    "q1_pricing_summary" -> (StarQueries.pricingSummary _),
    "q3_shipping_priority" -> (StarQueries.shippingPriority _),
    "q5_local_supplier" -> (StarQueries.localSupplierVolume _),
    "q7_volume_shipping" -> ((a: SparkSession, b: String) => StarQueries.volumeShipping(a, b)),
    "q9_product_profit" -> ((a: SparkSession, b: String) => StarQueries.productProfit(a, b)),
    "q_topk_orders" -> ((s: SparkSession, d: String) => StarQueries.topOrders(s, d)),
    "q_set_ops" -> (StarQueries.setOps _),
    "q_session_stats" -> ((s: SparkSession, d: String) => StarQueries.sessionStats(s, d)),
    "q_rollup" -> (StarQueries.rollupCounts _),
    "q_sql_surface" -> (StarQueries.sqlSurface _),
    "q_segment_stats" -> (StarQueries.segmentStats _)
  )

  val oracles: Map[String, String] = Map(
    "q_cohort_ltv" -> cohortLtvOracle,
    "q_abc_class" -> abcClassOracle,
    "q_fd_check" -> fdCheckOracle,
    "q_degree_dist" -> degreeDistOracle,
    "q_herfindahl" -> herfindahlOracle,
    "q_theil_index" -> theilOracle,
    "q_json_extract" -> jsonExtractOracle,
    "q_rolling_regression" -> rollingRegOracle,
    "q_seq_patterns" -> seqPatternsOracle,
    "q_changepoint" -> changepointOracle,
    "q_run_length" -> runLengthOracle,
    "q_time_to_convert" -> timeToConvertOracle,
    "q_moments" -> momentsOracle,
    "q_corr_matrix" -> corrMatrixOracle,
    "q_weighted_median" -> weightedMedianOracle,
    "q_drift_chi2" -> driftOracle,
    "q_cusum" -> cusumOracle,
    "q_scd2_join" -> scd2JoinOracle,
    "q_label_prop" -> labelPropOracle,
    "q_kcore" -> kCoreOracle,
    "q_two_hop" -> twoHopOracle,
    "q_ppr" -> pprOracle,
    "q_quantile_norm" -> quantileNormOracle,
    "q_geo_radius" -> geoRadiusOracle,
    "q_geo_nearest" -> geoNearestOracle,
    "q_group_regression" -> groupRegressionOracle,
    "q_rank_correlation" -> rankCorrOracle,
    "q_kendall_tau" -> kendallOracle,
    "q_kendall_tau_sampled" -> kendallSampledOracle,
    "q_interval_coverage" -> intervalCoverageOracle,
    "q_skyline" -> skylineOracle,
    "q_first_touch" -> firstTouchOracle,
    "q_attribution" -> attributionOracle,
    "q_rolling_distinct" -> rollingDistinctOracle,
    "q_join_cardinality" -> joinCardinalityOracle,
    "q_winsorize" -> winsorizeOracle,
    "q_pseudonymize" -> pseudonymizeOracle,
    "q_k_anonymity" -> kAnonymityOracle,
    "q_l_diversity" -> lDiversityOracle,
    "q_t_closeness" -> tClosenessOracle,
    "q_hits" -> hitsOracle,
    "q_assortativity" -> assortativityOracle,
    "q_random_walks" -> randomWalksOracle,
    "q_top_paths" -> topPathsOracle,
    "q_integrity_checks" -> integrityOracle,
    "q_scd2" -> scd2Oracle,
    "q_group_trend" -> groupTrendOracle,
    "q_table_checksum" -> tableChecksumOracle,
    "q_stable_ids" -> stableIdsOracle,
    "q_frequent_pairs" -> frequentPairsOracle,
    "q_assoc_rules" -> assocRulesOracle,
    "q_theil_sen" -> theilSenOracle,
    "q_frequent_triples" -> frequentTriplesOracle,
    "q18_large_orders" -> q18Oracle,
    "q4_priority_late" -> q4Oracle,
    "q_column_profile" -> columnProfileOracle,
    "q_expectations" -> expectationsOracle,
    "q_grouping_sets" -> groupingSetsOracle,
    "q_count_min" -> countMinOracle,
    "q_gap_fill" -> gapFillOracle,
    "q_schema_merge" -> schemaMergeOracle,
    "q_event_transitions" -> eventTransitionsOracle,
    "q_funnel" -> funnelOracle,
    "q_histogram" -> histogramOracle,
    "q_equidepth_hist" -> equiDepthOracle,
    "q_skew_gini" -> skewGiniOracle,
    "q_outliers" -> outliersOracle,
    "q_mad_outliers" -> madOutliersOracle,
    "q_cohort_retention" -> cohortRetentionOracle,
    "q_bloom_join" -> bloomJoinOracle,
    "q_approx_quantiles" -> approxQuantilesOracle,
    "q_session_window" -> sessionWindowOracle,
    "q_cube" -> cubeOracle,
    "q_heavy_hitters" -> heavyHittersOracle,
    "q_window_funcs" -> windowFuncsOracle,
    "q_semi_anti" -> semiAntiOracle,
    "q_subqueries" -> subqueriesOracle,
    "q_json_roundtrip" -> jsonRoundtripOracle,
    "q_array_funcs" -> arrayFuncsOracle,
    "q_string_funcs" -> stringFuncsOracle,
    "q_date_funcs" -> dateFuncsOracle,
    "q_topk_per_group" -> topkPerGroupOracle,
    "q_pivot" -> pivotOracle,
    "q_unpivot" -> unpivotOracle,
    "q_tumbling_window" -> tumblingOracle,
    "q_stream_tumbling" -> tumblingOracle,
    "q_stream_late" -> streamLateOracle,
    "q_stream_dedup" -> streamDedupOracle,
    "q_stream_join" -> streamJoinOracle,
    "q_stream_session" -> sessionWindowOracle,
    "q_ohlc_bars" -> ohlcOracle,
    "q_sliding_window" -> slidingWindowOracle,
    "q_interval_overlap" -> intervalOverlapOracle,
    "q_hll_merge" -> hllMergeOracle,
    "q_hll_intersect" -> hllIntersectOracle,
    "q_linear_attribution" -> linearAttributionOracle,
    "q_funnel_steps" -> funnelStepsOracle,
    "q_quantiles" -> quantilesOracle,
    "q_range_join" -> rangeJoinOracle,
    "q_skew_join" -> skewJoinOracle,
    "q1_pricing_summary" -> q1Oracle,
    "q3_shipping_priority" -> q3Oracle,
    "q5_local_supplier" -> q5Oracle,
    "q7_volume_shipping" -> q7Oracle,
    "q9_product_profit" -> q9Oracle,
    "q_topk_orders" -> topkOracle,
    "q_set_ops" -> setOpsOracle,
    "q_session_stats" -> sessionOracle,
    "q_rollup" -> rollupOracle,
    "q_sql_surface" -> sqlSurfaceOracle,
    "q_segment_stats" -> statsOracle
  )
}
