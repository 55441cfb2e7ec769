package graft.queries

import graft.Anchor._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Summary-structure and audit operators: Count-Min frequency sketching
  * ([[graft.analytics.CountMin]]), winnowing document fingerprints
  * ([[graft.dedup.Winnowing]]), two-pass exact quantiles without a global
  * sort ([[graft.analytics.Quantiles]]), hash-assigned two-proportion A/B
  * testing ([[graft.analytics.Drift.abTest]]), and common-neighbor link
  * prediction ([[graft.dedup.DupClusters.linkPrediction]]). Oracles replay
  * the deterministic md5 uniform cell/fingerprint/assignment machinery in
  * DuckDB; where the operator exists to avoid the naive global-sort plan,
  * the naive form IS the oracle.
  */
object SummaryQueries {

  /** Count-Min heavy-hitter audit: build the 4×512 grid over the document
    * token stream, estimate the true top-10 tokens against their exact
    * counts — `overshoot = est − true` must be ≥ 0 (the sketch's one-sided
    * guarantee, verified row by row under the hash).
    */
  private def countMinQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val trueTop = toks.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("token")).limit(10)
    val grid = graft.analytics.CountMin.sketch(toks, "token")
    graft.analytics.CountMin.estimate(grid, trueTop, "token")
      .join(trueTop, col("item") === col("token"))
      .select(col("token"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overshoot"))
      .orderBy(col("token"))
  }

  private val countMinOracle = {
    val cellHash = OracleSql.md5U32Sql(
      "'cm' || CAST(r AS VARCHAR) || ':' || token")
    s"""WITH tk AS (
       |  SELECT tok AS token FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS tok
       |    FROM documents)
       |  WHERE tok <> ''),
       |ttop AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS true_cnt
       |  FROM tk GROUP BY token ORDER BY true_cnt DESC, token LIMIT 10),
       |cells AS (
       |  SELECT token, r, ($cellHash) % 512 AS cell
       |  FROM tk, range(0, 4) rr(r)),
       |grid AS (
       |  SELECT r, cell, CAST(count(*) AS BIGINT) AS cnt
       |  FROM cells GROUP BY r, cell),
       |probe AS (
       |  SELECT t.token, rr.r, ($cellHash) % 512 AS cell
       |  FROM ttop t, range(0, 4) rr(r)),
       |est AS (
       |  SELECT p.token, CAST(min(coalesce(g.cnt, 0)) AS BIGINT) AS est_cnt
       |  FROM probe p LEFT JOIN grid g ON g.r = p.r AND g.cell = p.cell
       |  GROUP BY p.token)
       |SELECT t.token, t.true_cnt, e.est_cnt,
       |  CAST(e.est_cnt - t.true_cnt AS BIGINT) AS overshoot
       |FROM ttop t JOIN est e USING (token)
       |ORDER BY token""".stripMargin
  }

  /** Winnowing fingerprint near-dup pairs on the planted-duplicate corpus:
    * k=3-gram hashes, window w=4, fingerprint-df cut 50, pairs sharing ≥ 2
    * fingerprints. Exact copies share their whole fingerprint set and
    * one-token-prepended near-copies all but the first windows — both
    * planted families must surface (and do, under the hash).
    */
  private def winnowingQ(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Winnowing.fingerprintPairs(
        PipelineQueries.augmented(Tables.documents(s, dir)))
      .orderBy(col("doc_a"), col("doc_b"))

  private val winnowingOracle = {
    val gramHash = OracleSql.md5U60Sql("wd || ' ' || w2 || ' ' || w3")
    s"""WITH ${PipelineQueries.augCte},
       |tok AS (
       |  SELECT doc_id AS doc,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM aug),
       |idx AS (SELECT doc, t, unnest(range(1, len(t) + 1)) AS pidx FROM tok),
       |occ AS (SELECT doc, pidx - 1 AS pos, t[pidx] AS wd FROM idx),
       |lw AS (
       |  SELECT doc, pos, wd,
       |    lead(wd, 1) OVER (PARTITION BY doc ORDER BY pos) AS w2,
       |    lead(wd, 2) OVER (PARTITION BY doc ORDER BY pos) AS w3
       |  FROM occ),
       |gr AS (
       |  SELECT doc, pos, ($gramHash) AS g
       |  FROM lw WHERE w2 IS NOT NULL AND w3 IS NOT NULL),
       |fp0 AS (
       |  SELECT doc,
       |    min(g) OVER (PARTITION BY doc ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    count(*) OVER (PARTITION BY doc ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fl
       |  FROM gr),
       |fps AS (SELECT DISTINCT doc, fp FROM fp0 WHERE fl >= 4),
       |rare AS (
       |  SELECT doc, fp FROM (
       |    SELECT doc, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
       |  WHERE df <= 50)
       |SELECT a.doc AS doc_a, b.doc AS doc_b,
       |  CAST(count(*) AS BIGINT) AS shared_fps
       |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc < b.doc
       |GROUP BY a.doc, b.doc
       |HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Exact p250/p500/p750/p900 of order totals via the two-pass histogram
    * refine — the oracle is the naive global `row_number() OVER (ORDER BY)`
    * selection, so hash equality proves the sort-free plan selects the
    * identical order statistics. Money goes through DECIMAL cents (exact).
    */
  private def quantiles2passQ(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.orders(s, dir).select(
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    graft.analytics.Quantiles.exactQuantilesTwoPass(
        cents, "cents", Seq(250, 500, 750, 900), bucketWidth = 100000L)
      .orderBy(col("p"))
  }

  private val quantiles2passOracle =
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS cents FROM orders),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      |pp AS (SELECT unnest([250, 500, 750, 900]) AS p),
      |kk AS (
      |  SELECT CAST(p AS INTEGER) AS p, n,
      |    CAST((n * p + 999) // 1000 AS BIGINT) AS k
      |  FROM pp, n)
      |SELECT kk.p, kk.n, kk.k, r.cents AS value_cents
      |FROM kk JOIN r ON r.rn = kk.k
      |ORDER BY p""".stripMargin

  /** Two-proportion A/B test on hash-assigned user arms: conversion = at
    * least 14 purchase events (an interior rate at every SF — "any
    * purchase" saturates to 100% on this data and a p̂ of 1 has zero
    * pooled variance); exact per-arm longs, pooled z one fixed-order IEEE
    * expression ([[graft.analytics.Drift.abTest]]).
    */
  private def abTestQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.abTest(Tables.events(s, dir), "user_id",
      col("event_type") === "purchase", seed = "exp1", minSuccesses = 14L)

  private val abTestOracle = {
    val u32 = OracleSql.md5U32Sql("'ab:exp1:' || CAST(unit AS VARCHAR)")
    s"""WITH units AS (
       |  SELECT user_id AS unit,
       |    CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
       |      THEN 1 ELSE 0 END AS BIGINT) AS converted
       |  FROM events GROUP BY user_id),
       |arms AS (SELECT unit, converted, ($u32) % 2 AS arm FROM units),
       |w AS (
       |  SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM arms)
       |SELECT n_a, conv_a, n_b, conv_b,
       |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
       |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
       |  (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |    - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |  / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z
       |FROM w""".stripMargin
  }

  /** Link prediction on the significant co-purchase graph (parts co-ordered
    * in ≥ 2 distinct orders): top-20 predicted new edges by common-neighbor
    * count, with neighborhood Jaccard. Exact ints under the hash; the
    * division is the one IEEE op.
    */
  private def linkPredictionQ(s: SparkSession, dir: String): DataFrame = {
    val edges = Graphs.copurchaseEdges(s, dir)
    graft.dedup.DupClusters.linkPrediction(edges, maxMiddleDegree = 1000)
      .orderBy(col("n_common").desc, col("node_a"), col("node_b"))
      .limit(20)
  }

  private val linkPredictionOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |adj AS (
      |  SELECT u AS n, v AS x FROM e UNION ALL SELECT v AS n, u AS x FROM e),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n),
      |wedge AS (
      |  SELECT l.x AS a, r.x AS b, CAST(count(*) AS BIGINT) AS n_common
      |  FROM adj l JOIN adj r ON l.n = r.n AND l.x < r.x
      |  GROUP BY l.x, r.x),
      |new_pairs AS (
      |  SELECT w.* FROM wedge w
      |  LEFT JOIN e ON e.u = w.a AND e.v = w.b
      |  WHERE e.u IS NULL)
      |SELECT np.a AS node_a, np.b AS node_b, np.n_common,
      |  CAST(da.d + db.d - np.n_common AS BIGINT) AS n_union,
      |  CAST(np.n_common AS DOUBLE)
      |    / CAST(da.d + db.d - np.n_common AS DOUBLE) AS nbr_jaccard
      |FROM new_pairs np
      |JOIN deg da ON da.n = np.a
      |JOIN deg db ON db.n = np.b
      |ORDER BY n_common DESC, node_a, node_b
      |LIMIT 20""".stripMargin

  /** Content-defined chunking on the planted-duplicate corpus
    * ([[graft.dedup.ContentChunking]]): one summary row proving the CDC
    * properties — exact copies share EVERY chunk with their source
    * (`copy_shared = copy_chunks`), and one-token-prepended near-copies
    * resynchronize (near_shared recovers all chunks after each doc's first
    * content cut). All counts exact BIGINTs under the hash.
    */
  private def cdcChunksQ(s: SparkSession, dir: String): DataFrame = {
    // eager anchor, not a lazy persist: the chunk table is KB-MB (one row
    // per content-defined chunk) and has FOUR consumers (totals, orig, two
    // familyStats) — the r15 anchor playbook case (r17 A/B x3 interleaved,
    // exact-equal: persist 1.38-1.73 s vs anchor 1.23-1.35 at sf0.1)
    val ch = graft.dedup.ContentChunking.chunks(
        PipelineQueries.augmented(Tables.documents(s, dir)))
      .anchor(Bound.PerEntity)
    val totals = ch.agg(
      countDistinct(col("doc")).as("n_docs"),
      count(lit(1)).as("n_chunks"),
      countDistinct(col("chunk_hash")).as("n_distinct_chunks"))
    val orig = ch.filter(col("doc") < 1000000L)
      .select(col("doc").as("orig"), col("chunk_hash")).distinct()
    def familyStats(lo: Long, offset: Long, prefix: String) = {
      val fam = ch.filter(col("doc") >= lo && col("doc") < lo + 1000000L)
        .select((col("doc") - offset).as("orig"), col("chunk_hash"))
      fam.join(orig.withColumn("__hit", lit(1L)), Seq("orig", "chunk_hash"), "left")
        .agg(count(lit(1)).as(s"${prefix}_chunks"),
          sum(coalesce(col("__hit"), lit(0L))).as(s"${prefix}_shared"))
    }
    totals
      .crossJoin(broadcast(familyStats(1000000L, 1000000L, "copy")))
      .crossJoin(broadcast(familyStats(2000000L, 2000000L, "near")))
  }

  private val cdcChunksOracle = {
    val u32 = OracleSql.md5U32Sql("'cdc:' || tok")
    s"""WITH ${PipelineQueries.augCte},
       |tok AS (
       |  SELECT doc_id AS doc,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
       |  FROM aug),
       |idx AS (SELECT doc, t, unnest(range(1, len(t) + 1)) AS pidx FROM tok),
       |occ AS (SELECT doc, pidx - 1 AS pos, t[pidx] AS tok FROM idx),
       |bnd AS (
       |  SELECT doc, pos, tok,
       |    CASE WHEN ($u32) % 16 = 0 THEN 1 ELSE 0 END AS b
       |  FROM occ),
       |cid AS (
       |  SELECT doc, pos, tok,
       |    sum(b) OVER (PARTITION BY doc ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
       |  FROM bnd),
       |ch AS (
       |  SELECT doc, chunk, md5(string_agg(tok, ' ' ORDER BY pos)) AS h
       |  FROM cid GROUP BY doc, chunk),
       |totals AS (
       |  SELECT CAST(count(DISTINCT doc) AS BIGINT) AS n_docs,
       |    CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_chunks
       |  FROM ch),
       |orig AS (SELECT DISTINCT doc AS o, h FROM ch WHERE doc < 1000000),
       |cop AS (
       |  SELECT CAST(count(*) AS BIGINT) AS copy_chunks,
       |    CAST(sum(CASE WHEN o.o IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS copy_shared
       |  FROM (SELECT doc - 1000000 AS o, h FROM ch
       |        WHERE doc >= 1000000 AND doc < 2000000) f
       |  LEFT JOIN orig o ON o.o = f.o AND o.h = f.h),
       |near AS (
       |  SELECT CAST(count(*) AS BIGINT) AS near_chunks,
       |    CAST(sum(CASE WHEN o.o IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS near_shared
       |  FROM (SELECT doc - 2000000 AS o, h FROM ch WHERE doc >= 2000000) f
       |  LEFT JOIN orig o ON o.o = f.o AND o.h = f.h)
       |SELECT * FROM totals, cop, near""".stripMargin
  }

  /** k-truss (k=3, 2 peel rounds) on the significant co-purchase graph
    * (read from the per-SF-dir materialized [[Graphs.copurchaseEdges]]):
    * surviving edges with their final-round triangle support
    * ([[graft.dedup.DupClusters.kTrussPeel]] — oriented enumeration; the
    * oracle rebuilds the graph from lineitem and recounts support naively
    * per round, so the hash proves both the materialization and the
    * skew-safe enumeration exact).
    */
  private def ktrussQ(s: SparkSession, dir: String): DataFrame =
    // kernel pin (r18 A/B x4 interleaved, exact-equal: fused-unpinned
    // 0.86-0.94 s vs fused-pinned 0.75-0.86 against the r17 registry's
    // 0.98-1.51): copurchaseEdges is a materialized fixture-sized bucketed
    // table, so every peel round moves KB-scale frames — the dispatch-bound
    // class; eager epilogue per the pin contract
    AnalyticsQueries.withKernelShufflePartitionsFor(s, Graphs.copurchaseEdges(s, dir)) {
      graft.dedup.DupClusters.kTrussPeel(Graphs.copurchaseEdges(s, dir),
          k = 3, rounds = 2)
        .orderBy(col("u"), col("v"))
        .anchor(Bound.Fixture)
    }

  private val ktrussOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |adj1 AS (SELECT u AS m, v AS x FROM e0 UNION ALL SELECT v, u FROM e0),
      |sup1 AS (
      |  SELECT l.x AS a, r.x AS b, count(*) AS c
      |  FROM adj1 l JOIN adj1 r ON l.m = r.m AND l.x < r.x
      |  GROUP BY l.x, r.x),
      |e1 AS (
      |  SELECT e0.u, e0.v FROM e0
      |  JOIN sup1 ON sup1.a = e0.u AND sup1.b = e0.v WHERE sup1.c >= 1),
      |adj2 AS (SELECT u AS m, v AS x FROM e1 UNION ALL SELECT v, u FROM e1),
      |sup2 AS (
      |  SELECT l.x AS a, r.x AS b, count(*) AS c
      |  FROM adj2 l JOIN adj2 r ON l.m = r.m AND l.x < r.x
      |  GROUP BY l.x, r.x)
      |SELECT e1.u, e1.v, CAST(sup2.c AS BIGINT) AS support
      |FROM e1 JOIN sup2 ON sup2.a = e1.u AND sup2.b = e1.v
      |WHERE sup2.c >= 1
      |ORDER BY u, v""".stripMargin

  /** Linear interpolation of the purchase-value signal at every click
    * timestamp, per user ([[graft.ops.TimeSeries.interpolate]]): probes
    * between knots get the exact-epoch-weighted blend, probes outside the
    * knot span stay NULL; bracketing gaps reported for audit.
    */
  private def interpolateQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("event_id"),
        when(col("event_type") === "purchase", col("value")).as("v"))
    graft.ops.TimeSeries.interpolate(ev, "user_id", "t_us", "event_id", "v")
      .filter(col("v").isNull)
      .select(col("user_id"), col("t_us"), col("event_id"), col("interp"),
        col("prev_gap_us"), col("next_gap_us"))
      .orderBy(col("user_id"), col("t_us"), col("event_id"))
  }

  private val interpolateOracle =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS t_us, event_id,
      |    CASE WHEN event_type = 'purchase' THEN value END AS v
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |w AS (
      |  SELECT user_id, t_us, event_id, v,
      |    last_value(v IGNORE NULLS) OVER pw AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
      |      OVER pw AS pt,
      |    first_value(v IGNORE NULLS) OVER nw AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
      |      OVER nw AS nt
      |  FROM ev
      |  WINDOW pw AS (PARTITION BY user_id ORDER BY t_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    nw AS (PARTITION BY user_id ORDER BY t_us, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, t_us, event_id,
      |  CASE WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt
      |    THEN CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE)
      |      * (CAST(t_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
      |  END AS interp,
      |  CASE WHEN pt IS NOT NULL THEN t_us - pt END AS prev_gap_us,
      |  CASE WHEN nt IS NOT NULL THEN nt - t_us END AS next_gap_us
      |FROM w WHERE v IS NULL
      |ORDER BY user_id, t_us, event_id""".stripMargin

  /** Difference-in-differences on the hash-assigned experiment: per-user
    * purchase counts in pre/post periods over the FULL user×period grid
    * (absent cells are exact zeros — dropping them biases the means), cell
    * means as fixed-order IEEE ratios of exact longs, DiD = the double
    * difference. The causal-analysis complement to `q_ab_test`.
    */
  private def diffInDiffQ(s: SparkSession, dir: String): DataFrame = {
    val t0 = lit("2024-01-22 00:00:00").cast("timestamp")
    val ev = Tables.events(s, dir)
    val users = ev.select(col("user_id")).distinct()
      .withColumn("treat",
        pmod(graft.functions.Md5Field.md5U32(concat(lit("did:"),
          col("user_id").cast("string"))), lit(2L)))
    val grid = users.crossJoin(broadcast(
      s.range(2).select(col("id").as("post"))))
    val counts = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), (col("ts") >= t0).cast("long").as("post"))
      .agg(count(lit(1)).as("y"))
    val cells = grid.join(counts, Seq("user_id", "post"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    def cell(t: Int, p: Int, c: String) =
      sum(when(col("treat") === t && col("post") === p, col(c)).otherwise(0L))
    val wide = cells.agg(
      cell(1, 0, "n").as("n_t"), cell(1, 0, "s").as("s_t_pre"),
      cell(1, 1, "s").as("s_t_post"),
      cell(0, 0, "n").as("n_c"), cell(0, 0, "s").as("s_c_pre"),
      cell(0, 1, "s").as("s_c_post"))
    def mean(sc: String, nc: String) =
      col(sc).cast("double") / col(nc).cast("double")
    wide
      .withColumn("m_t_pre", mean("s_t_pre", "n_t"))
      .withColumn("m_t_post", mean("s_t_post", "n_t"))
      .withColumn("m_c_pre", mean("s_c_pre", "n_c"))
      .withColumn("m_c_post", mean("s_c_post", "n_c"))
      .withColumn("did",
        (col("m_t_post") - col("m_t_pre")) - (col("m_c_post") - col("m_c_pre")))
  }

  private val diffInDiffOracle = {
    val u32 = OracleSql.md5U32Sql("'did:' || CAST(user_id AS VARCHAR)")
    s"""WITH users AS (
       |  SELECT DISTINCT user_id FROM events),
       |tr AS (SELECT user_id, ($u32) % 2 AS treat FROM users),
       |grid AS (SELECT user_id, treat, p AS post FROM tr, range(0, 2) r(p)),
       |cnt AS (
       |  SELECT user_id,
       |    CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END AS post,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY user_id, post),
       |cells AS (
       |  SELECT g.treat, g.post, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(coalesce(c.y, 0)) AS BIGINT) AS s
       |  FROM grid g LEFT JOIN cnt c ON c.user_id = g.user_id AND c.post = g.post
       |  GROUP BY g.treat, g.post),
       |w AS (
       |  SELECT
       |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN n ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN s ELSE 0 END) AS BIGINT) AS s_t_pre,
       |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN s ELSE 0 END) AS BIGINT) AS s_t_post,
       |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN n ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN s ELSE 0 END) AS BIGINT) AS s_c_pre,
       |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN s ELSE 0 END) AS BIGINT) AS s_c_post
       |  FROM cells)
       |SELECT n_t, s_t_pre, s_t_post, n_c, s_c_pre, s_c_post,
       |  CAST(s_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE) AS m_t_pre,
       |  CAST(s_t_post AS DOUBLE) / CAST(n_t AS DOUBLE) AS m_t_post,
       |  CAST(s_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE) AS m_c_pre,
       |  CAST(s_c_post AS DOUBLE) / CAST(n_c AS DOUBLE) AS m_c_post,
       |  (CAST(s_t_post AS DOUBLE) / CAST(n_t AS DOUBLE)
       |    - CAST(s_t_pre AS DOUBLE) / CAST(n_t AS DOUBLE))
       |  - (CAST(s_c_post AS DOUBLE) / CAST(n_c AS DOUBLE)
       |    - CAST(s_c_pre AS DOUBLE) / CAST(n_c AS DOUBLE)) AS did
       |FROM w""".stripMargin
  }

  /** From-scratch deterministic HyperLogLog over the document token stream
    * ([[graft.analytics.HllGrid]]): the whole register grid is pinned under
    * the hash (sum/xor checksums), the harmonic denominator is an exact
    * BIGINT, and the estimate must land within 20% of the exact distinct
    * count (≈ 3σ for m=256) — a transparent, mergeable alternative to the
    * opaque binary `hll_sketch_agg` (`q_hll_merge`).
    */
  private def hllGridQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val grid = graft.analytics.HllGrid.registers(toks, "token")
    val truth = toks.agg(countDistinct(col("token")).as("true_distinct"))
    graft.analytics.HllGrid.estimate(grid)
      .crossJoin(broadcast(truth))
      .withColumn("within_band",
        abs(col("estimate") - col("true_distinct").cast("double")) <=
          lit(0.2) * col("true_distinct").cast("double"))
  }

  private val hllGridOracle = {
    val u32 = OracleSql.md5U32Sql("'hllg:' || token")
    s"""WITH tk AS (
       |  SELECT tok AS token FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS tok
       |    FROM documents)
       |  WHERE tok <> ''),
       |h AS (SELECT ($u32) AS hv FROM tk),
       |rr AS (
       |  SELECT hv % 256 AS idx,
       |    CASE WHEN hv // 256 = 0 THEN 25
       |         ELSE 25 - length(bin(hv // 256)) END AS rank
       |  FROM h),
       |g AS (SELECT idx, max(rank) AS m_rank FROM rr GROUP BY idx),
       |fullg AS (
       |  SELECT r.i AS idx, coalesce(g.m_rank, 0) AS m_rank
       |  FROM range(0, 256) r(i) LEFT JOIN g ON g.idx = r.i),
       |agg AS (
       |  SELECT
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(25 - m_rank AS INTEGER)) AS BIGINT)
       |      AS sum_scaled,
       |    CAST(count(*) FILTER (WHERE m_rank > 0) AS BIGINT) AS n_used,
       |    CAST(sum(m_rank) AS BIGINT) AS register_sum,
       |    CAST(bit_xor(idx * 31 + m_rank) AS BIGINT) AS register_xor
       |  FROM fullg),
       |t AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS true_distinct FROM tk)
       |SELECT sum_scaled, n_used, register_sum, register_xor,
       |  (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0))
       |    * CAST(2199023255552 AS DOUBLE) / CAST(sum_scaled AS DOUBLE)
       |    AS estimate,
       |  true_distinct,
       |  abs((CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0))
       |    * CAST(2199023255552 AS DOUBLE) / CAST(sum_scaled AS DOUBLE)
       |    - CAST(true_distinct AS DOUBLE))
       |    <= 0.2 * CAST(true_distinct AS DOUBLE) AS within_band
       |FROM agg, t""".stripMargin
  }

  /** Integer power iteration on the embedding corpus
    * ([[graft.sim.PowerIteration]]): two Gram-vector rounds, every iterate
    * component an exact BIGINT — the oracle replays quantization, both
    * rounds and the sign-split rescales, so in-engine distributed PCA is
    * proven bit-identical on another engine.
    */
  private def pcaPowerQ(s: SparkSession, dir: String): DataFrame =
    graft.sim.PowerIteration.topComponent(
        graft.Tables.cachedParquet(s, s"$dir/embeddings.parquet"), d = 64)
      .select(col("dim").cast("int").as("dim"), col("w1"), col("v1"),
        col("w2"), col("v2"))
      .orderBy(col("dim"))

  private val pcaPowerOracle =
    """WITH e AS (
      |  SELECT vec_id AS vid,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS q
      |  FROM embeddings),
      |d1 AS (
      |  SELECT vid, q,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, b) -> a + b)
      |      AS dot1
      |  FROM e),
      |ex1 AS (
      |  SELECT vid, dot1, i - 1 AS dim, q[i] AS qj
      |  FROM (SELECT vid, dot1, q, unnest(range(1, 65)) AS i FROM d1)),
      |w1 AS (
      |  SELECT dim, CAST(sum(qj * dot1) AS BIGINT) AS w1
      |  FROM ex1 GROUP BY dim),
      |s1 AS (SELECT greatest(max(abs(w1)) // 1000, 1) AS s FROM w1),
      |v1 AS (
      |  SELECT dim, w1,
      |    CAST(CASE WHEN w1 < 0 THEN -(abs(w1) // s) ELSE w1 // s END
      |      AS BIGINT) AS v1
      |  FROM w1, s1),
      |ex AS (
      |  SELECT vid, i - 1 AS dim, q[i] AS qj
      |  FROM (SELECT vid, q, unnest(range(1, 65)) AS i FROM e)),
      |d2 AS (
      |  SELECT vid, CAST(sum(qj * v1) AS BIGINT) AS dot2
      |  FROM ex JOIN v1 USING (dim) GROUP BY vid),
      |w2 AS (
      |  SELECT dim, CAST(sum(qj * dot2) AS BIGINT) AS w2
      |  FROM ex JOIN d2 USING (vid) GROUP BY dim),
      |s2 AS (SELECT greatest(max(abs(w2)) // 1000, 1) AS s FROM w2),
      |v2 AS (
      |  SELECT dim, w2,
      |    CAST(CASE WHEN w2 < 0 THEN -(abs(w2) // s) ELSE w2 // s END
      |      AS BIGINT) AS v2
      |  FROM w2, s2)
      |SELECT CAST(v1.dim AS INTEGER) AS dim, v1.w1, v1.v1, v2.w2, v2.v2
      |FROM v1 JOIN v2 ON v1.dim = v2.dim
      |ORDER BY dim""".stripMargin

  /** CUPED variance-reduced experiment readout (Deng et al. 2013): the
    * pre-period purchase count is the covariate, the post-period count the
    * outcome, θ = cov(x,y)/var(x) from EXACT pooled sums (DECIMAL(38)
    * cross-products — the assortativity discipline), and the adjusted
    * treatment effect is `(ȳ_t − ȳ_c) − θ(x̄_t − x̄_c)`. The expected
    * variance-reduction factor is the squared x–y correlation, emitted
    * from the same exact sums. The third leg of the experimentation stack
    * (`q_ab_test` the test, `q_diff_in_diff` the causal frame).
    */
  private def cupedQ(s: SparkSession, dir: String): DataFrame = {
    val t0 = lit("2024-01-22 00:00:00").cast("timestamp")
    val ev = Tables.events(s, dir)
    val users = ev.select(col("user_id")).distinct()
      .withColumn("treat",
        pmod(graft.functions.Md5Field.md5U32(concat(lit("cuped:"),
          col("user_id").cast("string"))), lit(2L)))
    val counts = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < t0, 1L).otherwise(0L)).as("x0"),
        sum(when(col("ts") >= t0, 1L).otherwise(0L)).as("y0"))
    val per = users.join(counts, Seq("user_id"), "left")
      .select(col("treat"),
        coalesce(col("x0"), lit(0L)).as("x"), coalesce(col("y0"), lit(0L)).as("y"))
    val wide = per.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(when(col("treat") === 1, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("treat") === 1, col("x")).otherwise(0L)).as("sx_t"),
      sum(when(col("treat") === 1, col("y")).otherwise(0L)).as("sy_t"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val covN = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy")).cast("double")
    val varXN = (dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")).cast("double")
    val varYN = (dec(col("n")) * col("syy") - dec(col("sy")) * col("sy")).cast("double")
    val theta = covN / varXN
    val nC = col("n") - col("n_t")
    val mYT = col("sy_t").cast("double") / col("n_t").cast("double")
    val mYC = (col("sy") - col("sy_t")).cast("double") / nC.cast("double")
    val mXT = col("sx_t").cast("double") / col("n_t").cast("double")
    val mXC = (col("sx") - col("sx_t")).cast("double") / nC.cast("double")
    wide
      .withColumn("theta", theta)
      .withColumn("diff_raw", mYT - mYC)
      .withColumn("diff_cuped", (mYT - mYC) - theta * (mXT - mXC))
      .withColumn("var_reduction", (covN * covN) / (varXN * varYN))
  }

  private val cupedOracle = {
    val u32 = OracleSql.md5U32Sql("'cuped:' || CAST(user_id AS VARCHAR)")
    s"""WITH users AS (SELECT DISTINCT user_id FROM events),
       |tr AS (SELECT user_id, ($u32) % 2 AS treat FROM users),
       |cnt AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |per AS (
       |  SELECT t.treat, coalesce(c.x, 0) AS x, coalesce(c.y, 0) AS y
       |  FROM tr t LEFT JOIN cnt c ON c.user_id = t.user_id),
       |w AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(sum(CASE WHEN treat = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_t,
       |    CAST(sum(CASE WHEN treat = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_t
       |  FROM per)
       |SELECT n, sx, sy, sxy, sxx, syy, n_t, sx_t, sy_t,
       |  CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
       |    / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
       |    AS theta,
       |  CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)
       |    - CAST(sy - sy_t AS DOUBLE) / CAST(n - n_t AS DOUBLE) AS diff_raw,
       |  (CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE)
       |    - CAST(sy - sy_t AS DOUBLE) / CAST(n - n_t AS DOUBLE))
       |  - (CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
       |     / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
       |    * (CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE)
       |       - CAST(sx - sx_t AS DOUBLE) / CAST(n - n_t AS DOUBLE)) AS diff_cuped,
       |  (CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
       |   * CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE))
       |  / (CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
       |     * CAST(CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))
       |    AS var_reduction
       |FROM w""".stripMargin
  }

  /** Global transitivity (clustering coefficient) of the significant
    * co-purchase graph: `3·triangles / wedges`, with the triangle triple
    * count taken as the SUM of per-node triangle participations from the
    * per-SF-dir materialized skew-safe oriented enumeration
    * ([[Graphs.copurchaseTriangles]], shared with the local clustering
    * coefficient; each triangle counts once per corner = exactly the 3T
    * the coefficient needs) and wedges as the exact
    * Σ d(d−1)/2 — the dedup-threshold health metric (a near-dup graph
    * whose transitivity collapses is thresholded into chains, not
    * clusters).
    */
  private def transitivityQ(s: SparkSession, dir: String): DataFrame = {
    val edges = Graphs.copurchaseEdges(s, dir)
    val deg = edges.select(explode(array(col("id_a"), col("id_b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val tri3 = Graphs.copurchaseTriangles(s, dir)
      .agg(coalesce(sum(col("n_triangles")), lit(0L)).as("tri3"))
    val nE = edges.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(broadcast(nE)).crossJoin(broadcast(tri3))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("tri3"),
        (col("tri3").cast("double") / col("n_wedges").cast("double"))
          .as("global_cc"))
  }

  private val transitivityOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |adj AS (SELECT u AS m, v AS x FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT m AS n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY m),
      |sup AS (
      |  SELECT l.x AS a, r.x AS b, count(*) AS c
      |  FROM adj l JOIN adj r ON l.m = r.m AND l.x < r.x
      |  GROUP BY l.x, r.x),
      |t AS (
      |  SELECT CAST(coalesce(sum(sup.c), 0) AS BIGINT) AS tri3
      |  FROM e JOIN sup ON sup.a = e.u AND sup.b = e.v),
      |w AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      |  FROM deg),
      |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_wedges, tri3,
      |  CAST(tri3 AS DOUBLE) / CAST(n_wedges AS DOUBLE) AS global_cc
      |FROM w, ne, t""".stripMargin

  /** Gini–Simpson token diversity per source: `1 − Σ c² / N²` over exact
    * counts — the transcendental-free diversity index (entropy's stand-in
    * under the no-logs-under-the-hash discipline) used to audit whether a
    * mixture source is lexically degenerate before paying to train on it.
    */
  private def simpsonQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("__sc2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        (lit(1.0) - col("__sc2").cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("simpson"))
      .orderBy(col("source"))
  }

  private val simpsonOracle =
    """WITH tok AS (
      |  SELECT source, tok AS term FROM (
      |    SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
      |    FROM documents)
      |  WHERE tok <> ''),
      |cnt AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
      |  FROM tok GROUP BY source, term)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  1.0 - CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE)
      |    / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS simpson
      |FROM cnt GROUP BY source ORDER BY source""".stripMargin

  /** The Count-Min grid maintained as a LIVE streaming aggregation
    * (complete-mode groupBy over the event stream, one-shot run): the
    * final in-memory sink state must equal the batch grid over the same
    * events — the oracle IS that batch grid, proving the sketch's
    * streaming maintenance path produces the identical mergeable summary.
    */
  private def streamCountMinQ(s: SparkSession, dir: String): DataFrame =
    OneShotStream.drain(graft.analytics.CountMin.sketch(
        OneShotStream.events(s, dir).select(col("user_id")), "user_id"), "complete")
      .orderBy(col("r"), col("cell"))

  private val streamCountMinOracle = {
    val cellHash = OracleSql.md5U32Sql(
      "'cm' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
    s"""WITH cells AS (
       |  SELECT rr.r, ($cellHash) % 512 AS cell
       |  FROM events, range(0, 4) rr(r))
       |SELECT CAST(r AS INTEGER) AS r, cell, CAST(count(*) AS BIGINT) AS cnt
       |FROM cells GROUP BY r, cell
       |ORDER BY r, cell""".stripMargin
  }

  /** Golden-record survivorship on a planted three-revision customer feed
    * ([[graft.ops.Survivorship]]): rev 1 updates the balance and name but
    * loses the segment, rev 2 (even keys only) carries only a new segment —
    * the golden record must stitch "latest non-null" per FIELD across
    * different revisions, with the per-field conflict census under the
    * hash. Money as exact cents BIGINT (DECIMAL never ships under the hash).
    */
  private def survivorshipQ(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    // money as exact cents BIGINT end-to-end (DECIMAL never ships under the
    // driver hash; the cent grid is the repo's money discipline anyway)
    def cents(x: org.apache.spark.sql.Column) = round(x * 100, 0).cast("long")
    val base = c.select(col("c_custkey").as("ck"), lit(0L).as("rev"),
      col("c_name").as("name"), cents(col("c_acctbal")).as("bal"),
      col("c_mktsegment").as("seg"))
    val r1 = c.select(col("c_custkey").as("ck"), lit(1L).as("rev"),
      concat(col("c_name"), lit("_v1")).as("name"),
      cents(col("c_acctbal") + 10.0).as("bal"),
      lit(null).cast("string").as("seg"))
    val r2 = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("ck"), lit(2L).as("rev"),
        lit(null).cast("string").as("name"),
        lit(null).cast("long").as("bal"), lit("SEG_NEW").as("seg"))
    graft.ops.Survivorship.goldenRecords(
        base.unionByName(r1).unionByName(r2), "ck", Seq("rev"),
        Seq("name", "bal", "seg"))
      .orderBy(col("cluster"))
  }

  private val survivorshipOracle =
    """WITH recs AS (
      |  SELECT c_custkey AS ck, 0 AS rev, c_name AS name,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal, c_mktsegment AS seg
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 1, c_name || '_v1',
      |    CAST(round((c_acctbal + 10.0) * 100) AS BIGINT), NULL
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 2, NULL, CAST(NULL AS BIGINT), 'SEG_NEW'
      |  FROM customer WHERE c_custkey % 2 = 0),
      |g AS (
      |  SELECT ck AS cluster,
      |    last_value(name IGNORE NULLS) OVER w AS golden_name,
      |    last_value(bal IGNORE NULLS) OVER w AS golden_bal,
      |    last_value(seg IGNORE NULLS) OVER w AS golden_seg,
      |    row_number() OVER (PARTITION BY ck ORDER BY rev DESC) AS rn
      |  FROM recs
      |  WINDOW w AS (PARTITION BY ck ORDER BY rev
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |nd AS (
      |  SELECT ck AS cluster,
      |    CAST(count(DISTINCT name) AS BIGINT) AS nd_name,
      |    CAST(count(DISTINCT bal) AS BIGINT) AS nd_bal,
      |    CAST(count(DISTINCT seg) AS BIGINT) AS nd_seg,
      |    CAST(count(*) AS BIGINT) AS n_sources
      |  FROM recs GROUP BY ck)
      |SELECT g.cluster, g.golden_name, g.golden_bal, g.golden_seg,
      |  nd.nd_name, nd.nd_bal, nd.nd_seg, nd.n_sources
      |FROM g JOIN nd ON nd.cluster = g.cluster
      |WHERE g.rn = 1
      |ORDER BY g.cluster""".stripMargin

  /** Seasonal-baseline outlier audit: per (event_type, day-of-week), the
    * EXACT lower-median purchase value (order-statistic selection — the
    * winsorize discipline, no interpolation) and the count of values above
    * 2× that baseline. The 35-row median table broadcasts back; one sort
    * per group partition.
    */
  private def seasonalBaselineQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"), col("value"))
      .filter(col("value").isNotNull)
    val w = Window.partitionBy(col("event_type"), col("dow")).orderBy(col("value"))
    val cw = Window.partitionBy(col("event_type"), col("dow"))
    val med = ev
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(cw))
      .filter(col("__rn") === expr("(__cnt + 1) div 2"))
      .select(col("event_type"), col("dow"), col("value").as("median_value"))
    ev.join(broadcast(med), Seq("event_type", "dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), min(col("median_value")).as("median_value"),
        sum(when(col("value") > lit(2.0) * col("median_value"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"), col("dow"))
  }

  private val seasonalBaselineOracle =
    """WITH ev AS (
      |  SELECT event_type, dayofweek(ts) + 1 AS dow, value
      |  FROM events WHERE value IS NOT NULL),
      |r AS (
      |  SELECT event_type, dow, value,
      |    row_number() OVER (PARTITION BY event_type, dow ORDER BY value) AS rn,
      |    count(*) OVER (PARTITION BY event_type, dow) AS cnt
      |  FROM ev),
      |med AS (
      |  SELECT event_type, dow, value AS median_value
      |  FROM r WHERE rn = (cnt + 1) // 2)
      |SELECT ev.event_type, CAST(ev.dow AS INTEGER) AS dow,
      |  CAST(count(*) AS BIGINT) AS n,
      |  min(med.median_value) AS median_value,
      |  CAST(sum(CASE WHEN ev.value > 2.0 * med.median_value
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM ev JOIN med ON med.event_type = ev.event_type AND med.dow = ev.dow
      |GROUP BY ev.event_type, ev.dow
      |ORDER BY ev.event_type, ev.dow""".stripMargin

  /** Benford first-digit audit of order totals: exact digit counts from
    * the DECIMAL string form (no logs at runtime — the Benford expectations
    * are fixed double literals identical in both engines), per-digit
    * expected counts and chi-square contributions in fixed operand order.
    * The classic fabricated-data / corrupted-feed tripwire.
    */
  private def benfordQ(s: SparkSession, dir: String): DataFrame = {
    val probs = Map(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514)
    val counts = Tables.orders(s, dir)
      .select(substring(col("o_totalprice").cast("decimal(18,2)")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val n = counts.agg(sum(col("n_d")).as("__n"))
    val p = probs.foldLeft(lit(0.0).cast("double")) { case (acc, (d, pr)) =>
      when(col("digit") === d, lit(pr)).otherwise(acc)
    }
    s.range(1, 10).select(col("id").cast("int").as("digit"))
      .join(counts, Seq("digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("expected", col("__n").cast("double") * p)
      .withColumn("chi2_term",
        (col("n_d").cast("double") - col("expected")) *
          (col("n_d").cast("double") - col("expected")) / col("expected"))
      .select(col("digit"), col("n_d"), col("expected"), col("chi2_term"))
      .orderBy(col("digit"))
  }

  private val benfordOracle =
    """WITH c AS (
      |  SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)[1]
      |    AS INTEGER) AS digit
      |  FROM orders),
      |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_d FROM c GROUP BY digit),
      |n AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM cnt),
      |dom AS (
      |  SELECT CAST(d AS INTEGER) AS digit,
      |    CASE d WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124
      |      WHEN 3 THEN 0.12493873660829992 WHEN 4 THEN 0.09691001300805642
      |      WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322
      |      WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129
      |      WHEN 9 THEN 0.04575749056067514 END AS p
      |  FROM range(1, 10) r(d))
      |SELECT dom.digit, coalesce(cnt.n_d, 0) AS n_d,
      |  CAST(n.n AS DOUBLE) * CAST(dom.p AS DOUBLE) AS expected,
      |  (CAST(coalesce(cnt.n_d, 0) AS DOUBLE) - CAST(n.n AS DOUBLE) * CAST(dom.p AS DOUBLE))
      |    * (CAST(coalesce(cnt.n_d, 0) AS DOUBLE) - CAST(n.n AS DOUBLE) * CAST(dom.p AS DOUBLE))
      |    / (CAST(n.n AS DOUBLE) * CAST(dom.p AS DOUBLE)) AS chi2_term
      |FROM dom LEFT JOIN cnt ON cnt.digit = dom.digit, n
      |ORDER BY dom.digit""".stripMargin

  /** Token-template profiling: mask digits→9, lowercase→a, uppercase→A
    * and count the resulting shape templates — the quick "what does this
    * field actually contain" profiler (mixed templates in an id column =
    * upstream contract drift). Top-20 by (count desc, template).
    */
  private def templatesQ(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(regexp_replace(regexp_replace(regexp_replace(col("tok"),
        "[0-9]", "9"), "[a-z]", "a"), "[A-Z]", "A").as("template"))
      .groupBy(col("template")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("template"))
      .limit(20)

  private val templatesOracle =
    """WITH tok AS (
      |  SELECT t AS tok FROM (
      |    SELECT unnest(string_split_regex(text, '\s+')) AS t FROM documents)
      |  WHERE t <> ''),
      |tpl AS (
      |  SELECT regexp_replace(regexp_replace(regexp_replace(tok,
      |    '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'), '[A-Z]', 'A', 'g')
      |    AS template
      |  FROM tok)
      |SELECT template, CAST(count(*) AS BIGINT) AS n
      |FROM tpl GROUP BY template
      |ORDER BY n DESC, template LIMIT 20""".stripMargin

  /** Quantity-weighted exact price quantiles via the weighted two-pass
    * refine ([[graft.analytics.Quantiles.exactWeightedQuantilesTwoPass]]):
    * rank space is cumulative weight, in-bucket selection runs over
    * per-distinct-value weight sums so tie order cannot matter; the naive
    * global cumulative-weight scan is the oracle.
    */
  private def weightedQuantilesQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
      round(col("l_quantity"), 0).cast("long").as("wt"))
    graft.analytics.Quantiles.exactWeightedQuantilesTwoPass(
        li, "cents", "wt", Seq(250, 500, 750), bucketWidth = 100000L)
      .orderBy(col("p"))
  }

  private val weightedQuantilesOracle =
    """WITH c AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS cents,
      |    CAST(round(l_quantity, 0) AS BIGINT) AS wt
      |  FROM lineitem),
      |pv AS (SELECT cents, CAST(sum(wt) AS BIGINT) AS vw FROM c GROUP BY cents),
      |r AS (
      |  SELECT cents, vw,
      |    CAST(sum(vw) OVER (ORDER BY cents) AS BIGINT) AS cumv
      |  FROM pv),
      |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS w FROM c),
      |pp AS (SELECT unnest([250, 500, 750]) AS p),
      |kk AS (
      |  SELECT CAST(p AS INTEGER) AS p, w,
      |    CAST((w * p + 999) // 1000 AS BIGINT) AS k
      |  FROM pp, tot)
      |SELECT kk.p, kk.w, kk.k, r.cents AS value_cents
      |FROM kk JOIN r ON r.cumv >= kk.k AND r.cumv - r.vw < kk.k
      |ORDER BY kk.p""".stripMargin

  /** Exponentially time-decayed trending parts: per-shipment weight
    * `2^(61 − age_weeks)` (an exact power-of-two grid — halving per week,
    * zero beyond 61 weeks by the disclosed cutoff), decayed mass summed in
    * DECIMAL(38). Top-10 by (decayed desc, part) — the "what's hot NOW"
    * ranking whose exactness usually dies in FP exp(); on the dyadic grid
    * it hash-matches.
    */
  private def decayedTopkQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("item"), col("l_shipdate").cast("date").as("d"))
    val mx = li.agg(max(col("d")).as("mx"))
    li.crossJoin(broadcast(mx))
      .withColumn("age", expr("datediff(mx, d) div 7"))
      .withColumn("wgt",
        when(col("age") <= 61,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(61 - age AS INT))"))
          .otherwise(lit(0L)))
      .groupBy(col("item"))
      .agg(sum(col("wgt").cast("decimal(38,0)")).as("decayed_scaled"),
        count(lit(1)).as("n_shipments"))
      .orderBy(col("decayed_scaled").desc, col("item"))
      .limit(10)
      // top-10 selected on the exact DECIMAL(38); the emitted column is the
      // canonical plain-digit string (DECIMAL never ships under the hash)
      .withColumn("decayed_scaled", col("decayed_scaled").cast("string"))
  }

  private val decayedTopkOracle =
    """WITH li AS (
      |  SELECT l_partkey AS item, CAST(l_shipdate AS DATE) AS d FROM lineitem),
      |mx AS (SELECT max(d) AS mx FROM li),
      |w AS (
      |  SELECT item,
      |    CASE WHEN date_diff('day', d, mx) // 7 <= 61
      |      THEN CAST(1 AS BIGINT)
      |        << CAST(61 - date_diff('day', d, mx) // 7 AS INTEGER)
      |      ELSE 0 END AS wgt
      |  FROM li, mx),
      |g AS (
      |  SELECT item,
      |    CAST(sum(CAST(wgt AS DECIMAL(38,0))) AS DECIMAL(38,0))
      |      AS decayed_scaled,
      |    CAST(count(*) AS BIGINT) AS n_shipments
      |  FROM w GROUP BY item
      |  ORDER BY decayed_scaled DESC, item LIMIT 10)
      |SELECT item, CAST(decayed_scaled AS VARCHAR) AS decayed_scaled,
      |  n_shipments
      |FROM g""".stripMargin

  /** Grouped HLL: distinct parts per return flag via per-group register
    * tables ([[graft.analytics.HllGrid.registersBy]]/`estimateBy` — the
    * closed-form untouched-register fill, no domain join), estimates
    * within 25% of the exact per-group distinct counts, full register
    * state pinned per group.
    */
  private def hllGroupedQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_partkey"))
    val grids = graft.analytics.HllGrid.registersBy(li, "l_returnflag", "l_partkey")
    val truth = li.groupBy(col("l_returnflag").as("grp"))
      .agg(countDistinct(col("l_partkey")).as("true_distinct"))
    graft.analytics.HllGrid.estimateBy(grids)
      .join(broadcast(truth), Seq("grp"))
      .withColumn("within_band",
        abs(col("estimate") - col("true_distinct").cast("double")) <=
          lit(0.25) * col("true_distinct").cast("double"))
      .orderBy(col("grp"))
  }

  private val hllGroupedOracle = {
    val u32 = OracleSql.md5U32Sql("'hllg:' || CAST(l_partkey AS VARCHAR)")
    s"""WITH h AS (
       |  SELECT l_returnflag AS grp, ($u32) AS hv FROM lineitem),
       |rr AS (
       |  SELECT grp, hv % 256 AS idx,
       |    CASE WHEN hv // 256 = 0 THEN 25
       |         ELSE 25 - length(bin(hv // 256)) END AS rank
       |  FROM h),
       |g AS (SELECT grp, idx, max(rank) AS m FROM rr GROUP BY grp, idx),
       |agg AS (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n_used,
       |    CAST(sum(m) AS BIGINT) AS register_sum,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(25 - m AS INTEGER))
       |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 25) AS BIGINT)
       |      AS sum_scaled
       |  FROM g GROUP BY grp),
       |t AS (
       |  SELECT l_returnflag AS grp,
       |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS true_distinct
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT agg.grp, agg.n_used, agg.register_sum, agg.sum_scaled,
       |  (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0))
       |    * CAST(2199023255552 AS DOUBLE) / CAST(agg.sum_scaled AS DOUBLE)
       |    AS estimate,
       |  t.true_distinct,
       |  abs((CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0))
       |    * CAST(2199023255552 AS DOUBLE) / CAST(agg.sum_scaled AS DOUBLE)
       |    - CAST(t.true_distinct AS DOUBLE))
       |    <= 0.25 * CAST(t.true_distinct AS DOUBLE) AS within_band
       |FROM agg JOIN t ON t.grp = agg.grp
       |ORDER BY agg.grp""".stripMargin
  }

  /** Generalization-ladder k-anonymity search
    * ([[graft.ops.Privacy.generalizationLadder]]): four increasingly
    * coarse quasi-identifier levels over customers; the FIRST level whose
    * minimum group size reaches k=5 is `chosen` — the release decision
    * made in-plan, one map-combined aggregate per level.
    */
  private def generalizeKQ(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_nationkey"),
      col("c_acctbal").cast("decimal(18,2)").as("bal"), col("c_mktsegment"))
    graft.ops.Privacy.generalizationLadder(c, Seq(
        // bal + 1000 keeps the bucket operand non-negative (TPC-H balances
        // floor at -999.99): floor-then-divide is then identical under
        // truncating `div` and flooring `//`, and floor() itself agrees
        // across engines where a straight DECIMAL->BIGINT cast does NOT
        // (Spark truncates, DuckDB rounds)
        ("nation_bal100_seg",
          Seq(col("c_nationkey"), expr("CAST(floor(bal + 1000) AS BIGINT) div 100"),
            col("c_mktsegment"))),
        ("nation_bal1000_seg",
          Seq(col("c_nationkey"), expr("CAST(floor(bal + 1000) AS BIGINT) div 1000"),
            col("c_mktsegment"))),
        ("region_bal1000_seg",
          Seq(expr("c_nationkey div 5"), expr("CAST(floor(bal + 1000) AS BIGINT) div 1000"),
            col("c_mktsegment"))),
        ("seg_only", Seq(col("c_mktsegment")))),
      k = 5L)
      .orderBy(col("level"))
  }

  private val generalizeKOracle =
    """WITH c AS (
      |  SELECT c_nationkey,
      |    CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) + 1000) AS BIGINT)
      |      AS balb, c_mktsegment
      |  FROM customer),
      |l0 AS (
      |  SELECT 0 AS level, 'nation_bal100_seg' AS level_name,
      |    CAST(count(*) AS BIGINT) AS n_groups,
      |    CAST(min(gs) AS BIGINT) AS min_group_size
      |  FROM (SELECT count(*) AS gs FROM c
      |    GROUP BY c_nationkey, balb // 100, c_mktsegment)),
      |l1 AS (
      |  SELECT 1, 'nation_bal1000_seg', CAST(count(*) AS BIGINT),
      |    CAST(min(gs) AS BIGINT)
      |  FROM (SELECT count(*) AS gs FROM c
      |    GROUP BY c_nationkey, balb // 1000, c_mktsegment)),
      |l2 AS (
      |  SELECT 2, 'region_bal1000_seg', CAST(count(*) AS BIGINT),
      |    CAST(min(gs) AS BIGINT)
      |  FROM (SELECT count(*) AS gs FROM c
      |    GROUP BY c_nationkey // 5, balb // 1000, c_mktsegment)),
      |l3 AS (
      |  SELECT 3, 'seg_only', CAST(count(*) AS BIGINT), CAST(min(gs) AS BIGINT)
      |  FROM (SELECT count(*) AS gs FROM c GROUP BY c_mktsegment)),
      |u AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
      |  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
      |f AS (
      |  SELECT *, min_group_size >= 5 AS satisfies,
      |    coalesce(max(CASE WHEN min_group_size >= 5 THEN 1 ELSE 0 END)
      |      OVER (ORDER BY level
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      |  FROM u)
      |SELECT CAST(level AS INTEGER) AS level, level_name, n_groups,
      |  min_group_size, satisfies, satisfies AND prev = 0 AS chosen
      |FROM f ORDER BY level""".stripMargin

  /** Merkle-style partition digests: per order-month, an XOR fold of
    * per-row md5U32 digests over the canonical row representation, plus
    * the table-level root (XOR of month digests — associative and
    * commutative, so partition- and order-independent). Incremental table
    * verification: only a changed month re-digests, the root recomputes
    * from the metadata-sized month table.
    */
  private def merkleDigestQ(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(s, dir).select(
      date_trunc("month", col("o_orderdate")).cast("date").as("month"),
      graft.functions.Md5Field.md5U32(
        concat_ws(":", lit("ord"), col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
          col("o_orderstatus"))).as("rd"))
    val months = rows.groupBy(col("month"))
      .agg(count(lit(1)).as("n_rows"),
        call_function("bit_xor", col("rd")).as("digest"))
    val root = months.agg(call_function("bit_xor", col("digest")).as("root_digest"))
    months.crossJoin(broadcast(root)).orderBy(col("month"))
  }

  private val merkleDigestOracle = {
    val u32 = OracleSql.md5U32Sql(
      "'ord:' || CAST(o_orderkey AS VARCHAR) || ':' || " +
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)" +
        " || ':' || o_orderstatus")
    s"""WITH r AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       |    ($u32) AS rd
       |  FROM orders),
       |m AS (
       |  SELECT month, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(bit_xor(rd) AS BIGINT) AS digest
       |  FROM r GROUP BY month),
       |root AS (SELECT CAST(bit_xor(digest) AS BIGINT) AS root_digest FROM m)
       |SELECT m.month, m.n_rows, m.digest, root.root_digest
       |FROM m, root ORDER BY m.month""".stripMargin
  }

  /** The HLL register table maintained as a LIVE streaming aggregation
    * (complete-mode max per register, one-shot run) — with
    * `q_stream_count_min` this pins BOTH mergeable summaries' streaming
    * maintenance ≡ batch; the oracle is the batch register table.
    */
  private def streamHllQ(s: SparkSession, dir: String): DataFrame =
    OneShotStream.drain(graft.analytics.HllGrid.registers(
        OneShotStream.events(s, dir).select(col("user_id")), "user_id"),
        "complete")
      .orderBy(col("idx"))

  private val streamHllOracle = {
    val u32 = OracleSql.md5U32Sql("'hllg:' || CAST(user_id AS VARCHAR)")
    s"""WITH h AS (SELECT ($u32) AS hv FROM events),
       |rr AS (
       |  SELECT hv % 256 AS idx,
       |    CASE WHEN hv // 256 = 0 THEN 25
       |         ELSE 25 - length(bin(hv // 256)) END AS rank
       |  FROM h)
       |SELECT idx, CAST(max(rank) AS BIGINT) AS m_rank
       |FROM rr GROUP BY idx
       |ORDER BY idx""".stripMargin
  }

  /** PSI drift monitored as a LIVE stream: the current value-bucket
    * histogram is maintained by a complete-mode streaming aggregation
    * (one-shot run over the event feed) and compared against the static
    * first-week reference histogram with the exact [[graft.analytics
    * .Drift.psi]] fold — the production shape of a drift tripwire (the
    * reference is a broadcast lookup; only the 10-bucket summary crosses
    * from the stream). The oracle recomputes both histograms in batch.
    */
  private def streamPsiQ(s: SparkSession, dir: String): DataFrame = {
    def bucketOf(c: org.apache.spark.sql.Column) =
      least(greatest((c.cast("long") / 5000L).cast("long"), lit(0L)), lit(9L))
    val cur = OneShotStream.drain(OneShotStream.events(s, dir)
      .select(bucketOf(round(col("value") * 100, 0)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_cur")), "complete")
    val ref = Tables.events(s, dir)
      .filter(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"))
      .select(bucketOf(round(col("value") * 100, 0)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_ref"))
    val counts = ref.join(cur, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_ref"), lit(0L)).as("n_a"),
        coalesce(col("n_cur"), lit(0L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    val p = col("n_a").cast("double") / col("__ta").cast("double")
    val qq = col("n_b").cast("double") / col("__tb").cast("double")
    val term = when(col("n_a") > 0 && col("n_b") > 0,
      (p - qq) * log(p / qq)).otherwise(lit(0.0))
    val skipped = when(col("n_a") === 0 || col("n_b") === 0, 1L).otherwise(0L)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    counts.crossJoin(broadcast(totals))
      .withColumn("__c", sum(term).over(w))
      .agg(max(col("__ta")).as("n_ref"), max(col("__tb")).as("n_cur"),
        sum(skipped).as("n_skipped_buckets"),
        max_by(col("__c"), col("bucket")).as("psi"))
      .withColumn("band",
        when(col("psi") < lit(0.1), "stable")
          .when(col("psi") < lit(0.25), "moderate")
          .otherwise("shifted"))
  }

  private val streamPsiOracle =
    """WITH ref AS (
      |  SELECT least(greatest(CAST(round(value * 100) AS BIGINT) // 5000, 0), 9)
      |      AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_a
      |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
      |  GROUP BY 1),
      |cur AS (
      |  SELECT least(greatest(CAST(round(value * 100) AS BIGINT) // 5000, 0), 9)
      |      AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_b
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT COALESCE(ref.bucket, cur.bucket) AS bucket,
      |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
      |  FROM ref FULL JOIN cur ON ref.bucket = cur.bucket),
      |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
      |  CAST(sum(n_b) AS BIGINT) AS tb FROM c),
      |d AS (SELECT bucket, n_a, n_b, ta, tb,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
      |      - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
      |    * ln((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
      |      / (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)))
      |  ELSE CAST(0 AS DOUBLE) END AS term,
      |  CASE WHEN n_a = 0 OR n_b = 0 THEN 1 ELSE 0 END AS skipped
      |  FROM c CROSS JOIN t),
      |f AS (SELECT max(ta) AS n_ref, max(tb) AS n_cur,
      |  CAST(sum(skipped) AS BIGINT) AS n_skipped_buckets,
      |  max_by(sum_term, bucket) AS psi
      |  FROM (SELECT bucket, ta, tb, skipped,
      |    sum(term) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_term
      |    FROM d) s)
      |SELECT n_ref, n_cur, n_skipped_buckets, psi,
      |  CASE WHEN psi < CAST(0.1 AS DOUBLE) THEN 'stable'
      |       WHEN psi < CAST(0.25 AS DOUBLE) THEN 'moderate'
      |       ELSE 'shifted' END AS band
      |FROM f""".stripMargin

  /** Grouped (stratified) exact quantiles — p500/p900 of order totals per
    * order status via the per-group two-pass refine (cumulative windows
    * partitioned by group, never global); naive per-group row_number
    * selection is the oracle.
    */
  private def quantilesGroupedQ(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.orders(s, dir).select(col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    graft.analytics.Quantiles.exactGroupedQuantilesTwoPass(
        c, "o_orderstatus", "cents", Seq(500, 900), bucketWidth = 100000L)
      .orderBy(col("grp"), col("p"))
  }

  private val quantilesGroupedOracle =
    """WITH c AS (
      |  SELECT o_orderstatus AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |r AS (
      |  SELECT grp, cents,
      |    row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn FROM c),
      |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY grp),
      |pp AS (SELECT unnest([500, 900]) AS p),
      |kk AS (
      |  SELECT grp, CAST(p AS INTEGER) AS p, n,
      |    CAST((n * p + 999) // 1000 AS BIGINT) AS k
      |  FROM n, pp)
      |SELECT kk.grp, kk.p, kk.n, kk.k, r.cents AS value_cents
      |FROM kk JOIN r ON r.grp = kk.grp AND r.rn = kk.k
      |ORDER BY kk.grp, kk.p""".stripMargin

  /** Incremental Count-Min maintenance from CDC
    * (the `q_minhash_incremental`/`q_ivf_incremental` discipline): base
    * events commit as snapshot v1, the remainder lands via the CAS commit
    * path, the delta grid is built from `snapshotDiff` inserts ONLY and
    * cellwise-added onto the v1 grid — and the ORACLE is the from-scratch
    * grid over all events, so the hash proves delta-maintained ≡ rebuilt,
    * O(delta) per refresh.
    */
  private def countMinIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.Versioned
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"))
    val tmp = graft.Fixtures.dir("cm_inc", dir) { t =>
      Versioned.commit(ev.filter(col("event_id") % 10 =!= 0), t)
      Versioned.commit(ev.filter(col("event_id") % 10 === 0), t)
    }
    val v1 = Versioned.read(s, tmp, Some(1))
    val delta = Versioned.snapshotDiff(s, tmp, from = 1, to = 2)
      .filter(col("__change") === "insert").drop("__change")
    graft.analytics.CountMin.sketch(v1.select(col("user_id")), "user_id")
      .unionByName(
        graft.analytics.CountMin.sketch(delta.select(col("user_id")), "user_id"))
      .groupBy(col("r"), col("cell")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("r"), col("cell"))
  }

  // the oracle is the FULL grid over all events — equality proves the
  // CDC-maintained grid identical to a rebuild
  private val countMinIncrementalOracle = {
    val cellHash = OracleSql.md5U32Sql(
      "'cm' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
    s"""WITH cells AS (
       |  SELECT rr.r, ($cellHash) % 512 AS cell
       |  FROM events, range(0, 4) rr(r))
       |SELECT CAST(r AS INTEGER) AS r, cell, CAST(count(*) AS BIGINT) AS cnt
       |FROM cells GROUP BY r, cell
       |ORDER BY r, cell""".stripMargin
  }

  /** Incremental HLL maintenance from CDC — the MAX-merge algebra
    * counterpart of `q_count_min_incremental` (add-merge): delta registers
    * from `snapshotDiff` inserts fold onto the v1 register table by
    * register-wise max; the oracle is the from-scratch register table, so
    * the hash proves delta-maintained ≡ rebuilt. Together the two rows pin
    * CDC maintenance for both mergeable-summary algebras.
    */
  private def hllIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.Versioned
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"))
    val tmp = graft.Fixtures.dir("hll_inc", dir) { t =>
      Versioned.commit(ev.filter(col("event_id") % 10 =!= 0), t)
      Versioned.commit(ev.filter(col("event_id") % 10 === 0), t)
    }
    val v1 = Versioned.read(s, tmp, Some(1))
    val delta = Versioned.snapshotDiff(s, tmp, from = 1, to = 2)
      .filter(col("__change") === "insert").drop("__change")
    graft.analytics.HllGrid.registers(v1.select(col("user_id")), "user_id")
      .unionByName(
        graft.analytics.HllGrid.registers(delta.select(col("user_id")), "user_id"))
      .groupBy(col("idx")).agg(max(col("m_rank")).as("m_rank"))
      .orderBy(col("idx"))
  }

  /** LIVE quantile-histogram maintenance: the two-pass quantile plan's
    * pass 1 (the bucket histogram — the only full-scan stage) kept
    * current by a complete-mode streaming aggregation, with pass 2's
    * straddling-bucket selection run as a batch query against the sink
    * state + base table — the production split of "state maintained live,
    * selection paid at query time". Completes the batch / CDC-incremental
    * / streaming triple for the quantile family (the count-min and HLL
    * precedents); the oracle is the naive global row_number selection
    * over the full table, so streaming maintenance ≡ batch rebuild is
    * under the hash.
    */
  private def streamQuantileQ(s: SparkSession, dir: String): DataFrame = {
    val bw = 1000L
    val hist = OneShotStream.drain(OneShotStream.events(s, dir)
      .filter(col("value").isNotNull)
      .select(round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("bucket", expr(s"cents div $bw"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt")), "complete")
    val base = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(round(col("value") * 100, 0).cast("long").as("cents"))
    graft.analytics.Quantiles.exactQuantilesFromHistogram(
        hist, base, "cents", Seq(250, 500, 750, 900),
        bucketWidth = bw)
      .orderBy(col("p"))
  }

  private val streamQuantileOracle =
    """WITH c AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
      |  WHERE value IS NOT NULL),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      |pp AS (SELECT unnest([250, 500, 750, 900]) AS p),
      |kk AS (SELECT CAST(p AS INTEGER) AS p, n,
      |  CAST((n * p + 999) // 1000 AS BIGINT) AS k FROM pp, nn),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c)
      |SELECT kk.p, kk.n, kk.k, r.cents AS value_cents
      |FROM kk JOIN r ON r.rn = kk.k
      |ORDER BY p""".stripMargin

  /** Incrementally maintained exact quantiles
    * ([[graft.analytics.Quantiles.exactQuantilesFromHistogram]]): the
    * bucket histogram — pass 1, the only full-scan stage — is kept live
    * from the CDC delta (v1 histogram + delta histogram, an add-merge of
    * two metadata-sized frames, O(delta) scan), and quantile queries pay
    * only pass 2's straddling-bucket reads against the v2 snapshot. The
    * oracle is the naive global row_number selection over the full table —
    * equality proves delta-maintained pass 1 ≡ from-scratch rebuild.
    */
  private def quantilesIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.Versioned
    val ords = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val tmp = graft.Fixtures.dir("q_inc", dir) { t =>
      Versioned.commit(ords.filter(col("k") % 10 =!= 0), t)
      Versioned.commit(ords.filter(col("k") % 10 === 0), t)
    }
    val bw = 100000L
    def hist(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("bucket", expr(s"cents div $bw"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val v1 = Versioned.read(s, tmp, Some(1))
    val delta = Versioned.snapshotDiff(s, tmp, from = 1, to = 2)
      .filter(col("__change") === "insert").drop("__change")
    val merged = hist(v1).unionByName(hist(delta))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val v2 = Versioned.read(s, tmp, Some(2))
    graft.analytics.Quantiles.exactQuantilesFromHistogram(
        merged, v2, "cents", Seq(250, 500, 750, 900), bucketWidth = bw)
      .orderBy(col("p"))
  }

  private val quantilesIncrementalOracle =
    """WITH c AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
      |pp AS (SELECT unnest([250, 500, 750, 900]) AS p),
      |kk AS (SELECT p, n, CAST((n * p + 999) // 1000 AS BIGINT) AS k
      |  FROM pp, nn),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c)
      |SELECT CAST(kk.p AS INTEGER) AS p, kk.n, kk.k,
      |  r.cents AS value_cents
      |FROM kk JOIN r ON r.rn = kk.k
      |ORDER BY p""".stripMargin

  private val hllIncrementalOracle = {
    val u32 = OracleSql.md5U32Sql("'hllg:' || CAST(user_id AS VARCHAR)")
    s"""WITH h AS (SELECT ($u32) AS hv FROM events),
       |rr AS (
       |  SELECT hv % 256 AS idx,
       |    CASE WHEN hv // 256 = 0 THEN 25
       |         ELSE 25 - length(bin(hv // 256)) END AS rank
       |  FROM h)
       |SELECT idx, CAST(max(rank) AS BIGINT) AS m_rank
       |FROM rr GROUP BY idx
       |ORDER BY idx""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_count_min_grid" -> (countMinQ _),
    "q_cdc_chunks" -> (cdcChunksQ _),
    "q_ktruss" -> (ktrussQ _),
    "q_interpolate" -> (interpolateQ _),
    "q_diff_in_diff" -> (diffInDiffQ _),
    "q_hll_grid" -> (hllGridQ _),
    "q_pca_power" -> (pcaPowerQ _),
    "q_cuped" -> (cupedQ _),
    "q_transitivity" -> (transitivityQ _),
    "q_simpson_diversity" -> (simpsonQ _),
    "q_stream_count_min" -> (streamCountMinQ _),
    "q_survivorship" -> (survivorshipQ _),
    "q_seasonal_baseline" -> (seasonalBaselineQ _),
    "q_benford" -> (benfordQ _),
    "q_templates" -> (templatesQ _),
    "q_weighted_quantiles" -> (weightedQuantilesQ _),
    "q_decayed_topk" -> (decayedTopkQ _),
    "q_hll_grid_grouped" -> (hllGroupedQ _),
    "q_generalize_k" -> (generalizeKQ _),
    "q_merkle_digest" -> (merkleDigestQ _),
    "q_stream_hll" -> (streamHllQ _),
    "q_stream_psi" -> (streamPsiQ _),
    "q_quantiles_grouped" -> (quantilesGroupedQ _),
    "q_count_min_incremental" -> (countMinIncrementalQ _),
    "q_hll_incremental" -> (hllIncrementalQ _),
    "q_quantiles_incremental" -> (quantilesIncrementalQ _),
    "q_stream_quantile" -> (streamQuantileQ _),
    "q_winnowing" -> (winnowingQ _),
    "q_quantiles_2pass" -> (quantiles2passQ _),
    "q_ab_test" -> (abTestQ _),
    "q_link_prediction" -> (linkPredictionQ _))

  val oracles: Map[String, String] = Map(
    "q_count_min_grid" -> countMinOracle,
    "q_cdc_chunks" -> cdcChunksOracle,
    "q_ktruss" -> ktrussOracle,
    "q_interpolate" -> interpolateOracle,
    "q_diff_in_diff" -> diffInDiffOracle,
    "q_hll_grid" -> hllGridOracle,
    "q_pca_power" -> pcaPowerOracle,
    "q_cuped" -> cupedOracle,
    "q_transitivity" -> transitivityOracle,
    "q_simpson_diversity" -> simpsonOracle,
    "q_stream_count_min" -> streamCountMinOracle,
    "q_survivorship" -> survivorshipOracle,
    "q_seasonal_baseline" -> seasonalBaselineOracle,
    "q_benford" -> benfordOracle,
    "q_templates" -> templatesOracle,
    "q_weighted_quantiles" -> weightedQuantilesOracle,
    "q_decayed_topk" -> decayedTopkOracle,
    "q_hll_grid_grouped" -> hllGroupedOracle,
    "q_generalize_k" -> generalizeKOracle,
    "q_merkle_digest" -> merkleDigestOracle,
    "q_stream_hll" -> streamHllOracle,
    "q_stream_psi" -> streamPsiOracle,
    "q_quantiles_grouped" -> quantilesGroupedOracle,
    "q_count_min_incremental" -> countMinIncrementalOracle,
    "q_hll_incremental" -> hllIncrementalOracle,
    "q_quantiles_incremental" -> quantilesIncrementalOracle,
    "q_stream_quantile" -> streamQuantileOracle,
    "q_winnowing" -> winnowingOracle,
    "q_quantiles_2pass" -> quantiles2passOracle,
    "q_ab_test" -> abTestOracle,
    "q_link_prediction" -> linkPredictionOracle)
}
