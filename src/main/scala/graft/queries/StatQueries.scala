package graft.queries

import graft.Anchor._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact evaluation / inference statistics ([[graft.analytics.Eval]]) and
  * the mechanisms around them: tie-aware ROC AUC and the two-sample
  * Kolmogorov–Smirnov distance on the bucketed two-level cumulative (the
  * naive single-task ORDER-BY-value window IS the oracle — equality proves
  * the sort-free plan), the multi-class classification report, the exact
  * Gini concentration coefficient on the scale-safe StableIds rank, and
  * Warner randomized response with its exact debiasing estimator. Every
  * compared statistic is a ratio of exact integers assembled in one
  * fixed-operand-order IEEE division.
  */
object StatQueries {

  /** Exact tie-aware ROC AUC of the (deliberately uninformative) cent-scaled
    * event value against the purchase label — the integer 2U statistic and
    * its single-division AUC, both under the hash. The oracle computes the
    * naive global cumulative over distinct scores; the operator's bucketed
    * two-level plan must match it exactly.
    */
  private def aucQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.aucExact(
      Tables.events(s, dir),
      round(col("value") * 100, 0).cast("long"),
      col("event_type") === "purchase")

  private val aucOracle =
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |pv AS (
      |  SELECT s, CAST(sum(y) AS BIGINT) AS p,
      |    CAST(count(*) - sum(y) AS BIGINT) AS n
      |  FROM e GROUP BY s),
      |c AS (
      |  SELECT p, n,
      |    CAST(coalesce(sum(n) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS nb
      |  FROM pv),
      |t AS (
      |  SELECT CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg,
      |    CAST(sum(CAST(p AS HUGEINT) * (2 * nb + CAST(n AS HUGEINT)))
      |      AS DECIMAL(38,0)) AS two_u
      |  FROM c)
      |SELECT n_pos, n_neg, CAST(two_u AS VARCHAR) AS two_u,
      |  CASE WHEN n_pos > 0 AND n_neg > 0
      |    THEN CAST(two_u AS DOUBLE) /
      |      (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
      |  END AS auc
      |FROM t""".stripMargin

  /** Exact two-sample KS distance between the click and view value
    * distributions: max-|CDF gap| as an exact integer numerator over the
    * pooled distinct values, one final division. Naive global-window
    * oracle, same proof shape as `q_auc`.
    */
  private def ksQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("event_type").isin("click", "view"))
    graft.analytics.Eval.ksStatistic(ev,
      round(col("value") * 100, 0).cast("long"),
      col("event_type") === "click",
      col("event_type") === "view")
  }

  private val ksOracle =
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
      |  FROM events WHERE event_type IN ('click', 'view')),
      |pv AS (
      |  SELECT s, CAST(sum(a) AS BIGINT) AS a, CAST(sum(b) AS BIGINT) AS b
      |  FROM e GROUP BY s),
      |c AS (
      |  SELECT s, a, b,
      |    CAST(sum(a) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS ca,
      |    CAST(sum(b) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cb
      |  FROM pv),
      |t AS (SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
      |  FROM pv),
      |m AS (
      |  SELECT CAST(max(abs(ca * CAST(n_b AS HUGEINT)
      |    - cb * CAST(n_a AS HUGEINT))) AS DECIMAL(38,0)) AS d_num
      |  FROM c, t)
      |SELECT n_a, n_b, CAST(d_num AS VARCHAR) AS d_num,
      |  CASE WHEN n_a > 0 AND n_b > 0
      |    THEN CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      |  END AS d
      |FROM t, m""".stripMargin

  /** Multi-class classification report of a deterministic value-threshold
    * "model" against the event-type label: per-class tp/fp/fn and
    * single-division precision/recall/F1 (F1 in the reduced
    * 2tp/(2tp+fp+fn) form). Confusion matrix is class²-bounded.
    */
  private def evalMetricsQ(s: SparkSession, dir: String): DataFrame = {
    val pred = when(col("value") >= 300, "error")
      .when(col("value") >= 200, "click")
      .when(col("value") >= 100, "purchase")
      .when(col("value") >= 50, "view")
      .otherwise("signup")
    graft.analytics.Eval.classificationReport(
        Tables.events(s, dir), col("event_type"), pred)
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        col("precision").as("prec"), col("recall").as("rec"), col("f1"))
      .orderBy(col("cls"))
  }

  private val evalMetricsOracle =
    """WITH p AS (
      |  SELECT event_type AS truth,
      |    CASE WHEN value >= 300 THEN 'error' WHEN value >= 200 THEN 'click'
      |         WHEN value >= 100 THEN 'purchase' WHEN value >= 50 THEN 'view'
      |         ELSE 'signup' END AS pred
      |  FROM events),
      |cm AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS c
      |  FROM p GROUP BY truth, pred),
      |bt AS (SELECT truth AS cls, CAST(sum(c) AS BIGINT) AS t_cnt
      |  FROM cm GROUP BY truth),
      |bp AS (SELECT pred AS cls, CAST(sum(c) AS BIGINT) AS p_cnt
      |  FROM cm GROUP BY pred),
      |dg AS (SELECT truth AS cls, c AS tp0 FROM cm WHERE truth = pred),
      |j AS (
      |  SELECT COALESCE(bt.cls, bp.cls) AS cls,
      |    COALESCE(tp0, 0) AS tp,
      |    COALESCE(p_cnt, 0) - COALESCE(tp0, 0) AS fp,
      |    COALESCE(t_cnt, 0) - COALESCE(tp0, 0) AS fn
      |  FROM bt FULL JOIN bp ON bt.cls = bp.cls
      |  LEFT JOIN dg ON COALESCE(bt.cls, bp.cls) = dg.cls)
      |SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(fn AS BIGINT) AS fn,
      |  CASE WHEN tp + fp > 0
      |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS prec,
      |  CASE WHEN tp + fn > 0
      |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS rec,
      |  CASE WHEN tp * 2 + fp + fn > 0
      |    THEN CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE)
      |  END AS f1
      |FROM j ORDER BY cls""".stripMargin

  /** Exact Gini coefficient of per-customer order spend (concentration
    * audit): ranks via the distributed StableIds path, the naive global
    * row_number is the oracle; numerator exact DECIMAL(38), one division.
    */
  private def giniCoeffQ(s: SparkSession, dir: String): DataFrame = {
    val totals = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    graft.analytics.Eval.giniCoefficient(totals, "o_custkey", "cents")
  }

  private val giniCoeffOracle =
    """WITH t AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |r AS (
      |  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
      |  FROM t),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sum_cents,
      |    CAST(sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS s1
      |  FROM r)
      |SELECT n, sum_cents,
      |  CAST(2 * s1 - (CAST(n AS HUGEINT) + 1) * CAST(sum_cents AS HUGEINT)
      |    AS VARCHAR) AS gini_num,
      |  CASE WHEN n > 0 AND sum_cents > 0
      |    THEN CAST(2 * s1 - (CAST(n AS HUGEINT) + 1) * CAST(sum_cents AS HUGEINT)
      |        AS DOUBLE) /
      |      (CAST(n AS DOUBLE) * CAST(sum_cents AS DOUBLE))
      |  END AS gini
      |FROM a""".stripMargin

  /** Warner randomized response on the purchase flag: deterministic md5
    * coin (p = 3/4 truth), exact integer debias — the noisy observed
    * count, the exact estimator numerator, and the estimate all replayed
    * in the oracle.
    */
  private def randomizedResponseQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.randomizedResponse(
      Tables.events(s, dir), col("event_id"),
      col("event_type") === "purchase", seed = "s1")

  private val randomizedResponseOracle = {
    val u32 = OracleSql.md5U32Sql("'rr:s1:' || CAST(event_id AS VARCHAR)")
    s"""WITH e AS (
      |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t,
      |    ($u32) % 4 AS draw
      |  FROM events),
      |r AS (
      |  SELECT t, CASE WHEN draw < 3 THEN t ELSE 1 - t END AS rep FROM e),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS true_cnt,
      |    CAST(sum(rep) AS BIGINT) AS observed
      |  FROM r)
      |SELECT n, true_cnt, observed,
      |  CAST(4 * observed - 1 * n AS BIGINT) AS est_num,
      |  CAST(4 * observed - 1 * n AS DOUBLE) / 2.0 AS est
      |FROM a""".stripMargin
  }

  /** Per-segment exact AUC ([[graft.analytics.Eval.aucExactBy]]) with
    * segment = user_id mod 5 — the slice-wise eval surface. Every window
    * in the plan is group-partitioned (never global); the oracle is the
    * per-group naive cumulative.
    */
  private def aucGroupedQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.aucExactBy(
        Tables.events(s, dir),
        pmod(col("user_id"), lit(5L)),
        round(col("value") * 100, 0).cast("long"),
        col("event_type") === "purchase")
      .orderBy(col("g"))

  private val aucGroupedOracle =
    """WITH e AS (
      |  SELECT user_id % 5 AS g, CAST(round(value * 100) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |pv AS (
      |  SELECT g, s, CAST(sum(y) AS BIGINT) AS p,
      |    CAST(count(*) - sum(y) AS BIGINT) AS n
      |  FROM e GROUP BY g, s),
      |c AS (
      |  SELECT g, p, n,
      |    CAST(coalesce(sum(n) OVER (PARTITION BY g ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS nb
      |  FROM pv),
      |t AS (
      |  SELECT g, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg,
      |    CAST(sum(CAST(p AS HUGEINT) * (2 * nb + CAST(n AS HUGEINT)))
      |      AS DECIMAL(38,0)) AS two_u
      |  FROM c GROUP BY g)
      |SELECT g, n_pos, n_neg, CAST(two_u AS VARCHAR) AS two_u,
      |  CASE WHEN n_pos > 0 AND n_neg > 0
      |    THEN CAST(two_u AS DOUBLE) /
      |      (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
      |  END AS auc
      |FROM t ORDER BY g""".stripMargin

  /** Pooled lag-1..3 autocorrelation of cent-scaled event values per user
    * timeline ([[graft.ops.TimeSeries.autocorrelation]]): one entity-key
    * sort carries all three lead columns; every moment exact
    * BIGINT/DECIMAL(38); r via correctly-rounded sqrt in fixed operand
    * order. The oracle rebuilds the lag pairs by row-number self-join.
    */
  private def acfQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.autocorrelation(
      Tables.events(s, dir), "user_id", "ts", "event_id",
      round(col("value") * 100, 0).cast("long"), Seq(1, 2, 3))

  private val acfOracle =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT user_id, v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM x),
      |l AS (SELECT unnest([1, 2, 3]) AS lag),
      |p AS (
      |  SELECT l.lag, a.v AS xv, b.v AS yv
      |  FROM r a JOIN l ON true
      |  JOIN r b ON b.user_id = a.user_id AND b.rn = a.rn + l.lag),
      |a AS (
      |  SELECT CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
      |    CAST(sum(CAST(xv AS HUGEINT) * CAST(xv AS HUGEINT)) AS DECIMAL(38,0)) AS sxx,
      |    CAST(sum(CAST(yv AS HUGEINT) * CAST(yv AS HUGEINT)) AS DECIMAL(38,0)) AS syy,
      |    CAST(sum(CAST(xv AS HUGEINT) * CAST(yv AS HUGEINT)) AS DECIMAL(38,0)) AS sxy
      |  FROM p GROUP BY lag)
      |SELECT lag, n, sx, sy, CAST(sxx AS VARCHAR) AS sxx,
      |  CAST(syy AS VARCHAR) AS syy, CAST(sxy AS VARCHAR) AS sxy,
      |  CASE WHEN CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
      |         - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) > 0
      |       AND CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
      |         - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) > 0
      |    THEN CAST(CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
      |        - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE) /
      |      (sqrt(CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
      |          - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)) *
      |       sqrt(CAST(CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
      |          - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)))
      |  END AS acf
      |FROM a ORDER BY lag""".stripMargin

  /** Per-node local clustering coefficient over the significant
    * co-purchase part graph: one explode degree count joined to the
    * per-SF-dir materialized triangle participation counts
    * ([[Graphs.copurchaseTriangles]] — the skew-safe oriented enumeration,
    * shared with global transitivity); coefficient ONE gated division of
    * exact longs. The oracle recounts each triangle at every corner
    * naively from lineitem — equality proves the materialized
    * compact-forward enumeration exact.
    */
  private def clusteringCoeffQ(s: SparkSession, dir: String): DataFrame = {
    val edges = Graphs.copurchaseEdges(s, dir)
    val deg = edges
      .select(explode(array(col("id_a"), col("id_b"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("degree"))
    deg.join(Graphs.copurchaseTriangles(s, dir), Seq("node_id"), "left_outer")
      .select(col("node_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (col("n_triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double")))
      .orderBy(col("node_id"))
  }

  private val clusteringCoeffOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |adj AS (
      |  SELECT u AS n, v AS x FROM e UNION ALL SELECT v AS n, u AS x FROM e),
      |deg AS (SELECT n AS node_id, CAST(count(*) AS BIGINT) AS degree
      |  FROM adj GROUP BY n),
      |tri AS (
      |  SELECT w.n AS node_id, CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM (SELECT l.n, l.x AS a, r.x AS b
      |        FROM adj l JOIN adj r ON l.n = r.n AND l.x < r.x) w
      |  JOIN e ON e.u = w.a AND e.v = w.b
      |  GROUP BY w.n)
      |SELECT d.node_id, d.degree,
      |  CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
      |  CASE WHEN d.degree >= 2
      |    THEN CAST(COALESCE(t.n_triangles, 0) * 2 AS DOUBLE) /
      |      CAST(d.degree * (d.degree - 1) AS DOUBLE)
      |  END AS clustering
      |FROM deg d LEFT JOIN tri t USING (node_id)
      |ORDER BY node_id""".stripMargin

  /** Bounded multi-source BFS over the co-purchase graph
    * ([[graft.dedup.DupClusters.bfsHops]]): min-hop distances within
    * radius 2 of the seed parts — synchronous frontier expansion, one
    * equi-join + one anti-join per round. The oracle is DuckDB's
    * recursive CTE with a min-hop collapse: equality proves the
    * first-reach-is-min-hop invariant of the synchronous rounds.
    */
  private def bfsHopsQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = Graphs.copurchaseEdges(s, dir)
    val seeds = li.select(col("pk").as("node_id"))
      .filter(col("node_id") % 97 === 0).distinct()
    graft.dedup.DupClusters.bfsHops(edges, seeds, maxHops = 2)
      .orderBy(col("hop"), col("node_id"))
  }

  private val bfsHopsOracle =
    """WITH RECURSIVE
      |li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |adj AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |seeds AS (SELECT DISTINCT pk AS node_id FROM li WHERE pk % 97 = 0),
      |walk(node_id, hop) AS (
      |  SELECT node_id, 0 FROM seeds
      |  UNION
      |  SELECT adj.v, walk.hop + 1
      |  FROM walk JOIN adj ON adj.u = walk.node_id
      |  WHERE walk.hop < 2)
      |SELECT node_id, CAST(min(hop) AS INT) AS hop
      |FROM walk GROUP BY node_id
      |ORDER BY hop, node_id""".stripMargin

  /** BLEU clipped n-gram precision components
    * ([[graft.text.BleuScore.ngramPrecision]]) over planted
    * candidate/reference pairs: exact copies (precision must be 1 at
    * every n) mixed with prefix-perturbed near-copies. Every compared
    * value is an exact integer or one gated division; the oracle
    * replays the full gram/clip/collapse pipeline in SQL.
    */
  private def bleuQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val near = docs.filter(col("doc_id") % 10 === 1)
      .select(col("doc_id").as("pair_id"),
        concat(lit("zqxnear "), col("text")).as("cand"), col("text").as("ref"))
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("pair_id"),
        col("text").as("cand"), col("text").as("ref"))
    graft.text.BleuScore.ngramPrecision(
      near.unionByName(copies), "pair_id", "cand", "ref")
  }

  private val bleuOracle =
    """WITH pairs AS (
      |  SELECT doc_id AS pair_id, 'zqxnear ' || text AS cand, text AS ref
      |  FROM documents WHERE doc_id % 10 = 1
      |  UNION ALL
      |  SELECT doc_id + 500000, text, text FROM documents WHERE doc_id % 10 = 0),
      |tok AS (
      |  SELECT pair_id, string_split_regex(cand, '\s+') AS ct,
      |    string_split_regex(ref, '\s+') AS rt
      |  FROM pairs),
      |ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
      |cg AS (
      |  SELECT pair_id, n, unnest(CASE WHEN len(ct) >= n
      |      THEN list_transform(range(1, len(ct) - n + 2),
      |        i -> array_to_string(ct[i:i+n-1], ' '))
      |      ELSE [] END) AS gram
      |  FROM tok CROSS JOIN ns),
      |cc AS (SELECT pair_id, n, gram, CAST(count(*) AS BIGINT) AS c_cand
      |  FROM cg GROUP BY 1, 2, 3),
      |rg AS (
      |  SELECT pair_id, n, unnest(CASE WHEN len(rt) >= n
      |      THEN list_transform(range(1, len(rt) - n + 2),
      |        i -> array_to_string(rt[i:i+n-1], ' '))
      |      ELSE [] END) AS gram
      |  FROM tok CROSS JOIN ns),
      |rc AS (SELECT pair_id, n, gram, CAST(count(*) AS BIGINT) AS c_ref
      |  FROM rg GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT cc.n, cc.c_cand,
      |    least(cc.c_cand, COALESCE(rc.c_ref, 0)) AS m
      |  FROM cc LEFT JOIN rc
      |    ON rc.pair_id = cc.pair_id AND rc.n = cc.n AND rc.gram = cc.gram),
      |pn AS (
      |  SELECT n, CAST(sum(m) AS BIGINT) AS match_cnt,
      |    CAST(sum(c_cand) AS BIGINT) AS cand_cnt
      |  FROM j GROUP BY n),
      |lens AS (
      |  SELECT CAST(sum(len(ct)) AS BIGINT) AS cand_len,
      |    CAST(sum(len(rt)) AS BIGINT) AS ref_len
      |  FROM tok)
      |SELECT n, match_cnt, cand_cnt,
      |  CASE WHEN cand_cnt > 0
      |    THEN CAST(match_cnt AS DOUBLE) / CAST(cand_cnt AS DOUBLE)
      |  END AS prec,
      |  cand_len, ref_len
      |FROM pn CROSS JOIN lens ORDER BY n""".stripMargin

  /** Deterministic multiplier-bootstrap CI on the mean event value
    * ([[graft.analytics.Bootstrap.meanCI]]): 64 Binomial(8, 1/8)-weighted
    * replicates from md5 draws, percentile bounds by cross-multiplied
    * integer ranks — the whole resampling mechanism, including every
    * replicate mean, replayed bit-exactly in the oracle.
    */
  private def bootstrapCiQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Bootstrap.meanCI(
      Tables.events(s, dir), col("event_id"),
      round(col("value") * 100, 0).cast("long"), seed = "s1")

  private val bootstrapCiOracle =
    """WITH x AS (
      |  SELECT CAST(event_id AS VARCHAR) AS id,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |f AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(x) AS BIGINT) AS sum_cents FROM x),
      |r AS (SELECT id, x, unnest(range(0, 64)) AS rep FROM x),
      |w AS (
      |  SELECT rep, x, list_sum(list_transform(range(1, 9), i ->
      |      CASE WHEN md5('boot:s1:' || id || ':'
      |          || CAST(rep // 4 AS VARCHAR))[CAST(i + 8 * (rep % 4) AS INTEGER)]
      |        IN ('0', '1') THEN 1 ELSE 0 END)) AS w
      |  FROM r),
      |m AS (SELECT rep, CAST(sum(w * x) AS BIGINT) AS swx,
      |  CAST(sum(w) AS BIGINT) AS sw FROM w GROUP BY rep),
      |mm AS (SELECT rep,
      |  CASE WHEN sw > 0 THEN CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) END AS m
      |  FROM m),
      |mv AS (
      |  SELECT m, row_number() OVER (ORDER BY m, rep) AS rn,
      |    count(*) OVER () AS cnt
      |  FROM mm WHERE m IS NOT NULL),
      |s AS (
      |  SELECT min(CASE WHEN rn * 1000 >= cnt * 25 THEN m END) AS ci_lo,
      |    min(CASE WHEN rn * 1000 >= cnt * 975 THEN m END) AS ci_hi,
      |    CAST(max(cnt) AS BIGINT) AS b_used
      |  FROM mv)
      |SELECT n, sum_cents,
      |  CASE WHEN n > 0 THEN CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE)
      |  END AS mean,
      |  b_used, ci_lo, ci_hi
      |FROM f CROSS JOIN s""".stripMargin

  /** HyperBall neighborhood function on the co-purchase graph
    * ([[graft.analytics.HyperBall.neighborhoodFunction]]): per-node HLL
    * balls grown 2 hops by register max-merge. The whole register table
    * at every hop is pinned by exact counts/sums/xor; the oracle unrolls
    * both rounds with the same register algebra in SQL.
    */
  private def hyperballQ(s: SparkSession, dir: String): DataFrame = {
    val edges = Graphs.copurchaseEdges(s, dir)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, edges) {
      graft.analytics.HyperBall.neighborhoodFunction(edges, maxHops = 2)
    }
  }

  private val hyperballOracle = {
    val u32 = OracleSql.md5U32Sql("'hllg:' || CAST(node AS VARCHAR)")
    def audit(h: Int) =
      s"""SELECT $h AS hop,
         |  CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(m_rank) AS BIGINT) AS rank_sum,
         |  CAST(bit_xor(node * 8191 + idx * 31 + m_rank) AS BIGINT) AS reg_xor,
         |  (SELECT CAST(sum(CAST(1 AS BIGINT) << CAST(28 - m_rank AS INTEGER))
         |      + (32 - count(*)) * 268435456 AS BIGINT)
         |    FROM g$h, sd WHERE node = seed) AS seed_sum_scaled
         |FROM g$h""".stripMargin
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (
       |  SELECT x.pk AS u, y.pk AS v
       |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
       |adj AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |nodes AS (SELECT DISTINCT u AS node FROM adj),
       |adjs AS (SELECT u, v FROM adj UNION ALL SELECT node AS u, node AS v FROM nodes),
       |h0 AS (SELECT node, ($u32) AS hv FROM nodes),
       |g0 AS (
       |  SELECT node, hv % 32 AS idx,
       |    CASE WHEN hv // 32 = 0 THEN 28
       |         ELSE 28 - length(bin(hv // 32)) END AS m_rank
       |  FROM h0),
       |g1 AS (
       |  SELECT a.v AS node, g.idx, max(g.m_rank) AS m_rank
       |  FROM g0 g JOIN adjs a ON a.u = g.node GROUP BY 1, 2),
       |g2 AS (
       |  SELECT a.v AS node, g.idx, max(g.m_rank) AS m_rank
       |  FROM g1 g JOIN adjs a ON a.u = g.node GROUP BY 1, 2),
       |sd AS (SELECT min(node) AS seed FROM nodes),
       |au AS (
       |  ${audit(0)}
       |  UNION ALL
       |  ${audit(1)}
       |  UNION ALL
       |  ${audit(2)})
       |SELECT hop, n_nodes, n_cells, rank_sum, reg_xor, seed_sum_scaled,
       |  (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 32.0))
       |    * CAST(274877906944 AS DOUBLE) / CAST(seed_sum_scaled AS DOUBLE)
       |    AS seed_estimate
       |FROM au ORDER BY hop""".stripMargin
  }

  /** Leave-one-out target encoding ([[graft.ops.Encoding.targetEncodeLOO]])
    * of order priority against the fulfilled flag: per-row category mean
    * excluding self, exact integers, singleton categories gated NULL.
    */
  private def targetEncodeQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Encoding.targetEncodeLOO(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus")),
        col("o_orderpriority"), col("o_orderstatus") === "F")
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"), col("y"),
        col("cat_cnt"), col("enc_loo"), col("prior"))
      .orderBy(col("o_orderkey"))

  private val targetEncodeOracle =
    """WITH b AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |s AS (
      |  SELECT o_orderpriority, CAST(sum(y) AS BIGINT) AS cs,
      |    CAST(count(*) AS BIGINT) AS cc
      |  FROM b GROUP BY 1),
      |p AS (SELECT CAST(sum(y) AS BIGINT) AS ts, CAST(count(*) AS BIGINT) AS tc
      |  FROM b)
      |SELECT o_orderkey, o_orderpriority, CAST(y AS BIGINT) AS y, cc AS cat_cnt,
      |  CASE WHEN cc > 1
      |    THEN CAST(cs - y AS DOUBLE) / CAST(cc - 1 AS DOUBLE) END AS enc_loo,
      |  CASE WHEN tc > 0 THEN CAST(ts AS DOUBLE) / CAST(tc AS DOUBLE) END AS prior
      |FROM b JOIN s USING (o_orderpriority) CROSS JOIN p
      |WHERE o_orderkey % 20 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** Signed feature hashing ([[graft.ops.Encoding.featureHash]]) of a
    * document slice into 64 slots — sparse (doc, idx, cnt, signed_sum)
    * rows, hash and sign two independent md5U32 fields, fully replayed
    * in the oracle.
    */
  private def featureHashQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Encoding.featureHash(
        Tables.documents(s, dir).filter(col("doc_id") % 25 === 0),
        "doc_id", "text", k = 64)
      .orderBy(col("doc"), col("idx"))

  private val featureHashOracle = {
    val u32 = OracleSql.md5U32Sql("'fh:' || tok")
    s"""WITH t AS (
      |  SELECT doc_id AS doc, unnest(string_split_regex(text, '\\s+')) AS tok
      |  FROM documents WHERE doc_id % 25 = 0),
      |f AS (
      |  SELECT doc, ($u32) % 64 AS idx,
      |    CASE WHEN (($u32) // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
      |  FROM t WHERE tok <> '')
      |SELECT doc, idx, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(sgn) AS BIGINT) AS signed_sum
      |FROM f GROUP BY doc, idx
      |ORDER BY doc, idx""".stripMargin
  }

  /** Incremental inverted-index maintenance from CDC — the search-index
    * member of the delta-maintenance family (`q_minhash_incremental` /
    * `q_ivf_incremental` / `q_count_min_incremental`): postings built on
    * snapshot v1, a delta index built ONLY on `snapshotDiff` inserts,
    * merged term-keyed (insert-only doc sets are disjoint, so df adds and
    * posting lists concatenate). The oracle is the from-scratch index over
    * ALL documents — hash equality proves delta-maintained ≡ rebuilt with
    * O(delta) new tokenization work. Output is the flattened
    * (term, df, doc_id) content; the chunked/salted physical layout
    * ([[graft.text.TextAnalysis.buildPostingsChunked]]) is the hot-term
    * scale path and is pinned by its own rows.
    */
  private def postingsIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.Versioned
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val tmp = graft.Fixtures.dir("post_inc", dir) { t =>
      Versioned.commit(docs.filter(col("doc_id") % 10 =!= 0), t)
      Versioned.commit(docs.filter(col("doc_id") % 10 === 0), t)
    }
    val v1 = Versioned.read(s, tmp, Some(1))
    val delta = Versioned.snapshotDiff(s, tmp, from = 1, to = 2)
      .filter(col("__change") === "insert").drop("__change")
    // kernel pin (r16 A/B x3: base 2.3-2.5 s vs pin8 1.3-1.5, exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, docs) {
      graft.text.TextAnalysis.buildPostings(v1)
        .unionByName(graft.text.TextAnalysis.buildPostings(delta))
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df"),
          sort_array(flatten(collect_list(col("postings")))).as("postings"))
        .select(col("term"), col("df"), explode(col("postings")).as("doc_id"))
        .orderBy(col("term"), col("doc_id"))
        .anchor(Bound.PerEntity)
    }
  }

  private val postingsIncrementalOracle =
    """WITH tk AS (
      |  SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
      |    FROM documents)),
      |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY term)
      |SELECT tk.term AS term, d.df, tk.doc_id
      |FROM tk JOIN d ON d.term = tk.term
      |ORDER BY tk.term, doc_id""".stripMargin

  /** Kaplan–Meier hazard table over user churn
    * ([[graft.analytics.Survival.hazardTable]]): death = last activity
    * day, risk set by reverse-cumulative window over distinct days only;
    * deaths/n_at_risk exact, hazard one division.
    */
  private def kaplanMeierQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Survival.hazardTable(
      Tables.events(s, dir), col("user_id"), to_date(col("ts")))

  private val kaplanMeierOracle =
    """WITH last AS (
      |  SELECT user_id, max(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id),
      |pd AS (SELECT d, CAST(count(*) AS BIGINT) AS deaths FROM last GROUP BY d),
      |r AS (
      |  SELECT d, deaths,
      |    CAST(sum(deaths) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_at_risk
      |  FROM pd)
      |SELECT d, deaths, n_at_risk,
      |  CAST(deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard
      |FROM r ORDER BY d""".stripMargin

  /** NDCG@10 per user ([[graft.analytics.Eval.ndcgAtK]]): system order by
    * cent value, graded relevance from event type, DCG/IDCG exact BIGINTs
    * on the integer discount grid (round(2^20/log2(i+1)) — the literals
    * are interpolated into the oracle from the SAME Scala computation).
    */
  private def ndcgQ(s: SparkSession, dir: String): DataFrame = {
    val rel = when(col("event_type") === "purchase", 3L)
      .when(col("event_type") === "click", 2L)
      .when(col("event_type") === "view", 1L).otherwise(0L)
    graft.analytics.Eval.ndcgAtK(
        Tables.events(s, dir).filter(col("user_id") % 5 === 0),
        col("user_id"), round(col("value") * 100, 0).cast("long"),
        col("event_id"), rel)
      .orderBy(col("g"))
  }

  private val ndcgOracle = {
    val d = graft.analytics.Eval.ndcgDiscounts(10).mkString("[", ", ", "]")
    s"""WITH b AS (
      |  SELECT user_id AS g, CAST(round(value * 100) AS BIGINT) AS s,
      |    event_id AS t,
      |    CASE WHEN event_type = 'purchase' THEN 3
      |         WHEN event_type = 'click' THEN 2
      |         WHEN event_type = 'view' THEN 1 ELSE 0 END AS r
      |  FROM events WHERE user_id % 5 = 0),
      |rk AS (
      |  SELECT g, r,
      |    row_number() OVER (PARTITION BY g ORDER BY s DESC, t) AS rk,
      |    row_number() OVER (PARTITION BY g ORDER BY r DESC, t) AS irk
      |  FROM b),
      |a AS (
      |  SELECT g,
      |    CAST(coalesce(sum(CASE WHEN rk <= 10
      |      THEN r * ($d)[rk] END), 0) AS BIGINT) AS dcg_scaled,
      |    CAST(coalesce(sum(CASE WHEN irk <= 10
      |      THEN r * ($d)[irk] END), 0) AS BIGINT) AS idcg_scaled
      |  FROM rk GROUP BY g)
      |SELECT g, dcg_scaled, idcg_scaled,
      |  CASE WHEN idcg_scaled > 0
      |    THEN CAST(dcg_scaled AS DOUBLE) / CAST(idcg_scaled AS DOUBLE)
      |  END AS ndcg
      |FROM a ORDER BY g""".stripMargin
  }

  /** Exact 1-NN matched pairs ([[graft.ops.Matching.nearestControl]]):
    * hash-assigned treated orders matched to the nearest control by total
    * price within their priority stratum — one sort, two IGNORE NULLS
    * window lookups, no pair join; the oracle replays the same windows.
    */
  private def matchedPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Matching.nearestControl(
        Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long"),
        col("o_orderkey") % 7 === 0)
      .orderBy(col("stratum"), col("id"))

  private val matchedPairsOracle =
    """WITH b AS (
      |  SELECT o_orderpriority AS stratum, o_orderkey AS id,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS score,
      |    (o_orderkey % 7 = 0) AS t
      |  FROM orders),
      |w AS (
      |  SELECT *,
      |    last_value(CASE WHEN NOT t THEN score END IGNORE NULLS)
      |      OVER pw AS pv,
      |    last_value(CASE WHEN NOT t THEN id END IGNORE NULLS)
      |      OVER pw AS pi,
      |    first_value(CASE WHEN NOT t THEN score END IGNORE NULLS)
      |      OVER nw AS nv,
      |    first_value(CASE WHEN NOT t THEN id END IGNORE NULLS)
      |      OVER nw AS ni
      |  FROM b
      |  WINDOW
      |    pw AS (PARTITION BY stratum ORDER BY score, id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    nw AS (PARTITION BY stratum ORDER BY score, id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT stratum, id, score,
      |  CASE WHEN pv IS NOT NULL AND (nv IS NULL OR score - pv <= nv - score)
      |    THEN pi ELSE ni END AS control_id,
      |  CASE WHEN pv IS NOT NULL AND (nv IS NULL OR score - pv <= nv - score)
      |    THEN pv ELSE nv END AS control_score,
      |  CASE WHEN pv IS NOT NULL AND (nv IS NULL OR score - pv <= nv - score)
      |    THEN score - pv ELSE nv - score END AS match_dist
      |FROM w WHERE t
      |ORDER BY stratum, id""".stripMargin

  /** Newman modularity of a block partition of the co-purchase graph
    * ([[graft.dedup.DupClusters.modularity]]): exact integer numerator
    * Σ(4·m·L_c − D_c²) over 4m², one division. The partition covers
    * every node (pk div 400 blocks), per the operator's contract.
    */
  private def modularityQ(s: SparkSession, dir: String): DataFrame =
    // kernel pin (r16 A/B x3: base 1.0-1.3 s vs pin8 0.6-0.7, exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s,
      Graphs.copurchaseEdges(s, dir), Tables.lineitem(s, dir)) {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val edges = Graphs.copurchaseEdges(s, dir)
      val communities = li.select(col("pk").as("node_id")).distinct()
        .withColumn("community", expr("node_id div 400"))
      graft.dedup.DupClusters.modularity(edges, communities)
        .anchor(Bound.Metadata)
    }

  private val modularityOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |cm AS (SELECT DISTINCT pk AS n, pk // 400 AS c FROM li),
      |deg AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
      |    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
      |  GROUP BY n),
      |dc AS (
      |  SELECT cm.c, CAST(sum(deg.d) AS BIGINT) AS dc
      |  FROM deg JOIN cm ON cm.n = deg.n GROUP BY cm.c),
      |lc AS (
      |  SELECT a.c, CAST(count(*) AS BIGINT) AS lc
      |  FROM e JOIN cm a ON a.n = e.u JOIN cm b ON b.n = e.v
      |  WHERE a.c = b.c GROUP BY a.c),
      |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
      |t AS (
      |  SELECT max(m) AS m, CAST(count(*) AS BIGINT) AS n_communities,
      |    CAST(sum(CAST(COALESCE(lc.lc, 0) AS HUGEINT) * m * 4
      |      - CAST(dc.dc AS HUGEINT) * CAST(dc.dc AS HUGEINT))
      |      AS DECIMAL(38,0)) AS q_num
      |  FROM dc LEFT JOIN lc ON lc.c = dc.c CROSS JOIN mm)
      |SELECT CAST(m AS BIGINT) AS m, n_communities,
      |  CAST(q_num AS VARCHAR) AS q_num,
      |  CASE WHEN m > 0 THEN CAST(q_num AS DOUBLE) /
      |    (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) END AS modularity
      |FROM t""".stripMargin

  /** Brier score + reliability bins ([[graft.analytics.Eval.brierReliability]])
    * of a value-derived pseudo-probability against the purchase label:
    * permille grid, exact squared-error BIGINTs, pooled row at bin −1.
    */
  private def brierQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.brierReliability(
      Tables.events(s, dir),
      least(lit(1000L), round(col("value") * 3, 0).cast("long")),
      col("event_type") === "purchase")

  private val brierOracle =
    """WITH b AS (
      |  SELECT least(1000, CAST(round(value * 3) AS BIGINT)) AS p,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |s AS (
      |  SELECT p, y, least(p // 100, 9) AS bin,
      |    (p - y * 1000) * (p - y * 1000) AS se
      |  FROM b),
      |pb AS (
      |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS sum_p,
      |    CAST(sum(y) AS BIGINT) AS sum_y, CAST(sum(se) AS BIGINT) AS se_num
      |  FROM s GROUP BY bin),
      |al AS (
      |  SELECT CAST(-1 AS BIGINT) AS bin, CAST(sum(n) AS BIGINT) AS n,
      |    CAST(sum(sum_p) AS BIGINT) AS sum_p, CAST(sum(sum_y) AS BIGINT) AS sum_y,
      |    CAST(sum(se_num) AS BIGINT) AS se_num
      |  FROM pb),
      |u AS (SELECT * FROM pb UNION ALL SELECT * FROM al)
      |SELECT bin, n, sum_p, sum_y, se_num,
      |  CASE WHEN n > 0 THEN CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE) END AS avg_p,
      |  CASE WHEN n > 0
      |    THEN CAST(sum_y * 1000 AS DOUBLE) / CAST(n AS DOUBLE) END AS frac_pos,
      |  CASE WHEN n > 0 THEN CAST(se_num AS DOUBLE) /
      |    CAST(n * 1000000 AS DOUBLE) END AS brier
      |FROM u ORDER BY bin""".stripMargin

  /** Regression report ([[graft.analytics.Eval.regressionReport]]) of the
    * per-event-type mean-value predictor: exact moment sums, MAE/MSE one
    * division each, RMSE correctly-rounded sqrt, R² cross-multiplied.
    * The predictor itself is exact: per-class cents sum over count,
    * floor-divided back onto the cent grid so prediction is an integer.
    */
  private def regressionMetricsQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("y"))
    val means = ev.groupBy(col("event_type"))
      .agg(expr("sum(y) div count(1)").as("pred"))
    graft.analytics.Eval.regressionReport(
      ev.join(broadcast(means), Seq("event_type")), col("y"), col("pred"))
  }

  private val regressionMetricsOracle =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y FROM events),
      |m AS (
      |  SELECT event_type,
      |    CAST(CAST(sum(y) AS BIGINT) // count(*) AS BIGINT) AS pred
      |  FROM e GROUP BY event_type),
      |j AS (SELECT e.y, m.pred, m.pred - e.y AS err
      |  FROM e JOIN m ON m.event_type = e.event_type),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(abs(err)) AS BIGINT) AS sae,
      |    CAST(sum(CAST(err AS HUGEINT) * CAST(err AS HUGEINT))
      |      AS DECIMAL(38,0)) AS sse,
      |    CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
      |      AS DECIMAL(38,0)) AS syy
      |  FROM j)
      |SELECT n, sae, CAST(sse AS VARCHAR) AS sse, sy,
      |  CAST(syy AS VARCHAR) AS syy,
      |  CASE WHEN n > 0 THEN CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) END AS mae,
      |  CASE WHEN n > 0 THEN CAST(sse AS DOUBLE) / CAST(n AS DOUBLE) END AS mse,
      |  sqrt(CASE WHEN n > 0 THEN CAST(sse AS DOUBLE) / CAST(n AS DOUBLE) END)
      |    AS rmse,
      |  CASE WHEN CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
      |      - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) > 0
      |    THEN 1.0 - CAST(CAST(n AS HUGEINT) * CAST(sse AS HUGEINT) AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * CAST(syy AS HUGEINT)
      |        - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
      |  END AS r2
      |FROM a""".stripMargin

  /** RFM customer segmentation on exact quintile thresholds: per-user
    * recency/frequency/monetary stats (exact integers), quintile cut
    * points from [[graft.analytics.Quantiles.exactQuantilesTwoPass]]
    * (NO global ntile window — the sort-free two-pass path), broadcast
    * back as 1-row threshold arrays; segment assignment is a pure
    * projection `1 + #{thresholds below}` (recency inverted: recent =
    * high score). The oracle recomputes thresholds by naive global
    * selection and replays the same comparisons.
    */
  private def rfmQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val nowRow = broadcast(ev.agg(max(col("us")).as("__now")))
    // eager anchor (r17): the per-user RFM table is consumed SEVEN times —
    // the main projection plus two passes inside each of three exact-quantile
    // threshold calls — and unanchored each consumer re-ran the events scan
    // + groupBy. Per-entity aggregates are the frame a production pipeline
    // materializes once (bounded by |users|, not |events|).
    val perUser = ev.crossJoin(nowRow)
      .groupBy(col("user_id"))
      .agg(min(col("__now") - col("us")).as("recency_us"),
        count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary"))
      .anchor(Bound.PerEntity)
    def thresholds(c: String, width: Long, name: String) = broadcast(
      graft.analytics.Quantiles.exactQuantilesTwoPass(
          perUser.select(col(c)), c, Seq(200, 400, 600, 800), width)
        .agg(sort_array(collect_list(col("value_cents"))).as(name)))
    def seg(arr: String, v: String) =
      (size(filter(col(arr), t => t < col(v))) + 1).cast("long")
    perUser
      .crossJoin(thresholds("recency_us", 1000000000L, "rt"))
      .crossJoin(thresholds("frequency", 1L, "ft"))
      .crossJoin(thresholds("monetary", 1000L, "mt"))
      .select(col("user_id"), col("recency_us"), col("frequency"), col("monetary"),
        (lit(6L) - seg("rt", "recency_us")).as("r_seg"),
        seg("ft", "frequency").as("f_seg"),
        seg("mt", "monetary").as("m_seg"))
      .withColumn("rfm",
        col("r_seg") * 100 + col("f_seg") * 10 + col("m_seg"))
      .filter(col("user_id") % 7 === 0)
      .orderBy(col("user_id"))
  }

  private val rfmOracle =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |nw AS (SELECT max(us) AS nowus FROM ev),
      |pu AS (
      |  SELECT user_id, CAST(min(nowus - us) AS BIGINT) AS recency_us,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(cents) AS BIGINT) AS monetary
      |  FROM ev CROSS JOIN nw GROUP BY user_id),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pu),
      |pp AS (SELECT unnest([200, 400, 600, 800]) AS p),
      |kk AS (SELECT p, CAST((n * p + 999) // 1000 AS BIGINT) AS k FROM pp, nn),
      |rt AS (SELECT list(v ORDER BY v) AS rt FROM (
      |  SELECT r.v FROM kk JOIN (
      |    SELECT recency_us AS v, row_number() OVER (ORDER BY recency_us) AS rn
      |    FROM pu) r ON r.rn = kk.k)),
      |ft AS (SELECT list(v ORDER BY v) AS ft FROM (
      |  SELECT r.v FROM kk JOIN (
      |    SELECT frequency AS v, row_number() OVER (ORDER BY frequency) AS rn
      |    FROM pu) r ON r.rn = kk.k)),
      |mt AS (SELECT list(v ORDER BY v) AS mt FROM (
      |  SELECT r.v FROM kk JOIN (
      |    SELECT monetary AS v, row_number() OVER (ORDER BY monetary) AS rn
      |    FROM pu) r ON r.rn = kk.k))
      |SELECT user_id, recency_us, frequency, monetary,
      |  CAST(6 - (1 + len(list_filter(rt, t -> t < recency_us))) AS BIGINT)
      |    AS r_seg,
      |  CAST(1 + len(list_filter(ft, t -> t < frequency)) AS BIGINT) AS f_seg,
      |  CAST(1 + len(list_filter(mt, t -> t < monetary)) AS BIGINT) AS m_seg,
      |  CAST((6 - (1 + len(list_filter(rt, t -> t < recency_us)))) * 100
      |    + (1 + len(list_filter(ft, t -> t < frequency))) * 10
      |    + (1 + len(list_filter(mt, t -> t < monetary))) AS BIGINT) AS rfm
      |FROM pu CROSS JOIN rt CROSS JOIN ft CROSS JOIN mt
      |WHERE user_id % 7 = 0
      |ORDER BY user_id""".stripMargin

  /** Column-profile drift between two snapshot versions: v1 profiles vs
    * v2 profiles ([[graft.maintain.Profile.columnProfile]] over
    * [[graft.maintain.Versioned]] reads), joined per column with exact
    * count deltas and min/max-moved flags — the contract-drift tripwire a
    * nightly pipeline runs before promoting a snapshot.
    */
  private def profileDriftQ(s: SparkSession, dir: String): DataFrame = {
    import graft.maintain.{Profile, Versioned}
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val tmp = graft.TempDirs.runDir("prof_drift").toString
    Versioned.commit(ev.filter(col("event_id") % 10 =!= 0), tmp)
    Versioned.commit(ev.filter(col("event_id") % 10 === 0), tmp)
    val cols = Seq("user_id" -> Profile.AsString,
      "event_type" -> Profile.AsString, "value" -> Profile.AsDecimal2)
    def prof(v: Int, sfx: String) =
      Profile.columnProfile(Versioned.read(s, tmp, Some(v)), cols)
        .select(col("column"),
          col("n_rows").as(s"n_rows$sfx"), col("n_nulls").as(s"n_nulls$sfx"),
          col("n_distinct").as(s"n_distinct$sfx"),
          col("min_val").as(s"min$sfx"), col("max_val").as(s"max$sfx"))
    prof(1, "_v1").join(prof(2, "_v2"), Seq("column"))
      .select(col("column"),
        col("n_rows_v1"), col("n_rows_v2"),
        (col("n_rows_v2") - col("n_rows_v1")).as("rows_added"),
        col("n_distinct_v1"), col("n_distinct_v2"),
        (col("n_nulls_v2") - col("n_nulls_v1")).as("nulls_added"),
        (col("min_v2") =!= col("min_v1")).as("min_moved"),
        (col("max_v2") =!= col("max_v1")).as("max_moved"))
      .orderBy(col("column"))
  }

  private val profileDriftOracle =
    """WITH v1 AS (
      |  SELECT user_id, event_type, value FROM events WHERE event_id % 10 <> 0),
      |p1 AS (
      |  SELECT 'user_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows_v1,
      |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_nulls_v1,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_v1,
      |    CAST(min(user_id) AS VARCHAR) AS min_v1,
      |    CAST(max(user_id) AS VARCHAR) AS max_v1
      |  FROM v1
      |  UNION ALL
      |  SELECT 'event_type', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(count(DISTINCT event_type) AS BIGINT),
      |    min(event_type), max(event_type)
      |  FROM v1
      |  UNION ALL
      |  SELECT 'value', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(count(DISTINCT value) AS BIGINT),
      |    CAST(CAST(min(value) AS DECIMAL(18,2)) AS VARCHAR),
      |    CAST(CAST(max(value) AS DECIMAL(18,2)) AS VARCHAR)
      |  FROM v1),
      |p2 AS (
      |  SELECT 'user_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows_v2,
      |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_nulls_v2,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_v2,
      |    CAST(min(user_id) AS VARCHAR) AS min_v2,
      |    CAST(max(user_id) AS VARCHAR) AS max_v2
      |  FROM events
      |  UNION ALL
      |  SELECT 'event_type', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(count(DISTINCT event_type) AS BIGINT),
      |    min(event_type), max(event_type)
      |  FROM events
      |  UNION ALL
      |  SELECT 'value', CAST(count(*) AS BIGINT),
      |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(count(DISTINCT value) AS BIGINT),
      |    CAST(CAST(min(value) AS DECIMAL(18,2)) AS VARCHAR),
      |    CAST(CAST(max(value) AS DECIMAL(18,2)) AS VARCHAR)
      |  FROM events)
      |SELECT p1."column" AS "column", n_rows_v1, n_rows_v2,
      |  n_rows_v2 - n_rows_v1 AS rows_added,
      |  n_distinct_v1, n_distinct_v2,
      |  n_nulls_v2 - n_nulls_v1 AS nulls_added,
      |  min_v2 <> min_v1 AS min_moved,
      |  max_v2 <> max_v1 AS max_moved
      |FROM p1 JOIN p2 ON p2."column" = p1."column"
      |ORDER BY p1."column"""".stripMargin

  /** LIVE classification-report maintenance: the confusion matrix as a
    * complete-mode streaming aggregation (one-shot run over the same
    * event feed), report derived from the class²-bounded sink state via
    * [[graft.analytics.Eval.classificationReportFromConfusion]]. The
    * oracle is `q_eval_metrics`' batch SQL verbatim — the streaming
    * maintenance path must land on the identical report.
    */
  private def streamEvalQ(s: SparkSession, dir: String): DataFrame = {
    val pred = when(col("value") >= 300, "error")
      .when(col("value") >= 200, "click")
      .when(col("value") >= 100, "purchase")
      .when(col("value") >= 50, "view")
      .otherwise("signup")
    val confusion = OneShotStream.drain(OneShotStream.events(s, dir)
      .groupBy(col("event_type").as("truth"), pred.as("pred"))
      .agg(count(lit(1)).as("c")), "complete")
    graft.analytics.Eval.classificationReportFromConfusion(confusion)
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        col("precision").as("prec"), col("recall").as("rec"), col("f1"))
      .orderBy(col("cls"))
  }

  /** Bounded Bellman–Ford over the weighted co-purchase graph
    * ([[graft.dedup.DupClusters.boundedShortestPaths]]): exact integer
    * distances over all ≤3-edge paths from the seed parts; one
    * relax-join + min-fold per round. Oracle: recursive CTE with a step
    * bound and a min collapse.
    */
  private def shortestPathsQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = Graphs.copurchaseEdges(s, dir)
      .select(col("id_a"), col("id_b"),
        ((col("id_a") + col("id_b")) % 5 + 1).as("w"))
    val seeds = li.select(col("pk").as("node_id"))
      .filter(col("node_id") % 97 === 0).distinct()
    graft.dedup.DupClusters.boundedShortestPaths(edges, seeds, rounds = 3)
      .orderBy(col("node_id"))
  }

  private val shortestPathsOracle =
    """WITH RECURSIVE
      |li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |ew AS (SELECT u, v, (u + v) % 5 + 1 AS w FROM e),
      |adj AS (SELECT u, v, w FROM ew UNION ALL SELECT v AS u, u AS v, w FROM ew),
      |seeds AS (SELECT DISTINCT pk AS node_id FROM li WHERE pk % 97 = 0),
      |walk(node_id, d, s) AS (
      |  SELECT node_id, CAST(0 AS BIGINT), 0 FROM seeds
      |  UNION
      |  SELECT adj.v, walk.d + adj.w, walk.s + 1
      |  FROM walk JOIN adj ON adj.u = walk.node_id
      |  WHERE walk.s < 3)
      |SELECT node_id, CAST(min(d) AS BIGINT) AS dist
      |FROM walk GROUP BY node_id
      |ORDER BY node_id""".stripMargin

  /** Join-preserving entity sampling
    * ([[graft.ops.Sampling.consistentEntitySample]], ~10% of users): the
    * output carries the all-or-nothing proof in-plan — every kept user's
    * kept-event count must equal their full count.
    */
  private def consistentSampleQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val kept = graft.ops.Sampling.consistentEntitySample(
        ev, col("user_id"), "cs1", permille = 100)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_kept"))
    val full = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_all"))
    kept.join(full, Seq("user_id"))
      .select(col("user_id"), col("n_kept"), col("n_all"),
        (col("n_kept") === col("n_all")).as("complete"))
      .orderBy(col("user_id"))
  }

  private val consistentSampleOracle = {
    val u32 = OracleSql.md5U32Sql("'ces:cs1:' || CAST(user_id AS VARCHAR)")
    s"""WITH kept AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_kept
      |  FROM events WHERE ($u32) * 1000 < 100 * 4294967296
      |  GROUP BY user_id),
      |fl AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_all
      |  FROM events GROUP BY user_id)
      |SELECT kept.user_id, n_kept, n_all, n_kept = n_all AS complete
      |FROM kept JOIN fl ON fl.user_id = kept.user_id
      |ORDER BY kept.user_id""".stripMargin
  }

  /** Wilson score intervals for per-event-type purchase-follow rate —
    * i.e. conversion per segment with small-n-valid bounds
    * ([[graft.analytics.Eval.wilsonProportions]]): exact counts, fixed
    * operand order, z = 1.96 as one literal in both engines.
    */
  private def wilsonCiQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.wilsonProportions(
        Tables.events(s, dir),
        pmod(col("user_id"), lit(8L)), col("event_type") === "purchase")
      .orderBy(col("g"))

  private val wilsonCiOracle =
    """WITH a AS (
      |  SELECT user_id % 8 AS g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS successes
      |  FROM events GROUP BY g),
      |p AS (SELECT g, n, successes,
      |  CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat FROM a)
      |SELECT g, n, successes, p_hat,
      |  (p_hat + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))
      |    - CAST(1.96 AS DOUBLE) * sqrt(p_hat * (1.0 - p_hat) / CAST(n AS DOUBLE)
      |      + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)) AS wilson_lo,
      |  (p_hat + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))
      |    + CAST(1.96 AS DOUBLE) * sqrt(p_hat * (1.0 - p_hat) / CAST(n AS DOUBLE)
      |      + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / CAST(n AS DOUBLE)) AS wilson_hi
      |FROM p ORDER BY g""".stripMargin

  /** Leakage-safe standardization
    * ([[graft.ops.Encoding.standardizeByTrain]]): train-split moments
    * broadcast onto every row, z = (x·n − Σx)/√(n·Σx² − (Σx)²) — exact
    * numerator, one sqrt, one division.
    */
  private def scalerQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Encoding.standardizeByTrain(
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents")),
        col("cents"), col("o_orderkey") % 4 =!= 0)
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("x_cents"), col("is_train"), col("z"))
      .orderBy(col("o_orderkey"))

  private val scalerOracle =
    """WITH b AS (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS x,
      |    o_orderkey % 4 <> 0 AS is_train
      |  FROM orders),
      |st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DECIMAL(38,0))
      |      AS sxx
      |  FROM b WHERE is_train)
      |SELECT o_orderkey, x AS x_cents, is_train,
      |  CASE WHEN n > 0 AND CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
      |      - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) > 0.0
      |    THEN CAST(CAST(x AS HUGEINT) * CAST(n AS HUGEINT)
      |        - CAST(sx AS HUGEINT) AS DOUBLE) /
      |      sqrt(CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
      |        - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE))
      |  END AS z
      |FROM b CROSS JOIN st
      |WHERE o_orderkey % 50 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** Average treatment effect on the treated via matched pairs — the
    * observational-causal composition: per-user pre/post spend split at
    * a fixed date, hash-assigned "treatment", each treated user matched
    * to the nearest control on PRE-period spend within their stratum
    * ([[graft.ops.Matching.nearestControl]]), ATT = mean post-period
    * difference over pairs — exact sums, one division. Matching on the
    * pre-period covariate is what isolates the post-period gap.
    */
  private def attMatchedQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cut = lit("2024-07-01 00:00:00").cast("timestamp")
    val perUser = ev.groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("ts") < cut,
          round(col("value") * 100, 0).cast("long"))), lit(0L)).as("pre_cents"),
        coalesce(sum(when(col("ts") >= cut,
          round(col("value") * 100, 0).cast("long"))), lit(0L)).as("post_cents"))
      .withColumn("treated", col("user_id") % 4 === 0)
    val matched = graft.ops.Matching.nearestControl(
        perUser, pmod(col("user_id"), lit(3L)), col("user_id"),
        col("pre_cents"), col("treated"))
      .filter(col("control_id").isNotNull)
    val posts = perUser.select(col("user_id").as("uid"), col("post_cents"))
    matched
      .join(posts.withColumnRenamed("uid", "id")
        .withColumnRenamed("post_cents", "post_t"), Seq("id"))
      .join(posts.withColumnRenamed("uid", "control_id")
        .withColumnRenamed("post_cents", "post_c"), Seq("control_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("post_t")).as("sum_post_treated"),
        sum(col("post_c")).as("sum_post_control"))
      .withColumn("att",
        when(col("n_pairs") > 0,
          (col("sum_post_treated") - col("sum_post_control")).cast("double") /
            col("n_pairs").cast("double")))
  }

  private val attMatchedOracle =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-07-01 00:00:00'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
      |      AS pre_cents,
      |    CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-07-01 00:00:00'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
      |      AS post_cents,
      |    user_id % 4 = 0 AS t
      |  FROM events GROUP BY user_id),
      |w AS (
      |  SELECT user_id, pre_cents, post_cents, t,
      |    last_value(CASE WHEN NOT t THEN pre_cents END IGNORE NULLS)
      |      OVER pw AS pv,
      |    last_value(CASE WHEN NOT t THEN user_id END IGNORE NULLS)
      |      OVER pw AS pi,
      |    first_value(CASE WHEN NOT t THEN pre_cents END IGNORE NULLS)
      |      OVER nw AS nv,
      |    first_value(CASE WHEN NOT t THEN user_id END IGNORE NULLS)
      |      OVER nw AS ni
      |  FROM pu
      |  WINDOW
      |    pw AS (PARTITION BY user_id % 3 ORDER BY pre_cents, user_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    nw AS (PARTITION BY user_id % 3 ORDER BY pre_cents, user_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
      |m AS (
      |  SELECT user_id AS id, post_cents AS post_t,
      |    CASE WHEN pv IS NOT NULL
      |        AND (nv IS NULL OR pre_cents - pv <= nv - pre_cents)
      |      THEN pi ELSE ni END AS control_id
      |  FROM w WHERE t),
      |j AS (
      |  SELECT m.post_t, c.post_cents AS post_c
      |  FROM m JOIN pu c ON c.user_id = m.control_id
      |  WHERE m.control_id IS NOT NULL),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(post_t) AS BIGINT) AS sum_post_treated,
      |    CAST(sum(post_c) AS BIGINT) AS sum_post_control
      |  FROM j)
      |SELECT n_pairs, sum_post_treated, sum_post_control,
      |  CASE WHEN n_pairs > 0
      |    THEN CAST(sum_post_treated - sum_post_control AS DOUBLE) /
      |      CAST(n_pairs AS DOUBLE)
      |  END AS att
      |FROM a""".stripMargin

  /** Hit-rate@10 and MRR@10 ([[graft.analytics.Eval.mrrAtK]]) of the
    * value-ranked event list against the purchase label — reciprocal
    * ranks on the integer grid, exact BIGINT numerator, one division.
    */
  private def mrrQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.mrrAtK(
      Tables.events(s, dir), col("user_id"),
      round(col("value") * 100, 0).cast("long"), col("event_id"),
      col("event_type") === "purchase")

  private val mrrOracle = {
    val grid = graft.analytics.Eval.mrrGrid(10).mkString("[", ", ", "]")
    s"""WITH b AS (
      |  SELECT user_id AS g, CAST(round(value * 100) AS BIGINT) AS s,
      |    event_id AS t, event_type = 'purchase' AS rel
      |  FROM events),
      |r AS (
      |  SELECT g, rel,
      |    row_number() OVER (PARTITION BY g ORDER BY s DESC, t) AS rk
      |  FROM b),
      |f AS (
      |  SELECT g, min(CASE WHEN rel THEN rk END) AS fr
      |  FROM r WHERE rk <= 10 GROUP BY g),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |    CAST(sum(CASE WHEN fr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hits,
      |    CAST(coalesce(sum(($grid)[fr]), 0) AS BIGINT) AS rr_sum_scaled
      |  FROM f)
      |SELECT n_groups, hits, rr_sum_scaled,
      |  CASE WHEN n_groups > 0
      |    THEN CAST(hits AS DOUBLE) / CAST(n_groups AS DOUBLE) END AS hit_rate,
      |  CASE WHEN n_groups > 0
      |    THEN CAST(rr_sum_scaled AS DOUBLE) /
      |      CAST(n_groups * 1048576 AS DOUBLE)
      |  END AS mrr
      |FROM a""".stripMargin
  }

  /** Weak-tie audit over the co-purchase graph
    * ([[graft.dedup.DupClusters.edgeTriangleSupport]]): the per-edge
    * triangle-support histogram — support-0 edges are the bridges. The
    * oracle recounts support naively per edge via common neighbors.
    */
  private def weakTiesQ(s: SparkSession, dir: String): DataFrame =
    // kernel pin (r16 A/B x3: base 0.9-2.0 s vs pin8 0.6-1.0, exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, Graphs.copurchaseEdges(s, dir)) {
      val edges = Graphs.copurchaseEdges(s, dir)
      graft.dedup.DupClusters.edgeTriangleSupport(edges)
        .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
        .orderBy(col("support"))
        .anchor(Bound.Metadata)
    }

  private val weakTiesOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT x.pk AS u, y.pk AS v
      |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
      |  GROUP BY x.pk, y.pk HAVING count(*) >= 2),
      |adj AS (SELECT u AS n, v AS x FROM e UNION ALL SELECT v AS n, u AS x FROM e),
      |sup AS (
      |  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS support
      |  FROM e JOIN adj a ON a.n = e.u JOIN adj b ON b.n = e.v AND b.x = a.x
      |  GROUP BY e.u, e.v),
      |h AS (
      |  SELECT CAST(COALESCE(s.support, 0) AS BIGINT) AS support
      |  FROM e LEFT JOIN sup s ON s.u = e.u AND s.v = e.v)
      |SELECT support, CAST(count(*) AS BIGINT) AS n_edges
      |FROM h GROUP BY support ORDER BY support""".stripMargin

  /** Cumulative gains / lift curve by exact score deciles: bucket cuts
    * from the sort-free two-pass quantiles, per-bucket positives, and
    * metadata-window cumulatives; gain and lift are cross-multiplied
    * exact longs with one division each.
    */
  private def gainsCurveQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      round(col("value") * 100, 0).cast("long").as("s"),
      (col("event_type") === "purchase").cast("long").as("y"))
    val cuts = broadcast(graft.analytics.Quantiles.exactQuantilesTwoPass(
        ev.select(col("s")), "s", (1 to 9).map(_ * 100), bucketWidth = 2048L)
      .agg(sort_array(collect_list(col("value_cents"))).as("tarr")))
    val perB = ev.crossJoin(cuts)
      .select((lit(10) - size(filter(col("tarr"), t => t < col("s"))))
        .cast("long").as("b"), col("y"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    perB
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .withColumn("tot_n", sum(col("n")).over(all))
      .withColumn("tot_pos", sum(col("pos")).over(all))
      .select(col("b"), col("n"), col("pos"), col("cum_n"), col("cum_pos"),
        when(col("tot_pos") > 0,
          col("cum_pos").cast("double") / col("tot_pos").cast("double"))
          .as("gain"),
        when(col("cum_n") > 0 && col("tot_pos") > 0,
          (col("cum_pos") * col("tot_n")).cast("double") /
            (col("cum_n") * col("tot_pos")).cast("double")).as("lift"))
      .orderBy(col("b"))
  }

  private val gainsCurveOracle =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
      |pp AS (SELECT unnest([100, 200, 300, 400, 500, 600, 700, 800, 900]) AS p),
      |kk AS (SELECT p, CAST((n * p + 999) // 1000 AS BIGINT) AS k FROM pp, nn),
      |tt AS (SELECT list(v ORDER BY v) AS tarr FROM (
      |  SELECT r.v FROM kk JOIN (
      |    SELECT s AS v, row_number() OVER (ORDER BY s) AS rn FROM ev) r
      |    ON r.rn = kk.k)),
      |pb AS (
      |  SELECT CAST(10 - len(list_filter(tarr, t -> t < s)) AS BIGINT) AS b,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      |  FROM ev CROSS JOIN tt GROUP BY 1),
      |c AS (
      |  SELECT b, n, pos,
      |    CAST(sum(n) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_n,
      |    CAST(sum(pos) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_pos,
      |    CAST(sum(n) OVER () AS BIGINT) AS tot_n,
      |    CAST(sum(pos) OVER () AS BIGINT) AS tot_pos
      |  FROM pb)
      |SELECT b, n, pos, cum_n, cum_pos,
      |  CASE WHEN tot_pos > 0
      |    THEN CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) END AS gain,
      |  CASE WHEN cum_n > 0 AND tot_pos > 0
      |    THEN CAST(cum_pos * tot_n AS DOUBLE) /
      |      CAST(cum_n * tot_pos AS DOUBLE)
      |  END AS lift
      |FROM c ORDER BY b""".stripMargin

  /** AUC with its exact DeLong standard error
    * ([[graft.analytics.Eval.aucDeLong]]): placement sums and both
    * sums of squares exact DECIMAL(38) under the hash, SE one
    * fixed-order expression. The oracle rebuilds both class cumulatives
    * on the naive global window.
    */
  private def aucDelongQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.aucDeLong(
      Tables.events(s, dir),
      round(col("value") * 100, 0).cast("long"),
      col("event_type") === "purchase")

  private val aucDelongOracle =
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |pv AS (
      |  SELECT s, CAST(sum(y) AS BIGINT) AS p,
      |    CAST(count(*) - sum(y) AS BIGINT) AS n
      |  FROM e GROUP BY s),
      |t AS (
      |  SELECT CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg
      |  FROM pv),
      |c AS (
      |  SELECT p, n,
      |    CAST(coalesce(sum(n) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT)
      |      AS nb,
      |    CAST(coalesce(sum(p) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT)
      |      AS pb
      |  FROM pv),
      |w AS (
      |  SELECT p, n, 2 * nb + CAST(n AS HUGEINT) AS w10,
      |    2 * (CAST(n_pos AS HUGEINT) - pb - CAST(p AS HUGEINT))
      |      + CAST(p AS HUGEINT) AS w01
      |  FROM c, t),
      |a AS (
      |  SELECT
      |    CAST(sum(CAST(p AS HUGEINT) * w10) AS DECIMAL(38,0)) AS two_u,
      |    CAST(sum(CAST(p AS HUGEINT) * w10 * w10) AS DECIMAL(38,0)) AS sum10,
      |    CAST(sum(CAST(n AS HUGEINT) * w01) AS DECIMAL(38,0)) AS two_u01,
      |    CAST(sum(CAST(n AS HUGEINT) * w01 * w01) AS DECIMAL(38,0)) AS sum01
      |  FROM w)
      |SELECT n_pos, n_neg, CAST(two_u AS VARCHAR) AS two_u,
      |  CAST(two_u01 AS VARCHAR) AS two_u01,
      |  CAST(CAST(n_pos AS HUGEINT) * CAST(sum10 AS HUGEINT)
      |    - CAST(two_u AS HUGEINT) * CAST(two_u AS HUGEINT)
      |    AS VARCHAR) AS d10,
      |  CAST(CAST(n_neg AS HUGEINT) * CAST(sum01 AS HUGEINT)
      |    - CAST(two_u01 AS HUGEINT) * CAST(two_u01 AS HUGEINT)
      |    AS VARCHAR) AS d01,
      |  CASE WHEN n_pos > 0 AND n_neg > 0
      |    THEN CAST(two_u AS DOUBLE) /
      |      (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
      |  END AS auc,
      |  CASE WHEN n_pos > 1 AND n_neg > 1
      |    THEN sqrt((CAST(CAST(n_pos AS HUGEINT) * CAST(sum10 AS HUGEINT)
      |        - CAST(two_u AS HUGEINT) * CAST(two_u AS HUGEINT) AS DOUBLE)
      |        / CAST(n_pos - 1 AS DOUBLE)
      |      + CAST(CAST(n_neg AS HUGEINT) * CAST(sum01 AS HUGEINT)
      |        - CAST(two_u01 AS HUGEINT) * CAST(two_u01 AS HUGEINT) AS DOUBLE)
      |        / CAST(n_neg - 1 AS DOUBLE)) /
      |      (4.0 * CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE)
      |        * CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE)))
      |  END AS se_delong
      |FROM a CROSS JOIN t""".stripMargin

  /** Histogram-intersection overlap between the click and view value
    * distributions: Σ min(p_i, q_i) over width-100-cent bins as the
    * EXACT cross-multiplied integer Σ min(c1_i·n2, c2_i·n1) over
    * n1·n2 — the transcendental-free distribution-overlap drift metric
    * (KL/Bhattacharyya need logs/sqrts of ratios; this one
    * hash-verifies). One bin aggregate + one metadata full join.
    */
  private def histOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(expr("CAST(round(value * 100) AS BIGINT) div 100").as("bin"),
        (col("event_type") === "click").cast("long").as("a"),
        (col("event_type") === "view").cast("long").as("b"))
    val bins = ev.groupBy(col("bin"))
      .agg(sum(col("a")).as("c1"), sum(col("b")).as("c2"))
    val tot = broadcast(bins.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2")))
    bins.crossJoin(tot)
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(least(col("c1") * col("n2"), col("c2") * col("n1")))
          .cast("decimal(38,0)").as("overlap_num"))
      .withColumn("overlap",
        when(col("n1") > 0 && col("n2") > 0,
          col("overlap_num").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double"))))
      .withColumn("overlap_num", col("overlap_num").cast("string"))
  }

  private val histOverlapOracle =
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) // 100 AS bin,
      |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
      |  FROM events WHERE event_type IN ('click', 'view')),
      |bins AS (
      |  SELECT bin, CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
      |  FROM e GROUP BY bin),
      |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      |  FROM bins),
      |a AS (
      |  SELECT max(n1) AS n1, max(n2) AS n2,
      |    CAST(sum(least(CAST(c1 AS HUGEINT) * CAST(n2 AS HUGEINT),
      |      CAST(c2 AS HUGEINT) * CAST(n1 AS HUGEINT))) AS DECIMAL(38,0))
      |      AS overlap_num
      |  FROM bins CROSS JOIN t)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(overlap_num AS VARCHAR) AS overlap_num,
      |  CASE WHEN n1 > 0 AND n2 > 0
      |    THEN CAST(overlap_num AS DOUBLE) /
      |      (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      |  END AS overlap
      |FROM a""".stripMargin

  /** McNemar's paired test between two deterministic classifiers on the
    * SAME rows — the right comparison when model A and model B are
    * evaluated on one test set (independent-proportion tests overstate
    * significance on paired data): discordant counts b (A right, B
    * wrong) and c (A wrong, B right) exact, χ² = (b−c)²/(b+c) one gated
    * division of exact longs. One map-combined aggregate.
    */
  private def mcnemarQ(s: SparkSession, dir: String): DataFrame = {
    val y = col("event_type") === "purchase"
    val predA = col("value") >= 100
    val predB = col("value") >= 120
    Tables.events(s, dir)
      .select((predA === y).cast("long").as("ra"),
        (predB === y).cast("long").as("rb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ra") === 1 && col("rb") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("ra") === 0 && col("rb") === 1, 1L).otherwise(0L)).as("c"))
      .withColumn("chi2",
        when(col("b") + col("c") > 0,
          ((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
            (col("b") + col("c")).cast("double")))
  }

  private val mcnemarOracle =
    """WITH p AS (
      |  SELECT
      |    CASE WHEN (value >= 100) = (event_type = 'purchase') THEN 1 ELSE 0
      |      END AS ra,
      |    CASE WHEN (value >= 120) = (event_type = 'purchase') THEN 1 ELSE 0
      |      END AS rb
      |  FROM events),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS b,
      |    CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c
      |  FROM p)
      |SELECT n, b, c,
      |  CASE WHEN b + c > 0
      |    THEN CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)
      |  END AS chi2
      |FROM a""".stripMargin

  /** Cohen's κ between the value-threshold classifier and the true
    * event type — chance-corrected agreement, computed EXACTLY:
    * κ = (n·agree − Σ_k row_k·col_k) / (n² − Σ_k row_k·col_k), one
    * gated division of exact integers (po/pe never materialize as
    * floats). Confusion marginals are class²-bounded.
    */
  private def cohensKappaQ(s: SparkSession, dir: String): DataFrame = {
    val pred = when(col("value") >= 300, "error")
      .when(col("value") >= 200, "click")
      .when(col("value") >= 100, "purchase")
      .when(col("value") >= 50, "view")
      .otherwise("signup")
    val cm = Tables.events(s, dir)
      .groupBy(col("event_type").as("truth"), pred.as("pred"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = cm.groupBy(col("truth").as("k")).agg(sum(col("c")).as("rk"))
    val cols = cm.groupBy(col("pred").as("k")).agg(sum(col("c")).as("ck"))
    val pe = rows.join(cols, Seq("k"), "inner")
      .agg(sum(col("rk") * col("ck")).cast("decimal(38,0)").as("pe_num"))
    val po = cm.agg(sum(col("c")).as("n"),
      sum(when(col("truth") === col("pred"), col("c")).otherwise(0L)).as("agree"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    po.crossJoin(broadcast(pe))
      .select(col("n"), col("agree"), col("pe_num").cast("string").as("pe_num"),
        when(dec(col("n")) * dec(col("n")) - col("pe_num") > 0,
          (dec(col("n")) * dec(col("agree")) - col("pe_num")).cast("double") /
            (dec(col("n")) * dec(col("n")) - col("pe_num")).cast("double"))
          .as("kappa"))
  }

  private val cohensKappaOracle =
    """WITH p AS (
      |  SELECT event_type AS truth,
      |    CASE WHEN value >= 300 THEN 'error' WHEN value >= 200 THEN 'click'
      |         WHEN value >= 100 THEN 'purchase' WHEN value >= 50 THEN 'view'
      |         ELSE 'signup' END AS pred
      |  FROM events),
      |cm AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS c
      |  FROM p GROUP BY truth, pred),
      |r AS (SELECT truth AS k, CAST(sum(c) AS BIGINT) AS rk FROM cm GROUP BY truth),
      |cc AS (SELECT pred AS k, CAST(sum(c) AS BIGINT) AS ck FROM cm GROUP BY pred),
      |pe AS (
      |  SELECT CAST(sum(CAST(rk AS HUGEINT) * CAST(ck AS HUGEINT))
      |    AS DECIMAL(38,0)) AS pe_num
      |  FROM r JOIN cc ON cc.k = r.k),
      |po AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN truth = pred THEN c ELSE 0 END) AS BIGINT) AS agree
      |  FROM cm)
      |SELECT n, agree, CAST(pe_num AS VARCHAR) AS pe_num,
      |  CASE WHEN CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
      |      - CAST(pe_num AS HUGEINT) > 0
      |    THEN CAST(CAST(n AS HUGEINT) * CAST(agree AS HUGEINT)
      |        - CAST(pe_num AS HUGEINT) AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)
      |        - CAST(pe_num AS HUGEINT) AS DOUBLE)
      |  END AS kappa
      |FROM po CROSS JOIN pe""".stripMargin

  /** Binary diagnostics of the value-threshold purchase classifier
    * ([[graft.analytics.Eval.binaryDiagnostics]]): exact confusion cells
    * plus MCC / balanced accuracy / Youden's J, each ONE fixed-order
    * expression over the four counts (MCC products in DECIMAL(38)
    * internally).
    */
  private def mccQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.binaryDiagnostics(
      Tables.events(s, dir),
      col("event_type") === "purchase",
      col("value") >= 100)

  private val mccOracle =
    """WITH p AS (
      |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
      |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS pr
      |  FROM events),
      |a AS (
      |  SELECT CAST(sum(y * pr) AS BIGINT) AS tp,
      |    CAST(sum((1 - y) * pr) AS BIGINT) AS fp,
      |    CAST(sum(y * (1 - pr)) AS BIGINT) AS fn,
      |    CAST(sum((1 - y) * (1 - pr)) AS BIGINT) AS tn
      |  FROM p)
      |SELECT tp, fp, fn, tn,
      |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
      |    THEN CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
      |        - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT) AS DOUBLE) /
      |      sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
      |        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
      |  END AS mcc,
      |  CASE WHEN tp + fn > 0 AND tn + fp > 0
      |    THEN (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
      |        + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) / 2.0
      |  END AS balanced_acc,
      |  CASE WHEN tp + fn > 0 AND tn + fp > 0
      |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
      |      + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) - 1.0
      |  END AS youden_j
      |FROM a""".stripMargin

  /** Expected calibration error ([[graft.analytics.Eval
    * .expectedCalibrationError]]) of the brier query's pseudo-probability:
    * the per-bin weights telescope, so the whole statistic is the exact
    * BIGINT numerator Σ_b |1000·Σy_b − Σp_b| and ONE division.
    */
  private def eceQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.expectedCalibrationError(
      Tables.events(s, dir),
      least(lit(1000L), round(col("value") * 3, 0).cast("long")),
      col("event_type") === "purchase")

  private val eceOracle =
    """WITH b AS (
      |  SELECT least(CAST(round(value * 3) AS BIGINT), 1000) AS p,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |g AS (
      |  SELECT greatest(0, least(p // 100, 9)) AS bin,
      |    CAST(count(*) AS BIGINT) AS n_b,
      |    CAST(sum(y) AS BIGINT) AS sum_y, CAST(sum(p) AS BIGINT) AS sum_p
      |  FROM b GROUP BY 1),
      |a AS (
      |  SELECT CAST(sum(n_b) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_bins_used,
      |    CAST(sum(abs(sum_y * 1000 - sum_p)) AS BIGINT) AS ece_num
      |  FROM g)
      |SELECT n, n_bins_used, ece_num,
      |  CASE WHEN n > 0
      |    THEN CAST(ece_num AS DOUBLE) / CAST(n * 1000 AS DOUBLE)
      |  END AS ece
      |FROM a""".stripMargin

  /** Average precision ([[graft.analytics.Eval.averagePrecision]]) of the
    * cent-scaled value against the purchase label — the PR-AUC summary on
    * the 2³⁰ precision grid; the oracle is the naive global desc-cumulative
    * over distinct scores, so equality proves the bucketed two-level plan
    * AND the order-free grid fold.
    */
  private def avgPrecisionQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.averagePrecision(
      Tables.events(s, dir),
      round(col("value") * 100, 0).cast("long"),
      col("event_type") === "purchase")

  private val avgPrecisionOracle =
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |pv AS (
      |  SELECT s, CAST(sum(y) AS BIGINT) AS p,
      |    CAST(count(*) - sum(y) AS BIGINT) AS n
      |  FROM e GROUP BY s),
      |c AS (
      |  SELECT s, p, n,
      |    CAST(sum(p) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS tp_cum,
      |    CAST(sum(n) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS fp_cum
      |  FROM pv),
      |g AS (
      |  SELECT p, CAST(round(CAST(1073741824 AS DOUBLE)
      |    * CAST(tp_cum AS DOUBLE) / CAST(tp_cum + fp_cum AS DOUBLE))
      |    AS BIGINT) AS prec_grid
      |  FROM c),
      |t AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
      |  CAST(sum(n) AS BIGINT) AS n_neg FROM pv),
      |a AS (SELECT CAST(sum(CAST(p AS HUGEINT) * prec_grid)
      |  AS DECIMAL(38,0)) AS ap_num FROM g)
      |SELECT n_pos, n_neg, CAST(ap_num AS VARCHAR) AS ap_num,
      |  CASE WHEN n_pos > 0
      |    THEN CAST(ap_num AS DOUBLE) /
      |      (CAST(1073741824 AS DOUBLE) * CAST(n_pos AS DOUBLE))
      |  END AS average_precision
      |FROM a, t""".stripMargin

  /** Split-conformal calibration at α = 0.1: the calibration half's
    * nonconformity threshold is the EXACT ⌈(n_cal+1)·0.9⌉-th order
    * statistic ([[graft.analytics.Quantiles.exactOrderStatistic]] — the
    * two-pass histogram selection, no global sort), and the held-out
    * half's empirical coverage at that threshold is exact counts + one
    * division. The finite-sample marginal guarantee (coverage ≥ 0.9 in
    * expectation) is what the emitted pair (threshold, coverage) audits;
    * the oracle is the naive global row_number selection.
    */
  private def conformalQ(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.events(s, dir)
      .select(col("event_id"), round(col("value") * 100, 0).cast("long").as("cents"))
    val cal = scored.filter(col("event_id") % 2 === 0)
    val test = scored.filter(col("event_id") % 2 =!= 0)
    val thr = graft.analytics.Quantiles.exactOrderStatistic(
        cal, "cents", n => expr("((n + 1) * 9 + 9) div 10"),
        bucketWidth = 1000L)
      .select(col("n").as("n_cal"), col("k"),
        col("value_cents").as("threshold_cents"))
    test.crossJoin(broadcast(thr))
      .agg(
        max(col("n_cal")).as("n_cal"), max(col("k")).as("k"),
        max(col("threshold_cents")).as("threshold_cents"),
        count(lit(1)).as("n_test"),
        sum(when(col("cents") <= col("threshold_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage",
        when(col("n_test") > 0,
          col("n_covered").cast("double") / col("n_test").cast("double")))
  }

  private val conformalOracle =
    """WITH sc AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |cal AS (SELECT cents FROM sc WHERE event_id % 2 = 0),
      |tst AS (SELECT cents FROM sc WHERE event_id % 2 <> 0),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
      |kk AS (SELECT n_cal, CAST(((n_cal + 1) * 9 + 9) // 10 AS BIGINT) AS k
      |  FROM nn),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM cal),
      |th AS (SELECT kk.n_cal, kk.k, r.cents AS threshold_cents
      |  FROM kk JOIN r ON r.rn = kk.k)
      |SELECT th.n_cal, th.k, th.threshold_cents,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN tst.cents <= th.threshold_cents THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_covered,
      |  CASE WHEN count(*) > 0
      |    THEN CAST(sum(CASE WHEN tst.cents <= th.threshold_cents
      |        THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |  END AS coverage
      |FROM tst CROSS JOIN th
      |GROUP BY th.n_cal, th.k, th.threshold_cents""".stripMargin

  /** Fleiss' κ across three deterministic raters (value-threshold
    * classifiers at different operating points) — chance-corrected
    * agreement for MORE than two raters, the annotation-quality gate of
    * labeling pipelines (Cohen's κ only compares a pair). Per-item
    * agreement Σ_c n_ic(n_ic−1) needs NO per-item grouping — the three
    * ratings are columns, so the per-class counts are when-sums in one
    * projection — and both κ components reduce to exact integers:
    * P̄o = A / (N·k·(k−1)) with A = Σ_i Σ_c n_ic(n_ic−1), and
    * P̄e = B / (N·k)² with B = Σ_c (Σ_i n_ic)². κ is assembled
    * cross-multiplied in DECIMAL(38) — one final division, no mean ever
    * materializes as a float. One map-combined aggregate, zero joins.
    */
  private def fleissKappaQ(s: SparkSession, dir: String): DataFrame = {
    def rate(thr: Double) = when(col("value") >= thr, lit(1L)).otherwise(lit(0L))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val k = 3L
    val rated = Tables.events(s, dir)
      .select(rate(90).as("r1"), rate(100).as("r2"), rate(110).as("r3"))
      .select((col("r1") + col("r2") + col("r3")).as("n_pos"))
      .select(col("n_pos"), (lit(k) - col("n_pos")).as("n_neg"))
    rated
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_pos") * (col("n_pos") - 1) + col("n_neg") * (col("n_neg") - 1))
          .as("agree_num"),
        sum(col("n_pos")).as("tot_pos"),
        sum(col("n_neg")).as("tot_neg"))
      .select(col("n_items"), col("agree_num"), col("tot_pos"), col("tot_neg"),
        when(col("n_items") > 0, {
          val nk = dec(col("n_items")) * lit(k)
          val a = dec(col("agree_num"))
          val b = dec(col("tot_pos")) * dec(col("tot_pos")) +
            dec(col("tot_neg")) * dec(col("tot_neg"))
          val kk1 = dec(col("n_items")) * lit(k * (k - 1))
          ((a * nk * nk - b * kk1).cast("double") /
            (kk1 * (nk * nk - b)).cast("double"))
        }).as("fleiss_kappa"))
  }

  private val fleissKappaOracle =
    """WITH r AS (
      |  SELECT (CASE WHEN value >= 90 THEN 1 ELSE 0 END
      |    + CASE WHEN value >= 100 THEN 1 ELSE 0 END
      |    + CASE WHEN value >= 110 THEN 1 ELSE 0 END) AS n_pos
      |  FROM events),
      |b AS (SELECT n_pos, 3 - n_pos AS n_neg FROM r),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(sum(n_pos * (n_pos - 1) + n_neg * (n_neg - 1)) AS BIGINT)
      |      AS agree_num,
      |    CAST(sum(n_pos) AS BIGINT) AS tot_pos,
      |    CAST(sum(n_neg) AS BIGINT) AS tot_neg
      |  FROM b)
      |SELECT n_items, agree_num, tot_pos, tot_neg,
      |  CASE WHEN n_items > 0 THEN
      |    CAST(CAST(agree_num AS HUGEINT) * (n_items * 3) * (n_items * 3)
      |      - (CAST(tot_pos AS HUGEINT) * tot_pos
      |         + CAST(tot_neg AS HUGEINT) * tot_neg) * (n_items * 6)
      |      AS DOUBLE) /
      |    CAST(CAST(n_items AS HUGEINT) * 6 *
      |      (CAST(n_items AS HUGEINT) * 3 * (n_items * 3)
      |       - (CAST(tot_pos AS HUGEINT) * tot_pos
      |          + CAST(tot_neg AS HUGEINT) * tot_neg))
      |      AS DOUBLE)
      |  END AS fleiss_kappa
      |FROM a""".stripMargin

  /** Cramér's V between the event type and the value band — the
    * normalized-association companion of the χ² drift test (χ² says
    * "dependent", V says "how strongly" on a 0..1 scale comparable across
    * table shapes). Per-cell χ² terms are exact cross-multiplied integers
    * ((O·n − r·c)² over n·r·c, DECIMAL(38) internals; the expected count
    * never materializes as a float), and the fold over cells rides an
    * ORDERED cumulative window on the class²-bounded cell frame — a fixed
    * summation order both engines replay, so the double is hash-stable
    * (terms are non-negative, so the cumulative's max IS the total).
    */
  private def cramersVQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val band = when(col("value") >= 300, "error")
      .when(col("value") >= 200, "click")
      .when(col("value") >= 100, "purchase")
      .when(col("value") >= 50, "view")
      .otherwise("signup")
    val cm = Tables.events(s, dir)
      .groupBy(col("event_type").as("truth"), band.as("pred"))
      .agg(count(lit(1)).as("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rT = cm.groupBy(col("truth")).agg(sum(col("o")).as("r"))
    val cT = cm.groupBy(col("pred")).agg(sum(col("o")).as("c"))
    val tot = cm.agg(sum(col("o")).as("n"),
      countDistinct(col("truth")).as("nr"), countDistinct(col("pred")).as("nc"))
    val cells = cm
      .join(broadcast(rT), Seq("truth"))
      .join(broadcast(cT), Seq("pred"))
      .crossJoin(broadcast(tot))
    val num = dec(col("o")) * dec(col("n")) - dec(col("r")) * dec(col("c"))
    val den = dec(col("n")) * dec(col("r")) * dec(col("c"))
    val term = (num.cast("double") * num.cast("double")) / den.cast("double")
    val w = Window.orderBy(col("truth"), col("pred"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("__cum", sum(term).over(w))
      .agg(max(col("n")).as("n"), max(col("nr")).as("n_rows_cls"),
        max(col("nc")).as("n_cols_cls"), max(col("__cum")).as("chi2"))
      .withColumn("cramers_v",
        when(col("n") > 0 && least(col("n_rows_cls"), col("n_cols_cls")) > 1,
          sqrt(col("chi2") / (col("n").cast("double") *
            (least(col("n_rows_cls"), col("n_cols_cls")) - 1).cast("double")))))
  }

  private val cramersVOracle =
    """WITH p AS (
      |  SELECT event_type AS truth,
      |    CASE WHEN value >= 300 THEN 'error' WHEN value >= 200 THEN 'click'
      |         WHEN value >= 100 THEN 'purchase' WHEN value >= 50 THEN 'view'
      |         ELSE 'signup' END AS pred
      |  FROM events),
      |cm AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS o
      |  FROM p GROUP BY truth, pred),
      |rt AS (SELECT truth, CAST(sum(o) AS BIGINT) AS r FROM cm GROUP BY truth),
      |ct AS (SELECT pred, CAST(sum(o) AS BIGINT) AS c FROM cm GROUP BY pred),
      |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |  CAST(count(DISTINCT truth) AS BIGINT) AS nr,
      |  CAST(count(DISTINCT pred) AS BIGINT) AS nc FROM cm),
      |cells AS (
      |  SELECT cm.truth, cm.pred, cm.o, rt.r, ct.c, tt.n, tt.nr, tt.nc,
      |    CAST(CAST(cm.o AS HUGEINT) * tt.n - CAST(rt.r AS HUGEINT) * ct.c
      |      AS DECIMAL(38,0)) AS num,
      |    CAST(CAST(tt.n AS HUGEINT) * rt.r * ct.c AS DECIMAL(38,0)) AS den
      |  FROM cm JOIN rt USING (truth) JOIN ct USING (pred) CROSS JOIN tt),
      |cum AS (
      |  SELECT n, nr, nc,
      |    sum((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
      |        / CAST(den AS DOUBLE))
      |      OVER (ORDER BY truth, pred
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cchi
      |  FROM cells)
      |SELECT max(n) AS n, max(nr) AS n_rows_cls, max(nc) AS n_cols_cls,
      |  max(cchi) AS chi2,
      |  CASE WHEN max(n) > 0 AND least(max(nr), max(nc)) > 1
      |    THEN sqrt(max(cchi) / (CAST(max(n) AS DOUBLE)
      |      * CAST(least(max(nr), max(nc)) - 1 AS DOUBLE)))
      |  END AS cramers_v
      |FROM cum""".stripMargin

  /** Confident-learning label-error audit
    * ([[graft.analytics.Eval.confidentLabelErrors]]) of the purchase flag
    * against the brier pseudo-confidence: exact cross-multiplied
    * threshold comparisons, suspect counts under the hash.
    */
  private def labelErrorsQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.confidentLabelErrors(
      Tables.events(s, dir),
      least(lit(1000L), round(col("value") * 3, 0).cast("long")),
      col("event_type") === "purchase")

  private val labelErrorsOracle =
    """WITH b AS (
      |  SELECT least(CAST(round(value * 3) AS BIGINT), 1000) AS p,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events),
      |t AS (
      |  SELECT CAST(sum(y) AS BIGINT) AS n1,
      |    CAST(count(*) - sum(y) AS BIGINT) AS n0,
      |    CAST(sum(y * p) AS BIGINT) AS sum_p1,
      |    CAST(sum((1 - y) * (1000 - p)) AS BIGINT) AS sum_q0
      |  FROM b),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    max(n1) AS n1, max(n0) AS n0,
      |    max(sum_p1) AS sum_p1, max(sum_q0) AS sum_q0,
      |    CAST(sum(CASE WHEN y = 0 AND n1 > 0 AND p * n1 >= sum_p1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c01,
      |    CAST(sum(CASE WHEN y = 1 AND n0 > 0 AND (1000 - p) * n0 >= sum_q0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c10
      |  FROM b CROSS JOIN t)
      |SELECT n, n1, n0, sum_p1, sum_q0, c01, c10,
      |  CASE WHEN n > 0
      |    THEN CAST(c01 + c10 AS DOUBLE) / CAST(n AS DOUBLE)
      |  END AS suspect_rate
      |FROM a""".stripMargin

  /** Cohen's d of cent-scaled event value, purchase vs rest
    * ([[graft.analytics.Eval.cohensD]]): the effect size behind the A/B
    * z-test — exact group moments, pooled SD one fixed-order expression.
    */
  private def cohensDQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Eval.cohensD(
      Tables.events(s, dir),
      round(col("value") * 100, 0).cast("long"),
      col("event_type") === "purchase")

  private val cohensDOracle =
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS x,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t
      |  FROM events),
      |a AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n1,
      |    CAST(count(*) - sum(t) AS BIGINT) AS n0,
      |    CAST(sum(t * x) AS BIGINT) AS sum1,
      |    CAST(sum((1 - t) * x) AS BIGINT) AS sum0,
      |    CAST(sum(CAST(t AS HUGEINT) * x * x) AS DECIMAL(38,0)) AS ss1,
      |    CAST(sum(CAST(1 - t AS HUGEINT) * x * x) AS DECIMAL(38,0)) AS ss0
      |  FROM e),
      |s AS (
      |  SELECT *,
      |    CASE WHEN n1 > 1 AND n0 > 1 THEN
      |      sqrt((CAST(CAST(n1 AS HUGEINT) * CAST(ss1 AS HUGEINT)
      |          - CAST(sum1 AS HUGEINT) * CAST(sum1 AS HUGEINT) AS DOUBLE)
      |          / CAST(n1 AS DOUBLE)
      |        + CAST(CAST(n0 AS HUGEINT) * CAST(ss0 AS HUGEINT)
      |          - CAST(sum0 AS HUGEINT) * CAST(sum0 AS HUGEINT) AS DOUBLE)
      |          / CAST(n0 AS DOUBLE))
      |        / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 2.0))
      |    END AS sp
      |  FROM a)
      |SELECT n1, n0, sum1, sum0,
      |  CAST(ss1 AS VARCHAR) AS ss1, CAST(ss0 AS VARCHAR) AS ss0,
      |  CASE WHEN n1 > 1 AND n0 > 1 AND sp > 0.0
      |    THEN (CAST(sum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |        - CAST(sum0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / sp
      |  END AS d
      |FROM s""".stripMargin

  /** Lorenz curve of customer spend by exact decile — the distributional
    * companion of `q_gini_coefficient`: decile cuts from the two-pass
    * quantiles (no global ntile), per-decile and cumulative spend shares
    * as exact cross-multiplied longs, one division per emitted share.
    */
  private def lorenzQ(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val cuts = broadcast(graft.analytics.Quantiles.exactQuantilesTwoPass(
        spend.select(col("cents")), "cents", (1 to 9).map(_ * 100),
        bucketWidth = 100000L)
      .agg(sort_array(collect_list(col("value_cents"))).as("tarr")))
    val perD = spend.crossJoin(cuts)
      .select((size(filter(col("tarr"), t => t < col("cents"))) + 1)
        .cast("long").as("decile"), col("cents"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    perD
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .withColumn("tot_cents", sum(col("cents")).over(all))
      .select(col("decile"), col("n_customers"), col("cents"), col("cum_cents"),
        when(col("tot_cents") > 0,
          col("cum_cents").cast("double") / col("tot_cents").cast("double"))
          .as("cum_share"))
      .orderBy(col("decile"))
  }

  private val lorenzOracle =
    """WITH sp AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_custkey),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sp),
      |pp AS (SELECT unnest([100, 200, 300, 400, 500, 600, 700, 800, 900]) AS p),
      |kk AS (SELECT p, CAST((n * p + 999) // 1000 AS BIGINT) AS k FROM pp, nn),
      |tt AS (SELECT list(v ORDER BY v) AS tarr FROM (
      |  SELECT r.v FROM kk JOIN (
      |    SELECT cents AS v, row_number() OVER (ORDER BY cents) AS rn FROM sp) r
      |    ON r.rn = kk.k)),
      |pd AS (
      |  SELECT CAST(1 + len(list_filter(tarr, t -> t < cents)) AS BIGINT)
      |      AS decile,
      |    CAST(count(*) AS BIGINT) AS n_customers,
      |    CAST(sum(cents) AS BIGINT) AS cents
      |  FROM sp CROSS JOIN tt GROUP BY 1),
      |c AS (
      |  SELECT decile, n_customers, cents,
      |    CAST(sum(cents) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents,
      |    CAST(sum(cents) OVER () AS BIGINT) AS tot_cents
      |  FROM pd)
      |SELECT decile, n_customers, cents, cum_cents,
      |  CASE WHEN tot_cents > 0
      |    THEN CAST(cum_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)
      |  END AS cum_share
      |FROM c ORDER BY decile""".stripMargin

  /** Kruskal–Wallis H across the five event types on cent-scaled values
    * ([[graft.analytics.Hypothesis.kruskalWallis]]): tie-aware average
    * ranks carried as exact twice-ranks on the value-range-bounded
    * distinct-score frame (no global sort), H folded over the k-group
    * ordered frame, tie numerator Σ(t³−t) emitted as canonical string.
    */
  private def kruskalWallisQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.kruskalWallis(
      Tables.events(s, dir)
        .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("cents")),
      "event_type", "cents")

  private val kruskalWallisOracle =
    """WITH e AS (
      |  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |v AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY cents),
      |r AS (SELECT cents, cnt,
      |  2 * (sum(cnt) OVER (ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt) + cnt + 1
      |    AS trank
      |  FROM v),
      |ti AS (SELECT sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_dec FROM v),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
      |  sum(CAST(trank AS HUGEINT)) AS sr2
      |  FROM e JOIN r USING (cents) GROUP BY grp),
      |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
      |  FROM g),
      |c AS (SELECT n, k, tie_dec,
      |  sum((CAST(sr2 AS DOUBLE) * CAST(sr2 AS DOUBLE))
      |      / (CAST(4 AS DOUBLE) * CAST(n_i AS DOUBLE)))
      |    OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cum
      |  FROM g CROSS JOIN t CROSS JOIN ti),
      |f AS (SELECT max(n) AS n, max(k) AS k, max(tie_dec) AS tie_dec,
      |  max(cum) AS rterm,
      |  CAST(max(CAST(n AS HUGEINT) * n * n - n) AS DOUBLE) AS nden,
      |  CAST(max(tie_dec) AS DOUBLE) AS tie_d
      |  FROM c)
      |SELECT n, k, CAST(tie_dec AS VARCHAR) AS tie_num,
      |  CASE WHEN n > 1 AND k > 1 THEN
      |    CAST(12 AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
      |      + CAST(1 AS DOUBLE))) * rterm
      |      - CAST(3 AS DOUBLE) * (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))
      |  END AS h,
      |  CASE WHEN n > 1 AND k > 1
      |      AND (CAST(1 AS DOUBLE) - tie_d / nden) > CAST(0 AS DOUBLE) THEN
      |    (CAST(12 AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
      |      + CAST(1 AS DOUBLE))) * rterm
      |      - CAST(3 AS DOUBLE) * (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)))
      |    / (CAST(1 AS DOUBLE) - tie_d / nden)
      |  END AS h_tie
      |FROM f""".stripMargin

  /** One-way ANOVA F across the five event types on cent-scaled values
    * ([[graft.analytics.Hypothesis.anovaF]]) — the parametric companion of
    * the Kruskal–Wallis gate: exact per-group (n, Σx, Σx²) DECIMAL
    * internals, between/within SS from the k-group ordered fold, Σx/Σx²
    * emitted as canonical strings.
    */
  private def anovaFQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.anovaF(
      Tables.events(s, dir)
        .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("cents")),
      "event_type", "cents")

  private val anovaFOracle =
    """WITH e AS (
      |  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
      |  sum(CAST(cents AS HUGEINT)) AS s_i,
      |  sum(CAST(cents AS HUGEINT) * cents) AS q_i
      |  FROM e GROUP BY grp),
      |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |  sum(s_i) AS s_all, sum(q_i) AS q_all FROM g),
      |c AS (SELECT n, k, s_all, q_all,
      |  sum((CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)) / CAST(n_i AS DOUBLE))
      |    OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cum
      |  FROM g CROSS JOIN t),
      |f AS (SELECT max(n) AS n, max(k) AS k, max(s_all) AS s_all,
      |  max(q_all) AS q_all, max(cum) AS rterm FROM c),
      |x AS (SELECT n, k, s_all, q_all,
      |  rterm - (CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS ssb,
      |  CAST(q_all AS DOUBLE) - rterm AS ssw
      |  FROM f)
      |SELECT n, k, CAST(s_all AS VARCHAR) AS sum_cents,
      |  CAST(q_all AS VARCHAR) AS sumsq_cents, ssb, ssw,
      |  CASE WHEN k > 1 AND n > k AND ssw > CAST(0 AS DOUBLE) THEN
      |    (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))
      |  END AS f
      |FROM x""".stripMargin

  /** Mutual information between the event type and the value band
    * ([[graft.analytics.Hypothesis.mutualInformation]]) — the
    * feature-informativeness companion of Cramér's V on the SAME cell
    * frame: exact cell/marginal counts, floor-pico-nat-quantized ln
    * factors so all three folds are order-free exact integer sums,
    * normalized MI against the smaller marginal entropy.
    */
  private def mutualInfoQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.mutualInformation(
      Tables.events(s, dir),
      col("event_type"),
      when(col("value") >= 300, "error")
        .when(col("value") >= 200, "click")
        .when(col("value") >= 100, "purchase")
        .when(col("value") >= 50, "view")
        .otherwise("signup"))

  private val mutualInfoOracle =
    """WITH p AS (
      |  SELECT event_type AS a,
      |    CASE WHEN value >= 300 THEN 'error' WHEN value >= 200 THEN 'click'
      |         WHEN value >= 100 THEN 'purchase' WHEN value >= 50 THEN 'view'
      |         ELSE 'signup' END AS b
      |  FROM events),
      |cm AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM p GROUP BY a, b),
      |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cm GROUP BY a),
      |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cm GROUP BY b),
      |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cm),
      |mi AS (SELECT max(n) AS n,
      |  CASE WHEN max(n) > 0 THEN
      |    CAST(CAST(sum(CAST(o AS HUGEINT) *
      |      CAST(floor(ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
      |        / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))) * 1e12) AS BIGINT))
      |      AS BIGINT) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * 1e12)
      |  END AS mi_nats
      |  FROM cm JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tt),
      |ha AS (SELECT CASE WHEN max(n) > 0 THEN
      |  CAST(0 AS DOUBLE) - CAST(CAST(sum(CAST(r AS HUGEINT) *
      |    CAST(floor(ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) * 1e12)
      |      AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / (CAST(max(n) AS DOUBLE) * 1e12)
      |  END AS h
      |  FROM rt CROSS JOIN tt),
      |hb AS (SELECT CASE WHEN max(n) > 0 THEN
      |  CAST(0 AS DOUBLE) - CAST(CAST(sum(CAST(c AS HUGEINT) *
      |    CAST(floor(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e12)
      |      AS BIGINT)) AS BIGINT) AS DOUBLE)
      |    / (CAST(max(n) AS DOUBLE) * 1e12)
      |  END AS h
      |  FROM ct CROSS JOIN tt),
      |f AS (SELECT (SELECT n FROM mi) AS n,
      |  (SELECT mi_nats FROM mi) AS mi_nats,
      |  (SELECT h FROM ha) AS h_a,
      |  (SELECT h FROM hb) AS h_b)
      |SELECT n, mi_nats, h_a, h_b,
      |  CASE WHEN least(h_a, h_b) > CAST(0 AS DOUBLE)
      |    THEN mi_nats / least(h_a, h_b) END AS nmi
      |FROM f""".stripMargin

  /** Value-at-risk and expected shortfall (CVaR) of cent-scaled event
    * values at the 95% level: VaR is the EXACT ⌈0.95n⌉-th order statistic
    * via [[graft.analytics.Quantiles.exactOrderStatistic]] (two-pass
    * bounded histogram, no global sort), ES is the exact upper-tail
    * mean (BIGINT tail sum + one division). The oracle is the naive
    * global row_number selection.
    */
  private def cvarQ(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.events(s, dir)
      .select(round(col("value") * 100, 0).cast("long").as("cents"))
    val thr = graft.analytics.Quantiles.exactOrderStatistic(
        scored, "cents", n => expr("(n * 95 + 99) div 100"), bucketWidth = 1000L)
      .select(col("n"), col("k"), col("value_cents").as("var_cents"))
    scored.crossJoin(broadcast(thr))
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        max(col("var_cents")).as("var_cents"),
        sum(when(col("cents") >= col("var_cents"), 1L).otherwise(0L)).as("tail_n"),
        sum(when(col("cents") >= col("var_cents"), col("cents")).otherwise(0L))
          .as("tail_sum"))
      .withColumn("es", when(col("tail_n") > 0,
        col("tail_sum").cast("double") / col("tail_n").cast("double")))
  }

  private val cvarOracle =
    """WITH sc AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
      |kk AS (SELECT n, CAST((n * 95 + 99) // 100 AS BIGINT) AS k FROM nn),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM sc),
      |th AS (SELECT kk.n, kk.k, r.cents AS var_cents
      |  FROM kk JOIN r ON r.rn = kk.k),
      |ag AS (SELECT th.n, th.k, th.var_cents,
      |  CAST(sum(CASE WHEN sc.cents >= th.var_cents THEN 1 ELSE 0 END)
      |    AS BIGINT) AS tail_n,
      |  CAST(sum(CASE WHEN sc.cents >= th.var_cents THEN sc.cents ELSE 0 END)
      |    AS BIGINT) AS tail_sum
      |  FROM sc CROSS JOIN th GROUP BY th.n, th.k, th.var_cents)
      |SELECT n, k, var_cents, tail_n, tail_sum,
      |  CASE WHEN tail_n > 0
      |    THEN CAST(tail_sum AS DOUBLE) / CAST(tail_n AS DOUBLE)
      |  END AS es
      |FROM ag""".stripMargin

  /** First-order partial correlation of line-item quantity and extended
    * price with the discount regressed out
    * ([[graft.analytics.Correlation.partialCorrelation]]): ten exact
    * DECIMAL(38,0) moment sums in one aggregate; every r and the partial
    * itself are single fixed-operand-order IEEE expressions over them.
    */
  private def partialCorrQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Correlation.partialCorrelation(
      Tables.lineitem(s, dir),
      round(col("l_quantity") * 100, 0),
      round(col("l_extendedprice") * 100, 0),
      round(col("l_discount") * 100, 0))

  private val partialCorrOracle =
    """WITH e AS (
      |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
      |    CAST(round(l_discount * 100) AS BIGINT) AS z
      |  FROM lineitem),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |  sum(CAST(z AS HUGEINT)) AS sz,
      |  sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
      |  sum(CAST(z AS HUGEINT) * z) AS szz,
      |  sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * z) AS sxz,
      |  sum(CAST(y AS HUGEINT) * z) AS syz
      |  FROM e),
      |r AS (SELECT n,
      |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > CAST(0 AS DOUBLE)
      |      AND CAST(n * syy - sy * sy AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * syy - sy * sy AS DOUBLE))
      |  END AS r_xy,
      |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > CAST(0 AS DOUBLE)
      |      AND CAST(n * szz - sz * sz AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(n * sxz - sx * sz AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * szz - sz * sz AS DOUBLE))
      |  END AS r_xz,
      |  CASE WHEN CAST(n * syy - sy * sy AS DOUBLE) > CAST(0 AS DOUBLE)
      |      AND CAST(n * szz - sz * sz AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(n * syz - sy * sz AS DOUBLE)
      |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
      |        * CAST(n * szz - sz * sz AS DOUBLE))
      |  END AS r_yz
      |  FROM a)
      |SELECT n, r_xy, r_xz, r_yz,
      |  CASE WHEN r_xy IS NOT NULL AND r_xz IS NOT NULL AND r_yz IS NOT NULL
      |      AND (CAST(1 AS DOUBLE) - r_xz * r_xz)
      |        * (CAST(1 AS DOUBLE) - r_yz * r_yz) > CAST(0 AS DOUBLE) THEN
      |    (r_xy - r_xz * r_yz)
      |      / sqrt((CAST(1 AS DOUBLE) - r_xz * r_xz)
      |        * (CAST(1 AS DOUBLE) - r_yz * r_yz))
      |  END AS r_partial
      |FROM r""".stripMargin

  /** Jensen–Shannon divergence between even- and odd-user event-value
    * distributions ([[graft.analytics.Drift.jensenShannon]]): exact bucket
    * counts, two ordered folds over the 10-bucket frame, jsd in nats and
    * bits (÷ ln 2 computed per engine, never a decimal literal).
    */
  private def jensenShannonQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.jensenShannon(
      Tables.events(s, dir)
        .select(round(col("value") * 100, 0).cast("long").as("cents"),
          col("user_id")),
      "cents", col("user_id") % 2 === 0, bucketWidth = 5000L, nBuckets = 10)

  private val jensenShannonOracle =
    """WITH b AS (
      |  SELECT least(greatest(CAST(round(value * 100) AS BIGINT) // 5000, 0), 9)
      |      AS bucket,
      |    user_id % 2 = 0 AS a
      |  FROM events),
      |c AS (SELECT bucket,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM b GROUP BY bucket),
      |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
      |  FROM c),
      |d AS (SELECT bucket, n_a, n_b, ta, tb,
      |  CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
      |  CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS q
      |  FROM c CROSS JOIN t),
      |s AS (SELECT max(ta) AS n_a, max(tb) AS n_b,
      |  sum(CASE WHEN n_a > 0 THEN CAST(n_a AS HUGEINT) *
      |      CAST(floor(ln(p / ((p + q) / CAST(2 AS DOUBLE))) * 1e12) AS BIGINT)
      |    ELSE CAST(0 AS HUGEINT) END) AS qa,
      |  sum(CASE WHEN n_b > 0 THEN CAST(n_b AS HUGEINT) *
      |      CAST(floor(ln(q / ((p + q) / CAST(2 AS DOUBLE))) * 1e12) AS BIGINT)
      |    ELSE CAST(0 AS HUGEINT) END) AS qb
      |  FROM d),
      |f AS (SELECT n_a, n_b,
      |  CASE WHEN n_a > 0 THEN
      |    CAST(CAST(qa AS BIGINT) AS DOUBLE)
      |      / (CAST(n_a AS DOUBLE) * 1e12) END AS kl_a,
      |  CASE WHEN n_b > 0 THEN
      |    CAST(CAST(qb AS BIGINT) AS DOUBLE)
      |      / (CAST(n_b AS DOUBLE) * 1e12) END AS kl_b
      |  FROM s)
      |SELECT n_a, n_b, kl_a, kl_b,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(0.5 AS DOUBLE) * kl_a + CAST(0.5 AS DOUBLE) * kl_b
      |  END AS jsd_nats,
      |  (CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(0.5 AS DOUBLE) * kl_a + CAST(0.5 AS DOUBLE) * kl_b
      |  END) / ln(CAST(2 AS DOUBLE)) AS jsd_bits
      |FROM f""".stripMargin

  /** Welch's unequal-variance t between purchase and view event values
    * ([[graft.analytics.Hypothesis.welchT]]): one conditional aggregate,
    * exact DECIMAL moments, t and the Welch–Satterthwaite df as
    * fixed-order expressions over them.
    */
  private def welchTQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.welchT(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("is_a"),
          round(col("value") * 100, 0).cast("long").as("cents")),
      col("is_a"), "cents")

  private val welchTOracle =
    """WITH e AS (
      |  SELECT event_type = 'purchase' AS a,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |g AS (SELECT
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  sum(CASE WHEN a THEN CAST(c AS HUGEINT) ELSE 0 END) AS s_a,
      |  sum(CASE WHEN a THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
      |  sum(CASE WHEN a THEN 0 ELSE CAST(c AS HUGEINT) END) AS s_b,
      |  sum(CASE WHEN a THEN 0 ELSE CAST(c AS HUGEINT) * c END) AS q_b
      |  FROM e),
      |v AS (SELECT n_a, n_b,
      |  CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
      |  CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
      |  CAST(n_a * q_a - s_a * s_a AS DOUBLE)
      |    / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) AS va,
      |  CAST(n_b * q_b - s_b * s_b AS DOUBLE)
      |    / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) AS vb
      |  FROM g),
      |w AS (SELECT n_a, n_b, mean_a, mean_b, va, vb,
      |  va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2 FROM v)
      |SELECT n_a, n_b,
      |  CASE WHEN n_a > 0 THEN mean_a END AS mean_a,
      |  CASE WHEN n_b > 0 THEN mean_b END AS mean_b,
      |  CASE WHEN n_a > 1 AND n_b > 1 AND se2 > CAST(0 AS DOUBLE) THEN
      |    (mean_a - mean_b) / sqrt(se2)
      |  END AS t,
      |  CASE WHEN n_a > 1 AND n_b > 1 AND se2 > CAST(0 AS DOUBLE) THEN
      |    (se2 * se2) /
      |      ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE))
      |        / CAST(n_a - 1 AS DOUBLE)
      |      + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE))
      |        / CAST(n_b - 1 AS DOUBLE))
      |  END AS df
      |FROM w""".stripMargin

  /** Per-user Wald–Wolfowitz runs test of event values against the exact
    * global median ([[graft.analytics.Hypothesis.runsTest]] over the
    * [[graft.analytics.Quantiles.exactOrderStatistic]] threshold) — the
    * shuffle-quality audit: does each user's time-ordered above/below
    * sequence look random.
    */
  private def runsTestQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val med = graft.analytics.Quantiles.exactOrderStatistic(
        ev.select(col("cents")), "cents",
        n => expr("(n * 500 + 999) div 1000"), bucketWidth = 1000L)
      .select(col("value_cents").as("med"))
    graft.analytics.Hypothesis.runsTest(
        ev.crossJoin(broadcast(med)), "user_id", Seq("ts", "event_id"),
        col("cents") >= col("med"))
      .withColumnRenamed("entity", "user_id")
      .orderBy(col("user_id"))
  }

  private val runsTestOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |kk AS (SELECT CAST((n * 500 + 999) // 1000 AS BIGINT) AS k FROM nn),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM e),
      |md AS (SELECT r.cents AS med FROM kk JOIN r ON r.rn = kk.k),
      |b AS (SELECT user_id, ts, event_id, e.cents >= md.med AS x
      |  FROM e CROSS JOIN md),
      |l AS (SELECT user_id, x,
      |  lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
      |  FROM b),
      |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(sum(CASE WHEN x THEN 0 ELSE 1 END) AS BIGINT) AS n0,
      |  CAST(sum(CASE WHEN p IS NULL OR p <> x THEN 1 ELSE 0 END) AS BIGINT)
      |    AS runs
      |  FROM l GROUP BY user_id)
      |SELECT user_id, n, n1, n0, runs,
      |  CASE WHEN n > 1 AND n1 > 0 AND n0 > 0
      |      AND CAST(CAST(2 AS HUGEINT) * n1 * n0
      |        * (CAST(2 AS HUGEINT) * n1 * n0 - n) AS DOUBLE)
      |        > CAST(0 AS DOUBLE) THEN
      |    (CAST(runs AS DOUBLE)
      |      - (CAST(CAST(2 AS HUGEINT) * n1 * n0 AS DOUBLE)
      |        / CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)))
      |    / sqrt(CAST(CAST(2 AS HUGEINT) * n1 * n0
      |        * (CAST(2 AS HUGEINT) * n1 * n0 - n) AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE))
      |  END AS z
      |FROM g ORDER BY user_id""".stripMargin

  /** Cronbach's α over three cent-scaled line-item facets
    * ([[graft.analytics.Hypothesis.cronbachAlpha]]): exact DECIMAL
    * variance numerators (emitted as canonical strings) and a single
    * fixed-order α expression.
    */
  private def cronbachQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.cronbachAlpha(
      Tables.lineitem(s, dir).select(
        round(col("l_quantity") * 100, 0).cast("long").as("i1"),
        round(col("l_discount") * 10000, 0).cast("long").as("i2"),
        round(col("l_tax") * 10000, 0).cast("long").as("i3")),
      Seq("i1", "i2", "i3"))

  private val cronbachOracle =
    """WITH e AS (
      |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS i1,
      |    CAST(round(l_discount * 10000) AS BIGINT) AS i2,
      |    CAST(round(l_tax * 10000) AS BIGINT) AS i3
      |  FROM lineitem),
      |w AS (SELECT i1, i2, i3, i1 + i2 + i3 AS t FROM e),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  sum(CAST(i1 AS HUGEINT)) AS s1, sum(CAST(i1 AS HUGEINT) * i1) AS q1,
      |  sum(CAST(i2 AS HUGEINT)) AS s2, sum(CAST(i2 AS HUGEINT) * i2) AS q2,
      |  sum(CAST(i3 AS HUGEINT)) AS s3, sum(CAST(i3 AS HUGEINT) * i3) AS q3,
      |  sum(CAST(t AS HUGEINT)) AS st, sum(CAST(t AS HUGEINT) * t) AS qt
      |  FROM w),
      |x AS (SELECT n,
      |  (n * q1 - s1 * s1) + (n * q2 - s2 * s2) + (n * q3 - s3 * s3) AS inum,
      |  n * qt - st * st AS tnum FROM g)
      |SELECT n, CAST(3 AS BIGINT) AS k, CAST(inum AS VARCHAR) AS item_var_num,
      |  CAST(tnum AS VARCHAR) AS total_var_num,
      |  CASE WHEN n > 1 AND CAST(tnum AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(3 AS DOUBLE) / (CAST(3 AS DOUBLE) - CAST(1 AS DOUBLE))
      |      * (CAST(1 AS DOUBLE) - CAST(inum AS DOUBLE) / CAST(tnum AS DOUBLE))
      |  END AS alpha
      |FROM x""".stripMargin

  /** Brown–Forsythe (median-centered Levene) homogeneity-of-variance test:
    * per-group EXACT medians from the grouped two-pass quantile kernel
    * (no global sort), then [[graft.analytics.Hypothesis.anovaF]] on the
    * absolute deviations — W is the F of that one-way layout. Pure
    * composition of two existing exact kernels.
    */
  private def leveneQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type").as("grp"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    val med = graft.analytics.Quantiles.exactGroupedQuantilesTwoPass(
        ev, "grp", "cents", Seq(500), bucketWidth = 1000L)
      .select(col("grp"), col("value_cents").as("med"))
    graft.analytics.Hypothesis.anovaF(
        ev.join(broadcast(med), Seq("grp"))
          .select(col("grp"), abs(col("cents") - col("med")).as("adev")),
        "grp", "adev")
      .withColumnRenamed("f", "w")
  }

  private val leveneOracle =
    """WITH e AS (
      |  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |nn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY grp),
      |kk AS (SELECT grp, CAST((n * 500 + 999) // 1000 AS BIGINT) AS k FROM nn),
      |r AS (SELECT grp, cents,
      |  row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn FROM e),
      |md AS (SELECT kk.grp, r.cents AS med
      |  FROM kk JOIN r ON r.grp = kk.grp AND r.rn = kk.k),
      |d AS (SELECT e.grp, abs(e.cents - md.med) AS adev
      |  FROM e JOIN md ON e.grp = md.grp),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
      |  sum(CAST(adev AS HUGEINT)) AS s_i,
      |  sum(CAST(adev AS HUGEINT) * adev) AS q_i
      |  FROM d GROUP BY grp),
      |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |  sum(s_i) AS s_all, sum(q_i) AS q_all FROM g),
      |c AS (SELECT n, k, s_all, q_all,
      |  sum((CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)) / CAST(n_i AS DOUBLE))
      |    OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cum
      |  FROM g CROSS JOIN t),
      |f AS (SELECT max(n) AS n, max(k) AS k, max(s_all) AS s_all,
      |  max(q_all) AS q_all, max(cum) AS rterm FROM c),
      |x AS (SELECT n, k, s_all, q_all,
      |  rterm - (CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE))
      |    / CAST(n AS DOUBLE) AS ssb,
      |  CAST(q_all AS DOUBLE) - rterm AS ssw
      |  FROM f)
      |SELECT n, k, CAST(s_all AS VARCHAR) AS sum_cents,
      |  CAST(q_all AS VARCHAR) AS sumsq_cents, ssb, ssw,
      |  CASE WHEN k > 1 AND n > k AND ssw > CAST(0 AS DOUBLE) THEN
      |    (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))
      |  END AS w
      |FROM x""".stripMargin

  /** Tukey–Kramer pairwise contrasts across the five event types
    * ([[graft.analytics.Hypothesis.tukeyContrasts]]) — the post-hoc
    * companion of `q_anova_f`: k² pair rows, MSW from the same exact
    * DECIMAL moments, every q statistic a fixed-order expression.
    */
  private def tukeyQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.tukeyContrasts(
        Tables.events(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents")
      .orderBy(col("grp_a"), col("grp_b"))

  private val tukeyOracle =
    """WITH e AS (
      |  SELECT event_type AS grp, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
      |  sum(CAST(cents AS HUGEINT)) AS s_i,
      |  sum(CAST(cents AS HUGEINT) * cents) AS q_i
      |  FROM e GROUP BY grp),
      |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |  sum(q_i) AS q_all FROM g),
      |c AS (SELECT n, k, q_all,
      |  sum((CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)) / CAST(n_i AS DOUBLE))
      |    OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cum
      |  FROM g CROSS JOIN t),
      |m AS (SELECT max(n) AS n, max(k) AS k, max(q_all) AS q_all,
      |  max(cum) AS rterm FROM c),
      |ms AS (SELECT CASE WHEN n > k THEN
      |    (CAST(q_all AS DOUBLE) - rterm) / CAST(n - k AS DOUBLE)
      |  END AS msw FROM m),
      |mm AS (SELECT grp, n_i,
      |  CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS mean FROM g)
      |SELECT x.grp AS grp_a, y.grp AS grp_b, x.n_i AS n_a, y.n_i AS n_b,
      |  x.mean AS mean_a, y.mean AS mean_b,
      |  CASE WHEN ms.msw > CAST(0 AS DOUBLE) THEN
      |    abs(x.mean - y.mean) / sqrt(ms.msw / CAST(2 AS DOUBLE)
      |      * (CAST(1 AS DOUBLE) / CAST(x.n_i AS DOUBLE)
      |        + CAST(1 AS DOUBLE) / CAST(y.n_i AS DOUBLE)))
      |  END AS q_stat
      |FROM mm x JOIN mm y ON x.grp < y.grp CROSS JOIN ms
      |ORDER BY grp_a, grp_b""".stripMargin

  /** One-way random-effects ICC with USERS as groups
    * ([[graft.analytics.Hypothesis.iccOneWay]]) — how much of the value
    * variance is between users. The entity-sized between-group term is
    * Σ(s² div n) in exact integer arithmetic (cent² floor quantization) —
    * no double fold over a data-sized frame exists anywhere in the plan.
    */
  private def iccQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.iccOneWay(
      Tables.events(s, dir)
        .select(col("user_id"), round(col("value") * 100, 0).cast("long").as("cents")),
      "user_id", "cents")

  private val iccOracle =
    """WITH e AS (
      |  SELECT user_id AS grp, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
      |  sum(CAST(cents AS HUGEINT)) AS s_i,
      |  sum(CAST(cents AS HUGEINT) * cents) AS q_i
      |  FROM e GROUP BY grp),
      |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
      |  sum(s_i) AS s_all, sum(q_i) AS q_all,
      |  sum(CAST(n_i AS HUGEINT) * n_i) AS nsq,
      |  sum((s_i * s_i) // n_i) AS rterm_q FROM g),
      |x AS (SELECT n, k, nsq,
      |  CAST(rterm_q AS DOUBLE)
      |    - (CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE))
      |      / CAST(n AS DOUBLE) AS ssb,
      |  CAST(q_all AS DOUBLE) - CAST(rterm_q AS DOUBLE) AS ssw
      |  FROM t),
      |y AS (SELECT n, k, nsq, ssb, ssw,
      |  CASE WHEN k > 1 THEN ssb / CAST(k - 1 AS DOUBLE) END AS msb,
      |  CASE WHEN n > k THEN ssw / CAST(n - k AS DOUBLE) END AS msw,
      |  CASE WHEN k > 1 THEN
      |    (CAST(n AS DOUBLE) - CAST(nsq AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(k AS DOUBLE) - CAST(1 AS DOUBLE))
      |  END AS n0
      |  FROM x)
      |SELECT n, k, CAST(nsq AS VARCHAR) AS group_sq_sum, ssb, ssw, msb, msw,
      |  n0,
      |  CASE WHEN k > 1 AND n > k
      |      AND msb + (n0 - CAST(1 AS DOUBLE)) * msw > CAST(0 AS DOUBLE) THEN
      |    (msb - msw) / (msb + (n0 - CAST(1 AS DOUBLE)) * msw)
      |  END AS icc
      |FROM y""".stripMargin

  /** Two-proportion power analysis from the observed user-parity pilot
    * ([[graft.analytics.Drift.powerTwoProportions]]): unit-level
    * conversion (≥1 purchase), exact arm counts, and the closed-form
    * per-arm n at z_α = 1.96, z_β = 0.84 (both CAST AS DOUBLE in the
    * oracle — the decimal-literal gotcha).
    */
  private def powerQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.powerTwoProportions(
      Tables.events(s, dir).groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv")),
      col("user_id") % 2 === 0, col("conv"))

  private val powerOracle =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS conv
      |  FROM events GROUP BY user_id),
      |g AS (SELECT
      |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT)
      |    AS conv_a,
      |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE conv END) AS BIGINT)
      |    AS conv_b
      |  FROM u),
      |v AS (SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
      |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
      |  CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pbar
      |  FROM g)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CASE WHEN n_a > 0 THEN p1 END AS rate_a,
      |  CASE WHEN n_b > 0 THEN p2 END AS rate_b,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND p1 <> p2 THEN
      |    ((CAST(1.96 AS DOUBLE)
      |        * sqrt(CAST(2 AS DOUBLE) * pbar * (CAST(1 AS DOUBLE) - pbar))
      |      + CAST(0.84 AS DOUBLE)
      |        * sqrt(p1 * (CAST(1 AS DOUBLE) - p1)
      |          + p2 * (CAST(1 AS DOUBLE) - p2)))
      |     * (CAST(1.96 AS DOUBLE)
      |        * sqrt(CAST(2 AS DOUBLE) * pbar * (CAST(1 AS DOUBLE) - pbar))
      |      + CAST(0.84 AS DOUBLE)
      |        * sqrt(p1 * (CAST(1 AS DOUBLE) - p1)
      |          + p2 * (CAST(1 AS DOUBLE) - p2))))
      |    / ((p1 - p2) * (p1 - p2))
      |  END AS n_required
      |FROM v""".stripMargin

  /** Population stability index between even- and odd-id event cohorts
    * ([[graft.analytics.Drift.psi]]): exact bucket counts, the standard
    * skip-empty convention surfaced as `n_skipped_buckets`, one
    * unpartitioned ordered fold, and the 0.1/0.25 monitoring band.
    */
  private def psiQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.psi(
      Tables.events(s, dir)
        .select(round(col("value") * 100, 0).cast("long").as("cents"),
          col("event_id")),
      "cents", col("event_id") % 2 === 0, bucketWidth = 2500L, nBuckets = 20)

  private val psiOracle =
    """WITH b AS (
      |  SELECT least(greatest(CAST(round(value * 100) AS BIGINT) // 2500, 0),
      |    19) AS bucket,
      |    event_id % 2 = 0 AS a
      |  FROM events),
      |c AS (SELECT bucket,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM b GROUP BY bucket),
      |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
      |  FROM c),
      |d AS (SELECT bucket, n_a, n_b, ta, tb,
      |  CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
      |  CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS q
      |  FROM c CROSS JOIN t),
      |s AS (SELECT ta, tb,
      |  sum(CASE WHEN n_a > 0 AND n_b > 0 THEN (p - q) * ln(p / q)
      |    ELSE CAST(0 AS DOUBLE) END)
      |    OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS c,
      |  CASE WHEN n_a = 0 OR n_b = 0 THEN 1 ELSE 0 END AS sk
      |  FROM d)
      |SELECT max(ta) AS n_a, max(tb) AS n_b,
      |  CAST(sum(sk) AS BIGINT) AS n_skipped_buckets, max(c) AS psi,
      |  CASE WHEN max(c) < CAST(0.1 AS DOUBLE) THEN 'stable'
      |       WHEN max(c) < CAST(0.25 AS DOUBLE) THEN 'moderate'
      |       ELSE 'shifted' END AS band
      |FROM s""".stripMargin

  /** Partial autocorrelation at lags 1–3 via the Durbin–Levinson
    * recursion UNROLLED to fixed depth over the exact pooled ACF
    * (`q_acf`'s five-moment r values): each φ_kk is a fixed-operand-order
    * IEEE expression over the hash-stable r1..r3 — the AR-order
    * diagnostic next to the raw ACF.
    */
  private def pacfQ(s: SparkSession, dir: String): DataFrame = {
    val acf = graft.ops.TimeSeries.autocorrelation(
      Tables.events(s, dir), "user_id", "ts", "event_id",
      round(col("value") * 100, 0).cast("long"), Seq(1, 2, 3))
    val wide = acf.agg(
      max(when(col("lag") === 1, col("acf"))).as("r1"),
      max(when(col("lag") === 2, col("acf"))).as("r2"),
      max(when(col("lag") === 3, col("acf"))).as("r3"))
    val den2 = lit(1.0) - col("r1") * col("r1")
    val a21 = col("r1") - col("pacf_2") * col("r1")
    val den3 = lit(1.0) - col("__a21") * col("r1") - col("pacf_2") * col("r2")
    wide
      .withColumn("pacf_1", col("r1"))
      .withColumn("pacf_2",
        when(den2 =!= lit(0.0),
          (col("r2") - col("r1") * col("r1")) / den2))
      .withColumn("__a21", a21)
      .withColumn("pacf_3",
        when(den3 =!= lit(0.0),
          (col("r3") - col("__a21") * col("r2") - col("pacf_2") * col("r1")) /
            den3))
      .select(col("r1"), col("r2"), col("r3"),
        col("pacf_1"), col("pacf_2"), col("pacf_3"))
  }

  private val pacfOracle =
    """WITH x AS (
      |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |r AS (
      |  SELECT user_id, v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM x),
      |l AS (SELECT unnest([1, 2, 3]) AS lag),
      |p AS (
      |  SELECT l.lag, a.v AS xv, b.v AS yv
      |  FROM r a JOIN l ON true
      |  JOIN r b ON b.user_id = a.user_id AND b.rn = a.rn + l.lag),
      |a AS (
      |  SELECT CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
      |    sum(CAST(xv AS HUGEINT) * xv) AS sxx,
      |    sum(CAST(yv AS HUGEINT) * yv) AS syy,
      |    sum(CAST(xv AS HUGEINT) * yv) AS sxy
      |  FROM p GROUP BY lag),
      |c AS (SELECT lag,
      |  CASE WHEN CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
      |       AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
      |    THEN CAST(CAST(n AS HUGEINT) * sxy
      |        - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
      |      (sqrt(CAST(CAST(n AS HUGEINT) * sxx
      |          - CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
      |       sqrt(CAST(CAST(n AS HUGEINT) * syy
      |          - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
      |  END AS acf
      |  FROM a),
      |w AS (SELECT
      |  max(CASE WHEN lag = 1 THEN acf END) AS r1,
      |  max(CASE WHEN lag = 2 THEN acf END) AS r2,
      |  max(CASE WHEN lag = 3 THEN acf END) AS r3
      |  FROM c),
      |s2 AS (SELECT r1, r2, r3,
      |  CASE WHEN CAST(1 AS DOUBLE) - r1 * r1 <> CAST(0 AS DOUBLE)
      |    THEN (r2 - r1 * r1) / (CAST(1 AS DOUBLE) - r1 * r1)
      |  END AS p2 FROM w),
      |s3 AS (SELECT r1, r2, r3, p2, r1 - p2 * r1 AS a21 FROM s2)
      |SELECT r1, r2, r3, r1 AS pacf_1, p2 AS pacf_2,
      |  CASE WHEN CAST(1 AS DOUBLE) - a21 * r1 - p2 * r2 <> CAST(0 AS DOUBLE)
      |    THEN (r3 - a21 * r2 - p2 * r1)
      |      / (CAST(1 AS DOUBLE) - a21 * r1 - p2 * r2)
      |  END AS pacf_3
      |FROM s3""".stripMargin

  /** Per-user maximum drawdown of cent-scaled event values
    * ([[graft.ops.TimeSeries.maxDrawdown]]): running peak, worst
    * peak-to-trough decline, earliest trough position — all exact
    * BIGINTs, two window passes on one sort.
    */
  private def drawdownQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.maxDrawdown(
        Tables.events(s, dir), "user_id", "ts", "event_id",
        round(col("value") * 100, 0))
      .withColumnRenamed("entity", "user_id")
      .orderBy(col("user_id"))

  private val drawdownOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |p AS (SELECT user_id, x,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS BIGINT) AS pos,
      |  max(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM e),
      |d AS (SELECT user_id, pos, peak, peak - x AS dd FROM p),
      |m AS (SELECT user_id, pos, peak, dd,
      |  max(dd) OVER (PARTITION BY user_id) AS mdd FROM d)
      |SELECT user_id, CAST(min(pos) AS BIGINT) AS dd_pos,
      |  CAST(max(mdd) AS BIGINT) AS max_drawdown,
      |  CAST(min_by(peak, pos) AS BIGINT) AS peak_at_trough
      |FROM m WHERE dd = mdd GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Bhattacharyya/Hellinger between purchase and view value
    * distributions ([[graft.analytics.Drift.hellinger]]): no logs, only
    * correctly-rounded ÷×√ — the one drift metric needing zero
    * quantization.
    */
  private def hellingerQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.hellinger(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view"))
        .select(round(col("value") * 100, 0).cast("long").as("cents"),
          col("event_type")),
      "cents", col("event_type") === "purchase", bucketWidth = 2500L,
      nBuckets = 20)

  private val hellingerOracle =
    """WITH b AS (
      |  SELECT least(greatest(CAST(round(value * 100) AS BIGINT) // 2500, 0),
      |    19) AS bucket,
      |    event_type = 'purchase' AS a
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |c AS (SELECT bucket,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM b GROUP BY bucket),
      |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
      |  FROM c),
      |s AS (SELECT ta, tb,
      |  sum(CASE WHEN n_a > 0 AND n_b > 0 THEN
      |      sqrt((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
      |        * (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)))
      |    ELSE CAST(0 AS DOUBLE) END)
      |    OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS c
      |  FROM c CROSS JOIN t)
      |SELECT max(ta) AS n_a, max(tb) AS n_b, max(c) AS bc,
      |  CASE WHEN max(ta) > 0 AND max(tb) > 0 THEN
      |    sqrt(greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - max(c)))
      |  END AS hellinger
      |FROM s""".stripMargin

  /** Two-sample Cramér–von Mises between purchase and view values
    * ([[graft.analytics.Hypothesis.cvmTwoSample]]): the integrated-ECDF
    * discrepancy with an EXACT DECIMAL numerator (emitted as canonical
    * string) — integer cumulative windows never hit the double-fold
    * divergence.
    */
  private def cvmQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.cvmTwoSample(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "view"))
        .select(round(col("value") * 100, 0).cast("long").as("cents"),
          col("event_type")),
      col("event_type") === "purchase", "cents")

  private val cvmOracle =
    """WITH e AS (
      |  SELECT event_type = 'purchase' AS a,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |v AS (SELECT c,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS d_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS d_b
      |  FROM e GROUP BY c),
      |t AS (SELECT CAST(sum(d_a) AS BIGINT) AS n_a,
      |  CAST(sum(d_b) AS BIGINT) AS n_b FROM v),
      |w AS (SELECT d_a, d_b,
      |  sum(d_a) OVER (ORDER BY c
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
      |  sum(d_b) OVER (ORDER BY c
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      |  FROM v),
      |g AS (SELECT n_a, n_b,
      |  sum((CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
      |    * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
      |    * (CAST(d_a AS HUGEINT) + d_b)) AS cvm_dec
      |  FROM w CROSS JOIN t GROUP BY n_a, n_b)
      |SELECT n_a, n_b, CAST(cvm_dec AS VARCHAR) AS cvm_num,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(cvm_dec AS DOUBLE) /
      |      CAST(CAST(n_a AS HUGEINT) * n_a * n_b * n_b * (n_a + n_b)
      |        AS DOUBLE)
      |  END AS t
      |FROM g""".stripMargin

  /** Poisson event-rate comparison between purchase and error streams
    * ([[graft.analytics.Drift.rateTest]]): exact counts and epoch-micros
    * observation spans per cohort, fixed-order rate and z expressions.
    */
  private def rateTestQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Drift.rateTest(
      Tables.events(s, dir).filter(col("event_type").isin("purchase", "error"))
        .select(col("event_type"), unix_micros(col("ts")).as("us")),
      col("event_type") === "purchase", col("us"))

  private val rateTestOracle =
    """WITH e AS (
      |  SELECT event_type = 'purchase' AS a, epoch_us(ts) AS t
      |  FROM events WHERE event_type IN ('purchase', 'error')),
      |g AS (SELECT
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
      |  CAST(max(CASE WHEN a THEN t END) - min(CASE WHEN a THEN t END)
      |    AS BIGINT) AS span_a_us,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS k_b,
      |  CAST(max(CASE WHEN NOT a THEN t END) - min(CASE WHEN NOT a THEN t END)
      |    AS BIGINT) AS span_b_us
      |  FROM e)
      |SELECT k_a, span_a_us, k_b, span_b_us,
      |  CASE WHEN span_a_us > 0
      |    THEN CAST(k_a AS DOUBLE) / CAST(span_a_us AS DOUBLE)
      |  END AS rate_a_per_us,
      |  CASE WHEN span_b_us > 0
      |    THEN CAST(k_b AS DOUBLE) / CAST(span_b_us AS DOUBLE)
      |  END AS rate_b_per_us,
      |  CASE WHEN span_a_us > 0 AND span_b_us > 0 AND k_a + k_b > 0 THEN
      |    (CAST(k_a AS DOUBLE) / CAST(span_a_us AS DOUBLE)
      |      - CAST(k_b AS DOUBLE) / CAST(span_b_us AS DOUBLE))
      |    / sqrt(CAST(k_a AS DOUBLE)
      |        / (CAST(span_a_us AS DOUBLE) * CAST(span_a_us AS DOUBLE))
      |      + CAST(k_b AS DOUBLE)
      |        / (CAST(span_b_us AS DOUBLE) * CAST(span_b_us AS DOUBLE)))
      |  END AS z
      |FROM g""".stripMargin

  /** Gumbel fit over daily event-value maxima
    * ([[graft.analytics.Hypothesis.gumbelFit]]): the day key is pure
    * epoch-micros integer division (TZ-convention-free on both engines);
    * block maxima and their moments are exact.
    */
  private def gumbelFitQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.gumbelFit(
      Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy(col("day")).agg(max(col("cents")).as("day_max")),
      "day_max")

  private val gumbelFitOracle =
    """WITH d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY day),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
      |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM d),
      |v AS (SELECT n_blocks, sx, sxx,
      |  CAST(sx AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS m,
      |  CAST(n_blocks * sxx - sx * sx AS DOUBLE) AS var_num
      |  FROM g),
      |w AS (SELECT n_blocks, sx, sxx, m, var_num,
      |  CASE WHEN n_blocks > 1 AND var_num > CAST(0 AS DOUBLE) THEN
      |    sqrt(var_num / (CAST(n_blocks AS DOUBLE)
      |      * (CAST(n_blocks AS DOUBLE) - CAST(1 AS DOUBLE))))
      |      * sqrt(CAST(6 AS DOUBLE)) / pi()
      |  END AS beta
      |  FROM v)
      |SELECT n_blocks, CAST(sx AS VARCHAR) AS sum_cents,
      |  CAST(sxx AS VARCHAR) AS sumsq_cents,
      |  CASE WHEN n_blocks > 0 THEN m END AS mean, beta,
      |  CASE WHEN beta IS NOT NULL THEN
      |    m - CAST(0.5772156649015329 AS DOUBLE) * beta
      |  END AS mu
      |FROM w""".stripMargin

  /** Odds ratio of (purchase, weekend) over events
    * ([[graft.analytics.Hypothesis.oddsRatio]]): the weekend flag derives
    * from pure epoch-day arithmetic ((day+4) mod 7 ∈ {6,0} — immune to
    * either engine's day-of-week numbering), cells exact, OR and Woolf SE
    * fixed-order.
    */
  private def oddsRatioQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.oddsRatio(
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow")),
      col("event_type") === "purchase",
      col("dow") === 6 || col("dow") === 0)

  private val oddsRatioOracle =
    """WITH e AS (
      |  SELECT event_type = 'purchase' AS r,
      |    ((epoch_us(ts) // 86400000000) + 4) % 7 IN (6, 0) AS c
      |  FROM events)
      |SELECT
      |  CAST(sum(CASE WHEN r AND c THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |  CAST(sum(CASE WHEN r AND NOT c THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |  CAST(sum(CASE WHEN NOT r AND c THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST(sum(CASE WHEN NOT r AND NOT c THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |  CASE WHEN sum(CASE WHEN r AND NOT c THEN 1 ELSE 0 END) > 0
      |      AND sum(CASE WHEN NOT r AND c THEN 1 ELSE 0 END) > 0 THEN
      |    CAST(CAST(sum(CASE WHEN r AND c THEN 1 ELSE 0 END) AS HUGEINT)
      |        * sum(CASE WHEN NOT r AND NOT c THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(CAST(sum(CASE WHEN r AND NOT c THEN 1 ELSE 0 END) AS HUGEINT)
      |        * sum(CASE WHEN NOT r AND c THEN 1 ELSE 0 END) AS DOUBLE)
      |  END AS odds_ratio,
      |  CASE WHEN sum(CASE WHEN r AND c THEN 1 ELSE 0 END) > 0
      |      AND sum(CASE WHEN r AND NOT c THEN 1 ELSE 0 END) > 0
      |      AND sum(CASE WHEN NOT r AND c THEN 1 ELSE 0 END) > 0
      |      AND sum(CASE WHEN NOT r AND NOT c THEN 1 ELSE 0 END) > 0 THEN
      |    sqrt(CAST(1 AS DOUBLE)
      |        / CAST(sum(CASE WHEN r AND c THEN 1 ELSE 0 END) AS DOUBLE)
      |      + CAST(1 AS DOUBLE)
      |        / CAST(sum(CASE WHEN r AND NOT c THEN 1 ELSE 0 END) AS DOUBLE)
      |      + CAST(1 AS DOUBLE)
      |        / CAST(sum(CASE WHEN NOT r AND c THEN 1 ELSE 0 END) AS DOUBLE)
      |      + CAST(1 AS DOUBLE)
      |        / CAST(sum(CASE WHEN NOT r AND NOT c THEN 1 ELSE 0 END) AS DOUBLE))
      |  END AS se_log_or
      |FROM e""".stripMargin

  /** Markov entropy rate of the per-user event-type chain
    * ([[graft.ops.TimeSeries.entropyRate]]) — how predictable the next
    * event is, on the same transition counts as `q_event_transitions`.
    */
  private def entropyRateQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.entropyRate(
      Tables.events(s, dir), "user_id", Seq("ts", "event_id"), "event_type")

  private val entropyRateOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type AS s FROM events),
      |l AS (SELECT s,
      |  lead(s, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |  FROM e),
      |tr AS (SELECT s, nxt, CAST(count(*) AS BIGINT) AS n_ij
      |  FROM l WHERE nxt IS NOT NULL GROUP BY s, nxt),
      |rt AS (SELECT s, CAST(sum(n_ij) AS BIGINT) AS n_i FROM tr GROUP BY s),
      |t AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n,
      |  CAST(count(DISTINCT s) AS BIGINT) AS k_states FROM tr),
      |c AS (SELECT n, k_states,
      |  sum((CAST(0 AS DOUBLE) - CAST(n_ij AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n_ij AS DOUBLE) / CAST(n_i AS DOUBLE)))
      |    OVER (ORDER BY s, nxt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS c
      |  FROM tr JOIN rt USING (s) CROSS JOIN t)
      |SELECT max(n) AS n_transitions, max(k_states) AS k_states,
      |  max(c) AS h_rate_nats,
      |  CASE WHEN max(k_states) > 1
      |    THEN max(c) / ln(CAST(max(k_states) AS DOUBLE))
      |  END AS h_norm
      |FROM c""".stripMargin

  /** Pooled burstiness / Fano factor of inter-event gaps
    * ([[graft.ops.TimeSeries.burstiness]]): exact micros gaps and moments,
    * CV, Goh–Barabási B, Fano — the traffic-shape audit.
    */
  private def burstinessQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.burstiness(
      Tables.events(s, dir), "user_id", Seq("ts", "event_id"),
      unix_micros(col("ts")))

  private val burstinessOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, epoch_us(ts) AS t FROM events),
      |l AS (SELECT t - lag(t, 1)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
      |  FROM e),
      |gg AS (SELECT g FROM l WHERE g IS NOT NULL),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_gaps,
      |  sum(CAST(g AS HUGEINT)) AS sg, sum(CAST(g AS HUGEINT) * g) AS sgg
      |  FROM gg),
      |v AS (SELECT n_gaps, sg, sgg,
      |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
      |  CAST(n_gaps * sgg - sg * sg AS DOUBLE) AS var_num FROM a),
      |w AS (SELECT n_gaps, sg, sgg, mu, var_num,
      |  CASE WHEN n_gaps > 1 AND var_num >= CAST(0 AS DOUBLE) THEN
      |    sqrt(var_num / (CAST(n_gaps AS DOUBLE)
      |      * (CAST(n_gaps AS DOUBLE) - CAST(1 AS DOUBLE))))
      |  END AS sd FROM v)
      |SELECT n_gaps, CAST(sg AS VARCHAR) AS sum_gap_us,
      |  CAST(sgg AS VARCHAR) AS sumsq_gap_us,
      |  CASE WHEN n_gaps > 0 THEN mu END AS mean_gap_us,
      |  sd AS sd_gap_us,
      |  CASE WHEN sd IS NOT NULL AND mu > CAST(0 AS DOUBLE)
      |    THEN sd / mu END AS cv,
      |  CASE WHEN sd IS NOT NULL AND sd + mu > CAST(0 AS DOUBLE)
      |    THEN (sd - mu) / (sd + mu) END AS burstiness,
      |  CASE WHEN sd IS NOT NULL AND mu > CAST(0 AS DOUBLE)
      |    THEN sd * sd / mu END AS fano
      |FROM w""".stripMargin

  /** Order-3 permutation entropy of the value series
    * ([[graft.ops.TimeSeries.permutationEntropy]]): integer ordinal
    * patterns, exact counts, entropy folded over the ≤8-pattern frame.
    */
  private def permEntropyQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.permutationEntropy(
      Tables.events(s, dir), "user_id", Seq("ts", "event_id"),
      round(col("value") * 100, 0))

  private val permEntropyOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |l AS (SELECT x AS x1,
      |  lead(x, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x2,
      |  lead(x, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x3
      |  FROM e),
      |p AS (SELECT (CASE WHEN x1 <= x2 THEN 4 ELSE 0 END
      |  + CASE WHEN x1 <= x3 THEN 2 ELSE 0 END
      |  + CASE WHEN x2 <= x3 THEN 1 ELSE 0 END) AS pattern
      |  FROM l WHERE x3 IS NOT NULL),
      |g AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n_pat
      |  FROM p GROUP BY pattern),
      |t AS (SELECT CAST(sum(n_pat) AS BIGINT) AS n FROM g),
      |c AS (SELECT n,
      |  sum((CAST(0 AS DOUBLE) - CAST(n_pat AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(n_pat AS DOUBLE) / CAST(n AS DOUBLE)))
      |    OVER (ORDER BY pattern
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM g CROSS JOIN t)
      |SELECT max(n) AS n_triples, CAST(count(*) AS BIGINT) AS n_patterns,
      |  max(c) AS h_nats, max(c) / ln(CAST(6 AS DOUBLE)) AS h_norm
      |FROM c""".stripMargin

  /** Exponential goodness-of-fit of inter-event gaps on the minute grid
    * ([[graft.ops.TimeSeries.exponentialFit]]): λ̂ from exact totals, KS
    * distance against the fitted CDF — the memorylessness check.
    */
  private def expFitQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.exponentialFit(
      Tables.events(s, dir), "user_id", Seq("ts", "event_id"),
      unix_micros(col("ts")), unitMicros = 60000000L)

  private val expFitOracle =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, epoch_us(ts) AS t FROM events),
      |l AS (SELECT t - lag(t, 1)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g0
      |  FROM e),
      |gp AS (SELECT g0 // 60000000 AS g FROM l WHERE g0 IS NOT NULL),
      |v AS (SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM gp GROUP BY g),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |  CAST(sum(g * cnt) AS BIGINT) AS sg FROM v),
      |c AS (SELECT g, cnt,
      |  sum(cnt) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cum
      |  FROM v)
      |SELECT t.n AS n_gaps, t.sg AS sum_units,
      |  CASE WHEN t.sg > 0
      |    THEN CAST(t.n AS DOUBLE) / CAST(t.sg AS DOUBLE)
      |  END AS lambda_per_unit,
      |  max(CASE WHEN t.sg > 0 THEN
      |    abs(CAST(c.cum AS DOUBLE) / CAST(t.n AS DOUBLE)
      |      - (CAST(1 AS DOUBLE)
      |        - exp((CAST(0 AS DOUBLE)
      |            - CAST(t.n AS DOUBLE) / CAST(t.sg AS DOUBLE))
      |          * CAST(c.g AS DOUBLE))))
      |  END) AS ks_d
      |FROM c CROSS JOIN t GROUP BY t.n, t.sg""".stripMargin

  /** Cross-correlation of purchase vs error hourly counts at lags 0–3
    * ([[graft.ops.TimeSeries.crossCorrelation]]): exact grid counts, one
    * equi-join per lag family, Pearson from exact moments.
    */
  private def xcorrQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.crossCorrelation(
      Tables.events(s, dir), unix_micros(col("ts")),
      col("event_type") === "purchase", col("event_type") === "error",
      unitMicros = 3600000000L, maxLag = 3)

  private val xcorrOracle =
    """WITH e AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h,
      |    event_type = 'purchase' AS a, event_type = 'error' AS b
      |  FROM events),
      |g AS (SELECT h,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |  CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM e GROUP BY h),
      |l AS (SELECT unnest([0, 1, 2, 3]) AS lag),
      |p AS (SELECT l.lag, x.ca, y.cb
      |  FROM g x JOIN l ON true JOIN g y ON y.h = x.h + l.lag),
      |a AS (SELECT CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(ca) AS BIGINT) AS sx, CAST(sum(cb) AS BIGINT) AS sy,
      |  sum(CAST(ca AS HUGEINT) * ca) AS sxx,
      |  sum(CAST(cb AS HUGEINT) * cb) AS syy,
      |  sum(CAST(ca AS HUGEINT) * cb) AS sxy
      |  FROM p GROUP BY lag)
      |SELECT lag, n, sx, sy,
      |  CASE WHEN CAST(CAST(n AS HUGEINT) * sxx
      |        - CAST(sx AS HUGEINT) * sx AS DOUBLE) > CAST(0 AS DOUBLE)
      |      AND CAST(CAST(n AS HUGEINT) * syy
      |        - CAST(sy AS HUGEINT) * sy AS DOUBLE) > CAST(0 AS DOUBLE) THEN
      |    CAST(CAST(n AS HUGEINT) * sxy
      |        - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |      / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
      |          - CAST(sx AS HUGEINT) * sx AS DOUBLE))
      |        * sqrt(CAST(CAST(n AS HUGEINT) * syy
      |          - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
      |  END AS xcorr
      |FROM a ORDER BY lag""".stripMargin

  /** Bowley (quartile) skewness of event values — the ROBUST skewness
    * companion of the moment-based `q_moments` shape stats: the three
    * quartiles are exact order statistics from the two-pass histogram
    * kernel; the coefficient is one fixed-order expression over exact
    * integers.
    */
  private def bowleyQ(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.events(s, dir)
      .select(round(col("value") * 100, 0).cast("long").as("cents"))
    graft.analytics.Quantiles.exactQuantilesTwoPass(
        scored, "cents", Seq(250, 500, 750), bucketWidth = 1000L)
      .agg(max(col("n")).as("n"),
        max(when(col("p") === 250, col("value_cents"))).as("q1"),
        max(when(col("p") === 500, col("value_cents"))).as("q2"),
        max(when(col("p") === 750, col("value_cents"))).as("q3"))
      .withColumn("bowley_skew",
        when(col("q3") > col("q1"),
          (col("q3") + col("q1") - lit(2L) * col("q2")).cast("double") /
            (col("q3") - col("q1")).cast("double")))
  }

  private val bowleyOracle =
    """WITH sc AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
      |kk AS (SELECT n, unnest([250, 500, 750]) AS p FROM nn),
      |k2 AS (SELECT n, p, CAST((n * p + 999) // 1000 AS BIGINT) AS k FROM kk),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM sc),
      |q AS (SELECT k2.n, k2.p, r.cents FROM k2 JOIN r ON r.rn = k2.k),
      |w AS (SELECT max(n) AS n,
      |  max(CASE WHEN p = 250 THEN cents END) AS q1,
      |  max(CASE WHEN p = 500 THEN cents END) AS q2,
      |  max(CASE WHEN p = 750 THEN cents END) AS q3
      |  FROM q)
      |SELECT n, q1, q2, q3,
      |  CASE WHEN q3 > q1 THEN
      |    CAST(q3 + q1 - 2 * q2 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
      |  END AS bowley_skew
      |FROM w""".stripMargin

  /** Exact 10–90% trimmed mean of event values — the robust location
    * estimator, ENTIRELY in exact integer arithmetic: the two trim
    * boundaries are exact order statistics, and the trimmed sum uses the
    * tie-aware rank identity S(k) = Σ_{c<v_k} c + (k − #{c<v_k})·v_k
    * (deterministic under any tie permutation). One division at the end.
    */
  private def trimmedMeanQ(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.events(s, dir)
      .select(round(col("value") * 100, 0).cast("long").as("cents"))
    // ONE shared two-pass quantile call for both cut points (r17): the
    // previous per-cut exactOrderStatistic calls each re-histogrammed the
    // whole column; exactQuantilesTwoPass computes any number of permille
    // points from a single histogram + a single straddling-bucket pass, and
    // its rank rule k = ceil(n·p/1000) is the identical integer
    // cross-multiplication the per-cut rank lambda used.
    val cuts = broadcast(
      graft.analytics.Quantiles.exactQuantilesTwoPass(
          scored, "cents", Seq(100, 900), bucketWidth = 1000L)
        .agg(max(col("n")).as("n"),
          max(when(col("p") === 100, col("k"))).as("k_lo"),
          max(when(col("p") === 100, col("value_cents"))).as("v_lo"),
          max(when(col("p") === 900, col("k"))).as("k_hi"),
          max(when(col("p") === 900, col("value_cents"))).as("v_hi")))
    scored.crossJoin(cuts)
      .agg(max(col("n")).as("n"), max(col("k_lo")).as("k_lo"),
        max(col("k_hi")).as("k_hi"),
        max(col("v_lo")).as("v_lo"), max(col("v_hi")).as("v_hi"),
        sum(when(col("cents") < col("v_lo"), col("cents")).otherwise(0L))
          .as("s_below_lo"),
        sum(when(col("cents") < col("v_lo"), 1L).otherwise(0L)).as("c_below_lo"),
        sum(when(col("cents") < col("v_hi"), col("cents")).otherwise(0L))
          .as("s_below_hi"),
        sum(when(col("cents") < col("v_hi"), 1L).otherwise(0L)).as("c_below_hi"))
      .withColumn("trimmed_sum",
        (col("s_below_hi") + (col("k_hi") - col("c_below_hi")) * col("v_hi")) -
          (col("s_below_lo") + (col("k_lo") - col("c_below_lo")) * col("v_lo")))
      .withColumn("trimmed_n", col("k_hi") - col("k_lo"))
      .withColumn("trimmed_mean",
        when(col("trimmed_n") > 0,
          col("trimmed_sum").cast("double") / col("trimmed_n").cast("double")))
      .select(col("n"), col("k_lo"), col("k_hi"), col("trimmed_sum"),
        col("trimmed_n"), col("trimmed_mean"))
  }

  private val trimmedMeanOracle =
    """WITH sc AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
      |kk AS (SELECT n, CAST((n * 100 + 999) // 1000 AS BIGINT) AS k_lo,
      |  CAST((n * 900 + 999) // 1000 AS BIGINT) AS k_hi FROM nn),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM sc),
      |s AS (SELECT kk.n, kk.k_lo, kk.k_hi,
      |  CAST(sum(CASE WHEN rn > k_lo AND rn <= k_hi THEN cents ELSE 0 END)
      |    AS BIGINT) AS trimmed_sum
      |  FROM r CROSS JOIN kk GROUP BY kk.n, kk.k_lo, kk.k_hi)
      |SELECT n, k_lo, k_hi, trimmed_sum,
      |  CAST(k_hi - k_lo AS BIGINT) AS trimmed_n,
      |  CASE WHEN k_hi - k_lo > 0 THEN
      |    CAST(trimmed_sum AS DOUBLE) / CAST(k_hi - k_lo AS DOUBLE)
      |  END AS trimmed_mean
      |FROM s""".stripMargin

  /** Nelson–Aalen cumulative hazard over user churn
    * ([[graft.analytics.Survival.nelsonAalen]]): the q_kaplan_meier life
    * table plus H(t)/Var folds on the calendar-bounded day frame.
    */
  private def nelsonAalenQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Survival.nelsonAalen(
      Tables.events(s, dir), col("user_id"), to_date(col("ts")))

  private val nelsonAalenOracle =
    """WITH last AS (
      |  SELECT user_id, max(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id),
      |pd AS (SELECT d, CAST(count(*) AS BIGINT) AS deaths FROM last GROUP BY d),
      |r AS (
      |  SELECT d, deaths,
      |    CAST(sum(deaths) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_at_risk
      |  FROM pd)
      |SELECT d, deaths, n_at_risk,
      |  sum(CAST(deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
      |    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS cum_hazard,
      |  sum(CAST(deaths AS DOUBLE)
      |      / (CAST(n_at_risk AS DOUBLE) * CAST(n_at_risk AS DOUBLE)))
      |    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS var_hazard
      |FROM r ORDER BY d""".stripMargin

  /** Two-cohort log-rank test of churn curves (even vs odd users,
    * [[graft.analytics.Survival.logRank]]): exact O₁, hypergeometric E/V
    * folds on the ordered day frame, z one fixed-order expression.
    */
  private def logRankQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Survival.logRank(
      Tables.events(s, dir), col("user_id"), to_date(col("ts")),
      col("user_id") % 2 === 0)

  private val logRankOracle =
    """WITH last AS (
      |  SELECT user_id, max(CAST(ts AS DATE)) AS d,
      |    max(user_id % 2 = 0) AS a
      |  FROM events GROUP BY user_id),
      |pd AS (SELECT d,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS d1,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS d2
      |  FROM last GROUP BY d),
      |r AS (
      |  SELECT d, d1, d2,
      |    CAST(sum(d1) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
      |    CAST(sum(d2) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n2
      |  FROM pd),
      |t AS (
      |  SELECT d, d1,
      |    sum(CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
      |        / CAST(n1 + n2 AS DOUBLE))
      |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS ce,
      |    sum(CASE WHEN n1 + n2 > 1 THEN
      |        CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |          * (CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
      |          / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
      |            * (CAST(n1 + n2 AS DOUBLE) - CAST(1 AS DOUBLE)))
      |      ELSE CAST(0 AS DOUBLE) END)
      |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cv
      |  FROM r),
      |f AS (SELECT CAST(sum(d1) AS BIGINT) AS o1, max_by(ce, d) AS e1,
      |  max_by(cv, d) AS v FROM t)
      |SELECT o1, e1, v,
      |  CASE WHEN v > CAST(0 AS DOUBLE) THEN
      |    (CAST(o1 AS DOUBLE) - e1) / sqrt(v)
      |  END AS z
      |FROM f""".stripMargin

  /** SMD covariate balance of the even/odd-user split over cents, hour,
    * and day-of-week ([[graft.analytics.Hypothesis.smdBalance]]): exact
    * conditional sums per covariate, SMD fixed-order; the balance audit
    * run before reading any A/B metric.
    */
  private def smdBalanceQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.smdBalance(
      Tables.events(s, dir),
      col("user_id") % 2 === 0,
      Seq(
        ("cents", round(col("value") * 100, 0).cast("long")),
        ("hour", expr("(unix_micros(ts) div 3600000000) % 24")),
        ("dow", expr("((unix_micros(ts) div 86400000000) + 4) % 7"))))
      .orderBy(col("cov"))

  private val smdBalanceOracle =
    """WITH base AS (
      |  SELECT (user_id % 2 = 0) AS a,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    (epoch_us(ts) // 3600000000) % 24 AS hour,
      |    ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow
      |  FROM events),
      |lf AS (
      |  SELECT a, 'cents' AS cov, cents AS x FROM base
      |  UNION ALL SELECT a, 'hour', hour FROM base
      |  UNION ALL SELECT a, 'dow', dow FROM base),
      |g AS (SELECT cov,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  sum(CASE WHEN a THEN CAST(x AS HUGEINT) ELSE 0 END) AS s_a,
      |  sum(CASE WHEN a THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
      |  sum(CASE WHEN a THEN 0 ELSE CAST(x AS HUGEINT) END) AS s_b,
      |  sum(CASE WHEN a THEN 0 ELSE CAST(x AS HUGEINT) * x END) AS q_b
      |  FROM lf GROUP BY cov),
      |v AS (SELECT cov, n_a, n_b,
      |  CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
      |  CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
      |  (CAST(n_a * q_a - s_a * s_a AS DOUBLE)
      |      / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
      |    + CAST(n_b * q_b - s_b * s_b AS DOUBLE)
      |      / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)))
      |    / CAST(2 AS DOUBLE) AS pooled
      |  FROM g)
      |SELECT cov, n_a, n_b,
      |  CASE WHEN n_a > 0 THEN mean_a END AS mean_a,
      |  CASE WHEN n_b > 0 THEN mean_b END AS mean_b,
      |  CASE WHEN n_a > 1 AND n_b > 1 AND pooled > CAST(0 AS DOUBLE) THEN
      |    (mean_a - mean_b) / sqrt(pooled)
      |  END AS smd
      |FROM v ORDER BY cov""".stripMargin

  /** Neyman allocation of a 1000-row sample budget across the five event
    * types ([[graft.ops.Sampling.neymanAllocation]]): exact per-stratum
    * moments, N·S weights, floor + largest-remainder integer quotas
    * summing EXACTLY to the budget.
    */
  private def neymanAllocQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.neymanAllocation(
      Tables.events(s, dir), col("event_type"),
      round(col("value") * 100, 0).cast("long"), budget = 1000)

  private val neymanAllocOracle =
    """WITH e AS (
      |  SELECT event_type AS stratum, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |g AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_pop,
      |  sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS q
      |  FROM e GROUP BY stratum),
      |w AS (SELECT stratum, n_pop,
      |  sqrt(CAST(n_pop * q - s * s AS DOUBLE)
      |    / (CAST(n_pop AS DOUBLE) * CAST(n_pop AS DOUBLE))) AS sd_pop
      |  FROM g),
      |w2 AS (SELECT stratum, n_pop, sd_pop,
      |  CAST(n_pop AS DOUBLE) * sd_pop AS weight FROM w),
      |c AS (SELECT stratum, n_pop, sd_pop, weight,
      |  sum(weight) OVER (ORDER BY stratum
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |  FROM w2),
      |tw AS (SELECT max_by(cw, stratum) AS total_w,
      |  CAST(sum(n_pop) AS BIGINT) AS total_n FROM c),
      |q AS (SELECT stratum, n_pop, sd_pop, weight,
      |  CAST(1000 AS DOUBLE)
      |    * (CASE WHEN total_w > CAST(0 AS DOUBLE) THEN weight
      |       ELSE CAST(n_pop AS DOUBLE) END)
      |    / (CASE WHEN total_w > CAST(0 AS DOUBLE) THEN total_w
      |       ELSE CAST(total_n AS DOUBLE) END) AS quota
      |  FROM c CROSS JOIN tw),
      |f AS (SELECT stratum, n_pop, sd_pop, weight, quota,
      |  CAST(floor(quota) AS BIGINT) AS fl,
      |  quota - CAST(CAST(floor(quota) AS BIGINT) AS DOUBLE) AS rem
      |  FROM q),
      |t AS (SELECT CAST(sum(fl) AS BIGINT) AS given FROM f),
      |rk AS (SELECT stratum, n_pop, sd_pop, weight, fl,
      |  CAST(row_number() OVER (ORDER BY rem DESC, stratum) AS BIGINT) AS rk
      |  FROM f)
      |SELECT stratum, n_pop, sd_pop, weight,
      |  fl + CASE WHEN rk <= 1000 - given THEN 1 ELSE 0 END AS n_alloc
      |FROM rk CROSS JOIN t ORDER BY stratum""".stripMargin

  /** Special-token leakage audit with PLANTED markers
    * ([[graft.text.TextAnalysis.specialTokenAudit]]): docs get
    * "<|endoftext|>" / "<s>" / "[INST]" injected on fixed id moduli and
    * the audit must count exactly those per source — the pre-training
    * sweep for tokenizer-control-string injection.
    */
  private def specialTokensQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("text",
        when(col("doc_id") % 11 === 4, concat(col("text"), lit(" <|endoftext|>")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 17 === 2, concat(lit("<s> "), col("text")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 23 === 7, concat(col("text"), lit(" [INST]")))
          .otherwise(col("text")))
    graft.text.TextAnalysis.specialTokenAudit(docs).orderBy(col("segment"))
  }

  private val specialTokensOracle =
    """WITH d AS (
      |  SELECT source,
      |    (CASE WHEN doc_id % 23 = 7 THEN
      |      (CASE WHEN doc_id % 17 = 2 THEN '<s> ' ELSE '' END)
      |        || text
      |        || (CASE WHEN doc_id % 11 = 4 THEN ' <|endoftext|>' ELSE '' END)
      |        || ' [INST]'
      |    ELSE
      |      (CASE WHEN doc_id % 17 = 2 THEN '<s> ' ELSE '' END)
      |        || text
      |        || (CASE WHEN doc_id % 11 = 4 THEN ' <|endoftext|>' ELSE '' END)
      |    END) AS text
      |  FROM documents)
      |SELECT source AS segment, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN contains(text, '<|endoftext|>') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_endoftext,
      |  CAST(sum(CASE WHEN contains(text, '<|im_start|>') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_im_start,
      |  CAST(sum(CASE WHEN contains(text, '<s>') OR contains(text, '</s>')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sentencepiece,
      |  CAST(sum(CASE WHEN contains(text, '[INST]') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_inst,
      |  CAST(sum(CASE WHEN contains(text, '<|endoftext|>')
      |      OR contains(text, '<|im_start|>') OR contains(text, '<s>')
      |      OR contains(text, '</s>') OR contains(text, '[INST]')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
      |  CASE WHEN count(*) > 0 THEN
      |    CAST(CAST(sum(CASE WHEN contains(text, '<|endoftext|>')
      |        OR contains(text, '<|im_start|>') OR contains(text, '<s>')
      |        OR contains(text, '</s>') OR contains(text, '[INST]')
      |      THEN 1 ELSE 0 END) * 1000 AS BIGINT) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE)
      |  END AS leaked_permille
      |FROM d GROUP BY source ORDER BY segment""".stripMargin

  /** Fill-in-the-middle transform over the corpus
    * ([[graft.text.Curation.fimSplit]]): md5-drawn cut points, exact
    * token-slice reassembly — the whole PSM rearrangement replayed
    * byte-exactly in the oracle.
    */
  private def fimSplitQ(s: SparkSession, dir: String): DataFrame =
    graft.text.Curation.fimSplit(Tables.documents(s, dir))
      .orderBy(col("doc_id"))

  private val fimSplitOracle = {
    val u1 = graft.queries.OracleSql.md5U32Sql("'fim:a:' || CAST(doc_id AS VARCHAR)")
    val u2 = graft.queries.OracleSql.md5U32Sql("'fim:b:' || CAST(doc_id AS VARCHAR)")
    s"""WITH tok AS (
       |  SELECT doc_id, text, string_split_regex(text, '\\s+') AS t,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n
       |  FROM documents),
       |cut AS (
       |  SELECT doc_id, text, t, n,
       |    CASE WHEN n >= 2 THEN 1 + ($u1) % (n - 1) END AS a0
       |  FROM tok),
       |cut2 AS (
       |  SELECT doc_id, text, t, n, a0,
       |    CASE WHEN n >= 2 THEN a0 + ($u2) % (n - a0) END AS b0
       |  FROM cut)
       |SELECT doc_id, n AS n_tokens, a0 AS a, b0 AS b,
       |  CASE WHEN n >= 2 THEN array_to_string(t[1:a0], ' ')
       |    ELSE text END AS prefix,
       |  CASE WHEN n >= 2 THEN COALESCE(array_to_string(t[a0+1:b0], ' '), '')
       |    ELSE '' END AS middle,
       |  CASE WHEN n >= 2 THEN COALESCE(array_to_string(t[b0+1:n], ' '), '')
       |    ELSE '' END AS suffix
       |FROM cut2 ORDER BY doc_id""".stripMargin
  }

  /** Poisson overdispersion of daily per-user event counts
    * ([[graft.analytics.Hypothesis.overdispersion]]): exact-integer
    * dispersion ratio — the burstiness gate on rate-alert thresholds.
    */
  private def overdispersionQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.overdispersion(
      Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c")),
      col("c"))

  private val overdispersionOracle =
    """WITH c AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
      |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS q
      |  FROM c),
      |f AS (SELECT n, s, CAST(n AS HUGEINT) * q - s * s AS num FROM agg)
      |SELECT n, CAST(s AS VARCHAR) AS sum_events,
      |  CASE WHEN n > 1 AND s > 0 THEN
      |    CAST(CAST(num AS BIGINT) AS DOUBLE)
      |      / (CAST(n - 1 AS DOUBLE) * CAST(CAST(s AS BIGINT) AS DOUBLE))
      |  END AS dispersion,
      |  CASE WHEN n > 1 AND s > 0 THEN
      |    CAST(CAST(num AS BIGINT) AS DOUBLE) / CAST(CAST(s AS BIGINT) AS DOUBLE)
      |  END AS chi2,
      |  n - 1 AS df
      |FROM f""".stripMargin

  /** Sample-ratio-mismatch gate on the deterministic 50/50 user split
    * ([[graft.analytics.Hypothesis.srmCheck]]): exact-integer χ² against
    * equal allocation — the first experiment-validity check.
    */
  private def srmCheckQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.srmCheck(
      Tables.events(s, dir), col("user_id"), seed = "exp1")

  private val srmCheckOracle = {
    val u32 = graft.queries.OracleSql.md5U32Sql(
      "'srm:exp1:' || CAST(u AS VARCHAR)")
    s"""WITH units AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS u FROM events),
       |arms AS (SELECT ($u32) % 2 AS arm FROM units),
       |agg AS (SELECT
       |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM arms)
       |SELECT n_a, n_b,
       |  CASE WHEN n_a + n_b > 0 THEN
       |    CAST(CAST((n_a - n_b) AS HUGEINT) * (n_a - n_b) AS DOUBLE)
       |      / CAST(n_a + n_b AS DOUBLE)
       |  END AS chi2,
       |  CASE WHEN n_a + n_b > 0 THEN
       |    (CAST(CAST((n_a - n_b) AS HUGEINT) * (n_a - n_b) AS DOUBLE)
       |      / CAST(n_a + n_b AS DOUBLE)) > CAST(3.841458820694124 AS DOUBLE)
       |  END AS srm_detected
       |FROM agg""".stripMargin
  }

  /** Chapman capture–recapture estimate of the active-user population
    * from two days' sightings
    * ([[graft.analytics.Hypothesis.captureRecapture]]): exact DECIMAL
    * products, N̂ and SE single fixed-order expressions.
    */
  private def captureRecaptureQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.analytics.Hypothesis.captureRecapture(
      ev.filter(to_date(col("ts")) === lit("2024-01-22").cast("date")),
      ev.filter(to_date(col("ts")) === lit("2024-01-23").cast("date")),
      "user_id")
  }

  private val captureRecaptureOracle =
    """WITH a AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS id FROM events
      |  WHERE CAST(ts AS DATE) = DATE '2024-01-22'),
      |b AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS id FROM events
      |  WHERE CAST(ts AS DATE) = DATE '2024-01-23'),
      |t AS (SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM a) AS n1,
      |  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n2,
      |  (SELECT CAST(count(*) AS BIGINT) FROM a SEMI JOIN b USING (id))
      |    AS m_both)
      |SELECT n1, n2, m_both,
      |  CAST(CAST((n1 + 1) AS HUGEINT) * (n2 + 1) AS DOUBLE)
      |    / CAST(m_both + 1 AS DOUBLE) - CAST(1 AS DOUBLE) AS n_hat,
      |  CASE WHEN n1 >= m_both AND n2 >= m_both THEN
      |    sqrt(CAST(CAST((n1 + 1) AS HUGEINT) * (n2 + 1) * (n1 - m_both)
      |        * (n2 - m_both) AS DOUBLE)
      |      / CAST(CAST((m_both + 1) AS HUGEINT) * (m_both + 1)
      |        * (m_both + 2) AS DOUBLE))
      |  END AS se
      |FROM t""".stripMargin

  /** Hashed-vocabulary distribution drift between corpus halves
    * ([[graft.analytics.Drift.jensenShannon]] over md5-hashed token
    * buckets, micro-nat grid — the coarser grid is load-bearing: 512 ln
    * floors at pico resolution would flip cells on 1-ulp engine
    * divergence): the token-level domain-shift readout between sources.
    */
  private def vocabDriftQ(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select((col("source") < "src2").as("__a"),
        pmod(graft.functions.Md5Field.md5U32(concat(lit("vd:"), col("tok"))),
          lit(256L)).as("bucket"))
    graft.analytics.Drift.jensenShannon(toks, "bucket", col("__a"),
      bucketWidth = 1L, nBuckets = 256, gridScale = 1e6)
  }

  private val vocabDriftOracle = {
    val u32 = graft.queries.OracleSql.md5U32Sql("'vd:' || tok")
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split_regex(text, '\\s+')) AS tok
       |  FROM documents),
       |b AS (
       |  SELECT least(greatest(($u32) % 256, 0), 255) AS bucket,
       |    source < 'src2' AS a
       |  FROM toks WHERE tok <> ''),
       |c AS (SELECT bucket,
       |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM b GROUP BY bucket),
       |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
       |  CAST(sum(n_b) AS BIGINT) AS tb FROM c),
       |d AS (SELECT bucket, n_a, n_b, ta, tb,
       |  CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
       |  CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS q
       |  FROM c CROSS JOIN t),
       |s AS (SELECT max(ta) AS n_a, max(tb) AS n_b,
       |  sum(CASE WHEN n_a > 0 THEN CAST(n_a AS HUGEINT) *
       |      CAST(floor(ln(p / ((p + q) / CAST(2 AS DOUBLE))) * 1e6) AS BIGINT)
       |    ELSE CAST(0 AS HUGEINT) END) AS qa,
       |  sum(CASE WHEN n_b > 0 THEN CAST(n_b AS HUGEINT) *
       |      CAST(floor(ln(q / ((p + q) / CAST(2 AS DOUBLE))) * 1e6) AS BIGINT)
       |    ELSE CAST(0 AS HUGEINT) END) AS qb
       |  FROM d),
       |f AS (SELECT n_a, n_b,
       |  CASE WHEN n_a > 0 THEN
       |    CAST(CAST(qa AS BIGINT) AS DOUBLE)
       |      / (CAST(n_a AS DOUBLE) * 1e6) END AS kl_a,
       |  CASE WHEN n_b > 0 THEN
       |    CAST(CAST(qb AS BIGINT) AS DOUBLE)
       |      / (CAST(n_b AS DOUBLE) * 1e6) END AS kl_b
       |  FROM s)
       |SELECT n_a, n_b, kl_a, kl_b,
       |  CASE WHEN n_a > 0 AND n_b > 0 THEN
       |    CAST(0.5 AS DOUBLE) * kl_a + CAST(0.5 AS DOUBLE) * kl_b
       |  END AS jsd_nats,
       |  (CASE WHEN n_a > 0 AND n_b > 0 THEN
       |    CAST(0.5 AS DOUBLE) * kl_a + CAST(0.5 AS DOUBLE) * kl_b
       |  END) / ln(CAST(2 AS DOUBLE)) AS jsd_bits
       |FROM f""".stripMargin
  }

  /** Centroid-based silhouette of the labeled embedding clusters
    * ([[graft.sim.Similarity.centroidSilhouette]]): 8-decimal-pinned
    * centroids, sequential-fold distances, floor-micro-quantized per-point
    * scores so the cluster means are exact-integer ratios.
    */
  private def silhouetteQ(s: SparkSession, dir: String): DataFrame =
    graft.sim.Similarity.centroidSilhouette(Tables.embeddings(s, dir))
      .orderBy(col("label"))

  private val silhouetteOracle =
    """WITH v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
      |cent AS (
      |  SELECT label, i AS dim,
      |    round(CAST(CAST(sum(CAST(embedding[i]::DOUBLE AS DECIMAL(28,12)))
      |      AS DECIMAL(28,12)) AS DOUBLE) / count(*), 8) AS c
      |  FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
      |cv AS (SELECT label AS clabel, list(c ORDER BY dim) AS cvec
      |  FROM cent GROUP BY label),
      |d AS (
      |  SELECT v.vec_id, v.label, cv.clabel,
      |    sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i])), (x, y) -> x + y))
      |      AS dist
      |  FROM v CROSS JOIN cv),
      |ab AS (
      |  SELECT vec_id, label,
      |    max(CASE WHEN clabel = label THEN dist END) AS a,
      |    min(CASE WHEN clabel <> label THEN dist END) AS b
      |  FROM d GROUP BY vec_id, label),
      |s AS (
      |  SELECT label,
      |    CASE WHEN greatest(a, b) > CAST(0 AS DOUBLE) THEN
      |      CAST(floor((b - a) / greatest(a, b) * 1e6) AS BIGINT)
      |    ELSE 0 END AS sq
      |  FROM ab)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(sq) AS BIGINT) AS s_sum_micro,
      |  CAST(CAST(sum(sq) AS BIGINT) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE) * 1e6) AS mean_silhouette
      |FROM s GROUP BY label ORDER BY label""".stripMargin

  /** ε = 1 DP count release per event type
    * ([[graft.ops.Privacy.dpCounts]]): truncated-discrete-Laplace noise
    * by exact-integer threshold comparison; the SAME driver-computed
    * threshold literals are interpolated into both engines.
    */
  private def dpCountsQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Privacy.dpCounts(Tables.events(s, dir), col("event_type"),
      epsNum = 1, epsDen = 1, seed = "rel1").orderBy(col("key"))

  private val dpCountsOracle = {
    val th = graft.ops.Privacy.discreteLaplaceThresholds(1, 1)
      .mkString("[", ", ", "]")
    val u32 = graft.queries.OracleSql.md5U32Sql("'dp:rel1:' || key")
    s"""WITH c AS (
       |  SELECT event_type AS key, CAST(count(*) AS BIGINT) AS true_count
       |  FROM events GROUP BY event_type),
       |n AS (SELECT key, true_count,
       |  -20 + CAST(len(list_filter($th, t -> t <= ($u32))) AS BIGINT)
       |    AS noise
       |  FROM c)
       |SELECT key, true_count, noise, true_count + noise AS released
       |FROM n ORDER BY key""".stripMargin
  }

  /** Krippendorff's alpha (nominal) over each user's first ≤ 4 event
    * types ([[graft.analytics.Eval.krippendorffAlpha]]) — agreement with
    * VARYING "raters" per item, exact via lcm-scaled coincidence
    * integers; the Fleiss-kappa companion for ragged labeling runs.
    */
  private def krippendorffQ(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    val ratings = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 4)
    graft.analytics.Eval.krippendorffAlpha(
      ratings, col("user_id"), col("event_type"))
  }

  private val krippendorffOracle =
    """WITH r AS (
      |  SELECT CAST(user_id AS VARCHAR) AS item, event_type AS c
      |  FROM (SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |    FROM events) WHERE rn <= 4),
      |ic AS (SELECT item, c, CAST(count(*) AS BIGINT) AS n_ic
      |  FROM r GROUP BY item, c),
      |m AS (SELECT item, CAST(sum(n_ic) AS BIGINT) AS m_i
      |  FROM ic GROUP BY item),
      |u AS (SELECT ic.item, ic.c, ic.n_ic, m.m_i
      |  FROM ic JOIN m USING (item) WHERE m.m_i >= 2),
      |agg AS (SELECT CAST(sum(n_ic) AS BIGINT) AS n,
      |  CAST(count(DISTINCT item) AS BIGINT) AS n_items,
      |  CAST(count(DISTINCT c) AS BIGINT) AS n_categories,
      |  sum(CAST(n_ic AS HUGEINT) * (n_ic - 1) * (6 // (m_i - 1)))
      |    AS o_diag
      |  FROM u),
      |marg AS (SELECT sum(CAST(n_c AS HUGEINT) * n_c) AS sum_nc2
      |  FROM (SELECT c, CAST(sum(n_ic) AS BIGINT) AS n_c FROM u GROUP BY c)),
      |f AS (SELECT n, n_items, n_categories,
      |  CAST(n AS HUGEINT) * 6 - o_diag AS do_num,
      |  CAST(6 AS HUGEINT) * (CAST(n AS HUGEINT) * n - sum_nc2) AS de_num
      |  FROM agg CROSS JOIN marg)
      |SELECT n AS n_ratings, n_items, n_categories,
      |  CAST(do_num AS VARCHAR) AS do_num,
      |  CAST(de_num AS VARCHAR) AS de_num,
      |  CASE WHEN de_num > 0 THEN
      |    CAST(1 AS DOUBLE) - (CAST(n - 1 AS DOUBLE)
      |        * CAST(CAST(do_num AS BIGINT) AS DOUBLE))
      |      / CAST(CAST(de_num AS BIGINT) AS DOUBLE)
      |  END AS alpha
      |FROM f""".stripMargin

  /** Risk ratio of purchase incidence on weekends vs weekdays
    * ([[graft.analytics.Hypothesis.riskRatio]]) — the incidence-scale
    * companion of q_odds_ratio on the same epoch-day-derived 2×2: RR one
    * division of exact cross products, Katz SE log-free.
    */
  private def riskRatioQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.riskRatio(
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("((unix_micros(ts) div 86400000000) + 4) % 7").as("dow")),
      col("dow") === 6 || col("dow") === 0,
      col("event_type") === "purchase")

  private val riskRatioOracle =
    """WITH e AS (
      |  SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 IN (6, 0) AS r,
      |    event_type = 'purchase' AS c
      |  FROM events),
      |t AS (SELECT
      |  CAST(sum(CASE WHEN r AND c THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |  CAST(sum(CASE WHEN r AND NOT c THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |  CAST(sum(CASE WHEN NOT r AND c THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST(sum(CASE WHEN NOT r AND NOT c THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM e)
      |SELECT a, b, c, d,
      |  CASE WHEN c > 0 AND a + b > 0 THEN
      |    CAST(CAST(a AS HUGEINT) * (c + d) AS DOUBLE)
      |      / CAST(CAST(c AS HUGEINT) * (a + b) AS DOUBLE)
      |  END AS risk_ratio,
      |  CASE WHEN a > 0 AND c > 0 THEN
      |    sqrt(CAST(1 AS DOUBLE) / CAST(a AS DOUBLE)
      |      - CAST(1 AS DOUBLE) / CAST(a + b AS DOUBLE)
      |      + CAST(1 AS DOUBLE) / CAST(c AS DOUBLE)
      |      - CAST(1 AS DOUBLE) / CAST(c + d AS DOUBLE))
      |  END AS se_log_rr
      |FROM t""".stripMargin

  /** Mann–Whitney U between purchase and non-purchase events on
    * cent-scaled values ([[graft.analytics.Hypothesis.mannWhitney]]):
    * tie-aware twice-ranks on the distinct-cents histogram, exact 2U
    * integer, tie-corrected z one fixed-order expression.
    */
  private def mannWhitneyQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.mannWhitney(
      Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
      col("event_type") === "purchase", "cents")

  private val mannWhitneyOracle =
    """WITH e AS (
      |  SELECT (event_type = 'purchase') AS a,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |v AS (SELECT cents,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS d_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS d_b
      |  FROM e GROUP BY cents),
      |r AS (SELECT d_a, d_b, d_a + d_b AS cnt,
      |  2 * (sum(d_a + d_b) OVER (ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (d_a + d_b))
      |    + (d_a + d_b) + 1 AS trank
      |  FROM v),
      |agg AS (SELECT CAST(sum(d_a) AS BIGINT) AS n_a,
      |  CAST(sum(d_b) AS BIGINT) AS n_b,
      |  sum(CAST(d_a AS HUGEINT) * trank) AS sr2_a,
      |  sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_dec
      |  FROM r),
      |f AS (SELECT n_a, n_b,
      |  sr2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2,
      |  CAST(CAST(tie_dec AS BIGINT) AS DOUBLE) AS tie_d,
      |  CAST(n_a + n_b AS DOUBLE) AS nd
      |  FROM agg),
      |g AS (SELECT n_a, n_b, u2, CASE WHEN n_a > 0 AND n_b > 0
      |    AND n_a + n_b > 1 THEN
      |  CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE)
      |    * ((nd + CAST(1 AS DOUBLE)) - tie_d / (nd * (nd - CAST(1 AS DOUBLE))))
      |  END AS var_u
      |  FROM f)
      |SELECT n_a, n_b, CAST(u2 AS VARCHAR) AS u2_num,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(CAST(u2 AS BIGINT) AS DOUBLE) / CAST(2 AS DOUBLE)
      |  END AS u_a,
      |  CASE WHEN var_u > CAST(0 AS DOUBLE) THEN
      |    (CAST(CAST(u2 AS BIGINT) AS DOUBLE)
      |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      |    / (CAST(2 AS DOUBLE) * sqrt(var_u))
      |  END AS z
      |FROM g""".stripMargin

  /** Cliff's delta between purchase and non-purchase event values
    * ([[graft.analytics.Hypothesis.cliffsDelta]]) — the effect-size
    * companion of q_mann_whitney on the same histogram: concordance
    * counts exact DECIMAL, δ one division, conventional bands.
    */
  private def cliffsDeltaQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.cliffsDelta(
      Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
      col("event_type") === "purchase", "cents")

  private val cliffsDeltaOracle =
    """WITH e AS (
      |  SELECT (event_type = 'purchase') AS a,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |v AS (SELECT cents,
      |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS d_a,
      |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS d_b
      |  FROM e GROUP BY cents),
      |c AS (SELECT d_a, d_b,
      |  CAST(sum(d_b) OVER (ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
      |  FROM v),
      |agg AS (SELECT CAST(sum(d_a) AS BIGINT) AS n_a,
      |  CAST(sum(d_b) AS BIGINT) AS n_b,
      |  sum(CAST(d_a AS HUGEINT) * (cb - d_b)) AS gt_dec,
      |  sum(CAST(d_a AS HUGEINT) * d_b) AS tie_dec
      |  FROM c),
      |f AS (SELECT n_a, n_b, gt_dec,
      |  CAST(n_a AS HUGEINT) * n_b - gt_dec - tie_dec AS lt_dec
      |  FROM agg),
      |g AS (SELECT n_a, n_b, gt_dec, lt_dec,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(CAST(gt_dec - lt_dec AS BIGINT) AS DOUBLE)
      |      / CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS BIGINT) AS DOUBLE)
      |  END AS delta
      |  FROM f)
      |SELECT n_a, n_b, CAST(gt_dec AS VARCHAR) AS gt_num,
      |  CAST(lt_dec AS VARCHAR) AS lt_num, delta,
      |  CASE WHEN delta IS NOT NULL THEN
      |    CASE WHEN abs(delta) < CAST(0.147 AS DOUBLE) THEN 'negligible'
      |         WHEN abs(delta) < CAST(0.33 AS DOUBLE) THEN 'small'
      |         WHEN abs(delta) < CAST(0.474 AS DOUBLE) THEN 'medium'
      |         ELSE 'large' END
      |  END AS magnitude
      |FROM g""".stripMargin

  /** Cochran–Armitage trend of order-fill rate across the five ordered
    * priority tiers ([[graft.analytics.Hypothesis.cochranArmitage]]):
    * exact DECIMAL t/var numerators as canonical strings, z one
    * fixed-order expression.
    */
  private def cochranArmitageQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.cochranArmitage(
      Tables.orders(s, dir),
      substring(col("o_orderpriority"), 1, 1).cast("long"),
      col("o_orderstatus") === "F")

  private val cochranArmitageOracle =
    """WITH o AS (
      |  SELECT CAST(o_orderpriority[1:1] AS BIGINT) AS s,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |g AS (SELECT s, CAST(count(*) AS BIGINT) AS n_i,
      |  CAST(sum(y) AS BIGINT) AS r_i
      |  FROM o GROUP BY s),
      |agg AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS k, CAST(sum(r_i) AS BIGINT) AS r,
      |  sum(CAST(s AS HUGEINT) * r_i) AS ssr,
      |  sum(CAST(s AS HUGEINT) * n_i) AS ssn,
      |  sum(CAST(s AS HUGEINT) * s * n_i) AS ss2n
      |  FROM g),
      |f AS (SELECT n, k,
      |  CAST(n AS HUGEINT) * ssr - CAST(r AS HUGEINT) * ssn AS t_num,
      |  CAST(r AS HUGEINT) * (n - r)
      |    * (CAST(n AS HUGEINT) * ss2n - ssn * ssn) AS var_num
      |  FROM agg)
      |SELECT n, k, CAST(t_num AS VARCHAR) AS t_num,
      |  CAST(var_num AS VARCHAR) AS var_num,
      |  CASE WHEN var_num > 0 AND n > 0 THEN
      |    CAST(CAST(t_num AS BIGINT) AS DOUBLE)
      |    / sqrt(CAST(CAST(var_num AS BIGINT) AS DOUBLE) / CAST(n AS DOUBLE))
      |  END AS z
      |FROM f""".stripMargin

  /** Benjamini–Hochberg FDR selection at α = 1/10 over a 25-hypothesis
    * family keyed by nation ([[graft.analytics.Hypothesis.benjaminiHochberg]]):
    * p-values are the exact rational md5 uniforms u/2³², so the step-up
    * boundary cross-multiplies in exact DECIMAL — the operator under
    * test is the selection fold, with reproducible inputs.
    */
  private def bhFdrQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Hypothesis.benjaminiHochberg(
      Tables.nation(s, dir).select(col("n_name"),
        graft.functions.Md5Field.md5U32(concat(lit("bh:"), col("n_name")))
          .as("p_num")),
      col("n_name"), col("p_num"),
      pDen = 4294967296L, alphaNum = 1L, alphaDen = 10L)
      .orderBy(col("rank"))

  private val bhFdrOracle = {
    val u32 = graft.queries.OracleSql.md5U32Sql("'bh:' || n_name")
    s"""WITH h AS (SELECT n_name AS id, $u32 AS p_num FROM nation),
       |r AS (SELECT id, p_num,
       |  CAST(row_number() OVER (ORDER BY p_num, id) AS BIGINT) AS rank,
       |  CAST(count(*) OVER () AS BIGINT) AS m
       |  FROM h),
       |ks AS (SELECT max(CASE WHEN CAST(p_num AS HUGEINT) * m * 10
       |      <= CAST(rank AS HUGEINT) * 1 * 4294967296 THEN rank
       |    ELSE 0 END) AS k_star
       |  FROM r)
       |SELECT id,
       |  CAST(p_num AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS p,
       |  rank, m, rank <= k_star AS rejected
       |FROM r CROSS JOIN ks ORDER BY rank""".stripMargin
  }

  /** Delete-one-nation jackknife SE of mean order value
    * ([[graft.analytics.Bootstrap.jackknifeGroupRatio]]): exact per-nation
    * integer sums, leave-one-out ratios folded on the ordered 25-row
    * group frame (max_by last row), SE one fixed-order expression.
    */
  private def jackknifeQ(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Bootstrap.jackknifeGroupRatio(
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey")),
      col("c_nationkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))

  private val jackknifeOracle =
    """WITH x AS (
      |  SELECT CAST(c_nationkey AS VARCHAR) AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
      |  sum(CAST(x AS HUGEINT)) AS s_i
      |  FROM x GROUP BY grp),
      |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS g_cnt, sum(s_i) AS s_all FROM g),
      |th AS (SELECT grp, n, g_cnt, s_all,
      |  CAST(CAST(s_all - s_i AS BIGINT) AS DOUBLE)
      |    / CAST(n - n_i AS DOUBLE) AS th
      |  FROM g CROSS JOIN t WHERE n > n_i),
      |c AS (SELECT grp, n, g_cnt, s_all,
      |  sum(th) OVER (ORDER BY grp
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cth,
      |  sum(th * th) OVER (ORDER BY grp
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cth2
      |  FROM th),
      |f AS (SELECT max(n) AS n, max(g_cnt) AS g, max(s_all) AS s_all,
      |  max_by(cth, grp) AS sth, max_by(cth2, grp) AS sth2
      |  FROM c)
      |SELECT n, g,
      |  CASE WHEN n > 0 THEN CAST(CAST(s_all AS BIGINT) AS DOUBLE)
      |    / CAST(n AS DOUBLE) END AS theta,
      |  CASE WHEN g > 1 AND sth2 - sth * sth / CAST(g AS DOUBLE)
      |      >= CAST(0 AS DOUBLE) THEN
      |    sqrt((CAST(g AS DOUBLE) - CAST(1 AS DOUBLE)) / CAST(g AS DOUBLE)
      |      * (sth2 - sth * sth / CAST(g AS DOUBLE)))
      |  END AS se_jack
      |FROM f""".stripMargin

  /** ROUGE-1/2 corpus components over the planted candidate/reference
    * pairs ([[graft.text.BleuScore.rougeN]]): clipped matches, both gram
    * totals, and P/R/F1 as gated divisions of exact integers (F1 =
    * 2·match/(cand+ref), one division).
    */
  private def rougeQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val near = docs.filter(col("doc_id") % 10 === 1)
      .select(col("doc_id").as("pair_id"),
        concat(lit("zqxnear "), col("text")).as("cand"), col("text").as("ref"))
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000L).as("pair_id"),
        col("text").as("cand"), col("text").as("ref"))
    graft.text.BleuScore.rougeN(
      near.unionByName(copies), "pair_id", "cand", "ref")
  }

  private val rougeOracle =
    """WITH pairs AS (
      |  SELECT doc_id AS pair_id, 'zqxnear ' || text AS cand, text AS ref
      |  FROM documents WHERE doc_id % 10 = 1
      |  UNION ALL
      |  SELECT doc_id + 500000, text, text FROM documents WHERE doc_id % 10 = 0),
      |tok AS (
      |  SELECT pair_id, string_split_regex(cand, '\s+') AS ct,
      |    string_split_regex(ref, '\s+') AS rt
      |  FROM pairs),
      |ns AS (SELECT unnest([1, 2]) AS n),
      |cg AS (
      |  SELECT pair_id, n, unnest(CASE WHEN len(ct) >= n
      |      THEN list_transform(range(1, len(ct) - n + 2),
      |        i -> array_to_string(ct[i:i+n-1], ' '))
      |      ELSE [] END) AS gram
      |  FROM tok CROSS JOIN ns),
      |cc AS (SELECT pair_id, n, gram, CAST(count(*) AS BIGINT) AS c_cand
      |  FROM cg GROUP BY 1, 2, 3),
      |rg AS (
      |  SELECT pair_id, n, unnest(CASE WHEN len(rt) >= n
      |      THEN list_transform(range(1, len(rt) - n + 2),
      |        i -> array_to_string(rt[i:i+n-1], ' '))
      |      ELSE [] END) AS gram
      |  FROM tok CROSS JOIN ns),
      |rc AS (SELECT pair_id, n, gram, CAST(count(*) AS BIGINT) AS c_ref
      |  FROM rg GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT COALESCE(cc.n, rc.n) AS n,
      |    COALESCE(cc.c_cand, 0) AS cc2, COALESCE(rc.c_ref, 0) AS cr2
      |  FROM cc FULL JOIN rc
      |    ON rc.pair_id = cc.pair_id AND rc.n = cc.n AND rc.gram = cc.gram),
      |pn AS (
      |  SELECT n, CAST(sum(least(cc2, cr2)) AS BIGINT) AS match_cnt,
      |    CAST(sum(cc2) AS BIGINT) AS cand_cnt,
      |    CAST(sum(cr2) AS BIGINT) AS ref_cnt
      |  FROM j GROUP BY n)
      |SELECT n, match_cnt, cand_cnt, ref_cnt,
      |  CASE WHEN cand_cnt > 0
      |    THEN CAST(match_cnt AS DOUBLE) / CAST(cand_cnt AS DOUBLE)
      |  END AS rouge_p,
      |  CASE WHEN ref_cnt > 0
      |    THEN CAST(match_cnt AS DOUBLE) / CAST(ref_cnt AS DOUBLE)
      |  END AS rouge_r,
      |  CASE WHEN cand_cnt + ref_cnt > 0
      |    THEN CAST(match_cnt * 2 AS DOUBLE)
      |      / CAST(cand_cnt + ref_cnt AS DOUBLE)
      |  END AS rouge_f1
      |FROM pn ORDER BY n""".stripMargin

  /** Encoding-corruption audit over a corpus with PLANTED mojibake
    * ([[graft.text.TextAnalysis.encodingAudit]]): docs with id % 7 == 3
    * get their 'e's double-encoded to "Ã©" and docs with id % 13 == 5
    * gain a U+FFFD — the audit must find exactly those, per source,
    * by literal byte-signature containment.
    */
  private def mojibakeQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("text",
        when(col("doc_id") % 7 === 3,
          regexp_replace(col("text"), "e", "Ã©"))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 13 === 5, concat(col("text"), lit(" �")))
          .otherwise(col("text")))
    graft.text.TextAnalysis.encodingAudit(docs).orderBy(col("segment"))
  }

  private val mojibakeOracle =
    """WITH d AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 13 = 5 THEN
      |      (CASE WHEN doc_id % 7 = 3 THEN replace(text, 'e', 'Ã©')
      |        ELSE text END) || ' �'
      |    ELSE (CASE WHEN doc_id % 7 = 3 THEN replace(text, 'e', 'Ã©')
      |      ELSE text END) END AS text
      |  FROM documents)
      |SELECT source AS segment, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN contains(text, '�') THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_replacement,
      |  CAST(sum(CASE WHEN contains(text, 'Ã©') THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_latin1_e,
      |  CAST(sum(CASE WHEN contains(text, 'Ã±') THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_latin1_n,
      |  CAST(sum(CASE WHEN contains(text, 'â€') THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_punct_wreck,
      |  CAST(sum(CASE WHEN contains(text, '�') OR contains(text, 'Ã©')
      |      OR contains(text, 'Ã±') OR contains(text, 'â€')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
      |  CASE WHEN count(*) > 0 THEN
      |    CAST(CAST(sum(CASE WHEN contains(text, '�') OR contains(text, 'Ã©')
      |        OR contains(text, 'Ã±') OR contains(text, 'â€')
      |      THEN 1 ELSE 0 END) * 1000 AS BIGINT) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE)
      |  END AS suspect_permille
      |FROM d GROUP BY source ORDER BY segment""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bowley_skew" -> (bowleyQ _),
    "q_trimmed_mean" -> (trimmedMeanQ _),
    "q_exp_fit" -> (expFitQ _),
    "q_xcorr" -> (xcorrQ _),
    "q_entropy_rate" -> (entropyRateQ _),
    "q_burstiness" -> (burstinessQ _),
    "q_perm_entropy" -> (permEntropyQ _),
    "q_gumbel_fit" -> (gumbelFitQ _),
    "q_odds_ratio" -> (oddsRatioQ _),
    "q_hellinger" -> (hellingerQ _),
    "q_cvm" -> (cvmQ _),
    "q_rate_test" -> (rateTestQ _),
    "q_pacf" -> (pacfQ _),
    "q_drawdown" -> (drawdownQ _),
    "q_psi" -> (psiQ _),
    "q_icc" -> (iccQ _),
    "q_power_analysis" -> (powerQ _),
    "q_welch_t" -> (welchTQ _),
    "q_runs_test" -> (runsTestQ _),
    "q_cronbach_alpha" -> (cronbachQ _),
    "q_levene" -> (leveneQ _),
    "q_tukey_hsd" -> (tukeyQ _),
    "q_partial_corr" -> (partialCorrQ _),
    "q_jensen_shannon" -> (jensenShannonQ _),
    "q_kruskal_wallis" -> (kruskalWallisQ _),
    "q_mann_whitney" -> (mannWhitneyQ _),
    "q_cliffs_delta" -> (cliffsDeltaQ _),
    "q_risk_ratio" -> (riskRatioQ _),
    "q_nelson_aalen" -> (nelsonAalenQ _),
    "q_logrank" -> (logRankQ _),
    "q_smd_balance" -> (smdBalanceQ _),
    "q_neyman_alloc" -> (neymanAllocQ _),
    "q_special_tokens" -> (specialTokensQ _),
    "q_fim_split" -> (fimSplitQ _),
    "q_overdispersion" -> (overdispersionQ _),
    "q_srm_check" -> (srmCheckQ _),
    "q_capture_recapture" -> (captureRecaptureQ _),
    "q_vocab_drift" -> (vocabDriftQ _),
    "q_silhouette" -> (silhouetteQ _),
    "q_dp_counts" -> (dpCountsQ _),
    "q_krippendorff" -> (krippendorffQ _),
    "q_cochran_armitage" -> (cochranArmitageQ _),
    "q_bh_fdr" -> (bhFdrQ _),
    "q_jackknife" -> (jackknifeQ _),
    "q_rouge_n" -> (rougeQ _),
    "q_mojibake" -> (mojibakeQ _),
    "q_anova_f" -> (anovaFQ _),
    "q_mutual_info" -> (mutualInfoQ _),
    "q_cvar" -> (cvarQ _),
    "q_auc" -> (aucQ _),
    "q_ks_test" -> (ksQ _),
    "q_eval_metrics" -> (evalMetricsQ _),
    "q_gini_coefficient" -> (giniCoeffQ _),
    "q_randomized_response" -> (randomizedResponseQ _),
    "q_auc_grouped" -> (aucGroupedQ _),
    "q_acf" -> (acfQ _),
    "q_clustering_coeff" -> (clusteringCoeffQ _),
    "q_bfs_hops" -> (bfsHopsQ _),
    "q_bleu" -> (bleuQ _),
    "q_bootstrap_ci" -> (bootstrapCiQ _),
    "q_hyperball" -> (hyperballQ _),
    "q_target_encode" -> (targetEncodeQ _),
    "q_feature_hash" -> (featureHashQ _),
    "q_postings_incremental" -> (postingsIncrementalQ _),
    "q_kaplan_meier" -> (kaplanMeierQ _),
    "q_ndcg" -> (ndcgQ _),
    "q_matched_pairs" -> (matchedPairsQ _),
    "q_modularity" -> (modularityQ _),
    "q_brier" -> (brierQ _),
    "q_mcc" -> (mccQ _),
    "q_ece" -> (eceQ _),
    "q_cohens_d" -> (cohensDQ _),
    "q_label_errors" -> (labelErrorsQ _),
    "q_cramers_v" -> (cramersVQ _),
    "q_average_precision" -> (avgPrecisionQ _),
    "q_fleiss_kappa" -> (fleissKappaQ _),
    "q_conformal" -> (conformalQ _),
    "q_regression_metrics" -> (regressionMetricsQ _),
    "q_rfm" -> (rfmQ _),
    "q_profile_drift" -> (profileDriftQ _),
    "q_stream_eval" -> (streamEvalQ _),
    "q_shortest_paths" -> (shortestPathsQ _),
    "q_consistent_sample" -> (consistentSampleQ _),
    "q_wilson_ci" -> (wilsonCiQ _),
    "q_scaler" -> (scalerQ _),
    "q_att_matched" -> (attMatchedQ _),
    "q_mrr" -> (mrrQ _),
    "q_weak_ties" -> (weakTiesQ _),
    "q_gains_curve" -> (gainsCurveQ _),
    "q_auc_delong" -> (aucDelongQ _),
    "q_hist_overlap" -> (histOverlapQ _),
    "q_mcnemar" -> (mcnemarQ _),
    "q_cohens_kappa" -> (cohensKappaQ _),
    "q_lorenz" -> (lorenzQ _))

  val oracles: Map[String, String] = Map(
    "q_bowley_skew" -> bowleyOracle,
    "q_trimmed_mean" -> trimmedMeanOracle,
    "q_exp_fit" -> expFitOracle,
    "q_xcorr" -> xcorrOracle,
    "q_entropy_rate" -> entropyRateOracle,
    "q_burstiness" -> burstinessOracle,
    "q_perm_entropy" -> permEntropyOracle,
    "q_gumbel_fit" -> gumbelFitOracle,
    "q_odds_ratio" -> oddsRatioOracle,
    "q_hellinger" -> hellingerOracle,
    "q_cvm" -> cvmOracle,
    "q_rate_test" -> rateTestOracle,
    "q_pacf" -> pacfOracle,
    "q_drawdown" -> drawdownOracle,
    "q_psi" -> psiOracle,
    "q_icc" -> iccOracle,
    "q_power_analysis" -> powerOracle,
    "q_welch_t" -> welchTOracle,
    "q_runs_test" -> runsTestOracle,
    "q_cronbach_alpha" -> cronbachOracle,
    "q_levene" -> leveneOracle,
    "q_tukey_hsd" -> tukeyOracle,
    "q_partial_corr" -> partialCorrOracle,
    "q_jensen_shannon" -> jensenShannonOracle,
    "q_kruskal_wallis" -> kruskalWallisOracle,
    "q_mann_whitney" -> mannWhitneyOracle,
    "q_cliffs_delta" -> cliffsDeltaOracle,
    "q_risk_ratio" -> riskRatioOracle,
    "q_nelson_aalen" -> nelsonAalenOracle,
    "q_logrank" -> logRankOracle,
    "q_smd_balance" -> smdBalanceOracle,
    "q_neyman_alloc" -> neymanAllocOracle,
    "q_special_tokens" -> specialTokensOracle,
    "q_fim_split" -> fimSplitOracle,
    "q_overdispersion" -> overdispersionOracle,
    "q_srm_check" -> srmCheckOracle,
    "q_capture_recapture" -> captureRecaptureOracle,
    "q_vocab_drift" -> vocabDriftOracle,
    "q_silhouette" -> silhouetteOracle,
    "q_dp_counts" -> dpCountsOracle,
    "q_krippendorff" -> krippendorffOracle,
    "q_cochran_armitage" -> cochranArmitageOracle,
    "q_bh_fdr" -> bhFdrOracle,
    "q_jackknife" -> jackknifeOracle,
    "q_rouge_n" -> rougeOracle,
    "q_mojibake" -> mojibakeOracle,
    "q_anova_f" -> anovaFOracle,
    "q_mutual_info" -> mutualInfoOracle,
    "q_cvar" -> cvarOracle,
    "q_auc" -> aucOracle,
    "q_ks_test" -> ksOracle,
    "q_eval_metrics" -> evalMetricsOracle,
    "q_gini_coefficient" -> giniCoeffOracle,
    "q_randomized_response" -> randomizedResponseOracle,
    "q_auc_grouped" -> aucGroupedOracle,
    "q_acf" -> acfOracle,
    "q_clustering_coeff" -> clusteringCoeffOracle,
    "q_bfs_hops" -> bfsHopsOracle,
    "q_bleu" -> bleuOracle,
    "q_bootstrap_ci" -> bootstrapCiOracle,
    "q_hyperball" -> hyperballOracle,
    "q_target_encode" -> targetEncodeOracle,
    "q_feature_hash" -> featureHashOracle,
    "q_postings_incremental" -> postingsIncrementalOracle,
    "q_kaplan_meier" -> kaplanMeierOracle,
    "q_ndcg" -> ndcgOracle,
    "q_matched_pairs" -> matchedPairsOracle,
    "q_modularity" -> modularityOracle,
    "q_brier" -> brierOracle,
    "q_mcc" -> mccOracle,
    "q_ece" -> eceOracle,
    "q_cohens_d" -> cohensDOracle,
    "q_label_errors" -> labelErrorsOracle,
    "q_cramers_v" -> cramersVOracle,
    "q_average_precision" -> avgPrecisionOracle,
    "q_fleiss_kappa" -> fleissKappaOracle,
    "q_conformal" -> conformalOracle,
    "q_regression_metrics" -> regressionMetricsOracle,
    "q_rfm" -> rfmOracle,
    "q_profile_drift" -> profileDriftOracle,
    "q_stream_eval" -> evalMetricsOracle,
    "q_shortest_paths" -> shortestPathsOracle,
    "q_consistent_sample" -> consistentSampleOracle,
    "q_wilson_ci" -> wilsonCiOracle,
    "q_scaler" -> scalerOracle,
    "q_att_matched" -> attMatchedOracle,
    "q_mrr" -> mrrOracle,
    "q_weak_ties" -> weakTiesOracle,
    "q_gains_curve" -> gainsCurveOracle,
    "q_auc_delong" -> aucDelongOracle,
    "q_hist_overlap" -> histOverlapOracle,
    "q_mcnemar" -> mcnemarOracle,
    "q_cohens_kappa" -> cohensKappaOracle,
    "q_lorenz" -> lorenzOracle)
}
