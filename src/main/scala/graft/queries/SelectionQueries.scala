package graft.queries

import graft.Anchor._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-selection / ML-ops operators for training-pipeline curation: DSIR
  * importance weighting ([[graft.text.Dsir]]), seeded negative sampling
  * ([[graft.ops.Sampling.negativeSample]]), vocabulary OOV auditing
  * ([[graft.text.Vocab]]), epoch-seeded global shuffling and decile
  * calibration (both on the scale-safe [[graft.ops.StableIds]] rank),
  * leakage-aware temporal splits, grouped k-fold assignment, and
  * class-balanced oversampling. Oracles replicate the exact integer
  * machinery (md5 uniform, power-of-two log quantization via
  * `length(bin(n))`, cross-multiplied gates) in DuckDB; where the operator
  * exists to avoid a single-task global window, the naive window form IS
  * the oracle.
  */
object SelectionQueries {

  /** DSIR importance scores toward the `src0` domain: hashed-bigram buckets,
    * quantized log-ratio weights, exact BIGINT per-doc scores.
    */
  private def dsirQ(s: SparkSession, dir: String): DataFrame =
    // kernel pin (r16 A/B x3: base 0.87-0.99 s steady vs pin8 0.44-0.55,
    // exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, Tables.documents(s, dir)) {
      graft.text.Dsir.docScores(Tables.documents(s, dir), "src0")
        .orderBy(col("doc_id"))
        .anchor(Bound.PerEntity)
    }

  private val dsirOracle = {
    val u32 = OracleSql.md5U32Sql("bigram")
    s"""WITH tok AS (
      |  SELECT doc_id, source, string_split_regex(text, '\\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, source, w1 || ' ' || w2 AS bigram
      |  FROM (SELECT doc_id, source,
      |      unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      |    FROM tok WHERE len(t) >= 2)),
      |bk AS (
      |  SELECT doc_id, source, CAST($u32 % 256 AS BIGINT) AS bucket FROM bg),
      |w AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt,
      |    CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS raw_cnt
      |  FROM bk GROUP BY bucket),
      |ww AS (
      |  SELECT bucket,
      |    CAST(length(bin(tgt_cnt + 1)) - length(bin(raw_cnt + 1)) AS BIGINT) AS weight
      |  FROM w),
      |sc AS (
      |  SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(weight) AS BIGINT) AS score
      |  FROM bk JOIN ww USING (bucket) GROUP BY bk.doc_id)
      |SELECT d.doc_id, d.source,
      |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
      |  coalesce(sc.score, 0) AS score
      |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin
  }

  /** Seeded negatives for recommender training: per customer, the first 3
    * surviving probes over the part catalog, positives = ordered parts.
    */
  private def negativeSampleQ(s: SparkSession, dir: String): DataFrame = {
    val positives = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item"))
    val catalog = Tables.part(s, dir).select(col("p_partkey"))
    graft.ops.Sampling.negativeSample(positives, catalog)
      .orderBy(col("user_id"), col("probe_idx"))
  }

  private val negativeSampleOracle = {
    // the probe column must NOT be named `i`: md5U32Sql's list_transform
    // lambda variable is `i` and would shadow it inside the hash expression
    val u32 = OracleSql.md5U32Sql(
      "'neg:' || CAST(user_id AS VARCHAR) || ':' || CAST(pidx AS VARCHAR)")
    s"""WITH pos AS (
      |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |st AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_items,
      |    CAST(min(p_partkey) AS BIGINT) AS min_item FROM part),
      |users AS (SELECT DISTINCT user_id FROM pos),
      |cand AS (
      |  SELECT user_id, CAST(pidx AS INTEGER) AS probe_idx,
      |    min_item + ($u32) % n_items AS neg_item
      |  FROM users, st, range(0, 12) r(pidx)),
      |dedup AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, neg_item
      |    ORDER BY probe_idx) AS dup FROM cand),
      |surv AS (
      |  SELECT d.user_id, d.neg_item, d.probe_idx
      |  FROM dedup d LEFT JOIN pos p
      |    ON p.user_id = d.user_id AND p.item = d.neg_item
      |  WHERE d.dup = 1 AND p.user_id IS NULL),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY probe_idx) AS rk FROM surv)
      |SELECT user_id, neg_item, probe_idx FROM rk WHERE rk <= 3
      |ORDER BY user_id, probe_idx""".stripMargin
  }

  /** OOV rate per source against the corpus top-500 vocabulary. */
  private def oovRateQ(s: SparkSession, dir: String): DataFrame =
    graft.text.Vocab.oovRate(Tables.documents(s, dir))
      .orderBy(col("source"))

  private val oovRateOracle =
    """WITH tok AS (
      |  SELECT source, unnest(string_split_regex(text, '\s+')) AS term
      |  FROM documents),
      |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
      |voc AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT 500)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE) AS oov_rate
      |FROM tok LEFT JOIN voc v ON tok.term = v.term
      |GROUP BY source ORDER BY source""".stripMargin

  /** Epoch-seeded global training-order shuffle: a deterministic md5
    * permutation materialized as contiguous positions via the scale-safe
    * [[graft.ops.StableIds]] range-partition + zipWithIndex path. The
    * oracle IS the naive single-task `row_number() OVER (ORDER BY md5)` —
    * hash equality proves the distributed form computes the identical
    * permutation. Re-seeding the prefix ("epoch2:…") redraws the epoch.
    */
  private def globalShuffleQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("__k", md5(concat(lit("epoch1:"), col("doc_id").cast("string"))))
    graft.ops.StableIds.withStableIds(docs, Seq("__k", "doc_id"))
      .select(col("doc_id"), col("stable_id").as("shuffle_pos"))
      .orderBy(col("shuffle_pos"))
  }

  private val globalShuffleOracle =
    """SELECT doc_id,
      |  CAST(row_number() OVER (
      |    ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
      |    AS BIGINT) AS shuffle_pos
      |FROM documents ORDER BY shuffle_pos""".stripMargin

  /** Decile calibration audit (model monitoring): rows ranked by a
    * deterministic md5 pseudo-score, cut into ten equal-rank buckets on the
    * scale-safe StableIds rank (the oracle is the naive global row_number),
    * empirical positive rate per decile from exact longs.
    */
  private def calibrationQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"),
        (col("event_type") === "purchase").cast("long").as("label"))
      .withColumn("score",
        graft.functions.Md5Field.md5U32(
          concat(lit("cal:"), col("event_id").cast("string"))))
    val ranked = graft.ops.StableIds.withStableIds(ev, Seq("score", "event_id"))
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("decile", expr("stable_id * 10 div __n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"), sum(col("label")).as("positives"))
      .withColumn("rate",
        col("positives").cast("double") / col("n_rows").cast("double"))
      .orderBy(col("decile"))
  }

  private val calibrationOracle = {
    val u32 = OracleSql.md5U32Sql("'cal:' || CAST(event_id AS VARCHAR)")
    s"""WITH e AS (
      |  SELECT event_id,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
      |    $u32 AS score
      |  FROM events),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (ORDER BY score, event_id) - 1
      |    AS BIGINT) AS pos FROM e),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
      |SELECT CAST(pos * 10 // n AS BIGINT) AS decile,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(label) AS BIGINT) AS positives,
      |  CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rate
      |FROM r, t GROUP BY decile ORDER BY decile""".stripMargin
  }

  /** Leakage-aware temporal split with an embargo gap: train strictly
    * before T₁, test at/after T₂, the [T₁, T₂) gap discarded so
    * forward-looking features computed at train time cannot overlap the
    * test window (the standard time-series CV discipline; a hash split
    * would leak). Pure projection + one aggregate; exact epoch-micro
    * boundaries verify the split did what it claims.
    */
  private def temporalSplitQ(s: SparkSession, dir: String): DataFrame = {
    val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-23 00:00:00").cast("timestamp")
    Tables.events(s, dir)
      .withColumn("split",
        when(col("ts") < t1, "train")
          .when(col("ts") < t2, "embargo")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(unix_micros(col("ts"))).as("min_us"),
        max(unix_micros(col("ts"))).as("max_us"))
      .orderBy(col("split"))
  }

  private val temporalSplitOracle =
    """SELECT CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
      |  WHEN ts < TIMESTAMP '2024-01-23 00:00:00' THEN 'embargo'
      |  ELSE 'test' END AS split,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
      |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
      |FROM events GROUP BY 1 ORDER BY split""".stripMargin

  /** Leakage-safe grouped k-fold assignment: the FOLD is a pure function of
    * the GROUP key (user), so every row of a user lands in one fold — the
    * grouped-CV discipline that stops same-user rows straddling train/test.
    * Fold = md5U32(user) mod k (deterministic, growth-stable); the audit
    * reports per-fold row/user counts and that no user spans folds
    * (max_folds_per_user must be 1).
    */
  private def groupKfoldQ(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val ev = Tables.events(s, dir)
      .withColumn("fold",
        pmod(graft.functions.Md5Field.md5U32(concat(lit("fold:"),
          col("user_id").cast("string"))), lit(k.toLong)))
    val perUser = ev.groupBy(col("user_id"))
      .agg(countDistinct(col("fold")).as("__nf"))
      .agg(max(col("__nf")).as("max_folds_per_user"))
    ev.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(perUser))
      .orderBy(col("fold"))
  }

  private val groupKfoldOracle = {
    val u32 = OracleSql.md5U32Sql("'fold:' || CAST(user_id AS VARCHAR)")
    s"""WITH e AS (
      |  SELECT user_id, ($u32) % 5 AS fold FROM events)
      |SELECT fold, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(1 AS BIGINT) AS max_folds_per_user
      |FROM e GROUP BY fold ORDER BY fold""".stripMargin
  }

  /** Deterministic class-balanced oversampling: every label replicated to
    * the majority count — copies = one `sequence` explode of
    * ceil(max/c) per row, then the exact per-class overshoot is trimmed by
    * the md5-ranked (copy-aware) rank ≤ max cut. All integer arithmetic;
    * the audit reports per-label before/after counts (after must equal the
    * shared majority count).
    */
  private def classBalanceQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("event_type"))
    // class-count frame (metadata, one row per event type) anchors eagerly:
    // it feeds the max aggregate AND the replication join
    val counts = e.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
      .anchor(Bound.Metadata)
    val mx = counts.agg(max(col("c")).as("mx"))
    val replicated = e
      .join(broadcast(counts), Seq("event_type"))
      .crossJoin(broadcast(mx))
      .withColumn("copy",
        explode(sequence(lit(0L), expr("(mx + c - 1) div c - 1"))))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
      .orderBy(col("copy"),
        md5(concat(lit("bal:"), col("event_id").cast("string"))), col("event_id"))
    replicated
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("mx"))
      .groupBy(col("event_type"))
      .agg(min(col("c")).as("n_before"), count(lit(1)).as("n_after"))
      .orderBy(col("event_type"))
  }

  private val classBalanceOracle =
    """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY event_type),
      |m AS (SELECT max(c) AS mx FROM c)
      |SELECT event_type, c AS n_before, mx AS n_after
      |FROM c, m ORDER BY event_type""".stripMargin

  /** Heaps'-law type–token curve at 10 id-checkpoints
    * ([[graft.text.Vocab.heapsCurve]]): vocabulary growth vs corpus growth,
    * every count an exact conditional BIGINT sum over per-token first
    * occurrences — the corpus-saturation audit.
    */
  private def heapsQ(s: SparkSession, dir: String): DataFrame =
    // kernel pin (r16 A/B x3: base 2.9-3.9 s vs pin8 2.7-2.9 in a hostile
    // window — every pin8 reading below every base reading; exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, Tables.documents(s, dir)) {
      graft.text.Vocab.heapsCurve(Tables.documents(s, dir))
        .orderBy(col("checkpoint"))
        .anchor(Bound.Metadata)
    }

  private val heapsOracle =
    """WITH occ AS (
      |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS term
      |  FROM documents),
      |occ2 AS (SELECT * FROM occ WHERE term <> ''),
      |firsts AS (SELECT term, min(id) AS f FROM occ2 GROUP BY term),
      |mx AS (SELECT max(id) AS m FROM occ2),
      |pts AS (SELECT unnest(range(1, 11)) AS i),
      |tok AS (
      |  SELECT i, CAST(sum(CASE WHEN id * 10 <= m * i THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_tokens
      |  FROM occ2, mx, pts GROUP BY i),
      |typ AS (
      |  SELECT i, CAST(sum(CASE WHEN f * 10 <= m * i THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_types
      |  FROM firsts, mx, pts GROUP BY i)
      |SELECT CAST(tok.i AS INTEGER) AS checkpoint, n_tokens, n_types
      |FROM tok JOIN typ ON tok.i = typ.i
      |ORDER BY checkpoint""".stripMargin

  /** Skip-gram (word2vec) training pairs over the subsampled corpus
    * ([[graft.text.SkipGram.pairs]]): window ±2, exact BIGINT
    * cross-multiplied subsample rule, compacted-stream pairing. The oracle
    * replays the identical md5 keep-draw and window join, so the full
    * (center, context, count) table hash-matches — the embedding-training
    * data stage, engine-portable.
    */
  private def skipgramQ(s: SparkSession, dir: String): DataFrame =
    graft.Tables.cachedParquet(s, skipgramPairsParquet(s, dir))
      .orderBy(col("center"), col("context"))

  private val skipgramOracle = {
    val u32 = OracleSql.md5U32Sql(
      "'sg:' || CAST(doc AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")
    s"""WITH tok AS (
       |  SELECT doc_id AS doc, string_split_regex(text, '\\s+') AS t
       |  FROM documents),
       |idx AS (
       |  SELECT doc, t, unnest(range(1, len(t) + 1)) AS i FROM tok),
       |occ AS (
       |  SELECT doc, i - 1 AS pos, t[i] AS w FROM idx WHERE t[i] <> ''),
       |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM occ GROUP BY w),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS N FROM occ),
       |kept0 AS (
       |  SELECT occ.doc, occ.pos, occ.w
       |  FROM occ JOIN freq USING (w), tot
       |  WHERE ($u32) * 100 * f < 1 * N * 4294967296),
       |kept AS (
       |  SELECT doc, w,
       |    CAST(row_number() OVER (PARTITION BY doc ORDER BY pos) AS BIGINT) AS p
       |  FROM kept0),
       |cand AS (
       |  SELECT doc, w AS center, p + unnest([-2, -1, 1, 2]) AS p2 FROM kept)
       |SELECT c.center, k.w AS context, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM cand c JOIN kept k ON k.doc = c.doc AND k.p = c.p2
       |GROUP BY c.center, k.w
       |HAVING count(*) >= 3
       |ORDER BY center, context""".stripMargin
  }

  /** Batch-perceptron training audit ([[graft.text.Perceptron]]): a linear
    * lang-id classifier (y = +1 ⇔ lang = 'en') over 64 hashed bag-of-words
    * buckets, 2 batch rounds — per-round error count, Σ|w| and bias, all
    * exact BIGINTs. The oracle unrolls both rounds (round 1 sees w = 0, so
    * every featured doc errors); hash equality proves in-engine classifier
    * training replays bit-exactly on another engine.
    */
  private def perceptronQ(s: SparkSession, dir: String): DataFrame =
    AnalyticsQueries.withKernelShufflePartitionsFor(s, Tables.documents(s, dir)) {
      val docs = Tables.documents(s, dir)
      val feats = graft.text.Perceptron.features(docs, dim = 64)
      val labels = docs.select(col("doc_id").as("doc"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
      graft.text.Perceptron.trainAudit(feats, labels, dim = 64, rounds = 2)
        .orderBy(col("round"))
    }

  private val perceptronOracle = {
    val u32 = OracleSql.md5U32Sql("w")
    s"""WITH tok AS (
       |  SELECT doc_id AS doc, string_split_regex(text, '\\s+') AS t
       |  FROM documents),
       |occ AS (SELECT doc, unnest(t) AS w FROM tok),
       |feats AS (
       |  SELECT doc, ($u32) % 64 AS bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM occ WHERE w <> '' GROUP BY doc, bucket),
       |labels AS (
       |  SELECT doc_id AS doc,
       |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
       |  FROM documents),
       |fdocs AS (SELECT DISTINCT doc FROM feats),
       |upd1 AS (
       |  SELECT bucket, CAST(sum(y * cnt) AS BIGINT) AS w
       |  FROM feats JOIN labels USING (doc) GROUP BY bucket),
       |bias1 AS (
       |  SELECT CAST(sum(y) AS BIGINT) AS b
       |  FROM labels JOIN fdocs USING (doc)),
       |m2 AS (
       |  SELECT f.doc, l.y,
       |    CAST(sum(COALESCE(u.w, 0) * f.cnt) AS BIGINT)
       |      + (SELECT b FROM bias1) AS m
       |  FROM feats f JOIN labels l USING (doc)
       |  LEFT JOIN upd1 u USING (bucket)
       |  GROUP BY f.doc, l.y),
       |err2 AS (SELECT doc, y FROM m2 WHERE y * m <= 0),
       |upd2 AS (
       |  SELECT f.bucket, CAST(sum(e.y * f.cnt) AS BIGINT) AS dw
       |  FROM feats f JOIN err2 e USING (doc) GROUP BY f.bucket),
       |w2 AS (
       |  SELECT COALESCE(u1.bucket, u2.bucket) AS bucket,
       |    COALESCE(u1.w, 0) + COALESCE(u2.dw, 0) AS w
       |  FROM upd1 u1 FULL JOIN upd2 u2 ON u1.bucket = u2.bucket)
       |SELECT CAST(1 AS INTEGER) AS round,
       |  (SELECT CAST(count(*) AS BIGINT) FROM fdocs) AS n_errors,
       |  (SELECT CAST(sum(abs(w)) AS BIGINT) FROM upd1) AS w_l1,
       |  (SELECT b FROM bias1) AS bias
       |UNION ALL
       |SELECT CAST(2 AS INTEGER),
       |  (SELECT CAST(count(*) AS BIGINT) FROM err2),
       |  (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w2),
       |  (SELECT b FROM bias1)
       |    + (SELECT CAST(COALESCE(sum(y), 0) AS BIGINT) FROM err2)
       |ORDER BY round""".stripMargin
  }

  /** Decision-stump Gini feature ranking
    * ([[graft.text.FeatureSelect.giniStumps]]): for the 30 highest-df
    * tokens, the Gini gain of splitting on document-level token presence
    * against the lang='en' label — exact presence counts, the gain one
    * fixed-operand-order IEEE expression, hash-compared.
    */
  private def giniQ(s: SparkSession, dir: String): DataFrame =
    graft.text.FeatureSelect.giniStumps(Tables.documents(s, dir),
        when(col("lang") === "en", 1L).otherwise(0L))
      .orderBy(col("token"))

  private val giniOracle = {
    def gini(pos: String, tot: String): String =
      s"""CASE WHEN ($tot) > 0 THEN 1.0
         |  - (CAST(($pos) AS DOUBLE) / CAST(($tot) AS DOUBLE))
         |    * (CAST(($pos) AS DOUBLE) / CAST(($tot) AS DOUBLE))
         |  - (CAST(($tot) - ($pos) AS DOUBLE) / CAST(($tot) AS DOUBLE))
         |    * (CAST(($tot) - ($pos) AS DOUBLE) / CAST(($tot) AS DOUBLE))
         |  ELSE 0.0 END""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id AS doc,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    string_split_regex(text, '\\s+') AS t
       |  FROM documents),
       |presence AS (
       |  SELECT DISTINCT doc, y, token FROM (
       |    SELECT doc, y, unnest(t) AS token FROM base)
       |  WHERE token <> ''),
       |pt AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(y) AS BIGINT) AS p1
       |  FROM presence GROUP BY token
       |  ORDER BY df DESC, token LIMIT 30),
       |par AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
       |  FROM base)
       |SELECT token, df, p1,
       |  (${gini("p", "n")})
       |  - (CAST(df AS DOUBLE) / CAST(n AS DOUBLE)) * (${gini("p1", "df")})
       |  - (CAST(n - df AS DOUBLE) / CAST(n AS DOUBLE))
       |    * (${gini("p - p1", "n - df")}) AS gini_gain
       |FROM pt, par ORDER BY token""".stripMargin
  }

  /** Rendezvous-sharding elasticity audit ([[graft.ops.Sharding]]): doc
    * ids onto an 8-shard ring, then the 8→9 growth — keys moved must be
    * the argmax flips only (≈ 1/9 of the keyspace, vs 8/9 under
    * mod-hashing). The oracle replays the md5 argmax per (key, shard).
    */
  private def shardingQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sharding.growthAudit(Tables.documents(s, dir), "doc_id", n = 8)

  private val shardingOracle = {
    val u32 = OracleSql.md5U32Sql(
      "'shard:' || CAST(key AS VARCHAR) || ':' || CAST(s AS VARCHAR)")
    def ring(n: Int, alias: String): String =
      s"""$alias AS (
         |  SELECT key, s AS shard FROM (
         |    SELECT key, s, row_number() OVER (PARTITION BY key
         |      ORDER BY w DESC, s DESC) AS rn
         |    FROM (SELECT key, s, ($u32) AS w
         |          FROM k, range(0, $n) r(s)))
         |  WHERE rn = 1)""".stripMargin
    s"""WITH k AS (SELECT DISTINCT doc_id AS key FROM documents),
       |${ring(8, "a8")},
       |${ring(9, "a9")},
       |mv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(sum(CASE WHEN a8.shard <> a9.shard THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_moved
       |  FROM a8 JOIN a9 USING (key)),
       |ld AS (
       |  SELECT CAST(max(load) AS BIGINT) AS max_load,
       |    CAST(min(load) AS BIGINT) AS min_load
       |  FROM (SELECT shard, count(*) AS load FROM a8 GROUP BY shard))
       |SELECT n_keys, n_moved, max_load, min_load FROM mv, ld""".stripMargin
  }

  /** Positive PMI over the skip-gram co-occurrence matrix — the
    * Levy–Goldberg word-embedding primitive (SGNS ≈ factorizing exactly
    * this matrix): the same [[graft.text.SkipGram.pairs]] stream as
    * `q_skipgram_pairs`, then PPMI per (center, context) pair. Pair and
    * marginal counts are exact BIGINTs; PPMI quantizes per row to the
    * floor-micro-nat grid (raw ln doubles are 1-ulp engine-divergent —
    * the zipf lesson), so every emitted column is an exact integer.
    */
  /** Skip-gram (center, context, n_pairs) counts at window 2 / minCount 3,
    * computed ONCE per SF dir and materialized — `q_skipgram_pairs` and
    * `q_cooc_ppmi` both consume the identical stream (the shared-fixture
    * pattern; each otherwise re-pays the tokenize + subsample + pair join).
    * BASELINE.md §Amortization; both consumers' oracles re-derive pairs
    * from `documents`.
    */
  private[queries] def skipgramPairsParquet(s: SparkSession, dir: String): String =
    graft.Fixtures.parquet("sg_pairs", dir) {
      graft.text.SkipGram.pairs(Tables.documents(s, dir), window = 2, minCount = 3L,
        tNum = 1L, tDen = 100L)
    }

  private def coocPpmiQ(s: SparkSession, dir: String): DataFrame = {
    val p = graft.Tables.cachedParquet(s, skipgramPairsParquet(s, dir))
    val fc = p.groupBy(col("center")).agg(sum(col("n_pairs")).as("f_c"))
    val fx = p.groupBy(col("context")).agg(sum(col("n_pairs")).as("f_x"))
    val tt = p.agg(sum(col("n_pairs")).as("t_pairs"))
    p.join(fc, Seq("center")).join(fx, Seq("context")).crossJoin(broadcast(tt))
      .withColumn("ppmi_micronats",
        greatest(lit(0L),
          floor(log((col("n_pairs").cast("double") * col("t_pairs").cast("double")) /
            (col("f_c").cast("double") * col("f_x").cast("double"))) * lit(1e6))
            .cast("long")))
      .filter(col("ppmi_micronats") > 0)
      .select(col("center"), col("context"), col("n_pairs"), col("f_c"),
        col("f_x"), col("ppmi_micronats"))
      .orderBy(col("center"), col("context"))
  }

  private val coocPpmiOracle = {
    val u32 = OracleSql.md5U32Sql(
      "'sg:' || CAST(doc AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")
    s"""WITH tok AS (
       |  SELECT doc_id AS doc, string_split_regex(text, '\\s+') AS t
       |  FROM documents),
       |idx AS (
       |  SELECT doc, t, unnest(range(1, len(t) + 1)) AS i FROM tok),
       |occ AS (
       |  SELECT doc, i - 1 AS pos, t[i] AS w FROM idx WHERE t[i] <> ''),
       |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM occ GROUP BY w),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS N FROM occ),
       |kept0 AS (
       |  SELECT occ.doc, occ.pos, occ.w
       |  FROM occ JOIN freq USING (w), tot
       |  WHERE ($u32) * 100 * f < 1 * N * 4294967296),
       |kept AS (
       |  SELECT doc, w,
       |    CAST(row_number() OVER (PARTITION BY doc ORDER BY pos) AS BIGINT) AS p
       |  FROM kept0),
       |cand AS (
       |  SELECT doc, w AS center, p + unnest([-2, -1, 1, 2]) AS p2 FROM kept),
       |pairs AS (
       |  SELECT c.center, k.w AS context, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM cand c JOIN kept k ON k.doc = c.doc AND k.p = c.p2
       |  GROUP BY c.center, k.w
       |  HAVING count(*) >= 3),
       |fc AS (SELECT center, CAST(sum(n_pairs) AS BIGINT) AS f_c
       |  FROM pairs GROUP BY center),
       |fx AS (SELECT context, CAST(sum(n_pairs) AS BIGINT) AS f_x
       |  FROM pairs GROUP BY context),
       |tp AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t_pairs FROM pairs),
       |sc AS (
       |  SELECT center, context, n_pairs, f_c, f_x,
       |    greatest(CAST(0 AS BIGINT),
       |      CAST(floor(ln((CAST(n_pairs AS DOUBLE) * CAST(t_pairs AS DOUBLE))
       |          / (CAST(f_c AS DOUBLE) * CAST(f_x AS DOUBLE)))
       |        * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS ppmi_micronats
       |  FROM pairs JOIN fc USING (center) JOIN fx USING (context)
       |  CROSS JOIN tp)
       |SELECT center, context, n_pairs, f_c, f_x, ppmi_micronats
       |FROM sc WHERE ppmi_micronats > 0
       |ORDER BY center, context""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cooc_ppmi" -> (coocPpmiQ _),
    "q_rendezvous_shards" -> (shardingQ _),
    "q_gini_stumps" -> (giniQ _),
    "q_dsir_weights" -> (dsirQ _),
    "q_negative_sample" -> (negativeSampleQ _),
    "q_oov_rate" -> (oovRateQ _),
    "q_heaps_law" -> (heapsQ _),
    "q_skipgram_pairs" -> (skipgramQ _),
    "q_perceptron" -> (perceptronQ _),
    "q_global_shuffle" -> (globalShuffleQ _),
    "q_calibration" -> (calibrationQ _),
    "q_temporal_split" -> (temporalSplitQ _),
    "q_group_kfold" -> (groupKfoldQ _),
    "q_class_balance" -> (classBalanceQ _))

  val oracles: Map[String, String] = Map(
    "q_cooc_ppmi" -> coocPpmiOracle,
    "q_gini_stumps" -> giniOracle,
    "q_rendezvous_shards" -> shardingOracle,
    "q_dsir_weights" -> dsirOracle,
    "q_negative_sample" -> negativeSampleOracle,
    "q_oov_rate" -> oovRateOracle,
    "q_heaps_law" -> heapsOracle,
    "q_skipgram_pairs" -> skipgramOracle,
    "q_perceptron" -> perceptronOracle,
    "q_global_shuffle" -> globalShuffleOracle,
    "q_calibration" -> calibrationOracle,
    "q_temporal_split" -> temporalSplitOracle,
    "q_group_kfold" -> groupKfoldOracle,
    "q_class_balance" -> classBalanceOracle)
}
