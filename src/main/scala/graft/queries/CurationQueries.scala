package graft.queries

import graft.Anchor._
import graft.Tables
import graft.maintain.LocalFs
import graft.text.Curation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation-operator queries (sequence packing, decontamination, repetition,
  * PII redaction) with DuckDB oracles. Where the raw testdata would make an
  * operator trivially vacuous (no PII, no repetition, no eval leaks in
  * synthetic documents), the corpus is deterministically augmented the same
  * way on both engines — the [[PipelineQueries.augmented]] pattern.
  */
object CurationQueries {

  // ---- sequence packing ----------------------------------------------------

  private def packQ(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(Tables.documents(s, dir), seqLen = 512, numShards = 8)
      .orderBy(col("shard"), col("doc_id"))

  private val packOracle =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), o AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      |  FROM t
      |)
      |SELECT doc_id, shard, n_tokens, start_offset,
      |  CAST(start_offset // 512 AS BIGINT) AS seq_first,
      |  CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS seq_last
      |FROM o ORDER BY shard, doc_id""".stripMargin

  // ---- decontamination -----------------------------------------------------

  /** Benchmark set = `doc_id % 97 == 3`; corpus = the rest plus planted leaks
    * (benchmark text with a prefix, +3M ids) so the flag provably fires.
    */
  private def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 3)
    val corpus = docs.filter(col("doc_id") % 97 =!= 3)
      .unionByName(bench.select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("xleak "), col("text")).as("text")))
    // kernel pin (r16 A/B x3: base 1.0-1.2 s vs pin8 0.77-0.94, exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, docs) {
      Curation.decontaminate(corpus, bench)
        .orderBy(col("doc_id"))
        .anchor(Bound.PerEntity)
    }
  }

  private val decontaminateOracle =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3
      |  UNION ALL
      |  SELECT doc_id + 3000000, 'xleak ' || text FROM documents WHERE doc_id % 97 = 3
      |),
      |bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
      |ctok AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM corpus),
      |csh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(t) >= 5
      |        THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
      |        ELSE [] END) AS shingle
      |    FROM ctok)
      |),
      |btok AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM bdocs),
      |bsh AS (
      |  SELECT DISTINCT shingle FROM (
      |    SELECT unnest(CASE WHEN len(t) >= 5
      |        THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
      |        ELSE [] END) AS shingle
      |    FROM btok)
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap,
      |  count(*) >= 3 AS contaminated
      |FROM csh JOIN bsh USING (shingle)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Token-level decontamination by VERBATIM RUN
    * ([[graft.dedup.Dedup.benchmarkTokenRunsFromPositional]]), the contiguous-overlap
    * complement of [[decontaminateQ]]'s scattered distinct-shingle count:
    * corpus docs sharing a ≥15-token consecutive run with any benchmark
    * doc. Planted leaks: full copies (`xleak ` prefix, +3M — the run is
    * the whole benchmark doc) and PARTIAL quotes (the benchmark doc's
    * first 25 tokens + a fixed tail, +4M — max_run pins to
    * min(25, doc tokens), which the full-copy signal can't distinguish).
    * The oracle replays positional shingles, the corpus-df cut, the
    * bipartite diagonal islands, and both aggregates — all integer/string
    * work, exact.
    */
  private def deconCorpus(docs: DataFrame): DataFrame = {
    val bench = docs.filter(col("doc_id") % 97 === 3)
    docs.filter(col("doc_id") % 97 =!= 3)
      .unionByName(bench.select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("xleak "), col("text")).as("text")))
      .unionByName(bench.select((col("doc_id") + 4000000L).as("doc_id"),
        concat(concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 25)),
          lit(" zqta zqtb zqtc zqtd")).as("text")))
  }

  /** Positional shingle arrays of the leak-augmented decon corpus,
    * materialized once per process per sf dir (BASELINE.md §Amortization:
    * corpus shingling amortizes; the benchmark side is shingled per pass
    * and the run detection stays timed; MaterializationSpec proves
    * table ≡ recomputation; the oracle re-derives from `documents`).
    */
  private[graft] def deconPositionalParquet(s: SparkSession, dir: String): String =
    graft.Fixtures.parquet("decon_pos", dir) {
      graft.dedup.Dedup.positionalArrays(
          deconCorpus(Tables.documents(s, dir).select(col("doc_id"), col("text"))), 5)
    }

  // pinned at 8 with an eager epilogue (the withKernelShufflePartitionsFor
  // contract): corpus shingling is amortized to the materialized table,
  // so the remaining stages (df aggregate, broadcast probe, islands
  // window over the small match set) are fixture-scale shuffles
  private def decontaminateRunsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 3)
    AnalyticsQueries.withKernelShufflePartitionsFor(s,
      graft.Tables.cachedParquet(s, deconPositionalParquet(s, dir))) {
      // caller-owned persist with a DETERMINISTIC unpersist (the r14
      // operator contract): the operator's df-cut probe and main plan
      // each traverse the positional table once, and evaluation is EAGER
      // inside this block (anchored), so try/finally reclaims the
      // cache before returning — no leak, no double parquet scan
      val cp = graft.Tables.cachedParquet(s, deconPositionalParquet(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.dedup.Dedup.benchmarkTokenRunsFromPositional(
          cp, bench, k = 5, minRunTokens = 15)
        .orderBy(col("doc_id"))
        .anchor(Bound.PerEntity)
      finally { cp.unpersist(); () }
    }
  }

  private val decontaminateRunsOracle =
    """WITH bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
      |corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3
      |  UNION ALL
      |  SELECT doc_id + 3000000, 'xleak ' || text FROM bdocs
      |  UNION ALL
      |  SELECT doc_id + 4000000,
      |    array_to_string(string_split_regex(text, '\s+')[1:25], ' ')
      |      || ' zqta zqtb zqtc zqtd'
      |  FROM bdocs
      |),
      |ctok AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM corpus),
      |cps AS (
      |  SELECT doc_id,
      |    unnest(range(0, len(t) - 4)) AS pos,
      |    unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS shingle
      |  FROM ctok WHERE len(t) >= 5
      |),
      |btok AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM bdocs),
      |bps AS (
      |  SELECT doc_id AS bid,
      |    unnest(range(0, len(t) - 4)) AS bpos,
      |    unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS shingle
      |  FROM btok WHERE len(t) >= 5
      |),
      |rare AS (
      |  SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM cps)
      |  GROUP BY shingle HAVING count(*) <= 1000
      |),
      |m AS (
      |  SELECT c.doc_id, b.bid, c.pos AS pos_c, c.pos - b.bpos AS diag
      |  FROM cps c JOIN rare USING (shingle) JOIN bps b USING (shingle)
      |),
      |runs AS (
      |  SELECT doc_id, bid, diag,
      |    pos_c - (row_number() OVER (PARTITION BY doc_id, bid, diag ORDER BY pos_c) - 1) AS island
      |  FROM m
      |),
      |agg AS (
      |  SELECT doc_id, bid, diag, island,
      |    CAST(count(*) + 4 AS BIGINT) AS run_tokens
      |  FROM runs GROUP BY 1, 2, 3, 4
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
      |  CAST(count(DISTINCT bid) AS BIGINT) AS n_bench_docs,
      |  CAST(max(run_tokens) AS BIGINT) AS max_run_tokens
      |FROM agg WHERE run_tokens >= 15
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- repetition features -------------------------------------------------

  private val spam = " spam spam spam spam spam spam spam spam"

  /** Docs with `doc_id % 11 == 0` get a repeated-token suffix so the
    * repetition signals (and the flag) actually vary across the corpus.
    */
  private def repetitionQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 11 === 0, concat(col("text"), lit(spam)))
        .otherwise(col("text")).as("text"))
    // kernel pin (r16 A/B x3: base ~1.0 s vs pin8 0.63-0.71, exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, docs) {
      Curation.repetitionFeatures(docs).orderBy(col("doc_id"))
        .anchor(Bound.PerEntity)
    }
  }

  private val repetitionOracle =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN text || '$spam' ELSE text END AS text
      |  FROM documents
      |),
      |t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM d),
      |f AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    len(list_distinct(toks)) AS n_distinct,
      |    len(list_distinct(CASE WHEN len(toks) >= 2
      |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |      ELSE [] END)) AS n_db
      |  FROM t
      |),
      |tf AS (
      |  SELECT doc_id, max(c) AS top_freq FROM (
      |    SELECT doc_id, tok, count(*) AS c FROM (
      |      SELECT doc_id, unnest(toks) AS tok FROM t)
      |    GROUP BY doc_id, tok)
      |  GROUP BY doc_id
      |)
      |SELECT f.doc_id, n_tokens,
      |  (n_tokens - n_distinct)::DOUBLE / n_tokens AS dup_token_frac,
      |  top_freq::DOUBLE / n_tokens AS top_token_frac,
      |  CASE WHEN n_tokens > 1
      |    THEN (n_tokens - 1 - n_db)::DOUBLE / (n_tokens - 1)::DOUBLE
      |    ELSE 0.0 END AS dup_bigram_frac,
      |  (top_freq::DOUBLE / n_tokens > 0.2)
      |    OR ((n_tokens - n_distinct)::DOUBLE / n_tokens > 0.6) AS repetitive
      |FROM f JOIN tf ON f.doc_id = tf.doc_id ORDER BY f.doc_id""".stripMargin

  // ---- PII redaction -------------------------------------------------------

  private val pii =
    " Contact alice.smith@example.com call 555-123-4567 ip 192.168.1.77 done"

  private def piiQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(pii)))
        .otherwise(col("text")).as("text"))
    Curation.piiRedact(docs)
      .select(col("doc_id"), col("redacted"), col("n_email"), col("n_phone"), col("n_ip"))
      .orderBy(col("doc_id"))
  }

  private val piiOracle = {
    // DuckDB single-quoted literals keep backslashes as-is, so the runtime
    // pattern strings (single backslashes) drop straight in
    val email = Curation.EmailRe
    val phone = Curation.PhoneRe
    val ip = Curation.IpRe
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || '$pii' ELSE text END AS text
      |  FROM documents
      |)
      |SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(text, '$email', '[EMAIL]', 'g'),
      |      '$ip', '[IP]', 'g'),
      |    '$phone', '[PHONE]', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip
      |FROM d ORDER BY doc_id""".stripMargin
  }

  // ---- token budgeting -----------------------------------------------------

  /** Budget 700 ≈ half a source's token mass at sf0.01, so the greedy cut
    * provably selects (and rejects) on every source at every SF.
    */
  private def tokenBudgetQ(s: SparkSession, dir: String): DataFrame =
    Curation.tokenBudget(Tables.documents(s, dir), budget = 700L)
      .orderBy(col("source"), col("doc_id"))

  private val tokenBudgetOracle =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), o AS (
      |  SELECT doc_id, source, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY md5(doc_id::VARCHAR), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
      |  FROM t
      |)
      |SELECT doc_id, source, n_tokens, tokens_before
      |FROM o WHERE tokens_before < 700
      |ORDER BY source, doc_id""".stripMargin

  // ---- sliding chunks ------------------------------------------------------

  private def chunksQ(s: SparkSession, dir: String): DataFrame =
    Curation.slidingChunks(Tables.documents(s, dir), window = 64, stride = 32)
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val chunksOracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |)
      |SELECT doc_id, n_tokens,
      |  CAST(s // 32 AS BIGINT) AS chunk_idx,
      |  CAST(s AS BIGINT) AS chunk_start,
      |  CAST(least(64, n_tokens - s) AS BIGINT) AS chunk_len
      |FROM t, unnest(range(0, n_tokens, 32)) u(s)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Sliding chunks with the *materialized* token arrays — an array-valued
    * oracle row (VERDICT r2 item 5): both the string-array slice and its
    * per-token length array are compared element-by-element against DuckDB
    * list slicing, not a scalar summary of them.
    */
  private def chunkArraysQ(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("chunk_start",
        explode(sequence(lit(0L), col("n_tokens") - 1, lit(32L))))
      .select(col("doc_id"),
        (col("chunk_start") / 32).cast("long").as("chunk_idx"),
        slice(col("toks"), (col("chunk_start") + 1).cast("int"),
          least(lit(64L), col("n_tokens") - col("chunk_start")).cast("int"))
          .as("__chunk_tokens"))
      // Arrays are rendered to deterministic strings (tokens are \s+-split so
      // the ' ' join is injective): the harness sorts result rows with pandas,
      // which cannot order raw array columns. Element-by-element content stays
      // fully under test — the oracle renders the identical strings.
      .select(col("doc_id"), col("chunk_idx"),
        array_join(col("__chunk_tokens"), " ").as("chunk_text"),
        array_join(
          transform(col("__chunk_tokens"), t => length(t).cast("string")), ",")
          .as("chunk_token_lens"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val chunkArraysOracle =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS toks,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |)
      |SELECT doc_id, CAST(s // 32 AS BIGINT) AS chunk_idx,
      |  array_to_string(toks[s + 1 : s + least(64, n_tokens - s)], ' ')
      |    AS chunk_text,
      |  array_to_string(list_transform(toks[s + 1 : s + least(64, n_tokens - s)],
      |    x -> CAST(length(x) AS VARCHAR)), ',') AS chunk_token_lens
      |FROM t, unnest(range(0, n_tokens, 32)) u(s)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- int8 embedding quantization ----------------------------------------

  /** Quantize, then self-verify in-plan: code sums/extremes are exact
    * integers DuckDB re-derives, and `err_ok` asserts the reconstruction
    * error bound scale/2 per vector.
    */
  private def quantizeQ(s: SparkSession, dir: String): DataFrame = {
    import graft.sim.Similarity
    Similarity.quantizeInt8(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("codes")).as("q_min"),
        array_max(col("codes")).as("q_max"),
        (aggregate(
          zip_with(col("vec"), col("codes"),
            (x, q) => abs(x - (col("mn") + q * col("scale")))),
          lit(0.0), (acc, e) => greatest(acc, e)) <= col("scale") * 0.5000001)
          .as("err_ok"))
      .orderBy(col("vec_id"))
  }

  private val quantizeOracle =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      |m AS (
      |  SELECT vec_id, vec, list_min(vec) AS mn,
      |    (list_max(vec) - list_min(vec)) / 255.0 AS scale
      |  FROM v
      |), q AS (
      |  SELECT vec_id, vec, mn, scale,
      |    CASE WHEN scale = 0 THEN list_transform(vec, x -> CAST(0 AS BIGINT))
      |      ELSE list_transform(vec, x -> CAST(round((x - mn) / scale) AS BIGINT))
      |    END AS codes
      |  FROM m
      |)
      |SELECT vec_id,
      |  CAST(list_sum(codes) AS BIGINT) AS q_sum,
      |  CAST(list_min(codes) AS BIGINT) AS q_min,
      |  CAST(list_max(codes) AS BIGINT) AS q_max,
      |  list_max(list_transform(range(1, 65),
      |    i -> abs(vec[i] - (mn + codes[i] * scale)))) <= scale * 0.5000001 AS err_ok
      |FROM q ORDER BY vec_id""".stripMargin

  // ---- tf-idf top terms ----------------------------------------------------

  private def tfidfQ(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    // kernel pin (r16 A/B x3: base 1.7-2.1 s vs pin8 1.0-1.6, exact-equal)
    AnalyticsQueries.withKernelShufflePartitionsFor(s, Tables.documents(s, dir)) {
      TextAnalysis.topTermsByTfIdf(Tables.documents(s, dir), k = 3)
        .orderBy(col("doc_id"), col("score").desc, col("term"))
        .anchor(Bound.PerEntity)
    }
  }

  private val tfidfOracle =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
      |), df AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |)
      |SELECT doc_id, term, tf, df, tf::DOUBLE / df AS score
      |FROM tf JOIN df USING (term)
      |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3
      |ORDER BY doc_id, score DESC, term""".stripMargin

  // ---- weighted mixture interleave ----------------------------------------

  /** First 100 docs of a 3:1 mixture favoring src0/src1 — the prefix's source
    * composition proves the stride weighting.
    */
  private def mixtureQ(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureInterleave(Tables.documents(s, dir),
        weights = Seq("src0" -> 3.0, "src1" -> 3.0))
      .orderBy(col("ord"), col("source"), col("doc_id"))
      .limit(100)

  private val mixtureOracle =
    """WITH r AS (
      |  SELECT doc_id, source, CAST(row_number() OVER (
      |    PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT) AS rn
      |  FROM documents
      |), w AS (
      |  SELECT *, CASE WHEN source IN ('src0', 'src1') THEN 3.0 ELSE 1.0 END AS wt
      |  FROM r
      |)
      |SELECT doc_id, source, rn, rn / wt AS ord
      |FROM w ORDER BY ord, source, doc_id LIMIT 100""".stripMargin

  /** Largest-remainder quotas for a 137-doc draw ([[Curation.mixtureQuotas]]):
    * the odd total forces non-zero remainders, so the tie-broken +1
    * distribution itself is under the hash, and the quotas must sum to
    * exactly 137 on both engines — pure BIGINT arithmetic.
    */
  private def mixtureQuotaQ(s: SparkSession, dir: String): DataFrame =
    Curation.mixtureQuotas(Tables.documents(s, dir), total = 137L)
      .orderBy(col("source"))

  private val mixtureQuotaOracle =
    """WITH c AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source
      |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS corpus FROM c),
      |q AS (
      |  SELECT source, n_docs,
      |    CAST((n_docs * 137) // corpus AS BIGINT) AS fq,
      |    CAST((n_docs * 137) % corpus AS BIGINT) AS rem
      |  FROM c, t
      |), d AS (SELECT CAST(137 - sum(fq) AS BIGINT) AS deficit FROM q)
      |SELECT source, n_docs,
      |  CAST(fq + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= deficit
      |    THEN 1 ELSE 0 END AS BIGINT) AS quota
      |FROM q, d ORDER BY source""".stripMargin

  /** Temperature quotas ([[Curation.temperatureQuotas]]) on a skewed corpus
    * (uniform 25-docs-per-source testdata carries no skew, so the query
    * plants a per-source keep rate derived from the source index: source
    * `srcI` keeps `doc_id % 25 < 5 + I` → counts 5..24). α=1/2 flattening
    * is then visible in the quotas — and the floor(sqrt·2²⁰) integer
    * weights, the remainder tie-breaks, and the exact-137 total are all
    * under the hash.
    */
  private def temperatureQuotaQ(s: SparkSession, dir: String): DataFrame =
    Curation.temperatureQuotas(
        Tables.documents(s, dir)
          .filter(col("doc_id") % 25 <
            lit(5) + substring(col("source"), 4, 10).cast("int")),
        total = 137L)
      .orderBy(col("source"))

  private val temperatureQuotaOracle =
    """WITH c AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents
      |  WHERE doc_id % 25 < 5 + CAST(substr(source, 4, 10) AS INT)
      |  GROUP BY source
      |), cw AS (
      |  SELECT source, n_docs,
      |    CAST(floor(sqrt(n_docs::DOUBLE) * 1048576.0) AS BIGINT) AS weight_q20
      |  FROM c
      |), t AS (SELECT CAST(sum(weight_q20) AS BIGINT) AS w_tot FROM cw),
      |q AS (
      |  SELECT source, n_docs, weight_q20,
      |    CAST((weight_q20 * 137) // w_tot AS BIGINT) AS fq,
      |    CAST((weight_q20 * 137) % w_tot AS BIGINT) AS rem
      |  FROM cw, t
      |), d AS (SELECT CAST(137 - sum(fq) AS BIGINT) AS deficit FROM q)
      |SELECT source, n_docs, weight_q20,
      |  CAST(fq + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= deficit
      |    THEN 1 ELSE 0 END AS BIGINT) AS quota
      |FROM q, d ORDER BY source""".stripMargin

  /** Temperature draw ([[Curation.temperatureSample]]): the α=1/2
    * apportionment chained with the md5-rank selection on the same skewed
    * corpus as `q_temperature_quota` — drawn rows, their ranks, and the
    * exact-137 total all under the hash.
    */
  private def temperatureDrawQ(s: SparkSession, dir: String): DataFrame =
    Curation.temperatureSample(
        Tables.documents(s, dir)
          .filter(col("doc_id") % 25 <
            lit(5) + substring(col("source"), 4, 10).cast("int")),
        total = 137L)
      .orderBy(col("source"), col("rn"))

  private val temperatureDrawOracle =
    """WITH base AS (
      |  SELECT doc_id, source FROM documents
      |  WHERE doc_id % 25 < 5 + CAST(substr(source, 4, 10) AS INT)
      |), c AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY source
      |), cw AS (
      |  SELECT source, n_docs,
      |    CAST(floor(sqrt(n_docs::DOUBLE) * 1048576.0) AS BIGINT) AS w
      |  FROM c
      |), t AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM cw),
      |q AS (
      |  SELECT source, w,
      |    CAST((w * 137) // w_tot AS BIGINT) AS fq,
      |    CAST((w * 137) % w_tot AS BIGINT) AS rem
      |  FROM cw, t
      |), d AS (SELECT CAST(137 - sum(fq) AS BIGINT) AS deficit FROM q),
      |quotas AS (
      |  SELECT source,
      |    CAST(fq + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= deficit
      |      THEN 1 ELSE 0 END AS BIGINT) AS quota
      |  FROM q, d
      |),
      |ranked AS (
      |  SELECT doc_id, source, CAST(row_number() OVER (
      |    PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT) AS rn
      |  FROM base
      |)
      |SELECT doc_id, ranked.source, rn
      |FROM ranked JOIN quotas ON quotas.source = ranked.source
      |WHERE rn <= quota ORDER BY ranked.source, rn""".stripMargin

  /** Shard balance ([[Curation.shardBalance]]), 16 md5-hashed shards: doc
    * and token totals per shard and the exact-ratio skew, all under the
    * hash (the md5-uniform is the engine's standard deterministic hash —
    * the oracle folds the same hex digits).
    */
  private def shardBalanceQ(s: SparkSession, dir: String): DataFrame =
    Curation.shardBalance(Tables.documents(s, dir), shards = 16)
      .orderBy(col("shard"))

  private val shardBalanceOracle = {
    val u32 = graft.queries.OracleSql.md5U32Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
      |  SELECT $u32 % 16 AS shard,
      |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nt
      |  FROM documents
      |), p AS (
      |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(nt) AS BIGINT) AS n_tokens
      |  FROM d GROUP BY shard
      |), t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM p)
      |SELECT shard, n_docs, n_tokens,
      |  (n_tokens * 16)::DOUBLE / tt::DOUBLE AS token_skew
      |FROM p, t ORDER BY shard""".stripMargin
  }

  /** Quota draw ([[Curation.quotaSample]]): the apportionment oracle chained
    * with the md5-rank selection — every drawn row and its rank are under the
    * hash, and the draw must total exactly 137.
    */
  private def quotaSampleQ(s: SparkSession, dir: String): DataFrame =
    Curation.quotaSample(Tables.documents(s, dir), total = 137L)
      .orderBy(col("source"), col("rn"))

  private val quotaSampleOracle =
    s"""WITH c AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source
      |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS corpus FROM c),
      |q AS (
      |  SELECT source, n_docs,
      |    CAST((n_docs * 137) // corpus AS BIGINT) AS fq,
      |    CAST((n_docs * 137) % corpus AS BIGINT) AS rem
      |  FROM c, t
      |), d AS (SELECT CAST(137 - sum(fq) AS BIGINT) AS deficit FROM q),
      |quotas AS (
      |  SELECT source,
      |    CAST(fq + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= deficit
      |      THEN 1 ELSE 0 END AS BIGINT) AS quota
      |  FROM q, d
      |),
      |ranked AS (
      |  SELECT doc_id, source, CAST(row_number() OVER (
      |    PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT) AS rn
      |  FROM documents
      |)
      |SELECT doc_id, ranked.source, rn
      |FROM ranked JOIN quotas ON quotas.source = ranked.source
      |WHERE rn <= quota ORDER BY ranked.source, rn""".stripMargin

  /** Deterministic 80/10/10 split ([[Curation.datasetSplit]]): per
    * (source, split) doc and token counts — the md5-threshold assignment is
    * replicated exactly (same `conv`-fold uniform as the A-ES oracle).
    */
  private def datasetSplitQ(s: SparkSession, dir: String): DataFrame =
    Curation.datasetSplit(Tables.documents(s, dir))
      .withColumn("n_tokens", size(split(col("text"), "\\s+")).cast("long"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("source"), col("split"))

  private val datasetSplitOracle = {
    val trainMax = (1L << 32) * 80 / 100
    val valMax = (1L << 32) * 90 / 100
    s"""WITH u AS (
      |  SELECT source, text,
      |    ${graft.queries.OracleSql.md5U32Sql("doc_id::VARCHAR")} AS u32
      |  FROM documents
      |)
      |SELECT source,
      |  CASE WHEN u32 < $trainMax THEN 'train'
      |       WHEN u32 < $valMax THEN 'val' ELSE 'test' END AS split,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS total_tokens
      |FROM u GROUP BY 1, 2 ORDER BY source, split""".stripMargin
  }

  /** Length-bucketed batch planning ([[Curation.lengthBuckets]]): bucket
    * boundaries, deterministic batch assignment, and the exact padding-waste
    * integers all under the hash.
    */
  private def lengthBucketsQ(s: SparkSession, dir: String): DataFrame =
    Curation.lengthBuckets(Tables.documents(s, dir), batchSize = 8)
      .orderBy(col("bucket"), col("batch_idx"))

  private val lengthBucketsOracle =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents
      |),
      |b AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
      |         WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
      |         WHEN n_tokens <= 256 THEN 256 ELSE 512 END AS bucket,
      |    CAST((row_number() OVER (PARTITION BY (CASE WHEN n_tokens <= 16 THEN 16
      |         WHEN n_tokens <= 32 THEN 32 WHEN n_tokens <= 64 THEN 64
      |         WHEN n_tokens <= 128 THEN 128 WHEN n_tokens <= 256 THEN 256
      |         ELSE 512 END)
      |      ORDER BY md5(doc_id::VARCHAR), doc_id) - 1) // 8 AS BIGINT) AS batch_idx
      |  FROM t
      |)
      |SELECT CAST(bucket AS BIGINT) AS bucket, batch_idx,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(max(n_tokens) AS BIGINT) AS batch_max,
      |  CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT) AS padding_waste
      |FROM b GROUP BY bucket, batch_idx ORDER BY bucket, batch_idx""".stripMargin

  // ---- fuzzy (edit-distance) matching -------------------------------------

  /** Title dedup: 30-char heads of every 10th doc, plus planted one-edit
    * variants (+4M ids), paired within 2 edits.
    */
  private def fuzzyQ(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 10 === 0)
    val titles = base.select(col("doc_id"), substring(col("text"), 1, 30).as("title"))
      .unionByName(base.select((col("doc_id") + 4000000L).as("doc_id"),
        concat(lit("x"), substring(col("text"), 2, 29)).as("title")))
    Curation.fuzzyPairs(titles, maxDist = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val fuzzyOracle =
    """WITH t AS (
      |  SELECT doc_id, substr(text, 1, 30) AS title
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 4000000, 'x' || substr(text, 2, 29)
      |  FROM documents WHERE doc_id % 10 = 0
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.title, b.title) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Sorted-neighborhood linkage ([[graft.ops.SortedNeighborhood.pairs]])
    * over part names (64 distinct names × ~31 copies — a hot-key shape
    * where PassJoin's per-key candidate sets balloon but the neighborhood
    * stays exactly n·w): rank in (p_name, p_partkey) order, window 5,
    * verified ≤ 1 edit. Rank values, window membership, and the exact
    * distances are all under the hash; the oracle's naive global
    * row_number IS the single-task plan the operator's range-partitioned
    * ranking avoids.
    */
  private def sortedNeighborhoodQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.SortedNeighborhood.pairs(Tables.part(s, dir),
        window = 5, maxDist = 1, keyCol = "p_name", idCol = "p_partkey")
      .orderBy(col("rank_a"), col("rank_b"))

  private val sortedNeighborhoodOracle =
    """WITH r AS (
      |  SELECT p_partkey AS id, p_name AS k,
      |    row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rank
      |  FROM part
      |)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(a.rank AS BIGINT) AS rank_a, CAST(b.rank AS BIGINT) AS rank_b,
      |  a.k AS key_a, b.k AS key_b,
      |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
      |FROM r a JOIN r b ON b.rank > a.rank AND b.rank <= a.rank + 5
      |WHERE levenshtein(a.k, b.k) <= 1
      |ORDER BY rank_a, rank_b""".stripMargin

  // ---- format round-trips --------------------------------------------------

  /** CSV sink→source round-trip with explicit schema: every documents row
    * must survive RFC quoting byte-identically; the oracle is the original
    * table, so any quoting/escaping/type loss shows as a hash mismatch.
    */
  private def csvRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ingest.Formats
    val docs = Tables.documents(s, dir)
    val tmp = graft.TempDirs.runDir("csv_rt").toString
    Formats.writeCsv(docs, tmp)
    Formats.readCsv(s, tmp, docs.schema).orderBy(col("doc_id"))
  }

  private def orcRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ingest.Formats
    val docs = Tables.documents(s, dir)
    val tmp = graft.TempDirs.runDir("orc_rt").toString
    Formats.writeOrc(docs, tmp)
    Formats.readOrc(s, tmp).orderBy(col("doc_id"))
  }

  private def avroRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ingest.Formats
    val docs = Tables.documents(s, dir)
    val tmp = graft.TempDirs.runDir("avro_rt").toString
    Formats.writeAvro(docs, tmp)
    Formats.readAvro(s, tmp).orderBy(col("doc_id"))
  }

  private val roundtripOracle =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** CSV DLQ split (the F15 tolerant-decode pattern for delimited drops):
    * planted type-error lines land in the corrupt-record column under
    * PERMISSIVE parse, clean rows pass through — same contract as the JSON
    * DLQ split, driver-checked end to end.
    */
  private def csvDlqQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(s, dir)
    val tmp = graft.TempDirs.runDir("csv_dlq").toString
    import s.implicits._
    val bad = Seq("notanumber|srcX|12", "12abc|srcY|5").toDF("value")
    LocalFs.write(docs
      .select(concat_ws("|", col("doc_id"), col("source"), col("n_chars")).as("value"))
      .unionByName(bad))
      .mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("_raw", StringType)))
    s.read.option("sep", "|").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_raw")
      .schema(schema).csv(tmp)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("_raw").isNotNull.as("is_dlq"),
        coalesce(col("_raw"), lit("")).as("raw"))
      .orderBy(col("is_dlq"), col("raw"), col("doc_id"))
  }

  private val csvDlqOracle =
    """SELECT doc_id, source, n_chars, false AS is_dlq, '' AS raw FROM documents
      |UNION ALL
      |SELECT NULL, 'srcX', 12, true, 'notanumber|srcX|12'
      |UNION ALL
      |SELECT NULL, 'srcY', 5, true, '12abc|srcY|5'
      |ORDER BY is_dlq, raw, doc_id""".stripMargin

  // ---- corpus filtering (C4 / Gopher rules) --------------------------------

  /** The raw synthetic docs would make most cleaning rules vacuous (no
    * punctuation, no braces, no boilerplate), so filter queries run on a
    * deterministically modified corpus: each `doc_id % 13` residue plants one
    * specific violation or pass (brace, lorem-ipsum, over-long word,
    * blocklist word, terminal punctuation, symbol spam, numeric salad) —
    * same single-branch CASE on both engines.
    */
  private def filterAugmented(docs: DataFrame): DataFrame = {
    val m = col("doc_id") % 13
    docs.select(col("doc_id"),
      when(m === 0, concat(col("text"), lit(" {x}")))
        .when(m === 1, concat(lit("lorem ipsum "), col("text"), lit(".")))
        .when(m === 2, concat(col("text"), lit(" " + "z" * 40)))
        .when(m === 3, concat(col("text"), lit(" zqxbadword")))
        .when(m === 4, concat(col("text"), lit(".")))
        .when(m === 5, concat(col("text"), lit(" # # # # # # # # # #")))
        .when(m === 6, lit("9 8 7 6 5 4 3 2 1 0 9 8 7 6 5 4 3 2 1 0 x y"))
        .otherwise(col("text")).as("text"))
  }

  private val filterCte =
    """fdocs AS (
      |  SELECT doc_id, CASE doc_id % 13
      |    WHEN 0 THEN text || ' {x}'
      |    WHEN 1 THEN 'lorem ipsum ' || text || '.'
      |    WHEN 2 THEN text || ' zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz'
      |    WHEN 3 THEN text || ' zqxbadword'
      |    WHEN 4 THEN text || '.'
      |    WHEN 5 THEN text || ' # # # # # # # # # #'
      |    WHEN 6 THEN '9 8 7 6 5 4 3 2 1 0 9 8 7 6 5 4 3 2 1 0 x y'
      |    ELSE text END AS text
      |  FROM documents)""".stripMargin

  private def c4FiltersQ(s: SparkSession, dir: String): DataFrame =
    graft.text.CorpusFilters.c4Summary(filterAugmented(Tables.documents(s, dir)))
      .orderBy(col("rule"))

  private val c4FiltersOracle =
    s"""WITH $filterCte,
      |t AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM fdocs),
      |r AS (SELECT
      |  regexp_matches(text, '[.!?"]$$') AS r_terminal_punct,
      |  NOT (contains(text, '{') OR contains(text, '}')) AS r_no_brace,
      |  NOT contains(text, 'lorem ipsum') AS r_no_lorem,
      |  NOT contains(text, 'zqxbadword') AS r_no_badword,
      |  list_max(list_transform(w, x -> len(x))) <= 30 AS r_word_len_ok,
      |  len(w) >= 20 AS r_min_words
      |FROM t),
      |a AS (SELECT count(*) AS n_total,
      |  sum(CASE WHEN r_terminal_punct THEN 1 ELSE 0 END) AS p1,
      |  sum(CASE WHEN r_no_brace THEN 1 ELSE 0 END) AS p2,
      |  sum(CASE WHEN r_no_lorem THEN 1 ELSE 0 END) AS p3,
      |  sum(CASE WHEN r_no_badword THEN 1 ELSE 0 END) AS p4,
      |  sum(CASE WHEN r_word_len_ok THEN 1 ELSE 0 END) AS p5,
      |  sum(CASE WHEN r_min_words THEN 1 ELSE 0 END) AS p6,
      |  sum(CASE WHEN r_terminal_punct AND r_no_brace AND r_no_lorem
      |        AND r_no_badword AND r_word_len_ok AND r_min_words
      |      THEN 1 ELSE 0 END) AS pk
      |FROM r)
      |SELECT rule, CAST(n_pass AS BIGINT) AS n_pass,
      |  CAST(n_total - n_pass AS BIGINT) AS n_fail
      |FROM (
      |  SELECT 'terminal_punct' AS rule, p1 AS n_pass, n_total FROM a
      |  UNION ALL SELECT 'no_brace', p2, n_total FROM a
      |  UNION ALL SELECT 'no_lorem', p3, n_total FROM a
      |  UNION ALL SELECT 'no_badword', p4, n_total FROM a
      |  UNION ALL SELECT 'word_len_ok', p5, n_total FROM a
      |  UNION ALL SELECT 'min_words', p6, n_total FROM a
      |  UNION ALL SELECT 'zz_keep_all', pk, n_total FROM a)
      |ORDER BY rule""".stripMargin

  private def gopherQ(s: SparkSession, dir: String): DataFrame =
    graft.text.CorpusFilters.gopherFlags(filterAugmented(Tables.documents(s, dir)))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_frac"), col("n_stopwords"),
        col("g_words"), col("g_mean_len"), col("g_symbol"), col("g_alpha"),
        col("g_stop"), col("keep"))
      .orderBy(col("doc_id"))

  private val gopherOracle =
    s"""WITH $filterCte,
      |t AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM fdocs),
      |m AS (SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_words,
      |  CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonspace,
      |  CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS hashes,
      |  CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS ellipses,
      |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
      |  CAST(len(list_filter(w, x -> x IN ('the','a','an','of','and','to',
      |    'in','is','it','for','on','with'))) AS BIGINT) AS n_stopwords
      |FROM t),
      |x AS (SELECT doc_id, n_words,
      |  nonspace::DOUBLE / n_words AS mean_word_len,
      |  (hashes + ellipses)::DOUBLE / n_words AS symbol_ratio,
      |  n_alpha::DOUBLE / n_words AS alpha_frac,
      |  n_stopwords FROM m)
      |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
      |  n_stopwords,
      |  n_words BETWEEN 20 AND 10000 AS g_words,
      |  mean_word_len BETWEEN 3.0 AND 10.0 AS g_mean_len,
      |  symbol_ratio <= 0.05 AS g_symbol,
      |  alpha_frac >= 0.8 AS g_alpha,
      |  n_stopwords >= 2 AS g_stop,
      |  (n_words BETWEEN 20 AND 10000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
      |    AND symbol_ratio <= 0.05 AND alpha_frac >= 0.8 AND n_stopwords >= 2
      |    AS keep
      |FROM x ORDER BY doc_id""".stripMargin

  // ---- URL extraction / normalization --------------------------------------

  /** Corpus with planted URLs (the raw docs contain none): three `doc_id % 7`
    * residues append, respectively, a mixed-case host + `utm_` tracking
    * param, a fragment-bearing URL, and a multi-param URL with `utm_` in the
    * middle — exercising every normalization rule. Same CASE in the oracle.
    */
  private def urlNormalizeQ(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 7
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      when(m === 0, concat(col("text"),
          lit(" https://WWW.Example.COM/path/p"), col("doc_id") % 5,
          lit("?utm_source=feed&id="), col("doc_id")))
        .when(m === 1, concat(col("text"),
          lit(" http://Blog.Example.org/a/"), col("doc_id") % 3, lit("#frag")))
        .when(m === 2, concat(col("text"),
          lit(" https://cdn.example.net/img?x=1&utm_campaign=z&y=2")))
        .otherwise(col("text")).as("text"))
    graft.text.Urls.urlStats(docs).orderBy(col("domain"), col("url_norm"))
  }

  private val urlNormalizeOracle =
    """WITH udocs AS (
      |  SELECT doc_id, CASE doc_id % 7
      |    WHEN 0 THEN text || ' https://WWW.Example.COM/path/p' || (doc_id % 5)
      |      || '?utm_source=feed&id=' || doc_id
      |    WHEN 1 THEN text || ' http://Blog.Example.org/a/' || (doc_id % 3) || '#frag'
      |    WHEN 2 THEN text || ' https://cdn.example.net/img?x=1&utm_campaign=z&y=2'
      |    ELSE text END AS text
      |  FROM documents),
      |u AS (SELECT unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
      |  FROM udocs),
      |n AS (SELECT
      |  regexp_replace(lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
      |    '^www\.', '') AS domain,
      |  regexp_replace(url, '#.*$', '') AS nofrag FROM u),
      |m AS (SELECT domain,
      |  lower(regexp_extract(nofrag, '^(https?)', 1)) AS scheme,
      |  regexp_extract(nofrag, '^https?://[^/?#]+([^?#]*)', 1) AS path,
      |  regexp_extract(nofrag, '\?([^#]*)', 1) AS q
      |  FROM n),
      |f AS (SELECT domain, scheme || '://' || domain || path ||
      |    CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS url_norm
      |  FROM (SELECT *, array_to_string(list_filter(string_split(q, '&'),
      |      p -> NOT starts_with(p, 'utm_')), '&') AS kept FROM m))
      |SELECT domain, url_norm, CAST(count(*) AS BIGINT) AS n
      |FROM f GROUP BY 1, 2 ORDER BY domain, url_norm""".stripMargin

  // ---- partition layout evolution ------------------------------------------

  /** Partition-spec evolution, plain-parquet style: old files live under a
    * `lang=` layout, new files under `lang=/source=` — the reader unions
    * both generations and a `lang` predicate prunes DIRECTORIES in each
    * (the pre-Iceberg reality of evolving a table's partitioning without
    * rewriting history; Iceberg's spec-evolution serves the same query
    * shape from metadata). `LayoutSpec` pins the partition filters in both
    * scans.
    */
  private def partitionEvolutionQ(s: SparkSession, dir: String): DataFrame = {
    val tmp = partEvoRoot(s, dir)
    val v1 = graft.Tables.cachedParquet(s, s"$tmp/v1").filter(col("lang") === "en")
    val v2 = graft.Tables.cachedParquet(s, s"$tmp/v2").filter(col("lang") === "en")
    v1.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .unionByName(v2.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars")))
      .orderBy(col("doc_id"))
  }

  private val partitionEvolutionOracle =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE lang = 'en' ORDER BY doc_id""".stripMargin

  /** The two partition-layout generations, materialized once per (process,
    * sf dir): writing them is fixture *generation* — a production table's
    * layout generations already exist in the lake — so it runs outside any
    * timer (the [[graft.queries.PipelineQueries.pngMediaParquet]] rationale);
    * the timed query is then the pruned two-generation read it claims to be.
    */
  private[queries] def partEvoRoot(s: SparkSession, dir: String): String =
    graft.Fixtures.dir("part_evo", dir) { tmp =>
      val docs = Tables.documents(s, dir)
      LocalFs.write(docs.filter(col("doc_id") % 2 === 0))
        .partitionBy("lang").parquet(s"$tmp/v1")
      LocalFs.write(docs.filter(col("doc_id") % 2 === 1))
        .partitionBy("lang", "source").parquet(s"$tmp/v2")
    }

  // ---- registry ------------------------------------------------------------

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pack_sequences" -> (packQ _),
    "q_decontaminate" -> (decontaminateQ _),
    "q_decontaminate_runs" -> (decontaminateRunsQ _),
    "q_repetition" -> (repetitionQ _),
    "q_pii_redact" -> (piiQ _),
    "q_token_budget" -> (tokenBudgetQ _),
    "q_sliding_chunks" -> (chunksQ _),
    "q_chunk_arrays" -> (chunkArraysQ _),
    "q_embed_quantize" -> (quantizeQ _),
    "q_tfidf_terms" -> (tfidfQ _),
    "q_fuzzy_match" -> (fuzzyQ _),
    "q_sorted_neighborhood" -> (sortedNeighborhoodQ _),
    "q_mixture" -> (mixtureQ _),
    "q_mixture_quota" -> (mixtureQuotaQ _),
    "q_temperature_quota" -> (temperatureQuotaQ _),
    "q_temperature_draw" -> (temperatureDrawQ _),
    "q_shard_balance" -> (shardBalanceQ _),
    "q_quota_sample" -> (quotaSampleQ _),
    "q_dataset_split" -> (datasetSplitQ _),
    "q_length_buckets" -> (lengthBucketsQ _),
    "q_csv_roundtrip" -> (csvRoundtripQ _),
    "q_orc_roundtrip" -> (orcRoundtripQ _),
    "q_avro_roundtrip" -> (avroRoundtripQ _),
    "q_csv_dlq" -> (csvDlqQ _),
    "q_c4_filters" -> (c4FiltersQ _),
    "q_gopher_rules" -> (gopherQ _),
    "q_url_normalize" -> (urlNormalizeQ _),
    "q_partition_evolution" -> (partitionEvolutionQ _)
  )

  val oracles: Map[String, String] = Map(
    "q_pack_sequences" -> packOracle,
    "q_decontaminate" -> decontaminateOracle,
    "q_decontaminate_runs" -> decontaminateRunsOracle,
    "q_repetition" -> repetitionOracle,
    "q_pii_redact" -> piiOracle,
    "q_token_budget" -> tokenBudgetOracle,
    "q_sliding_chunks" -> chunksOracle,
    "q_chunk_arrays" -> chunkArraysOracle,
    "q_embed_quantize" -> quantizeOracle,
    "q_tfidf_terms" -> tfidfOracle,
    "q_fuzzy_match" -> fuzzyOracle,
    "q_sorted_neighborhood" -> sortedNeighborhoodOracle,
    "q_mixture" -> mixtureOracle,
    "q_mixture_quota" -> mixtureQuotaOracle,
    "q_temperature_quota" -> temperatureQuotaOracle,
    "q_temperature_draw" -> temperatureDrawOracle,
    "q_shard_balance" -> shardBalanceOracle,
    "q_quota_sample" -> quotaSampleOracle,
    "q_dataset_split" -> datasetSplitOracle,
    "q_length_buckets" -> lengthBucketsOracle,
    "q_csv_roundtrip" -> roundtripOracle,
    "q_orc_roundtrip" -> roundtripOracle,
    "q_avro_roundtrip" -> roundtripOracle,
    "q_csv_dlq" -> csvDlqOracle,
    "q_c4_filters" -> c4FiltersOracle,
    "q_gopher_rules" -> gopherOracle,
    "q_url_normalize" -> urlNormalizeOracle,
    "q_partition_evolution" -> partitionEvolutionOracle
  )
}
