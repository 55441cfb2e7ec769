package graft.text

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond per-document scoring: sequence
  * packing, benchmark decontamination, repetition filtering, PII redaction.
  *
  * Scale discipline shared by the whole module:
  *  - token/shingle arrays are materialized in their own projection before
  *    any lambda or explode consumes them ([[Dedup]] object doc, rule 1);
  *  - per-document work is embarrassingly parallel; the only shuffles are the
  *    ones the semantics force (a window within a shard, a groupBy on doc id,
  *    an equi-join against the — broadcast — benchmark shingle set).
  */
object Curation {

  /** Greedy sequence packing: documents are laid end-to-end in token space
    * within a shard (deterministic order: doc id) and chunked into
    * fixed-`seqLen` training sequences. Emits, per document, its shard, token
    * count, start offset in the shard's token stream, and the first/last
    * sequence index it lands in — everything a writer needs to emit packed
    * sequences without materializing them row-per-sequence.
    *
    * Scale shape: packing is *per shard* (`id % numShards`), not global — a
    * global token order would serialize the corpus through one partition. One
    * shuffle on the shard key; the running offset is a window cumsum within
    * the shard. At 100 TB, shards ≫ executors keeps every partition bounded.
    */
  def packSequences(docs: DataFrame, seqLen: Int, numShards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), (col("doc_id") % numShards).as("shard"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_first", expr(s"start_offset div $seqLen"))
      .withColumn("seq_last", expr(s"(start_offset + n_tokens - 1) div $seqLen"))
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥ 3
    * distinct 5-token shingles with any benchmark document (the standard
    * n-gram-overlap eval-leak check). Returns (doc_id, n_overlap,
    * contaminated) for documents with any overlap.
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus, so the
    * distinct benchmark shingle set is broadcast — the corpus never shuffles;
    * candidate matching is a map-side hash probe per corpus shingle, then one
    * groupBy on doc id over only the *matching* shingles.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // persist the array-form shingle frames BEFORE exploding ([[Dedup]]
    // object doc + ngramJaccardPairs): the cache is a pushdown boundary, so
    // the explode's inferred `isnotnull(sh)` constraint can't substitute the
    // whole shingle lambda (split re-inlined per element) into the scan —
    // measured 22 s → 1.2 s warm at sf0.1
    val corpusSh = Dedup.withShingles(corpus, 5)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .select(col("id"), explode(col("sh")).as("shingle"))
    val benchSh = Dedup.withShingles(benchmark, 5)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .select(explode(col("sh")).as("shingle")).distinct()
    corpusSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= 3L)
  }

  /** Gopher-style repetition features: duplicate-token fraction, top-token
    * fraction, duplicate-bigram fraction, and a `repetitive` flag. Distinct
    * counts run as narrow array ops; only the top-token frequency needs an
    * explode + two aggs (both shuffles keyed on doc id).
    *
    * Null/blank documents (zero tokens under the shared tokenizer) are
    * KEPT: the explode side yields no rows for them, so the top-frequency
    * join is a left join with `top_freq` coalesced to 0, and every fraction
    * is `when`-guarded to 0.0 (ANSI division would throw on n_tokens = 0) —
    * a per-document feature operator must emit a row per document, not
    * silently drop the degenerate ones.
    */
  def repetitionFeatures(docs: DataFrame): DataFrame = {
    val parallelism = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(col("doc_id").as("id"), col("text").as("__text"))
      .repartition(parallelism)
      .withColumn("__toks", Dedup.tokens(col("__text")))
    val narrow = base.select(col("id"),
      size(col("__toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("__toks"))).cast("long").as("n_distinct"),
      // distinct bigrams as 64-bit hashes (same identity trick as shingles)
      size(Dedup.shinglesFromTokens(col("__toks"), 2)).cast("long").as("n_distinct_bigrams"))
    val top = base.select(col("id"), explode(col("__toks")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("id")).agg(max(col("c")).as("top_freq"))
    narrow.join(top, Seq("id"), "left")
      .withColumn("top_freq", coalesce(col("top_freq"), lit(0L)))
      .select(col("id").as("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .otherwise(0.0)
          .as("dup_token_frac"),
        when(col("n_tokens") > 0,
          col("top_freq").cast("double") / col("n_tokens"))
          .otherwise(0.0)
          .as("top_token_frac"),
        when(col("n_tokens") > 1,
          (col("n_tokens") - 1 - col("n_distinct_bigrams")).cast("double")
            / (col("n_tokens") - 1).cast("double"))
          .otherwise(0.0).as("dup_bigram_frac"))
      .withColumn("repetitive",
        col("top_token_frac") > 0.2 || col("dup_token_frac") > 0.6)
  }

  /** Per-source token budgeting for training-mix construction: within each
    * source, documents are permuted by `md5(id)` (deterministic, cluster-
    * independent — same discipline as [[graft.ops.Sampling]]) and taken
    * greedily while the running token total before the document is under
    * `budget`. The last taken document may overshoot, as greedy packing does.
    *
    * One shuffle on the source; cumsum is a window within it.
    */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("tokens_before") < budget)
  }

  /** Overlapping sliding-window chunking (context windows for embedding /
    * retrieval pipelines): one row per `(doc, chunk)` with chunk starts at
    * `0, stride, 2·stride, …  < n_tokens` and `len = min(window, n - start)`.
    * Narrow explode — no shuffle; chunk count per doc is O(n/stride).
    */
  def slidingChunks(docs: DataFrame, window: Int, stride: Int): DataFrame =
    docs
      .select(col("doc_id"), size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("chunk_start",
        explode(sequence(lit(0L), col("n_tokens") - 1, lit(stride.toLong))))
      .select(col("doc_id"), col("n_tokens"),
        (col("chunk_start") / stride).cast("long").as("chunk_idx"),
        col("chunk_start"),
        least(lit(window.toLong), col("n_tokens") - col("chunk_start")).as("chunk_len"))

  /** Deterministic weighted mixture interleave (stride scheduling): documents
    * are permuted within each source by `md5(id)` and globally ordered by
    * `rank / weight`, so a source with weight 3 contributes 3× the documents
    * of a weight-1 source in any prefix — "mix 70/30" for training without
    * randomness, reproducible on any cluster. Take the first `n` of the
    * returned order (or stream the whole ordering into a writer).
    *
    * One shuffle for the per-source window, one global sort for the
    * interleave order (Spark range-partitions the sort — no single-reducer
    * bottleneck; a `limit(n)` on top plans as TakeOrdered).
    */
  def mixtureInterleave(docs: DataFrame, weights: Seq[(String, Double)]): DataFrame = {
    val wt = weights.foldLeft(lit(1.0)) { case (acc, (s, x)) =>
      when(col("source") === s, lit(x)).otherwise(acc)
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("ord", col("rn") / wt)
  }

  /** Fill-in-the-middle (FIM) transform — the code/infilling pretraining
    * rearrangement (Bavarian et al. 2022): each document splits at two
    * deterministic token cut points 1 ≤ a ≤ b < n into
    * (prefix, middle, suffix), which the training pipeline re-serializes
    * as PSM/SPM sequences. Cut points are md5-derived uniforms keyed by
    * (seed, id) — the library-wide reproducible-draw discipline, so the
    * same doc always splits identically on any cluster and in the
    * verification engine. Docs under 2 tokens pass through untransformed
    * (`a`/`b` NULL, full text in `prefix`). Pure stateless projection —
    * pushes down, zero shuffle, linear at any corpus size.
    */
  def fimSplit(docs: DataFrame): DataFrame = {
    val t = graft.dedup.Dedup.tokens(col("text"))
    val n = size(t).cast("long")
    val u1 = graft.functions.Md5Field.md5U32(
      concat(lit("fim:a:"), col("doc_id").cast("string")))
    val u2 = graft.functions.Md5Field.md5U32(
      concat(lit("fim:b:"), col("doc_id").cast("string")))
    val a = lit(1L) + pmod(u1, n - lit(1L))
    val b = a + pmod(u2, n - a)
    val splittable = n >= 2
    docs.select(col("doc_id"),
      n.as("n_tokens"),
      when(splittable, a).as("a"),
      when(splittable, b).as("b"),
      when(splittable, array_join(slice(t, lit(1), a.cast("int")), " "))
        .otherwise(col("text")).as("prefix"),
      when(splittable,
        array_join(slice(t, (a + lit(1L)).cast("int"), (b - a).cast("int")), " "))
        .otherwise(lit("")).as("middle"),
      when(splittable,
        array_join(slice(t, (b + lit(1L)).cast("int"), (n - b).cast("int")), " "))
        .otherwise(lit("")).as("suffix"))
  }

  /** Deterministic train/val/test split: each doc's md5-derived uniform in
    * [0, 2³²) lands it in train/val/test by fixed thresholds — a pure
    * function of the id, so the split is reproducible on any cluster, stable
    * under corpus growth (existing docs never move between splits when new
    * ones arrive), and leakage-free by construction. Fractions are expressed
    * as integer thresholds to keep the comparison exact.
    */
  def datasetSplit(docs: DataFrame): DataFrame = {
    // md5-derived 32-bit uniform, same construction as the A-ES sampler
    val u = graft.functions.Md5Field.md5U32(col("doc_id").cast("string"))
    val trainMax = (1L << 32) * 80 / 100
    val valMax = (1L << 32) * 90 / 100
    docs.withColumn("split",
      when(u < trainMax, "train").when(u < valMax, "val").otherwise("test"))
  }

  /** Leakage-safe dataset split: the unit of assignment is the NEAR-DUP
    * CLUSTER, not the document — a per-doc hash split ([[datasetSplit]])
    * puts two near-copies of the same page on opposite sides of the
    * train/test fence, and the eval silently measures memorization. The
    * frame must already carry a `component` column (connected components over
    * the near-dup pair graph, singletons = their own id); the split is the
    * same md5 uniform keyed by the component, so "whole cluster on one
    * side" is a construction invariant, not a post-hoc fixup. Pure
    * stateless projection — pushes down, zero shuffle.
    */
  def clusterAwareSplit(docs: DataFrame): DataFrame = {
    val u = graft.functions.Md5Field.md5U32(col("component").cast("string"))
    val trainMax = (1L << 32) * 80 / 100
    val valMax = (1L << 32) * 90 / 100
    docs.withColumn("split",
      when(u < trainMax, "train").when(u < valMax, "val").otherwise("test"))
  }

  /** Length-bucketed batching accounting: bucket docs by token count
    * (power-of-two-ish fixed boundaries), assign batch slots of `batchSize`
    * within each bucket by the deterministic md5 order, and compute the
    * padding waste (`Σ batch_max − len`) a padded-batch trainer would pay —
    * the planning stage of length-bucketed inference/training, all integer
    * math. One window per bucket; buckets are few and balanced by
    * construction, so no skewed reducer.
    */
  def lengthBuckets(docs: DataFrame, batchSize: Int): DataFrame = {
    require(batchSize > 0)
    val len = size(graft.dedup.Dedup.tokens(col("text"))).cast("long")
    val nt = col("n_tokens")
    val bucket = when(nt <= 16, 16L).when(nt <= 32, 32L)
      .when(nt <= 64, 64L).when(nt <= 128, 128L).when(nt <= 256, 256L)
      .otherwise(512L)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), len.as("n_tokens"))
      .withColumn("bucket", bucket)
      .withColumn("batch_idx",
        ((row_number().over(w) - 1) / batchSize).cast("long"))
      .groupBy(col("bucket"), col("batch_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("batch_max"))
      .withColumn("padding_waste",
        col("batch_max") * col("n_docs") - col("total_tokens"))
  }

  /** Largest-remainder (Hamilton) apportionment of an integer sampling
    * budget across sources: `quota = floor(n·T/C)` plus one extra for the
    * `T − Σfloor` largest remainders (ties broken by source name), so the
    * quotas always sum to exactly `T` — the "how many docs from each source"
    * step of mixture construction, which proportional rounding gets wrong
    * (rounded quotas drift off the total; at 100 TB a 0.1% drift is a
    * billion tokens). All BIGINT arithmetic — exact on both engines.
    *
    * Scale shape: one corpus-sized groupBy(source) aggregate with map-side
    * combine; everything after (totals cross-join, remainder rank) runs on
    * the #sources-sized table — metadata-scale by construction, so the
    * single-partition rank window is a bounded driver-free reduction, not a
    * data-path bottleneck. The deficit is provably < #sources.
    */
  def mixtureQuotas(docs: DataFrame, total: Long): DataFrame = {
    require(total >= 0, s"total must be non-negative, got $total")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val corpus = counts.agg(sum(col("n_docs")).as("__corpus"))
    val q = counts.crossJoin(corpus)
      .withColumn("__fq", expr(s"(n_docs * ${total}L) div __corpus"))
      .withColumn("__rem", (col("n_docs") * lit(total)) % col("__corpus"))
    val deficit = q.agg((lit(total) - sum(col("__fq"))).as("__deficit"))
    val w = Window.orderBy(col("__rem").desc, col("source"))
    q.crossJoin(deficit)
      .withColumn("quota",
        col("__fq") + when(row_number().over(w) <= col("__deficit"), 1L)
          .otherwise(0L))
      .select(col("source"), col("n_docs"), col("quota"))
  }

  /** Shard-assignment balance audit: docs assigned to `shards` by the
    * deterministic md5-uniform (the same hash family as the sampling
    * ranks — NOT Java hashCode, which is monotone in trailing digits), per
    * shard the doc and token totals, plus each shard's token share of a
    * perfectly balanced shard (`token_skew = tokens·shards / Σtokens` as
    * one fixed-order division of exact longs). The pre-flight check before
    * writing training shards: a skewed shard is the straggler that
    * serializes the epoch.
    */
  def shardBalance(docs: DataFrame, shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val u32 = graft.functions.Md5Field.md5U32(col("doc_id").cast("string"))
    val perShard = docs
      .select((u32 % shards).as("shard"),
        size(graft.dedup.Dedup.tokens(col("text"))).cast("long").as("__nt"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
    val tot = perShard.agg(sum(col("n_tokens")).as("__tt"))
    perShard.crossJoin(broadcast(tot))
      .withColumn("token_skew",
        // guarded: an all-blank corpus has Σtokens = 0 and ANSI would throw
        when(col("__tt") > 0,
          (col("n_tokens") * lit(shards.toLong)).cast("double") /
            col("__tt").cast("double")))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("token_skew"))
  }

  /** Temperature-scaled mixture quotas: apportion `total` by weights
    * `w_s = n_s^α` with α = 1/2 — the multilingual-sampling flattening
    * (big sources down-weighted, small sources boosted; α→0 is uniform,
    * α=1 is [[mixtureQuotas]]' proportional draw). To keep the
    * apportionment EXACT cross-engine the weight is quantized onto a
    * 2⁻²⁰ grid: `W_s = floor(sqrt(n_s)·2²⁰)` is one per-row IEEE-exact
    * scalar (sqrt correctly rounded, power-of-two multiply exact, floor
    * exact — no FP accumulation anywhere), and the largest-remainder
    * machinery then runs on BIGINTs just like the proportional form. The
    * grid is a disclosed 1-ppm weight quantization, not drift: both
    * engines land on the identical integer.
    *
    * Range bound: `W_s·total ≈ sqrt(n_s)·2²⁰·total` must stay under 2⁶³ —
    * n_s ≤ 10¹² and total ≤ 10⁸ leaves a 8× margin.
    *
    * Scale shape: identical to [[mixtureQuotas]] — one map-combined
    * corpus aggregate, then #sources-sized arithmetic.
    */
  def temperatureQuotas(docs: DataFrame, total: Long): DataFrame = {
    require(total >= 0, s"total must be non-negative, got $total")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight_q20",
        floor(sqrt(col("n_docs").cast("double")) * lit((1L << 20).toDouble))
          .cast("long"))
    val tot = counts.agg(sum(col("weight_q20")).as("__W"))
    val q = counts.crossJoin(tot)
      .withColumn("__fq", expr(s"(weight_q20 * ${total}L) div __W"))
      .withColumn("__rem", (col("weight_q20") * lit(total)) % col("__W"))
    val deficit = q.agg((lit(total) - sum(col("__fq"))).as("__deficit"))
    val w = Window.orderBy(col("__rem").desc, col("source"))
    q.crossJoin(deficit)
      .withColumn("quota",
        col("__fq") + when(row_number().over(w) <= col("__deficit"), 1L)
          .otherwise(0L))
      .select(col("source"), col("n_docs"), col("weight_q20"), col("quota"))
  }

  /** Execute a [[temperatureQuotas]] apportionment: the α=1/2 quotas drawn
    * with the same deterministic md5-uniform per-source rank as
    * [[quotaSample]] — small sources over-sampled relative to proportional,
    * the full multilingual-mixture build step (apportion at temperature,
    * then draw). Same scale shape: broadcast #sources-row quotas, one rank
    * window, WindowGroupLimit-able cut.
    */
  def temperatureSample(docs: DataFrame, total: Long): DataFrame = {
    val quotas = temperatureQuotas(docs, total)
      .select(col("source"), col("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rn"))
  }

  /** Execute a [[mixtureQuotas]] apportionment: draw exactly `quota` docs
    * from each source, selected by the deterministic md5-uniform rank (the
    * same permutation [[mixtureInterleave]] and [[tokenBudget]] use) — so the
    * drawn set is a pure function of the data, identical on any cluster, and
    * sums to exactly `total`. This is the whole "build the mixture" step:
    * apportion, then draw.
    *
    * Scale shape: quotas reduce to a #sources-row broadcast; the draw is one
    * per-source rank window with the `rn <= quota` cut — WindowGroupLimit
    * forwards only candidate rows per task once the per-source cap is a
    * constant; with per-source quotas it stays a single window pass.
    */
  def quotaSample(docs: DataFrame, total: Long): DataFrame = {
    val quotas = mixtureQuotas(docs, total)
      .select(col("source"), col("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rn"))
  }

  /** Edit-distance fuzzy pairs: all (a < b) pairs within `maxDist`
    * Levenshtein edits, with *equi-join* candidate generation (segment
    * partitioning, the PassJoin scheme of Li/Deng/Feng 2011) — never
    * all-pairs, so the full-set path survives corpus scale.
    *
    * Candidate completeness argument: partition string `a` into `maxDist+1`
    * contiguous segments. Any `b` within `maxDist` edits of `a` leaves at
    * least one segment untouched (each edit touches ≤ 1 segment), and that
    * segment appears *verbatim* in `b`, start-shifted by at most `maxDist`
    * (indels before it). So `b`'s enumerated substrings — every segment
    * shape of every compatible source length `L ∈ [len(b)−t, len(b)+t]` at
    * every shift in `[−t, t]` — must collide with one of `a`'s segments on
    * the equi-key `(L, segIdx, segText)`. The enumeration is a constant
    * ≤ (2t+1)²·(t+1) substrings per string (75 at t=2): a narrow explode,
    * then one shuffle equi-join; candidates are O(collisions).
    * Strings shorter than `maxDist+1` chars (degenerate empty segments) go
    * through a tiny length-band equi-join instead. Every candidate is then
    * verified with Spark's *bounded* `levenshtein(l, r, threshold)`, which
    * early-exits once the distance provably exceeds the threshold — so the
    * output is exact, identical to the all-pairs formulation.
    */
  def fuzzyPairs(items: DataFrame, maxDist: Int): DataFrame = {
    val t = maxDist
    val tp1 = t + 1
    val base = items.select(col("doc_id").as("id"), col("title").as("s"),
      length(col("title")).as("len"))
    // persist: the frame feeds both join sides of candidate generation plus
    // the verification lookups ([[Dedup]] object doc, rule 1)
    val withLen = base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def segStart(lenC: Column, i: Int): Column =
      floor(lenC * i / tp1).cast("int")
    // index side: the t+1 segments of each string of length >= t+1
    val segs = withLen.filter(col("len") >= tp1)
      .select(col("id"), col("s"), col("len"),
        explode(array((0 until tp1).map { i =>
          struct(lit(i).as("i"), segStart(col("len"), i).as("p"),
            (segStart(col("len"), i + 1) - segStart(col("len"), i)).as("l"))
        }: _*)).as("g"))
      .select(col("id").as("id_a"), col("len").as("len_a"), col("g.i").as("i"),
        col("s").substr(col("g.p") + 1, col("g.l")).as("seg"))
    // probe side: every segment-shaped substring of b for every compatible
    // source length and shift — a constant-factor explode, no shuffle
    val combos = for { dL <- -t to t; i <- 0 until tp1; sh <- -t to t }
      yield (dL, i, sh)
    val probe = withLen
      .select(col("id"), col("s"), col("len"),
        explode(array(combos.map { case (dL, i, sh) =>
          struct(lit(dL).as("dL"), lit(i).as("i"), lit(sh).as("sh"))
        }: _*)).as("c"))
      .withColumn("len_a", col("len") + col("c.dL"))
      .withColumn("p", floor(col("len_a") * col("c.i") / tp1).cast("int"))
      .withColumn("l",
        floor(col("len_a") * (col("c.i") + 1) / tp1).cast("int") - col("p"))
      .withColumn("start", col("p") + col("c.sh"))
      .filter(col("len_a") >= tp1 && col("start") >= 0 &&
        col("start") + col("l") <= col("len"))
      .select(col("id").as("id_b"), col("len_a"), col("c.i").as("i"),
        col("s").substr(col("start") + 1, col("l")).as("seg"))
    val candLong = segs.join(probe, Seq("len_a", "i", "seg"))
      .filter(col("id_a") =!= col("id_b"))
    // degenerate short strings (len <= t): length-band equi-join — edit
    // distance <= t forces |len(a) - len(b)| <= t, and the partner is itself
    // <= 2t chars, so both sides are tiny slices of the corpus
    val shortsA = withLen.filter(col("len") <= t)
      .select(col("id").as("id_a"), col("len").as("len_a"))
    val shortsB = withLen.filter(col("len") <= 2 * t)
      .select(col("id").as("id_b"),
        explode(sequence(col("len") - t, col("len") + t)).as("len_a"))
    val candShort = shortsA.join(shortsB, Seq("len_a"))
      .filter(col("id_a") =!= col("id_b"))
    val cands = candLong.select("id_a", "id_b")
      .unionByName(candShort.select("id_a", "id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    cands
      .join(withLen.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(withLen.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0) // bounded form returns -1 above threshold
      .select("id_a", "id_b", "dist")
  }

  /** PII patterns. Deliberately plain (ASCII classes, bounded quantifiers):
    * they mean the same thing to Java regex and RE2, so the DuckDB oracle can
    * replicate redaction exactly.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Regex PII scrub: counts per category (on the original text) + the
    * redacted text (email → IP → phone, fixed order so results are
    * deterministic). Pure codegen'd projection — no shuffle, no UDF.
    */
  def piiRedact(df: DataFrame): DataFrame = {
    val t = col("text")
    df.withColumn("n_email", regexp_count(t, lit(EmailRe)).cast("long"))
      .withColumn("n_phone", regexp_count(t, lit(PhoneRe)).cast("long"))
      .withColumn("n_ip", regexp_count(t, lit(IpRe)).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "[EMAIL]"),
            IpRe, "[IP]"),
          PhoneRe, "[PHONE]"))
  }
}
