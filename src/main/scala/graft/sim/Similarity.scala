package graft.sim

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the (huge) corpus; one codegen'd projection per (query, doc) pair,
  * ranked per query with a window. At 100 TB corpus scale the broadcast side
  * stays tiny and the scan is embarrassingly parallel.
  *
  * Scale path: random-hyperplane LSH (Charikar '02 SRP) — bucket the corpus
  * by sign-pattern of seeded hyperplane projections, probe only matching
  * buckets, verify with exact cosine. Trades recall for a corpus-side
  * equi-join instead of a full scan.
  *
  * Dot products are sequential left-folds (`aggregate`) over double-cast
  * arrays — deterministic and oracle-reproducible, still codegen'd.
  */
object Similarity {

  /** Dot product of two array<double> columns — native codegen'd expression
    * ([[graft.functions.DotProduct]]); same left-fold order as the composable
    * `aggregate(zip_with(...))` form, so results are bit-identical to it and
    * to the DuckDB oracle.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** The composable-HOF form of [[dot]] — kept as the reference semantics
    * (tests assert bit-equality with the native expression).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, guarded for degenerate vectors: a zero or empty
    * embedding (a failed encoder emits these at crawl scale) has norm 0 and
    * the raw division would throw DIVIDE_BY_ZERO under ANSI. Undefined
    * similarity is NULL — which sorts LAST under the `cosine desc` rank
    * every top-k in this file uses, so degenerate vectors can never win a
    * neighbor slot. Null embeddings were already NULL end-to-end
    * ([[graft.functions.DotProduct]] is null-safe).
    *
    * `try_divide`, NOT `when(denom > 0, dot/denom)`: subexpression
    * elimination does not collapse a subtree duplicated across a CaseWhen
    * condition and its value branch, so the when-form re-evaluates both
    * norms (5 dot-product loops per pair instead of 3 — measured 1.5× on a
    * cosine-dominated brute-force scan, interleaved A/B at sf0.1).
    * `try_divide` evaluates each operand once and returns NULL on a zero or
    * NULL divisor under ANSI; on every non-degenerate pair it is
    * bit-identical to the raw division, so oracles replaying `dot/(na*nb)`
    * in plain SQL are unaffected.
    *
    * The outer `nanvl(_, NULL)` closes the nastier corruption path: a
    * single NaN ELEMENT in one stored vector makes its cosine NaN, and
    * Spark orders NaN GREATER than every double — so one corrupted
    * embedding would win rank 1 in EVERY query's neighbor list (probed:
    * a planted NaN vector took rank 1 at cosine=NaN over a 0.99 true
    * neighbor). NaN → NULL puts corrupted vectors with the other
    * degenerates: last, never winning a slot. [[vectorHygiene]] FLAGS such
    * vectors for quarantine; this makes the scorer itself safe when they
    * haven't been quarantined yet. One scalar branch per pair — no
    * measurable cost; a no-op on every finite cosine.
    */
  def cosine(a: Column, b: Column): Column =
    nanvl(try_divide(dot(a, b), norm(a) * norm(b)),
      lit(null).cast("double"))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Rows whose vector is present and fully finite — the fit-side guard for
    * index builds. `array_to_vector` (the MLlib bridge both [[Ivf.build]]
    * and [[Pq.build]] feed KMeans through) THROWS on any NaN/Infinity
    * element, so one corrupt embedding in a crawl-scale corpus would abort
    * an hours-long offline build; and even if it didn't, a non-finite
    * vector averaged into a centroid poisons the whole cell. Degenerate
    * vectors carry no indexable direction (their query-time [[cosine]] is
    * NULL) — excluding them from the CENTROID FIT loses nothing. Zero
    * vectors are kept: they are legitimate L2 geometry for k-means even
    * though cosine against them is undefined. Null arrays drop (forall over
    * NULL is NULL).
    */
  def finiteVectors(df: DataFrame): DataFrame =
    df.filter(forall(asDouble(col("embedding")),
      x => !isnan(x) && abs(x) <= lit(Double.MaxValue)))

  /** Repartition a vector table for CPU-bound scoring: embedding tables are
    * tiny on disk vs their compute cost, so file-split parallelism
    * under-parallelizes (same rule as [[graft.dedup.Dedup]]).
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Deterministic rank: (cosine desc, id asc).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = spread(corpus.select(col("vec_id").as("nn_id"),
      asDouble(col("embedding")).as("nn_vec")))
    val q = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "rank", "cosine")
  }

  /** Maximal-marginal-relevance diverse top-k: greedily pick `k` of the
    * `nCandidates` most query-relevant vectors, each round maximizing
    * `λ·rel − (1−λ)·max_sim_to_already_picked` — the standard
    * redundancy-penalized selection (Carbonell/Goldstein MMR) for building
    * diverse training batches or dedup-aware rerank lists from an ANN
    * candidate pool.
    *
    * Scale shape: relevance scoring + the top-N cut are the distributed
    * part (broadcast 1-row query, TakeOrderedAndProject cut); the k greedy
    * rounds then run on the persisted N-row candidate frame — each round
    * one broadcast join against ≤k picked rows, a bounded-input argmax via
    * TakeOrdered, and an anchor to stop lineage stacking (the
    * [[graft.dedup.DupClusters.pageRankFixedPoint]] pattern). Nothing is
    * collected; N and k bound every round.
    *
    * Determinism: cosines are left-fold dots (bit-identical cross-engine),
    * the score is one fixed operand-order expression over them, `max_sim`
    * is an order-free max, and every argmax tie-breaks on id — so rank,
    * relevance AND score hash-compare (the A-ES selection discipline,
    * except here the scores are themselves reproducible outputs).
    */
  def mmrSelect(corpus: DataFrame, queryId: Long, k: Int, nCandidates: Int,
                lambda: Double): DataFrame = {
    require(k >= 1 && nCandidates >= k,
      s"need nCandidates >= k >= 1, got k=$k, nCandidates=$nCandidates")
    val v = corpus.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val q = v.filter(col("vec_id") === queryId)
      .select(col("vec").as("q_vec"))
    val cand = spread(v).filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("rel", cosine(col("q_vec"), col("vec")))
      .select(col("vec_id"), col("vec"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(nCandidates)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var selected = cand
      .orderBy(col("rel").desc, col("vec_id")).limit(1)
      .withColumn("mmr_rank", lit(1L))
      .withColumn("mmr_score", lit(lambda) * col("rel"))
      .anchor(Bound.Metadata)
    (2 to k).foreach { r =>
      val picked = selected.select(col("vec_id").as("__s_id"), col("vec").as("__s_vec"))
      val pick = cand
        .join(selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(broadcast(picked))
        .withColumn("__sim", cosine(col("vec"), col("__s_vec")))
        .groupBy(col("vec_id"))
        .agg(first(col("vec")).as("vec"), first(col("rel")).as("rel"),
          max(col("__sim")).as("__max_sim"))
        .withColumn("mmr_score",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__max_sim"))
        .orderBy(col("mmr_score").desc, col("vec_id")).limit(1)
        .withColumn("mmr_rank", lit(r.toLong))
        .select(col("vec_id"), col("vec"), col("rel"), col("mmr_rank"),
          col("mmr_score"))
      selected = selected.unionByName(pick).anchor(Bound.Metadata)
    }
    selected.select(col("mmr_rank"), col("vec_id"), col("rel"), col("mmr_score"))
  }

  /** All pairs (a<b) with cosine ≥ threshold, restricted to a candidate
    * subset on the left for bounded work.
    *
    * This is the *bounded-subset* tool (ground-truth checks, "compare these
    * N docs against the corpus"): work is O(|subset|·N). For full-corpus
    * near-duplicate detection use [[bucketedThresholdPairs]] — an unbounded
    * left side here is the classic O(N²) scale killer.
    */
  def thresholdPairs(corpus: DataFrame, threshold: Double, leftFilter: Column): DataFrame = {
    val v = corpus.select(col("vec_id").as("id"), asDouble(col("embedding")).as("vec"))
    val left = v.filter(leftFilter)
    left.select(col("id").as("id_a"), col("vec").as("vec_a"))
      .crossJoin(spread(v.select(col("id").as("id_b"), col("vec").as("vec_b"))))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Full-corpus near-duplicate pairs at cosine ≥ threshold via banded
    * SRP-LSH: 4 independent bucket keys of 4 sign bits each; a pair is a
    * candidate iff it collides in ≥1 band (same banding scheme as minhash
    * LSH), then every candidate is verified with the exact cosine. Work is
    * O(collisions) — a (band, bucket) equi-join — never the all-pairs cross
    * product. Recall at cosine c is 1-(1-(1-acos(c)/π)^4)^4: more bands →
    * higher recall, more planes per band → smaller buckets (more planes
    * per band for corpus sizes where 2^r buckets per band must keep
    * bucket×bucket verification bounded).
    */
  def bucketedThresholdPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val (bands, planesPerBand) = (4, 4)
    val planes = hyperplanes(bands * planesPerBand, 64, 42L)
    val v = spread(corpus.select(col("vec_id").as("id"), asDouble(col("embedding")).as("vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until bands).map { b =>
      srpBucket(col("vec"), planes.slice(b * planesPerBand, (b + 1) * planesPerBand))
    }
    val banded = v.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(v.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic dedup filter: survivors are the vectors with no
    * near-duplicate (cosine ≥ threshold) at a LOWER id — keep-first greedy,
    * evaluated in one parallel pass over the [[bucketedThresholdPairs]]
    * candidate pairs (no iteration: a vector is dropped when *any* lower-id
    * near-dup exists, whether or not that one survives — the standard
    * deterministic approximation of one-representative-per-cluster; chase
    * [[graft.dedup.DupClusters.connectedComponents]] over the pairs when
    * exact cluster representatives are required).
    *
    * Scale shape: candidates from the banded (band, bucket) equi-join, drop
    * set is id-distinct, survivors via a hash anti-join on the id — every
    * stage O(collisions), never all-pairs.
    */
  def semDedupSurvivors(corpus: DataFrame, threshold: Double): DataFrame = {
    val dropped = bucketedThresholdPairs(corpus, threshold)
      .select(col("id_b").as("vec_id")).distinct()
    corpus.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Seeded deterministic unit-free hyperplanes: values from an LCG, shaped
    * [numPlanes][dim]. Sign pattern = SRP-LSH bucket.
    */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    var x = seed
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Seq.fill(numPlanes)(Seq.fill(dim)(next()))
  }

  /** SRP-LSH bucket id (bit b = sign of projection onto plane b) — native
    * [[graft.functions.SrpBucket]]: planes ship as a reference object, not
    * literals in the generated source, so codegen compile time is constant in
    * plane count (the `q_ann_lsh` regression root cause — see SrpOps).
    */
  def srpBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.SrpOps.srpBucket(vec, planes)

  /** The composable form of [[srpBucket]] — kept as the reference semantics
    * (tests assert bit-equality with the native expression).
    */
  def srpBucketHof(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val planesLit = typedLit(planes)
    planes.indices.map { i =>
      when(dot(vec, element_at(planesLit, i + 1)) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** LSH-bucketed ANN: probe only the query's bucket, verify with exact
    * cosine, rank per query. Approximate (recall < 1): vectors near a
    * hyperplane may land in a different bucket than their neighbors.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val planes = hyperplanes(8, 64, 42L)
    val c = spread(corpus.select(col("vec_id").as("nn_id"),
      asDouble(col("embedding")).as("nn_vec")))
      .withColumn("bucket", srpBucket(col("nn_vec"), planes))
    val q = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_vec"))
      .withColumn("bucket", srpBucket(col("q_vec"), planes))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "rank", "cosine")
  }

  /** Multiprobe SRP-LSH ANN: probe the query's bucket AND every bucket at
    * Hamming distance 1 (one sign bit flipped — the buckets a near-boundary
    * neighbor most likely fell into). Recall approaches multi-table LSH at
    * the cost of 8 extra *probe keys* per query (one per plane) instead of
    * 8 extra copies of the corpus index — the standard trade
    * (Lv et al., VLDB '07) when the index is 100 TB and queries are not.
    * Probe expansion happens on the tiny broadcast query side; the corpus
    * side stays a single equi-join on its one bucket column, and a corpus
    * vector can match at most one probe of a query (probe buckets are
    * pairwise distinct), so no dedup pass is needed.
    */
  def lshTopKMultiprobe(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val planes = hyperplanes(8, 64, 42L)
    val c = spread(corpus.select(col("vec_id").as("nn_id"),
      asDouble(col("embedding")).as("nn_vec")))
      .withColumn("bucket", srpBucket(col("nn_vec"), planes))
    val masks = 0L +: (0 until 8).map(i => 1L << i)
    val q = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q_vec"))
      .withColumn("__b0", srpBucket(col("q_vec"), planes))
      .withColumn("bucket",
        explode(array(masks.map(m => col("__b0").bitwiseXOR(lit(m))): _*)))
      .drop("__b0")
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "rank", "cosine")
  }

  /** Approximate k-NN *graph* over the whole corpus (every vector's top-k
    * neighbors, not a query set): candidates from the banded SRP
    * (band, bucket) equi-join in both directions, exact-cosine re-rank per
    * source, `mutual` marking edges whose reverse edge also survived its
    * source's top-k — the backbone for graph-based diversity sampling and
    * cluster seeding (mutual-kNN edges are the standard density signal).
    *
    * Scale shape: candidate generation is O(bucket collisions), never
    * all-pairs; the per-source window is bounded by that vector's candidate
    * count; the mutual check is a self equi-join of the (already small)
    * edge set on (src, dst). Vectors whose buckets are singletons in every
    * band produce no rows — at 100 TB you'd widen recall with more bands or
    * Hamming-1 multiprobe ([[lshTopKMultiprobe]]'s expansion applied to the
    * banded keys), not by densifying buckets.
    */
  def knnGraph(corpus: DataFrame, k: Int): DataFrame = {
    val planes = hyperplanes(4 * 4, 64, 42L)
    val v = spread(corpus.select(col("vec_id").as("id"), asDouble(col("embedding")).as("vec")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until 4).map { b =>
      srpBucket(col("vec"), planes.slice(b * 4, (b + 1) * 4))
    }
    val banded = v.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"))
      .distinct()
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    val edges = cands
      .join(v.select(col("id").as("src"), col("vec").as("vec_a")), "src")
      .join(v.select(col("id").as("dst"), col("vec").as("vec_b")), "dst")
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("rank"), col("cosine"))
    val reverse = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("mutual"))
    edges.join(reverse, Seq("src", "dst"), "left")
      .withColumn("mutual", coalesce(col("mutual"), lit(false)))
  }

  /** Embedding-table hygiene audit: counts of wrong-dimension, NaN-bearing,
    * and all-zero vectors (the three corruption classes an embedding
    * ingest job produces — truncated writes, failed model calls, padding
    * rows) plus the clean count. One map-side partial aggregate over a
    * codegen'd projection; the reduce ships five longs. Run it as the
    * admission gate before an embedding table feeds ANN/dedup — a single
    * zero vector silently poisons cosine top-k (division by zero norm).
    */
  def vectorHygiene(corpus: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val wrongDim = size(v) =!= 64
    val withNan = exists(v, x => isnan(x))
    val allZero = forall(v, x => x === 0.0)
    corpus.agg(
      count(lit(1)).as("n_vectors"),
      sum(when(wrongDim, 1L).otherwise(0L)).as("n_wrong_dim"),
      sum(when(withNan, 1L).otherwise(0L)).as("n_with_nan"),
      sum(when(allZero, 1L).otherwise(0L)).as("n_zero"),
      sum(when(!wrongDim && !withNan && !allZero, 1L).otherwise(0L)).as("n_ok"))
  }

  /** Contrastive-pair mining: for each anchor, the nearest same-label
    * vector (`kind = "pos"`) and the nearest different-label vector
    * (`kind = "neg"` — the *hard negative*) among its SRP bucket mates.
    * The standard training-pair generator for contrastive/metric learning
    * over a labeled corpus.
    *
    * Scale shape: identical to [[lshTopK]] — anchors broadcast, corpus
    * side one bucket equi-join, rank-1 window per (anchor, kind). The
    * label join rides the same rows; no extra shuffle.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame): DataFrame = {
    val planes = hyperplanes(8, 64, 42L)
    val c = spread(corpus.select(col("vec_id").as("nn_id"),
        asDouble(col("embedding")).as("nn_vec"), col("label").as("nn_label")))
      .withColumn("bucket", srpBucket(col("nn_vec"), planes))
    val a = anchors.select(col("vec_id").as("anchor"),
        asDouble(col("embedding")).as("a_vec"), col("label").as("a_label"))
      .withColumn("bucket", srpBucket(col("a_vec"), planes))
    val scored = c.join(broadcast(a), "bucket")
      .filter(col("anchor") =!= col("nn_id"))
      .withColumn("kind",
        when(col("a_label") === col("nn_label"), "pos").otherwise("neg"))
      .withColumn("cosine", cosine(col("a_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("anchor"), col("kind"))
      .orderBy(col("cosine").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("anchor"), col("kind"), col("nn_id"), col("a_label"),
        col("nn_label"), col("cosine"))
  }

  /** Online near-duplicate filter: each incoming vector is checked against
    * the corpus vectors in its SRP bucket; pairs at cosine ≥ threshold come
    * back as (in_id, dup_of, cosine) flags. Stateless select/join/filter, so
    * the SAME code runs on a *streaming* `incoming` as a stream-static join
    * — each micro-batch probes the static corpus index (at 100 TB the
    * corpus side is the bucketed lake table, so the probe prunes to
    * matching buckets instead of scanning) — which is how an ingest
    * pipeline drops near-dups before they ever land. StreamingSpec runs it
    * live over MemoryStream. Vectors are 64-dimensional.
    */
  def nearDupFlags(incoming: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    val planes = hyperplanes(8, 64, 42L)
    val c = corpus.select(col("vec_id").as("dup_of"), asDouble(col("embedding")).as("c_vec"))
      .withColumn("bucket", srpBucket(col("c_vec"), planes))
    val in = incoming.select(col("vec_id").as("in_id"), asDouble(col("embedding")).as("in_vec"))
      .withColumn("bucket", srpBucket(col("in_vec"), planes))
    in.join(c, "bucket")
      .filter(col("in_id") =!= col("dup_of"))
      .withColumn("cosine", cosine(col("in_vec"), col("c_vec")))
      .filter(col("cosine") >= threshold)
      .select("in_id", "dup_of", "cosine")
  }

  /** Scalar int8 quantization (per-vector min/max affine): code[i] =
    * round((v[i]−mn)/scale) ∈ [0,255] with scale = (mx−mn)/255 — the
    * compression step that makes a 100 TB embedding corpus index-resident
    * (4 B float → 1 B code, reconstruction error ≤ scale/2). Constant
    * vectors (scale 0) code to all-zeros. Narrow codegen'd projection; the
    * min/max are materialized in their own projection so the transform
    * lambda doesn't re-reduce the array per element.
    */
  def quantizeInt8(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("mn", array_min(col("vec")))
      .withColumn("scale", (array_max(col("vec")) - col("mn")) / 255.0)
      .withColumn("codes",
        when(col("scale") === 0.0, transform(col("vec"), _ => lit(0L)))
          .otherwise(transform(col("vec"),
            x => round((x - col("mn")) / col("scale"), 0).cast("long"))))

  /** Per-label centroids via exact decimal sums (order-independent): output
    * (label, dim, n, centroid) with centroid = decimal-sum / n rounded.
    */
  def labelCentroids(corpus: DataFrame): DataFrame =
    corpus.select(col("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)).as("sum_v"))
      .withColumn("centroid", round(col("sum_v").cast("double") / col("n"), 8))
      .select("label", "dim", "n", "centroid")

  /** Centroid-based (simplified) silhouette per cluster — the standard
    * large-scale clustering-quality readout (the classic silhouette's
    * all-pairs a(i) is O(n²); against centroids it is O(n·k), the form
    * every production clustering eval actually computes): for each point,
    * a = distance to its OWN label centroid, b = min distance to any
    * other, s = (b−a)/max(a,b) ∈ [−1, 1]. Centroids are the
    * [[labelCentroids]] 8-decimal-rounded values (rounding pins them
    * bit-identical cross-engine); distances fold sequentially over the
    * 64-dim zip (the [[dotHof]] order contract); and each point's s
    * quantizes to the floor-micro grid so the per-cluster MEAN is a ratio
    * of exact integers (a raw data-sized double sum would be
    * fold-order-divergent; 1-ulp flip risk at the micro grid is
    * ~2e-10/point). Scale shape: one k×64 centroid broadcast against the
    * point scan, one map-combined aggregate per label. Per label: `label`,
    * `n`, `s_sum_micro`, `mean_silhouette`.
    */
  def centroidSilhouette(corpus: DataFrame): DataFrame = {
    val cvecs = labelCentroids(corpus)
      .groupBy(col("label").as("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        x => x("centroid")).as("cvec"))
    val dists = corpus
      .select(col("vec_id").as("__id"), col("label"),
        asDouble(col("embedding")).as("vec"))
      .crossJoin(broadcast(cvecs))
      .select(col("__id"), col("label"), col("clabel"),
        sqrt(aggregate(zip_with(col("vec"), col("cvec"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
          .as("dist"))
    val ab = dists.groupBy(col("__id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
    // b is NULL when the corpus has a single label (no "other" cluster).
    // Spark's greatest() IGNORES NULLs while SQL greatest() propagates
    // them, so gate on b explicitly: a lone-cluster point contributes 0
    // (the CASE...ELSE 0 path the oracle already takes) on BOTH engines.
    val sq = when(col("b").isNotNull && greatest(col("a"), col("b")) > lit(0.0),
      floor((col("b") - col("a")) / greatest(col("a"), col("b")) * lit(1e6))
        .cast("long")).otherwise(lit(0L))
    ab.select(col("label"), sq.as("__sq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("__sq")).as("s_sum_micro"))
      .withColumn("mean_silhouette",
        col("s_sum_micro").cast("double") /
          (col("n").cast("double") * lit(1e6)))
  }
}
