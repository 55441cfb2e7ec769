package graft.sim

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split each vector into `m` subvectors,
  * k-means each subspace independently, store a vector as its `m` centroid
  * ids — 64 float dims become `m` small ints. Search is ADC (asymmetric
  * distance computation): the query stays exact; a candidate's distance is
  * the sum of per-subspace `||q_sub − C_sub[code]||²` terms, computed from
  * the codebook literals without ever touching the original vectors.
  *
  * Scale shape: encoding is a pure codegen'd projection against codebook
  * literals (no shuffle — the corpus streams through once and writes its
  * codes next to the ids); the ADC scan reads the *codes* table (m bytes per
  * vector rather than 4·dim), broadcasts the query block, and ranks with one
  * per-query window. At 100 TB the codes table is what makes exhaustive
  * rescoring affordable, and composes with [[Ivf]] (probe cells, then ADC
  * within them) exactly as in FAISS IVF-PQ.
  *
  * Like [[Ivf]], codebook *quality* only moves the recall/cost balance —
  * sampled fits are fine; the builder seeds per subspace so the index is
  * deterministic on fixed data.
  */
object Pq {

  case class Index(codebooks: Seq[Seq[Seq[Double]]]) { // m × k × dsub
    val m: Int = codebooks.size
    val k: Int = codebooks.head.size
    val dsub: Int = codebooks.head.head.size
    /** ||centroid||² per (subspace, code). */
    val norms2: Seq[Seq[Double]] =
      codebooks.map(_.map(c => c.map(x => x * x).sum))
    /** Native-expression kernel — see [[graft.functions.PqKernel]]. */
    lazy val kernel: graft.functions.PqKernel =
      new graft.functions.PqKernel(codebooks.map(_.map(_.toArray).toArray).toArray)
  }

  /** Fit `m` per-subspace codebooks of `k` centroids over `dim`-dimensional
    * vectors (`dim` must divide evenly into `m` subspaces).
    */
  def build(corpus: DataFrame, dim: Int, m: Int, k: Int): Index = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val dsub = dim / m
    // finite-vector guard — same rationale as Ivf.build
    val clean = Similarity.finiteVectors(corpus)
    val v = clean.select(col("embedding").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val books = (0 until m).map { sub =>
        val feats = v.select(
          array_to_vector(slice(col("v"), sub * dsub + 1, dsub)).as("features"))
        val model = new KMeans().setK(k).setSeed(42L + sub).setMaxIter(10)
          .setInitMode("random").fit(feats)
        model.clusterCenters.map(_.toArray.toSeq).toSeq
      }
      Index(books)
    } finally { v.unpersist(); () }
  }

  /** Process-wide index cache — the build is offline/amortized, same
    * rationale as [[Ivf.cachedBuild]].
    */
  private val indexCache =
    new scala.collection.concurrent.TrieMap[(String, Int, Int, Int), Index]()

  def cachedBuild(corpus: => DataFrame, corpusKey: String, dim: Int, m: Int,
                  k: Int): Index =
    indexCache.getOrElseUpdate((corpusKey, dim, m, k),
      build(corpus, dim, m, k))

  /** PQ codes for a vector column: per subspace, the argmin centroid of
    * `||c||² − 2·c·v_sub`, ties to the lowest code — the native
    * [[graft.functions.PqEncode]] expression (tight loop, codebooks as a
    * reference object; the literal-inlining formulation generated
    * megabyte-scale Java source whose ~9 s janino compile dwarfed the
    * actual work). No shuffle.
    */
  def codes(vec: Column, index: Index): Column =
    graft.functions.PqOps.pqEncode(vec, index.kernel)

  /** Per-query ADC lookup table — the heart of real ADC: for each query,
    * precompute `tab[sub][code] = ||C[code]||² − 2·q_sub·C[code]` ONCE
    * (m·k dot products per *query*), so each of the millions of candidates
    * costs only `m` array lookups instead of `m` dot products — how FAISS
    * implements ADC. Native [[graft.functions.PqAdcTable]] expression.
    */
  def adcTable(qVec: Column, index: Index): Column =
    graft.functions.PqOps.pqAdcTable(qVec, index.kernel)

  /** Candidate-side ADC distance: m nested lookups into the query's table. */
  def adcFromTable(tabCol: Column, codesCol: Column, index: Index): Column =
    (0 until index.m).map { sub =>
      element_at(element_at(tabCol, sub + 1), element_at(codesCol, sub + 1) + 1)
    }.reduce(_ + _)

  /** ADC top-k per query (smallest approximate L2) over `corpusCodes`, the
    * corpus encoded once as `(nn_id, codes)` rows ([[codes]]); in
    * production that frame is the materialized index table.
    */
  def topK(corpusCodes: DataFrame, queries: DataFrame, index: Index, k: Int): DataFrame = {
    // the lookup table is computed once per query row, before the broadcast
    val q = queries.select(col("vec_id").as("query_id"),
        adcTable(col("embedding").cast("array<double>"), index).as("adc_tab"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("nn_id"))
    corpusCodes.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("approx_dist", adcFromTable(col("adc_tab"), col("codes"), index))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "rank", "approx_dist")
  }

  /** IVF-PQ (the full FAISS composition): the coarse quantizer prunes to
    * `nprobe` of `nlist` cells, PQ/ADC ranks only the surviving candidates —
    * candidate volume drops from N to ~N·nprobe/nlist *and* each candidate
    * costs m code lookups instead of a full-vector dot. At 100 TB the
    * corpus is stored cell-partitioned ([[Ivf.writeCellPartitioned]]) with
    * its codes column alongside, so the cell join becomes partition pruning
    * over the codes table. An exact twin of a query lands in the query's own
    * nearest cell with identical codes, so twin retrieval stays a hard
    * guarantee for any `nprobe ≥ 1`.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, ivf: Ivf.Index,
                pq: Index, k: Int, nprobe: Int): DataFrame = {
    val c = corpus
      .select(col("vec_id").as("nn_id"), col("embedding").cast("array<double>").as("v"))
      .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("nn_id"), Ivf.cellId(col("v"), ivf).as("cell"),
        codes(col("v"), pq).as("codes"))
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("q_vec"))
      .withColumn("cell", explode(Ivf.probeCells(col("q_vec"), ivf, nprobe)))
      .select(col("query_id"), col("cell"),
        adcTable(col("q_vec"), pq).as("adc_tab"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("nn_id"))
    c.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("approx_dist", adcFromTable(col("adc_tab"), col("codes"), pq))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "rank", "approx_dist")
  }
}
