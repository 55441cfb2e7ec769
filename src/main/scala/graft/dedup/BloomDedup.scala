package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bloom-bitmap membership dedup: the ingest-time exact-duplicate filter a
  * crawl pipeline runs on every incoming batch against a standing corpus.
  *
  * The 100 TB shape this models: the corpus's content fingerprints are folded
  * ONCE into an m-bit Bloom bitmap (a standing artifact, rebuilt only when
  * the corpus compacts — Bloom 1970, CACM 13(7)); each delta batch probes the
  * bitmap MAP-SIDE (the bitmap rides into the probe as an 8 KB literal /
  * broadcast, the k bit tests are codegen'd array ops), and only the rows the
  * bloom flags — true duplicates plus the disclosed false-positive rate — pay
  * the exact-confirm join against the corpus fingerprint store. The
  * novel-majority path (the common case for a crawl batch) costs ZERO
  * shuffle: scan, hash, k array lookups, done. Contrast the exact anti-join,
  * which ships every delta row through a corpus-sized shuffle regardless.
  *
  * Replayability contract (what makes this oracle-checkable, not just
  * plausible): bit position j of fingerprint `fp` is
  * `md5U32(fp || ':' || j) mod m` — the library's standard deterministic
  * uniform ([[graft.functions.Md5Field.md5U32]]), so DuckDB re-derives the
  * EXACT bit set, every probe verdict, and every false positive from the base
  * tables. No false negatives by construction (a corpus fingerprint sets all
  * k of its own bits), so `is_dup -> bloom_hit` is an invariant the spec
  * pins, and the exact-confirm join restores exactness over the false
  * positives — the operator's RESULT is exact; only its COST rides the
  * probabilistic contract. Size m to the corpus (m/n ≈ 16, k = 4 gives
  * ~2e-4 fp); an undersized bitmap degrades cost, never correctness.
  */
object BloomDedup {

  /** One-row bitmap buffer (case class so the buffer rides the product
    * encoder; the array is the m/64 words of the bloom, OR-mergeable).
    */
  case class BloomBits(words: Array[Long])

  /** Typed Aggregator folding fingerprints into the m-bit bloom bitmap.
    * Partial aggregation is map-side (each task ORs into its own 8 KB
    * buffer; merge is word-wise OR), so building the bitmap over a 100 TB
    * corpus is one scan with NO data-dependent shuffle — the only thing
    * that moves is one m/64-word buffer per task.
    */
  final class BitmapAggregator(mBits: Int, k: Int)
      extends Aggregator[String, BloomBits, BloomBits] {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64, got $mBits")
    require(k >= 1, s"k must be >= 1, got $k")

    override def zero: BloomBits = BloomBits(new Array[Long](mBits / 64))

    override def reduce(b: BloomBits, fp: String): BloomBits = {
      // null fingerprints (md5 of a NULL text) set no bits — matching the
      // probe's concat null-propagation and the oracle's md5(NULL)=NULL
      if (fp == null) return b
      var j = 0
      while (j < k) {
        val pos = (graft.functions.Md5Field.field(
          org.apache.spark.unsafe.types.UTF8String.fromString(fp + ":" + j),
          0, 8) % mBits).toInt
        b.words(pos >>> 6) |= 1L << (pos & 63)
        j += 1
      }
      b
    }

    override def merge(a: BloomBits, b: BloomBits): BloomBits = {
      var i = 0
      while (i < a.words.length) { a.words(i) |= b.words(i); i += 1 }
      a
    }

    override def finish(r: BloomBits): BloomBits = r
    override def bufferEncoder: Encoder[BloomBits] = Encoders.product[BloomBits]
    override def outputEncoder: Encoder[BloomBits] = Encoders.product[BloomBits]
  }

  /** Build the corpus bloom: one scan, map-side partial ORs, one 8 KB row to
    * the driver (1-row memo class — bounded by m, never by corpus size).
    */
  def corpusBloom(corpusFp: DataFrame, mBits: Int, k: Int): Array[Long] =
    corpusFp.select(col("fp")).as[String](Encoders.STRING)
      .select(new BitmapAggregator(mBits, k).toColumn)
      .head().words

  /** Merge two blooms over the same (m, k): word-wise OR. This IS the
    * incremental-maintenance step — `bits(corpus ∪ batch) = bits(corpus) |
    * bits(batch)` exactly (each fingerprint's k positions depend on nothing
    * but the fingerprint), so accepting a batch costs one O(batch) scan
    * plus an 8 KB OR, never a corpus rebuild.
    */
  def mergeBlooms(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length,
      s"bloom word counts differ: ${a.length} vs ${b.length}")
    val out = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) | b(i); i += 1 }
    out
  }

  /** The k bit positions of `fp` as a Column (array<long>), matching the
    * aggregator and the oracle: `md5U32(fp || ':' || j) mod m`.
    */
  private def positions(fp: Column, mBits: Int, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), j =>
      pmod(graft.functions.Md5Field.md5U32(
        concat(fp, lit(":"), j.cast("string"))), lit(mBits.toLong)))

  /** Probe verdicts for a delta batch: one row per delta doc with
    * `bloom_hit` (all k bits set in the corpus bitmap), `is_dup` (exact —
    * bloom hit CONFIRMED against the corpus fingerprints), and the keep/drop
    * `verdict`. `corpusFp`/`deltaFp` carry a fingerprint column `fp`
    * (delta additionally `doc_id`); fingerprints are whatever content hash
    * the pipeline standardizes on (md5 hex here and in the oracle).
    *
    * Plan shape: the bitmap enters as a literal (8 KB at the default m), the
    * probe is a map-only projection over codegen'd array ops (element_at on
    * the word array + a 64-entry mask table — no dynamic-shift expression
    * exists, so the mask lookup keeps it whole-stage), and the exact-confirm
    * left-semi join runs ONLY over bloom-hit rows.
    *
    * Input: a prebuilt bitmap ([[corpusBloom]]) — the standing-artifact
    * entry point: the caller holds the corpus bloom (built once, maintained
    * across batches by OR-ing in each accepted batch's own bitmap) and pays
    * only the probe + exact confirm per incoming batch. The confirm
    * broadcasts the hit set; when the batch (hence the hit set) is itself
    * TB-scale, use [[bloomProbeBucketed]] — the bucket-partitioned
    * co-located confirm over the fp store as a catalog table (r17).
    */
  def bloomProbe(words: Array[Long], corpusFp: DataFrame, deltaFp: DataFrame,
                 mBits: Int = 1 << 16, k: Int = 4, keepFp: Boolean = false): DataFrame = {
    require(words.length == mBits / 64,
      s"bitmap has ${words.length} words, expected ${mBits / 64}")
    val bits = typedLit(words.toSeq)
    val masks = typedLit((0 until 64).map(1L << _))
    // the isNotNull gate is LOAD-BEARING, not belt-and-braces: on a NULL
    // fp the probe's positions are NULL indexes, and Spark 4.1's
    // element_at(literal-array, NULL) LEAKS the last array element
    // instead of returning NULL (the repo's documented r9 gotcha), which
    // collapses forall's three-valued result to a concrete boolean —
    // measured bloom_hit = false where the contract (and the DuckDB
    // oracle's replay) says NULL. Round17OpsSpec pins the NULL row on
    // both confirm variants.
    val hit = when(col("fp").isNotNull,
      forall(positions(col("fp"), mBits, k), p =>
        element_at(bits, shiftrightunsigned(p, 6).cast("int") + 1)
          .bitwiseAND(element_at(masks, pmod(p, lit(64L)).cast("int") + 1))
          =!= 0L))
    val probed = deltaFp.select(col("doc_id"), col("fp"))
      .withColumn("bloom_hit", hit)
    // exact confirm: BROADCAST the deduped bloom-hit fingerprint set
    // (bounded by true dups + the disclosed fp rate) and STREAM the corpus
    // fingerprint store past it — the corpus is never shuffled, never
    // deduped, never built into a hash table. Keyed on fp, not id: a
    // delta id carrying several fingerprints gets each row judged by its
    // OWN fp (and rows sharing an fp share one verdict, as they must).
    // `probed` is referenced on both sides, so the k-per-row md5 probe
    // recomputes once more — delta-sized map work, cheaper at every scale
    // than materializing the frame (callers wanting one pass checkpoint
    // the result, as the registry queries do).
    // inner-join + distinct rather than left-semi: a semi join can only
    // hash-build its RIGHT side (the corpus); the inner form broadcast-
    // builds the hit set and the second distinct collapses corpus
    // multi-match fan-out over hit-sized data only
    val dupFps = probed.filter(col("bloom_hit"))
      .select(col("fp")).distinct().hint("broadcast")
      .join(corpusFp.select(col("fp")), Seq("fp"), "inner")
      .distinct()
      .select(col("fp"), lit(true).as("__dup"))
    // NULL fingerprint (md5 of a NULL text) null-propagates end-to-end:
    // bloom_hit is NULL via the explicit isNotNull gate above (concat's
    // null-propagation alone is NOT enough — the element_at NULL-index
    // leak turned it into a concrete false until r17), and is_dup is
    // masked to NULL rather than coalesced to false, matching the
    // oracle's `bloom_hit AND fp IN corpus` three-valued logic
    // (NULL AND NULL = NULL); the verdict stays 'keep' on both sides
    // (ADVICE r14: divergence was latent — no fixture has NULL texts —
    // Round17OpsSpec now exercises the NULL row explicitly).
    val isDup = when(col("fp").isNotNull, coalesce(col("__dup"), lit(false)))
    val keep =
      (if (keepFp) Seq(col("fp")) else Nil) ++ Seq(col("doc_id"), col("bloom_hit"),
        isDup.as("is_dup"),
        when(coalesce(isDup, lit(false)), lit("drop"))
          .otherwise(lit("keep")).as("verdict"))
    probed.join(broadcast(dupFps), Seq("fp"), "left").select(keep: _*)
  }

  /** [[bloomProbe]]'s TB-DELTA variant — the bucket-partitioned co-located
    * exact confirm the broadcast path discloses as the production shape
    * when the bloom-hit set itself is too large to broadcast (the
    * [[graft.dedup.Dedup.dedupDeltaAgainstCorpusLshBucketed]] template,
    * r16, applied to the bloom family). The corpus fingerprint store lives
    * as a CATALOG TABLE `(fp)` bucketed on `fp`
    * ([[graft.maintain.Layout]]'s bucketed-write shape, written once per
    * corpus snapshot): the bitmap probe is unchanged (map-only, the 8 KB
    * literal rides into codegen), and the exact confirm shuffles the
    * DEDUPED hit-fp set — bounded by true dups + the disclosed fp rate,
    * never corpus-sized — INTO the table's bucketing as a LEFT-SEMI join
    * (no broadcast build, no corpus-side Exchange: the table's layout IS
    * the shuffle, paid once at snapshot write). The semi join replaces the
    * broadcast path's inner-join + distinct (that shape existed only
    * because a semi join can't broadcast-build its LEFT side; with the
    * bucketed SMJ the semi form is the natural one and never fans out).
    * Verdict columns, NULL-fingerprint three-valued logic, and the
    * keep/drop contract are identical to [[bloomProbe]] — Round17OpsSpec
    * proves result equality and pins the Exchange saving.
    *
    * At 100 TB: per-batch shuffle is O(delta + hits) (the probe output
    * joins its own hit verdicts on fp, hint-free — at TB batch sizes the
    * planner's SMJ is the right call, and nothing delta- or corpus-sized
    * is ever broadcast); the corpus store contributes co-located SCAN
    * only. `probed` is referenced on both sides of the confirm, so the
    * k-per-row md5 probe recomputes once more — delta-sized map work,
    * same disclosure as [[bloomProbe]].
    */
  def bloomProbeBucketed(words: Array[Long], corpusFpTable: String,
                         deltaFp: DataFrame, mBits: Int, k: Int): DataFrame = {
    require(words.length == mBits / 64,
      s"bitmap has ${words.length} words, expected ${mBits / 64}")
    val s = deltaFp.sparkSession
    val corpusFp = s.table(corpusFpTable)
    val bits = typedLit(words.toSeq)
    val masks = typedLit((0 until 64).map(1L << _))
    // isNotNull gate load-bearing (the element_at NULL-index leak) — see
    // [[bloomProbe]]'s probe comment
    val hit = when(col("fp").isNotNull,
      forall(positions(col("fp"), mBits, k), p =>
        element_at(bits, shiftrightunsigned(p, 6).cast("int") + 1)
          .bitwiseAND(element_at(masks, pmod(p, lit(64L)).cast("int") + 1))
          =!= 0L))
    val probed = deltaFp.select(col("doc_id"), col("fp"))
      .withColumn("bloom_hit", hit)
    // exact confirm: the deduped hit-fp set shuffles into the fp store's
    // bucketing — corpus side co-located, zero Exchange, nothing broadcast
    val dupFps = probed.filter(col("bloom_hit"))
      .select(col("fp")).distinct()
      .join(corpusFp.select(col("fp")), Seq("fp"), "left_semi")
      .select(col("fp"), lit(true).as("__dup"))
    val isDup = when(col("fp").isNotNull, coalesce(col("__dup"), lit(false)))
    probed.join(dupFps, Seq("fp"), "left").select(col("doc_id"), col("bloom_hit"),
      isDup.as("is_dup"),
      when(coalesce(isDup, lit(false)), lit("drop"))
        .otherwise(lit("keep")).as("verdict"))
  }
}
