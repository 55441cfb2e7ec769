package graft.multimodal

import graft.Anchor._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` media payloads with typed
  * metadata, batch-shaped decode/feature-extraction over `mapPartitions`.
  *
  * Images and audio use REAL codecs from the JDK: `javax.imageio` PNG in
  * [[pngMedia]]/[[decodeImage]]/[[resizeImage]] and `javax.sound.sampled`
  * WAVE in [[wavMedia]]/[[decodeAudio]] — genuine encode→decode round trips
  * on the executors, exercised end-to-end by the `q_image_decode` /
  * `q_image_resize` / `q_audio_decode` oracles. Video has no JDK codec, so
  * [[videoMedia]]/[[sampleFrames]] use a trivial length-prefixed frame
  * container (the one STUBBED layer, disclosed there) around genuinely
  * PNG-encoded frames — the per-frame decode is real ImageIO. The generic
  * [[decodeStub]] produces deterministic fake features derived from the
  * bytes, and the real decoders fall back to it (or emit `decoded = false`)
  * for payloads they cannot parse. Everything around the codec — schema,
  * encoder-typed rows, per-partition batching, pushdown-friendly metadata
  * columns — is the real Spark plumbing any decoder plugs into.
  *
  * Scale notes: media bytes are the widest column by orders of magnitude —
  * keep metadata in separate columns so pruning/filtering never touches the
  * blob (parquet column pruning skips it entirely when unreferenced), and
  * decode via `mapPartitions` so any native codec amortizes init per
  * partition, not per row.
  */
object Multimodal {

  /** Shared PNG codec entry points for every ImageIO call in this module.
    * The one-time static init flips ImageIO's JVM-global stream-cache flag
    * to memory-backed: the JDK DEFAULT wraps every read/write in a
    * FileCache image stream — one temp file created, written and deleted
    * per codec call — a filesystem round trip per image that buys nothing
    * for these KB-scale in-memory payloads. The flag only selects the
    * stream implementation; decoded pixels and encoded bytes are identical.
    */
  private[multimodal] object PngCodec {
    javax.imageio.ImageIO.setUseCache(false)
    /** null (never throws) when the payload is not a decodable image —
      * callers keep their existing DLQ fallbacks.
      */
    def read(bytes: Array[Byte]): java.awt.image.BufferedImage =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    def write(img: java.awt.image.BufferedImage, out: java.io.OutputStream): Unit = {
      javax.imageio.ImageIO.write(img, "png", out)
      ()
    }
  }

  case class MediaRow(doc_id: Long, media: Array[Byte], format: String,
                      width: Int, height: Int)
  case class MediaFeatures(doc_id: Long, n_bytes: Long, format: String,
                           width: Int, height: Int, luma_mean: Double,
                           n_frames: Int)

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Build a deterministic media table from the documents table: the UTF-8
    * bytes of the text stand in for an encoded payload; metadata derived from
    * doc_id. (Testdata has no real media; the shapes are what matter.)
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      element_at(array(lit("jpeg"), lit("png"), lit("webp")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"),
      (col("doc_id") % 640 + 64).cast("int").as("width"),
      (col("doc_id") % 480 + 48).cast("int").as("height"))

  /** Deterministic fake decode: features any real codec would emit, computed
    * from the payload bytes so tests can assert exact values.
    */
  private[multimodal] def fakeDecode(r: MediaRow): MediaFeatures = {
    val bytes = if (r.media == null) Array.empty[Byte] else r.media
    // exact integer sum / length: deterministic double, oracle-reproducible
    val lumaMean =
      if (bytes.isEmpty) 0.0
      else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
    MediaFeatures(r.doc_id, bytes.length.toLong, r.format, r.width, r.height,
      lumaMean, bytes.length / 100 + 1)
  }

  /** Batch decode via mapPartitions — the real plumbing; the codec is the
    * stub above. Returns a typed Dataset.
    */
  def decodeStub(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition init happens here in a real codec (native lib handles)
      rows.map(fakeDecode)
    }
  }

  /** Deterministic real PNGs, one per document: a w×h gray gradient with
    * `gray(x,y) = (doc_id + 7x + 13y) mod 256`, encoded with the JDK's
    * `javax.imageio` PNG writer on the executors. PNG is lossless, so every
    * pixel statistic of the decoded image is exactly predictable from doc_id
    * — which is what lets a SQL oracle check a real encode→decode round trip.
    */
  def pngMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 16 + 1).toInt
        val h = (id % 12 + 1).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = ((id + 7L * x + 13L * y) % 256).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        PngCodec.write(img, bos)
        MediaRow(id, bos.toByteArray, "png", w, h)
      }
    }
  }

  /** Real image decode over `mapPartitions`: `javax.imageio.ImageIO.read`
    * on each payload, features from the decoded pixels (dimensions from the
    * image itself, `luma_mean` = mean of all RGB channel samples). Payloads
    * ImageIO cannot parse (the non-image stand-ins, truncated bytes) fall
    * back to [[fakeDecode]] rather than failing the batch — DLQ-style
    * tolerance at the codec layer.
    */
  def decodeImage(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.media == null) Array.empty[Byte] else r.media
        val img = PngCodec.read(bytes)
        if (img == null) fakeDecode(r)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          MediaFeatures(r.doc_id, bytes.length.toLong, r.format, w, h,
            sum.toDouble / (3.0 * w * h), 1)
        }
      }
    }
  }

  case class ImageHash(doc_id: Long, width: Int, height: Int,
                       hash_hi: Long, hash_lo: Long, decoded: Boolean)

  case class ImageHashLuma(doc_id: Long, width: Int, height: Int,
                           hash_hi: Long, hash_lo: Long, luma_mean: Double,
                           decoded: Boolean)

  /** [[imageDHash]] and [[decodeImage]]'s luma in ONE decode pass — the
    * media e2e pipeline needs both per batch image, and the decode is the
    * dominant per-image cost, so decoding once halves the batch's codec
    * bill. Same luma arithmetic as decodeImage (exact integer RGB sum,
    * single IEEE division) and same hash bits as imageDHash.
    */
  def imageHashLuma(spark: SparkSession, media: DataFrame): Dataset[ImageHashLuma] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.media == null) Array.empty[Byte] else r.media
        val img = PngCodec.read(bytes)
        if (img == null) ImageHashLuma(r.doc_id, 0, 0, 0L, 0L, 0.0, decoded = false)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          def gray(gx: Int, gy: Int): Int =
            img.getRGB(gx * w / 9, gy * h / 8) & 0xff
          var hi = 0L; var lo = 0L
          var k = 0
          while (k < 64) {
            val (gx, gy) = (k % 8, k / 8)
            if (gray(gx + 1, gy) > gray(gx, gy)) {
              if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
            }
            k += 1
          }
          ImageHashLuma(r.doc_id, w, h, hi, lo,
            sum.toDouble / (3.0 * w * h), decoded = true)
        }
      }
    }
  }

  /** dHash perceptual fingerprint over REAL decoded pixels: decode with
    * `ImageIO`, nearest-neighbor resample onto the canonical 9×8 dHash grid
    * (integer source index `(x·w) div 9` / `(y·h) div 8` — no
    * interpolation, so the sampled gray values are exact pixel values), and
    * emit one bit per adjacent-column comparison (`g(x+1,y) > g(x,y)`,
    * 8×8 = 64 bits split into two BIGINT halves so no bit ever lands on a
    * long's sign). Near-duplicate images differ in a few bits — pair them
    * with the [[graft.dedup.SimHash]] hamming machinery. Payloads ImageIO
    * rejects emit `decoded = false` with hash 0 (DLQ tolerance, same
    * contract as [[decodeAudio]]).
    *
    * Because the PNG fixtures are generated from a closed pixel formula
    * and PNG is lossless, a SQL oracle re-derives every bit — the hash
    * checks the whole encode→decode→resample→compare chain, not just
    * plumbing.
    */
  def imageDHash(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.media == null) Array.empty[Byte] else r.media
        val img = PngCodec.read(bytes)
        if (img == null) ImageHash(r.doc_id, 0, 0, 0L, 0L, decoded = false)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          def gray(gx: Int, gy: Int): Int = {
            val rgb = img.getRGB(gx * w / 9, gy * h / 8)
            // fixture images are gray (r == g == b); take one channel
            rgb & 0xff
          }
          var hi = 0L; var lo = 0L
          var k = 0
          while (k < 64) {
            val (x, y) = (k % 8, k / 8)
            if (gray(x + 1, y) > gray(x, y)) {
              if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
            }
            k += 1
          }
          ImageHash(r.doc_id, w, h, hi, lo, decoded = true)
        }
      }
    }
  }

  /** Near-duplicate image pairs at Hamming distance ≤ `maxDist` over
    * [[imageDHash]] fingerprints, with LOSSLESS band blocking: the 64 hash
    * bits split into four 16-bit bands; by pigeonhole any pair within
    * Hamming 3 agrees on at least one whole band, so the four band
    * equi-joins (never all-pairs) find every qualifying pair, and
    * `bit_count(xor)` verifies the exact distance. The same
    * banding/verification shape as SimHash text dedup, applied to the
    * image modality — gradient fixtures whose ids share dimensions differ
    * only where the mod-256 wrap crosses the grid, a genuine planted
    * near-dup family.
    *
    * Requires `maxDist ≤ 3`: at 4+, a pair can disagree in all four bands
    * and the blocking would silently lose it (enforced).
    */
  /** The 4×16-bit band rows of a (doc_id, hash_hi, hash_lo) frame — the
    * SINGLE band definition [[phashPairs]] and the maintained incremental
    * band index (`q_phash_incremental`) share: band j of a 64-bit hash is
    * bits [16j, 16j+16) (lo carries bits 0-31, hi bits 32-63). Pigeonhole:
    * two hashes within Hamming distance 3 agree on ≥1 of the 4 bands.
    */
  private[graft] def phashBands(hashes: DataFrame): DataFrame =
    hashes
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
      .withColumn("__b", explode(array(
        struct(lit(0).as("bi"), col("hash_lo").bitwiseAND(lit(0xFFFFL)).as("bv")),
        struct(lit(1).as("bi"), shiftright(col("hash_lo"), 16)
          .bitwiseAND(lit(0xFFFFL)).as("bv")),
        struct(lit(2).as("bi"), col("hash_hi").bitwiseAND(lit(0xFFFFL)).as("bv")),
        struct(lit(3).as("bi"), shiftright(col("hash_hi"), 16)
          .bitwiseAND(lit(0xFFFFL)).as("bv")))))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        col("__b.bi").as("bi"), col("__b.bv").as("bv"))

  /** [[phashBands]] plus the skew salt column the SALTED standing band
    * table carries (`salt = pmod(xxhash64(doc_id), numSalts)` as INT) —
    * the single salt definition [[phashIncrementalBucketed]]'s probe
    * explode must agree with. Write the result bucketed on
    * `(bi, bv, salt)`.
    */
  def phashBandsSalted(hashes: DataFrame, numSalts: Int): DataFrame =
    phashBands(hashes).withColumn("salt",
      pmod(xxhash64(col("doc_id")), lit(numSalts.toLong)).cast("int"))

  /** Incremental pHash near-dup maintenance: accept `delta` into the
    * STANDING v1 band index (4 band rows per image — O(batch), never a
    * corpus rehash), check the maintained index against a from-scratch
    * rebuild over `all` under a PROBABILISTIC multiset signature — (count,
    * xor of row hashes, exact sum of row hashes): xor alone cancels paired
    * differences, so the sum term is load-bearing (two differing multisets
    * must collide on count AND xor AND exact sum to fool it); the
    * word-for-word `exceptAll` equality lives in Round15OpsSpec, the
    * runtime check is this signature (ADVICE r15) — and answer
    * the batch's own near-dup query from the maintained index: banded
    * candidates over BOTH generations (4×16-bit pigeonhole, lossless at
    * Hamming ≤ 3), Hamming-verified, split by generation. One row per
    * delta image: `(doc_id, n_cand, n_matches_v1, n_matches_delta,
    * min_hamming (−1 when novel), verdict, inc_equals_rebuild)`.
    * `isV1` must classify partner ids (true = standing corpus).
    * At 100 TB: per-batch image dedup costs O(delta bands + collisions);
    * the rebuild proof is the one honest O(corpus) term and contributes
    * scan only (map-combined signature), never shuffle. EAGER: the delta
    * band build runs at call time (it anchors the maintenance step).
    */
  def phashIncremental(v1Bands: DataFrame, delta: DataFrame, all: DataFrame,
                       isV1: Column): DataFrame = {
    val deltaBands = phashBands(delta).anchor(Bound.Fixture)
    val maintained = v1Bands.unionByName(deltaBands)
    val rebuilt = phashBands(all)
    def sig(df: DataFrame) = {
      val h = xxhash64(col("doc_id"), col("hash_hi"),
        col("hash_lo"), col("bi"), col("bv"))
      // sum in DECIMAL(38,0): exact (no ANSI long-overflow throw) and
      // order-free; breaks the xor paired-cancellation class (ADVICE r15).
      df.agg(count(lit(1)), call_function("bit_xor", h),
        sum(h.cast("decimal(38,0)"))).head()
    }
    val incEq = sig(maintained) == sig(rebuilt)
    // BROADCAST the delta band side: the maintained index then STREAMS
    // past it — no corpus-sized shuffle (first probe draft joined wide and
    // shuffled the full index by (bi, bv): shufW ×29 at a ×30 corpus;
    // broadcast-delta re-probed flat). Right for crawl batches (bands =
    // 4·|batch| rows); a TB-scale delta takes the bucket-partitioned
    // co-located join instead — [[phashIncrementalBucketed]] (r17), with
    // the SALTED layout as the image-family default (see its SKEW note).
    val cand = broadcast(deltaBands.as("a"))
      .join(maintained.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("pid"),
        col("a.hash_hi").as("ahi"), col("a.hash_lo").as("alo"),
        col("b.hash_hi").as("bhi"), col("b.hash_lo").as("blo"))
      .distinct()
      .withColumn("from_v1", isV1)
    val m = cand.withColumn("ham",
      bit_count(col("ahi").bitwiseXOR(col("bhi"))) +
        bit_count(col("alo").bitwiseXOR(col("blo"))))
    val agg = m.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("ham") <= 3 && col("from_v1"), 1L).otherwise(0L))
        .as("n_matches_v1"),
      sum(when(col("ham") <= 3 && !col("from_v1"), 1L).otherwise(0L))
        .as("n_matches_delta"),
      min(when(col("ham") <= 3, col("ham"))).cast("long").as("__mh"))
    delta.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_matches_v1"), lit(0L)).as("n_matches_v1"),
        coalesce(col("n_matches_delta"), lit(0L)).as("n_matches_delta"),
        coalesce(col("__mh"), lit(-1L)).as("min_hamming"),
        when(coalesce(col("n_matches_v1"), lit(0L)) +
            coalesce(col("n_matches_delta"), lit(0L)) > 0,
          lit("near_dup")).otherwise(lit("novel")).as("verdict"),
        lit(incEq).as("inc_equals_rebuild"))
  }

  /** [[phashIncremental]]'s TB-DELTA variant — the bucket-partitioned
    * co-located probe the broadcast path discloses as the production shape
    * when the image batch itself is too large to broadcast (the
    * [[graft.dedup.Dedup.dedupDeltaAgainstCorpusLshBucketed]] template,
    * r16, applied to the image family). The standing v1 band index lives
    * as a CATALOG TABLE `(doc_id, hash_hi, hash_lo, bi, bv)` bucketed on
    * `(bi, bv)` ([[graft.maintain.Layout]]'s bucketed-write shape, written
    * once per index snapshot): the delta band probe shuffles O(4·|delta|)
    * rows INTO the table's bucketing — zero Exchange on the index side,
    * its layout IS the shuffle, paid once at snapshot write and amortized
    * over every batch — and the batch-internal candidate branch self-joins
    * the delta bands separately (a union with the table would erase the
    * bucketed partitioning — the r16 lesson). Candidate semantics,
    * Hamming verification, fate thresholds, the per-delta output row, and
    * the (count, xor, exact-sum) rebuild signature are identical to the
    * broadcast variant — Round17OpsSpec proves result equality and pins
    * the Exchange saving; the generation split means `isV1` is only
    * applied to corpus-branch partners (constant-true there by the
    * ids-unique-across-generations contract, same contract the broadcast
    * variant already assumes).
    *
    * At 100 TB: per-batch cost is O(delta bands + collisions) shuffle; the
    * corpus index contributes co-located SCAN only (columnar, never moved,
    * never broadcast-probed); the rebuild proof stays the one honest
    * O(corpus) scan term (map-combined signature, no shuffle). EAGER: the
    * delta band build anchors at call time ([[graft.Anchor]]).
    *
    * SKEW (measured, r17 Scratch at a ×30 corpus): unlike the md5-uniform
    * LSH bands, perceptual band values are NOT uniform — degenerate bands
    * (flat/monotone image regions → all-zeros/all-ones 16-bit slices)
    * concentrate key mass, and a bucketed scan's key-based partitioning
    * CANNOT be AQE-skew-split the way a shuffle join can (there is no
    * exchange to re-divide), so hot buckets serialize the collision work
    * the broadcast path spreads across scan splits (2.0 s vs 0.9 s at the
    * saturated probe fixture). `numSalts > 1` is the co-location-safe
    * escape hatch: the standing table is bucketed on `(bi, bv, salt)`
    * with `salt = pmod(xxhash64(doc_id), numSalts)` (build its content
    * with [[phashBandsSalted]]), and the probe explodes each delta band
    * row across all salts — delta-sized fan-out, hot keys spread over
    * `numSalts` sub-buckets, results identical (every corpus partner
    * carries exactly one salt, so each pair is found exactly once).
    * Bucket count is the co-located join's PARALLELISM, not a constant:
    * size it like shuffle partitions (≈ index bytes / 128 MiB, floored at
    * the cluster width), never copied from a smaller family.
    */
  def phashIncrementalBucketed(v1BandsTable: String, delta: DataFrame,
                               all: DataFrame, isV1: Column,
                               numSalts: Int): DataFrame = {
    require(numSalts >= 1, s"numSalts must be >= 1, got $numSalts")
    val s = delta.sparkSession
    val deltaBands = phashBands(delta).anchor(Bound.Fixture)
    val bandCols = Seq("doc_id", "hash_hi", "hash_lo", "bi", "bv").map(col)
    val v1Full = s.table(v1BandsTable)
    val v1Bands = v1Full.select(bandCols: _*)
    val rebuilt = phashBands(all)
    def sig(df: DataFrame) = {
      val h = xxhash64(col("doc_id"), col("hash_hi"),
        col("hash_lo"), col("bi"), col("bv"))
      df.agg(count(lit(1)), call_function("bit_xor", h),
        sum(h.cast("decimal(38,0)"))).head()
    }
    val incEq = sig(v1Bands.unionByName(deltaBands)) == sig(rebuilt)
    def pairCols(a: String, b: String) = Seq(
      col(s"$a.doc_id").as("doc_id"), col(s"$b.doc_id").as("pid"),
      col(s"$a.hash_hi").as("ahi"), col(s"$a.hash_lo").as("alo"),
      col(s"$b.hash_hi").as("bhi"), col(s"$b.hash_lo").as("blo"))
    // corpus branch: delta bands shuffle into the index table's (bi, bv[,
    // salt]) bucketing; the standing side reads co-located, zero Exchange
    val (probeSide, rhsSide, joinCond) =
      if (numSalts <= 1)
        (deltaBands, v1Bands,
          col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") =!= col("b.doc_id"))
      else
        (deltaBands.withColumn("salt",
            explode(sequence(lit(0), lit(numSalts - 1)))), v1Full,
          col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
            col("a.salt") === col("b.salt") &&
            col("a.doc_id") =!= col("b.doc_id"))
    val candV1 = probeSide.as("a")
      .join(rhsSide.as("b"), joinCond)
      .select(pairCols("a", "b"): _*)
      .distinct()
      .withColumn("from_v1", isV1)
    // batch-internal branch: delta-sized self-join, O(delta + collisions)
    val candDelta = deltaBands.as("a")
      .join(deltaBands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(pairCols("a", "b"): _*)
      .distinct()
      .withColumn("from_v1", lit(false))
    val m = candV1.unionByName(candDelta).withColumn("ham",
      bit_count(col("ahi").bitwiseXOR(col("bhi"))) +
        bit_count(col("alo").bitwiseXOR(col("blo"))))
    val agg = m.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("ham") <= 3 && col("from_v1"), 1L).otherwise(0L))
        .as("n_matches_v1"),
      sum(when(col("ham") <= 3 && !col("from_v1"), 1L).otherwise(0L))
        .as("n_matches_delta"),
      min(when(col("ham") <= 3, col("ham"))).cast("long").as("__mh"))
    delta.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_matches_v1"), lit(0L)).as("n_matches_v1"),
        coalesce(col("n_matches_delta"), lit(0L)).as("n_matches_delta"),
        coalesce(col("__mh"), lit(-1L)).as("min_hamming"),
        when(coalesce(col("n_matches_v1"), lit(0L)) +
            coalesce(col("n_matches_delta"), lit(0L)) > 0,
          lit("near_dup")).otherwise(lit("novel")).as("verdict"),
        lit(incEq).as("inc_equals_rebuild"))
  }

  def phashPairs(hashes: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"band blocking is lossless only for maxDist in [0, 3], got $maxDist")
    val withBands = phashBands(hashes.filter(col("decoded")))
    val cand = withBands.as("a")
      .join(withBands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.hash_hi").as("ha_hi"), col("a.hash_lo").as("ha_lo"),
        col("b.hash_hi").as("hb_hi"), col("b.hash_lo").as("hb_lo"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("ha_hi").bitwiseXOR(col("hb_hi"))) +
          bit_count(col("ha_lo").bitwiseXOR(col("hb_lo"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
  }

  case class AudioRow(doc_id: Long, media: Array[Byte], sample_rate: Int,
                      n_samples: Int)
  case class AudioFeatures(doc_id: Long, n_bytes: Long, sample_rate: Int,
                           n_samples: Int, peak: Int, mean_abs: Double,
                           zero_crossings: Long, decoded: Boolean)

  /** Deterministic sample value — pure integer math so a SQL oracle can
    * re-derive every decoded sample: `s(i) = (id·31 + i·17) mod 4001 − 2000`,
    * a pseudo-noise waveform spanning [−2000, 2000].
    */
  @inline private[graft] def wavSample(id: Long, i: Int): Int =
    (((id * 31 + i.toLong * 17) % 4001) - 2000).toInt

  /** Deterministic real WAVs, one per document: 16-bit mono little-endian
    * PCM of [[wavSample]] values, containerized with the JDK's
    * `javax.sound.sampled` WAVE writer on the executors (the audio analog of
    * [[pngMedia]]). PCM is lossless, so every decoded-sample statistic is
    * exactly predictable from doc_id — what lets a SQL oracle check a real
    * encode→decode round trip.
    */
  def wavMedia(spark: SparkSession, docs: DataFrame): Dataset[AudioRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val n = (id % 500 + 100).toInt
        val rate = 8000
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = wavSample(id, i)
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
          true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        AudioRow(id, bos.toByteArray, rate, n)
      }
    }
  }

  /** Real audio decode over `mapPartitions`: `AudioSystem.getAudioInputStream`
    * parses the WAVE container, samples are reassembled from the PCM frames,
    * and the features are exact integer statistics (peak amplitude, mean
    * absolute amplitude, zero crossings — the standard cheap audio-quality
    * screens). Unparseable payloads degrade to byte-derived stub features
    * with `decoded = false` — DLQ-style tolerance, matching [[decodeImage]].
    */
  /** Parse + format-gate a WAV payload: Some(sampleRate, pcmBytes) only for
    * MONO 16-bit little-endian signed PCM — the one layout the sample
    * reassembly in [[decodeAudio]]/[[frameEnergies]] understands. Anything
    * else (8/24-bit, big-endian, compressed, multi-channel interleaved)
    * would decode to silently-wrong statistics, breaking the DLQ-tolerance
    * contract (unparseable → flagged; never wrong-with-decoded=true), so it
    * returns None like an unparseable payload. ONE shared gate so the two
    * consumers can never disagree on decodability.
    */
  private def pcm16MonoLe(bytes: Array[Byte]): Option[(Int, Array[Byte])] = {
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (ais == null) None
    else {
      val f = ais.getFormat
      val ok =
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          f.getSampleSizeInBits == 16 && !f.isBigEndian && f.getChannels == 1
      if (!ok) None
      else Some((math.round(f.getSampleRate), ais.readAllBytes()))
    }
  }

  def decodeAudio(spark: SparkSession, media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.as[AudioRow].mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.media == null) Array.empty[Byte] else r.media
        val parsed = pcm16MonoLe(bytes)
        if (parsed.isEmpty)
          AudioFeatures(r.doc_id, bytes.length.toLong, r.sample_rate,
            r.n_samples, 0, 0.0, 0L, decoded = false)
        else {
          val (rate, data) = parsed.get
          val n = data.length / 2
          var i = 0
          var peak = 0
          var sumAbs = 0L
          var zc = 0L
          var prev = 0
          while (i < n) {
            // 16-bit little-endian signed PCM
            val s = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt
            val a = math.abs(s)
            if (a > peak) peak = a
            sumAbs += a
            if (i > 0 && prev.toLong * s < 0) zc += 1
            prev = s
            i += 1
          }
          AudioFeatures(r.doc_id, bytes.length.toLong, rate, n, peak,
            if (n == 0) 0.0 else sumAbs.toDouble / n, zc, decoded = true)
        }
      }
    }
  }

  case class FrameEnergy(doc_id: Long, frame_idx: Int, n_frames: Int,
                         energy: Long, peak: Int)

  /** ASR front-end framing: decode the WAV, slide a `win`-sample window at
    * `hop`-sample stride, and emit per-frame energy (Σ s², exact — |s| ≤
    * 2¹⁵ so a long never overflows a realistic window) and peak — the
    * voice-activity / loudness features every speech pipeline computes
    * before any model. Decode and framing run fused in one `mapPartitions`
    * pass (the samples never materialize as a column); payloads the decoder
    * rejects ([[decodeAudio]]'s format guard) emit no frames — the
    * per-document `q_audio_decode` audit is where rejects are counted.
    */
  def frameEnergies(spark: SparkSession, media: DataFrame,
                    win: Int, hop: Int): Dataset[FrameEnergy] = {
    require(win > 0 && hop > 0, s"win/hop must be positive, got $win/$hop")
    import spark.implicits._
    media.as[AudioRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.media == null) Array.empty[Byte] else r.media
        val parsed = pcm16MonoLe(bytes)
        if (parsed.isEmpty) Iterator.empty
        else {
          val data = parsed.get._2
          val n = data.length / 2
          @inline def sample(i: Int): Int =
            ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt
          val nf = if (n >= win) (n - win) / hop + 1 else 0
          (0 until nf).iterator.map { f =>
            var e = 0L
            var peak = 0
            var i = f * hop
            val end = f * hop + win
            while (i < end) {
              val s = sample(i)
              e += s.toLong * s
              if (math.abs(s) > peak) peak = math.abs(s)
              i += 1
            }
            FrameEnergy(r.doc_id, f, nf, e, peak)
          }
        }
      }
    }
  }

  case class ResampledAudio(doc_id: Long, in_rate: Int, out_rate: Int,
                            n_in: Int, n_out: Int, peak: Int, sum_abs: Long,
                            checksum: Long, decoded: Boolean)

  /** 2:1 audio decimation with a full container round trip proven
    * in-operator: parse the WAV ([[pcm16MonoLe]] gate), average adjacent
    * sample pairs with truncation toward zero (`(a+b)/2` in JVM int
    * division — the oracle mirrors it as `trunc((a+b)/2.0)`), RE-ENCODE the
    * half-rate signal as a real WAVE container on the executor, then
    * re-parse that output and compute every reported statistic from the
    * REPARSED bytes — so a malformed re-encode cannot pass. The positional
    * checksum Σ (i+1)·sᵢ pins sample ORDER, not just the multiset (all
    * exact longs: |s| ≤ 2¹⁵, n ≤ 600). Unparseable payloads degrade to
    * `decoded = false`, matching [[decodeAudio]]'s DLQ contract.
    *
    * Scale: one narrow `mapPartitions` pass, no shuffle; the blob never
    * becomes a column. A proper low-pass polyphase resampler swaps into the
    * same per-row slot — the averaging kernel is the exactness-friendly
    * stand-in for the FIR filter.
    */
  def resampleAudio(spark: SparkSession, media: DataFrame): Dataset[ResampledAudio] = {
    import spark.implicits._
    media.as[AudioRow].mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.media == null) Array.empty[Byte] else r.media
        pcm16MonoLe(bytes) match {
          case None =>
            ResampledAudio(r.doc_id, r.sample_rate, 0, r.n_samples, 0, 0, 0L,
              0L, decoded = false)
          case Some((rate, data)) =>
            @inline def sAt(d: Array[Byte], i: Int): Int =
              ((d(2 * i) & 0xff) | (d(2 * i + 1) << 8)).toShort.toInt
            val n = data.length / 2
            val m = n / 2
            val out = new Array[Byte](m * 2)
            var i = 0
            while (i < m) {
              val v = (sAt(data, 2 * i) + sAt(data, 2 * i + 1)) / 2
              out(2 * i) = (v & 0xff).toByte
              out(2 * i + 1) = ((v >> 8) & 0xff).toByte
              i += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat((rate / 2).toFloat,
              16, 1, true, false)
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(out), fmt, m.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            pcm16MonoLe(bos.toByteArray) match {
              case None =>
                ResampledAudio(r.doc_id, rate, 0, n, 0, 0, 0L, 0L,
                  decoded = false)
              case Some((outRate, rdata)) =>
                val rn = rdata.length / 2
                var peak = 0
                var sumAbs = 0L
                var ck = 0L
                var j = 0
                while (j < rn) {
                  val s = sAt(rdata, j)
                  val a = math.abs(s)
                  if (a > peak) peak = a
                  sumAbs += a
                  ck += (j + 1).toLong * s
                  j += 1
                }
                ResampledAudio(r.doc_id, rate, outRate, n, rn, peak, sumAbs,
                  ck, decoded = true)
            }
        }
      }
    }
  }

  /** ViT-style patch grid: one row per (image, patch) with pixel
    * coordinates; edge patches are clipped to the image. Pure narrow double
    * explode over the *metadata* columns — the blob is never touched, no
    * shuffle, O(w·h/p²) rows per image. The coordinate table is what a
    * vision-preprocessing stage feeds to the (per-partition-initialized)
    * decoder to crop patches.
    */
  def patchGrid(media: DataFrame, patch: Int): DataFrame = {
    val nx = (((col("width") - 1) / patch).cast("int") + 1)
    media.select(col("doc_id"), col("width"), col("height"))
      .withColumn("py",
        explode(sequence(lit(0), ((col("height") - 1) / patch).cast("int"))))
      .withColumn("px", explode(sequence(lit(0), nx - 1)))
      .select(col("doc_id"), col("width"), col("height"),
        (col("py") * nx + col("px")).as("patch_idx"),
        (col("px") * patch).as("x"), (col("py") * patch).as("y"),
        least(lit(patch), col("width") - col("px") * patch).as("pw"),
        least(lit(patch), col("height") - col("py") * patch).as("ph"))
  }

  /** Aspect-preserving downscale dims in pure integer math —
    * `w2 = max(1, w·maxDim / max(w,h))` (no-op when already within bounds).
    * Integer division, not a floating `scale` factor: `floor(w * 8/15.0)`
    * rounds differently across engines at representation boundaries, while
    * `w * 8 / 15` is the same integer everywhere — what lets the resize
    * oracle re-derive every output pixel exactly.
    */
  private[multimodal] def fitDims(w: Int, h: Int, maxDim: Int): (Int, Int) = {
    val mx = math.max(w, h)
    if (mx <= maxDim) (w, h)
    else (math.max(1, w * maxDim / mx), math.max(1, h * maxDim / mx))
  }

  /** REAL image resize over `mapPartitions`: decode with `javax.imageio`,
    * nearest-neighbor downscale (`src = dst · srcDim / dstDim`, integer
    * math — deterministic and oracle-reproducible, unlike interpolating
    * `Graphics2D` filters whose rounding is implementation-defined), then
    * re-encode PNG. Payloads ImageIO cannot parse fall back to a byte
    * truncation proportional to the pixel reduction, with the same
    * [[fitDims]] metadata math — DLQ-style tolerance, matching
    * [[decodeImage]].
    */
  def resizeImage(spark: SparkSession, media: DataFrame, maxDim: Int): Dataset[MediaRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.media == null) Array.empty[Byte] else r.media
        val img = PngCodec.read(bytes)
        if (img == null) {
          val (w2, h2) = fitDims(r.width, r.height, maxDim)
          val keep = math.max(1, (bytes.length.toLong * w2 * h2 /
            math.max(1L, r.width.toLong * r.height)).toInt)
          r.copy(media = bytes.take(keep), width = w2, height = h2)
        } else {
          val (sw, sh) = (img.getWidth, img.getHeight)
          val (w2, h2) = fitDims(sw, sh, maxDim)
          val out = new java.awt.image.BufferedImage(
            w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h2) {
            var x = 0
            while (x < w2) {
              out.setRGB(x, y, img.getRGB(x * sw / w2, y * sh / h2) & 0xffffff)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          PngCodec.write(out, bos)
          MediaRow(r.doc_id, bos.toByteArray, "png", w2, h2)
        }
      }
    }
  }

  // ---- video: frame container + frame sampling -----------------------------

  case class VideoRow(doc_id: Long, media: Array[Byte], n_frames: Int)
  case class FrameFeatures(doc_id: Long, frame_idx: Int, n_frames: Int,
                           width: Int, height: Int, luma_mean: Double,
                           decoded: Boolean)

  private val GVID_MAGIC = 0x47564944 // "GVID"

  /** Deterministic "videos": a GVID container — magic, frame count, then
    * length-prefixed REAL PNG frames (the [[pngMedia]] gradient
    * phase-shifted by 29·frame_idx, so every frame's pixels have a closed
    * form an oracle can re-derive). The JDK has no video codec, so the
    * *container* is this repo's own trivial format — but each frame inside
    * it is a genuine PNG encode, and [[sampleFrames]] runs a genuine PNG
    * decode per sampled frame. Production swap: container parse → MP4
    * demux, ImageIO → the real frame decoder; the Spark plumbing (binary
    * column, per-partition batching, frame explode) is unchanged.
    */
  def videoMedia(spark: SparkSession, docs: DataFrame): Dataset[VideoRow] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 8 + 1).toInt
        val h = (id % 6 + 1).toInt
        val nf = (id % 4 + 2).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(bos)
        dos.writeInt(GVID_MAGIC)
        dos.writeInt(nf)
        var f = 0
        while (f < nf) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val g = ((id + 7L * x + 13L * y + 29L * f) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val fb = new java.io.ByteArrayOutputStream()
          PngCodec.write(img, fb)
          dos.writeInt(fb.size())
          fb.writeTo(dos)
          f += 1
        }
        dos.flush()
        VideoRow(id, bos.toByteArray, nf)
      }
    }
  }

  /** Frame sampling + REAL per-frame decode: parse the GVID container,
    * keep every `step`-th frame, `ImageIO.read` each kept frame, features
    * from the decoded pixels (same luma formula as [[decodeImage]]). One
    * output row per sampled frame — the "explode video into training
    * frames" pipeline stage. Unparseable containers produce a single
    * `decoded = false` row (frame_idx −1) instead of failing the batch.
    *
    * Scale shape: `mapPartitions` flatMap — decode cost scales with
    * *sampled* frames only (the container is seeked frame-by-frame, skipped
    * frames are never decoded); the blob column is read once per row and
    * never shuffled.
    */
  def sampleFrames(spark: SparkSession, videos: DataFrame,
                   step: Int): Dataset[FrameFeatures] = {
    import spark.implicits._
    videos.as[VideoRow].mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val dis = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(r.media))
          require(dis.readInt() == GVID_MAGIC, "bad magic")
          val nf = dis.readInt()
          val out = scala.collection.mutable.ArrayBuffer[FrameFeatures]()
          var f = 0
          while (f < nf) {
            val len = dis.readInt()
            if (f % step == 0) {
              val b = new Array[Byte](len)
              dis.readFully(b)
              val img = PngCodec.read(b)
              val (w, h) = (img.getWidth, img.getHeight)
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                  x += 1
                }
                y += 1
              }
              out += FrameFeatures(r.doc_id, f, nf, w, h,
                sum.toDouble / (3.0 * w * h), decoded = true)
            } else {
              dis.skipBytes(len) // sampled-out frames are never decoded
            }
            f += 1
          }
          out.iterator
        } catch {
          case _: Exception =>
            Iterator(FrameFeatures(r.doc_id, -1, 0, 0, 0, 0.0, decoded = false))
        }
      }
    }
  }

  case class SceneCut(doc_id: Long, from_frame: Int, to_frame: Int,
                      n_pixels: Int, sum_abs_diff: Long, is_cut: Boolean)

  /** Shot-boundary (scene-cut) detection: decode consecutive frames, sum the
    * absolute gray-level difference per pixel position (exact long — values
    * ≤ 255·w·h), and flag transitions whose MEAN difference exceeds the
    * threshold via the cross-multiplied integer gate
    * `Σ|Δ| > thr · n_pixels` — no FP anywhere. The standard pre-processing
    * step that turns raw video into shot-level training clips.
    *
    * Scale shape: narrow `mapPartitions`, one frame of look-behind state per
    * video (two decoded frames in memory at a time, never the whole video);
    * no shuffle. Corrupt containers degrade to one `from_frame = −1` row,
    * matching [[sampleFrames]]'s DLQ contract.
    */
  def sceneCuts(spark: SparkSession, videos: DataFrame,
                meanDiffThreshold: Int): Dataset[SceneCut] = {
    import spark.implicits._
    videos.as[VideoRow].mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val dis = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(r.media))
          require(dis.readInt() == GVID_MAGIC, "bad magic")
          val nf = dis.readInt()
          val out = scala.collection.mutable.ArrayBuffer[SceneCut]()
          var prev: Array[Int] = null
          var f = 0
          while (f < nf) {
            val len = dis.readInt()
            val b = new Array[Byte](len)
            dis.readFully(b)
            val img = PngCodec.read(b)
            val (w, h) = (img.getWidth, img.getHeight)
            val cur = new Array[Int](w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                cur(y * w + x) = img.getRGB(x, y) & 0xff // gray frames: B channel
                x += 1
              }
              y += 1
            }
            if (prev != null && prev.length == cur.length) {
              var s = 0L
              var i = 0
              while (i < cur.length) {
                s += math.abs(cur(i) - prev(i))
                i += 1
              }
              out += SceneCut(r.doc_id, f - 1, f, cur.length, s,
                s > meanDiffThreshold.toLong * cur.length)
            }
            prev = cur
            f += 1
          }
          out.iterator
        } catch {
          case _: Exception =>
            Iterator(SceneCut(r.doc_id, -1, -1, 0, 0L, is_cut = false))
        }
      }
    }
  }
}
