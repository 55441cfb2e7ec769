package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection (Broder '97 resemblance
  * sketches; LSH banding per Leskovec/Rajaraman/Ullman ch.3).
  *
  * Pipeline: shingle → per-shingle 64-bit hash → H permutations
  * `(a·h + b) mod p` → signature minima → b bands of r rows → band-bucket
  * equi-join for candidates → exact Jaccard verification.
  *
  * Signatures come from a typed imperative aggregate over exploded shingles
  * ([[graft.functions.MinHashAggregate]] — no UDF serialization boundary, no
  * interpreted HOF lambdas); banding stays declarative Catalyst. The only
  * shuffles are the signature aggregation, the band-bucket join and the
  * verification joins — candidate volume is O(collisions), never O(n²).
  *
  * Determinism: permutation params come from a seeded LCG, so signatures are
  * stable across runs/partitionings.
  */
object MinHashLSH {

  /** Mersenne prime 2^31 - 1: keeps `a*h + b` within 62 bits (ANSI-safe). */
  val P: Long = 2147483647L

  /** Seeded LCG-derived permutation params (a in [1,P), b in [0,P)).
    * `private[graft]` so oracle builders can inline the SAME constants as
    * SQL literals ([[graft.queries.VersionedQueries]]'s LSH replay).
    */
  private[graft] def params(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    var x = seed
    def next(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x >>> 33 }
    (0 until numHashes).map(_ => (next() % (P - 1) + 1, next() % P))
  }

  /** Signatures from an already-shingled (id, sh) frame (see
    * [[Dedup.withShingles]]). sig[i] = min over shingle hashes of
    * `(a_i·h + b_i) mod P`, computed by exploding the shingle array into
    * [[graft.functions.MinHashAggregate]] — one tight JVM loop per shingle
    * instead of numHashes × |shingles| interpreted HOF lambda evaluations
    * (the previous `transform`+`aggregate` shape; same values, order
    * independent either way since min commutes).
    */
  def signaturesFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val ps = params(numHashes, 42L)
    sh.select(col("id"), explode(col("sh")).as("s"))
      .groupBy(col("id"))
      .agg(graft.functions.MinHashAgg
        .minhashAgg(pmod(xxhash64(col("s")), lit(P)), ps, P).as("sig"))
  }

  /** Oracle-REPLAYABLE signatures over STRING shingles
    * ([[Dedup.withStringShingles]]): the base hash is the md5-u32 uniform
    * ([[graft.functions.Md5Field.md5U32]] — bit-exact in DuckDB via the
    * `OracleSql.md5U32Sql` idiom) folded mod P, then the same seeded LCG
    * permutations as [[signaturesFromShingles]]. Exists so LSH-candidate
    * DEDUP DECISIONS can be FULL-replayed by the driver's oracle —
    * xxhash64 signatures are faster but not SQL-recomputable, which caps
    * their proofs at self-verifying in-plan booleans
    * (`q_minhash_incremental`). Same aggregate kernel, same shuffle shape.
    */
  def md5Signatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val ps = params(numHashes, 42L)
    sh.select(col("id"), explode(col("sh")).as("s"))
      .groupBy(col("id"))
      .agg(graft.functions.MinHashAgg
        .minhashAgg(pmod(graft.functions.Md5Field.md5U32(col("s")), lit(P)),
          ps, P).as("sig"))
  }

  /** Band rows with a REPLAYABLE bucket key: the band's r signature values
    * joined as a decimal CSV string (`array_join` ≡ DuckDB
    * `array_to_string`), instead of [[bandTable]]'s murmur3 `hash` of the
    * slice. A production index would hash the tuple down to 8 bytes; the
    * decimal key costs bytes-per-row only and keeps the whole candidate
    * derivation inside the oracle's reach. Same maintenance contract as
    * [[bandTable]]: pure per-row computation over the signature, O(delta)
    * to maintain, no row ever changes.
    */
  def replayableBandRows(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => array_join(transform(
          slice(col("sig"), j * size(col("sig")) / bands + 1,
            size(col("sig")) / bands), v => v.cast("string")), ",")))
        .as(Seq("band", "bucket")))

  /** One-permutation signatures ([[graft.functions.OnePermMinHashAggregate]]):
    * one hash evaluation per shingle instead of `numHashes` — the shape that
    * holds when corpus shingle volume dwarfs signature width. Same banded-LSH
    * downstream; identical shingle sets still give identical signatures
    * (densification is deterministic), so exact-duplicate capture remains a
    * hard guarantee.
    */
  def signaturesOPH(sh: DataFrame, buckets: Int): DataFrame = {
    val Seq((a, b)) = params(1, 42L)
    sh.select(col("id"), explode(col("sh")).as("s"))
      .groupBy(col("id"))
      .agg(graft.functions.MinHashAgg
        .ophAgg(pmod(xxhash64(col("s")), lit(P)), a, b, P, buckets).as("sig"))
  }

  /** [[nearDuplicatesFromShingles]] with 64-bucket one-permutation
    * signatures in 16 bands.
    */
  def nearDuplicatesOPH(sh: DataFrame): DataFrame = {
    val cands = candidatePairs(signaturesOPH(sh, 64), 16)
    verifyExact(cands, sh)
  }

  /** The banded LSH index itself — (id, band, bucket), `bands` rows per
    * document: the MATERIALIZED sketch table a production dedup service
    * maintains between corpus versions. It is pure per-row computation over
    * the signature (no shuffle), so maintaining it is O(delta): append the
    * band rows of new docs, delete those of removed ids — no existing row
    * ever changes (each doc's rows derive from its own signature alone).
    * [[candidatePairsFromBands]] consumes it; `q_minhash_incremental`
    * proves delta-maintained ≡ rebuilt under the hash.
    */
  def bandTable(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => hash(slice(col("sig"), j * size(col("sig")) / bands + 1,
          size(col("sig")) / bands)))).as(Seq("band", "bucket")))

  /** Candidate pairs from a materialized band table: docs colliding in ≥1
    * band (self-equi-join on (band, bucket), half-matrix residual).
    */
  def candidatePairsFromBands(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Candidate pairs from banded LSH: docs colliding in ≥1 band. */
  def candidatePairs(sigs: DataFrame, bands: Int): DataFrame =
    candidatePairsFromBands(bandTable(sigs, bands))

  /** Full pipeline over 5-token shingles, 128 hashes in 32 bands:
    * candidates verified with *exact* shingle Jaccard ≥ 0.8 (the sketch only
    * prunes; it never asserts).
    */
  def nearDuplicates(docs: DataFrame): DataFrame = {
    // the shingle frame feeds three plan branches (signatures + both sides of
    // the verification join); persist so shingling runs once, not three times
    // — at cluster scale this is the sketch table you would checkpoint
    val sh = Dedup.withShingles(docs, 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nearDuplicatesFromShingles(sh, 128, 32)
  }

  /** [[nearDuplicates]] from an already-shingled, nonempty-filtered (id, sh)
    * frame (caller owns persistence — pass a persisted frame so shingling
    * runs once across the sketch and any exact baseline sharing it).
    */
  def nearDuplicatesFromShingles(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val cands = candidatePairs(signaturesFromShingles(sh, numHashes), bands)
    verifyExact(cands, sh)
  }

  /** Exact-Jaccard verification (≥ 0.8) of a candidate pair set against the shingle
    * frame: the sketch only prunes; this asserts.
    */
  private def verifyExact(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("intersection", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("intersection").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("intersection")).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b", "jaccard")
}
