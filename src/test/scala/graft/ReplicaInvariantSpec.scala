package graft

import graft.analytics.{Bootstrap, CountMin, Eval, HyperBall, Hypothesis}
import graft.dedup.{BloomDedup, ContentChunking, Dedup, DupClusters, MinHashLSH, Winnowing}
import graft.maintain.Layout
import graft.multimodal.Multimodal
import graft.ops.{Matching, Sampling}
import graft.text.{BleuScore, Curation, Dsir, NgramLm, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The disjoint-vocabulary replica invariant, asserted per operator.
  *
  * Replica `r` of the base corpus (sf0.001 `documents` plus planted
  * near-dups) gets `~r` appended to every token and its ids shifted by
  * r·10M. Within a replica the token, shingle and duplicate structure of
  * the base corpus is preserved exactly; across replicas the vocabularies
  * are disjoint, so no pair, run, edge or n-gram can join two replicas.
  * Each operator below therefore owes one of these on the 2× corpus
  * against the 1× corpus:
  *
  *  - [[Linear]]: exactly twice the rows;
  *  - [[Flat]]: exactly the same number of rows (a bounded summary, or a
  *    fixed delta judged against the growing corpus);
  *  - [[SameVerdicts]]: a fixed delta's verdict rows, equal row for row;
  *  - [[AtMost]]: a row count under a fixed bound at both sizes;
  *  - [[Replica0]]: operators whose per-replica output depends on hashing
  *    the `~r`-suffixed vocabulary (CDC boundaries, winnowing selection,
  *    band collisions, id sampling) do not replay exactly 2×. Replica 0
  *    is byte-identical at both sizes, so the 2× output restricted to
  *    rows whose ids all lie in replica 0's id band equals the 1× output.
  *
  * Every operator must return rows at 1×, so `0 = 2 · 0` cannot pass. A
  * cross-replica collision (shared vocabulary) breaks the [[Linear]]
  * operators first: their 2× output gains the cross-replica matches.
  */
class ReplicaInvariantSpec extends SparkSpec {
  import ReplicaInvariantSpec._

  private lazy val base: DataFrame =
    planted(spark.read.parquet(s"${sf()}/documents.parquet"))

  private lazy val tiers: Map[Int, Tier] =
    Seq(1, 2).map(n => n -> new Tier(spark, replicate(base, n), n)).toMap

  /** The fixed incoming batch for the bloom ops, fingerprinted: exact
    * copies (+1M) of replica 0's `% 10 == 0` docs, which the corpus holds,
    * and prefixed copies (+2M) of its `% 10 == 1` docs, which it does not.
    */
  private lazy val bloomDelta: DataFrame = {
    val d0 = tiers(1).docs
    val p = TempDirs.fixtureDir("replica_bloom_delta") + "/fp"
    d0.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(d0.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("zqxnear "), col("text")).as("text")))
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .write.parquet(p)
    spark.read.parquet(p)
  }

  private val ops: Seq[(String, Expect, Tier => DataFrame)] = Seq(
    ("ngramJaccardPairs", Linear, t =>
      Dedup.ngramJaccardPairs(t.docs, k = 5, threshold = 0.5)),
    ("sharedTokenRuns", Linear, t =>
      Dedup.sharedTokenRunsFromPositional(Dedup.positionalArrays(t.docs, 5),
        k = 5, minRunTokens = 10)),
    // the bench split is replica-invariant (mod 10M first)
    ("benchTokenRuns", Linear, { t =>
      val d = t.docs
      Dedup.benchmarkTokenRunsFromPositional(
        Dedup.positionalArrays(d.filter(col("doc_id") % Band % 97 =!= 3), 5),
        d.filter(col("doc_id") % Band % 97 === 3), k = 5, minRunTokens = 15)
    }),
    // the caller persists the shingle frames (the operator's contract)
    ("dedupCrossSnapshot", Linear, { t =>
      val d = t.docs
      Dedup.dedupDeltaAgainstCorpus(
        Dedup.withShingles(d.filter(col("doc_id") % Band % 7 =!= 0), 5)
          .persist(StorageLevel.MEMORY_AND_DISK),
        Dedup.withShingles(d.filter(col("doc_id") % Band % 7 === 0), 5)
          .persist(StorageLevel.MEMORY_AND_DISK),
        threshold = 0.5)
    }),
    // a fixed delta (replica 0's % 7 slice) against the growing corpus's
    // standing shingles and band index
    ("dedupCrossSnapshotLsh", SameVerdicts, { t =>
      Dedup.dedupDeltaAgainstCorpusLsh(t.shingles.filter(!inDelta("id")), t.bands,
        t.shingles.filter(inDelta("id")), threshold = 0.5)
    }),
    ("dedupXSnapLshBucketed", SameVerdicts, t =>
      Dedup.dedupDeltaAgainstCorpusLshBucketed(t.shinglesTable, t.bandsTable,
        t.shingles.filter(inDelta("id")), threshold = 0.5)),
    ("bloomProbeFixedDelta", SameVerdicts, t =>
      BloomDedup.bloomProbe(t.bloomWords, t.corpusFp, bloomDelta,
        mBits = BloomBits, k = 4)),
    ("bloomProbeDeltaBkt", SameVerdicts, t =>
      BloomDedup.bloomProbeBucketed(t.bloomWords, t.fpTable, bloomDelta,
        mBits = BloomBits, k = 4)),
    // the pHash space is dense, so a bigger index may match a delta image
    // more often: the invariant is one output row per delta image
    ("phashIncrementalFixedDelta", Flat, t =>
      Multimodal.phashIncremental(t.v1Bands, t.hashes.filter(inDelta("doc_id")),
        t.hashes, isV1 = !inDelta("pid"))),
    ("phashIncDeltaBkt", Flat, t =>
      Multimodal.phashIncrementalBucketed(t.v1Table, t.hashes.filter(inDelta("doc_id")),
        t.hashes, isV1 = !inDelta("pid"), numSalts = 1)),
    ("phashIncDeltaBktSalt", Flat, t =>
      Multimodal.phashIncrementalBucketed(t.v1SaltedTable,
        t.hashes.filter(inDelta("doc_id")), t.hashes, isV1 = !inDelta("pid"),
        numSalts = 16)),
    ("minhashLsh", Linear, t =>
      MinHashLSH.nearDuplicates(t.docs)),
    ("prefixFilterJaccard", Linear, t =>
      Dedup.prefixFilterJaccardPairsFromShingles(
        Dedup.withShingles(t.docs, 5).persist(StorageLevel.MEMORY_AND_DISK), threshold = 0.5)),
    ("tfCosinePairs", Linear, t =>
      Dedup.tfCosinePairsFromTf(
        Dedup.shingleTf(t.docs, 5).persist(StorageLevel.MEMORY_AND_DISK), threshold = 0.5)),
    ("labelPropagation", Linear, t =>
      DupClusters.labelPropagation(communityEdges(t.docs), rounds = 2)),
    // hub-cycle graph seeded at block 0 of every replica
    ("personalizedPpr", Linear, { t =>
      val d = t.docs
      val closing = d.filter(col("doc_id") % 10 === 0 && col("doc_id") % 100 === 90)
        .select((col("doc_id") - lit(90L)).as("id_a"), col("doc_id").as("id_b"))
      val seeds = d.filter(col("doc_id") % Band < 100 && col("doc_id") % 10 === 0)
        .select(col("doc_id").as("node_id"))
      DupClusters.personalizedPageRank(communityEdges(d).unionByName(closing), seeds)
    }),
    // band-collision density depends on each replica's hashed vocabulary
    ("minhashIncrDelta", Replica0("id_a", "id_b"), { t =>
      val d = t.docs.select(col("doc_id"), col("text"))
      val rest = Dedup.withShingles(d.filter(col("doc_id") % 10 =!= 3), 5)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val delta = Dedup.withShingles(d.filter(col("doc_id") % 10 === 3), 5)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bDelta = MinHashLSH.bandTable(MinHashLSH.signaturesFromShingles(delta, 64), 16)
      val bInc = MinHashLSH.bandTable(MinHashLSH.signaturesFromShingles(rest, 64), 16)
        .unionByName(bDelta)
      bDelta.as("d").join(bInc.as("all"),
          col("d.band") === col("all.band") && col("d.bucket") === col("all.bucket") &&
            col("d.id") =!= col("all.id"))
        .select(least(col("d.id"), col("all.id")).as("id_a"),
          greatest(col("d.id"), col("all.id")).as("id_b"))
        .distinct()
    }),
    ("randomWalks", Linear, t =>
      DupClusters.randomWalks(communityEdges(t.docs), steps = 3)),
    // users and minutes derive from ids with moduli that divide both the
    // replica (10M) and planted (+5M) offsets
    ("intervalJoinBatch", Linear, { t =>
      val d = t.docs
      val views = d.select((col("doc_id") - col("doc_id") % 100).as("v_user"),
        col("doc_id").as("view_id"),
        timestamp_micros(col("doc_id") % 100 * 60000000L).as("vt"))
      val purch = d.select((col("doc_id") - col("doc_id") % 100).as("p_user"),
        col("doc_id").as("purchase_id"),
        timestamp_micros(col("doc_id") % 100 * 60000000L +
          (col("doc_id") % 4 + 1) * 30000000L).as("pt"))
      views.join(purch, col("v_user") === col("p_user") && col("pt") >= col("vt") &&
        col("pt") < col("vt") + expr("INTERVAL 2 MINUTES"))
    }),
    // winnowing selection density depends on each replica's gram hashes
    ("winnowingPairs", Replica0("doc_a", "doc_b"), t =>
      Winnowing.fingerprintPairs(t.docs)),
    // CDC boundary density depends on each replica's token hashes
    ("cdcChunks", Replica0("doc"), t => ContentChunking.chunks(t.docs)),
    // the output is a depth × width grid; at this size it is not saturated
    // (123 → 238 rows measured), so the bound itself is the invariant
    ("countMinSketch", AtMost(4 * 512), { t =>
      val toks = t.docs.select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(col("token") =!= "")
      CountMin.sketch(toks, "token")
    }),
    ("dsirDocScores", Linear, t => Dsir.docScores(t.docs, targetSource = "src0")),
    ("hyperBall", Flat, t =>
      HyperBall.neighborhoodFunction(communityEdges(t.docs), maxHops = 2)),
    ("bfsHops", Linear, t =>
      DupClusters.bfsHops(communityEdges(t.docs), hubSeeds(t.docs), maxHops = 2)),
    ("bleuNgram", Flat, t => BleuScore.ngramPrecision(plantedPairs(t.docs),
      "pair_id", "cand", "ref")),
    ("bootstrapCI", Flat, t => Bootstrap.meanCI(t.docs, col("doc_id"),
      col("n_chars").cast("long"), seed = "probe")),
    ("matchedPairs", Linear, t => Matching.nearestControl(t.docs, col("lang"),
      col("doc_id"), col("n_chars").cast("long"), col("doc_id") % 4 === 0)),
    // (u + v) % 5 weights are offset-invariant: 5 divides 10M
    ("shortestPaths", Linear, t => DupClusters.boundedShortestPaths(
      communityEdges(t.docs).withColumn("w", (col("id_a") + col("id_b")) % 5 + 1),
      hubSeeds(t.docs), rounds = 2)),
    // the sample hashes each id, so replica 1 keeps a different subset
    ("consistentSample", Replica0("doc_id"), t =>
      Sampling.consistentEntitySample(t.docs, col("doc_id"), "probe", 300)),
    ("mrrAtK", Flat, t => Eval.mrrAtK(t.docs, expr("doc_id div 100"),
      col("n_chars").cast("long"), col("doc_id"), col("doc_id") % 7 === 0)),
    // blocks carry the replica band in the key prefix, so they never span
    // replicas; the stripped key text is identical in every replica
    ("editDistCandidates", Linear, { t =>
      val keyed = erKeys(t.docs).filter(length(col("k0")) >= 7)
        .withColumn("blk", substring(col("k0"), 1, 7))
      keyed.as("a").hint("shuffle_hash")
        .join(keyed.as("b").hint("shuffle_hash"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
            abs(length(col("a.k0")) - length(col("b.k0"))) <= 3)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    }),
    // prefixLen 7/9 = 4/6 text chars after the 3-char replica header
    ("editDistPairs4", Linear, t => Dedup.editDistancePairs(erKeys(t.docs), "k0",
      maxDist = 3, prefixLen = 7)),
    ("editDistPairs6", Linear, t => Dedup.editDistancePairs(erKeys(t.docs), "k0",
      maxDist = 3, prefixLen = 9)),
    ("bigramModelC12", Linear, t => NgramLm.train(t.docs).c12),
    ("pplFilterScores", Linear, t => NgramLm.perplexityFilter(
      t.docs.filter(col("doc_id") % 2 === 0), t.docs.filter(col("doc_id") % 2 =!= 0))),
    // every row its own value: the value domain grows with the corpus
    ("kwUnboundedDomain", Flat, t => Hypothesis.kruskalWallis(
      t.docs.select((col("doc_id") % 4).cast("string").as("g"), col("doc_id").as("cents")),
      "g", "cents")),
    ("kwCentsGridDomain", Flat, t => Hypothesis.kruskalWallis(
      t.docs.select((col("doc_id") % 4).cast("string").as("g"),
        col("n_chars").cast("long").as("cents")),
      "g", "cents")),
    ("fimSplit", Linear, t => Curation.fimSplit(t.docs)),
    ("specialTokenAudit", Flat, t => TextAnalysis.specialTokenAudit(t.docs)),
    ("rougeN", Flat, t => BleuScore.rougeN(plantedPairs(t.docs),
      "pair_id", "cand", "ref")))

  ops.foreach { case (name, expect, op) =>
    test(s"$name: $expect") {
      try check(name, expect, op(tiers(1)), op(tiers(2)))
      finally Anchor.releaseAll(spark)
    }
  }

  private def check(name: String, expect: Expect, one: DataFrame, two: DataFrame): Unit =
    expect match {
      case Linear | Flat =>
        val (n1, n2) = (one.count(), two.count())
        assert(n1 > 0, s"$name returns no rows at 1x")
        val want = if (expect == Linear) 2 * n1 else n1
        assert(n2 == want, s"$name: $n1 rows at 1x, $n2 at 2x (expected $want)")
      case AtMost(bound) =>
        val (n1, n2) = (one.count(), two.count())
        assert(n1 > 0, s"$name returns no rows at 1x")
        assert(n1 <= bound && n2 <= bound,
          s"$name: $n1 rows at 1x, $n2 at 2x (bound $bound)")
      case SameVerdicts =>
        val (r1, r2) = (rows(one), rows(two))
        assert(r1.nonEmpty, s"$name returns no rows at 1x")
        assert(r2 == r1, s"$name: verdicts at 2x differ from 1x: " +
          s"${(r2 diff r1).take(3)} vs ${(r1 diff r2).take(3)}")
      case Replica0(idCols @ _*) =>
        val r1 = rows(one)
        val r2 = rows(two.filter(idCols.map(c => col(c) < Band).reduce(_ && _)))
        assert(r1.nonEmpty, s"$name returns no rows at 1x")
        assert(r2 == r1, s"$name: replica 0's rows at 2x differ from 1x: " +
          s"${(r2 diff r1).take(3)} vs ${(r1 diff r2).take(3)}")
    }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
}

object ReplicaInvariantSpec {

  /** Width of one replica's id band. */
  val Band = 10000000L

  /** The fixed delta of the fixed-delta ops: replica 0's `% 7` slice. */
  def inDelta(idCol: String): Column = col(idCol) < Band && col(idCol) % 7 === 0
  val BloomBits: Int = 1 << 22

  sealed trait Expect
  case object Linear extends Expect { override def toString = "rows(2x) = 2 * rows(1x)" }
  case object Flat extends Expect { override def toString = "rows(2x) = rows(1x)" }
  case object SameVerdicts extends Expect {
    override def toString = "the fixed delta's verdict rows are equal at 1x and 2x"
  }
  final case class AtMost(bound: Int) extends Expect {
    override def toString = s"rows <= $bound at 1x and 2x"
  }
  final case class Replica0(idCols: String*) extends Expect {
    override def toString = "replica 0's rows at 2x equal the 1x rows"
  }

  /** One corpus size: the replicated corpus and the standing inputs the
    * fixed-delta operators read (built before the delta arrives, as a
    * production pipeline holds them).
    */
  final class Tier(spark: SparkSession, corpus: DataFrame, n: Int) {
    private val dir = TempDirs.fixtureDir(s"replica_x$n")
    private def parquet(name: String, df: DataFrame): DataFrame = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }

    val docs: DataFrame = parquet("corpus", corpus)
    /** string shingles and the band index of the non-delta corpus */
    val shingles: DataFrame = parquet("shingles", Dedup.withStringShingles(docs, 5))
    val bands: DataFrame = parquet("bands", MinHashLSH.replayableBandRows(
      MinHashLSH.md5Signatures(shingles.filter(!inDelta("id")), 16), 8))
    /** the corpus fingerprint store and its bloom bitmap */
    val corpusFp: DataFrame = parquet("fp", docs.select(md5(col("text")).as("fp")))
    lazy val bloomWords: Array[Long] = BloomDedup.corpusBloom(corpusFp, BloomBits, 4)
    /** gated dHash of real PNG renders, and the v1 band index of the non-delta images */
    val hashes: DataFrame = parquet("hashes", Multimodal.imageDHash(spark,
        Multimodal.pngMedia(spark,
          docs.filter(col("doc_id") % 16 + 1 >= 10 && col("doc_id") % 12 + 1 >= 8)).toDF())
      .toDF().filter(col("decoded"))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo")))
    private val v1Hashes = hashes.filter(!inDelta("doc_id"))
    val v1Bands: DataFrame = parquet("v1bands", Multimodal.phashBands(v1Hashes))

    val bandsTable: String = table("lsh_idx", bands, 8, "band", "bucket")
    val shinglesTable: String = table("lsh_arr", shingles.filter(!inDelta("id")), 8, "id")
    val v1Table: String = table("ph", v1Bands.repartition(32, col("bi"), col("bv")),
      32, "bi", "bv")
    val v1SaltedTable: String = table("phs",
      Multimodal.phashBandsSalted(v1Hashes, numSalts = 16)
        .repartition(32, col("bi"), col("bv"), col("salt")), 32, "bi", "bv", "salt")
    val fpTable: String = table("fp", corpusFp, 8, "fp")

    /** a catalog table bucketed (and sorted) on `cols`; reset first, since
      * the warehouse dir outlives the in-memory catalog */
    private def table(name: String, df: DataFrame, buckets: Int, cols: String*): String = {
      val t = s"replica_${name}_x$n"
      Layout.resetTable(spark, t)
      df.write.bucketBy(buckets, cols.head, cols.tail: _*)
        .sortBy(cols.head, cols.tail: _*).saveAsTable(t)
      t
    }
  }

  /** Base corpus plus planted near-dups (1-in-10 docs copied, first token
    * dropped, id +5M), so the pair joins have real work at every size.
    */
  def planted(docs: DataFrame): DataFrame =
    docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"),
        col("lang"), col("source"), col("n_chars")))

  /** `replicas` copies of `docs`: copy `r` has `~r` appended to every token
    * and ids shifted by r·10M.
    */
  def replicate(docs: DataFrame, replicas: Int): DataFrame =
    (0 until replicas).map { r =>
      docs.select((col("doc_id") + lit(r.toLong * Band)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1~$r").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)

  /** ER keys for the edit-distance ops: a fixed-width "rr|" replica header
    * (a variable-width one would leave fewer text chars inside the block
    * prefix for 2-digit replicas) and the text with its `~r` markers
    * stripped, so every replica's key set is byte-identical to replica 0's;
    * plus char-11 twins (id +3M, inside the replica band and clear of the
    * +5M planted offset).
    */
  def erKeys(d: DataFrame): DataFrame = {
    val keys = d.select(col("doc_id"),
      concat(lpad(expr("CAST(doc_id div 10000000 AS STRING)"), 2, "0"), lit("|"),
        substring(regexp_replace(col("text"), "~\\d+", ""), 1, 18)).as("k0"))
    keys.unionByName(keys.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(substring(col("k0"), 1, 10), lit("X"),
          substring(col("k0"), 12, 11)).as("k0")))
  }

  /** Star-and-ring community edges derived from doc ids; invariant under
    * the replica offset (100 divides 10M), so replicas carry disjoint
    * copies of the same communities.
    */
  def communityEdges(d: DataFrame): DataFrame = {
    val ids = d.select(col("doc_id"))
    val star = ids.filter(col("doc_id") % 10 =!= 0)
      .select((col("doc_id") - col("doc_id") % 10).as("id_a"), col("doc_id").as("id_b"))
    val ring = ids.filter(col("doc_id") % 10 === 0 && col("doc_id") % 100 < 90)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 10).as("id_b"))
      .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    star.unionByName(ring)
  }

  /** the hub seed set: ids ≡ 0 mod 100, offset-invariant */
  private def hubSeeds(d: DataFrame): DataFrame =
    d.select(col("doc_id").as("node_id")).filter(col("node_id") % 100 === 0)

  /** planted near-dup (+5M) candidates joined to their references; the key
    * keeps the replica offset, so pairs never span replicas
    */
  private def plantedPairs(d: DataFrame): DataFrame = {
    val ref = d.filter(col("doc_id") % Band < 5000000L && col("doc_id") % 10 === 0)
      .select(col("doc_id").as("k"), col("text").as("ref"))
    val cand = d.filter(col("doc_id") % Band >= 5000000L)
      .select((col("doc_id") - 5000000L).as("k"), col("doc_id").as("pair_id"),
        col("text").as("cand"))
    cand.join(ref, Seq("k"))
  }
}
