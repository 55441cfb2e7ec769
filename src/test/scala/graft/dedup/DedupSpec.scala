package graft.dedup

import graft.SparkSpec
import graft.Tables
import graft.queries.PipelineQueries
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf())
  private lazy val aug = PipelineQueries.augmented(docs)

  private def shingled(d: org.apache.spark.sql.DataFrame, k: Int) =
    Dedup.withShingles(d, k).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def tfCosine(d: org.apache.spark.sql.DataFrame, k: Int, threshold: Double) =
    Dedup.tfCosinePairsFromTf(
      Dedup.shingleTf(d, k).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      threshold)

  test("shingles: < k tokens yields empty, k tokens yields one, dups collapse") {
    val out = Seq("a b c", "a b c d e", "x x x x x x", "a b c d e f")
      .toDF("text").select(Dedup.shingles(col("text"), 5).as("sh"))
      .as[Seq[Long]].collect()
    assert(out(0).isEmpty)
    assert(out(1).length == 1)
    assert(out(2).length == 1) // distinct collapses identical shingles
    // shingle identity: same token window → same hash, across documents
    assert(out(3).contains(out(1).head))
    assert(out(3).length == 2)
  }

  test("minhash LSH finds every planted exact and near duplicate") {
    val found = MinHashLSH.nearDuplicates(aug)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactPlanted = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    val nearPlanted = docs.filter($"doc_id" % 10 === 1)
      .select($"doc_id", size(Dedup.shingles($"text", 5)))
      .as[(Long, Int)].collect()
      .filter(_._2 >= 20) // long docs: 1-token prepend keeps jaccard >= 0.8
      .map { case (id, _) => (id, id + 2000000L) }.toSet
    assert(exactPlanted.subsetOf(found),
      s"missing exact pairs: ${exactPlanted -- found}")
    assert(nearPlanted.subsetOf(found),
      s"missing near pairs: ${nearPlanted -- found}")
  }

  test("sharedTokenRuns: exact run lengths, run counts, sub-threshold runs dropped") {
    def toks(prefix: String, n: Int): Seq[String] = (0 until n).map(prefix + _)
    val runR = toks("R", 20)  // shared 20-token run
    val runS = toks("S", 16)  // shared 16-token run
    val docA = (toks("fa", 10) ++ runR ++ toks("ga", 10) ++ runS).mkString(" ")
    val docB = (toks("fb", 7) ++ runR ++ toks("gb", 5)).mkString(" ")
    val docC = (runS ++ toks("fc", 9) ++ runR).mkString(" ")
    val docD = (toks("fd", 12) ++ runR.take(14)).mkString(" ") // 14 < minRun
    val df = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD))
      .toDF("doc_id", "text")
    val out = Dedup.sharedTokenRunsFromPositional(Dedup.positionalArrays(df, 5),
        k = 5, minRunTokens = 15)
      .orderBy($"id_a", $"id_b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // (A,B): run R only; (A,C): R and S; (B,C): R only; doc 4's 14-token
    // overlap is below the threshold so no pair with id 4 survives
    assert(out == Seq((1L, 2L, 1L, 20L), (1L, 3L, 2L, 20L), (2L, 3L, 1L, 20L)))
  }

  test("minhash signature agreement approximates exact jaccard") {
    val sigs = MinHashLSH.signaturesFromShingles(shingled(aug, 5), numHashes = 128)
    val planted = sigs.filter($"id" === 1L || $"id" === 2000001L)
      .select($"sig").as[Seq[Long]].collect()
    val agree = planted(0).zip(planted(1)).count { case (a, b) => a == b }.toDouble / 128
    val exact = Dedup.ngramJaccardPairs(
      aug.filter($"doc_id" === 1L || $"doc_id" === 2000001L), 5, 0.0)
      .select($"jaccard").as[Double].head()
    assert(math.abs(agree - exact) < 0.15, s"sketch $agree vs exact $exact")
  }

  test("minhash LSH reports exact jaccard on its candidates (no sketch values)") {
    val pairs = MinHashLSH.nearDuplicates(aug)
      .as[(Long, Long, Double)].collect()
    val exactPairs = Dedup.ngramJaccardPairs(aug, 5, 0.8)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    pairs.foreach { case (a, b, j) =>
      assert(exactPairs.get((a, b)).contains(j), s"pair ($a,$b) jaccard $j not exact")
    }
  }

  test("simhash: planted exact dups at hamming 0, near dups within 3") {
    val found = SimHash.nearDuplicates(aug)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    docs.filter($"doc_id" % 10 === 0).select($"doc_id").as[Long].collect()
      .foreach { id =>
        assert(found.get((id, id + 1000000L)).contains(0), s"exact dup $id not at hamming 0")
      }
    // near dups: one token changed out of many — hamming stays small for most
    val nearHits = docs.filter($"doc_id" % 10 === 1).select($"doc_id").as[Long].collect()
      .count(id => found.contains((id, id + 2000000L)))
    assert(nearHits > 0, "no near-dup survived simhash blocking")
  }

  test("OPH minhash: planted dups captured, output subset of exact pairs") {
    import graft.dedup.{Dedup => D}
    val sh = D.withShingles(aug, 5)
    val pairs = MinHashLSH.nearDuplicatesOPH(sh)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    // hard guarantee: every planted exact copy with >= 5 tokens is captured
    val plantedIds = D.withShingles(
        docs.filter($"doc_id" % 10 === 0), 5).select($"id").as[Long].collect()
    val found = pairs.map(p => (p._1, p._2)).toSet
    plantedIds.foreach { id =>
      assert(found.contains((id, id + 1000000L)), s"planted dup $id missed by OPH")
    }
    // soundness: emitted pairs are exact-verified at 0.8
    assert(pairs.forall(_._3 >= 0.8))
  }

  test("lineDedup keeps each line's first (doc, pos) occurrence only") {
    val d = Seq(
      (1L, "a b. c d. a b"),  // internal dup: pos 2 repeats pos 0
      (2L, "a b. x y")        // cross-doc dup: "a b" already owned by doc 1
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d)
      .select($"doc_id", $"n_lines", $"n_kept", $"clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "a b. c d"),
      (2L, 2L, 1L, "x y")))
  }

  test("dedupAgainstCorpus drops exactly the already-seen texts") {
    val fresh = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val corpus = Seq((100L, "beta"), (101L, "delta")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(fresh, corpus)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L))
  }

  test("noveltyScores: duplicated docs score 0, unique docs score 1") {
    val d = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),       // exact copy of 1
      (3L, "seven eight nine ten eleven twelve") // fully novel
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(d)
      .select($"doc_id", $"novelty").as[(Long, Double)].collect().toMap
    assert(out(1L) == 0.0 && out(2L) == 0.0 && out(3L) == 1.0)
  }

  test("exact dedup keeps one row per content hash") {
    val deduped = Dedup.dedupExact(aug)
    assert(deduped.count() == aug.select(md5($"text")).distinct().count())
    // survivors are the minimum doc_id of each group
    val survivors = deduped.filter($"doc_id" >= 1000000L).count()
    assert(survivors == docs.filter($"doc_id" % 10 === 1).count()) // only near-copies survive (distinct text)
  }
  test("containmentPairs catches a short doc embedded in a long one that Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairsFromShingles(shingled(docs, 5), threshold = 0.9)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(cont.length == 1)
    val (a, b, inter, sa, _, ca, cb) = cont.head
    assert((a, b) == ((1L, 2L)))
    assert(inter == sa && ca == 1.0 && cb < 0.5) // A fully inside B
    // symmetric Jaccard at the same strength misses it
    val jac = Dedup.ngramJaccardPairs(docs, k = 5, threshold = 0.9).collect()
    assert(jac.isEmpty)
  }

  test("prefixFilterJaccardPairs equals the uncut exact join (losslessness)") {
    val corpus = aug
    val exact = Dedup.jaccardPairsFromShingles(shingled(corpus, 5), threshold = 0.5,
        maxShingleFreq = Int.MaxValue)
      .select($"id_a", $"id_b", $"intersection", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val pf = Dedup.prefixFilterJaccardPairsFromShingles(shingled(corpus, 5), threshold = 0.5)
      .select($"id_a", $"id_b", $"intersection", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pf == exact)
    assert(pf.nonEmpty)
    // tiny hand case: t=0.5, sizes 4 -> prefix length 4-2+1=3; identical
    // docs must collide in prefixes and survive with jaccard 1.0
    val d = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("doc_id", "text")
    val out = Dedup.prefixFilterJaccardPairsFromShingles(shingled(d, 5), threshold = 0.5)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)) && out.head._6 == 1.0)
  }

  test("tfCosinePairs weighs multiplicity that Jaccard flattens") {
    import spark.implicits._
    // k=1 word vectors, hand-computable: A={x:2,y:1}, B={x:1,y:2} →
    // dot 4, norms 5/5, cosine 0.8; distinct-shingle Jaccard calls them 1.0
    val d = Seq((1L, "x x y"), (2L, "x y y"), (3L, "z w v")).toDF("doc_id", "text")
    val rows = tfCosine(d, k = 1, threshold = 0.75)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.length == 1)
    val (a, b, dot, n2a, n2b, cos) = rows.head
    assert((a, b, dot, n2a, n2b) == ((1L, 2L, 4L, 5L, 5L)))
    assert(math.abs(cos - 0.8) < 1e-12)
    assert(Dedup.ngramJaccardPairs(d, k = 1, threshold = 0.99)
      .filter($"id_a" === 1L && $"id_b" === 2L).head().getAs[Double]("jaccard") == 1.0)
    // identical docs → cosine ~1; docs shorter than k are dropped
    val e = Seq((1L, "p q r s t u"), (2L, "p q r s t u"), (3L, "p q"))
      .toDF("doc_id", "text")
    val same = tfCosine(e, k = 5, threshold = 0.9)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(same.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)))
    assert(math.abs(same.head._6 - 1.0) < 1e-12)
  }
}
