package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences: offsets are contiguous per shard and chunk math holds") {
    // one shard (numShards=1), 3 docs of 3/4/5 tokens, seqLen 4
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l")
    ).toDF("doc_id", "text")
    val out = Curation.packSequences(docs, seqLen = 4, numShards = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 0L, 0L, 0L),   // tokens 0-2   -> seq 0
      (2L, 4L, 3L, 0L, 1L),   // tokens 3-6   -> spans seqs 0..1
      (3L, 5L, 7L, 1L, 2L)))  // tokens 7-11  -> spans seqs 1..2
  }

  test("packSequences: sharding partitions the stream, offsets restart per shard") {
    val docs = (0L until 10L).map(i => (i, "t t t")).toDF("doc_id", "text")
    val out = Curation.packSequences(docs, seqLen = 100, numShards = 2)
      .groupBy("shard").agg(max("start_offset").as("mx"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // 5 docs x 3 tokens per shard -> last doc starts at 12 in BOTH shards
    assert(out == Seq((0L, 12L, 5L), (1L, 12L, 5L)))
  }

  test("decontaminate flags planted leaks and nothing else") {
    // 8 tokens: 4 distinct 5-grams, past the 3-gram contamination bar
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota"), // contains bench 5-grams
      (11L, "totally unrelated words with nothing shared here at all"),
      (12L, "alpha beta gamma unrelated tail words")    // < 5-gram overlap
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, bench)
      .as[(Long, Long, Boolean)].collect().toMap2
    assert(out.keySet == Set(10L))
    assert(out(10L)._2) // contaminated
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("repetitionFeatures: exact fractions on a known document") {
    val docs = Seq((1L, "spam spam spam eggs")).toDF("doc_id", "text")
    val r = Curation.repetitionFeatures(docs).collect().head
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Double]("dup_token_frac") == 2.0 / 4.0)  // 4 tokens, 2 distinct
    assert(r.getAs[Double]("top_token_frac") == 3.0 / 4.0)  // 'spam' x3
    // bigrams: (spam,spam)x2 (spam,eggs) -> 3 total, 2 distinct
    assert(r.getAs[Double]("dup_bigram_frac") == 1.0 / 3.0)
    assert(r.getAs[Boolean]("repetitive"))
  }

  test("repetitionFeatures: single-token and clean docs are not repetitive") {
    val docs = Seq((1L, "word"), (2L, "all tokens here are unique ones"))
      .toDF("doc_id", "text")
    val rows = Curation.repetitionFeatures(docs).orderBy("doc_id").collect()
    assert(rows(0).getAs[Double]("dup_bigram_frac") == 0.0) // n=1: no bigrams
    assert(!rows(1).getAs[Boolean]("repetitive"))
    assert(rows(1).getAs[Double]("dup_token_frac") == 0.0)
  }

  test("tokenBudget: greedy per-source cut is deterministic and bounded") {
    val docs = (0L until 20L).map(i =>
      (i, ("w " * 10).trim, if (i < 10) "a" else "b")).toDF("doc_id", "text", "source")
    // budget 1: exactly the hash-first doc per source (tokens_before = 0 < 1)
    val one = Curation.tokenBudget(docs, budget = 1L)
    assert(one.groupBy("source").count().as[(String, Long)].collect().toMap
      == Map("a" -> 1L, "b" -> 1L))
    // budget 35: 10-token docs -> first 4 docs per source (0,10,20,30 < 35)
    val some = Curation.tokenBudget(docs, budget = 35L)
    assert(some.groupBy("source").count().as[(String, Long)].collect().toMap
      == Map("a" -> 4L, "b" -> 4L))
    // monotone: a smaller budget selects a subset of a larger one
    val small = one.select("doc_id").as[Long].collect().toSet
    val large = some.select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large))
  }

  test("mixtureQuotas: largest-remainder apportionment, quotas sum to total") {
    // counts A:5 B:3 C:2, T=7: floors 3/2/1 (remainders 5/1/4), deficit 1
    // -> A (largest remainder) gets the +1: quotas 4/2/1
    val docs = (1 to 5).map(i => (i.toLong, "A")) ++
      (6 to 8).map(i => (i.toLong, "B")) ++ (9 to 10).map(i => (i.toLong, "C"))
    val out = Curation.mixtureQuotas(docs.toDF("doc_id", "source"), total = 7L)
      .orderBy($"source")
      .select($"source", $"quota").as[(String, Long)].collect().toSeq
    assert(out == Seq(("A", 4L), ("B", 2L), ("C", 1L)))
    // exact-total property at an awkward T on the real corpus
    val q = Curation.mixtureQuotas(
      graft.Tables.documents(spark, sf()), total = 137L)
    assert(q.agg(sum($"quota")).as[Long].head() == 137L)
  }

  test("temperatureQuotas: sqrt flattening boosts small sources, exact total") {
    // counts A:100 B:25 C:4 (ratio 25:6.25:1); sqrt weights 10:5:2 —
    // proportional at T=17 gives A 13, temperature gives A 10/B 5/C 2
    val docs = (1 to 100).map(i => (i.toLong, "A")) ++
      (101 to 125).map(i => (i.toLong, "B")) ++ (126 to 129).map(i => (i.toLong, "C"))
    val out = Curation.temperatureQuotas(docs.toDF("doc_id", "source"), total = 17L)
      .orderBy($"source")
      .select($"source", $"weight_q20", $"quota").as[(String, Long, Long)]
      .collect().toSeq
    assert(out == Seq(("A", 10L << 20, 10L), ("B", 5L << 20, 5L), ("C", 2L << 20, 2L)))
    val prop = Curation.mixtureQuotas(docs.toDF("doc_id", "source"), total = 17L)
      .filter($"source" === "A").select($"quota").as[Long].head()
    assert(prop > 10L) // proportional over-draws the big source
    // exact-total property at an awkward T on the real corpus
    val q = Curation.temperatureQuotas(
      graft.Tables.documents(spark, sf()), total = 137L)
    assert(q.agg(sum($"quota")).as[Long].head() == 137L)
  }

  test("temperatureSample: draws exactly the sqrt-apportioned quota per source") {
    val docs = ((1 to 100).map(i => (i.toLong, "A")) ++
      (101 to 125).map(i => (i.toLong, "B")) ++
      (126 to 129).map(i => (i.toLong, "C"))).toDF("doc_id", "source")
    val out = Curation.temperatureSample(docs, total = 17L)
    val bySource = out.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    assert(bySource == Map("A" -> 10L, "B" -> 5L, "C" -> 2L)) // weights 10:5:2
    assert(out.count() == 17L)
    // the draw is the md5-rank prefix: ranks are 1..quota with no gaps
    val ranks = out.filter($"source" === "C").select($"rn").as[Long]
      .collect().sorted.toSeq
    assert(ranks == Seq(1L, 2L))
  }

  test("slidingChunks: stride-overlapping windows cover every token") {
    val docs = Seq((1L, "t1 t2 t3 t4 t5")).toDF("doc_id", "text")
    val out = Curation.slidingChunks(docs, window = 4, stride = 2)
      .select("chunk_idx", "chunk_start", "chunk_len")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((0L, 0L, 4L), (1L, 2L, 3L), (2L, 4L, 1L)))
  }

  test("quantizeInt8: codes span [0,255], reconstruction within scale/2") {
    import graft.sim.Similarity
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, 2.0f)),
      (2L, Array(3.0f, 3.0f, 3.0f))   // constant -> scale 0 -> all zero codes
    ).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(vecs).orderBy("vec_id").collect()
    val codes1 = rows(0).getAs[scala.collection.Seq[Long]]("codes").toSeq
    assert(codes1 == Seq(0L, 128L, 255L)) // 1.0/(2/255) = 127.5 rounds up
    val scale1 = rows(0).getAs[Double]("scale")
    val vec1 = rows(0).getAs[scala.collection.Seq[Double]]("vec").toSeq
    val mn1 = rows(0).getAs[Double]("mn")
    codes1.zip(vec1).foreach { case (q, v) =>
      assert(math.abs(v - (mn1 + q * scale1)) <= scale1 / 2 + 1e-12)
    }
    assert(rows(1).getAs[scala.collection.Seq[Long]]("codes").toSeq == Seq(0L, 0L, 0L))
  }

  test("topTermsByTfIdf ranks rare high-tf terms first, ties on term") {
    import graft.text.TextAnalysis
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topTermsByTfIdf(docs, k = 2)
      .select("doc_id", "term", "tf", "df", "score")
      .as[(Long, String, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, -r._5, r._2))
    assert(out == Seq(
      (1L, "apple", 2L, 1L, 2.0),     // rare + frequent -> top
      (1L, "banana", 1L, 2L, 0.5),
      (2L, "cherry", 1L, 1L, 1.0),
      (2L, "banana", 1L, 2L, 0.5)))
  }

  test("mixtureInterleave: a 3:1 weighting yields exactly 3:1 in any prefix") {
    val docs = ((0L until 20L).map(i => (i, "t", "a")) ++
        (100L until 120L).map(i => (i, "t", "b")))
      .toDF("doc_id", "text", "source")
    val first20 = Curation.mixtureInterleave(docs, Seq("a" -> 3.0))
      .orderBy(col("ord"), col("source"), col("doc_id")).limit(20)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // per unit stride: three a's (ord k/3) then one b (ord m) -> 15:5
    assert(first20 == Map("a" -> 15L, "b" -> 5L))
  }

  test("fuzzyPairs: within-threshold pairs only, bounded distance reported") {
    val t = Seq(
      (1L, "kitten"), (2L, "sitten"),   // dist 1
      (3L, "sitting"),                  // dist 2 from sitten, 3 from kitten
      (4L, "zzzzzz")                    // far from all
    ).toDF("doc_id", "title")
    val out = Curation.fuzzyPairs(t, maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 2L, 1), (2L, 3L, 2)))
  }

  test("piiRedact: counts and redaction for each category") {
    val docs = Seq(
      (1L, "mail a.b@x.org and c@y.io, call 555-123-4567, host 10.0.0.1 ok"),
      (2L, "no pii here, just 3.5 and v1.2 fragments")
    ).toDF("doc_id", "text")
    val rows = Curation.piiRedact(docs).orderBy("doc_id").collect()
    val r1 = rows(0)
    assert(r1.getAs[Long]("n_email") == 2L)
    assert(r1.getAs[Long]("n_phone") == 1L)
    assert(r1.getAs[Long]("n_ip") == 1L)
    val red = r1.getAs[String]("redacted")
    assert(red == "mail [EMAIL] and [EMAIL], call [PHONE], host [IP] ok")
    val r2 = rows(1)
    assert(r2.getAs[Long]("n_email") + r2.getAs[Long]("n_phone") + r2.getAs[Long]("n_ip") == 0L)
    assert(r2.getAs[String]("redacted") == "no pii here, just 3.5 and v1.2 fragments")
  }

  test("fimSplit: lossless three-way cut, deterministic, short-doc passthrough") {
    val docs = (1L to 50L).map(i =>
      (i, (1 to 10).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text")
    val out = Curation.fimSplit(docs).collect()
    out.foreach { r =>
      val (a, b, n) = (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("n_tokens"))
      assert(n == 10L && a >= 1 && a <= b && b < n, s"cut invariant broke: $r")
      // reassembly must be byte-lossless (single-space tokenization)
      val joined = Seq(r.getAs[String]("prefix"), r.getAs[String]("middle"),
        r.getAs[String]("suffix")).filter(_.nonEmpty).mkString(" ")
      assert(joined == (1 to 10).map(j => s"w$j").mkString(" "),
        s"reassembly lost bytes: $r")
    }
    // cuts actually vary across docs (not all the same point)
    assert(out.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).distinct.length > 5)
    // determinism
    val again = Curation.fimSplit(docs).collect()
    assert(out.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
    // one-token doc: untransformed, NULL cuts
    val one = Seq((99L, "solo")).toDF("doc_id", "text")
    val r1 = Curation.fimSplit(one).head()
    assert(r1.isNullAt(r1.fieldIndex("a")) &&
      r1.getAs[String]("prefix") == "solo" &&
      r1.getAs[String]("middle") == "" && r1.getAs[String]("suffix") == "")
  }

  test("specialTokenAudit: planted control strings counted exactly") {
    val df = Seq(
      ("s1", "normal text"),
      ("s1", "evil <|endoftext|> inject"),
      ("s1", "<s> bos leak"),
      ("s2", "chat [INST] marker"),
      ("s2", "fine")).toDF("source", "text")
    val rows = graft.text.TextAnalysis.specialTokenAudit(df)
      .orderBy($"segment")
      .select($"segment", $"n_docs", $"n_endoftext", $"n_sentencepiece",
        $"n_inst", $"n_leaked", $"leaked_permille")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    assert(rows(0) == (("s1", 3L, 1L, 1L, 0L, 2L, 2000.0 / 3)))
    assert(rows(1) == (("s2", 2L, 0L, 0L, 1L, 1L, 500.0)))
  }
}
