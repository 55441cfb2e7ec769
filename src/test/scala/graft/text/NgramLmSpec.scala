package graft.text

import graft.SparkSpec

/** Hand-derived fixtures for the corpus-statistics additions: the bigram
  * LM's counts and micro-nat quantization, and the Zipf fit on an exact
  * 1/rank power law.
  */
class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  test("bigramPerplexity: add-one counts and floor-micro-nat sum are exact") {
    // train "a b a b a": bigrams ab, ba, ab, ba -> c12(a,b)=2, c1(a)=2, V=2
    // test "a b": p = (2+1)/(2+2) = 0.75, mn = floor(ln 0.75 * 1e6) = -287683
    val train = Seq((0L, "a b a b a")).toDF("doc_id", "text")
    val test = Seq((1L, "a b")).toDF("doc_id", "text")
    val r = NgramLm.bigramPerplexity(train, test).head()
    assert(r.getAs[Long]("train_bigrams") == 4L)
    assert(r.getAs[Long]("vocab") == 2L)
    assert(r.getAs[Long]("test_bigrams") == 1L)
    assert(r.getAs[Long]("hit_bigrams") == 1L)
    assert(r.getAs[String]("mn_sum") == "-287683")
    assert(math.abs(r.getAs[Double]("perplexity") - math.exp(287683.0 / 1e6)) < 1e-12)
  }

  test("bigramPerplexity: unseen bigram backs off to the add-one floor") {
    // test "a z": c12 miss, c1(a)=2 -> p = (0+1)/(2+2) = 0.25
    val train = Seq((0L, "a b a b a")).toDF("doc_id", "text")
    val test = Seq((1L, "a z")).toDF("doc_id", "text")
    val r = NgramLm.bigramPerplexity(train, test).head()
    assert(r.getAs[Long]("hit_bigrams") == 0L)
    assert(r.getAs[String]("mn_sum") ==
      math.floor(math.log(0.25) * 1e6).toLong.toString)
  }

  test("kneserNeyAudit: D=3/4 exact rationals and OOV skip accounting") {
    // train "a b a b a c": c12 = {(a,b):2, (b,a):2, (a,c):1}, c1 = {a:3, b:2},
    // T = 3 types, N1+(a·)=2, N1+(b·)=1, N1+(·a)=N1+(·b)=N1+(·c)=1.
    // test "a b z b a" bigrams: (a,b) p = [max(8-3,0)*3 + 3*2*1]/(4*3*3) = 21/36;
    // (b,z) num = 0 (pair and continuation unseen) -> skipped;
    // (z,b) c1(z) miss -> skipped; (b,a) p = [5*3 + 3*1*1]/(4*2*3) = 18/24.
    val train = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
    val test = Seq((1L, "a b z b a")).toDF("doc_id", "text")
    val r = NgramLm.kneserNeyAudit(NgramLm.train(train), test).head()
    assert(r.getAs[Long]("n_scored") == 2L)
    assert(r.getAs[Long]("n_skipped") == 2L)
    val expected = math.floor(math.log(21.0 / 36.0) * 1e6).toLong +
      math.floor(math.log(18.0 / 24.0) * 1e6).toLong
    assert(r.getAs[String]("sum_micro_nats") == expected.toString)
    assert(math.abs(r.getAs[Double]("ppl") -
      math.exp(-expected / 2.0e6)) < 1e-12)
  }

  test("chao1: singleton/doubleton fixture — 3 + 2*1/(2*2) = 3.5") {
    val docs = Seq(("s", "a a b c")).toDF("source", "text")
    val r = Vocab.chao1(docs).head()
    assert(r.getAs[Long]("vocab") == 3L)
    assert(r.getAs[Long]("f1") == 2L && r.getAs[Long]("f2") == 1L)
    assert(math.abs(r.getAs[Double]("chao1") - 3.5) < 1e-12)
    assert(math.abs(r.getAs[Double]("gt_unseen_mass") - 0.5) < 1e-12)
  }

  test("zipfFit: exact 1/rank counts fit slope -1 with r2 ~ 1") {
    // counts 12, 6, 4, 3 = 12/rank for ranks 1..4 -> ln c = ln 12 - ln rank
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(3)("d")).mkString(" ")
    val docs = Seq(("s", text)).toDF("source", "text")
    val r = Vocab.zipfFit(docs).head()
    assert(r.getAs[Long]("k") == 4L)
    assert(math.abs(r.getAs[Double]("slope") + 1.0) < 1e-3)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(12.0)) < 1e-3)
    assert(r.getAs[Double]("r2") > 0.999999)
  }
}
