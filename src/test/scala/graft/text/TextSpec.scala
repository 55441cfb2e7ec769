package graft.text

import graft.SparkSpec
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("quality features handle degenerate inputs without nulls/NaN") {
    val out = TextAnalysis.qualityFeatures(
        Seq("", "x", "the the the", "a b. c, d!").toDF("text"))
      .select("n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio", "quality_score")
      .collect()
    out.foreach { r =>
      (0 until r.length).foreach(i => assert(!r.isNullAt(i), s"null at $i in $r"))
    }
    val punct = out(3).getAs[Double]("punct_ratio")
    assert(punct == 3.0 / 10.0)
  }

  test("langId picks the language with most marker hits; fixed tie order") {
    val out = Seq(
      "the cat and the dog is here",     // en
      "el perro de la casa que ladra",   // es
      "der hund und die katze ist da",   // de
      "le chat et les oiseaux des bois", // fr
      "zzz qqq www",                     // unknown
      "the el der le"                    // 1-1-1-1 tie -> en (fixed order)
    ).toDF("text").select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(out.toSeq == Seq("en", "es", "de", "fr", "unknown", "en"))
  }

  test("token counts: regex tokenizer counts words and punctuation") {
    val out = TextAnalysis.tokenCounts(Seq("hello, world! 42").toDF("text"))
      .select("ws_tokens", "re_tokens").as[(Long, Long)].head()
    assert(out == ((3L, 5L))) // [hello][,][world][!][42]
  }

  test("fingerprint is whitespace/case-normalized") {
    val fps = Seq("Hello  World", "hello world", "hello world ")
      .toDF("text").select(TextAnalysis.fingerprint(col("text"))).as[Int].collect()
    assert(fps.distinct.length == 1)
    assert(fps(0) == "hello world".hashCode)
  }

  test("ngram langId: profile trigram overlap with fixed tie order") {
    val out = Seq(
      "the thing and the king",  // en trigrams
      "el de la que casa",       // es
      "der die und einmal",      // de
      "zzzz qqqq",               // none -> unknown
      ""                         // empty -> unknown
    ).toDF("text").select(TextAnalysis.langIdNgram(col("text"))).as[String].collect()
    assert(out.toSeq == Seq("en", "es", "de", "unknown", "unknown"))
  }

  test("resize stub preserves aspect ratio and shrinks payload") {
    val media = Multimodal.mediaFromDocuments(
      Seq((100L, "x" * 1000, "en", "s", 1000L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // doc 100: width 100%640+64=164, height 100%480+48=148; its text bytes
    // are no PNG, so resizeImage takes its byte-truncation fallback
    val out = Multimodal.resizeImage(spark, media.toDF(), maxDim = 82).collect().head
    assert(out.width == 82 && out.height == 74) // scale 0.5 exactly
    assert(out.media.length == 250) // 1000 * 0.25
    val noop = Multimodal.resizeImage(spark, media.toDF(), maxDim = 2000).collect().head
    assert(noop.width == 164 && noop.media.length == 1000) // no upscale
  }

  test("multimodal decode stub: exact features from known bytes") {
    val media = Multimodal.mediaFromDocuments(
      Seq((7L, "abc", "en", "s", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val f = Multimodal.decodeStub(spark, media).collect().head
    assert(f.doc_id == 7L && f.n_bytes == 3L && f.format == "png") // 7%3+1 = 2
    assert(f.luma_mean == ('a'.toInt + 'b'.toInt + 'c'.toInt) / 3.0)
    assert(f.n_frames == 1 && f.width == 7 + 64 && f.height == 7 + 48)
  }

  test("real PNG round trip: ImageIO decode recovers exact dimensions and pixel stats") {
    val docs = Seq((5L, "x", "en", "s", 1L), (17L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeImage(spark, Multimodal.pngMedia(spark, docs).toDF())
      .collect().sortBy(_.doc_id)
    // doc 5: 6x6 gradient; doc 17: 2x6
    val expected = Seq((5L, 6, 6), (17L, 2, 6))
    out.zip(expected).foreach { case (f, (id, w, h)) =>
      assert(f.doc_id == id && f.width == w && f.height == h && f.n_frames == 1)
      val gsum = (for { x <- 0 until w; y <- 0 until h }
        yield (id + 7 * x + 13 * y) % 256).sum
      assert(f.luma_mean == 3.0 * gsum / (3.0 * w * h))
      assert(f.n_bytes > 0)
    }
  }

  test("resizeImage: nearest-neighbor downscale matches closed-form pixels; identity within bounds") {
    // doc 15: 16x4 -> fit 8 -> 8x2; doc 3: 4x4 already fits -> identity
    val docs = Seq((15L, "x", "en", "s", 1L), (3L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val resized = Multimodal.resizeImage(
      spark, Multimodal.pngMedia(spark, docs).toDF(), maxDim = 8)
    val out = Multimodal.decodeImage(spark, resized.toDF()).collect().sortBy(_.doc_id)

    val f3 = out(0) // identity: same dims, same pixels as the original
    assert(f3.width == 4 && f3.height == 4 && f3.n_frames == 1)
    val orig3 = Multimodal.decodeImage(spark, Multimodal.pngMedia(spark,
      docs.filter(col("doc_id") === 3L)).toDF()).collect().head
    assert(f3.luma_mean == orig3.luma_mean)

    val f15 = out(1) // 16x4 -> 8x2, srcX = x2*16/8 = 2*x2, srcY = y2*4/2 = 2*y2
    assert(f15.width == 8 && f15.height == 2 && f15.n_frames == 1)
    val gsum = (for { x2 <- 0 until 8; y2 <- 0 until 2 }
      yield (15L + 7 * (2 * x2) + 13 * (2 * y2)) % 256).sum
    assert(f15.luma_mean == gsum.toDouble / (8 * 2))
  }

  test("real WAV round trip: decode recovers exact samples; junk payload flagged") {
    import graft.multimodal.Multimodal
    val docs = Seq(3L, 42L).toDF("doc_id")
    val out = Multimodal.decodeAudio(spark, Multimodal.wavMedia(spark, docs).toDF())
      .collect().sortBy(_.doc_id)
    out.zip(Seq(3L, 42L)).foreach { case (f, id) =>
      val n = (id % 500 + 100).toInt
      val samples = (0 until n).map(i => Multimodal.wavSample(id, i))
      assert(f.decoded && f.sample_rate == 8000 && f.n_samples == n)
      assert(f.peak == samples.map(math.abs).max)
      assert(f.mean_abs == samples.map(s => math.abs(s).toLong).sum.toDouble / n)
      assert(f.zero_crossings ==
        samples.sliding(2).count(p => p.head.toLong * p(1) < 0))
    }
    // junk bytes: decoded=false, zeroed features, batch survives
    val junk = Seq((9L, Array[Byte](1, 2, 3), 8000, 10)).toDF(
      "doc_id", "media", "sample_rate", "n_samples")
    val fb = Multimodal.decodeAudio(spark, junk).collect().head
    assert(!fb.decoded && fb.peak == 0 && fb.n_samples == 10)
    // parseable WAV in a format the sample reassembly does NOT handle
    // (8-bit PCM): must flag decoded=false, never emit garbage statistics
    val pcm8 = Array.tabulate[Byte](50)(i => (i * 3).toByte)
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm8), fmt8, 50L)
    val bos8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos8)
    val w8 = Seq((11L, bos8.toByteArray, 8000, 50)).toDF(
      "doc_id", "media", "sample_rate", "n_samples")
    val f8 = Multimodal.decodeAudio(spark, w8).collect().head
    assert(!f8.decoded && f8.peak == 0)
    // stereo 16-bit LE PCM parses but interleaves channels: must also be
    // refused (decoded=false), in decode AND framing
    val pcmSt = Array.tabulate[Byte](80)(i => (i * 5).toByte)
    val fmtSt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val aisSt = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcmSt), fmtSt, 20L)
    val bosSt = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(aisSt,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bosSt)
    val wSt = Seq((12L, bosSt.toByteArray, 8000, 20)).toDF(
      "doc_id", "media", "sample_rate", "n_samples")
    assert(!Multimodal.decodeAudio(spark, wSt).collect().head.decoded)
    assert(Multimodal.frameEnergies(spark, wSt, 8, 4).collect().isEmpty)
  }

  test("imageDHash: bits match the closed pixel formula; garbage is flagged undecoded") {
    val docs = Seq((5L, "x", "en", "s", 1L), (17L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.imageDHash(spark, Multimodal.pngMedia(spark, docs).toDF())
      .collect().sortBy(_.doc_id)
    out.foreach { ih =>
      assert(ih.decoded)
      val (id, w, h) = (ih.doc_id, ih.width, ih.height)
      def g(x: Int, y: Int): Long = (id + 7L * (x * w / 9) + 13L * (y * h / 8)) % 256
      var hi = 0L; var lo = 0L
      for (k <- 0 until 64) {
        val (x, y) = (k % 8, k / 8)
        if (g(x + 1, y) > g(x, y)) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
      }
      assert(ih.hash_hi == hi && ih.hash_lo == lo, s"doc $id")
    }
    // identical pixel formulas (same id mod 256, same dims) -> identical hash:
    // ids congruent mod lcm(256,48)=768 share w, h, and every gray value
    val twins = Seq((3L, "a", "en", "s", 1L), (771L, "b", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val th = Multimodal.imageDHash(spark, Multimodal.pngMedia(spark, twins).toDF())
      .collect().sortBy(_.doc_id)
    assert(th(0).hash_hi == th(1).hash_hi && th(0).hash_lo == th(1).hash_lo)
    // undecodable payload -> decoded=false, zero hash
    import Multimodal.MediaRow
    val bad = Seq(MediaRow(9L, Array[Byte](1, 2, 3), "png", 1, 1)).toDS()
    val b = Multimodal.imageDHash(spark, bad.toDF()).head()
    assert(!b.decoded && b.hash_hi == 0L && b.hash_lo == 0L)
  }

  test("phashPairs: band blocking is lossless vs brute force; distance bound enforced") {
    import Multimodal.ImageHash
    // hand hashes: a/b differ in 3 bits (one band), a/c in 4 spread bits
    // (one per band -- the pigeonhole worst case, must be EXCLUDED at d=3)
    val hs = Seq(
      ImageHash(1L, 9, 8, 0L, 0L, decoded = true),
      ImageHash(2L, 9, 8, 0L, 7L, decoded = true),               // 3 bits, band 0
      ImageHash(3L, 9, 8, 1L | (1L << 16), 1L | (1L << 16), decoded = true), // 4 bits, 4 bands
      ImageHash(4L, 0, 0, 0L, 0L, decoded = false)               // excluded
    ).toDF()
    val out = Multimodal.phashPairs(hs, maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out.contains((1L, 2L, 3L)))
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!out.contains((1L, 3L, 4L)))
    // brute-force agreement on the real fixture family
    val docs = (0L until 60L).map(i => (i, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .filter($"doc_id" % 16 + 1 >= 10 && $"doc_id" % 12 + 1 >= 8)
    val hashes = Multimodal.imageDHash(spark, Multimodal.pngMedia(spark, docs).toDF())
    val got = Multimodal.phashPairs(hashes.toDF(), maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    val hv = hashes.collect().map(h => h.doc_id -> (h.hash_hi, h.hash_lo)).toMap
    val brute = (for {
      a <- hv.keys; b <- hv.keys if a < b
      d = java.lang.Long.bitCount(hv(a)._1 ^ hv(b)._1) +
        java.lang.Long.bitCount(hv(a)._2 ^ hv(b)._2)
      if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(got == brute)
    intercept[IllegalArgumentException] { Multimodal.phashPairs(hs, maxDist = 4) }
    ()
  }

  test("decodeImage falls back to the stub on non-image payloads") {
    val media = Multimodal.mediaFromDocuments(
      Seq((7L, "abc", "en", "s", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val f = Multimodal.decodeImage(spark, media).collect().head
    // "abc" is not a PNG — identical result to the declared stub path
    val stub = Multimodal.decodeStub(spark, media).collect().head
    assert(f == stub)
  }

  test("stripMarkup: tags dropped, entities unescaped in safe order, whitespace collapsed") {
    val df = Seq(
      (1L, "<p>hello   <b>world</b></p>"),
      (2L, "a &amp;lt; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp; done"),
      (3L, "plain text"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.markupStats(df)
      .select("doc_id", "stripped", "n_tags", "markup_ratio")
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(out(0)._2 == "hello world" && out(0)._3 == 4L)
    // tags strip BEFORE unescaping, so escaped markup survives as text:
    // &lt;tag&gt; -> literal <tag> (0 raw tags), and &amp;lt; is the
    // *escaped* text "&lt;" — must NOT double-unescape to "<"
    assert(out(1)._2 == "a &lt; b <tag> \"q\" 's' & done" && out(1)._3 == 0L)
    assert(out(2)._2 == "plain text" && out(2)._3 == 0L && out(2)._4 == 0.0)
    assert(out(3)._2 == "" && out(3)._4 == 0.0)
    assert(out(0)._4 > 0.0)
  }

  test("bm25TopK: rare-term matches outrank common-term matches; tf breaks ties upward") {
    // 'rare' appears in 1 of 4 docs, 'common' in 3: BM25's idf must rank the
    // rare-term doc above any common-term doc at equal tf and length
    val docs = Seq(
      (1L, "rare w1 w2 w3 w4"),
      (2L, "common w1 w2 w3 w4"),
      (3L, "common common w1 w2 w3"),
      (4L, "common w5 w6 w7 w8")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, Seq("rare", "common"), k = 4)
      .orderBy($"rank")
      .select($"doc_id", $"rank", $"n_matched", $"sum_tf")
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(out.head._1 == 1L)                   // rare-term doc first
    assert(out(1)._1 == 3L && out(1)._4 == 2L)  // then tf=2 'common' doc
    assert(out.map(_._2) == Seq(1, 2, 3, 4))
    // docs 2 and 4 tie exactly (same tf, same dl): id breaks the tie
    assert(out.drop(2).map(_._1) == Seq(2L, 4L))
  }

  test("rrfFuse: hand-computed fused scores, absent side contributes zero") {
    val left = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val right = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val out = TextAnalysis.rrfFuse(left, right, k = 4)
      .orderBy($"fused_rank")
      .select($"doc_id", $"left_rank", $"right_rank", $"rrf")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // 20: 1/62 + 1/61 tops; 10: 1/61; 40: 1/62; 30: 1/63
    assert(out.map(_._1) == Seq(20L, 10L, 40L, 30L))
    assert(out.head._4 == 1.0 / 62 + 1.0 / 61)
    assert(out(1) == ((10L, 1L, 0L, 1.0 / 61)))
    assert(out(2) == ((40L, 0L, 2L, 1.0 / 62)))
    assert(out(3) == ((30L, 3L, 0L, 1.0 / 63)))
  }

  test("buildPostingsChunked: hot term splits into bounded salted parts; reassembly round-trips") {
    // 'hot' appears in 10 docs, 'cold' in 2 — with 2 salts and chunkSize 4,
    // 'hot' shards by residue class (salt 0: ids 0,2,4,6,8; salt 1: ids
    // 1,3,5,7,9) and each salt overflows into a second local part:
    // part = local_part * salts + salt.
    val docs = (0L until 10L).map(i => (i, if (i < 2) "hot cold" else "hot"))
      .toDF("doc_id", "text")
    val parts = TextAnalysis.buildPostingsChunked(docs, chunkSize = 4, salts = 2)
      .select("term", "posting_part", "df", "postings")
      .as[(String, Long, Long, Seq[Long])].collect().toSeq
      .sortBy(p => (p._1, p._2))
    val hot = parts.filter(_._1 == "hot")
    assert(hot.map(_._2) == Seq(0L, 1L, 2L, 3L))       // 2 salts × 2 local parts
    assert(hot.map(_._4) == Seq(Seq(0L, 2L, 4L, 6L), Seq(1L, 3L, 5L, 7L),
      Seq(8L), Seq(9L)))                               // bounded by chunkSize
    assert(hot.forall(_._3 == 10L))                    // df carried on each part
    assert(parts.filter(_._1 == "cold") ==
      Seq(("cold", 0L, 2L, Seq(0L)), ("cold", 1L, 2L, Seq(1L))))
    // reassembly == unchunked buildPostings
    val whole = TextAnalysis.reassemblePostings(
        TextAnalysis.buildPostingsChunked(docs, chunkSize = 4, salts = 2))
      .select("term", "df", "postings")
      .as[(String, Long, Seq[Long])].collect().toSet
    val ref = TextAnalysis.buildPostings(docs)
      .select("term", "df", "postings")
      .as[(String, Long, Seq[Long])].collect().toSet
    assert(whole == ref)
  }

  test("buildPostingsChunked rank stage shuffles on (term, salt), never term alone") {
    val docs = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    val plan = TextAnalysis.buildPostingsChunked(docs, chunkSize = 4)
      .queryExecution.executedPlan.toString
    // the row_number rank over the full posting stream must be salted — a
    // term-only partition spec would serialize a Zipfian hot term's postings
    // through one task
    val rankSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(rankSpecs.nonEmpty, s"no row_number window found in plan:\n$plan")
    rankSpecs.foreach(spec => assert(spec.contains("__salt"),
      s"rank window not salted: $spec"))
  }
  test("bpePairs counts every adjacent char-pair occurrence, top-k ordered") {
    val docs = Seq("abab ab", "x abab").toDF("text")
    // "abab" x2 -> pairs ab,ba,ab each; "ab" x1 -> ab; "x" filtered (len 1)
    val out = TextAnalysis.bpePairs(docs, k = 10).as[(String, Long)].collect()
    val m = out.toMap
    assert(m("ab") == 5L) // 2 per "abab" occurrence (x2) + 1 from "ab"
    assert(m("ba") == 2L)
    assert(out.head._1 == "ab") // count-desc order
    assert(m.size == 2)
  }
  test("bpeTrain: hand-computed merge table; Sennrich overlap semantics") {
    // corpus: low x2, lower x1, newest x2
    // r1: (l,o)=3 ties (o,w),(w,e) -> lex lowest (l,o) -> lo
    // r2: (lo,w)=3 ties (w,e) -> lo < w -> low
    // r3: n=2 ties (e,s),(e,w),(n,e),(s,t) -> (e,s) -> es
    // r4: (e,w) -> ew   r5: (es,t) -> est
    val docs = Seq("low low lower", "newest newest").toDF("text")
    val out = TextAnalysis.bpeTrain(docs, rounds = 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, "l", "o", "lo", 3L), (2, "lo", "w", "low", 3L),
      (3, "e", "s", "es", 2L), (4, "e", "w", "ew", 2L),
      (5, "es", "t", "est", 2L)))
    // overlap pin: "aaaa" + merge (a,a) -> "aa aa" (non-overlapping
    // left-to-right; a symbol minted this round never re-merges this round)
    val aa = TextAnalysis.bpeTrain(Seq("aaaa").toDF("text"), rounds = 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(aa.toSeq == Seq((1, "a", "a", "aa", 3L), (2, "aa", "aa", "aaaa", 1L)))
    // early stop: all words single-symbol after enough rounds
    val tiny = TextAnalysis.bpeTrain(Seq("ab ab").toDF("text"), rounds = 10)
      .as[(Int, String, String, String, Long)].collect()
    assert(tiny.toSeq == Seq((1, "a", "b", "ab", 2L)))
  }
  test("video frames: container round-trip, sampling, corrupt fallback") {
    val vids = Multimodal.videoMedia(spark,
      Seq(3L, 10L).toDF("doc_id")).toDF()
    val frames = Multimodal.sampleFrames(spark, vids, step = 2).collect()
    // doc 3: nf = 3%4+2 = 5 -> sampled frames 0,2,4; doc 10: nf = 4 -> 0,2
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc(3L).map(_.frame_idx).sorted.toSeq == Seq(0, 2, 4))
    assert(byDoc(10L).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    frames.foreach { f =>
      assert(f.decoded && f.width == (f.doc_id % 8 + 1).toInt &&
        f.height == (f.doc_id % 6 + 1).toInt)
      // closed-form luma for a 1-pixel-wide gradient checks the decode math
      val exp = (0 until f.width).flatMap(x => (0 until f.height).map(y =>
        ((f.doc_id + 7L * x + 13L * y + 29L * f.frame_idx) % 256).toDouble))
        .sum / (f.width * f.height)
      assert(math.abs(f.luma_mean - exp) < 1e-9, s"luma mismatch: $f")
    }
    // corrupted container -> one decoded=false row, batch survives
    val bad = vids.withColumn("media",
      when($"doc_id" === 3L, lit(Array[Byte](1, 2, 3))).otherwise($"media"))
    val out = Multimodal.sampleFrames(spark, bad, step = 2).collect()
    val badRows = out.filter(_.doc_id == 3L)
    assert(badRows.length == 1 && !badRows.head.decoded)
    assert(out.count(_.doc_id == 10L) == 2)
  }
}
