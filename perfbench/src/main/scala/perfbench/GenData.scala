package perfbench

import java.util.SplittableRandom
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the benchmark's input tables: the ten tables the registry reads
  * (`region nation customer supplier part orders lineitem events documents
  * embeddings`), at scale factor 0.1 row counts, with the column names, types
  * and value domains the queries expect.
  *
  * Every value of row `i` of a table comes from its own
  * `SplittableRandom(salt(table) ^ i)`, so the output does not depend on
  * partitioning, thread count or the workload seed: the same tables come out
  * on every machine, which is what lets the registry fingerprints be fixed.
  * Each table is written as one parquet file `<dir>/<name>.parquet`.
  *
  * Usage: `GenData <outDir>` writes `<outDir>/sf0.1`, a ten times smaller
  * `<outDir>/sf0.01` (same generator) the registry kernels run on, and the
  * edge-JSON payloads of the replayed days (`<outDir>/payloads`, see
  * [[DailyCycle.writePayloads]]).
  */
object GenData {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Devices = 1500L

  private def rng(salt: Long, i: Long) =
    new SplittableRandom(salt * 0x9E3779B97F4A7C15L ^ i)
  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def day(from: String, r: SplittableRandom, days: Int): java.time.LocalDateTime =
    java.time.LocalDate.parse(from).plusDays(r.nextInt(days).toLong).atStartOfDay()

  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Vector("large", "hot", "red", "new", "small", "old", "blue", "cold")
  private val Nouns = Vector("ring", "bolt", "anvil", "rod", "plate", "gear", "nut", "spring")
  private val PartTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Vector("click", "error", "purchase", "signup", "view")
  val Vocabulary: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")
  private val Langs = Vector("de", "es", "fr", "zh")

  /** Body text of document `i` (10–99 words over [[Vocabulary]]). */
  private def docWords(i: Long, shrink: Int): String = {
    val r = rng(9 + 100L * shrink, i)
    val n = 10 + r.nextInt(90)
    (0 until n).map(_ => pick(r, Vocabulary)).mkString(" ")
  }

  private def rows(spark: SparkSession, n: Long, schema: StructType)(f: Long => Row): DataFrame = {
    val rdd = spark.sparkContext.range(0L, n, 1L, 4).map(f)
    spark.createDataFrame(rdd, schema)
  }

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** The tables at scale factor `0.1 / shrink` (`shrink = 1` is sf0.1). */
  def tables(spark: SparkSession, shrink: Int): Seq[(String, DataFrame)] = {
    val Customers = 15000L / shrink
    val Suppliers = 1000L / shrink
    val Parts = 20000L / shrink
    val Orders = 150000L / shrink
    val LineItems = 600000L / shrink
    val Events = 100000L / shrink
    val Documents = 5000L / shrink
    val Vectors = 2000L / shrink
    val ts = TimestampNTZType
    Seq(
      "region" -> rows(spark, 5, StructType(Seq(f("r_regionkey", IntegerType),
          f("r_name", StringType)))) { i =>
        Row(i.toInt, Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i.toInt))
      },
      "nation" -> rows(spark, 25, StructType(Seq(f("n_nationkey", IntegerType),
          f("n_name", StringType), f("n_regionkey", IntegerType)))) { i =>
        Row(i.toInt, s"NATION_$i", (i % 5).toInt)
      },
      "customer" -> rows(spark, Customers, StructType(Seq(f("c_custkey", LongType),
          f("c_name", StringType), f("c_nationkey", IntegerType),
          f("c_acctbal", DoubleType), f("c_mktsegment", StringType)))) { i =>
        val r = rng(1, i)
        Row(i, f"Customer#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99), pick(r, Segments))
      },
      "supplier" -> rows(spark, Suppliers, StructType(Seq(f("s_suppkey", LongType),
          f("s_name", StringType), f("s_nationkey", IntegerType),
          f("s_acctbal", DoubleType)))) { i =>
        val r = rng(2, i)
        Row(i, f"Supplier#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99))
      },
      "part" -> rows(spark, Parts, StructType(Seq(f("p_partkey", LongType),
          f("p_name", StringType), f("p_brand", StringType), f("p_type", StringType),
          f("p_size", IntegerType), f("p_retailprice", DoubleType)))) { i =>
        val r = rng(3, i)
        Row(i, s"${pick(r, Adjectives)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
          pick(r, PartTypes), 1 + r.nextInt(50), (9000 + i % 1000) / 10.0)
      },
      "orders" -> rows(spark, Orders, StructType(Seq(f("o_orderkey", LongType),
          f("o_custkey", LongType), f("o_orderstatus", StringType),
          f("o_totalprice", DoubleType), f("o_orderdate", ts),
          f("o_orderpriority", StringType)))) { i =>
        val r = rng(4, i)
        Row(i, r.nextLong(Customers), pick(r, Vector("F", "O", "P")),
          cents(r, 1000.0, 500000.0), day("1995-01-01", r, 2404), pick(r, Priorities))
      },
      "lineitem" -> rows(spark, LineItems, StructType(Seq(f("l_orderkey", LongType),
          f("l_partkey", LongType), f("l_suppkey", LongType), f("l_linenumber", IntegerType),
          f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
          f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
          f("l_linestatus", StringType), f("l_shipdate", ts)))) { i =>
        val r = rng(5, i)
        Row(r.nextLong(Orders), r.nextLong(Parts), r.nextLong(Suppliers), 1 + r.nextInt(7),
          (1 + r.nextInt(50)).toDouble, cents(r, 900.0, 105000.0), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")), pick(r, Vector("F", "O")),
          day("1995-01-02", r, 2498))
      },
      "events" -> rows(spark, Events, StructType(Seq(f("event_id", LongType), f("ts", ts),
          f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
          f("props", StringType)))) { i =>
        val r = rng(6, i)
        // monotone event time over 30 days from 2024-01-01, ~26 s apart
        val micros = ((i + r.nextDouble()) * (30L * 86400L * 1000000L / Events.toDouble)).toLong
        val t = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(micros * 1000L)
        val value = math.min(560.0, math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0)
        Row(i, t, r.nextLong(Devices), pick(r, EventTypes), value, s"""{"k": ${r.nextInt(100)}}""")
      },
      "documents" -> rows(spark, Documents, StructType(Seq(f("doc_id", LongType),
          f("text", StringType), f("lang", StringType), f("source", StringType),
          f("n_chars", LongType)))) { i =>
        val r = rng(7, i)
        // 5 % near-duplicates: another document's text plus one marker word
        val text =
          if (r.nextInt(20) == 0) docWords(r.nextLong(Documents), shrink) + " dup" else docWords(i, shrink)
        val lang = if (r.nextInt(100) < 41) "en" else pick(r, Langs)
        Row(i, text, lang, s"src${i % 20}", text.length.toLong)
      },
      "embeddings" -> rows(spark, Vectors, StructType(Seq(f("vec_id", LongType),
          f("embedding", ArrayType(FloatType)), f("label", IntegerType)))) { i =>
        val r = rng(8, i)
        val g = Array.fill(64) {
          // Box–Muller from the row's own stream
          math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
        }
        val norm = math.sqrt(g.map(x => x * x).sum)
        Row(i, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
  }

  /** Writes every table under `outDir` as `<name>.parquet` (one file each). */
  def write(spark: SparkSession, outDir: String, shrink: Int): Unit = {
    Files.createDirectories(Paths.get(outDir))
    tables(spark, shrink).foreach { case (name, df) =>
      val staging = s"$outDir/$name.staging"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = Files.list(Paths.get(staging)).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(s"$outDir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Fs.deleteTree(Paths.get(staging))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.create()
    try {
      write(spark, s"${args(0)}/sf0.1", 1)
      write(spark, s"${args(0)}/sf0.01", 10)
      DailyCycle.writePayloads(spark, s"${args(0)}/sf0.1", s"${args(0)}/payloads")
    } finally spark.stop()
  }
}
