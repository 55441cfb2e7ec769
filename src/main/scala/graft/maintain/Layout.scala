package graft.maintain

import graft.functions.JavaHash.deviceBucket
import graft.ingest.Normalize
import graft.plans.InjectPartitionGuard.SkewDays
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Physical layout writer for the fact table — the Spark rendering of the
  * reference's Iceberg table properties (`config/flink/create.sql:46-64`):
  *
  *  - partition by `(device_id_bucket, received_day)` (`:46-49`)
  *  - ZSTD parquet (`:52-53`)
  *  - sort within files by `(device_id, gps_epoch)` (`'write.order-by'`, `:56`)
  *    → row-group min/max stats become selective for device point-lookups
  *  - bloom filters on `device_id` / `correlation_id` (`:60-63`) → point
  *    predicates skip row groups that stats alone can't exclude
  *
  * The bloom filters are sized per file ([[bloomOptions]]): parquet builds
  * candidate filters from 1 MiB down to 1 KiB while it writes a column
  * chunk and keeps the smallest one that holds the distinct values it saw
  * at a 1 % false-positive rate. A file of a few dozen rows gets a 1 KiB
  * filter instead of the 1 MiB an unsized one takes. A chunk that parquet
  * wrote fully dictionary-encoded gets no filter at all: its dictionary
  * already answers membership (most `device_id` chunks of the fact). The
  * cap stays 1 MiB, which holds about 875 k distinct ids per file at 1 %;
  * a file with more keeps the 1 MiB filter at a higher false-positive rate.
  *
  * At 100 TB this layout is what turns the serving path's point lookup into
  * "prune to 1 bucket × few days, then skip most row groups".
  *
  * Every writer here starts its write with [[LocalFs.write]], so its files,
  * `.crc` sidecars and partition dirs are created without a forked `chmod`
  * each (2,947 of them per sf0.1 fact write otherwise).
  */
object Layout {

  /** Writes the fact table and **enforces both partition-guard contracts**
    * [[graft.plans.InjectPartitionGuard]] relies on to prune partitions:
    *
    *  - skew: every row has `|received_day − date(gps_epoch)| ≤
    *    InjectPartitionGuard.SkewDays`, so the derived `received_day` range
    *    keeps late data;
    *  - bucket: every row has `device_id_bucket <=>
    *    java_hash_bucket(device_id, Normalize.DeviceBuckets)`, so the bucket
    *    derived from a `device_id` literal is the one its rows live in.
    *
    * Both checks are aggregates of one [[Observation]] riding on the write
    * job itself — no second pass over the data. The write is staged and
    * promoted over `path` ([[Promote]]) only once both checks pass, so a
    * broken contract fails it and leaves the previous table in place
    * rather than letting guarded reads silently lose rows. The skew bound
    * is the rule's own constant, so the two cannot drift apart.
    *
    * Once both checks pass, the staged copy gains its `_manifest`
    * ([[TableIndex.writeManifest]]: each data file's path, length and
    * mtime), so it is promoted together with the data it names.
    * [[graft.Tables.cachedParquet]] opens the table from it without a
    * directory listing.
    */
  def writeFact(fact: DataFrame, path: String): Unit =
    Promote.replace(fact.sparkSession, path) { staged =>
      val obs = Observation()
      val observed = fact.observe(obs,
        sum(when(abs(datediff(col("received_day"), to_date(col("gps_epoch")))) >
          SkewDays, 1L).otherwise(0L)).as("skew_violations"),
        sum(when(!(col("device_id_bucket") <=>
          deviceBucket(col("device_id"), Normalize.DeviceBuckets)), 1L)
          .otherwise(0L)).as("bucket_violations"))
      LocalFs.write(observed
          .repartition(col("device_id_bucket"), col("received_day"))
          .sortWithinPartitions(col("device_id"), col("gps_epoch")))
        .mode("overwrite")
        .partitionBy("device_id_bucket", "received_day")
        .option("compression", "zstd")
        .option("parquet.block.size", (256L << 20).toString)
        .options(bloomOptions(Seq("device_id", "correlation_id")))
        .parquet(staged)
      def violations(name: String): Long = obs.get.get(name).collect {
        case n: java.lang.Long => n.longValue
      }.getOrElse(0L)
      val optOut = s"; table at $path must not be opted into partition-guard injection"
      val skew = violations("skew_violations")
      require(skew == 0L,
        s"$skew rows violate |received_day - date(gps_epoch)| <= $SkewDays" + optOut)
      val bucket = violations("bucket_violations")
      require(bucket == 0L,
        s"$bucket rows violate device_id_bucket <=> " +
          s"java_hash_bucket(device_id, ${Normalize.DeviceBuckets})" + optOut)
      TableIndex.writeManifest(fact.sparkSession, staged)
    }

  /** Parquet writer options that give each file a bloom filter on each of
    * `columns`, sized to the distinct values of its own column chunk.
    */
  def bloomOptions(columns: Seq[String]): Map[String, String] =
    // size the filter to what the chunk holds instead of parquet's 1 MiB cap
    Map("parquet.bloom.filter.adaptive.enabled" -> "true") ++
      columns.flatMap(c => Seq(
        s"parquet.bloom.filter.enabled#$c" -> "true",
        // 1 MiB down to 1 KiB, parquet's smallest adaptive candidate; only
        // the per-column form of this key is read, the global one is ignored
        s"parquet.bloom.filter.candidates.number#$c" -> "11"))

  /** Z-order (Morton) interleave of two bounded non-negative ints: bit b of
    * `x` lands at position 2b, of `y` at 2b+1. Sorting by the z-value keeps
    * *both* dimensions' neighborhoods together in the same files, so
    * parquet min/max stats prune on either column — the plain-parquet analog
    * of `OPTIMIZE ZORDER BY (x, y)`. Disjoint bit positions make `+`
    * equivalent to `|`, and the math is identical integer ops in any engine.
    *
    * Inputs are widened to long before shifting: at `bits = 16` ([[writeZOrdered]]),
    * y's top bit lands at position 31, which wraps negative in 32-bit
    * arithmetic and silently corrupts the sort order (and max z = 2³²−1
    * doesn't fit an int at all). Long shifts are exact up to `bits = 31`.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val (xl, yl) = (x.cast("long"), y.cast("long"))
    (0 until bits).map { b =>
      shiftleft(shiftright(xl, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(yl, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)
  }

  /** Three-dimensional Morton interleave — bit b of x/y/z lands at
    * 3b/3b+1/3b+2 — for clustering on three predicate columns at once
    * (device × region × day class layouts). Long shifts are exact up to
    * `bits = 21` (top bit position 62). Same cross-engine-integer-exact
    * contract as [[zValue]].
    */
  def zValue3(x: Column, y: Column, z: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 21, s"bits must be in [1, 21], got $bits")
    val (xl, yl, zl) = (x.cast("long"), y.cast("long"), z.cast("long"))
    (0 until bits).flatMap { b =>
      Seq(shiftleft(shiftright(xl, b).bitwiseAND(lit(1L)), 3 * b),
        shiftleft(shiftright(yl, b).bitwiseAND(lit(1L)), 3 * b + 1),
        shiftleft(shiftright(zl, b).bitwiseAND(lit(1L)), 3 * b + 2))
    }.reduce(_ + _)
  }

  /** Hilbert-curve index of a bounded non-negative (x, y) — the layout key
    * with strictly better locality than [[zValue]]: consecutive Hilbert
    * positions are always grid-neighbors (|Δx|+|Δy| = 1, asserted
    * exhaustively in LayoutSpec), whereas the Z-curve jumps across the
    * plane at every power-of-two boundary — so range scans over a
    * Hilbert-sorted file read fewer, longer runs (measurable with
    * [[graft.queries.AnalyticsQueries]]'s run-length audit).
    *
    * The classic xy2d loop (quadrant digit + reflect/swap rotation per
    * level, MSB-first). Each level's (x, y, d) state is materialized as
    * REAL projected columns via `withColumn`, not folded into one Column:
    * the rotation reads both coordinates twice, so a pure expression tree
    * doubles per level — 2^bits nodes, megabyte Janino classes, the
    * codegen-compile trap (NOTES r3). Projected state keeps the plan
    * linear in `bits`; everything is long arithmetic, bit-identical in any
    * engine, and the oracle unrolls the identical rounds as CTEs.
    */
  def withHilbert(df: DataFrame, xCol: String, yCol: String, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    var out = df
      .withColumn("__hx", col(xCol).cast("long"))
      .withColumn("__hy", col(yCol).cast("long"))
      .withColumn("h", lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      out = out
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L)))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L)))
        .withColumn("h",
          col("h") + lit(s * s) *
            (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__nx",
          when(col("__ry") === 0,
            when(col("__rx") === 1, lit(s - 1) - col("__hy"))
              .otherwise(col("__hy")))
            .otherwise(col("__hx")))
        .withColumn("__ny",
          when(col("__ry") === 0,
            when(col("__rx") === 1, lit(s - 1) - col("__hx"))
              .otherwise(col("__hx")))
            .otherwise(col("__hy")))
        .withColumn("__hx", col("__nx"))
        .withColumn("__hy", col("__ny"))
    }
    out.drop("__hx", "__hy", "__rx", "__ry", "__nx", "__ny")
  }

  /** The [[withHilbert]] rounds as a DuckDB CTE chain, generated from the
    * same loop so both engines execute the identical integer arithmetic.
    * `fromCte` must expose (idCols..., hx, hy) — the chain threads
    * (hx, hy, d) through `2·bits` CTEs and leaves the result in `h_out`.
    */
  def hilbertOracleCtes(fromCte: String, idCols: String, bits: Int): String = {
    val rounds = ((bits - 1) to 0 by -1).zipWithIndex.map { case (i, r) =>
      val s = 1L << i
      val prev = if (r == 0) fromCte else s"h_$r"
      s"""c_${r + 1} AS (
        |  SELECT $idCols, hx, hy, ${if (r == 0) "CAST(0 AS BIGINT)" else "d"} AS d,
        |    CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
        |    CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
        |  FROM $prev),
        |h_${r + 1} AS (
        |  SELECT $idCols,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END)
        |      ELSE hx END AS hx,
        |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END)
        |      ELSE hy END AS hy,
        |    d + ${s * s} * xor(3 * rx, ry) AS d
        |  FROM c_${r + 1})""".stripMargin
    }
    rounds.mkString(",\n") +
      s""",\nh_out AS (SELECT $idCols, d AS h FROM h_$bits)"""
  }

  /** Standard geohash of (lat, lon) at `precision` base32 characters — the
    * geospatial clustering / prefix-range-pruning key for telemetry layout
    * (neighboring devices share prefixes, so sorting or partitioning by
    * geohash co-locates spatially-close rows; a bounding-box probe becomes a
    * handful of prefix range predicates the parquet min/max stats prune).
    *
    * Exactly the published algorithm: quantize lon/lat by binary subdivision
    * (`floor((lon+180)/360 · 2ⁿ)`), interleave MSB-first starting with
    * longitude, emit 5-bit groups through the geohash base32 alphabet. Every
    * step is a fixed-order IEEE op or integer math — bit-identical on any
    * engine, which the DuckDB oracle checks character-for-character.
    */
  def geohash(lat: Column, lon: Column, precision: Int): Column = {
    require(precision >= 1 && precision <= 12,
      s"precision must be in [1, 12], got $precision")
    val bits = 5 * precision
    val nlon = (bits + 1) / 2
    val nlat = bits / 2
    val lonI = least(
      floor((lon + 180.0) / 360.0 * (1L << nlon).toDouble).cast("long"),
      lit((1L << nlon) - 1))
    val latI = least(
      floor((lat + 90.0) / 180.0 * (1L << nlat).toDouble).cast("long"),
      lit((1L << nlat) - 1))
    val z = (0 until bits).map { k =>
      val (src, pos) =
        if (k % 2 == 0) (lonI, nlon - 1 - k / 2) else (latI, nlat - 1 - (k - 1) / 2)
      shiftleft(shiftright(src, pos).bitwiseAND(lit(1L)), bits - 1 - k)
    }.reduce(_ + _)
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    concat((0 until precision).map { i =>
      val idx = shiftright(z, 5 * (precision - 1 - i)).bitwiseAND(lit(31L))
      lit(alphabet).substr(idx.cast("int") + 1, lit(1))
    }: _*)
  }

  /** DuckDB-SQL replicas of [[geohash]]'s three stages, generated from the
    * same constants so the oracle is the same function character for
    * character. `geohashIntsSql` → (lonI expr, latI expr) over lat/lon SQL;
    * `geohashZSql` → the interleaved z over columns named lonI/latI;
    * `geohashCharsSql` → the base32 string over a column named z.
    */
  def geohashIntsSql(latSql: String, lonSql: String, precision: Int): (String, String) = {
    val bits = 5 * precision
    val nlon = (bits + 1) / 2
    val nlat = bits / 2
    (s"least(CAST(floor(($lonSql + 180.0) / 360.0 * ${(1L << nlon).toDouble}) AS BIGINT), ${(1L << nlon) - 1})",
      s"least(CAST(floor(($latSql + 90.0) / 180.0 * ${(1L << nlat).toDouble}) AS BIGINT), ${(1L << nlat) - 1})")
  }

  def geohashZSql(precision: Int): String = {
    val bits = 5 * precision
    val nlon = (bits + 1) / 2
    val nlat = bits / 2
    (0 until bits).map { k =>
      val (src, pos) =
        if (k % 2 == 0) ("lonI", nlon - 1 - k / 2) else ("latI", nlat - 1 - (k - 1) / 2)
      s"((($src >> $pos) & 1) << ${bits - 1 - k})"
    }.mkString(" + ")
  }

  def geohashCharsSql(precision: Int): String =
    (0 until precision).map { i =>
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((z >> ${5 * (precision - 1 - i)}) & 31 AS INTEGER) + 1, 1)"
    }.mkString(" || ")

  /** Rewrite a table clustered by the z-order of two columns. */
  def writeZOrdered(df: DataFrame, path: String, x: Column, y: Column): Unit =
    LocalFs.write(df.withColumn("__z", zValue(x, y, 16))
      .sortWithinPartitions(col("__z"))
      .drop("__z"))
      .mode("overwrite").parquet(path)

  /** Drop a catalog table AND its warehouse directory: the in-memory catalog
    * is fresh per JVM but `spark-warehouse/` persists, so a stale location
    * would break the next `saveAsTable`.
    */
  def resetTable(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(s"spark-warehouse/$table")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    if (loc.exists()) rm(loc)
  }

  /** Bucketed table write (`bucketBy` + catalog table): pre-shuffles rows
    * into a fixed bucket count on `key`, so equi-joins and aggregations on
    * that key between co-bucketed tables plan with **zero Exchange** — each
    * task reads matching buckets from both sides directly. This is the
    * "co-locate big joins" lever: at 100 TB the fact-table re-shuffle per
    * join dwarfs everything else, so you pay the shuffle once at write time
    * and never again (LayoutSpec asserts the exchange-free join plan).
    * `sortCols` additionally orders within buckets (`sortBy`), letting a
    * sort-merge join skip its sort when both sides declare the same order.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    sortCols: Seq[String]): Unit = {
    val w = LocalFs.write(df).mode("overwrite").format("parquet").bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
