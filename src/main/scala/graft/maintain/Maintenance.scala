package graft.maintain

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Table-maintenance operators (SURVEY.md §2.11) over a plain-parquet,
  * directory-partitioned layout — the Spark analog of the reference's Trino
  * `DELETE`/`optimize` cycle (`config/flink/cleanup.sql`). Its `ANALYZE`
  * step is Spark's own `ANALYZE TABLE … COMPUTE STATISTICS` statement,
  * which needs no wrapper here.
  *
  * Each in-place writer drops the table's manifest
  * ([[TableIndex.dropManifest]]) before it touches a file, so a
  * `Layout.writeFact` table is never opened from a file list that no
  * longer matches its directories. A table the fact stream appends to
  * (`StreamingIngest.factSink`) keeps no other file list, so they rewrite
  * its files like any other. The rewrites start with [[LocalFs.write]], so
  * they create their files without forking a `chmod` per file.
  */
object Maintenance {

  /** Retention predicate (K5/P6): rows *surviving* `DELETE WHERE dayCol <
    * asOf - days` (`cleanup.sql:5-10`; 5d maxtrack raw, 90d others).
    *
    * NULL days survive: SQL DELETE removes rows whose predicate is TRUE,
    * and `NULL < cutoff` is NULL — so a row with no day is NOT deleted.
    * The naive survivor filter `dayCol >= cutoff` would silently drop it
    * (the three-valued inversion trap), and would also disagree with
    * [[retentionDelete]], whose partition-directory sweep never matches
    * the null (`__HIVE_DEFAULT_PARTITION__`) directory against a date
    * cutoff. An un-dated row is a data-quality finding for the DLQ
    * discipline, not something a retention pass may silently destroy.
    */
  def retain(df: DataFrame, dayCol: String, days: Int, asOf: java.time.LocalDate): DataFrame =
    df.filter(col(dayCol).isNull ||
      col(dayCol) >= lit(java.sql.Date.valueOf(asOf.minusDays(days.toLong))))

  /** Apply retention in place on a `dayCol`-partitioned parquet path: deletes
    * whole expired partitions (metadata-only file deletes, no rewrite) — at
    * 100 TB this must never be a read-rewrite of surviving data. The staged
    * copy and backup an interrupted [[Promote.replace]] left beside an
    * expired partition go too: no later compaction of that day would
    * recover them. Returns the deleted partition dirs.
    */
  def retentionDelete(spark: SparkSession, path: String, dayCol: String,
                      days: Int, asOf: java.time.LocalDate): Seq[String] = {
    TableIndex.dropManifest(spark, path)
    val cutoff = asOf.minusDays(days.toLong).toString
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = s"\\Q$dayCol=\\E(.+)".r
    val leftover = s"\\.\\Q$dayCol=\\E(.+)__(?:staged|backup)".r
    def expiredBy(re: scala.util.matching.Regex)(p: org.apache.hadoop.fs.Path) =
      p.getName match {
        case re(day) => day < cutoff
        case _ => false
      }
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
    val expired = dirs.filter(expiredBy(live))
    (expired ++ dirs.filter(expiredBy(leftover))).foreach(p => fs.delete(p, true))
    expired.map(_.toString)
  }

  /** Compaction (M1, `cleanup.sql:12-17`): rewrite one day-partition into
    * `ceil(bytes / targetFileSize)` files. Reads only the named partition —
    * the per-partition `WHERE received_day = …` form of the reference's
    * `optimize`, which is the only form that scales. The rewrite is staged
    * and swapped in by [[Promote]], which first restores a partition an
    * interrupted compaction left in its backup.
    *
    * The rewrite keeps the files' layout ([[fileLayout]]): a
    * `Layout.writeFact` partition stays zstd with sized bloom filters, a
    * snappy archive stays snappy without them.
    */
  def compactPartition(spark: SparkSession, path: String, dayCol: String,
                       day: String): Unit = {
    val partPath = s"$path/$dayCol=$day"
    TableIndex.dropManifest(spark, partPath)
    Promote.recover(spark, partPath)
    val part = new Path(partPath)
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(part)) return
    val bytes = fs.getContentSummary(part).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / (256L << 20)).toInt)
    val layout = fileLayout(spark, part)
    Promote.replace(spark, partPath)(
      LocalFs.write(spark.read.parquet(partPath).coalesce(nFiles)).options(layout)
        .mode("overwrite").parquet(_))
  }

  /** Writer options that reproduce the layout of the parquet files under
    * `dir`, read from their footers: the codec of the first column chunk,
    * and a sized bloom filter ([[Layout.bloomOptions]]) on every column
    * some file's chunk carries one for. All footers are read, not one,
    * because parquet writes no filter for a fully dictionary-encoded chunk
    * even where filters were asked for.
    */
  private def fileLayout(spark: SparkSession, dir: Path): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val chunks = TableIndex.listEntries(spark, dir, dir)(_.endsWith(".parquet")).flatMap { e =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(dir, e.path), conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      finally reader.close()
    }
    val codec = chunks.headOption.map(c => "compression" -> c.getCodec.name.toLowerCase)
    val bloomed = chunks.filter(_.getBloomFilterOffset >= 0).map(_.getPath.toDotString).distinct
    codec.toMap ++ (if (bloomed.isEmpty) Map.empty else Layout.bloomOptions(bloomed))
  }

  /** Dynamic partition overwrite: rewrite only the partitions present in `df`
    * — the write half of the upsert-at-scale pattern (pairs with
    * `Upsert.upsert` output restricted to changed partitions).
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    TableIndex.dropManifest(df.sparkSession, path)
    LocalFs.write(df)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }
}
