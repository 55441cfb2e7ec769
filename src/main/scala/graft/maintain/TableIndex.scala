package graft.maintain

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Opening a parquet table from a file list written at commit time instead
  * of listing its directories — the role Iceberg's manifests play for the
  * reference's Trino reads (`config/flink/create.sql`). Two kinds of table
  * carry such a list:
  *
  *  - a [[Layout.writeFact]] table: one `_manifest` file at its root,
  *    written by [[writeManifest]] into the staged copy before it is
  *    promoted, so data and manifest change together. The `_` prefix keeps
  *    Spark's own listing from reading it as data;
  *  - a [[Versioned]] snapshot: the lines of its version's manifest.
  *
  * Both hold one [[Entry]] line per data file, and both open
  * ([[openManifest]], [[openFiles]]) as Spark's own `InMemoryFileIndex`
  * over the table root, fed the listed statuses through a
  * [[FileStatusCache]] instead of the file system. Partition inference,
  * pruning and the scan are Spark's, unchanged; only the listing is gone.
  *
  * Freshness: a manifest names exactly the files its writer wrote, so a
  * writer that adds, replaces or deletes files under a manifest table
  * without rewriting the manifest calls [[dropManifest]] first; the next
  * open then lists, which is always correct.
  */
object TableIndex {

  private val ManifestName = "_manifest"

  /** One data file: `path` relative to the table root, `length` in bytes,
    * `mtime` in epoch milliseconds.
    */
  final case class Entry(path: String, length: Long, mtime: Long) {
    def line: String = s"$path\t$length\t$mtime"
  }

  object Entry {
    def parse(line: String): Entry = line.split('\t') match {
      case Array(p, len, mtime) => Entry(p, len.toLong, mtime.toLong)
      case _ => throw new IllegalArgumentException(s"bad manifest line: $line")
    }
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def relative(root: Path, p: Path): String =
    p.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/")

  /** Spark's listing rule: names starting with `.`, or with `_` but not
    * holding `=`, are not data (`_SUCCESS`, checksums, staged copies).
    */
  private def visible(name: String): Boolean =
    !name.startsWith(".") && !(name.startsWith("_") && !name.contains("="))

  /** Every file under `dir`, relative to `root`, that `keep` accepts — one
    * walk of the tree, the write-time cost the readers no longer pay. Plain
    * `listStatus` per dir: `listFiles`' located statuses load each file's
    * owner and permissions, which the local file system forks a process
    * for (~6 s for a 960-file table). Creating a file forks too, for its
    * `chmod`; the write jobs avoid that through [[LocalFs]].
    */
  private[maintain] def listEntries(spark: SparkSession, root: Path, dir: Path)(
      keep: String => Boolean): Seq[Entry] = {
    val f = fs(spark, dir)
    val base = f.makeQualified(root)
    def walk(d: Path): Seq[Entry] = f.listStatus(d).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else {
        val rel = relative(base, st.getPath)
        if (keep(rel)) Seq(Entry(rel, st.getLen, st.getModificationTime)) else Nil
      }
    }
    walk(dir).sortBy(_.path)
  }

  /** Writes the manifest of the table at `root`: every visible file under
    * it. Called on a staged copy before it is promoted, so no reader sees a
    * table without its manifest or a manifest without its files.
    */
  private[maintain] def writeManifest(spark: SparkSession, root: String): Unit = {
    val r = new Path(root)
    val entries = listEntries(spark, r, r)(_.split('/').forall(visible))
    val out = fs(spark, r).create(new Path(r, ManifestName), true)
    try out.write(entries.map(_.line).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The manifest text of the table at `root`, or None if it has none. */
  private def manifestText(spark: SparkSession, root: String): Option[String] = {
    val p = new Path(root, ManifestName)
    val in = try Some(fs(spark, p).open(p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    in.map(s => try new String(s.readAllBytes(), "UTF-8") finally s.close())
  }

  private def parse(text: String): Seq[Entry] =
    text.linesIterator.filter(_.nonEmpty).map(Entry.parse).toSeq

  /** The manifest of the table at `root`, or None if it has none. */
  private[maintain] def readManifest(spark: SparkSession, root: String): Option[Seq[Entry]] =
    manifestText(spark, root).map(parse)

  /** `path` and each ancestor up to and including the first one whose
    * name is not a partition dir (`col=value`): the table root.
    */
  private def upToRoot(path: String): Seq[Path] = {
    val (parts, rest) = Iterator.iterate(new Path(path))(_.getParent).takeWhile(_ != null)
      .toSeq.span(_.getName.contains("="))
    parts ++ rest.take(1)
  }

  /** Deletes the manifest of the table that `path` lies in, before a
    * writer touches files there. `path` is the table root or a partition
    * dir inside it; the manifest is looked for at each of [[upToRoot]].
    */
  def dropManifest(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, new Path(path))
    upToRoot(path).foreach(p => f.delete(new Path(p, ManifestName), false))
  }

  /** `t` with every field, element and value nullable: the form a file
    * source reports its data schema in.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The data schema a listing open infers for files like `entry`: its
    * footer's, read here in the calling thread (Spark's own inference reads
    * the same one footer, but in a Spark job).
    */
  private def footerSchema(spark: SparkSession, root: String, entry: Entry): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(root, entry.path)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    val footer = try reader.getFooter finally reader.close()
    nullable(ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))).asInstanceOf[StructType]
  }

  /** Spark's index over `root`, listing what `cache` holds. Equal only to
    * an index of the same entries: `InMemoryFileIndex` equality is by root
    * path alone, and two snapshots of one [[Versioned]] table share their
    * root, so plan reuse (a reused exchange, the cache manager) would take
    * one snapshot's scan for the other's.
    */
  private final class ManifestIndex(spark: SparkSession, root: Path, val entries: Seq[Entry],
                                    options: Map[String, String], schema: StructType,
                                    cache: FileStatusCache)
      extends InMemoryFileIndex(spark, Seq(root), options, Some(schema), cache) {
    override def equals(o: Any): Boolean = o match {
      case m: ManifestIndex => (this eq m) || (rootPaths == m.rootPaths && entries == m.entries)
      case _ => false
    }
    override lazy val hashCode: Int = (rootPaths, entries).hashCode
  }

  /** Spark's index of `entries` under `root` (qualified), fed to it in
    * place of a listing. If `partitioned`, it infers the partitions from the
    * entries' `col=value` dirs, as a listing of `root` would; otherwise
    * every entry is a data file of the table at whatever depth, as when each
    * file is named to `spark.read`.
    */
  private def index(spark: SparkSession, root: Path, entries: Seq[Entry],
                    schema: StructType, partitioned: Boolean): ManifestIndex = {
    val blockSize = fs(spark, root).getDefaultBlockSize(root)
    val statuses = entries.map(e => new FileStatus(e.length, false, 1, blockSize, e.mtime,
      new Path(root, e.path))).toArray
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        if (path == root) Some(statuses) else None
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = if (partitioned) Map.empty[String, String] else Map("recursiveFileLookup" -> "true")
    new ManifestIndex(spark, root, entries, options, schema, cache)
  }

  /** A frame over `index` with `schema` (data columns, then partition
    * columns, as a listing open reports them).
    */
  private def frame(spark: SparkSession, index: ManifestIndex, schema: StructType): DataFrame = {
    val parts = index.partitionSchema
    val data = StructType(schema.filterNot(c => parts.fieldNames.contains(c.name)))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, parts, data, None, new ParquetFileFormat, Map.empty)(spark))
  }

  private def qualified(spark: SparkSession, root: String): Path = {
    val r = new Path(root)
    fs(spark, r).makeQualified(r)
  }

  /** The data files `entries` of the table at `root`, each at whatever
    * depth, as a frame — a [[Versioned]] snapshot, whose files sit under
    * `data/<uuid>`. The schema is the first file's footer's, the one a
    * listing open would infer. No file system listing and no Spark job.
    */
  def openFiles(spark: SparkSession, root: String, entries: Seq[Entry]): DataFrame = {
    require(entries.nonEmpty, s"no data files to open under $root")
    val schema = footerSchema(spark, root, entries.head)
    frame(spark, index(spark, qualified(spark, root), entries, schema, partitioned = false), schema)
  }

  /** The last index [[openManifest]] built per session and table root,
    * with the manifest text and schema it was built from. Every rewrite of
    * a table writes a manifest naming new files, so the index is reused
    * only while the text is unchanged, and the next open after a rewrite
    * sees it.
    */
  private val opened =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Path), (String, StructType, ManifestIndex)]()

  /** The partitioned table at `root` opened from its manifest, as a frame
    * with `schema`, or None if it has no manifest. One small file read per
    * call; partition inference runs once per manifest ([[opened]]).
    */
  def openManifest(spark: SparkSession, root: String, schema: StructType): Option[DataFrame] =
    manifestText(spark, root).map { text =>
      val q = qualified(spark, root)
      val (_, _, idx) = opened.compute((spark, q), (_, prev) =>
        if (prev != null && prev._1 == text && prev._2 == schema) prev
        else (text, schema, index(spark, q, parse(text), schema, partitioned = true)))
      frame(spark, idx, schema)
    }
}
