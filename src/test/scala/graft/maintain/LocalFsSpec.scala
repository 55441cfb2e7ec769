package graft.maintain

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.TempDirs.fixtureDir
import graft.queries.TelematicsQueries
import graft.stream.{Edge, StreamingIngest}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** [[LocalFs]] against the stock local file system: the program's writers
  * start no `chmod` process for the files their write jobs create, and what
  * they create (files, `.crc` sidecars, directories, their modes, names and
  * rows) is what the stock file system creates.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fact = TelematicsQueries.normalizedFact(spark, sf())

  /** The fact rows of its lowest bucket. */
  private lazy val tiny: DataFrame = {
    val b = fact.agg(min($"device_id_bucket")).as[Int].head()
    fact.filter($"device_id_bucket" === b)
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  /** The paths `chmod`ed by the processes `f` starts, from an in-process JFR
    * recording of `jdk.ProcessStart`. A probe `chmod` inside the recording
    * must show up, so an empty result is not a dead recorder.
    */
  private def chmods(f: => Unit): Seq[String] = {
    val dir = fixtureDir("localfs_jfr")
    val probe = Files.createFile(Paths.get(dir, "probe")).toString
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      f
      assert(new ProcessBuilder("chmod", "644", probe).start().waitFor() == 0)
    } finally rec.stop()
    val out = Paths.get(dir, "processes.jfr")
    try rec.dump(out) finally rec.close()
    val paths = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
      .map(_.getString("command").trim.split("\\s+").toSeq)
      .collect { case cmd if cmd.head.endsWith("chmod") => cmd.last }
    assert(paths.contains(probe), "the recording missed the probe chmod")
    paths.filterNot(_ == probe)
  }

  /** Files that stay on the session's file system: the single-file creates
    * outside a write job, a table's `_manifest` and `Versioned`'s manifests
    * and refs.
    */
  private val sessionFiles = Seq("_manifest", "/_branches/")

  private def assertNoWriteJobChmod(f: => Unit): Unit = {
    val forked = chmods(f).filterNot(p => sessionFiles.exists(p.contains))
    assert(forked.isEmpty, s"${forked.size} chmod processes, e.g. ${forked.take(3)}")
  }

  private def written(tag: String): String = {
    val d = fixtureDir(tag) + "/fact"
    Layout.writeFact(tiny, d)
    d
  }

  /** (bucket dir, day) of the table's first partition. */
  private def firstPartition(d: String): (String, String) = {
    val p = TableIndex.readManifest(spark, d).get.head.path.split('/')
    (s"$d/${p(0)}", p(1).stripPrefix("received_day="))
  }

  test("writeFact starts no chmod") {
    assertNoWriteJobChmod(Layout.writeFact(tiny, fixtureDir("localfs_fact") + "/fact"))
  }

  test("compactPartition starts no chmod") {
    val (bucketDir, day) = firstPartition(written("localfs_compact"))
    assertNoWriteJobChmod(Maintenance.compactPartition(spark, bucketDir, "received_day", day))
  }

  test("overwritePartitions starts no chmod") {
    val d = written("localfs_overwrite")
    val (bucketDir, day) = firstPartition(d)
    val part = spark.read.parquet(d).filter($"received_day" === lit(day).cast("date") &&
      $"device_id_bucket" === bucketDir.split('=').last.toInt)
    assertNoWriteJobChmod(Maintenance.overwritePartitions(
      part.withColumn("speed_kmh", $"speed_kmh" + 1), d, Seq("device_id_bucket", "received_day")))
  }

  test("factSink starts no chmod for the table's files") {
    implicit val sql = spark.sqlContext
    val d = fixtureDir("localfs_fact_sink") + "/fact"
    val ckpt = fixtureDir("localfs_fact_sink_ckpt")
    val edges = Seq("7", "8").flatMap(dev => Seq(1704844800L, 1704931200L).map(Edge.mk(dev, _)))
    val forked = chmods {
      val mem = MemoryStream[Edge]
      val q = StreamingIngest.factSink(StreamingIngest.ingest(mem.toDF()), d, ckpt).start()
      try {
        mem.addData(edges: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    // the checkpoint's offset and commit logs stay on the session's file system
    val table = forked.filterNot(_.startsWith(ckpt))
    assert(table.isEmpty, s"${table.size} chmod processes, e.g. ${table.take(3)}")
    assert(spark.read.parquet(d).count() == edges.size)
  }

  test("Fixtures.parquet starts no chmod") {
    assertNoWriteJobChmod(graft.Fixtures.parquet("localfs_fixture", sf())(tiny))
  }

  test("Versioned.commit starts no chmod for its data files") {
    val d = fixtureDir("localfs_versioned")
    assertNoWriteJobChmod(Versioned.commit(tiny, d))
    assert(Versioned.read(spark, d).count() == tiny.count())
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file and dir under `root` (UUIDs masked) with its POSIX mode. */
  private def modes(root: String): Seq[(String, Int)] = {
    val r = Paths.get(root)
    val all = Files.walk(r)
    try all.iterator().asScala.toSeq
      .map(p => uuid.replaceAllIn(r.relativize(p).toString, "<uuid>") -> mode(p)).sorted
    finally all.close()
  }

  private def rows(d: String): Seq[String] =
    spark.read.parquet(d).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  for ((umask, file, dir) <- Seq(("022", "644", "755"), ("077", "600", "700")))
    test(s"under umask $umask a helper write creates the stock write's files, modes and rows") {
      val root = fixtureDir(s"localfs_umask$umask")
      val (viaHelper, stock) = (s"$root/helper", s"$root/stock")
      LocalFs.write(tiny).option("fs.permissions.umask-mode", umask)
        .partitionBy("received_day").parquet(viaHelper)
      // an uncached stock instance, so the write's umask reaches it too
      tiny.write.option("fs.file.impl.disable.cache", "true")
        .option("fs.permissions.umask-mode", umask)
        .partitionBy("received_day").parquet(stock)
      val got = modes(viaHelper)
      assert(got.exists(_._1.endsWith(".parquet.crc")) && got.exists(_._1.startsWith("received_day=")))
      assert(got == modes(stock))
      assert(got.map(_._2).toSet == Set(oct(file), oct(dir)))
      assert(rows(viaHelper) == rows(stock))
    }

  private def localFs(): LocalFs = {
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("setPermission within 0777 is one call with no process; above 0777 it keeps the sticky bit") {
    val fs = localFs()
    val d = new Path(fixtureDir("localfs_modes"), "d")
    assert(fs.mkdirs(d))
    val f = new Path(d, "f")
    fs.create(f).close()
    assert(chmods(fs.setPermission(f, new FsPermission(oct("640").toShort))).isEmpty)
    assert(mode(Paths.get(f.toString)) == oct("640"))
    fs.setPermission(d, new FsPermission(oct("1777").toShort))
    assert(mode(Paths.get(d.toString)) == oct("1777"))
  }

  test("setPermission on a missing path throws an IOException") {
    val missing = new Path(fixtureDir("localfs_missing"), "missing")
    intercept[java.io.IOException](
      localFs().setPermission(missing, new FsPermission(oct("644").toShort)))
  }
}
