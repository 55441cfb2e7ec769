package graft.maintain

import graft.SparkSpec

class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.TempDirs.fixtureDir("versioned") + "/t"

  /** `files` (absolute URIs, e.g. a frame's `inputFiles`) relative to `dir`,
    * the form `removeOrphanFiles` reports. */
  private def relativeTo(dir: String, files: Seq[String]): Set[String] = {
    val base = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    files.map(u => new java.net.URI(u).getPath.stripPrefix(base).stripPrefix("/")).toSet
  }

  /** Every parquet file under `dir/data`, relative to `dir`. */
  private def dataFiles(dir: String): Set[String] = {
    val it = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .listFiles(new org.apache.hadoop.fs.Path(s"$dir/data"), true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) out += p.toUri.toString
    }
    relativeTo(dir, out.result())
  }

  /** Backdates every file and dir under `dir/data` past the orphan sweep's
    * three-day age guard, so the sweep judges them by reference alone.
    */
  private def aged(dir: String): Unit = {
    val old = System.currentTimeMillis() - 4L * 24 * 60 * 60 * 1000
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/data"))
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => p.toFile.setLastModified(old))
    finally walk.close()
  }

  test("append commits accumulate; every snapshot stays readable (time travel)") {
    val dir = freshTable()
    val v1 = Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    val v2 = Versioned.commit(Seq((2L, "b")).toDF("id", "s"), dir)
    assert((v1, v2) == ((1, 2)))
    assert(Versioned.read(spark, dir).count() == 2)                  // latest
    assert(Versioned.read(spark, dir, Some(1)).as[(Long, String)].collect().toSeq
      == Seq((1L, "a")))                                             // time travel
  }

  test("a 40-file snapshot opens from its manifest with 0 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = freshTable()
    val df = spark.range(0, 400).select($"id", ($"id" % 7).cast("string").as("s"))
      .repartition(40)
    Versioned.commit(df, dir)
    val group = "versioned-open"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(e.properties.getProperty("spark.job.description"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val opened = try {
      sc.setJobGroup(group, "open")
      val out = Versioned.read(spark, dir)
      // a job after the open: once its start event arrives, every event the
      // open posted has arrived too (one listener bus, in order)
      sc.setJobGroup(group, "sentinel")
      sc.parallelize(Seq(1)).count()
      org.scalatest.concurrent.Eventually.eventually(assert(jobs.contains("sentinel")))
      out
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(jobs.toArray.toSeq == Seq("sentinel"), s"the open ran jobs: $jobs")
    assert(opened.inputFiles.length == 40)
    val files = opened.inputFiles.toSeq
    assert(opened.schema == spark.read.parquet(files: _*).schema)
    assert(opened.as[(Long, String)].collect().toSet == df.as[(Long, String)].collect().toSet)
  }

  test("overwrite commit replaces content logically, old snapshot readable") {
    val dir = freshTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), dir, append = false)
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(Versioned.read(spark, dir, Some(1)).as[(Long, String)].collect().toSeq
      == Seq((1L, "a")))
  }

  test("expire + orphan removal: old files deleted, current snapshot intact") {
    val dir = freshTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), dir, append = false) // v1 files now v1-only
    val v1Files = relativeTo(dir, Versioned.read(spark, dir, Some(1)).inputFiles.toSeq)
    val expired = Versioned.expireSnapshots(spark, dir, keepLast = 1)
    assert(expired == Seq(1))
    aged(dir)
    val gone = Versioned.removeOrphanFiles(spark, dir)
    assert(v1Files.nonEmpty && gone.toSet == v1Files && gone.size == v1Files.size)
    // current snapshot unaffected by the cleanup
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(1)))
  }

  test("orphan removal keeps shared files still referenced by a retained snapshot") {
    val dir = freshTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), dir) // append: v2 references v1 files
    Versioned.expireSnapshots(spark, dir, keepLast = 1)   // drop v1 manifest
    aged(dir)
    val gone = Versioned.removeOrphanFiles(spark, dir)
    assert(gone.isEmpty, s"shared v1 data files wrongly deleted: $gone")
    assert(Versioned.read(spark, dir).count() == 2)
  }

  test("versioned upsert merges by key atomically; pre-merge snapshot time-travels") {
    import org.apache.spark.sql.functions.col
    val dir = freshTable()
    Versioned.upsert(Seq(("d1", 5L, 1), ("d2", 7L, 1)).toDF("k", "total", "ver"),
      dir, Seq("k"), col("ver"))
    Versioned.upsert(Seq(("d1", 9L, 2)).toDF("k", "total", "ver"),
      dir, Seq("k"), col("ver"))
    val now = Versioned.read(spark, dir)
      .select("k", "total", "ver").as[(String, Long, Int)].collect().toSet
    assert(now == Set(("d1", 9L, 2), ("d2", 7L, 1)))
    val before = Versioned.read(spark, dir, Some(1))
      .select("k", "total", "ver").as[(String, Long, Int)].collect().toSet
    assert(before == Set(("d1", 5L, 1), ("d2", 7L, 1)))
  }

  test("versioned upsert rejects null-key rows loudly (PK constraint)") {
    // the branch machinery is key-join-based: identity-less rows admitted
    // here would silently vanish at the first mergeBranch — reject at
    // write time instead
    import org.apache.spark.sql.functions.col
    val dir = freshTable()
    val e = intercept[IllegalArgumentException] {
      Versioned.upsert(
        Seq(("d1", 5L, 1), (null.asInstanceOf[String], 6L, 1))
          .toDF("k", "total", "ver"), dir, Seq("k"), col("ver"))
    }
    assert(e.getMessage.contains("non-null"))
    assert(Versioned.versions(spark, dir).isEmpty, "no partial commit")
  }

  test("snapshotDiff: upserts surface as delete+insert of the changed key") {
    import org.apache.spark.sql.functions.col
    val dir = freshTable()
    Versioned.upsert(Seq(("d1", 5L, 1), ("d2", 7L, 1)).toDF("k", "total", "ver"),
      dir, Seq("k"), col("ver"))
    Versioned.upsert(Seq(("d1", 9L, 2), ("d3", 4L, 1)).toDF("k", "total", "ver"),
      dir, Seq("k"), col("ver"))
    val diff = Versioned.snapshotDiff(spark, dir, from = 1, to = 2)
      .select("__change", "k", "total").as[(String, String, Long)].collect().toSet
    assert(diff == Set(
      ("insert", "d1", 9L), ("delete", "d1", 5L),  // updated key
      ("insert", "d3", 4L)))                       // new key; d2 unchanged
  }

  test("branches: isolation, fast-forward merge is metadata-only, drop cleans up") {
    val dir = freshTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir)
    Versioned.createBranch(spark, dir, "dev")
    assert(Versioned.branches(spark, dir) == Seq("dev"))
    // commit-less branch reads its fork point
    assert(Versioned.readBranch(spark, dir, "dev").count() == 2)
    Versioned.commitToBranch(Seq((3L, "c")).toDF("id", "s"), dir, "dev", append = true)
    // isolation: main unchanged, branch sees the append
    assert(Versioned.read(spark, dir).count() == 2)
    assert(Versioned.readBranch(spark, dir, "dev").count() == 3)
    // main has not advanced -> fast-forward; no new data files under data/
    val before = Versioned.versions(spark, dir)
    val filesBefore = dataFiles(dir)
    val v = Versioned.mergeBranch(spark, dir, "dev", Seq("id"))
    assert(v == before.last + 1)
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(dataFiles(dir) == filesBefore,
      "fast-forward merge wrote data files; it must be metadata-only")
    // drop: branch data becomes orphaned and removable; merged main intact
    Versioned.dropBranch(spark, dir, "dev")
    assert(Versioned.branches(spark, dir).isEmpty)
    aged(dir)
    val gone = Versioned.removeOrphanFiles(spark, dir)
    assert(gone.isEmpty, s"merged-in branch files wrongly deleted: $gone")
    assert(Versioned.read(spark, dir).count() == 3)
  }

  test("branches: diverged merge is key-level three-way; conflicts refuse") {
    val dir = freshTable()
    Versioned.commit(Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("k", "n"), dir)
    Versioned.createBranch(spark, dir, "dev")
    // main updates a; branch updates b, deletes c, inserts d
    Versioned.commit(Seq(("a", 10L), ("b", 1L), ("c", 1L)).toDF("k", "n"),
      dir, append = false)
    Versioned.commitToBranch(Seq(("a", 1L), ("b", 20L), ("d", 30L)).toDF("k", "n"),
      dir, "dev", append = false)
    assert(Versioned.branchConflicts(spark, dir, "dev", Seq("k")).count() == 0)
    Versioned.mergeBranch(spark, dir, "dev", Seq("k"))
    assert(Versioned.read(spark, dir).as[(String, Long)].collect().toSet ==
      Set(("a", 10L), ("b", 20L), ("d", 30L))) // both edits + delete + insert
    // conflicting branch: both sides touch the same key
    Versioned.createBranch(spark, dir, "clash")
    Versioned.commit(Seq(("a", 11L), ("b", 20L), ("d", 30L)).toDF("k", "n"),
      dir, append = false)
    Versioned.commitToBranch(Seq(("a", 99L), ("b", 20L), ("d", 30L)).toDF("k", "n"),
      dir, "clash", append = false)
    val e = intercept[IllegalStateException](
      Versioned.mergeBranch(spark, dir, "clash", Seq("k")))
    assert(e.getMessage.contains("a"))
    // expire never drops a live branch's fork point
    val base = Versioned.branchBase(spark, dir, "clash")
    Versioned.expireSnapshots(spark, dir, keepLast = 1)
    assert(Versioned.versions(spark, dir).contains(base))
  }

  test("branches: drop-and-recreate can commit again") {
    val dir = freshTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    // a dropped branch leaves its data (files may be live in merged main);
    // a recreated branch must still commit
    Versioned.createBranch(spark, dir, "dev")
    Versioned.commitToBranch(Seq((2L, "b")).toDF("id", "s"), dir, "dev", append = true)
    Versioned.mergeBranch(spark, dir, "dev", Seq("id")) // FF: main adopts the branch's files
    Versioned.dropBranch(spark, dir, "dev")
    Versioned.createBranch(spark, dir, "dev")
    Versioned.commitToBranch(Seq((3L, "c")).toDF("id", "s"), dir, "dev", append = true)
    assert(Versioned.readBranch(spark, dir, "dev").count() == 3)
    assert(Versioned.read(spark, dir).count() == 2) // main still pre-second-merge
  }

  test("crash debris (data without manifest) is invisible and cleaned as orphans") {
    val dir = freshTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    // simulate a crash mid-commit: data written, manifest never landed
    Seq((666L, "crash")).toDF("id", "s")
      .write.parquet(s"$dir/data/v2")
    val debris = relativeTo(dir, spark.read.parquet(s"$dir/data/v2").inputFiles.toSeq)
    assert(Versioned.versions(spark, dir) == Seq(1))       // v2 invisible
    assert(Versioned.read(spark, dir).count() == 1)
    aged(dir)
    val gone = Versioned.removeOrphanFiles(spark, dir)
    assert(debris.nonEmpty && gone.toSet == debris && gone.size == debris.size)
    // age guard: freshly-written unreferenced files survive the sweep
    Seq((7L, "inflight")).toDF("id", "s").write.parquet(s"$dir/data/v3")
    assert(Versioned.removeOrphanFiles(spark, dir).isEmpty)
    assert(new java.io.File(s"$dir/data/v3").isDirectory)
    // the debris dirs do not block the next commit
    assert(Versioned.commit(Seq((2L, "b")).toDF("id", "s"), dir) == 2)
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("expire + sweep leaves under data/ exactly the dirs of referenced files") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = freshTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), dir, append = false)
    intercept[Exception](Versioned.commit(spark.range(1).select(col("id"),
      when(col("id") === 0L, raise_error(lit("injected"))).otherwise(lit("x")).as("s")), dir))
    Seq((666L, "crash")).toDF("id", "s").write.parquet(s"$dir/data/debris")
    Versioned.expireSnapshots(spark, dir, keepLast = 1)
    aged(dir)
    Versioned.removeOrphanFiles(spark, dir)
    val live = relativeTo(dir, Versioned.read(spark, dir).inputFiles.toSeq)
      .map(_.stripPrefix("data/").takeWhile(_ != '/'))
    assert(live.size == 1)
    assert(new java.io.File(s"$dir/data").list().toSet == live)
    assert(Versioned.read(spark, dir).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
  }

  test("a commit whose write fails leaves no manifest and blocks nothing") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    // a range, not a local Seq: the optimizer would evaluate raise_error over
    // a local relation at planning, before the write starts
    val failing = spark.range(2, 4).select(col("id"), when(col("id") === 3L,
      raise_error(lit("injected write failure"))).otherwise(lit("b")).as("s"))
    def tableWithFailedCommit(): String = {
      val dir = freshTable()
      Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dir)
      val e = intercept[Exception](Versioned.commit(failing, dir))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected write failure")), e)
      assert(Versioned.versions(spark, dir) == Seq(1), "no manifest for the failed commit")
      dir
    }
    val a = tableWithFailedCommit()
    assert(Versioned.commit(Seq((2L, "b")).toDF("id", "s"), a) == 2)
    assert(Versioned.read(spark, a).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    val b = tableWithFailedCommit()
    assert(Versioned.upsert(Seq((1L, "z")).toDF("id", "s"), b, Seq("id"), col("s")) == 2)
    assert(Versioned.read(spark, b).as[(Long, String)].collect().toSeq == Seq((1L, "z")))
  }

  test("two-writer race: main and branch commits all land, no lost update") {
    val dir = freshTable()
    Versioned.commit(Seq((0L, "base")).toDF("id", "s"), dir)
    Versioned.createBranch(spark, dir, "dev")
    // 8 concurrent appends to main (2 threads × 4 commits each) racing for
    // versions, alongside 8 to the branch (writers 3 and 4); every commit
    // must land under a unique version of its ref and every row survive
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    def row(w: Int, i: Int) = (w * 100L + i, s"w$w-$i")
    val futures = (1 to 4).map { w =>
      Future {
        (1 to 4).map { i =>
          val df = Seq(row(w, i)).toDF("id", "s")
          if (w <= 2) Versioned.commit(df, dir)
          else Versioned.commitToBranch(df, dir, "dev", append = true)
        }
      }
    }
    val landed = futures.map(Await.result(_, 120.seconds))
    val (onMain, onBranch) = (landed.take(2).flatten, landed.drop(2).flatten)
    assert(onMain.toSet.size == 8, s"versions must be unique, got $onMain")
    assert(onBranch.toSet.size == 8, s"branch versions must be unique, got $onBranch")
    assert(Versioned.versions(spark, dir) == (1 to 9), "contiguous history")
    assert(Versioned.branchVersions(spark, dir, "dev") == (1 to 8),
      "contiguous branch history")
    val rows = Versioned.read(spark, dir).as[(Long, String)].collect().toSet
    val expected = Set(0L -> "base") ++
      (for (w <- 1 to 2; i <- 1 to 4) yield row(w, i)).toSet
    assert(rows == expected, "no lost update")
    val branchRows = Versioned.readBranch(spark, dir, "dev").as[(Long, String)].collect()
    assert(branchRows.toSet == Set(0L -> "base") ++
      (for (w <- 3 to 4; i <- 1 to 4) yield row(w, i)).toSet &&
      branchRows.length == 9, "no lost branch update")
    // each intermediate snapshot is readable and monotonically grows
    val counts = Versioned.versions(spark, dir)
      .map(v => Versioned.read(spark, dir, Some(v)).count())
    assert(counts == counts.sorted && counts.last == 9L)
  }
}
