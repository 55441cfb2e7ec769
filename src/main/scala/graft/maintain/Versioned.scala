package graft.maintain

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based table versioning over plain parquet — the analog of the
  * reference's Iceberg snapshot surface (time travel, `expire_snapshots`,
  * `remove_orphan_files`; see `/root/reference/config/flink/cleanup.sql:19-31`
  * and the Nessie catalog in `config/flink/create.sql:1-13`) rebuilt on
  * nothing but the Hadoop `FileSystem` API, since no table-format jars exist
  * offline.
  *
  * Layout:
  * {{{
  *   table/
  *     data/<uuid>/part-*.parquet      files written by one commit (main or branch)
  *     _manifests/v<N>.json            main snapshot N = the data files it reads
  *     _manifests/<branch>.v<K>.json   branch commit K
  *     _branches/<branch>              branch ref: the main snapshot it forked from
  * }}}
  *
  * One commit protocol serves every writer — the optimistic compare-and-swap
  * on a ref's commit sequence of a Nessie/Iceberg catalog. The data is
  * written once into a fresh writer-unique `data/<uuid>` dir (unreferenced
  * until a manifest lands: a crash or a failed write leaves only orphans,
  * never a corrupt or blocked table), then the manifest is CAS-created as
  * the ref's next version ([[casPublish]]). Concurrent appends all land, in
  * whichever order the CAS decides; a commit whose content was computed
  * from a snapshot it read throws `ConcurrentModificationException` if the
  * ref moved past that snapshot. Readers resolve a snapshot by listing
  * `_manifests` — no mutable pointer file, so a half-written commit is
  * simply invisible.
  *
  * A manifest line is a [[TableIndex.Entry]] (path, length, mtime), the
  * file list a `Layout.writeFact` table's `_manifest` holds, so a snapshot
  * opens the same way ([[TableIndex.openFiles]]), with no listing of its
  * files and no Spark job.
  *
  * Append commits reference the previous snapshot's files plus the new ones —
  * old snapshots stay readable (time travel) until expired.
  */
object Versioned {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(tableDir: String) = new Path(tableDir, "_manifests")

  /** A ref is main (`None`) or a named branch. Its version `v` is the
    * manifest `v<v>.json` on main and `<branch>.v<v>.json` on a branch;
    * branch names cannot contain a dot, so neither pattern matches the
    * other's files.
    */
  private def manifestPath(tableDir: String, ref: Option[String], v: Int): Path =
    new Path(manifestDir(tableDir), ref.fold("")(_ + ".") + s"v$v.json")

  /** Sorted committed versions of a ref. */
  private def refVersions(spark: SparkSession, tableDir: String,
                          ref: Option[String]): Seq[Int] = {
    val f = fs(spark, tableDir)
    val md = manifestDir(tableDir)
    val name = (ref.fold("")(b => java.util.regex.Pattern.quote(b + ".")) +
      "v(\\d+)\\.json").r
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.map(_.getPath.getName)
      .collect { case name(v) => v.toInt }
      .sorted
  }

  /** Sorted snapshot versions present (committed manifests only). */
  def versions(spark: SparkSession, tableDir: String): Seq[Int] =
    refVersions(spark, tableDir, None)

  private def readLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    txt.linesIterator.filter(_.nonEmpty).toSeq
  }

  /** The data files of `ref` at version `v` — one [[TableIndex.Entry]]
    * line per file after the version header, line-oriented to avoid
    * hand-rolled JSON parsing. Version 0 is the ref before its first commit:
    * empty on main, the fork point on a branch.
    */
  private def readManifest(spark: SparkSession, tableDir: String,
                           ref: Option[String], v: Int): Seq[TableIndex.Entry] =
    if (v > 0) readLines(fs(spark, tableDir), manifestPath(tableDir, ref, v)).drop(1)
      .map(TableIndex.Entry.parse)
    else ref.fold(Seq.empty[TableIndex.Entry])(b =>
      readManifest(spark, tableDir, None, branchBase(spark, tableDir, b)))

  // ---- the commit protocol (the Nessie/Iceberg optimistic-commit analog:
  // reference `docker-compose.yml:100-119` runs a Nessie catalog whose ref
  // update is a compare-and-swap; this is the same protocol over the
  // manifest store) ----------------------------------------------------

  /** CAS create-if-absent of a metadata file (a manifest or a branch ref):
    * stage the content to a hidden tmp file, then rename onto the final name
    * ONLY if nothing claimed that name first. A manifest's version number IS
    * the ref's commit sequence, so "rename-if-unchanged" degenerates to
    * "rename-if-absent": a writer that lost the race finds `v<N>.json` taken
    * and must re-read the new head.
    *
    * Atomicity of the publish: on HDFS, `rename` with an existing
    * destination fails atomically in the NameNode; on an object store you
    * would use a conditional PUT (`If-None-Match: *`); the local-FS
    * `RawLocalFileSystem` backing tests can overwrite on rename, so the
    * exists-check + rename pair is serialized through a per-table JVM lock —
    * the protocol (stage → check-sequence → publish-or-retry) is what scales,
    * the lock is only the local-FS stand-in for the missing atomic primitive.
    */
  private val casLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def casPublish(f: FileSystem, tableDir: String, p: Path,
                         lines: Seq[String]): Boolean = {
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString}.tmp")
    val out = f.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    val lock = casLocks.computeIfAbsent(tableDir, _ => new Object)
    val won = lock.synchronized { !f.exists(p) && f.rename(tmp, p) }
    if (!won) f.delete(tmp, false)
    won
  }

  /** CAS retries before a commit gives up, and the linear backoff step. */
  private val MaxRetries = 8
  private val BackoffMs = 25L

  /** The one commit: write `df` once into a fresh `data/<uuid>` dir (never
    * rewritten on retry), then [[publish]] its parquet files, with their
    * lengths and mtimes, on `ref`.
    */
  private def commitCore(df: DataFrame, tableDir: String, ref: Option[String],
                         append: Boolean, readVersion: Option[Int]): Int = {
    val dataDir = new Path(tableDir, s"data/${java.util.UUID.randomUUID()}")
    LocalFs.write(df).mode("errorifexists").parquet(dataDir.toString)
    val files = TableIndex.listEntries(df.sparkSession, new Path(tableDir), dataDir)(
      _.endsWith(".parquet"))
    publish(df.sparkSession, tableDir, ref, files, append, readVersion)
  }

  /** Publish `files` as the next version of `ref`: loop { read the head →
    * manifest = the head's files (if `append`) ++ `files` → CAS-create
    * head+1 }. An append merges cleanly against any interleaved commit, so
    * losing the race costs one manifest re-read; [[MaxRetries]] with linear
    * [[BackoffMs]] backoff bounds livelock under a commit storm.
    * `readVersion` is the snapshot the caller computed `files` from: if the
    * head is not that version the commit throws
    * `ConcurrentModificationException` instead of retrying, because
    * publishing would drop the other commit. Returns the version that
    * landed.
    */
  private def publish(spark: SparkSession, tableDir: String, ref: Option[String],
                      files: Seq[TableIndex.Entry], append: Boolean,
                      readVersion: Option[Int]): Int = {
    val f = fs(spark, tableDir)
    var attempt = 0
    while (attempt <= MaxRetries) {
      val head = refVersions(spark, tableDir, ref).lastOption.getOrElse(0)
      for (r <- readVersion if r != head)
        throw new java.util.ConcurrentModificationException(
          s"commit to ${ref.getOrElse("main")} of $tableDir was computed from " +
            s"v$r but the head is v$head")
      val carried = if (append) readManifest(spark, tableDir, ref, head) else Seq.empty
      val v = head + 1
      if (casPublish(f, tableDir, manifestPath(tableDir, ref, v),
          s"version=$v" +: (carried ++ files).map(_.line)))
        return v
      attempt += 1
      Thread.sleep(BackoffMs * attempt) // linear bounded backoff
    }
    throw new java.io.IOException(
      s"commit to $tableDir lost the CAS race $MaxRetries times; giving up")
  }

  /** Commit `df` as a new snapshot. `append = true` carries the head
    * snapshot's files forward; `false` is a logical overwrite (old files stay
    * on disk for time travel until expired). Concurrent appends all land
    * (no lost update). Returns the new version.
    */
  def commit(df: DataFrame, tableDir: String, append: Boolean = true): Int =
    commitCore(df, tableDir, None, append, None)

  /** Read a snapshot (default: latest). Time travel = pass an old version. */
  def read(spark: SparkSession, tableDir: String,
           version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed snapshots under $tableDir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v$v does not exist (have: $vs)")
    TableIndex.openFiles(spark, tableDir, readManifest(spark, tableDir, None, v))
  }

  /** MERGE INTO as a snapshot commit: read the head snapshot, apply the
    * key-dedup merge ([[graft.ops.Upsert]]), commit as a logical overwrite
    * computed from that head. The manifest CAS makes the merge atomic —
    * readers see the old or the new table, never a partial rewrite
    * (strictly stronger than the backup-swap file dance of
    * [[Promote.replace]]) — and a concurrent commit that lands
    * first makes this one throw instead of being overwritten. The pre-merge
    * snapshot stays time-travelable until expired. New data files land in a
    * fresh `data/<uuid>` directory, so the merge never overwrites files it
    * is still reading.
    */
  def upsert(incoming: DataFrame, tableDir: String, keys: Seq[String],
             precedence: org.apache.spark.sql.Column): Int = {
    val spark = incoming.sparkSession
    // PK NOT NULL, enforced loudly at the table boundary: the plain
    // Upsert operator follows SQL MERGE (null-key rows insert,
    // un-deduplicated), but a VERSIONED table's branch machinery is
    // key-join-based — mergeBranch's semi/anti joins never match NULL
    // keys, so identity-less rows admitted here would silently vanish at
    // the first branch merge. Reject them at write time instead, like any
    // primary-key constraint; the check scans only the incoming batch and
    // stops at the first offender.
    val nullKey = keys.map(org.apache.spark.sql.functions.col(_).isNull)
      .reduce(_ || _)
    require(incoming.filter(nullKey).limit(1).isEmpty,
      s"versioned upsert into $tableDir: key columns ${keys.mkString(",")} " +
        "must be non-null (PK constraint); route identity-less rows to a " +
        "DLQ before the keyed table")
    val head = versions(spark, tableDir).lastOption.getOrElse(0)
    val existing =
      if (head == 0) incoming.limit(0) else read(spark, tableDir, Some(head))
    val merged = graft.ops.Upsert.upsert(existing, incoming, keys, precedence, precedence)
    commitCore(merged, tableDir, None, append = false, readVersion = Some(head))
  }

  /** Change feed between two snapshots: rows only in `to` tagged `insert`,
    * rows only in `from` tagged `delete` (an update under [[upsert]] shows as
    * delete+insert of the key). `exceptAll` is bag semantics — duplicate rows
    * diff by multiplicity — and plans as a hash anti-join per side, so the
    * diff shuffles once per direction and never collects.
    */
  def snapshotDiff(spark: SparkSession, tableDir: String,
                   from: Int, to: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val a = read(spark, tableDir, Some(from))
    val b = read(spark, tableDir, Some(to))
    b.exceptAll(a).withColumn("__change", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("__change", lit("delete")))
  }

  // ---- named branches (the Nessie-catalog analog: reference
  // `config/flink/create.sql:1-13` pins a Nessie `main` ref; this is the
  // same named-ref surface over the manifest store) ---------------------

  /** A branch is a ref beside main: its commits are manifests
    * `_manifests/<branch>.v<K>.json` written by the same commit protocol,
    * and the ref itself is `_branches/<branch>`, recording the main
    * snapshot it forked from. All paths in every manifest are
    * tableDir-relative, so a fast-forward merge is ONE manifest CAS on main
    * that adopts the branch head's file list — zero data movement, exactly
    * the metadata-pointer semantics of a catalog ref update.
    */
  private def branchDir(tableDir: String) = new Path(tableDir, "_branches")

  /** Branch names with a committed ref file. */
  def branches(spark: SparkSession, tableDir: String): Seq[String] = {
    val f = fs(spark, tableDir)
    val bd = branchDir(tableDir)
    if (!f.exists(bd)) Seq.empty
    else f.listStatus(bd).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted
  }

  /** The main snapshot version a branch forked from. */
  def branchBase(spark: SparkSession, tableDir: String, name: String): Int = {
    val f = fs(spark, tableDir)
    val p = new Path(branchDir(tableDir), name)
    require(f.exists(p), s"branch $name does not exist")
    readLines(f, p).collectFirst { case s if s.startsWith("base=") =>
      s.stripPrefix("base=").toInt }.get
  }

  /** Local commit numbers on a branch (empty until the first branch commit). */
  def branchVersions(spark: SparkSession, tableDir: String, name: String): Seq[Int] =
    refVersions(spark, tableDir, Some(name))

  /** Create `name` from the current main head. Metadata only — the branch
    * starts reading the fork point's files. The ref file is CAS-created, so
    * of two concurrent creators exactly one wins.
    */
  def createBranch(spark: SparkSession, tableDir: String, name: String): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"), s"illegal branch name: $name")
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no committed snapshots under $tableDir to branch from")
    val base = vs.last
    require(casPublish(fs(spark, tableDir), tableDir, new Path(branchDir(tableDir), name),
      Seq(s"branch=$name", s"base=$base")), s"branch $name already exists")
  }

  /** Commit `df` to a branch. `append = true` carries the branch head's
    * files forward (the fork point's before the first branch commit).
    * Returns the branch-local commit number.
    */
  def commitToBranch(df: DataFrame, tableDir: String, name: String,
                     append: Boolean): Int = {
    branchBase(df.sparkSession, tableDir, name) // asserts the branch exists
    commitCore(df, tableDir, Some(name), append, None)
  }

  /** Read a branch head. A branch with no local commits reads its fork
    * point.
    */
  def readBranch(spark: SparkSession, tableDir: String, name: String): DataFrame =
    TableIndex.openFiles(spark, tableDir, readManifest(spark, tableDir, Some(name),
      branchVersions(spark, tableDir, name).lastOption.getOrElse(0)))

  /** Keys whose rows changed (insert, update, or delete) between two table
    * states — bag-semantics diff per side, keys deduped. Hash anti-joins,
    * one shuffle per direction, never collects.
    */
  private def changedKeys(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    b.exceptAll(a).select(keys.map(col): _*)
      .union(a.exceptAll(b).select(keys.map(col): _*)).distinct()
  }

  /** Keys both main and `name` modified since the fork — the merge
    * conflicts. Empty ⇒ [[mergeBranch]] will succeed.
    */
  def branchConflicts(spark: SparkSession, tableDir: String, name: String,
                      keys: Seq[String]): DataFrame = {
    val base = read(spark, tableDir, Some(branchBase(spark, tableDir, name)))
    val mainChanged = changedKeys(base, read(spark, tableDir), keys)
    val branchChanged = changedKeys(base, readBranch(spark, tableDir, name), keys)
    mainChanged.join(branchChanged, keys, "inner")
  }

  /** Merge a branch into main. Fast-forward when main has not advanced past
    * the fork point: the new main manifest simply adopts the branch head's
    * file list (metadata-only, no data IO — the catalog-ref-update fast
    * path). Diverged: key-level three-way merge — main rows keep every key
    * the branch didn't touch, branch rows win for keys it did (inserts and
    * updates carry over; branch deletes drop the key) — REFUSED with the
    * offending keys if both sides modified the same key. Either way the
    * commit is computed from the main head it read, so a main commit that
    * lands first makes the merge throw `ConcurrentModificationException`.
    * Returns the new main version. The pre-merge main head stays
    * time-travelable.
    */
  def mergeBranch(spark: SparkSession, tableDir: String, name: String,
                  keys: Seq[String]): Int = {
    val base = branchBase(spark, tableDir, name)
    val mainHead = versions(spark, tableDir).last
    if (mainHead == base) {
      // fast-forward: adopt the branch head's files as the next main
      // snapshot (a branch with no commits merges to a no-op new snapshot)
      val files = readManifest(spark, tableDir, Some(name),
        branchVersions(spark, tableDir, name).lastOption.getOrElse(0))
      publish(spark, tableDir, None, files, append = false, readVersion = Some(mainHead))
    } else {
      // one diff pass each side: branchTouched feeds both the conflict
      // check and the merge itself (branchConflicts would recompute it)
      val baseDf = read(spark, tableDir, Some(base))
      val branchHead = readBranch(spark, tableDir, name)
      val main = read(spark, tableDir, Some(mainHead))
      val branchTouched = changedKeys(baseDf, branchHead, keys)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val sample = changedKeys(baseDf, main, keys)
          .join(branchTouched, keys, "inner").limit(5).collect()
        if (sample.nonEmpty)
          throw new IllegalStateException(
            s"merge of branch $name conflicts on keys: " +
              sample.map(_.toSeq.mkString("(", ",", ")")).mkString(", "))
        val untouched = main.join(branchTouched, keys, "left_anti")
        val fromBranch = branchHead.join(branchTouched, keys, "left_semi")
        commitCore(untouched.unionByName(fromBranch), tableDir, None,
          append = false, readVersion = Some(mainHead))
      } finally { branchTouched.unpersist(); () }
    }
  }

  /** Delete a branch ref and its manifests; its data files become orphans
    * for [[removeOrphanFiles]].
    */
  def dropBranch(spark: SparkSession, tableDir: String, name: String): Unit = {
    val f = fs(spark, tableDir)
    branchVersions(spark, tableDir, name).foreach(k =>
      f.delete(manifestPath(tableDir, Some(name), k), false))
    f.delete(new Path(branchDir(tableDir), name), false)
    ()
  }

  /** M3 `expire_snapshots`: drop all but the newest `keepLast` manifests.
    * Data files shared with retained snapshots stay; newly-unreferenced files
    * become orphans for [[removeOrphanFiles]]. Metadata-only — O(#snapshots).
    */
  def expireSnapshots(spark: SparkSession, tableDir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val f = fs(spark, tableDir)
    val vs = versions(spark, tableDir)
    // a live branch's fork point must stay readable (its merge base and the
    // head of a commit-less branch) — the ref pins the snapshot, as in any
    // catalog with named refs
    val pinned = branches(spark, tableDir)
      .map(b => branchBase(spark, tableDir, b)).toSet
    val expired = vs.dropRight(keepLast).filterNot(pinned)
    expired.foreach(v => f.delete(manifestPath(tableDir, None, v), false))
    expired
  }

  /** Age below which [[removeOrphanFiles]] keeps an unreferenced file:
    * three days, Iceberg's default `older_than`.
    */
  private val OrphanMinAgeMs = 3L * 24 * 60 * 60 * 1000

  /** M2 `remove_orphan_files`: delete data files no retained manifest
    * references — crash debris, failed writes and expired-snapshot
    * remnants. [[OrphanMinAgeMs]] protects data of in-flight commits (files
    * younger than the horizon are kept even if unreferenced), exactly
    * Iceberg's `older_than` guard. A commit's `data/<uuid>` dir goes as a whole, with
    * its `_SUCCESS` marker and checksums, once none of its files is
    * referenced and none is younger than the horizon; otherwise its
    * unreferenced old files go one by one (a checksummed `FileSystem`, such
    * as the local one, deletes each file's `.crc` sidecar with it).
    * Returns the deleted parquet files, relative to `tableDir`.
    */
  def removeOrphanFiles(spark: SparkSession, tableDir: String): Seq[String] = {
    val f = fs(spark, tableDir)
    val referenced = (None +: branches(spark, tableDir).map(Some(_))).flatMap(ref =>
      refVersions(spark, tableDir, ref).flatMap(v => readManifest(spark, tableDir, ref, v)))
      .map(_.path).toSet
    val dataRoot = new Path(tableDir, "data")
    if (!f.exists(dataRoot)) return Seq.empty
    val root = new Path(tableDir)
    val horizon = System.currentTimeMillis() - OrphanMinAgeMs
    f.listStatus(dataRoot).toSeq.flatMap { entry =>
      val files = TableIndex.listEntries(spark, root, entry.getPath)(_ => true)
      // only data files: committer markers (_SUCCESS) are not manifest-tracked
      val orphans = files.filter(e => e.path.endsWith(".parquet") &&
        !referenced.contains(e.path) && e.mtime <= horizon)
      val parquet = files.count(_.path.endsWith(".parquet"))
      if (entry.isDirectory && orphans.size == parquet &&
          (entry.getModificationTime +: files.map(_.mtime)).forall(_ <= horizon))
        f.delete(entry.getPath, true)
      else orphans.foreach(e => f.delete(new Path(root, e.path), false))
      orphans.map(_.path)
    }.sorted
  }
}
