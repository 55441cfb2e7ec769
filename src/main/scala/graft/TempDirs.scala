package graft

import java.nio.file.{Files, Path}

/** Per-invocation temp-dir registry (ADVICE r12: `streamLateQ` litter).
  *
  * Registry queries that stage per-RUN state (a streaming source copy +
  * checkpoint + sink, a versioned-table commit dir, a format round-trip
  * dir) previously created a fresh `Files.createTempDirectory` on every
  * invocation and never deleted it, so repeated Bench/Verify passes
  * accumulated unbounded /tmp litter across processes. Two rules fix it
  * without touching what is measured:
  *
  *  - every run dir is registered here and recursively deleted by ONE JVM
  *    shutdown hook (bounds litter to zero across processes);
  *  - a dir created under the same `tag` EAGERLY deletes its predecessor
  *    (bounds within-process growth to one live dir per tag). Callers must
  *    therefore fully evaluate any lazy frame reading a tagged dir before
  *    re-invoking the same query — true of Bench (fullyEvaluate + timer)
  *    and Verify (parquet write) by construction.
  *
  * Per-SF-dir FIXTURE dirs are deliberately NOT routed through
  * [[runDir]]'s delete-on-reuse — they are built once and re-read across
  * passes. They come from [[fixtureDir]], which only registers them for
  * exit cleanup; in the main tree its one caller is [[Fixtures]], the memo
  * that builds each fixture once.
  */
object TempDirs {
  private val byTag = new scala.collection.concurrent.TrieMap[String, Path]()
  private val all = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      all.forEach(p => deleteRecursively(p))
    }))
  }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { Files.deleteIfExists(f); () })
        finally s.close()
      }
    } catch { case _: Throwable => () } // best-effort: never fail a query over cleanup

  /** A fresh run dir for `tag`, deleting the tag's previous dir first.
    * The delete runs on a daemon thread: `runDir` is called inside timed
    * query bodies, and reclaiming the PREVIOUS run's checkpoint/sink tree
    * (dozens of small files) is cleanup, not the operator under test. The
    * old dir is atomically renamed out of the way first, so the new run
    * can never collide with a half-deleted tree.
    */
  def runDir(tag: String): Path = {
    byTag.remove(tag).foreach { old =>
      all.remove(old)
      val doomed = try {
        val d = old.resolveSibling(old.getFileName.toString + ".del")
        Files.move(old, d); d
      } catch { case _: Throwable => old }
      val t = new Thread(() => deleteRecursively(doomed))
      t.setDaemon(true)
      t.start()
    }
    val p = Files.createTempDirectory(s"graft_${tag}_")
    byTag.put(tag, p)
    all.add(p)
    p
  }

  /** A fresh per-process FIXTURE dir (no delete-on-reuse — memoized
    * callers re-read it across passes), reclaimed only at JVM exit.
    */
  def fixtureDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft_${tag}_")
    all.add(p)
    p.toString
  }
}
