package graft

import java.nio.file.{Files, LinkOption, Path}

/** Per-query scratch registry. Query builders register the
  * intermediate frames/graphs they `.cache()` and the private stores
  * they create; the harness mains (Bench, Verify, PlanDump) release
  * them after consuming each query's result, so one registry entry's
  * scratch never charges the next (the BENCH attribution decay of
  * round 5: write-path entries left cached blocks + GC pressure
  * behind, and dedup_exact's captured time grew monotonically while
  * its own plan was unchanged). Memoized fixtures and shared results
  * are [[Memo]]'s, not tracked here.
  *
  * Unpersisting is best-effort and non-blocking: a consumed result no
  * longer needs its scratch, and an unpersisted-but-referenced frame
  * merely recomputes, so correctness never depends on timing.
  */
object Scratch {
  private val releases = scala.collection.mutable.Buffer.empty[() => Unit]
  private val dirs = scala.collection.mutable.Buffer.empty[Path]

  /** register a cached Dataset/DataFrame for end-of-query release */
  def track[T <: org.apache.spark.sql.Dataset[_]](d: T): T = synchronized {
    releases += (() => { d.unpersist(blocking = false); () })
    d
  }

  /** register an arbitrary release action (GraphX graphs, RDDs) */
  def trackRelease(f: () => Unit): Unit = synchronized { releases += f }

  /** a temporary directory for one query's private store, deleted at
    * the next [[release]] */
  def tempDir(prefix: String): String = synchronized {
    val p = Files.createTempDirectory(prefix)
    dirs += p
    p.toString
  }

  /** unpersist everything registered since the last release, then
    * delete the private stores' directories */
  def release(): Unit = synchronized {
    releases.foreach(f => try f() catch { case _: Throwable => () })
    releases.clear()
    dirs.foreach(deleteTree)
    dirs.clear()
  }

  /** best-effort recursive delete */
  private[graft] def deleteTree(p: Path): Unit =
    try {
      if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
        val st = Files.list(p)
        try st.forEach(deleteTree(_)) finally st.close()
      }
      Files.deleteIfExists(p); ()
    } catch { case _: Throwable => () }
}
