package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The registry's cross-query memo, with two lifetimes:
  *  - [[fixture]]: stores, indexes, trained artifacts and re-layouts.
  *    They live for the JVM and may be warmed before timing; their
  *    directories ([[tempDir]]) are deleted at JVM exit.
  *  - [[result]]: work one registry entry declares and a sibling entry
  *    shares. [[clearResults]] drops them (and frees the
  *    `localCheckpoint` blocks behind dropped frames), so every timed
  *    entry pays its own declared work.
  * Per-entry scratch (cached frames, private stores) is [[Scratch]].
  *
  * A value is built at most once per key. Builds nest (a result build
  * reads a fixture), so the map only hands out one slot per key and
  * the build runs under that slot's lock. A build that throws leaves
  * its slot empty, and the next call builds again.
  */
object Memo {
  private final class Slot {
    private var value: Option[Any] = None
    def get(build: => Any): Any = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
    def built: Option[Any] = synchronized(value)
  }

  private val fixtures, results = new ConcurrentHashMap[Seq[Any], Slot]()

  private def memo[V](slots: ConcurrentHashMap[Seq[Any], Slot],
      key: Seq[Any], build: => V): V =
    slots.computeIfAbsent(key, _ => new Slot).get(build).asInstanceOf[V]

  /** the JVM-lived value under `key` (name the site first: `key` is
    * shared by every fixture memo) */
  def fixture[V](key: Any*)(build: => V): V = memo(fixtures, key, build)

  /** the value under `key` until the next [[clearResults]] */
  def result[V](key: Any*)(build: => V): V = memo(results, key, build)

  /** drop every result memo, unpersisting the checkpoint blocks of the
    * frames it held */
  def clearResults(): Unit =
    results.keySet.asScala.toList.foreach { k =>
      Option(results.remove(k)).flatMap(_.built).foreach(release)
    }

  /** a `localCheckpoint`'s RDD sits in the plan as a LogicalRDD:
    * unpersisting THAT frees the block data (a new `.rdd` wrapper would
    * not) */
  private def release(v: Any): Unit = v match {
    case d: Dataset[_] =>
      d.queryExecution.optimizedPlan.collect { case lr: LogicalRDD => lr.rdd }
        .foreach(_.unpersist(false))
    case (a, b) => release(a); release(b)
    case _ => ()
  }

  private val fixtureDirs = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    fixtureDirs.forEach(Scratch.deleteTree)))

  /** a temporary directory for a fixture store, deleted at JVM exit */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    fixtureDirs.add(p)
    p.toString
  }
}
