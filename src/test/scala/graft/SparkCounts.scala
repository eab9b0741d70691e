package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusBridge

/** What the Spark listener bus delivered while a test body ran. */
case class SparkCounts(jobs: Int, maxTaskShuffleRecordsRead: Long)

/** Listener-based counts for tests, with no sleeps. The bus is drained
  * before the listener is added, so earlier actions' events never
  * reach it, and again after the body returns, so every event the
  * body posted has been counted.
  */
object SparkCounts {

  /** wait until every listener has seen every event posted so far */
  def drain(spark: SparkSession): Unit =
    ListenerBusBridge.waitUntilEmpty(spark.sparkContext)

  /** run `body`; return its result and what it made Spark do */
  def of[T](spark: SparkSession)(body: => T): (T, SparkCounts) = {
    val jobs = new AtomicInteger(0)
    val maxRead = new AtomicLong(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          maxRead.accumulateAndGet(
            m.shuffleReadMetrics.recordsRead, (a, b) => math.max(a, b))
          ()
        }
    }
    val sc = spark.sparkContext
    drain(spark)
    sc.addSparkListener(l)
    try {
      val r = body
      drain(spark)
      (r, SparkCounts(jobs.get(), maxRead.get()))
    } finally sc.removeSparkListener(l)
  }

  /** Spark jobs `body` started */
  def jobs(spark: SparkSession)(body: => Any): Int = of(spark)(body)._2.jobs
}
