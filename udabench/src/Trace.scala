package org.apache.spark.udabench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced mode reads around each replayed operation:
  * Spark jobs, stages, tasks and shuffle bytes from a SparkListener,
  * and Catalyst phase times (analysis, optimization, planning) from
  * every finished query execution's planning tracker. Lives in the
  * `org.apache.spark` namespace only to reach the listener bus's
  * drain, so counts taken after an operation include all its events.
  */
final class Trace(spark: SparkSession) {
  val jobs, stages, tasks, shuffleBytes = new AtomicLong
  val analysisNs, optimizationNs, planningNs = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ns(name: String): Long =
      p.get(name).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
    analysisNs.addAndGet(ns("analysis"))
    optimizationNs.addAndGet(ns("optimization"))
    planningNs.addAndGet(ns("planning"))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** wait until every event posted so far has reached the listeners */
  def drain(): Unit = Trace.drain(spark.sparkContext)

  /** all counters, after a drain */
  def snapshot(): Map[String, Long] = {
    drain()
    Map("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "shuffle_bytes" -> shuffleBytes.get,
      "analysis_ns" -> analysisNs.get, "optimization_ns" -> optimizationNs.get,
      "planning_ns" -> planningNs.get)
  }
}

object Trace {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}
