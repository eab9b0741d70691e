package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Guards the 100-TB plan shape: queries that used to rank through an
  * unpartitioned Window (empty partition spec ⇒ every row in ONE task)
  * must never regress to it. ScaleRank (range shuffle + zipWithIndex)
  * is the sanctioned global-rank shape.
  */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(flatten) ++
      p.subqueries.flatMap(flatten)
  }

  private def unpartitionedWindows(df: DataFrame): Seq[WindowExec] =
    flatten(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  test("e_rfm plans no unpartitioned WindowExec") {
    val df = graft.queries.EventOps.defs("e_rfm")(spark, dir)
    assert(unpartitionedWindows(df).isEmpty)
    assert(df.count() > 0)
  }

  test("p_curriculum plans no unpartitioned WindowExec") {
    val df = graft.queries.PackOps.defs("p_curriculum")(spark, dir)
    assert(unpartitionedWindows(df).isEmpty)
    assert(df.count() > 0)
  }

  test("text pipelines plan no explicit pre-explode repartition") {
    // the keyed repartition($"doc_id") ahead of an explode bought only
    // balance the next shuffle (distinct/groupBy) provides anyway —
    // deleted; pin the logical plans free of explicit Repartition
    // nodes so they never regress (framework shuffles from groupBy /
    // join don't plan Repartition nodes, so this is exact)
    for (q <- Seq("dedup_minhash_lsh", "t_ngram_stats", "t_dup_spans",
        "dedup_simhash")) {
      val df = graft.queries.TextOps.defs(q)(spark, dir)
      val reparts = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionOperation => r
      }
      assert(reparts.isEmpty, s"$q plans explicit repartitions: $reparts")
      assert(df.count() >= 0)
    }
  }

  test("every registry entry plans scale-safe (whole-registry guard)") {
    // the guard that keeps FUTURE entries scale-true by construction:
    // after executing each of the 180+ registry queries at sf0.001,
    // its final (AQE-resolved) plan and subqueries must contain
    //  (a) no WindowExec with an empty partition spec — a global
    //      window funnels every row into ONE task at any scale;
    //  (b) no CartesianProductExec whose BOTH inputs exceed a row
    //      bound — an unbounded all-pairs join. Tiny sides (driver
    //      configs, stats rows, probe lists) are legitimate.
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val df =
        try graft.SparkEntry.queries(name)(spark, dir)
        catch { case e: Throwable =>
          failures += s"$name: define failed: ${e.getMessage}"; null }
      if (df != null) {
        try {
          df.write.mode("overwrite").format("noop").save()
          val plans = flatten(df.queryExecution.executedPlan)
          plans.foreach {
            case w: WindowExec if w.partitionSpec.isEmpty =>
              failures += s"$name: unpartitioned WindowExec"
            case c: CartesianProductExec =>
              def rows(p: SparkPlan): Long = flatten(p)
                .flatMap(_.metrics.get("numOutputRows").map(_.value))
                .headOption.getOrElse(0L)
              val (l, r) = (rows(c.left), rows(c.right))
              if (l > 1000 && r > 1000)
                failures += s"$name: CartesianProduct ${l}x$r rows"
            case _ => ()
          }
        } catch { case e: Throwable =>
          failures += s"$name: execute failed: ${e.getMessage}" }
      }
      // as Bench and Verify do: drop the entry's cached frames and
      // private stores once its result is consumed
      Scratch.release()
    }
    assert(failures.isEmpty,
      s"${failures.size} offenders:\n${failures.mkString("\n")}")
  }

  test("CALL { } IN TRANSACTIONS executes no unpartitioned window") {
    // the batching runs inside the planner (writes), so watch every
    // execution fired while the statement runs via a listener
    val offenders = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        flatten(qe.executedPlan).foreach {
          case w: WindowExec if w.partitionSpec.isEmpty =>
            offenders.add(w.simpleStringWithNodeId())
          case _ => ()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val store = new graft.store.GraphStore(
        Memo.tempDir("graft-planshape"),
        spark, 2)
      graft.cypher.CypherEngine.query(store,
        """UNWIND range(1, 57) AS i
          |CALL {
          |  WITH i
          |  CREATE (:TxNode {gid: 'tx:' + toString(i)})
          |} IN TRANSACTIONS OF 10 ROWS""".stripMargin).collect()
      val n = graft.cypher.CypherEngine.query(store,
        "MATCH (n:TxNode) RETURN count(n) AS c")
        .collect()(0).getLong(0)
      assert(n == 57L)
      // listener callbacks are async: wait until the bus has
      // delivered every execution the statement fired
      SparkCounts.drain(spark)
      assert(offenders.isEmpty, s"unpartitioned windows: $offenders")
    } finally spark.listenerManager.unregister(listener)
  }
}
