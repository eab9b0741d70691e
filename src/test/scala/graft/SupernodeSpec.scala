package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherEngine
import graft.store.GraphStore

/** Supernode contract for collect-class aggregates (SURVEY §7.4): a
  * 100k-degree hub's COLLECT completes WITHOUT any single task
  * funneling the group's raw rows (Spark's partial aggregation merges
  * per-partition partial lists — listener-asserted max shuffle-read
  * records per task), and a group past `graft.collect.maxSize` raises
  * a targeted error instead of OOMing the merge task.
  */
class SupernodeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.get

  private lazy val st: GraphStore = {
    val s = new GraphStore(
      Memo.tempDir("graft-super"), spark, 8)
    s.localizeTinyTables = false // keep the at-scale distributed plan
    val propsT = GraphStore.nodeSchema("props").dataType
    val xlT = GraphStore.nodeSchema("xlabels").dataType
    val spokes = spark.range(100000).select(
      concat(lit("s:"), col("id")).as("gid"),
      lit("Spoke").as("label"), lit("t").as("source"),
      lit(null).cast(propsT).as("props"),
      lit(1L).as("recorded"), lit(null).cast(xlT).as("xlabels"))
    val hub = spark.range(1).select(
      lit("h:0").as("gid"), lit("Hub").as("label"), lit("t").as("source"),
      lit(null).cast(propsT).as("props"),
      lit(1L).as("recorded"), lit(null).cast(xlT).as("xlabels"))
    val edges = spark.range(100000).select(
      lit("h:0").as("src"), concat(lit("s:"), col("id")).as("dst"),
      lit("X").as("relType"), lit("t").as("source"),
      lit(1L).as("recorded"))
    s.commit(spokes.unionByName(hub), edges)
    s
  }

  test("100k-degree COLLECT completes with no single-task funnel") {
    val store = st // materialize the fixture BEFORE metering tasks
    val (n, counts) = SparkCounts.of(spark) {
      CypherEngine.query(store,
        """MATCH (h:Hub)-[:X]->(m)
          |RETURN h.gid AS g, size(collect(m.gid)) AS n""".stripMargin)
        .collect().head.getLong(1)
    }
    val maxRead = counts.maxTaskShuffleRecordsRead
    assert(n == 100000L)
    // the hub's 100k rows never converge on ONE aggregation task:
    // the expand joins broadcast (no shuffle of the edge rows at
    // all), and the partial collect means the final agg task reads
    // one pre-merged row per map partition — max shuffle-read
    // records per task stays orders of magnitude below the degree
    assert(maxRead <= 20000,
      s"a task read $maxRead shuffle records — single-task funnel")
  }

  test("a group past graft.collect.maxSize raises a targeted error") {
    spark.conf.set("graft.collect.maxSize", "1000")
    try {
      val e = intercept[Exception] {
        CypherEngine.query(st,
          """MATCH (h:Hub)-[:X]->(m)
            |RETURN h.gid AS g, collect(m.gid) AS xs""".stripMargin)
          .collect()
      }
      assert(e.getMessage.contains("graft.collect.maxSize"),
        s"unexpected error: ${e.getMessage}")
      // pattern comprehensions honor the same contract
      val e2 = intercept[Exception] {
        CypherEngine.query(st,
          "MATCH (h:Hub) RETURN [(h)-[:X]->(m) | m.gid] AS xs")
          .collect()
      }
      assert(e2.getMessage.contains("graft.collect.maxSize"),
        s"unexpected error: ${e2.getMessage}")
    } finally spark.conf.unset("graft.collect.maxSize")
    // back at the default cap the same queries complete
    assert(CypherEngine.query(st,
      "MATCH (h:Hub) RETURN size([(h)-[:X]->(m) | m.gid]) AS n")
      .collect().head.getLong(0) == 100000L)
  }
}
