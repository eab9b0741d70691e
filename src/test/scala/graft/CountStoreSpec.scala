package graft


import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherEngine
import graft.store.GraphStore

/** The count-store fast path: `MATCH (n:L) RETURN count(n)` /
  * `MATCH ()-[r:T]->() RETURN count(r)` answered in O(1) from the
  * per-partition row counts the commit maintains beside the manifest
  * — ZERO Spark jobs for the routed shape — with scan fallback on
  * anything else (predicates, uncommitted session writes, secondary
  * labels), and counts that track every mutation class through
  * commit (create / delete / full-sync truncate).
  */
class CountStoreSpec extends AnyFunSuite {
  private val spark = SparkTestSession.get

  private def newStore(tag: String): GraphStore =
    new GraphStore(
      Memo.tempDir(s"graft-cnt-$tag"), spark, 4)

  private def one(st: GraphStore, q: String): Long =
    CypherEngine.query(st, q).collect().head.getLong(0)

  private def seed(st: GraphStore): Unit = {
    val sess = CypherEngine.session(st)
    (1 to 7).foreach(i =>
      sess.run(s"CREATE (:Person {gid: 'p:$i', age: $i})").collect())
    (1 to 3).foreach(i =>
      sess.run(s"CREATE (:City {gid: 'c:$i'})").collect())
    (1 to 5).foreach(i => sess.run(
      s"""MATCH (a:Person {gid: 'p:$i'}), (b:City {gid: 'c:${i % 3 + 1}'})
         |CREATE (a)-[:LIVES_IN]->(b)""".stripMargin).collect())
    (1 to 2).foreach(i => sess.run(
      s"""MATCH (a:Person {gid: 'p:$i'}), (b:Person {gid: 'p:${i + 1}'})
         |CREATE (a)-[:KNOWS]->(b)""".stripMargin).collect())
    sess.commit()
  }

  test("routed count shapes answer with zero Spark jobs") {
    val st = newStore("zero")
    seed(st)
    var got = Seq.empty[Long]
    val jobs = SparkCounts.jobs(spark) {
      got = Seq(
        one(st, "MATCH (n:Person) RETURN count(n) AS n"),
        one(st, "MATCH (n:City) RETURN count(*) AS n"),
        one(st, "MATCH (n) RETURN count(n) AS n"),
        one(st, "MATCH (n:Person|City) RETURN count(n) AS n"),
        one(st, "MATCH ()-[r:LIVES_IN]->() RETURN count(r) AS n"),
        one(st, "MATCH ()-[r:KNOWS]->() RETURN count(r) AS n"),
        one(st, "MATCH ()-[]->() RETURN count(*) AS n"),
        one(st, "MATCH ()<-[r:KNOWS]-() RETURN count(r) AS n"),
        // literal tag column (the dashboard shape): a grouping key,
        // routed only because the count is positive
        CypherEngine.query(st,
          "MATCH (n:Person) RETURN 'people' AS kind, count(n) AS n")
          .collect().head.getLong(1),
        // uncorrelated COUNT { } subqueries — pattern and full-body
        // forms — resolve to the count-store constant
        one(st, "RETURN COUNT { (n:Person) } AS n"),
        one(st, "RETURN COUNT { MATCH (n:Person) } AS n"),
        one(st, "RETURN COUNT { ()-[r:LIVES_IN]->() } AS n"),
        one(st, "RETURN COUNT { (:Person)-[:LIVES_IN]->() } AS n"))
    }
    assert(got == Seq(7L, 3L, 10L, 10L, 5L, 2L, 7L, 2L, 7L,
      7L, 7L, 5L, 5L))
    assert(jobs == 0, s"count-store route ran $jobs Spark jobs")
    // zero matches under a literal grouping key = zero GROUPS: the
    // shape declines the fast path and the scan answers empty
    assert(CypherEngine.query(st,
      "MATCH (n:Nobody) RETURN 'none' AS kind, count(n) AS n")
      .collect().isEmpty)
  }

  test("fast counts equal the scan plan's answer") {
    val st = newStore("parity")
    seed(st)
    // the WHERE forces the ordinary scan plan; `age IS NOT NULL OR
    // true` is tautological so both count the same rows
    assert(one(st, "MATCH (n:Person) RETURN count(n) AS n") ==
      one(st,
        "MATCH (n:Person) WHERE n.age IS NOT NULL OR true " +
          "RETURN count(n) AS n"))
    assert(one(st, "MATCH ()-[r:LIVES_IN]->() RETURN count(r) AS n") ==
      one(st,
        "MATCH ()-[r:LIVES_IN]->() WHERE r.source IS NULL OR true " +
          "RETURN count(r) AS n"))
    assert(one(st, "MATCH (n) RETURN count(n) AS n") ==
      one(st, "MATCH (n) WHERE n.gid IS NOT NULL RETURN count(n) AS n"))
  }

  test("counts track deletes and stub creation through commit") {
    val st = newStore("mut")
    seed(st)
    // an edge to a nonexistent target creates an unlabeled stub node
    CypherEngine.query(st,
      """MATCH (a:Person {gid: 'p:1'})
        |CREATE (a)-[:VISITED]->(:Ghost {gid: 'g:1'})""".stripMargin)
      .collect()
    val sess = CypherEngine.session(st)
    sess.run("MATCH (n:Person {gid: 'p:7'}) DETACH DELETE n").collect()
    sess.commit()
    assert(one(st, "MATCH (n:Person) RETURN count(n) AS n") == 6L)
    assert(one(st, "MATCH ()-[r:VISITED]->() RETURN count(r) AS n") == 1L)
    // total includes the Ghost2 node created by the CREATE statement
    assert(one(st, "MATCH (n) RETURN count(n) AS n") ==
      one(st, "MATCH (n) WHERE n.gid IS NOT NULL RETURN count(n) AS n"))
  }

  test("session overlay and predicates fall back to the scan") {
    val st = newStore("sess")
    seed(st)
    val sess = CypherEngine.session(st)
    sess.run("CREATE (:Person {gid: 'p:99'})").collect()
    // uncommitted write in view: the count must include it (served by
    // the scan over the session's working frame, not the stale sidecar)
    assert(sess.run("MATCH (n:Person) RETURN count(n) AS n")
      .collect().head.getLong(0) == 8L)
    sess.commit()
    assert(one(st, "MATCH (n:Person) RETURN count(n) AS n") == 8L)
    // a predicate keeps the ordinary plan and its answer
    assert(one(st,
      "MATCH (n:Person) WHERE n.age >= 3 RETURN count(n) AS n") == 5L)
  }

  test("secondary labels bail to the scan and stay correct") {
    val st = newStore("xlab")
    seed(st)
    val sess = CypherEngine.session(st)
    sess.run("MATCH (n:Person {gid: 'p:1'}) SET n:City").collect()
    sess.commit()
    // City is now a secondary label somewhere: membership spans
    // partitions, so the fast path declines and the scan answers
    assert(one(st, "MATCH (n:City) RETURN count(n) AS n") == 4L)
    // Person is still purely primary: fast path, still exact
    assert(one(st, "MATCH (n:Person) RETURN count(n) AS n") == 7L)
  }

  test("one-sided labeled relationship counts: zero jobs, scan parity") {
    val st = newStore("lt")
    seed(st)
    var got = Seq.empty[Long]
    val jobs = SparkCounts.jobs(spark) {
      got = Seq(
        one(st, "MATCH (:Person)-[r:LIVES_IN]->() RETURN count(r) AS n"),
        one(st, "MATCH ()-[r:LIVES_IN]->(:City) RETURN count(r) AS n"),
        one(st, "MATCH (:Person)-[r]->() RETURN count(r) AS n"),
        one(st, "MATCH ()<-[r:KNOWS]-(:Person) RETURN count(r) AS n"),
        one(st, "MATCH (:City)-[r]->() RETURN count(*) AS n"),
        one(st,
          "MATCH (:Person|City)-[r:LIVES_IN]->() RETURN count(r) AS n"))
    }
    assert(got == Seq(5L, 5L, 7L, 2L, 0L, 5L))
    assert(jobs == 0, s"one-sided count route ran $jobs Spark jobs")
    // scan parity (the tautological WHERE forces the ordinary plan)
    assert(one(st,
      "MATCH (:Person)-[r:LIVES_IN]->() WHERE r.source IS NULL OR true " +
        "RETURN count(r) AS n") == 5L)
    assert(one(st,
      "MATCH ()-[r:LIVES_IN]->(:City) WHERE r.source IS NULL OR true " +
        "RETURN count(r) AS n") == 5L)
    // BOTH-sided labels are not a count-store entry (as in Neo4j):
    // the scan answers, and agrees
    assert(one(st,
      "MATCH (:Person)-[r:LIVES_IN]->(:City) RETURN count(r) AS n") == 5L)
  }

  test("lt counts follow stub promotion (label churn over old edges)") {
    val st = newStore("ltpromo")
    val s2 = spark
    import s2.implicits._
    val batch1 = (1 to 3).map(i => graft.model.Entity(s"a:$i",
      refs = Map("http://g/rel#r" -> Seq(s"b:$i")))).toDS()
    graft.ops.GraphMerge.applyBatch(st, "ds", "A", batch1)
    assert(one(st, "MATCH (:A)-[r:r]->() RETURN count(r) AS n") == 3L)
    // targets exist only as UNLABELED stubs: the labeled in-count is 0
    assert(one(st, "MATCH ()-[r:r]->(:B) RETURN count(r) AS n") == 0L)
    // promotion: the second dataset labels the stubs — the in-counts
    // must follow the label churn over edges the commit never touched
    val batch2 = (1 to 3).map(i => graft.model.Entity(s"b:$i")).toDS()
    graft.ops.GraphMerge.applyBatch(st, "ds2", "B", batch2)
    assert(one(st, "MATCH ()-[r:r]->(:B) RETURN count(r) AS n") == 3L)
    assert(one(st, "MATCH (:A)-[r:r]->() RETURN count(r) AS n") == 3L)
    // deletion cascades out of both sides' counts
    val sess = CypherEngine.session(st)
    sess.run("MATCH (n:B {gid: 'b:1'}) DETACH DELETE n").collect()
    sess.commit()
    assert(one(st, "MATCH ()-[r:r]->(:B) RETURN count(r) AS n") == 2L)
    assert(one(st, "MATCH (:A)-[r:r]->() RETURN count(r) AS n") == 2L)
    assert(one(st, "MATCH ()-[r:r]->() RETURN count(r) AS n") == 2L)
  }

  test("lt delta paths agree: driver-side, distributed, and recount") {
    // the same promotion/deletion sequence through each maintenance
    // path — the driver-side cap-collect (default), the distributed
    // twin (cap forced to 0), and the tiny-store recount — must land
    // identical sidecar counts
    def run(tag: String,
        hook: () => Unit, unhook: () => Unit): Seq[Long] = {
      hook()
      try {
        val st = newStore(s"ltpath-$tag")
        val s2 = spark
        import s2.implicits._
        graft.ops.GraphMerge.applyBatch(st, "ds", "A",
          (1 to 4).map(i => graft.model.Entity(s"a:$i",
            refs = Map("http://g/rel#r" -> Seq(s"b:${i % 2 + 1}")))).toDS())
        graft.ops.GraphMerge.applyBatch(st, "ds2", "B",
          (1 to 2).map(i => graft.model.Entity(s"b:$i")).toDS())
        val sess = CypherEngine.session(st)
        sess.run("MATCH (n:B {gid: 'b:1'}) DETACH DELETE n").collect()
        sess.commit()
        Seq(
          one(st, "MATCH (:A)-[r:r]->() RETURN count(r) AS n"),
          one(st, "MATCH ()-[r:r]->(:B) RETURN count(r) AS n"),
          one(st, "MATCH ()-[r:r]->() RETURN count(r) AS n"))
      } finally unhook()
    }
    val g = GraphStore
    // defaults: the store is tiny, so this IS the recount path
    val tiny = run("tiny", () => (), () => ())
    // tiny disabled: the driver-side cap-collect delta
    val drv = run("drv",
      () => g.ltTinyOverride = Some(0L),
      () => g.ltTinyOverride = None)
    // tiny disabled + cap 0: the distributed twin
    val dist = run("dist",
      () => { g.ltTinyOverride = Some(0L); g.ltCapOverride = Some(0) },
      () => { g.ltTinyOverride = None; g.ltCapOverride = None })
    assert(tiny == Seq(2L, 2L, 2L), tiny)
    assert(drv == tiny, s"driver-side delta diverged: $drv vs $tiny")
    assert(dist == tiny, s"distributed path diverged: $dist vs $tiny")
  }

  test("self-loop patterns (repeated variable) bail to the scan") {
    val st = newStore("selfloop")
    seed(st)
    CypherEngine.query(st,
      "MATCH (a:Person {gid: 'p:1'}) CREATE (a)-[:KNOWS]->(a)").collect()
    // the repeated variable is an equality constraint the one-sided
    // entries cannot express: the scan answers only the self-loops
    assert(one(st,
      "MATCH (n:Person)-[r:KNOWS]->(n) RETURN count(r) AS n") == 1L)
    assert(one(st, "MATCH (n)-[r:KNOWS]->(n) RETURN count(r) AS n") == 1L)
    assert(one(st, "RETURN COUNT { (n:Person)-[:KNOWS]->(n) } AS n") == 1L)
    // distinct variables keep the O(1) route and count every edge
    assert(one(st,
      "MATCH (:Person)-[r:KNOWS]->() RETURN count(r) AS n") == 3L)
    assert(one(st,
      "MATCH (n:Person)-[r:KNOWS]->(m) RETURN count(r) AS n") == 3L)
  }

  test("LtSep-named relTypes: sentinel keeps the wildcard exact") {
    val st = newStore("ltsep")
    val s2 = spark
    import s2.implicits._
    // three clean-typed edges and three whose relType contains the
    // sidecar separator (excluded from the lt sections by key shape)
    graft.ops.GraphMerge.applyBatch(st, "ds", "A",
      (1 to 3).map(i => graft.model.Entity(s"a:$i",
        refs = Map(
          "http://g/rel#r" -> Seq(s"a:${i % 3 + 1}"),
          "http://g/rel#r\u0001x" -> Seq(s"a:${(i + 1) % 3 + 1}")))).toDS())
    // the typed clean count is servable...
    assert(st.relCountByLabel("A", Some("r"), outgoing = true)
      .contains(3L))
    // ...the wildcard is NOT (a pair is excluded): None keeps the scan
    assert(st.relCountByLabel("A", None, outgoing = true).isEmpty)
    // and the scan answer includes the excluded type
    assert(one(st, "MATCH (:A)-[r]->() RETURN count(r) AS n") == 6L)
    // delta path: removing every excluded-type edge nets the sentinel
    // to zero and the wildcard becomes servable again
    GraphStore.ltTinyOverride = Some(0L)
    try {
      val sess = CypherEngine.session(st)
      sess.run("MATCH ()-[r:`r\u0001x`]->() DELETE r").collect()
      sess.commit()
    } finally GraphStore.ltTinyOverride = None
    assert(st.relCountByLabel("A", None, outgoing = true).contains(3L))
    assert(one(st, "MATCH (:A)-[r]->() RETURN count(r) AS n") == 3L)
  }

  test("graft.stats serves the same numbers as the scan") {
    val st = newStore("stats")
    seed(st)
    val rows = CypherEngine.query(st,
      """CALL graft.stats() YIELD kind, name, n
        |RETURN kind, name, n ORDER BY kind, name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      ("nodes", "City", 3L), ("nodes", "Person", 7L),
      ("relationships", "KNOWS", 2L), ("relationships", "LIVES_IN", 5L)))
  }
}
