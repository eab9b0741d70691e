package graft


import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherEngine
import graft.store.GraphStore

/** Value-pinned openCypher semantics: the divergence-prone corners
  * (numeric type preservation, Kleene three-valued logic, list edge
  * cases, temporal clamping) asserted against Neo4j's documented
  * behavior — PASS/FAIL probes can't catch a wrong VALUE.
  */
class SemanticsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get
  private lazy val st = new GraphStore(
    Memo.tempDir("graft-sem"), spark, 2)
  private def one(q: String) = CypherEngine.query(st, q).collect().head

  test("numeric type preservation matches Neo4j") {
    val r = one("""RETURN 5 / 2 AS intdiv, 5.0 / 2 AS fdiv,
      2 ^ 3 AS pow, -5 % 3 AS negmod, round(2.5) AS rnd,
      toInteger(2.9) AS trunc, abs(-3) AS abi, abs(-3.5) AS abf,
      sign(-2.5) AS sg""")
    assert(r.getLong(0) == 2L)        // integer division
    assert(r.getDouble(1) == 2.5)
    assert(r.getDouble(2) == 8.0)     // ^ is always FLOAT
    assert(r.getLong(3) == -2L)       // % takes the dividend's sign
    assert(r.getDouble(4) == 3.0)     // round half-up
    assert(r.getLong(5) == 2L)        // toInteger truncates
    assert(r.getLong(6) == 3L)        // abs preserves INTEGER
    assert(r.getDouble(7) == 3.5)
    assert(r.getLong(8) == -1L)       // sign is INTEGER
  }

  test("sum/avg numeric families match Neo4j") {
    val r = CypherEngine.query(st,
      """UNWIND [3, 1, 2] AS x
         RETURN sum(x) AS sm, avg(x) AS av, min(x) AS mn""").collect().head
    assert(r.getLong(0) == 6L)        // sum of integers is INTEGER
    assert(r.getDouble(1) == 2.0)
    assert(r.getLong(2) == 1L)
  }

  test("Kleene three-valued logic") {
    val r = one("""RETURN null = null AS a, null <> null AS b,
      1 IN [null, 1] AS c, 2 IN [null] AS d,
      NOT null AS e, null AND false AS f, null OR true AS g,
      1 < null AS h""")
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getBoolean(2))           // found despite the null element
    assert(r.isNullAt(3))             // unknown, not false
    assert(r.isNullAt(4))
    assert(!r.getBoolean(5))          // null AND false = false
    assert(r.getBoolean(6))           // null OR true = true
    assert(r.isNullAt(7))
  }

  test("list and slice edge cases") {
    val r = one("""RETURN [1,2,3][-1] AS neg, [1,2,3][0..2] AS sl,
      size([]) AS z, head([]) AS h, range(0, 10, 3) AS stepped""")
    assert(r.getLong(0) == 3L)        // negative index from the end
    assert(r.getSeq[Long](1) == Seq(1L, 2L))
    assert(r.getLong(2) == 0L)
    assert(r.isNullAt(3))
    assert(r.getSeq[Long](4) == Seq(0L, 3L, 6L, 9L))
  }

  test("temporal construction and clamping") {
    val r = one("""RETURN toString(date({year: 2024, month: 2, day: 29}))
        AS leap,
      datetime({epochMillis: 0}).epochMillis AS ep,
      duration.between(date('2024-01-01'), date('2024-03-15')).days AS bd,
      toString(date('2024-03-31') + duration({months: 1})) AS clamped""")
    assert(r.getString(0) == "2024-02-29")
    assert(r.getLong(1) == 0L)
    assert(r.getLong(2) == 14L)       // P2M14D — days beyond the months
    assert(r.getString(3) == "2024-04-30") // end-of-month clamp
  }

  test("string predicates keep strict-slot semantics inside aggregates") {
    // one predicate, one semantics: `n.p STARTS WITH '9'` must null
    // on a NUMERIC property (no "9000.0"-rendering match) whether it
    // sits in WHERE or inside an aggregate's argument
    val stx = new GraphStore(
      Memo.tempDir("graft-sem-agg"), spark, 2)
    val sess = CypherEngine.session(stx)
    sess.run("CREATE (:V {gid: 'v:1', p: 9000.0})").collect()
    sess.run("CREATE (:V {gid: 'v:2', p: '9k-string'})").collect()
    sess.commit()
    val whereForm = CypherEngine.query(stx,
      "MATCH (n:V) WHERE n.p STARTS WITH '9' RETURN count(n) AS c")
      .collect().head.getLong(0)
    val aggForm = CypherEngine.query(stx,
      """MATCH (n:V)
        |RETURN count(CASE WHEN n.p STARTS WITH '9' THEN 1 END) AS c"""
        .stripMargin).collect().head.getLong(0)
    assert(whereForm == 1L, s"WHERE form matched $whereForm")
    assert(aggForm == whereForm,
      s"aggregate-argument form diverged: $aggForm vs $whereForm")
    // …and the rendering form survives where Catalyst needs it: a
    // group-key expression over the same property still plans
    val grouped = CypherEngine.query(stx,
      """MATCH (n:V) RETURN n.p STARTS WITH '9' AS flag, count(*) AS c
        |ORDER BY c""".stripMargin).collect()
    assert(grouped.map(_.getLong(1)).sum == 2L)
  }
}
