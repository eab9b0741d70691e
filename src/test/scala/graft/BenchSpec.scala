package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's timing step: an entry that throws is left out of the
  * results (and so of the total) instead of reporting its
  * time-to-failure.
  */
class BenchSpec extends AnyFunSuite {
  private val spark = SparkTestSession.get

  test("a throwing entry is left out; the others keep their times") {
    val entries: Seq[(String, Bench.Entry)] = Seq(
      ("ok_a", (s, _) => s.range(10).toDF()),
      ("boom", (_, _) => throw new IllegalStateException("no such table")),
      ("ok_b", (s, _) => s.range(5).toDF()))
    val results = Bench.timeAll(spark, "unused", entries)
    assert(results.map(_._1) == Seq("ok_a", "ok_b"))
    assert(results.forall { case (_, dt) => dt >= 0.0 && dt < 60.0 })
    assert(Bench.timeOne(spark, "unused", "boom", entries(1)._2).isEmpty)
  }
}
