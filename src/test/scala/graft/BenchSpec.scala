package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The bench's timing step: an entry that throws is left out of the
  * results (and so of the total) instead of reporting its
  * time-to-failure; and memo lifetimes — every timed entry builds a
  * result memo it shares with a sibling, while a shared fixture is
  * built once.
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

  test("each timed entry builds a shared result memo; a shared fixture is built once") {
    val (fixtureBuilds, resultBuilds) = (new AtomicInteger, new AtomicInteger)
    // the result's build reads the fixture while it builds (a nested fill)
    def fixture(s: org.apache.spark.sql.SparkSession, dir: String): Long =
      Memo.fixture("BenchSpec.fixture", s, dir) {
        fixtureBuilds.incrementAndGet(); 7L
      }
    def shared(s: org.apache.spark.sql.SparkSession, dir: String) =
      Memo.result("BenchSpec.shared", s, dir) {
        resultBuilds.incrementAndGet()
        s.range(fixture(s, dir)).toDF("id").localCheckpoint()
      }
    val entries: Seq[(String, Bench.Entry)] = Seq(
      ("sibling_a", (s, dir) => shared(s, dir).filter("id % 2 = 0")),
      ("sibling_b", (s, dir) => shared(s, dir).filter("id % 2 = 1")))
    val results = Bench.timeAll(spark, "memo-dir", entries)
    assert(results.map(_._1) == Seq("sibling_a", "sibling_b"))
    assert(resultBuilds.get == 2, "every entry pays the shared result's build")
    assert(fixtureBuilds.get == 1, "the fixture outlives the entries")

    // TextOps.clearMemos (the service benchmark's call) empties result
    // memos and frees the checkpoint blocks behind them
    val held = shared(spark, "memo-dir")
    val built = resultBuilds.get
    assert(shared(spark, "memo-dir") eq held)
    val blocks = held.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
    assert(blocks.nonEmpty && blocks.forall(_.getStorageLevel != StorageLevel.NONE))
    queries.TextOps.clearMemos()
    assert(blocks.forall(_.getStorageLevel == StorageLevel.NONE))
    shared(spark, "memo-dir")
    assert(resultBuilds.get == built + 1)
    assert(fixtureBuilds.get == 1)
  }

  test("a private store's directory goes at Scratch.release; a fixture's stays") {
    val priv = java.nio.file.Paths.get(Scratch.tempDir("graft-benchspec"))
    val fix = java.nio.file.Paths.get(Memo.tempDir("graft-benchspec-fx"))
    java.nio.file.Files.writeString(priv.resolve("part-0"), "x")
    Scratch.release()
    assert(!java.nio.file.Files.exists(priv))
    assert(java.nio.file.Files.isDirectory(fix))
  }
}
