package graft.udabench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.udabench.Trace
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{Scratch, SparkEntry}
import graft.queries._

/** A fixed subset of SparkEntry.queries, one entry from every family
  * file, run the way graft.Bench times an entry: result memos cleared
  * first, scratch caches released after. A warm-up round builds the
  * memoized stores, indexes and graph tables the entries share (the
  * warm-up rule of graft.Bench) and its results go to DuckDB (run.py);
  * the measured round must reproduce them. */
trait RegistryWorkload { self: Workload =>

  /** The registry.* per-layer metrics of the subset `reg` ("sf",
    * "entries"): a warm-up round, then one measured round, traced. */
  def registryLayer(reg: JValue, tracer: Trace): Seq[(String, Double)] = {
    val sf = str(reg, "sf")
    val names = (reg \ "entries").children.collect { case JString(s) => s }
    val registry = SparkEntry.queries
    val family = RegistryWorkload.families.flatMap { case (f, defs) =>
      defs.keys.map(_ -> f) }.toMap
    // graft.Bench reads the events table with this setting
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def runOne(name: String): Option[(Array[Row], DataFrame, Double, Map[String, Long])] = {
      TextOps.clearMemos()
      val c0 = tracer.snapshot()
      val t0 = System.nanoTime()
      val out =
        try {
          val df = registry(name)(spark, sf)
          Some((df.collect(), df))
        } catch {
          case e: Throwable =>
            System.err.println(s"[udabench] $name failed: $e")
            None
        }
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"[udabench] $name: $ms%.0f ms")
      Scratch.release()
      val c = Trace.diff(c0, tracer.snapshot())
      out.map { case (rows, df) => (rows, df, ms, c) }
    }

    val reference = mutable.Map.empty[String, String]
    names.foreach { n =>
      runOne(n).foreach { case (rows, df, _, _) =>
        reference(n) = RegistryWorkload.canonical(rows)
        spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(work.resolve("registry").resolve(n).toString)
      }
    }
    val oracle = JObject(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> JString(_))))
    Files.writeString(work.resolve("oracle_sql.json"),
      JsonMethods.compact(JsonMethods.render(oracle)))

    val familyMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    names.foreach { n =>
      attempted += 1
      runOne(n) match {
        case None => failed += 1
        case Some((rows, _, ms, c)) =>
          checked += 1
          if (!reference.get(n).contains(RegistryWorkload.canonical(rows)))
            mismatch(s"$n: the measured result differs from the checked warm-up result")
          familyMs(family(n)) += ms
          c.foreach { case (k, v) => counts(k) += v }
      }
    }
    RegistryWorkload.families.map { case (f, _) =>
      s"registry.${f}_s" -> familyMs(f) / 1000
    } ++ Seq("registry.jobs" -> counts("jobs").toDouble,
      "registry.shuffle_bytes" -> counts("shuffle_bytes").toDouble)
  }
}

object RegistryWorkload {
  /** the registry's family files, in SparkEntry's order */
  val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> Relational.defs, "graph_on_tpch" -> GraphOnTpch.defs,
    "text" -> TextOps.defs, "vector" -> VectorOps.defs,
    "events" -> EventOps.defs, "multimodal" -> MultimodalQ.defs,
    "cypher" -> CypherQ.defs, "graphx" -> GraphXQ.defs, "pack" -> PackOps.defs)

  val layerNames: Seq[String] =
    families.map { case (f, _) => s"registry.${f}_s" } ++
      Seq("registry.jobs", "registry.shuffle_bytes")

  /** order-free rendering of a result; doubles at 9 significant
    * digits, so a re-run's summation order cannot flip a last bit */
  def canonical(rows: Array[Row]): String =
    rows.map(_.toSeq.map {
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.9g"
      case other => String.valueOf(other)
    }.mkString("\u0001")).sorted.mkString("\n")
}
