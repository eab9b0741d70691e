package graft.udabench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JVM half of the UDA service benchmark (see ../README.md).
  *
  * `--work <dir>` holds `plan.json`, written by run.py from the seed;
  * this program executes the plan for `--seconds`, checks every
  * answer inline, and writes `result.json` to the same directory.
  * Nothing but logs goes to stdout or stderr.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val work = Paths.get(opt("work"))
    val plan = JsonMethods.parse(Files.readString(work.resolve("plan.json")))
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val cpus = opt("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("udabench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the same benign planner-probe ERROR the repo's Bench/Verify mains
    // silence: a caught analysis failure still reaches this logger
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.util.ExecutionListenerBus",
      org.apache.logging.log4j.Level.OFF)
    val result =
      try {
        new Workload(spark, work, plan, seconds, trace).runService()
      } finally spark.stop()
    val full = result ~~ ("peak_rss_mb" -> JDouble(peakRssMb()))
    Files.writeString(work.resolve("result.json"),
      JsonMethods.compact(JsonMethods.render(full)))
  }

  private implicit class JObj(o: JObject) {
    def ~~(kv: (String, JValue)): JObject = JObject(o.obj :+ kv)
  }

  /** the process's resident-set high-water mark (VmHWM), in MiB */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** small statistics helpers shared by both executors */
object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** least-squares slope of ys against xs (0 when xs do not vary) */
  def slope(xs: collection.Seq[Double], ys: collection.Seq[Double]): Double = {
    val mx = mean(xs); val my = mean(ys)
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0.0) 0.0
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }
}

/** Shared scaffolding of one run: the plan, the clock and the tally
  * of attempted and failed operations and of check mismatches. */
class Workload(val spark: SparkSession, val work: Path, val plan: JValue,
    val seconds: Double, val trace: Boolean)
    extends ServiceWorkload with RegistryWorkload {

  var attempted = 0L
  var failed = 0L
  var checked = 0L
  val mismatches = scala.collection.mutable.Buffer.empty[String]

  def mismatch(msg: String): Unit = {
    if (mismatches.size < 20) mismatches += msg
    System.err.println(s"[udabench] MISMATCH $msg")
  }

  def str(v: JValue, k: String): String = (v \ k) match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"plan: $k is $other")
  }

  def outcome(metrics: Seq[(String, Double)], readyMs: Long,
      extra: (String, JValue)*): JObject =
    JObject(List(
      "ready_ms" -> JLong(readyMs),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "checked" -> JLong(checked),
      "mismatches" -> JArray(mismatches.toList.map(JString(_))),
      "metrics" -> JObject(metrics.toList.map { case (k, v) => k -> JDouble(v) })
    ) ++ extra)
}
