package graft.udabench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.udabench.Trace
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.cypher.CypherEngine
import graft.model.{DatasetDefinition, EgdmCodec, LayerConfig, LayerSettings, SystemConfig}
import graft.ops.{GraphDataset, GraphMerge, GraphRead}
import graft.service.GraftService
import graft.store.GraphStore

/** The ingest, query and mixed workloads: `GraftService` on a fresh
  * store, driven over loopback HTTP by one closed-loop client. */
trait ServiceWorkload { self: Workload =>

  /** one executed operation of the measured phase */
  case class Done(cls: String, read: Boolean, httpMs: Double,
      entities: Int, layer: Map[String, Double])

  private val RowCap = 10000 // GraftService's default queryRowCap

  def runService(): JObject = {
    val datasets = (plan \ "datasets").children.map(d =>
      DatasetDefinition(str(d, "name"), str(d, "label"), 1000))
    val root = work.resolve("store")
    val store = new GraphStore(root.toString, spark)
    val inputBytes = loadBase(store)
    // traced mode replays every write on a twin store built the same
    // way, so the direct call sees the state the HTTP call saw
    val twinRoot = work.resolve("twin")
    val hasWrites = ((plan \ "prologue").children ++ (plan \ "rounds").children.flatMap(_.children))
      .exists(op => str(op, "op") == "write")
    val twin =
      if (trace && hasWrites) Some(new GraphStore(twinRoot.toString, spark)) else None
    twin.foreach(loadBase)
    val twinSets = twin.map(t => datasets.map(d =>
      d.name -> new GraphDataset(t, spark, d.name, d.label, d.batchSize)).toMap)
    // reads replay directly against the served store's files, through
    // a GraphStore instance of their own (separate per-version memos)
    val direct = new GraphStore(root.toString, spark)
    val tracer = if (trace) Some(new Trace(spark)) else None

    val cfg = LayerConfig(LayerSettings("0", "udabench", "0s"),
      SystemConfig("spark", "local", "", ""), datasets)
    val svc = new GraftService(spark, cfg, root.toString, queryRowCap = RowCap)
    val port = svc.start(0)
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def send(method: String, path: String, body: String,
        headers: Seq[(String, String)]): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      headers.foreach { case (k, v) => b.header(k, v) }
      val req =
        if (method == "GET") b.GET().build()
        else b.POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }

    var version = store.currentVersion
    var sentBytes = 0L
    val sentFiles = mutable.Buffer.empty[String]
    val done = mutable.Buffer.empty[Done]
    var readIndex = 0

    def exec(op: JValue, record: Boolean): Unit = {
      val kind = str(op, "op")
      val cls = str(op, "cls")
      val tinyBefore = trace && isTiny(root)
      val layer = mutable.Map.empty[String, Double]
      if (tinyBefore) layer("tiny") = 1.0
      if (record) attempted += 1
      kind match {
        case "write" =>
          val ds = str(op, "dataset")
          val file = str(op, "file")
          val body = Files.readString(work.resolve(file))
          val n = (op \ "n") match { case JInt(i) => i.toInt; case _ => 0 }
          val headers = (op \ "headers") match {
            case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }
            case _ => Nil
          }
          val t0 = System.nanoTime()
          val (code, resp) = send("POST", s"/datasets/$ds/entities", body, headers)
          val ms = (System.nanoTime() - t0) / 1e6
          if (code != 200) {
            if (record) failed += 1
            System.err.println(s"[udabench] write $cls failed: $code $resp")
          } else {
            checked += 1
            val js = JsonMethods.parse(resp)
            val written = (js \ "written") match { case JInt(i) => i.toLong; case _ => -1L }
            val v = (js \ "version") match { case JInt(i) => i.toLong; case _ => -1L }
            if (written != n) mismatch(s"$cls $file: written $written != $n")
            if (v != version + 1) mismatch(s"$cls $file: version $v after $version")
            version = v
          }
          sentBytes += body.getBytes(StandardCharsets.UTF_8).length
          sentFiles += file
          for (t <- twin; sets <- twinSets; tr <- tracer)
            replayWrite(t, twinRoot, sets(ds), tr, body, headers.toMap, n, layer)
          System.err.println(f"[udabench] $cls $file: $ms%.0f ms")
          if (record) done += Done(cls, read = false, ms, n, layer.toMap)

        case "query" | "get" =>
          val (method, path, reqBody) =
            if (kind == "query") {
              val q = JObject("query" -> (op \ "query"), "params" -> (op \ "params"))
              ("POST", "/query", JsonMethods.compact(JsonMethods.render(q)))
            } else ("GET", str(op, "path"), "")
          // alternate which of the HTTP call and its direct replay goes
          // first, so neither always inherits the other's warm caches
          val directFirst = trace && readIndex % 2 == 1
          readIndex += 1
          for (tr <- tracer if directFirst) replayRead(direct, tr, op, layer)
          val t0 = System.nanoTime()
          val (code, resp) = send(method, path, reqBody, Nil)
          val ms = (System.nanoTime() - t0) / 1e6
          for (tr <- tracer if !directFirst) replayRead(direct, tr, op, layer)
          if (code != 200) {
            if (record) failed += 1
            System.err.println(s"[udabench] read $cls failed: $code $resp")
          } else {
            checked += 1
            val rows = (JsonMethods.parse(resp) \ "rows").children
            val expect = (op \ "expect").children
            if (!Rows.same(rows, expect))
              mismatch(s"$cls ${JsonMethods.compact(JsonMethods.render(op \ "params"))}" +
                s"$path: got ${Rows.show(rows)} want ${Rows.show(expect)}")
          }
          if (record) done += Done(cls, read = true, ms, 0, layer.toMap)
      }
    }

    val rounds = (plan \ "rounds").children.map(_.children)
    val cycle = (plan \ "cycle") == JBool(true)
    // a read-only plan warms up with its first round, untimed but
    // checked: JIT, codegen and the store's per-version table memos
    if ((plan \ "warmup") == JBool(true)) rounds.head.foreach(exec(_, record = false))
    val readyMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    (plan \ "prologue").children.foreach(exec(_, record = true))
    var r = 0
    while ((r == 0 || elapsed < seconds) && (cycle || r < rounds.size)) {
      rounds(r % rounds.size).foreach(exec(_, record = true))
      r += 1
    }
    val measured = elapsed
    svc.stop()
    System.err.println(f"[udabench] ${done.size} ops in $r rounds, $measured%.1f s")

    val snapshotBytes = snapshotSize(root)
    val stateJson = if ((plan \ "dump") == JBool(true)) dumpState(root) else JNothing

    val writes = done.filterNot(_.read)
    val reads = done.filter(_.read)
    val entities = writes.map(_.entities).sum.toDouble
    val unit = str(plan, "unit")
    val (opP50, items) =
      if (unit == "write") (Stats.median(writes.map(_.httpMs)), entities)
      else (Stats.median(reads.map(_.httpMs)), reads.size.toDouble)
    val inputTotal = inputBytes + sentBytes
    val info = Seq(
      "write_batch_p50_ms" -> Stats.median(writes.map(_.httpMs)),
      "read_p50_ms" -> Stats.median(reads.map(_.httpMs)),
      "entities_per_s" -> entities / measured,
      "reads_per_s" -> reads.size / measured,
      "stored_bytes_per_input_byte" ->
        (if (inputTotal > 0) snapshotBytes.toDouble / inputTotal else 0.0),
      "measured_s" -> measured,
      "rounds" -> r.toDouble)
    System.err.println("[udabench] " + info.map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))

    // the traced query run also times the registry subset, the only
    // source of the registry.* metrics among the benchmark's workloads
    val registry = for (tr <- tracer; reg <- (plan \ "registry").toOption)
      yield registryLayer(reg, tr)
    val metrics =
      if (!trace) Seq("op_p50_ms" -> opP50, "items_per_s" -> items / measured)
      else (layerMetrics(done.toSeq, inputTotal, snapshotBytes).toMap ++
        registry.getOrElse(Nil)).toSeq
    outcome(metrics, readyMs,
      "info" -> JObject(info.toList.map { case (k, v) => k -> JDouble(v) }),
      "sent" -> JArray(sentFiles.toList.map(JString(_))),
      "state" -> stateJson)
  }

  /** bulk-load the plan's base datasets, one commit each, then run its
    * DDL; returns the EGDM bytes loaded */
  private def loadBase(store: GraphStore): Long = {
    import spark.implicits._
    def timed[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally System.err.println(
        f"[udabench] $what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val bytes = (plan \ "base").children.map { b =>
      val text = Files.readString(work.resolve(str(b, "file")))
      val ents = text.split("\n").filter(_.nonEmpty).toSeq.map(EgdmCodec.parseLine)
      timed(s"load ${ents.size} ${str(b, "label")} entities")(
        GraphMerge.applyBatch(store, str(b, "dataset"), str(b, "label"),
          ents.toDS(), truncateFirst = true))
      text.getBytes(StandardCharsets.UTF_8).length.toLong
    }.sum
    (plan \ "ddl").children.foreach {
      case JString(q) => timed(q)(CypherEngine.query(store, q).collect())
      case _ => ()
    }
    bytes
  }

  /** The write's direct replay on the twin: EGDM decode, then the
    * same GraphDataset call GraftService makes for this framing. */
  private def replayWrite(twin: GraphStore, twinRoot: Path, ds: GraphDataset,
      tr: Trace, body: String, headers: Map[String, String], n: Int,
      layer: mutable.Map[String, Double]): Unit = {
    val nodesBefore = twin.nodeCountByLabel(None).getOrElse(twin.nodes.count())
    val before = Manifests.read(twinRoot)
    val c0 = tr.snapshot()
    val t0 = System.nanoTime()
    val ents = body.split("\n").filter(_.trim.nonEmpty).toSeq.map(EgdmCodec.parseLine)
    val t1 = System.nanoTime()
    val syncId = headers.getOrElse("universal-data-api-full-sync-id", "")
    if (headers.get("universal-data-api-full-sync-start").contains("true"))
      ds.fullSync(ents, syncId)
    else if (syncId.nonEmpty) ds.incremental(ents, s"$syncId/h${md5(body)}")
    else ds.incremental(ents, "")
    val t2 = System.nanoTime()
    val c = Trace.diff(c0, tr.snapshot())
    val after = Manifests.read(twinRoot)
    val delta = Manifests.delta(twinRoot, before, after)
    layer ++= Seq(
      "decode_ms" -> (t1 - t0) / 1e6,
      "merge_ms" -> (t2 - t1) / 1e6,
      "nodes_before" -> nodesBefore.toDouble,
      "files_written" -> delta.files.toDouble,
      "bytes_written" -> delta.bytes.toDouble,
      "buckets_rewritten" -> delta.buckets.toDouble,
      "rows_rewritten" -> delta.rows.toDouble,
      "entities" -> n.toDouble) ++ sparkCounts(c)
  }

  private def sparkCounts(c: Map[String, Long]): Seq[(String, Double)] = Seq(
    "jobs" -> c("jobs").toDouble, "stages" -> c("stages").toDouble,
    "tasks" -> c("tasks").toDouble, "shuffle_bytes" -> c("shuffle_bytes").toDouble,
    "analysis_ms" -> c("analysis_ns") / 1e6,
    "optimization_ms" -> c("optimization_ns") / 1e6,
    "planning_ms" -> c("planning_ns") / 1e6)

  /** The read's direct replay: Cypher lowering (or the GraphRead scan
    * the REST route builds), then the same capped collect. */
  private def replayRead(store: GraphStore, tr: Trace, op: JValue,
      layer: mutable.Map[String, Double]): Unit = {
    val c0 = tr.snapshot()
    val t0 = System.nanoTime()
    val (df, limit): (DataFrame, Int) = str(op, "op") match {
      case "query" =>
        (CypherEngine.query(store, str(op, "query"), Params.of(op \ "params")), RowCap)
      case _ =>
        val d = op \ "direct"
        val limit = (d \ "limit") match { case JInt(i) => i.toInt; case _ => 100 }
        val label = str(d, "label")
        val source = str(d, "source")
        str(d, "fn") match {
          case "entities" =>
            (GraphRead.entities(store, label, source, str(d, "from"), limit + 1), limit)
          case "changes" =>
            val since = (d \ "since") match { case JInt(i) => i.toLong; case _ => 0L }
            (GraphRead.changes(store, since, str(d, "afterGid"), limit + 1,
              labelSource = Some((label, source))), limit)
        }
    }
    val t1 = System.nanoTime()
    val cl = tr.snapshot()
    df.limit(limit + 1).collect()
    val t2 = System.nanoTime()
    val c = Trace.diff(c0, tr.snapshot())
    layer ++= Seq(
      "lower_ms" -> (t1 - t0) / 1e6,
      "lower_jobs" -> (cl("jobs") - c0("jobs")).toDouble,
      "collect_ms" -> (t2 - t1) / 1e6,
      "direct_ms" -> (t2 - t0) / 1e6) ++ sparkCounts(c)
    if (str(op, "op") == "query") layer("cypher") = 1.0
  }

  def layerMetrics(done: Seq[Done], inputBytes: Long,
      snapshotBytes: Long): Seq[(String, Double)] = {
    val writes = done.filterNot(_.read).filter(_.layer.contains("merge_ms"))
    val reads = done.filter(_.read).filter(_.layer.contains("direct_ms"))
    val cypherReads = reads.filter(_.layer.contains("cypher"))
    def wl(k: String) = writes.map(_.layer(k))
    def rl(k: String) = reads.map(_.layer(k))
    val slopeCls = (plan \ "slope_cls").children.collect { case JString(c) => c }.toSet
    val sloped = writes.filter(d => slopeCls(d.cls))
    val entities = wl("entities").sum
    def phase(k: String) = Stats.mean((writes ++ reads).map(_.layer(k)))
    val classes = Seq("gid_lookup", "prop_lookup", "label_count", "expand1",
      "expand2_agg", "topk", "page", "changes")
    Seq(
      "service.write_overhead_ms" ->
        Stats.median(writes.map(d => d.httpMs - d.layer("decode_ms") - d.layer("merge_ms"))),
      "service.read_overhead_ms" ->
        Stats.median(reads.map(d => d.httpMs - d.layer("direct_ms"))),
      "model.decode_ms" -> Stats.median(wl("decode_ms")),
      "ops.merge_ms" -> Stats.median(wl("merge_ms")),
      "ops.merge_ms_per_10k_nodes" ->
        Stats.slope(sloped.map(_.layer("nodes_before")), sloped.map(_.layer("merge_ms"))) * 1e4,
      "store.files_written" -> Stats.mean(wl("files_written")),
      "store.bytes_written" -> Stats.mean(wl("bytes_written")),
      "store.buckets_rewritten" -> Stats.mean(wl("buckets_rewritten")),
      "store.rows_rewritten_per_entity" ->
        (if (entities > 0) wl("rows_rewritten").sum / entities else 0.0),
      "store.tiny_arm_ops" -> done.count(_.layer.contains("tiny")).toDouble,
      "store.bytes_per_input_byte" ->
        (if (inputBytes > 0) snapshotBytes.toDouble / inputBytes else 0.0),
      "cypher.lower_ms" -> Stats.median(cypherReads.map(_.layer("lower_ms"))),
      "cypher.lower_jobs" -> Stats.mean(cypherReads.map(_.layer("lower_jobs"))),
      "spark.analysis_ms" -> phase("analysis_ms"),
      "spark.optimization_ms" -> phase("optimization_ms"),
      "spark.planning_ms" -> phase("planning_ms"),
      "spark.collect_ms" -> Stats.median(rl("collect_ms")),
      "spark.write_jobs" -> Stats.mean(wl("jobs")),
      "spark.write_stages" -> Stats.mean(wl("stages")),
      "spark.write_tasks" -> Stats.mean(wl("tasks")),
      "spark.write_shuffle_bytes" -> Stats.mean(wl("shuffle_bytes")),
      "spark.read_jobs" -> Stats.mean(rl("jobs")),
      "spark.read_tasks" -> Stats.mean(rl("tasks")),
      "spark.read_shuffle_bytes" -> Stats.mean(rl("shuffle_bytes"))
    ) ++ classes.map(c =>
      s"query.${c}_p50_ms" -> Stats.median(done.filter(d => d.read && d.cls == c).map(_.httpMs))
    ) ++ RegistryWorkload.layerNames.map(_ -> 0.0)
  }

  private def md5(body: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** the tiny-store gate of GraphStore.isTiny, recomputed from the
    * manifest on disk: at most 64 node and edge files, under 64 MiB */
  private def isTiny(root: Path): Boolean = {
    val m = Manifests.read(root)
    val fs = Seq("nodes", "edges").flatMap(t => m.getOrElse(t, Map.empty).values.flatten)
    fs.size <= 64 && fs.map(f => Files.size(root.resolve(f))).sum < (64L << 20)
  }

  private def snapshotSize(root: Path): Long =
    Manifests.read(root).values.flatMap(_.values.flatten).toSeq.distinct
      .map(f => Files.size(root.resolve(f))).sum

  /** the committed graph, read straight from the store (not through
    * the service): node counts by label, edge counts by type, and
    * every Order's ordered_by target */
  private def dumpState(root: Path): JValue = {
    val s = new GraphStore(root.toString, spark)
    val labels = s.nodes.groupBy("label").count().collect().toList.map(r =>
      Option(r.getString(0)).getOrElse("") -> JLong(r.getLong(1)))
    val types = s.edges.groupBy("relType").count().collect().toList.map(r =>
      r.getString(0) -> JLong(r.getLong(1)))
    val targets = s.edges.filter(col("relType") === "ordered_by")
      .select("src", "dst").collect().toList
      .map(r => JArray(List(JString(r.getString(0)), JString(r.getString(1)))))
    JObject("labels" -> JObject(labels), "rel_types" -> JObject(types),
      "ordered_by" -> JArray(targets))
  }
}

/** manifest reads from outside the store: the pointer file names the
  * current version, whose manifest lists every table's files */
object Manifests {
  type Manifest = Map[String, Map[String, Seq[String]]]

  def read(root: Path): Manifest = {
    val ptr = root.resolve("_current")
    if (!Files.exists(ptr)) return Map.empty
    val v = Files.readAllLines(ptr).get(0).trim.toLong
    val js = JsonMethods.parse(Files.readString(root.resolve(f"m$v%08d.json")))
    js match {
      case JObject(tables) => tables.map { case (t, parts) =>
        t -> (parts match {
          case JObject(ps) => ps.map { case (k, fs) =>
            k -> fs.children.collect { case JString(f) => f }
          }.toMap
          case _ => Map.empty[String, Seq[String]]
        })
      }.toMap
      case _ => Map.empty
    }
  }

  case class Delta(files: Int, bytes: Long, buckets: Int, rows: Long)

  /** what one commit wrote: files new to the manifest, their bytes,
    * the partition keys whose file lists changed, and the rows in
    * the new node and edge files (parquet footers) */
  def delta(root: Path, before: Manifest, after: Manifest): Delta = {
    val old = before.values.flatMap(_.values.flatten).toSet
    val fresh = after.values.flatMap(_.values.flatten).toSet -- old
    val buckets = after.toSeq.map { case (t, parts) =>
      val prev = before.getOrElse(t, Map.empty)
      (parts.keySet ++ prev.keySet).count(k => parts.get(k) != prev.get(k))
    }.sum
    val primary = Seq("nodes", "edges")
      .flatMap(t => after.getOrElse(t, Map.empty).values.flatten).filter(fresh)
    Delta(fresh.size, fresh.toSeq.map(f => Files.size(root.resolve(f))).sum,
      buckets, primary.map(f => parquetRows(root.resolve(f))).sum)
  }

  private def parquetRows(p: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
    try r.getRecordCount finally r.close()
  }
}

/** Cypher parameters from their JSON form — the same mapping the
  * service's /query route applies to a request body */
object Params {
  def of(v: JValue): Map[String, Any] = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> scalar(x) }.toMap
    case _ => Map.empty
  }
  private def scalar(v: JValue): Any = v match {
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case JArray(xs) => xs.map(scalar)
    case JObject(fs) => fs.map { case (k, x) => k -> scalar(x) }.toMap
    case other => throw new IllegalArgumentException(s"param $other")
  }
}

/** answer comparison: row by row, on the expected row's keys, numbers
  * within a relative 1e-9 (DuckDB sums decimals, Spark doubles) */
object Rows {
  def same(got: List[JValue], want: List[JValue]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      w match {
        case JObject(fs) => fs.forall { case (k, wv) => close(g \ k, wv) }
        case other => close(g, other)
      }
    }

  private def num(v: JValue): Option[Double] = v match {
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  private def close(g: JValue, w: JValue): Boolean = (num(g), num(w)) match {
    case (Some(a), Some(b)) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    case _ => (g, w) match {
      case (JNothing | JNull, JNull) => true
      case _ => g == w
    }
  }

  def show(rows: List[JValue]): String = {
    val s = JsonMethods.compact(JsonMethods.render(JArray(rows)))
    if (s.length > 300) s.take(300) + "…" else s
  }
}
