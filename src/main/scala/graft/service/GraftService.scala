package graft.service

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.io.Source
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.cypher.CypherEngine
import graft.model.{EgdmCodec, LayerConfig}
import graft.ops.{GraphDataset, GraphRead}
import graft.store.GraphStore

/** UDA-shaped REST shell (M5) over the graph engine — the service
  * surface the reference exposes through mimiro-io/common-datalayer
  * (/root/reference/layer.go:123-265), self-contained on the JDK HTTP
  * server:
  *
  *  - GET  /datasets                       → dataset listing (A15)
  *  - POST /datasets/{ds}/entities         → incremental sync (A4);
  *    full sync (A3) via universal-data-api-full-sync-* headers, with
  *    multi-request session framing (start/id/end, layer_test.go:83)
  *  - GET  /datasets/{ds}/entities         → paginated scan (D3)
  *  - GET  /datasets/{ds}/changes          → change feed (D2)
  *  - POST /query    {"query": cypher}     → openCypher read/write (D1)
  *
  * Body format: EGDM entities as a JSON array or NDJSON lines
  * (FIXTURES.md §1). Results stream as JSON.
  *
  * When `configFile` is given, the config is re-read every
  * `config_refresh_interval` (the reference's UpdateConfiguration loop,
  * /root/reference/layer.go:72): new/changed dataset definitions
  * appear without a restart; a file that fails to parse keeps the
  * previous config.
  */
class GraftService(spark: SparkSession, initialConfig: LayerConfig,
    storeRoot: String, configFile: Option[Path] = None,
    queryRowCap: Int = 10000) {

  private val store = new GraphStore(storeRoot, spark)
  @volatile private var config: LayerConfig = initialConfig
  @volatile private var datasets: Map[String, GraphDataset] =
    buildDatasets(initialConfig)

  private def buildDatasets(c: LayerConfig): Map[String, GraphDataset] =
    c.datasets.map(d =>
      d.name -> new GraphDataset(store, spark, d.name, d.label, d.batchSize))
      .toMap

  /** open full-sync sessions: dataset → syncId */
  private val openSyncs = TrieMap.empty[String, String]

  private var server: HttpServer = _
  private var scheduler: ScheduledExecutorService = _

  def port: Int = server.getAddress.getPort

  /** re-read `configFile` immediately; parse failures keep the old
    * config (the refresh loop must never take the service down)
    */
  def refreshNow(): Unit = configFile.foreach { p =>
    try {
      val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      LayerConfig.fromJson(json).foreach { c =>
        config = c
        datasets = buildDatasets(c)
      }
    } catch { case NonFatal(_) => () }
  }

  def start(requestedPort: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress(requestedPort), 0)
    server.createContext("/datasets", handle(handleDatasets))
    server.createContext("/query", handle(handleQuery))
    server.setExecutor(null)
    server.start()
    for (file <- configFile; ms <- config.layer.refreshMillis) {
      scheduler = Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "graft-config-refresh"); t.setDaemon(true); t
      }
      scheduler.scheduleAtFixedRate(() => refreshNow(), ms, ms,
        TimeUnit.MILLISECONDS)
    }
    port
  }

  def stop(): Unit = {
    if (scheduler != null) scheduler.shutdownNow()
    if (server != null) server.stop(0)
  }

  private def handle(f: HttpExchange => (Int, String))(ex: HttpExchange): Unit =
    try {
      val (code, body) = try f(ex) catch {
        case e: graft.cypher.Parser.ParseException => (400, err(e.getMessage))
        case e: IllegalArgumentException => (400, err(e.getMessage))
        case e: NoSuchElementException => (404, err(e.getMessage))
        case NonFatal(e) => (500, err(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    } finally ex.close()

  private def bodyHash(body: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(body.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def err(msg: String): String =
    JsonMethods.compact(JsonMethods.render(JObject("error" -> JString(msg))))

  private def query1(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&")).map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == key =>
        // percent-encoded values (URI gids in from/afterGid) must
        // decode before keyset comparison
        URLDecoder.decode(v, StandardCharsets.UTF_8)
      }

  private def handleDatasets(ex: HttpExchange): (Int, String) = {
    val path = ex.getRequestURI.getPath.stripPrefix("/datasets")
      .stripPrefix("/").split("/").filter(_.nonEmpty)
    (ex.getRequestMethod, path.toList) match {
      case ("GET", Nil) =>
        val items = config.datasets.map(d => JObject(
          "name" -> JString(d.name), "label" -> JString(d.label),
          "batch_size" -> JInt(d.batchSize)))
        (200, JsonMethods.compact(JsonMethods.render(JArray(items.toList))))

      case ("POST", ds :: "entities" :: Nil) =>
        val dataset = datasets.getOrElse(ds,
          throw new NoSuchElementException(s"dataset not found: $ds"))
        val body = Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
        val entities = parseEntities(body)
        val hdrs = ex.getRequestHeaders
        val fullSyncStart =
          hdrs.getFirst("universal-data-api-full-sync-start") == "true"
        val fullSyncEnd =
          hdrs.getFirst("universal-data-api-full-sync-end") == "true"
        val syncId =
          Option(hdrs.getFirst("universal-data-api-full-sync-id")).getOrElse("")
        // Full-sync session framing (BatchInfo{SyncId, IsStartBatch,
        // IsLastBatch}, /root/reference/layer_test.go:83,167): the
        // start request truncates and opens the session; same-id
        // requests append; the end request closes it. A different sync
        // interleaved into an open session is a conflict. Replay
        // idempotence: a RETRIED start of the already-open session is a
        // no-op (it must not re-truncate and discard continuation
        // batches already applied), and continuation keys derive from
        // the request body, so an immediate retry of a continuation
        // hits the store's last-syncId guard instead of re-applying.
        val open = openSyncs.get(ds)
        if ((syncId.nonEmpty || fullSyncStart) && open.exists(_ != syncId))
          (409, err(s"full-sync '${open.get}' in progress for $ds"))
        else {
          val version =
            if (fullSyncStart) {
              if (syncId.nonEmpty && open.contains(syncId))
                store.currentVersion // replayed start of the open session
              else {
                // mark the session open only AFTER the start commit
                // succeeds: if fullSync throws and the client retries
                // the identical start, the retry must re-run it, not be
                // swallowed as a replay of a session that never started
                val v = dataset.fullSync(entities, syncId)
                if (syncId.nonEmpty && !fullSyncEnd) openSyncs.put(ds, syncId)
                v
              }
            } else openSyncs.get(ds) match {
              case Some(sid) if sid == syncId =>
                // continuation batch: per-request idempotence key from
                // client-supplied content, distinct from the start's
                dataset.incremental(entities, s"$syncId/h${bodyHash(body)}")
              case _ => dataset.incremental(entities, syncId)
            }
          if (fullSyncEnd) openSyncs.remove(ds)
          (200, s"""{"written":${entities.size},"version":$version}""")
        }

      case ("GET", ds :: "entities" :: Nil) =>
        val d = config.dataset(ds).fold(
          m => throw new NoSuchElementException(m), identity)
        val from = query1(ex, "from").getOrElse("")
        val limit = query1(ex, "limit").map(_.toInt).getOrElse(100)
        // over-cap pages SAY they were cut (same contract as /query):
        // fetch cap+1 so a limit above the cap yields truncated=true
        // and the client continues with the keyset token
        val eff = math.min(limit, queryRowCap)
        val df =
          if (query1(ex, "format").contains("egdm"))
            GraphRead.entitiesEgdm(store, d.label, d.name, from, eff + 1)
          else GraphRead.entities(store, d.label, d.name, from, eff + 1)
        (200, pagedJson(df, eff, limit))

      case ("GET", ds :: "changes" :: Nil) =>
        val d = config.dataset(ds).fold(
          m => throw new NoSuchElementException(m), identity)
        val since = query1(ex, "since").map(_.toLong).getOrElse(0L)
        val afterGid = query1(ex, "afterGid").getOrElse("")
        val limit = query1(ex, "limit").map(_.toInt).getOrElse(100)
        val latestOnly = query1(ex, "latestOnly").contains("true")
        val eff = math.min(limit, queryRowCap)
        (200, pagedJson(GraphRead.changes(store, since, afterGid, eff + 1,
          latestOnly, Some((d.label, d.name))), eff, limit))

      case (m, p) =>
        throw new IllegalArgumentException(s"unsupported: $m /${p.mkString("/")}")
    }
  }

  private def handleQuery(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestMethod != "POST")
      throw new IllegalArgumentException("POST a {\"query\": ...} body")
    val body = Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
    val parsed = JsonMethods.parse(body)
    val cypher = parsed \ "query" match {
      case JString(q) => q
      case _ => throw new IllegalArgumentException("missing query field")
    }
    def scalar(v: JValue): Any = v match {
      case JString(s) => s
      case JInt(i) => i.toLong
      case JLong(l) => l
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JBool(b) => b
      // map values — the reference's `$items` batches are arrays of
      // maps (/root/reference/neo4j.go:96,186-232)
      case JObject(fields) => fields.map { case (k, x) => k -> scalar(x) }.toMap
      case other =>
        throw new IllegalArgumentException(s"unsupported param value: $other")
    }
    val params: Map[String, Any] = parsed \ "params" match {
      case JObject(fields) => fields.map {
        case (k, JArray(items)) => k -> items.map(scalar)
        case (k, v) => k -> scalar(v)
      }.toMap
      case _ => Map.empty
    }
    val df = CypherEngine.query(store, cypher, params)
    // fetch cap+1 so the response can SAY it was cut, instead of
    // silently passing off a prefix as the whole result
    val rows = df.limit(queryRowCap + 1).collect()
    val truncated = rows.length > queryRowCap
    val shown = if (truncated) rows.take(queryRowCap) else rows
    val resp = JObject(
      "rows" -> rowsToJArray(shown, df.schema),
      "truncated" -> JBool(truncated))
    (200, JsonMethods.compact(JsonMethods.render(resp)))
  }

  private def parseEntities(body: String): Seq[graft.model.Entity] = {
    val trimmed = body.trim
    if (trimmed.startsWith("[")) {
      JsonMethods.parse(trimmed) match {
        case JArray(items) => items.map(EgdmCodec.parse)
        case _ => throw new IllegalArgumentException("expected entity array")
      }
    } else {
      trimmed.split("\n").filter(_.trim.nonEmpty).toSeq
        .map(EgdmCodec.parseLine)
    }
  }

  /** paginated-endpoint envelope: rows + an explicit truncation flag.
    * Truncated means the page was cut BELOW the client's requested
    * limit (the server cap bit) — a full page at the requested limit
    * is not truncation, even when more rows exist for the next keyset
    * page.
    */
  private def pagedJson(df: DataFrame, shown: Int, requested: Int): String = {
    val rows = df.limit(shown + 1).collect()
    val truncated = shown < requested && rows.length > shown
    JsonMethods.compact(JsonMethods.render(JObject(
      "rows" -> rowsToJArray(rows.take(shown), df.schema),
      "truncated" -> JBool(truncated))))
  }

  private def rowsToJArray(rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType): JArray = {
    def toJValue(v: Any): JValue = v match {
      case null => JNull
      case s: String => JString(s)
      case i: Int => JInt(i)
      case l: Long => JInt(l)
      case d: Double => JDouble(d)
      case b: Boolean => JBool(b)
      // a PV tagged value renders as its scalar (EGDM shape); list
      // values re-emit each element under its recorded type tag
      case r: Row if r.schema != null &&
          r.schema.fieldNames.sameElements(
            Array("s", "l", "d", "b", "a", "at")) =>
        if (!r.isNullAt(4)) {
          val tags = Option(r.getString(5))
          JArray(r.getSeq[String](4).toList.zipWithIndex.map {
            case (null, _) => JNull
            case (x, i) => tags.flatMap(_.lift(i)).getOrElse('s') match {
              case 'l' => JInt(BigInt(x))
              case 'd' => JDouble(x.toDouble)
              case 'b' => JBool(x.toBoolean)
              case _   => JString(x)
            }
          })
        } else (0 until 4).map(r.get).find(_ != null)
          .map(toJValue).getOrElse(JNull)
      case r: Row => JObject(r.schema.fieldNames.toList.zipWithIndex.map {
        case (n, i) => n -> toJValue(r.get(i))
      })
      // collection.{Map,Seq}: Spark hands back mutable wrappers that
      // are not Predef (immutable) types in Scala 2.13
      case m: scala.collection.Map[_, _] => JObject(m.toList.map { case (k, x) =>
        String.valueOf(k) -> toJValue(x)
      })
      case s: scala.collection.Seq[_] => JArray(s.toList.map(toJValue))
      case other => JString(String.valueOf(other))
    }
    val out = rows.map { r =>
      JObject(schema.fieldNames.toList.zipWithIndex.map { case (n, i) =>
        n -> toJValue(r.get(i))
      })
    }
    JArray(out.toList)
  }
}
