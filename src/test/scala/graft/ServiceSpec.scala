package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.LayerConfig
import graft.service.GraftService
import graft.store.GraphStore

/** Drives the REST shell over real HTTP: write (incremental + full
  * sync headers), paginated reads, change feed, Cypher query endpoint,
  * and the reference's error contracts (unknown dataset, bad body).
  */
class ServiceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private val configJson =
    """{
      "layer_config": {"port": "0", "service_name": "graft_test"},
      "system_config": {"system_type": "spark", "endpoint": "local",
                        "username": "u", "password": "p"},
      "dataset_definitions": [
        {"name": "people", "source_config": {"label": "Person", "batch_size": 1000}},
        {"name": "companies", "source_config": {"label": "Company", "batch_size": 1000}}
      ]
    }"""

  private lazy val service: GraftService = {
    val cfg = LayerConfig.fromJson(configJson)
      .fold(m => fail(s"config: $m"), identity)
    val svc = new GraftService(spark, cfg,
      Memo.tempDir("graft-svc"))
    svc.start()
    svc
  }

  private lazy val http = HttpClient.newHttpClient()
  private def base = s"http://localhost:${service.port}"

  private def get(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String,
      headers: Map[String, String] = Map.empty): (Int, String) = {
    var b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("dataset listing (layer.go:133-143)") {
    val (code, body) = get("/datasets")
    assert(code == 200)
    assert(body.contains("\"people\"") && body.contains("\"Person\""))
  }

  test("incremental write + paginated read + changes + cypher query") {
    val ndjson =
      """{"id":"urn:w1","props":{"urn:x#name":"alpha"},"refs":{"urn:x#worksfor":"urn:co1"}}
        |{"id":"urn:w2","props":{"urn:x#name":"beta"}}""".stripMargin
    val (wc, wb) = post("/datasets/people/entities", ndjson)
    assert(wc == 200, wb)
    assert(wb.contains("\"written\":2"))

    val (rc, rb) = get("/datasets/people/entities?limit=10")
    assert(rc == 200)
    assert(rb.contains("urn:w1") && rb.contains("urn:w2"))

    val (pc, pb) = get("/datasets/people/entities?from=urn:w1&limit=10")
    assert(pc == 200)
    assert(!pb.contains("\"urn:w1\"") && pb.contains("urn:w2"))

    val (cc, cb) = get("/datasets/people/changes?since=0&latestOnly=true")
    assert(cc == 200)
    assert(cb.contains("urn:w1"))

    val (qc, qb) = post("/query",
      """{"query": "MATCH (n:Person)-[r]->(m) RETURN n.gid AS gid, type(r) AS rel, m.gid AS target"}""")
    assert(qc == 200, qb)
    assert(qb.contains("\"gid\":\"urn:w1\"") &&
      qb.contains("\"rel\":\"worksfor\"") && qb.contains("urn:co1"))
  }

  test("write clauses over POST /query: CREATE, SET, DETACH DELETE") {
    val (c1, b1) = post("/query",
      """{"query": "CREATE (x:Person {gid: 'urn:http1', name: 'via-http'})"}""")
    assert(c1 == 200, b1)
    assert(b1.contains("\"nodes_created\":1"))
    val (c2, b2) = post("/query",
      """{"query": "MATCH (n:Person) WHERE n.gid = 'urn:http1' SET n.name = 'renamed'"}""")
    assert(c2 == 200, b2)
    assert(b2.contains("\"properties_set\":1"))
    val (c3, b3) = post("/query",
      """{"query": "MATCH (n:Person) WHERE n.gid = 'urn:http1' RETURN n.name AS name"}""")
    assert(c3 == 200, b3)
    assert(b3.contains("\"name\":\"renamed\""))
    // the reference's own cleanup form (layer_test.go:275-281)
    val (c4, b4) = post("/query",
      """{"query": "MATCH (n:Person) WHERE n.gid = 'urn:http1' DETACH DELETE n"}""")
    assert(c4 == 200, b4)
    assert(b4.contains("\"nodes_deleted\":1"))
    val (c5, b5) = post("/query",
      """{"query": "MATCH (n:Person) WHERE n.gid = 'urn:http1' RETURN n.gid AS gid"}""")
    assert(c5 == 200, b5)
    assert(!b5.contains("urn:http1"))
  }

  test("write + RETURN and UNION over POST /query") {
    val (c1, b1) = post("/query",
      """{"query": "MERGE (n {gid: 'urn:wr1'}) ON CREATE SET n.state = 'fresh' ON MATCH SET n.state = 'seen' RETURN n.gid AS gid, n.state AS state"}""")
    assert(c1 == 200, b1)
    assert(b1.contains("\"gid\":\"urn:wr1\"") &&
      b1.contains("\"state\":\"fresh\""))
    val (c2, b2) = post("/query",
      """{"query": "MERGE (n {gid: 'urn:wr1'}) ON CREATE SET n.state = 'fresh' ON MATCH SET n.state = 'seen' RETURN n.state AS state"}""")
    assert(c2 == 200, b2)
    assert(b2.contains("\"state\":\"seen\""))
    val (c3, b3) = post("/query",
      """{"query": "MATCH (n {gid: 'urn:wr1'}) RETURN n.gid AS id UNION MATCH (n {gid: 'urn:missing'}) RETURN n.gid AS id"}""")
    assert(c3 == 200, b3)
    assert(b3.contains("\"id\":\"urn:wr1\""))
    val (c4, b4) = post("/query",
      """{"query": "MATCH (n {gid: 'urn:wr1'}) CALL { WITH n MATCH (n) RETURN count(*) AS one } RETURN n.gid AS id, one"}""")
    assert(c4 == 200, b4)
    assert(b4.contains("\"id\":\"urn:wr1\"") && b4.contains("\"one\":1"))
    // cleanup
    post("/query", """{"query": "MATCH (n {gid: 'urn:wr1'}) DETACH DELETE n"}""")
  }

  test("the reference's UpdateNode template POSTs verbatim with a map-array $items (neo4j.go:102-109)") {
    val tpl = "UNWIND $items AS item " +
      "MERGE (n {gid: item.gid}) " +
      "WITH n, item " +
      "OPTIONAL MATCH (n)-[r]->() " +
      "DELETE r " +
      "SET n:Person " +
      "SET n = item"
    val (c1, b1) = post("/query",
      s"""{"query": "$tpl",
          "params": {"items": [
            {"gid": "urn:tpl1", "source": "people", "name": "alice", "age": 33},
            {"gid": "urn:tpl2", "source": "people", "name": "bob"}]}}""")
    assert(c1 == 200, b1)
    assert(b1.contains("\"nodes_created\":2"), b1)
    val (c2, b2) = post("/query",
      """{"query": "MATCH (n:Person) WHERE n.gid >= 'urn:tpl' AND n.gid <= 'urn:tpl~' RETURN n.gid AS gid, n.name AS name, toInteger(n.age) AS age, n.source AS src ORDER BY gid"}""")
    assert(c2 == 200, b2)
    assert(b2.contains("\"name\":\"alice\"") && b2.contains("\"age\":33") &&
      b2.contains("\"name\":\"bob\"") && b2.contains("\"src\":\"people\""), b2)
    // re-run replaces props wholesale (SET n = item, B6): age vanishes
    val (c3, b3) = post("/query",
      s"""{"query": "$tpl",
          "params": {"items": [
            {"gid": "urn:tpl1", "source": "people", "name": "ALICE"}]}}""")
    assert(c3 == 200, b3)
    val (_, b4) = post("/query",
      """{"query": "MATCH (n:Person) WHERE n.gid = 'urn:tpl1' RETURN n.name AS name, n.age AS age"}""")
    assert(b4.contains("\"name\":\"ALICE\"") && b4.contains("\"age\":null"), b4)
    post("/query",
      """{"query": "MATCH (n:Person) WHERE n.gid >= 'urn:tpl' AND n.gid <= 'urn:tpl~' DETACH DELETE n"}""")
  }

  test("full-sync headers truncate the slice (layer.go:196-209)") {
    post("/datasets/companies/entities",
      """{"id":"urn:co-old","props":{"urn:x#name":"Old"}}""")
    val (c2, _) = post("/datasets/companies/entities",
      """{"id":"urn:co-new","props":{"urn:x#name":"New"}}""",
      Map("universal-data-api-full-sync-start" -> "true",
        "universal-data-api-full-sync-id" -> "fs-1",
        "universal-data-api-full-sync-end" -> "true"))
    assert(c2 == 200)
    val (_, listed) = get("/datasets/companies/entities?limit=100")
    assert(listed.contains("urn:co-new") && !listed.contains("urn:co-old"))
  }

  test("EGDM-shaped entity read: refs rebuilt from edges, scalar props") {
    post("/datasets/people/entities",
      """{"id":"urn:e1","props":{"urn:x#name":"gamma","urn:x#age":7},"refs":{"urn:x#worksfor":["urn:co1","urn:co2"]}}""")
    val (code, body) = get("/datasets/people/entities?format=egdm&limit=100")
    assert(code == 200)
    // PV structs collapse to scalars; refs map rebuilt from edge rows
    assert(body.contains("\"name\":\"gamma\"") && body.contains("\"age\":7"))
    assert(body.contains("\"worksfor\":[\"urn:co1\",\"urn:co2\"]"))
  }

  test("full-sync session framing: start/continue/end, conflicts rejected") {
    // start opens session fs-A and truncates
    val (c1, _) = post("/datasets/companies/entities",
      """{"id":"urn:fs1","props":{"urn:x#name":"one"}}""",
      Map("universal-data-api-full-sync-start" -> "true",
        "universal-data-api-full-sync-id" -> "fs-A"))
    assert(c1 == 200)
    // a DIFFERENT sync interleaved into the open session is a conflict
    val (c2, b2) = post("/datasets/companies/entities",
      """{"id":"urn:evil","props":{}}""",
      Map("universal-data-api-full-sync-start" -> "true",
        "universal-data-api-full-sync-id" -> "fs-B"))
    assert(c2 == 409, b2)
    // continuation batch with the open id appends (no truncate)
    val (c3, _) = post("/datasets/companies/entities",
      """{"id":"urn:fs2","props":{"urn:x#name":"two"}}""",
      Map("universal-data-api-full-sync-id" -> "fs-A"))
    assert(c3 == 200)
    // end closes the session
    val (c4, _) = post("/datasets/companies/entities",
      """{"id":"urn:fs3","props":{"urn:x#name":"three"}}""",
      Map("universal-data-api-full-sync-id" -> "fs-A",
        "universal-data-api-full-sync-end" -> "true"))
    assert(c4 == 200)
    val (_, listed) = get("/datasets/companies/entities?limit=100")
    assert(listed.contains("urn:fs1") && listed.contains("urn:fs2") &&
      listed.contains("urn:fs3") && !listed.contains("urn:evil"))
    // session closed: a NEW full sync now succeeds and truncates
    val (c5, _) = post("/datasets/companies/entities",
      """{"id":"urn:fs4","props":{"urn:x#name":"four"}}""",
      Map("universal-data-api-full-sync-start" -> "true",
        "universal-data-api-full-sync-id" -> "fs-B",
        "universal-data-api-full-sync-end" -> "true"))
    assert(c5 == 200)
    val (_, after) = get("/datasets/companies/entities?limit=100")
    assert(after.contains("urn:fs4") && !after.contains("urn:fs1"))
  }

  test("full-sync replay idempotence: retried start/continuation do not re-apply") {
    // open session fs-R with one entity
    val (c1, _) = post("/datasets/companies/entities",
      """{"id":"urn:r1","props":{"urn:x#name":"one"}}""",
      Map("universal-data-api-full-sync-start" -> "true",
        "universal-data-api-full-sync-id" -> "fs-R"))
    assert(c1 == 200)
    // continuation batch appends r2
    val contBody = """{"id":"urn:r2","props":{"urn:x#name":"two"}}"""
    val (c2, _) = post("/datasets/companies/entities", contBody,
      Map("universal-data-api-full-sync-id" -> "fs-R"))
    assert(c2 == 200)
    // RETRIED start of the open session (client never saw the ack):
    // must be a no-op — NOT a re-truncate discarding r2
    val (c3, _) = post("/datasets/companies/entities",
      """{"id":"urn:r1","props":{"urn:x#name":"one"}}""",
      Map("universal-data-api-full-sync-start" -> "true",
        "universal-data-api-full-sync-id" -> "fs-R"))
    assert(c3 == 200)
    // retried continuation (identical body) hits the store's
    // last-syncId guard: same content key, no new version
    val (_, v1) = post("/datasets/companies/entities", contBody,
      Map("universal-data-api-full-sync-id" -> "fs-R"))
    val (_, v2) = post("/datasets/companies/entities", contBody,
      Map("universal-data-api-full-sync-id" -> "fs-R"))
    assert(v1 == v2, s"retried continuation re-applied: $v1 vs $v2")
    val (c4, _) = post("/datasets/companies/entities", "",
      Map("universal-data-api-full-sync-id" -> "fs-R",
        "universal-data-api-full-sync-end" -> "true"))
    assert(c4 == 200)
    val (_, listed) = get("/datasets/companies/entities?limit=100")
    assert(listed.contains("urn:r1") && listed.contains("urn:r2"),
      s"replayed start discarded applied batches: $listed")
  }

  test("percent-encoded keyset params decode before comparison") {
    post("/datasets/people/entities",
      """{"id":"urn:z1","props":{"urn:x#name":"zed"}}
        |{"id":"urn:z2","props":{"urn:x#name":"zee"}}""".stripMargin)
    // urn%3Az1 must decode to urn:z1 — an undecoded comparison would
    // return urn:z1 again (since "urn%3Az1" < "urn:z1" in byte order)
    val (pc, pb) = get("/datasets/people/entities?from=urn%3Az1&limit=100")
    assert(pc == 200)
    assert(!pb.contains("\"urn:z1\"") && pb.contains("urn:z2"))
  }

  test("config hot-reload: a new dataset appears without restart") {
    val file = java.nio.file.Paths.get(Memo.tempDir("graft-cfg"), "config.json")
    Files.write(file, configJson.getBytes("UTF-8"))
    val cfg = LayerConfig.fromJson(configJson)
      .fold(m => fail(s"config: $m"), identity)
    val svc = new GraftService(spark, cfg,
      Memo.tempDir("graft-svc-reload"),
      configFile = Some(file))
    val p = svc.start()
    try {
      def postTo(path: String, body: String): Int = {
        val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$p$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        r.statusCode()
      }
      assert(postTo("/datasets/projects/entities", """{"id":"urn:pr1"}""") == 404)
      // add a dataset to the config file, refresh, retry — no restart
      Files.write(file, configJson.replace(
        """{"name": "people",""",
        """{"name": "projects", "source_config": {"label": "Project", "batch_size": 10}},
           {"name": "people",""").getBytes("UTF-8"))
      svc.refreshNow()
      assert(postTo("/datasets/projects/entities", """{"id":"urn:pr1"}""") == 200)
    } finally svc.stop()
  }

  test("over-cap /query responses carry truncated=true") {
    val cfg = LayerConfig.fromJson(configJson)
      .fold(m => fail(s"config: $m"), identity)
    val svc = new GraftService(spark, cfg,
      Memo.tempDir("graft-svc-cap"),
      queryRowCap = 2)
    val p = svc.start()
    try {
      def req(path: String, body: String): String = {
        val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$p$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        r.body()
      }
      req("/datasets/people/entities",
        """{"id":"urn:t1"}
          |{"id":"urn:t2"}
          |{"id":"urn:t3"}""".stripMargin)
      val over = req("/query",
        """{"query": "MATCH (n:Person) RETURN n.gid AS gid"}""")
      assert(over.contains("\"truncated\":true"), over)
      val under = req("/query",
        """{"query": "MATCH (n:Person) RETURN n.gid AS gid LIMIT 1"}""")
      assert(under.contains("\"truncated\":false"), under)
    } finally svc.stop()
  }

  test("/entities and /changes carry truncated=true on over-cap pages") {
    // a second service with a tiny row cap, so the over-cap case is
    // cheap to construct
    val cfg = LayerConfig.fromJson(configJson)
      .fold(m => fail(s"config: $m"), identity)
    val small = new GraftService(spark, cfg,
      Memo.tempDir("graft-svc-cap"),
      queryRowCap = 3)
    small.start()
    try {
      val base2 = s"http://localhost:${small.port}"
      def get2(path: String): String =
        http.send(HttpRequest.newBuilder(URI.create(base2 + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
      val body = (1 to 5).map(i =>
        s"""{"id":"urn:cap$i","props":{"urn:x#name":"v$i"}}""").mkString("\n")
      val r = http.send(HttpRequest.newBuilder(URI.create(base2 + "/datasets/people/entities"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      // limit above the cap: page cut at the cap and SAYS so
      val over = get2("/datasets/people/entities?limit=50")
      assert(over.contains("\"truncated\":true"), over)
      assert(over.contains("urn:cap3") && !over.contains("urn:cap4"), over)
      // limit under the cap: full page, not truncated
      val under = get2("/datasets/people/entities?limit=2")
      assert(under.contains("\"truncated\":false"), under)
      // changes feed gets the same envelope
      val ch = get2("/datasets/people/changes?limit=50")
      assert(ch.contains("\"truncated\":true"), ch)
      val chUnder = get2("/datasets/people/changes?limit=3&since=0")
      assert(chUnder.contains("\"truncated\":"), chUnder)
    } finally small.stop()
  }

  test("a JSON-array body commits the same rows as the same entities in NDJSON") {
    val ents = Seq(
      """{"id":"urn:ar1","props":{"urn:x#name":"one","urn:x#tags":[1,true,"t"]},"refs":{"urn:x#knows":["urn:ar2","urn:ar3"]}}""",
      """{"id":"urn:ar2","deleted":false,"props":{"urn:x#score":2.5},"refs":{"urn:x#knows":"urn:ar1"}}""",
      """{"id":"urn:ar3","props":{"urn:x#n":7}}""")
    // each body goes to a fresh service on its own store; the rows
    // are compared without `recorded`, the commit's wall-clock stamp
    def committed(body: String): (Set[Row], Set[Row]) = {
      val cfg = LayerConfig.fromJson(configJson)
        .fold(m => fail(s"config: $m"), identity)
      val dir = Memo.tempDir("graft-svc-body")
      val svc = new GraftService(spark, cfg, dir)
      svc.start()
      try {
        val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${svc.port}/datasets/people/entities"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200, r.body())
        assert(r.body().contains("\"written\":3"), r.body())
      } finally svc.stop()
      val st = new GraphStore(dir, spark)
      (st.nodes.drop("recorded").collect().toSet,
        st.edges.drop("recorded").collect().toSet)
    }
    val (arrayNodes, arrayEdges) = committed(ents.mkString("[", ",", "]"))
    val (lineNodes, lineEdges) = committed(ents.mkString("\n"))
    assert(arrayNodes.size == 3 && arrayEdges.size == 3)
    assert(arrayNodes == lineNodes)
    assert(arrayEdges == lineEdges)
  }

  test("error contracts: unknown dataset 404, bad inputs 400") {
    val (c1, b1) = post("/datasets/nope/entities", """{"id":"urn:x"}""")
    assert(c1 == 404 && b1.contains("dataset not found"))
    val (cc, _) = get("/datasets/nope/changes")
    assert(cc == 404)
    // per-dataset scoping: people's feed never shows Company rows
    val (_, peopleChanges) = get("/datasets/people/changes?limit=1000")
    assert(!peopleChanges.contains("urn:co-new"))
    val (c2, _) = post("/query", """{"nope": 1}""")
    assert(c2 == 400)
    val (c3, b3) = post("/query", """{"query": "GARBAGE QUERY"}""")
    assert(c3 == 400, b3)
    val (c4, _) = post("/datasets/people/entities", """{"noid": true}""")
    assert(c4 == 400)
  }
}
