package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Entity, PV}
import graft.ops.{GraphDataset, GraphMerge, GraphRead}
import graft.store.GraphStore

/** Ports the reference's two integration scenarios exactly
  * (/root/reference/layer_test.go): full-sync replacement semantics
  * incl. stub survival (layer_test.go:76-231) and incremental write +
  * cross-dataset stub promotion (layer_test.go:297-427). Oracle =
  * DataFrame queries replicating layer_test.go:117.
  */
class GraphMergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private def freshStore(): GraphStore =
    new GraphStore(Memo.tempDir("graft-store"), spark,
      numBuckets = 2)

  /** makeEntity (/root/reference/layer_test.go:437-443) */
  private def brian: Entity =
    Entity("http://data.sample.org/things/1")
      .withProp("http://data.sample.org/name", "brian")
      .withProp("http://data.sample.org/age", 23)
      .withRef("http://data.sample.org/worksfor",
        "http://data.sample.org/things/mimiro")

  private def propsOf(row: Row): Map[String, Any] =
    row.getMap[String, Row](row.fieldIndex("props")).map { case (k, pv) =>
      k -> Seq(pv.get(0), pv.get(1), pv.get(2), pv.get(3))
        .find(_ != null).orNull
    }.toMap

  test("full sync writes node, edge, stub; oracle query matches (layer_test.go:76-157)") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.fullSync(Seq(brian), syncId = "sync-1")

    val rows = GraphRead.collectRelationships(store, "Person", "people").collect()
    assert(rows.length == 1)
    val n = rows.head
    assert(n.getAs[String]("gid") == "http://data.sample.org/things/1")
    assert(propsOf(n) == Map("name" -> "brian", "age" -> 23L))
    val rels = n.getSeq[Row](n.fieldIndex("relationships"))
    assert(rels.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("worksfor", "http://data.sample.org/things/mimiro")))

    // stub target node exists, bare (no label/source/props)
    val stub = store.nodes
      .filter($"gid" === "http://data.sample.org/things/mimiro").collect()
    assert(stub.length == 1)
    assert(stub.head.getAs[String]("label") == null)
    assert(stub.head.getAs[String]("source") == null)
  }

  test("resync replaces props, drops edges, keeps stub (layer_test.go:164-231)") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.fullSync(Seq(brian))

    // second full sync: renamed, no refs (layer_test.go:165-166)
    val renamed = Entity("http://data.sample.org/things/1")
      .withProp("http://data.sample.org/name", "John Doe")
    ds.fullSync(Seq(renamed))

    val rows = GraphRead.collectRelationships(store, "Person", "people").collect()
    assert(rows.length == 1)
    val n = rows.head
    // full property replacement — age gone, not merged (layer_test.go:210-219)
    assert(propsOf(n) == Map("name" -> "John Doe"))
    // zero-match OPTIONAL MATCH yields [{null, null}] (layer_test.go:222-231)
    val rels = n.getSeq[Row](n.fieldIndex("relationships"))
    assert(rels.map(r => (r.getString(0), r.getString(1))) ==
      Seq((null, null)))
    // the mimiro stub survives the truncate (no label/source)
    assert(store.nodes
      .filter($"gid" === "http://data.sample.org/things/mimiro")
      .count() == 1)
    // outgoing edge dropped
    assert(store.edges.count() == 0)
  }

  test("incremental write + cross-dataset stub promotion (layer_test.go:297-427)") {
    val store = freshStore()
    val people = new GraphDataset(store, spark, "people", "Person")
    people.incremental(Seq(brian))

    // companies dataset writes the entity the stub stood for
    // (layer_test.go:366-388): MERGE onto the stub gid promotes it.
    val mimiro = Entity("http://data.sample.org/things/mimiro")
      .withProp("http://data.sample.org/name", "Mimiro")
    val companies = new GraphDataset(store, spark, "companies", "Company")
    companies.incremental(Seq(mimiro))

    val promoted = store.nodes
      .filter($"gid" === "http://data.sample.org/things/mimiro").collect()
    assert(promoted.length == 1) // still one node — merged, not duplicated
    assert(promoted.head.getAs[String]("label") == "Company")
    assert(promoted.head.getAs[String]("source") == "companies")
    // person's edge to it still present
    assert(store.edges.filter($"relType" === "worksfor").count() == 1)
  }

  test("tombstone delete cascades incident edges both directions (neo4j.go:95-99)") {
    val store = freshStore()
    val people = new GraphDataset(store, spark, "people", "Person")
    val e1 = Entity("urn:a").withRef("urn:rel#knows", "urn:b")
    val e2 = Entity("urn:b").withRef("urn:rel#knows", "urn:a")
    people.incremental(Seq(e1, e2))
    assert(store.edges.count() == 2)

    people.incremental(Seq(Entity("urn:b", deleted = true)))
    assert(store.nodes.filter($"gid" === "urn:b").count() == 0)
    assert(store.edges.count() == 0) // both a→b and b→a gone
    assert(store.nodes.filter($"gid" === "urn:a").count() == 1)
  }

  test("last entity wins within a batch; syncId replay is idempotent") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    val v1 = Entity("urn:x").withProp("urn:p#v", 1)
    val v2 = Entity("urn:x").withProp("urn:p#v", 2)
    val ver = ds.incremental(Seq(v1, v2), syncId = "s1")
    val got = store.nodes.filter($"gid" === "urn:x").collect().head
    assert(propsOf(got) == Map("v" -> 2L))
    // replaying the same syncId commits nothing new
    val ver2 = ds.incremental(Seq(v1, v2), syncId = "s1")
    assert(ver2 == ver)
  }

  test("edge upsert is idempotent across batches (MERGE semantics, neo4j.go:116-123)") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    val e = Entity("urn:a").withRef("urn:r#knows", "urn:b")
    ds.incremental(Seq(e))
    ds.incremental(Seq(e))
    assert(store.edges.count() == 1)
  }

  test("changes feed: since/limit/latestOnly (layer.go:257-260 contract)") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.incremental(Seq(Entity("urn:a").withProp("urn:p#v", 1)))
    val afterFirst = store.currentVersion
    ds.incremental(Seq(Entity("urn:a").withProp("urn:p#v", 2),
      Entity("urn:b").withProp("urn:p#v", 3)))

    val all = GraphRead.changes(store).collect()
    assert(all.length == 2) // urn:a rewritten at v2, urn:b at v2
    val latest = GraphRead.changes(store, latestOnly = true).collect()
    assert(latest.map(_.getAs[String]("gid")).toSet == Set("urn:a", "urn:b"))
    val sinceV1 = GraphRead.changes(store, since = afterFirst).collect()
    assert(sinceV1.map(_.getAs[String]("gid")).toSet == Set("urn:a", "urn:b"))
  }

  test("changes feed compound keyset: no rows lost when limit cuts a version") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    // one commit writes 5 entities, all with the same recorded version
    ds.incremental((1 to 5).map(i => Entity(f"urn:k$i")))
    val page1 = GraphRead.changes(store, limit = 2).collect()
    assert(page1.length == 2)
    val (lastV, lastG) = (page1.last.getAs[Long]("recorded"),
      page1.last.getAs[String]("gid"))
    val page2 = GraphRead.changes(store, since = lastV, afterGid = lastG,
      limit = 10).collect()
    // the remaining 3 of the same version are NOT skipped
    assert(page2.map(_.getAs[String]("gid")).toSeq ==
      Seq("urn:k3", "urn:k4", "urn:k5"))
  }

  test("changes feed filters by dataset label+source") {
    val store = freshStore()
    new GraphDataset(store, spark, "people", "Person")
      .incremental(Seq(Entity("urn:pp1")))
    new GraphDataset(store, spark, "companies", "Company")
      .incremental(Seq(Entity("urn:cc1")))
    val onlyPeople = GraphRead.changes(store,
      labelSource = Some(("Person", "people"))).collect()
    assert(onlyPeople.map(_.getAs[String]("gid")).toSeq == Seq("urn:pp1"))
  }

  test("incremental commit re-links untouched partitions' files unchanged") {
    val store = freshStore()
    // seed two label partitions with refs (so edge partitions exist too)
    new GraphDataset(store, spark, "people", "Person")
      .incremental(Seq(Entity("urn:p1").withRef("urn:r#knows", "urn:p2")))
    new GraphDataset(store, spark, "companies", "Company")
      .incremental(Seq(Entity("urn:c1").withProp("urn:p#name", "acme")))

    def files(table: String, prefix: String): Map[String, Seq[String]] =
      store.manifestFiles(table).filter(_._1.startsWith(prefix))
    val personFiles = files("nodes", "label=Person/")
    val knowsFiles = files("edges", "relType=knows/")
    assert(personFiles.nonEmpty && knowsFiles.nonEmpty)
    val mtimes = personFiles.values.flatten.map(f => f ->
      Files.getLastModifiedTime(java.nio.file.Paths.get(store.root, f))).toMap

    // a 1-entity Company batch with no refs must not rewrite Person
    // nodes or knows edges — same files re-linked in the new manifest
    new GraphDataset(store, spark, "companies", "Company")
      .incremental(Seq(Entity("urn:c2").withProp("urn:p#name", "globex")))

    assert(files("nodes", "label=Person/") == personFiles)
    assert(files("edges", "relType=knows/") == knowsFiles)
    personFiles.values.flatten.foreach { f =>
      assert(Files.getLastModifiedTime(
        java.nio.file.Paths.get(store.root, f)) == mtimes(f))
    }
    // and the touched partition did change
    assert(store.nodes.filter($"label" === "Company").count() == 2)
    // cross-partition correctness: a Company batch deleting a Person gid
    // dirties the Person partition via touched-file detection
    new GraphDataset(store, spark, "companies", "Company")
      .incremental(Seq(Entity("urn:p1", deleted = true)))
    assert(store.nodes.filter($"gid" === "urn:p1").count() == 0)
    assert(store.edges.filter($"relType" === "knows").count() == 0)
  }

  test("1-entity batch rewrites only its gid's bucket; siblings re-link") {
    val store = freshStore() // numBuckets = 2
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.incremental((1 to 8).map(i => Entity(s"urn:p$i")))
    val before = store.manifestFiles("nodes")
      .filter(_._1.startsWith("label=Person/"))
    assert(before.size == 2, s"expected both buckets populated: $before")
    val mtimes = before.values.flatten.map(f => f ->
      Files.getLastModifiedTime(java.nio.file.Paths.get(store.root, f))).toMap

    ds.incremental(Seq(Entity("urn:p1").withProp("urn:x#version", 2)))

    val after = store.manifestFiles("nodes")
      .filter(_._1.startsWith("label=Person/"))
    val changed = (after.keySet ++ before.keySet)
      .filter(k => after.get(k) != before.get(k))
    assert(changed.size == 1, s"exactly one bucket rewritten: $changed")
    // the untouched bucket's manifest entry re-links the same immutable
    // files, bytes untouched
    (after.keySet -- changed).foreach { k =>
      assert(after(k) == before(k))
      after(k).foreach(f => assert(Files.getLastModifiedTime(
        java.nio.file.Paths.get(store.root, f)) == mtimes(f)))
    }
    // and the data is correct: all 8 rows, p1 updated
    assert(store.nodes.filter($"label" === "Person").count() == 8)
    val p1 = store.nodes.filter($"gid" === "urn:p1").collect().head
    assert(propsOf(p1) == Map("version" -> 2L))
  }

  test("persisted bucket count wins over the constructor arg; rebucket") {
    val store = freshStore() // numBuckets = 2
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.incremental((1 to 8).map(i => Entity(s"urn:p$i")))
    val dataBefore = store.nodes.orderBy($"gid").collect().toSeq

    // re-open with a DIFFERENT constructor count: the on-disk count
    // must win, or every hash(gid) % numBuckets probe would prune the
    // wrong directories
    val reopened = new GraphStore(store.root, spark, numBuckets = 8)
    assert(reopened.bucketCount == 2)
    // probe correctness through the adopted count: a 1-entity
    // incremental rewrite still touches exactly one bucket
    val before = reopened.manifestFiles("nodes")
      .filter(_._1.startsWith("label=Person/"))
    new GraphDataset(reopened, spark, "people", "Person")
      .incremental(Seq(Entity("urn:p1").withProp("urn:x#v", 2)))
    val after = reopened.manifestFiles("nodes")
      .filter(_._1.startsWith("label=Person/"))
    assert((after.keySet ++ before.keySet)
      .count(k => after.get(k) != before.get(k)) == 1)

    // rebucket: same rows, new layout, count persisted for later opens
    val v = reopened.rebucket(4)
    assert(v == reopened.currentVersion && reopened.bucketCount == 4)
    val keys = reopened.manifestFiles("nodes").keySet
    assert(keys.forall(k => (0 until 4).exists(b => k.endsWith(s"/bucket=$b"))),
      s"unexpected keys: $keys")
    assert(keys.size > 2, s"8 gids over 4 buckets should spread: $keys")
    val dataAfter = reopened.nodes.orderBy($"gid").collect().toSeq
    assert(dataAfter.map(_.getString(0)) == dataBefore.map(_.getString(0)))
    val p1 = dataAfter.find(_.getString(0) == "urn:p1").get
    assert(propsOf(p1) == Map("v" -> 2L)) // the pre-rebucket update holds
    assert(new GraphStore(store.root, spark, numBuckets = 16).bucketCount == 4)
  }

  test("retried commit ignores a failed attempt's stale seg files") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.incremental(Seq(Entity("urn:p1"), Entity("urn:p2")))
    val v = store.currentVersion
    // simulate a commit that wrote files but died before the pointer
    // flip: plant a REAL parquet file (a copy of the current Person
    // partition) inside the next version's segment directory
    val personFile = store.manifestFiles("nodes")
      .filter(_._1.startsWith("label=Person/")).values.flatten.head
    val garbageDir = java.nio.file.Paths.get(
      store.root, "data", "nodes", s"seg=${v + 1}", "label=Person")
    Files.createDirectories(garbageDir)
    Files.copy(java.nio.file.Paths.get(store.root, personFile),
      garbageDir.resolve("part-stale.snappy.parquet"))
    // the retried commit must not fold the stale file into its manifest
    ds.incremental(Seq(Entity("urn:p3")))
    assert(store.currentVersion == v + 1)
    assert(store.nodes.filter($"label" === "Person").count() == 3)
    assert(store.nodes.select("gid").distinct().count() == 3)
  }

  test("vacuum drops old snapshots, keeps the readable window") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    (1 to 4).foreach(i => ds.incremental(Seq(Entity(s"urn:v$i"))))
    assert(store.currentVersion == 4)
    val removed = store.vacuum(keep = 2)
    assert(removed == Seq(1L, 2L))
    // current version still fully readable
    assert(store.nodes.count() == 4)
    // idempotent
    assert(store.vacuum(keep = 2).isEmpty)
  }

  test("entities pagination: keyset on gid (layer.go:262-265 contract)") {
    val store = freshStore()
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.incremental((1 to 5).map(i => Entity(s"urn:n$i")))
    val page1 = GraphRead.entities(store, "Person", "people", limit = 2)
      .collect().map(_.getAs[String]("gid"))
    assert(page1.toSeq == Seq("urn:n1", "urn:n2"))
    val page2 = GraphRead.entities(store, "Person", "people",
      from = page1.last, limit = 2).collect().map(_.getAs[String]("gid"))
    assert(page2.toSeq == Seq("urn:n3", "urn:n4"))
  }

  test("maintain(): bucket watermark rebuckets, fragmentation compacts, vacuum reclaims") {
    val store = new GraphStore(
      Memo.tempDir("graft-maint"), spark,
      numBuckets = 2)
    val ds = new GraphDataset(store, spark, "people", "Person")
    // an incremental chain: growing data + per-key file fragmentation
    (1 to 5).foreach(i => ds.incremental(Seq(
      Entity(s"urn:m$i").withProp("urn:x#name", "x" * 200)
        .withRef("urn:x#knows", s"urn:m${i % 5 + 1}"))))
    val contentBefore = store.nodes.select("gid").collect()
      .map(_.getString(0)).sorted.toSeq
    // 1-byte target forces the watermark: the count doubles to the cap
    val r1 = store.maintain(targetBucketBytes = 1L, maxBuckets = 8,
      keep = 1)
    assert(r1.rebucketedTo.contains(8) && store.bucketCount == 8, r1)
    assert(!r1.compacted) // the rebucket already rewrote everything
    // a second chain scatters files over segments; a huge size target
    // with a tight segment cap triggers compaction instead
    (6 to 9).foreach(i => ds.incremental(Seq(Entity(s"urn:m$i"))))
    val r2 = store.maintain(targetBucketBytes = Long.MaxValue,
      maxSegments = 2, keep = 1)
    assert(r2.compacted && r2.rebucketedTo.isEmpty, r2)
    assert(r2.vacuumed.nonEmpty) // the pre-compact chain is reclaimed
    val segsAfter = store.manifestFiles("nodes").values.flatten
      .flatMap(_.split("/").find(_.startsWith("seg="))).toSet
    assert(segsAfter.size == 1, s"compact left segments: $segsAfter")
    // a settled store is a no-op pass
    val r3 = store.maintain(keep = 1)
    assert(r3.rebucketedTo.isEmpty && !r3.compacted, r3)
    // content and the reverse index survive every step
    assert(store.nodes.select("gid").collect()
      .map(_.getString(0)).sorted.toSeq ==
      (contentBefore ++ (6 to 9).map(i => s"urn:m$i")).sorted)
    assert(redgeKeys(store) == edgeKeys(store))
  }

  // ---- reverse-edge index (the incoming-probe prune path) ----

  private def edgeKeys(st: GraphStore): Set[(String, String, String)] =
    st.edges.select("src", "dst", "relType").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def redgeKeys(st: GraphStore): Set[(String, String, String)] =
    st.redges.select("src", "dst", "relType").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("reverse-edge index stays consistent across every write path") {
    val store = new GraphStore(
      Memo.tempDir("graft-redges"), spark,
      numBuckets = 4)
    val ds = new GraphDataset(store, spark, "people", "Person")
    // initial load: a hub with many incoming edges + spread-out dsts
    ds.fullSync((1 to 12).map(i =>
      Entity(s"urn:e$i").withRef("urn:x#knows", "urn:hub")
        .withRef("urn:x#likes", s"urn:t${i % 5}")))
    assert(store.redgesReady)
    assert(redgeKeys(store) == edgeKeys(store), "after initial load")
    // incremental upsert replaces one node's outgoing edges (B4)
    ds.incremental(Seq(
      Entity("urn:e1").withRef("urn:x#knows", "urn:t0")))
    assert(redgeKeys(store) == edgeKeys(store), "after edge replacement")
    // tombstone: incoming edges of the hub cascade via the index probe
    ds.incremental(Seq(Entity("urn:hub", deleted = true)))
    assert(store.edges.filter($"dst" === "urn:hub").isEmpty)
    assert(redgeKeys(store) == edgeKeys(store), "after tombstone cascade")
    // Cypher-path delete (applyWrite DeleteNodes, pruned probe)
    GraphMerge.deleteMatched(store,
      Some(Seq("urn:t0").toDF("gid")), None, detach = true)
    assert(redgeKeys(store) == edgeKeys(store), "after deleteMatched")
    // maintenance paths rebuild the index wholesale
    store.compact()
    assert(redgeKeys(store) == edgeKeys(store), "after compact")
    store.rebucket(2)
    assert(redgeKeys(store) == edgeKeys(store), "after rebucket")
  }

  test("incoming-edge probes read only the probed dst bucket's files") {
    val store = new GraphStore(
      Memo.tempDir("graft-redges-prune"), spark,
      numBuckets = 4)
    val ds = new GraphDataset(store, spark, "people", "Person")
    ds.fullSync((1 to 16).map(i =>
      Entity(s"urn:e$i").withRef("urn:x#knows", s"urn:t${i % 8}")))
    // the index spreads dsts over several bucket directories
    val rman = store.manifestFiles("redges")
    assert(rman.keys.map(_.split("/bucket=").last).toSet.size > 1,
      s"index not spread over buckets: ${rman.keys}")
    val totalFiles = rman.values.flatten.size
    // a single-dst probe (what a 1-entity tombstone runs) prunes at the
    // directory level: the scan reads only that bucket's files
    val doomed = "urn:t3"
    // assert the AT-SCALE plan shape: bypass the tiny-store
    // LocalRelation fast path so the parquet scan (and its directory
    // pruning) is what plans
    store.localizeTinyTables = false
    val b = store.redges.sparkSession.range(1)
      .select(store.bucketOf(org.apache.spark.sql.functions.lit(doomed)))
      .head().getInt(0)
    val probe = store.redgesWithBucket.filter($"bucket" === b)
    probe.collect()
    val scans = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val bucketFiles = rman.filter(_._1.endsWith(s"bucket=$b"))
      .values.flatten.size
    assert(filesRead == bucketFiles && filesRead < totalFiles,
      s"probe read $filesRead files; bucket has $bucketFiles of $totalFiles")
    // and the pruned tombstone commit stays correct end to end
    store.localizeTinyTables = true
    ds.incremental(Seq(Entity(doomed, deleted = true)))
    assert(store.edges.filter($"dst" === doomed).isEmpty)
    assert(redgeKeys(store) == edgeKeys(store))
  }

  test("relType rename keeps edge identity unique (converge + collide)") {
    import graft.ops.GraphMerge.WriteEffect.PatchEdges
    val st = freshStore()
    val ds = new GraphDataset(st, spark, "people", "Person")
    ds.incremental(Seq(
      Entity("urn:a")
        .withRef("urn:x#acted_in", "urn:b")
        .withRef("urn:x#directed", "urn:b")
        .withRef("urn:x#knows", "urn:b")))
    def keys = st.edges.select("src", "dst", "relType").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    // two renames converging onto one identity → one merged row
    GraphMerge.applyWrite(st, Seq(PatchEdges(Seq(
      ("urn:a", "urn:b", "acted_in", "worked_on"),
      ("urn:a", "urn:b", "knows", "worked_on"))
      .toDF("src", "dst", "relType", "new_relType"))))
    assert(keys == Seq(("urn:a", "urn:b", "directed"),
      ("urn:a", "urn:b", "worked_on")))
    // rename colliding with an untouched existing identity → merged
    GraphMerge.applyWrite(st, Seq(PatchEdges(Seq(
      ("urn:a", "urn:b", "worked_on", "directed"))
      .toDF("src", "dst", "relType", "new_relType"))))
    assert(keys == Seq(("urn:a", "urn:b", "directed")))
  }
}
