package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherEngine
import graft.store.{GraphStore, IndexDef, SearchIndexes}

/** CREATE VECTOR/FULLTEXT INDEX DDL, the db.index.*.queryNodes
  * procedures, bounded per-commit maintenance, and persistence
  * across a store reopen (build once, query without training).
  */
class SearchIndexSpec extends AnyFunSuite {
  private val spark = SparkTestSession.get

  /** deterministic 4-dim vector of node i */
  private def vec(i: Int): Seq[Double] =
    Seq(i / 7.0, (i % 5).toDouble, (i % 3).toDouble, 1.0)

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  private def vecLit(v: Seq[Double]): String =
    v.mkString("[", ", ", "]")

  private def newStore(tag: String): GraphStore =
    new GraphStore(
      Files.createTempDirectory(s"graft-sidx-$tag").toString, spark, 4)

  test("vector index: DDL, probe query, incremental maintenance") {
    val st = newStore("vec")
    val n = 40
    val create = (1 to n).map(i =>
      s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}})")
    val sess = CypherEngine.session(st)
    create.foreach(q => sess.run(q).collect())
    sess.commit()
    CypherEngine.query(st,
      """CREATE VECTOR INDEX vidx IF NOT EXISTS FOR (m:Emb) ON (m.v)
        |OPTIONS {indexConfig: {`vector.dimensions`: 4,
        |  `vector.similarity_function`: 'cosine'}}""".stripMargin)
      .collect()
    val d = st.indexDef("vidx").get
    assert(d.kind == "vector" && d.label == "Emb" && d.property == "v")
    assert(d.centroids.nonEmpty, "quantizer trained at DDL")
    assert(d.dims == 4)
    assert(st.searchIndexReady(d))
    // index rows cover every vector-bearing node exactly once
    val idxRows = st.readSearchIndex(d, _ => true)
    assert(idxRows.count() == n)

    val q7 = vec(7)
    val rows = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('vidx', 5, ${vecLit(q7)})
         |YIELD node, score
         |RETURN node.gid AS gid, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.length == 5)
    // self-match first, scores descending; every score is Neo4j 5's
    // normalized cosine (1+cos)/2 in [0,1]
    assert(rows.head._1 == "e:7")
    assert(math.abs(rows.head._2 - 1.0) < 1e-9)
    assert(rows.map(_._2).toSeq.sliding(2).forall(
      w => w.length < 2 || w(0) >= w(1)))
    rows.foreach { case (gid, s) =>
      val i = gid.drop(2).toInt
      assert(math.abs(s - (1.0 + cosine(q7, vec(i))) / 2.0) < 1e-9, gid)
    }

    // incremental: a new node with e:7's exact vector must appear
    CypherEngine.query(st,
      s"CREATE (:Emb {gid: 'e:99', v: ${vecLit(vec(7))}})").collect()
    assert(st.readSearchIndex(d, _ => true).count() == n + 1)
    val rows2 = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('vidx', 2, ${vecLit(q7)})
         |YIELD node, score RETURN node.gid AS gid""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows2.toSeq == Seq("e:7", "e:99"))

    // delete: the removed node leaves the index
    CypherEngine.query(st,
      "MATCH (m:Emb {gid: 'e:99'}) DELETE m").collect()
    val gidsAfter = st.readSearchIndex(d, _ => true)
      .select("gid").collect().map(_.getString(0)).toSet
    assert(!gidsAfter.contains("e:99") && gidsAfter.size == n)
  }

  test("vector index: reopen queries without retraining") {
    val root = Files.createTempDirectory("graft-sidx-reopen").toString
    val st = new GraphStore(root, spark, 4)
    val sess = CypherEngine.session(st)
    (1 to 30).foreach(i => sess.run(
      s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}})").collect())
    sess.commit()
    CypherEngine.query(st,
      "CREATE VECTOR INDEX vidx FOR (m:Emb) ON (m.v)").collect()
    val q = vec(11)
    val expect = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('vidx', 3, ${vecLit(q)})
         |YIELD node, score RETURN node.gid AS gid""".stripMargin)
      .collect().map(_.getString(0)).toSeq

    // fresh store handle (new process analog): centroids come from the
    // sidecar, assignments from the manifest table — no training jobs
    val st2 = new GraphStore(root, spark, 4)
    assert(st2.indexDef("vidx").exists(_.centroids.nonEmpty))
    val jobs = SparkCounts.jobs(spark) {
      val got = CypherEngine.query(st2,
        s"""CALL db.index.vector.queryNodes('vidx', 3, ${vecLit(q)})
           |YIELD node, score RETURN node.gid AS gid""".stripMargin)
        .collect().map(_.getString(0)).toSeq
      assert(got == expect)
    }
    // training alone is TrainIters+1 collects over the corpus; a pure
    // probe query stays a handful of scan/collect jobs
    assert(jobs <= 8, s"too many jobs for a probe query: $jobs")
  }

  test("fulltext index: DDL, BM25 parity, term-bucket pruning, delta") {
    val st = newStore("ft")
    val docs = Map(
      "d:1" -> "spark join hash join",
      "d:2" -> "hash partition spark",
      "d:3" -> "sort merge join algorithm",
      "d:4" -> "filter scan pushdown",
      "d:5" -> "spark spark spark hash")
    val sess = CypherEngine.session(st)
    docs.foreach { case (g, t) =>
      sess.run(s"CREATE (:Doc {gid: '$g', body: '$t'})").collect() }
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX fidx FOR (x:Doc) ON EACH [x.body]").collect()
    val d = st.indexDef("fidx").get
    assert(st.searchIndexReady(d))

    // stats row: N docs and total token count
    val stats = st.readSearchIndex(d, _.startsWith("sect=s"))
      .filter("gid = '__stats'").collect().head
    assert(stats.getLong(3) == docs.size)
    assert(stats.getLong(4) ==
      docs.values.map(_.split("\\s+").length.toLong).sum)

    // term-bucket pruning: the probe reads a strict subset of files
    val terms = Seq("spark", "hash")
    val probeFiles = st.readSearchIndex(d, st.ftProbeKeys(terms))
      .inputFiles.toSet
    val allFiles = st.readSearchIndex(d, _ => true).inputFiles.toSet
    assert(probeFiles.subsetOf(allFiles))
    assert(probeFiles.size < allFiles.size,
      s"probe read everything: ${probeFiles.size}/${allFiles.size}")

    // BM25 parity with a scala-side computation
    def bm25(q: Seq[String]): Map[String, Double] = {
      val n = docs.size
      val dls = docs.view.mapValues(_.split("\\s+").length).toMap
      val avgdl = dls.values.sum.toDouble / n
      docs.keys.map { g =>
        val words = docs(g).split("\\s+").toSeq
        val score = q.distinct.map { t =>
          val tf = words.count(_ == t).toDouble
          if (tf == 0) 0.0
          else {
            val dfq = docs.values.count(_.split("\\s+").contains(t))
            val idf = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
            idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls(g) / avgdl))
          }
        }.sum
        g -> score
      }.toMap.filter(_._2 > 0)
    }
    val got = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fidx', 'spark hash')
        |YIELD node, score
        |RETURN node.gid AS gid, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = bm25(Seq("spark", "hash"))
    assert(got.map(_._1).toSet == want.keySet)
    got.foreach { case (g, s) =>
      assert(math.abs(s - want(g)) < 1e-9, g) }
    // ordered by score desc
    assert(got.map(_._2).toSeq.sliding(2).forall(
      w => w.length < 2 || w(0) >= w(1)))

    // delta: updating a doc's text moves its postings and the stats
    CypherEngine.query(st,
      "MATCH (x:Doc {gid: 'd:4'}) SET x.body = 'spark pushdown'")
      .collect()
    val stats2 = st.readSearchIndex(d, _.startsWith("sect=s"))
      .filter("gid = '__stats'").collect().head
    assert(stats2.getLong(3) == docs.size)
    assert(stats2.getLong(4) ==
      docs.values.map(_.split("\\s+").length.toLong).sum - 1)
    val got2 = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fidx', 'pushdown')
        |YIELD node, score RETURN node.gid AS gid""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got2 == Seq("d:4"))
  }

  test("index DDL bookkeeping: SHOW INDEXES, DROP, duplicate guard") {
    val st = newStore("ddl")
    CypherEngine.query(st, "CREATE (:Doc {gid: 'd:1', body: 'x y'})")
      .collect()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX f2 FOR (x:Doc) ON EACH [x.body]").collect()
    val listed = CypherEngine.query(st, "SHOW INDEXES")
      .collect().map(_.getString(0)).toSet
    assert(listed.contains("f2"))
    intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        "CREATE FULLTEXT INDEX f2 FOR (x:Doc) ON EACH [x.body]")
    }
    // IF NOT EXISTS is the idempotent form
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX f2 IF NOT EXISTS FOR (x:Doc) ON EACH [x.body]")
      .collect()
    CypherEngine.query(st, "DROP INDEX f2").collect()
    assert(st.indexDef("f2").isEmpty)
    assert(!CypherEngine.query(st, "SHOW INDEXES")
      .collect().map(_.getString(0)).contains("f2"))
  }

  test("vector index scale dial: explicit cells/nprobe, auto-retrain") {
    val st = newStore("dial")
    val sess = CypherEngine.session(st)
    (1 to 60).foreach(i => sess.run(
      s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}})").collect())
    sess.commit()
    // explicit non-default quantizer: 8 cells, 3-cell probes
    CypherEngine.query(st,
      """CREATE VECTOR INDEX dialidx FOR (m:Emb) ON (m.v)
        |OPTIONS {indexConfig: {`graft.ivf.cells`: 8,
        |  `graft.ivf.nprobe`: 3}}""".stripMargin).collect()
    val d = st.indexDef("dialidx").get
    assert(d.cells == 8 && d.centroids.size == 8 && d.effectiveNProbe == 3)
    val q = vec(13)
    assert(SearchIndexes.probeCells(
      d.centroids, q, d.similarity, d.effectiveNProbe).size == 3)
    // parity at the non-default K: the query's own vector is the top
    // hit with the normalized cosine score 1
    val rows = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('dialidx', 3, ${vecLit(q)})
         |YIELD node, score
         |RETURN node.gid AS gid, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.head._1 == "e:13" && math.abs(rows.head._2 - 1.0) < 1e-9)
    // a user-pinned cell count is never second-guessed by maintain
    assert(!st.maintain().retrainedIndexes.contains("dialidx"))

    // auto-scaled index: default 16 cells on this corpus…
    CypherEngine.query(st,
      "CREATE VECTOR INDEX autoidx FOR (m:Emb) ON (m.v)").collect()
    assert(st.indexDef("autoidx").get.centroids.size == 16)
    // …and the maintain watermark retrains when the per-cell row
    // target says the data outgrew the trained cells (dial shrunk so
    // the 60-vector fixture crosses the 2× drift threshold)
    SearchIndexes.cellRowsDial = 1L
    try {
      val m = st.maintain()
      assert(m.retrainedIndexes == Seq("autoidx"))
      val d2 = st.indexDef("autoidx").get
      assert(d2.centroids.size == 60, s"retrained K: ${d2.centroids.size}")
      assert(st.searchIndexReady(d2))
      assert(st.readSearchIndex(d2, _ => true).count() == 60)
      val rows2 = CypherEngine.query(st,
        s"""CALL db.index.vector.queryNodes('autoidx', 2, ${vecLit(q)})
           |YIELD node, score RETURN node.gid AS gid""".stripMargin)
        .collect().map(_.getString(0))
      assert(rows2.head == "e:13")
    } finally SearchIndexes.cellRowsDial = SearchIndexes.AutoCellRows
  }

  test("quantized vector tier: sq8/bq codes + exact rescore") {
    val st = newStore("vq")
    val n = 80
    val sess = CypherEngine.session(st)
    (1 to n).foreach(i => sess.run(
      s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}})").collect())
    sess.commit()
    CypherEngine.query(st,
      """CREATE VECTOR INDEX q8 FOR (m:Emb) ON (m.v)
        |OPTIONS {indexConfig: {`graft.quantization`: 'sq8'}}"""
        .stripMargin).collect()
    CypherEngine.query(st,
      """CREATE VECTOR INDEX qb FOR (m:Emb) ON (m.v)
        |OPTIONS {indexConfig: {`graft.quantization`: 'bq'}}"""
        .stripMargin).collect()
    val d8 = st.indexDef("q8").get
    val db = st.indexDef("qb").get
    assert(d8.quant == "sq8" && d8.sqMn.size == 4 && d8.sqMx.size == 4)
    assert(db.quant == "bq" && db.centroids.nonEmpty)
    // the stored rows are CODES, not float arrays
    val r8 = st.readSearchIndex(d8, _ => true)
    assert(r8.count() == n)
    assert(r8.schema("code").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType))
    val rb = st.readSearchIndex(db, _ => true)
    assert(rb.schema("code").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    // one packed word for 4 dims
    assert(rb.head().getSeq[Long](2).size == 1)

    def top(idx: String, k: Int, q: Seq[Double]): Seq[(String, Double)] =
      CypherEngine.query(st,
        s"""CALL db.index.vector.queryNodes('$idx', $k, ${vecLit(q)})
           |YIELD node, score
           |RETURN node.gid AS g, score""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // scores are EXACT (rescored from the node rows): self-match
    // first with normalized score 1 despite the lossy codes
    val s23 = top("q8", 5, vec(23))
    assert(s23.head._1 == "e:23" && math.abs(s23.head._2 - 1.0) < 1e-9)
    assert(s23.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    // recall@5 vs brute force over a few probes (sq8 tight, bq looser)
    def recall(idx: String): Int = (1 to 5).map { j =>
      val q = vec(j * 13)
      val brute = (1 to n).map(i => (s"e:$i", cosine(q, vec(i))))
        .sortBy { case (g, c) => (-c, g) }.take(5).map(_._1).toSet
      top(idx, 5, q).map(_._1).count(brute)
    }.sum
    assert(recall("q8") >= 18, s"sq8 recall too low: ${recall("q8")}/25")
    assert(recall("qb") >= 10, s"bq recall too low: ${recall("qb")}/25")

    // incremental maintenance re-encodes through the FIXED codebook
    CypherEngine.query(st,
      s"CREATE (:Emb {gid: 'e:900', v: ${vecLit(vec(23))}})").collect()
    assert(top("q8", 2, vec(23)).map(_._1).toSet == Set("e:23", "e:900"))
    CypherEngine.query(st,
      "MATCH (m:Emb {gid: 'e:23'}) DELETE m").collect()
    assert(!top("q8", 3, vec(23)).map(_._1).contains("e:23"))

    // reopen: codebook + quantizer ride the sidecar
    val st2 = new GraphStore(st.root, spark, 4)
    val d8b = st2.indexDef("q8").get
    assert(d8b.sqMn == d8.sqMn && d8b.sqMx == d8.sqMx)
    assert(CypherEngine.query(st2,
      s"""CALL db.index.vector.queryNodes('q8', 1, ${vecLit(vec(40))})
         |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().head.getString(0) == "e:40")

    // invalid / conflicting OPTIONS get targeted errors
    intercept[IllegalArgumentException] {
      CypherEngine.query(st2,
        """CREATE VECTOR INDEX bad FOR (m:Emb) ON (m.v)
          |OPTIONS {indexConfig: {`graft.quantization`: 'pq4'}}"""
          .stripMargin)
    }
    // sq8 + graph IS served (the DiskANN shape); bq's 1-bit codes
    // cannot steer a beam — still a targeted error
    intercept[IllegalArgumentException] {
      CypherEngine.query(st2,
        """CREATE VECTOR INDEX bad2 FOR (m:Emb) ON (m.v)
          |OPTIONS {indexConfig: {`graft.quantization`: 'bq',
          |  `graft.graph.degree`: 6}}""".stripMargin)
    }
  }

  test("quantized graph tier: beam over sq8 codes + exact rescore") {
    val st = newStore("vgq")
    val n = 60
    val sess = CypherEngine.session(st)
    (1 to n).foreach(i => sess.run(
      s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}})").collect())
    sess.commit()
    CypherEngine.query(st,
      """CREATE VECTOR INDEX gq FOR (m:Emb) ON (m.v)
        |OPTIONS {indexConfig: {`graft.graph.degree`: 8,
        |  `graft.quantization`: 'sq8'}}""".stripMargin).collect()
    val d = st.indexDef("gq").get
    assert(d.quant == "sq8" && d.graphDeg == 8)
    assert(d.sqMn.nonEmpty && d.graphEntries.nonEmpty)
    // the adjacency files STORE codes, not float vectors (8x less
    // beam IO); readGraphRows decodes for the beam
    val vgFile = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(st.root))
      try s.filter(p => p.toString.contains("vg_gq") &&
        p.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val vgSchema = spark.read.parquet(vgFile.toString).schema
    assert(vgSchema.fieldNames.contains("code") &&
      !vgSchema.fieldNames.contains("v"),
      s"vg rows are not quantized: ${vgSchema.simpleString}")
    val decoded = st.readGraphRows(d, Set("e:7"))
    assert(decoded.contains("e:7") && decoded("e:7")._3.nonEmpty)

    // exact self-match: the rescore reads the FLOAT vector from the
    // node row, so the top score is exactly (1+cos)/2 = 1.0
    val q7 = vec(7)
    val rows = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('gq', 5, ${vecLit(q7)})
         |YIELD node, score
         |RETURN node.gid AS gid, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.head._1 == "e:7")
    assert(math.abs(rows.head._2 - 1.0) < 1e-9)
    // scores are exact for every hit (not dequantized approximations)
    rows.foreach { case (g, s0) =>
      val i = g.drop(2).toInt
      assert(math.abs(s0 - (1.0 + cosine(q7, vec(i))) / 2.0) < 1e-9, g)
    }
    // recall vs brute-force top-5 on the code-steered beam
    val brute = (1 to n).map(i => (s"e:$i", cosine(q7, vec(i))))
      .sortBy { case (g, s0) => (-s0, g) }.take(5).map(_._1).toSet
    assert(rows.map(_._1).toSet.intersect(brute).size >= 3,
      s"quantized beam recall too low: ${rows.map(_._1).toSet} vs $brute")
    // incremental add: an exact duplicate of e:7 becomes reachable
    CypherEngine.query(st,
      s"CREATE (:Emb {gid: 'e:99', v: ${vecLit(vec(7))}})").collect()
    val rows2 = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('gq', 2, ${vecLit(q7)})
         |YIELD node, score RETURN node.gid AS gid""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows2.toSeq == Seq("e:7", "e:99"))
    // delete leaves the graph
    CypherEngine.query(st,
      "MATCH (m:Emb {gid: 'e:99'}) DELETE m").collect()
    assert(st.readGraphRows(st.indexDef("gq").get, Set("e:99")).isEmpty)
  }

  test("graph-tier vector index: persisted NSW adjacency + beam search") {
    val st = newStore("vg")
    val n = 80
    val sess = CypherEngine.session(st)
    (1 to n).foreach(i => sess.run(
      s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}})").collect())
    sess.commit()
    CypherEngine.query(st,
      """CREATE VECTOR INDEX gx FOR (m:Emb) ON (m.v)
        |OPTIONS {indexConfig: {`graft.graph.degree`: 6}}""".stripMargin)
      .collect()
    val d = st.indexDef("gx").get
    assert(d.graphDeg == 6 && d.centroids.nonEmpty)
    assert(d.graphEntries.nonEmpty && d.graphEntries.size <= 16)
    assert(st.graphIndexReady(d))
    // adjacency covers every vector; degree bounded; edges carry sims
    val all = st.readGraphRows(d, (1 to n).map(i => s"e:$i").toSet)
    assert(all.size == n)
    assert(all.values.forall { case (_, _, nbrs, nsim) =>
      nbrs.size <= 6 && nbrs.size == nsim.size })

    def top(k: Int, q: Seq[Double]): Seq[(String, Double)] =
      CypherEngine.query(st,
        s"""CALL db.index.vector.queryNodes('gx', $k, ${vecLit(q)})
           |YIELD node, score
           |RETURN node.gid AS g, score""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // self-match first with normalized score 1, scores descending
    val r23 = top(5, vec(23))
    assert(r23.head._1 == "e:23" && math.abs(r23.head._2 - 1.0) < 1e-9)
    assert(r23.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    // recall@5 vs brute force over a few probes
    val hits = (1 to 5).map { j =>
      val q = vec(j * 13)
      val brute = (1 to n).map(i => (s"e:$i", cosine(q, vec(i))))
        .sortBy { case (g, c) => (-c, g) }.take(5).map(_._1).toSet
      top(5, q).map(_._1).count(brute)
    }.sum
    assert(hits >= 15, s"graph recall@5 too low: $hits/25")

    // incremental insert: the new vector must be REACHABLE (its
    // neighbors' lists splice it in — bidirectional insert), so a
    // beam from the old entries finds the clone as the top hit
    CypherEngine.query(st,
      s"CREATE (:Emb {gid: 'e:900', v: ${vecLit(vec(23))}})").collect()
    val afterAdd = top(2, vec(23)).map(_._1)
    assert(afterAdd.contains("e:900"),
      s"inserted vector unreachable: $afterAdd")
    // delete: the row leaves the table and the beam skips danglers
    CypherEngine.query(st,
      "MATCH (m:Emb {gid: 'e:23'}) DELETE m").collect()
    val afterDel = top(3, vec(23)).map(_._1)
    assert(!afterDel.contains("e:23") && afterDel.contains("e:900"))

    // reopen: entries + quantizer from the sidecar, no training jobs
    val st2 = new GraphStore(st.root, spark, 4)
    val d2 = st2.indexDef("gx").get
    assert(d2.graphEntries == st.indexDef("gx").get.graphEntries)
    assert(top(1, vec(40)).head._1 == "e:40" ||
      CypherEngine.query(st2,
        s"""CALL db.index.vector.queryNodes('gx', 1, ${vecLit(vec(40))})
           |YIELD node, score RETURN node.gid AS g""".stripMargin)
        .collect().head.getString(0) == "e:40")

    // deleting every ENTRY gid must not strand the beam: the commit
    // reseeds per-cell entries from the surviving vx rows (without
    // this, queryNodes on a populated index would return zero rows)
    val entries0 = st2.indexDef("gx").get.graphEntries
    assert(entries0.nonEmpty)
    entries0.foreach(g => CypherEngine.query(st2,
      s"MATCH (m:Emb {gid: '$g'}) DELETE m").collect())
    val d3 = st2.indexDef("gx").get
    assert(d3.graphEntries.nonEmpty, "entries not reseeded after delete")
    assert(d3.graphEntries.toSet.intersect(entries0.toSet).isEmpty,
      s"stale entries survived: ${d3.graphEntries}")
    val reseeded = CypherEngine.query(st2,
      s"""CALL db.index.vector.queryNodes('gx', 3, ${vecLit(vec(40))})
         |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0))
    assert(reseeded.nonEmpty, "beam found nothing after entry reseed")
  }

  test("property index: DDL, routed lookup, file pruning, delta") {
    val st = newStore("px")
    st.localizeTinyTables = false // assert the at-scale parquet shape
    val sess = CypherEngine.session(st)
    (1 to 40).foreach { i =>
      sess.run(s"CREATE (:Person {gid: 'p:$i', email: 'u$i@x.io', " +
        s"age: ${i % 7}})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX pidx FOR (p:Person) ON (p.email)").collect()
    val d = st.indexDef("pidx").get
    assert(d.kind == "property" && st.searchIndexReady(d))
    // one row per node in EACH section: sect=p (equality, H(val)
    // buckets) and sect=r (range, boundary buckets)
    assert(st.readSearchIndex(d, _.startsWith("sect=p")).count() == 40)
    assert(st.readSearchIndex(d, _.startsWith("sect=r")).count() == 40)

    // routed point lookup: right node, and the plan reads a strict
    // subset of the node table's files (gid-bucket directory pruning)
    val df = CypherEngine.query(st,
      "MATCH (p:Person {email: 'u7@x.io'}) RETURN p.gid AS gid")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("p:7"))
    val allNodeFiles = st.nodes.inputFiles.toSet
    val routedFiles = df.inputFiles.toSet
    assert(routedFiles.nonEmpty && routedFiles.subsetOf(allNodeFiles))
    assert(routedFiles.size < allNodeFiles.size,
      s"lookup read every node file: ${routedFiles.size}/${allNodeFiles.size}")
    // and the px probe itself reads one bucket directory, not the table
    val pxAll = st.readSearchIndex(d, _ => true).inputFiles.toSet
    val pxProbe = st.readSearchIndex(d,
      st.pxProbeKeys("s:u7@x.io")).inputFiles.toSet
    assert(pxProbe.nonEmpty && pxProbe.size < pxAll.size)

    // WHERE-clause equality folds into the same routed lookup
    val viaWhere = CypherEngine.query(st,
      "MATCH (p:Person) WHERE p.email = 'u7@x.io' RETURN p.gid AS gid")
    assert(viaWhere.collect().map(_.getString(0)).toSeq == Seq("p:7"))
    assert(viaWhere.inputFiles.toSet.subsetOf(allNodeFiles) &&
      viaWhere.inputFiles.toSet.size < allNodeFiles.size,
      "WHERE p.email = … did not take the index route")
    // …and compound WHEREs keep their residual conjuncts
    val compound = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.email = 'u8@x.io' AND p.age > 0
        |RETURN p.gid AS gid""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(compound == Seq("p:8")) // 8 % 7 = 1 > 0

    // IN-list routing: a multi-bucket probe (predicate stays residual)
    val viaIn = CypherEngine.query(st,
      """MATCH (p:Person)
        |WHERE p.email IN ['u3@x.io', 'u11@x.io', 'nope@x.io']
        |RETURN p.gid AS gid ORDER BY gid""".stripMargin)
    assert(viaIn.collect().map(_.getString(0)).toSeq ==
      Seq("p:11", "p:3"))
    assert(viaIn.inputFiles.toSet.subsetOf(allNodeFiles) &&
      viaIn.inputFiles.toSet.size < allNodeFiles.size,
      "IN-list lookup did not take the index route")
    val viaInParam = CypherEngine.query(st,
      "MATCH (p:Person) WHERE p.email IN $ms RETURN p.gid AS gid",
      Map("ms" -> Seq("u5@x.io"))).collect().map(_.getString(0)).toSeq
    assert(viaInParam == Seq("p:5"))

    // numeric cross-slot: a long-stored value found via long OR double
    CypherEngine.query(st,
      "CREATE INDEX aidx FOR (p:Person) ON (p.age)").collect()
    val viaLong = CypherEngine.query(st,
      "MATCH (p:Person {age: $a}) RETURN p.gid AS gid ORDER BY gid",
      Map("a" -> 3L)).collect().map(_.getString(0)).toSeq
    val viaDouble = CypherEngine.query(st,
      "MATCH (p:Person {age: $a}) RETURN p.gid AS gid ORDER BY gid",
      Map("a" -> 3.0)).collect().map(_.getString(0)).toSeq
    assert(viaLong == Seq("p:10", "p:17", "p:24", "p:3", "p:31", "p:38"))
    assert(viaDouble == viaLong)

    // delta: updating the property moves the index rows
    CypherEngine.query(st,
      "MATCH (p:Person {gid: 'p:7'}) SET p.email = 'moved@x.io'").collect()
    assert(CypherEngine.query(st,
      "MATCH (p:Person {email: 'u7@x.io'}) RETURN p.gid AS gid")
      .collect().isEmpty)
    assert(CypherEngine.query(st,
      "MATCH (p:Person {email: 'moved@x.io'}) RETURN p.gid AS gid")
      .collect().map(_.getString(0)).toSeq == Seq("p:7"))
    // and a deleted node leaves the index
    CypherEngine.query(st,
      "MATCH (p:Person {gid: 'p:9'}) DELETE p").collect()
    assert(CypherEngine.query(st,
      "MATCH (p:Person {email: 'u9@x.io'}) RETURN p.gid AS gid")
      .collect().isEmpty)
    assert(st.readSearchIndex(d, _ => true)
      .filter("gid = 'p:9'").count() == 0)
  }

  test("property index range + STARTS WITH: sect=r routing and pruning") {
    val st = newStore("pxr")
    st.localizeTinyTables = false // assert the at-scale parquet shape
    val sess = CypherEngine.session(st)
    (1 to 200).foreach { i =>
      sess.run(f"CREATE (:Person {gid: 'p:$i', email: 'u$i%03d@x.io', " +
        s"age: $i})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX pager FOR (p:Person) ON (p.age)").collect()
    CypherEngine.query(st,
      "CREATE INDEX pmail FOR (p:Person) ON (p.email)").collect()
    val da = st.indexDef("pager").get
    val dm = st.indexDef("pmail").get
    // boundaries trained at build (equi-depth over distinct keys)
    assert(da.boundaryN == 200 && da.boundaries.nonEmpty)
    assert(dm.boundaryN == 200 && dm.boundaries.nonEmpty)
    // both sections persisted: sect=p (hash) + sect=r (ordered)
    assert(st.readSearchIndex(da, _.startsWith("sect=p")).count() == 200)
    assert(st.readSearchIndex(da, _.startsWith("sect=r")).count() == 200)

    val allNodeFiles = st.nodes.inputFiles.toSet

    // numeric range: correct rows, node read bucket-pruned
    val gt = CypherEngine.query(st,
      "MATCH (p:Person) WHERE p.age > 195 RETURN p.gid AS gid ORDER BY gid")
    assert(gt.collect().map(_.getString(0)).toSeq ==
      (196 to 200).map(i => s"p:$i").sorted)
    assert(gt.inputFiles.toSet.subsetOf(allNodeFiles) &&
      gt.inputFiles.toSet.size < allNodeFiles.size,
      "range lookup did not take the index route")
    // …and the px probe itself lists a strict subset of the range
    // section's files (the contiguous boundary-bucket span)
    val rAll = st.readSearchIndex(da, _.startsWith("sect=r"))
      .inputFiles.toSet
    val lo = graft.store.SearchIndexes.encodeSortableValue(195.0)
    val rProbe = st.readSearchIndex(da,
      st.pxRangeKeys(da, lo, Some("n:G"))).inputFiles.toSet
    assert(rProbe.nonEmpty && rProbe.subsetOf(rAll) &&
      rProbe.size < rAll.size,
      s"range probe read ${rProbe.size}/${rAll.size} sect=r files")

    // closed interval, both bound orders, param bounds
    val between = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.age >= $lo AND $hi >= p.age
        |RETURN p.gid AS gid ORDER BY gid""".stripMargin,
      Map("lo" -> 10, "hi" -> 12)).collect().map(_.getString(0)).toSeq
    assert(between == Seq("p:10", "p:11", "p:12"))

    // STARTS WITH: correct rows, pruned probe
    val pfx = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.email STARTS WITH 'u19'
        |RETURN p.gid AS gid ORDER BY gid""".stripMargin)
    assert(pfx.collect().map(_.getString(0)).toSeq ==
      (190 to 199).map(i => s"p:$i").sorted)
    assert(pfx.inputFiles.toSet.subsetOf(allNodeFiles) &&
      pfx.inputFiles.toSet.size < allNodeFiles.size,
      "STARTS WITH lookup did not take the index route")
    val mAll = st.readSearchIndex(dm, _.startsWith("sect=r"))
      .inputFiles.toSet
    val mProbe = st.readSearchIndex(dm,
      st.pxPrefixKeys(dm, "u19")).inputFiles.toSet
    assert(mProbe.nonEmpty && mProbe.subsetOf(mAll) &&
      mProbe.size < mAll.size,
      s"prefix probe read ${mProbe.size}/${mAll.size} sect=r files")

    // residual conjuncts still apply on top of the routed base
    val resid = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.age > 195 AND p.email ENDS WITH '8@x.io'
        |RETURN p.gid AS gid""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(resid == Seq("p:198"))

    // delta: a moved value leaves its old range bucket and lands in
    // the new one (both sections stay consistent)
    CypherEngine.query(st,
      "MATCH (p:Person {gid: 'p:1'}) SET p.age = 199.5").collect()
    val moved = CypherEngine.query(st,
      "MATCH (p:Person) WHERE p.age > 199 RETURN p.gid AS gid ORDER BY gid")
      .collect().map(_.getString(0)).toSeq
    assert(moved == Seq("p:1", "p:200"))
    assert(CypherEngine.query(st,
      "MATCH (p:Person) WHERE p.age < 1.5 RETURN p.gid AS gid")
      .collect().isEmpty)
    // maintain() retrains boundaries on 2× growth and converges
    val sess2 = CypherEngine.session(st)
    (201 to 420).foreach { i =>
      sess2.run(s"CREATE (:Person {gid: 'p:$i', age: $i})").collect()
    }
    sess2.commit()
    val m = st.maintain()
    assert(m.retrainedIndexes.contains("pager"),
      s"boundary watermark did not fire: ${m.retrainedIndexes}")
    assert(st.indexDef("pager").get.boundaryN == 420)
    assert(!st.maintain().retrainedIndexes.contains("pager"),
      "boundary retrain did not converge")
    val afterGrow = CypherEngine.query(st,
      "MATCH (p:Person) WHERE p.age > 418 RETURN p.gid AS gid ORDER BY gid")
      .collect().map(_.getString(0)).toSeq
    assert(afterGrow == Seq("p:419", "p:420"))
  }

  test("index-ordered walk: ORDER BY … LIMIT and min/max off sect=r") {
    // 16 buckets so gid-bucket pruning is visible for ~5 candidates
    val st = new GraphStore(
      Files.createTempDirectory("graft-sidx-pxw").toString, spark, 16)
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    (1 to 300).foreach { i =>
      sess.run(f"CREATE (:Person {gid: 'p:$i%03d', age: $i, " +
        f"email: 'u$i%03d@x.io'})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX wage FOR (p:Person) ON (p.age)").collect()
    CypherEngine.query(st,
      "CREATE INDEX wmail FOR (p:Person) ON (p.email)").collect()
    val allNodeFiles = st.nodes.inputFiles.toSet
    def gids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.getString(0)).toSeq
    def assertRouted(df: org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      val fs = df.inputFiles.toSet
      assert(fs.subsetOf(allNodeFiles) && fs.size < allNodeFiles.size,
        s"$what did not take the index-ordered walk: " +
          s"${fs.size}/${allNodeFiles.size} node files")
    }

    // ASC top-k, no predicate: the walk needs no bound (numbers sort
    // first under the type-aware order) and must stop early
    val asc5 = CypherEngine.query(st,
      """MATCH (p:Person) RETURN p.gid AS gid
        |ORDER BY p.age LIMIT 5""".stripMargin)
    assert(gids(asc5) == (1 to 5).map(i => f"p:$i%03d"))
    assertRouted(asc5, "ASC LIMIT")

    // SKIP consumes walked rows too
    val page2 = CypherEngine.query(st,
      """MATCH (p:Person) RETURN p.gid AS gid
        |ORDER BY p.age SKIP 5 LIMIT 5""".stripMargin)
    assert(gids(page2) == (6 to 10).map(i => f"p:$i%03d"))
    assertRouted(page2, "SKIP+LIMIT")

    // DESC needs a bound (missing-prop rows sort first under DESC and
    // are invisible to the index) — with one, it walks from the top
    val desc3 = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.age > 0 RETURN p.gid AS gid
        |ORDER BY p.age DESC LIMIT 3""".stripMargin)
    assert(gids(desc3) == Seq("p:300", "p:299", "p:298"))
    assertRouted(desc3, "DESC LIMIT with bound")

    // bounds narrow the walk and stay residual (keyset pagination)
    val keyset = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.age > $cursor RETURN p.gid AS gid
        |ORDER BY p.age LIMIT 4""".stripMargin, Map("cursor" -> 42))
    assert(gids(keyset) == (43 to 46).map(i => f"p:$i%03d"))
    assertRouted(keyset, "cursor pagination")

    // string prefix + ORDER BY on the same prop (s-region walk)
    val pfx = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.email STARTS WITH 'u2'
        |RETURN p.gid AS gid ORDER BY p.email LIMIT 3""".stripMargin)
    assert(gids(pfx) == Seq("p:200", "p:201", "p:202"))
    assertRouted(pfx, "prefix-ordered walk")

    // min/max: min needs no pin (numbers win the type-aware minimum);
    // max needs one — both read a handful of node rows, not the label
    val mn = CypherEngine.query(st,
      "MATCH (p:Person) RETURN min(p.age) AS lo")
    assert(mn.collect().head.getString(0) == "1")
    assertRouted(mn, "min()")
    val mx = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.age >= 0
        |RETURN min(p.age) AS lo, max(p.age) AS hi""".stripMargin)
    val mxr = mx.collect().head
    assert(mxr.getString(0) == "1" && mxr.getString(1) == "300")
    assertRouted(mx, "min()+max() with pin")

    // the whole walk (planning + execution) is a bounded handful of
    // jobs — an early stop, not a region read
    val jobs = SparkCounts.jobs(spark) {
      val again = CypherEngine.query(st,
        """MATCH (p:Person) RETURN p.gid AS gid
          |ORDER BY p.age LIMIT 5""".stripMargin)
      assert(gids(again) == (1 to 5).map(i => f"p:$i%03d"))
    }
    assert(jobs <= 6,
      s"too many jobs for an index-ordered top-k: $jobs")

    // correctness fallbacks: shapes the walk must NOT serve still
    // answer right through the ordinary plan
    val unpinnedDesc = CypherEngine.query(st,
      """MATCH (p:Person) RETURN p.gid AS gid
        |ORDER BY p.age DESC LIMIT 2""".stripMargin)
    assert(gids(unpinnedDesc) == Seq("p:300", "p:299"))
    val otherResid = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.email ENDS WITH '7@x.io'
        |RETURN p.gid AS gid ORDER BY p.age LIMIT 2""".stripMargin)
    assert(gids(otherResid) == Seq("p:007", "p:017"))

    // mixed-type prop: numbers fill the ASC top-k ahead of strings;
    // when they cannot, the walk bails and the scan stays correct
    val sess2 = CypherEngine.session(st)
    sess2.run("CREATE (:Person {gid: 'p:s1', age: 'young'})").collect()
    sess2.run("CREATE (:Person {gid: 'p:s2', age: 'old'})").collect()
    sess2.commit()
    val mixedAsc = CypherEngine.query(st,
      """MATCH (p:Person) RETURN p.gid AS gid
        |ORDER BY p.age LIMIT 3""".stripMargin)
    assert(gids(mixedAsc) == Seq("p:001", "p:002", "p:003"))
    val mixedTail = CypherEngine.query(st,
      """MATCH (p:Person) RETURN p.gid AS gid
        |ORDER BY p.age SKIP 299 LIMIT 3""".stripMargin)
    // after every number: strings ordered by text ('old' < 'young')
    assert(gids(mixedTail) == Seq("p:300", "p:s2", "p:s1"))
    // min is still the smallest NUMBER (type-aware order)
    assert(CypherEngine.query(st,
      "MATCH (p:Person) RETURN min(p.age) AS lo")
      .collect().head.getString(0) == "1")
  }

  test("composite-key ordered walk: equality prefix + ORDER BY trailing") {
    val st = new GraphStore(
      Files.createTempDirectory("graft-sidx-cpxw").toString, spark, 16)
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    (1 to 300).foreach { i =>
      sess.run(f"CREATE (:Person {gid: 'p:$i%03d', tenant: 't${i % 3}', " +
        f"age: $i})").collect()
    }
    // a tenant-t1 node MISSING age: sorts after every aged node under
    // ASC — invisible to the composite index, must not break top-k
    sess.run("CREATE (:Person {gid: 'p:noage', tenant: 't1'})").collect()
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX cta FOR (p:Person) ON (p.tenant, p.age)").collect()
    val allNodeFiles = st.nodes.inputFiles.toSet
    def gids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.getString(0)).toSeq
    def assertRouted(df: org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      val fs = df.inputFiles.toSet
      assert(fs.subsetOf(allNodeFiles) && fs.size < allNodeFiles.size,
        s"$what did not take the composite ordered walk: " +
          s"${fs.size}/${allNodeFiles.size} node files")
    }

    // the classic compound-keyset shape: equality on the leading
    // component, ORDER BY lists both, LIMIT k — walks the framed
    // prefix span in trailing-key order
    val asc5 = CypherEngine.query(st,
      """MATCH (p:Person) WHERE p.tenant = 't1'
        |RETURN p.gid AS gid ORDER BY p.tenant, p.age LIMIT 5"""
        .stripMargin)
    assert(gids(asc5) == Seq(1, 4, 7, 10, 13).map(i => f"p:$i%03d"))
    assertRouted(asc5, "eq-prefix ASC LIMIT")

    // inline-prop equality + cursor bound on the trailing key
    val keyset = CypherEngine.query(st,
      """MATCH (p:Person {tenant: 't1'}) WHERE p.age > $cursor
        |RETURN p.gid AS gid ORDER BY p.age LIMIT 4""".stripMargin,
      Map("cursor" -> 42))
    assert(gids(keyset) == Seq(43, 46, 49, 52).map(i => f"p:$i%03d"))
    assertRouted(keyset, "eq-prefix cursor pagination")

    // DESC with a pin walks the span from the top
    val desc3 = CypherEngine.query(st,
      """MATCH (p:Person {tenant: 't2'}) WHERE p.age >= 0
        |RETURN p.gid AS gid ORDER BY p.age DESC LIMIT 3""".stripMargin)
    assert(gids(desc3) == Seq(299, 296, 293).map(i => f"p:$i%03d"))
    assertRouted(desc3, "eq-prefix DESC LIMIT")

    // min/max inside the equality span (need-1 walks per aggregate)
    val mn = CypherEngine.query(st,
      "MATCH (p:Person {tenant: 't0'}) RETURN min(p.age) AS lo")
    assert(mn.collect().head.getString(0) == "3")
    assertRouted(mn, "eq-prefix min()")

    // bounded span exhausting below k completes exactly (the bound
    // pins non-null, so missing-age nodes are excluded by WHERE)
    val tail = CypherEngine.query(st,
      """MATCH (p:Person {tenant: 't1'}) WHERE p.age > 295
        |RETURN p.gid AS gid ORDER BY p.age LIMIT 5""".stripMargin)
    assert(gids(tail) == Seq("p:298"))
    assertRouted(tail, "exhausted bounded span")

    // early stop: the whole routed query is a bounded handful of jobs
    val jobs = SparkCounts.jobs(spark) {
      val again = CypherEngine.query(st,
        """MATCH (p:Person {tenant: 't1'})
          |RETURN p.gid AS gid ORDER BY p.age LIMIT 5""".stripMargin)
      assert(gids(again) == Seq(1, 4, 7, 10, 13).map(i => f"p:$i%03d"))
    }
    assert(jobs <= 6,
      s"too many jobs for a composite ordered top-k: $jobs")

    // correctness at the span tail: the missing-age node sorts LAST
    // in its tenant (ASC nulls-last) through the fallback plan
    val withNull = CypherEngine.query(st,
      """MATCH (p:Person {tenant: 't1'})
        |RETURN p.gid AS gid ORDER BY p.age SKIP 100 LIMIT 2"""
        .stripMargin)
    assert(gids(withNull) == Seq("p:noage"))
    // an unknown tenant's span is empty
    assert(gids(CypherEngine.query(st,
      """MATCH (p:Person {tenant: 't9'})
        |RETURN p.gid AS gid ORDER BY p.age LIMIT 3""".stripMargin))
      .isEmpty)
  }

  test("CONTAINS / ENDS WITH route through the sect=w value dictionary") {
    val st = new GraphStore(
      Files.createTempDirectory("graft-sidx-pxs").toString, spark, 16)
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    (1 to 200).foreach { i =>
      sess.run(f"CREATE (:Person {gid: 'p:$i%03d', email: 'u$i%03d@" +
        s"${if (i % 2 == 0) "even" else "odd"}.io', age: $i})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX smail FOR (p:Person) ON (p.email)").collect()
    val d = st.indexDef("smail").get
    assert(st.pxValueDictReady(d))
    // one dictionary row per distinct string value, owner-counted
    val wRows = st.readSearchIndex(d, _.startsWith("sect=w"))
    assert(wRows.count() == 200)
    assert(wRows.filter("gid <> '1'").count() == 0)

    val allNodeFiles = st.nodes.inputFiles.toSet
    def gids(q: String): (Seq[String], Set[String]) = {
      val df = CypherEngine.query(st, q)
      (df.collect().map(_.getString(0)).toSeq, df.inputFiles.toSet)
    }
    // CONTAINS: right rows, node read pruned to candidate gid buckets
    val (c1, f1) = gids(
      """MATCH (p:Person) WHERE p.email CONTAINS '19@'
        |RETURN p.gid AS gid ORDER BY gid""".stripMargin)
    assert(c1 == Seq("p:019", "p:119"))
    assert(f1.subsetOf(allNodeFiles) && f1.size < allNodeFiles.size,
      s"CONTAINS did not route: ${f1.size}/${allNodeFiles.size}")
    // ENDS WITH: suffix match through the same dictionary
    val (c2, f2) = gids(
      """MATCH (p:Person) WHERE p.email ENDS WITH '7@odd.io'
        |RETURN p.gid AS gid ORDER BY gid""".stripMargin)
    assert(c2 == Seq("p:007", "p:017", "p:027", "p:037", "p:047",
      "p:057", "p:067", "p:077", "p:087", "p:097", "p:107", "p:117",
      "p:127", "p:137", "p:147", "p:157", "p:167", "p:177", "p:187",
      "p:197"))
    assert(f2.subsetOf(allNodeFiles) && f2.size < allNodeFiles.size,
      s"ENDS WITH did not route: ${f2.size}/${allNodeFiles.size}")
    // residual conjuncts apply on top; zero-match needles return empty
    val (c3, _) = gids(
      """MATCH (p:Person) WHERE p.email CONTAINS '19@' AND p.age > 100
        |RETURN p.gid AS gid""".stripMargin)
    assert(c3 == Seq("p:119"))
    assert(gids("""MATCH (p:Person) WHERE p.email CONTAINS 'zzz'
      |RETURN p.gid AS gid""".stripMargin)._1.isEmpty)

    // strings only: a numeric prop never matches a string predicate
    // (strict s-slot semantics), routed or not
    CypherEngine.query(st,
      "CREATE INDEX sage FOR (p:Person) ON (p.age)").collect()
    assert(gids("""MATCH (p:Person) WHERE p.age CONTAINS '19'
      |RETURN p.gid AS gid""".stripMargin)._1.isEmpty)

    // delta: a changed value moves its dictionary row (old value's
    // count decrements away, new value enters)
    CypherEngine.query(st,
      "MATCH (p:Person {gid: 'p:019'}) SET p.email = 'x@new.zz'").collect()
    val (c4, _) = gids(
      """MATCH (p:Person) WHERE p.email CONTAINS '19@'
        |RETURN p.gid AS gid""".stripMargin)
    assert(c4 == Seq("p:119"))
    val (c5, _) = gids(
      """MATCH (p:Person) WHERE p.email ENDS WITH '.zz'
        |RETURN p.gid AS gid""".stripMargin)
    assert(c5 == Seq("p:019"))
    // a deleted node's value leaves the dictionary
    CypherEngine.query(st,
      "MATCH (p:Person {gid: 'p:019'}) DELETE p").collect()
    assert(st.readSearchIndex(d, _.startsWith("sect=w"))
      .filter("val = 's:x@new.zz'").count() == 0)

    // shared values: owner counts survive partial deletes
    val sess2 = CypherEngine.session(st)
    sess2.run("CREATE (:Person {gid: 'p:a1', email: 'dup@x.io'})").collect()
    sess2.run("CREATE (:Person {gid: 'p:a2', email: 'dup@x.io'})").collect()
    sess2.commit()
    CypherEngine.query(st,
      "MATCH (p:Person {gid: 'p:a1'}) DELETE p").collect()
    val (c6, _) = gids(
      """MATCH (p:Person) WHERE p.email CONTAINS 'dup@'
        |RETURN p.gid AS gid""".stripMargin)
    assert(c6 == Seq("p:a2"))
  }

  test("legacy px tables without a range section stay correct") {
    val st = newStore("pxlegacy")
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    (1 to 30).foreach { i =>
      sess.run(s"CREATE (:L {gid: 'l:$i', age: $i})").collect() }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX lage FOR (l:L) ON (l.age)").collect()
    val d = st.indexDef("lage").get
    assert(st.pxRangeReady(d))
    // simulate a table built BEFORE the range section existed: strip
    // the sect=r entries from the current manifest
    val v = st.currentVersion
    val mPath = java.nio.file.Paths.get(st.root, f"m$v%08d.json")
    val raw = new String(java.nio.file.Files.readAllBytes(mPath))
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val pruned = JsonMethods.parse(raw) match {
      case JObject(tables) => JObject(tables.map {
        case (t, JObject(parts)) if t == d.tableName =>
          t -> JObject(parts.filterNot(p =>
            p._1.startsWith("sect=r") || p._1.startsWith("sect=w")))
        case other => other
      })
      case other => other
    }
    java.nio.file.Files.write(mPath,
      JsonMethods.compact(JsonMethods.render(pruned)).getBytes)
    assert(!st.pxRangeReady(st.indexDef("lage").get),
      "legacy simulation failed")
    assert(!st.pxValueDictReady(st.indexDef("lage").get))
    // correctness holds through the scan fallback (routing the absent
    // section would return NOTHING)
    def over27: Seq[String] = CypherEngine.query(st,
      "MATCH (l:L) WHERE l.age > 27 RETURN l.gid AS g ORDER BY g")
      .collect().map(_.getString(0)).toSeq
    assert(over27 == Seq("l:28", "l:29", "l:30"))
    // equality lookups keep their sect=p route on the legacy table
    assert(CypherEngine.query(st,
      "MATCH (l:L {age: 5}) RETURN l.gid AS g")
      .collect().map(_.getString(0)).toSeq == Seq("l:5"))
    // an incremental commit must NOT grow a PARTIAL range/dict section
    CypherEngine.query(st, "CREATE (:L {gid: 'l:31', age: 31})").collect()
    assert(!st.pxRangeReady(st.indexDef("lage").get))
    assert(!st.pxValueDictReady(st.indexDef("lage").get))
    assert(over27 == Seq("l:28", "l:29", "l:30", "l:31"))
    // a full rebuild regenerates every section and routing resumes
    // (sect=w stays key-less here — an all-numeric prop has no string
    // vocabulary — so CONTAINS keeps the correct scan fallback)
    st.compact()
    assert(st.pxRangeReady(st.indexDef("lage").get))
    assert(over27 == Seq("l:28", "l:29", "l:30", "l:31"))
    assert(st.readSearchIndex(st.indexDef("lage").get,
      _.startsWith("sect=r")).count() == 31)
  }

  test("composite index: equality-prefix + trailing-range span route") {
    val st = new GraphStore(
      Files.createTempDirectory("graft-sidx-pxcr").toString, spark, 16)
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    (1 to 400).foreach { i =>
      sess.run(s"CREATE (:Acct {gid: 'a:$i', tenant: 't${i % 4}', " +
        s"score: ${i / 4}})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX tsc FOR (a:Acct) ON (a.tenant, a.score)").collect()
    val d = st.indexDef("tsc").get
    // the composite now trains boundaries and persists a sect=r
    // section of escComp-framed tuple keys
    assert(d.boundaryN == 400 && st.pxRangeReady(d))
    assert(st.readSearchIndex(d, _.startsWith("sect=r")).count() == 400)

    val allNodeFiles = st.nodes.inputFiles.toSet
    def run(q: String, ps: Map[String, Any] = Map.empty) = {
      val df = CypherEngine.query(st, q, ps)
      (df.collect().map(_.getString(0)).toSeq.sorted, df.inputFiles.toSet)
    }
    // equality on the leading component + range on the next: i%4==2
    // and i/4 > 95 → i in {386, 390, 394, 398}
    val (r1, f1) = run(
      """MATCH (a:Acct) WHERE a.tenant = 't2' AND a.score > 95
        |RETURN a.gid AS gid""".stripMargin)
    assert(r1 == Seq("a:386", "a:390", "a:394", "a:398"))
    assert(f1.subsetOf(allNodeFiles) && f1.size < allNodeFiles.size,
      s"eq+range did not route: ${f1.size}/${allNodeFiles.size}")
    // BETWEEN on the trailing component (param bounds)
    val (r2, f2) = run(
      """MATCH (a:Acct {tenant: 't1'})
        |WHERE a.score >= $lo AND a.score <= $hi
        |RETURN a.gid AS gid""".stripMargin,
      Map("lo" -> 10, "hi" -> 11))
    assert(r2 == Seq("a:41", "a:45"))
    assert(f2.subsetOf(allNodeFiles) && f2.size < allNodeFiles.size,
      "eq+BETWEEN did not route")
    // the span is exact on the index side: the probe reads a strict
    // subset of the sect=r files
    val rAll = st.readSearchIndex(d, _.startsWith("sect=r"))
      .inputFiles.toSet
    import graft.store.SearchIndexes.{escCompStr, encodeSortableValue,
      rangeBucketOf}
    val pfxKey = escCompStr(encodeSortableValue("t2").get)
    val loKey = pfxKey +
      escCompStr(encodeSortableValue(95.0).get).dropRight(1)
    val bLo = rangeBucketOf(d.boundaries, loKey)
    val bHi = d.boundaries.count(bd => bd <= pfxKey ||
      bd.startsWith(pfxKey))
    val probed = st.readSearchIndex(d, k =>
      k.startsWith("sect=r/bucket=") && {
        val b = k.drop("sect=r/bucket=".length).toInt
        b >= bLo && b <= bHi
      }).inputFiles.toSet
    assert(probed.nonEmpty && probed.subsetOf(rAll) &&
      probed.size < rAll.size,
      s"composite span read ${probed.size}/${rAll.size} sect=r files")
    // residuals keep exactness when the span over-approximates
    val (r3, _) = run(
      """MATCH (a:Acct) WHERE a.tenant = 't0' AND a.score <= 1
        |RETURN a.gid AS gid""".stripMargin)
    assert(r3 == Seq("a:4")) // the only t0 row with score ≤ 1
    // delta keeps both sections consistent
    CypherEngine.query(st,
      "MATCH (a:Acct {gid: 'a:382'}) SET a.score = 1000").collect()
    val (r4, _) = run(
      """MATCH (a:Acct) WHERE a.tenant = 't2' AND a.score > 95
        |RETURN a.gid AS gid""".stripMargin)
    assert(r4 == Seq("a:382", "a:386", "a:390", "a:394", "a:398"))
    val (r5, _) = run(
      """MATCH (a:Acct) WHERE a.tenant = 't2' AND a.score > 500
        |RETURN a.gid AS gid""".stripMargin)
    assert(r5 == Seq("a:382"))
  }

  test("composite property index: tuple key, all-bound routing, delta") {
    val st = newStore("pxc")
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    (1 to 60).foreach { i =>
      sess.run(s"CREATE (:Acct {gid: 'a:$i', tenant: 't${i % 5}', " +
        s"key: 'k${i % 12}', tag: $i})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX tk FOR (a:Acct) ON (a.tenant, a.key)").collect()
    val d = st.indexDef("tk").get
    assert(d.properties == Seq("tenant", "key"))
    // one tuple row per node carrying BOTH properties, in BOTH
    // sections: sect=p (hash, all-bound lookups) and sect=r
    // (escComp-framed, equality-prefix spans)
    assert(st.readSearchIndex(d, _.startsWith("sect=p")).count() == 60)
    assert(st.readSearchIndex(d, _.startsWith("sect=r")).count() == 60)

    val allNodeFiles = st.nodes.inputFiles.toSet
    // (t2, k7): i ≡ 2 (mod 5) and i ≡ 7 (mod 12) → i ≡ 7 (mod 60)
    val df = CypherEngine.query(st,
      "MATCH (a:Acct {tenant: 't2', key: 'k7'}) RETURN a.gid AS gid")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("a:7"))
    assert(df.inputFiles.toSet.subsetOf(allNodeFiles) &&
      df.inputFiles.toSet.size < allNodeFiles.size,
      "composite lookup did not take the index route")
    // WHERE equalities fold in and route the same way (param + literal)
    val viaWhere = CypherEngine.query(st,
      """MATCH (a:Acct) WHERE a.tenant = $t AND a.key = 'k3'
        |RETURN a.gid AS gid ORDER BY gid""".stripMargin,
      Map("t" -> "t3")).collect().map(_.getString(0)).toSeq
    assert(viaWhere == Seq("a:3")) // i ≡ 3 (mod 5) ∧ i ≡ 3 (mod 12)
    // a PARTIALLY bound composite now routes on the equality-prefix
    // span (or keeps the scan when the span is too broad) — the
    // un-indexed residual (tag) applies either way
    val partial = CypherEngine.query(st,
      """MATCH (a:Acct) WHERE a.tenant = 't2' AND a.tag > 50
        |RETURN a.gid AS gid ORDER BY gid""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(partial == Seq("a:52", "a:57"))
    // residuals on top of the routed pair
    val resid = CypherEngine.query(st,
      """MATCH (a:Acct {tenant: 't2', key: 'k7'}) WHERE a.tag > 50
        |RETURN a.gid AS gid""".stripMargin).collect()
    assert(resid.isEmpty)
    // delta: moving one component moves the tuple row
    CypherEngine.query(st,
      "MATCH (a:Acct {gid: 'a:7'}) SET a.key = 'k99'").collect()
    assert(CypherEngine.query(st,
      "MATCH (a:Acct {tenant: 't2', key: 'k7'}) RETURN a.gid AS gid")
      .collect().isEmpty)
    assert(CypherEngine.query(st,
      "MATCH (a:Acct {tenant: 't2', key: 'k99'}) RETURN a.gid AS gid")
      .collect().map(_.getString(0)).toSeq == Seq("a:7"))
    // dropping one component drops the node from the index entirely
    CypherEngine.query(st,
      "MATCH (a:Acct {gid: 'a:7'}) REMOVE a.key").collect()
    assert(st.readSearchIndex(st.indexDef("tk").get, _ => true)
      .filter("gid = 'a:7'").count() == 0)
  }

  test("constraints: UNIQUE and NOT NULL are enforced at commit") {
    val st = newStore("cstr")
    val sess0 = CypherEngine.session(st)
    (1 to 10).foreach { i =>
      sess0.run(s"CREATE (:User {gid: 'u:$i', email: 'u$i@x.io', " +
        s"name: 'user$i'})").collect() }
    sess0.commit()
    CypherEngine.query(st,
      """CREATE CONSTRAINT uemail FOR (u:User)
        |REQUIRE u.email IS UNIQUE""".stripMargin).collect()
    CypherEngine.query(st,
      """CREATE CONSTRAINT uname FOR (u:User)
        |REQUIRE u.name IS NOT NULL""".stripMargin).collect()
    val shown = CypherEngine.query(st, "SHOW CONSTRAINTS")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(shown.contains(("uemail", "UNIQUENESS")))
    assert(shown.contains(("uname", "NODE_PROPERTY_EXISTENCE")))

    // a new node duplicating a COMMITTED email is vetoed at commit —
    // and the failed batch leaves the store untouched
    val vBefore = st.currentVersion
    val e1 = intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE (:User {gid: 'u:99', email: 'u3@x.io', name: 'dup'})")
        .collect()
    }
    assert(e1.getMessage.contains("uemail"))
    assert(st.currentVersion == vBefore)
    assert(CypherEngine.query(st,
      "MATCH (u:User {gid: 'u:99'}) RETURN u.gid AS g").collect().isEmpty)
    // batch-internal duplicates are caught too (one session commit)
    val sess1 = CypherEngine.session(st)
    sess1.run("CREATE (:User {gid: 'u:50', email: 'same@x.io', name: 'a'})")
      .collect()
    sess1.run("CREATE (:User {gid: 'u:51', email: 'same@x.io', name: 'b'})")
      .collect()
    intercept[graft.store.ConstraintViolation] { sess1.commit() }
    // NOT NULL: creating without the property is vetoed
    val e2 = intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE (:User {gid: 'u:60', email: 'u60@x.io'})").collect()
    }
    assert(e2.getMessage.contains("uname"))
    // …as is removing it from an existing node
    intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "MATCH (u:User {gid: 'u:1'}) REMOVE u.name").collect()
    }
    // UPDATING a node's own value is fine (no self-conflict), and a
    // MERGE matching an existing gid does not trip uniqueness
    CypherEngine.query(st,
      "MATCH (u:User {gid: 'u:1'}) SET u.email = 'fresh@x.io'").collect()
    CypherEngine.query(st,
      "MERGE (u:User {gid: 'u:2'}) SET u.name = 'renamed'").collect()
    // a MERGE creating a new node under a taken business key is vetoed
    intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        """MERGE (u:User {gid: 'u:77'})
          |SET u.email = 'u5@x.io', u.name = 'x'""".stripMargin).collect()
    }
    // value freed by the update is reusable
    CypherEngine.query(st,
      "CREATE (:User {gid: 'u:70', email: 'u1@x.io', name: 'ok'})")
      .collect()
    // the unique constraint's backing table doubles as a lookup index
    assert(CypherEngine.query(st,
      "MATCH (u:User {email: 'fresh@x.io'}) RETURN u.gid AS g")
      .collect().map(_.getString(0)).toSeq == Seq("u:1"))

    // creating a constraint over already-violating data fails and
    // registers nothing
    intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        """CREATE CONSTRAINT udup FOR (u:User)
          |REQUIRE u.nope IS NOT NULL""".stripMargin).collect()
    }
    assert(st.indexDef("udup").isEmpty)
    // a constraint's backing index cannot be dropped via DROP INDEX
    // (enforcement would silently vanish); DROP CONSTRAINT owns both
    val eOwn = intercept[IllegalArgumentException] {
      CypherEngine.query(st, "DROP INDEX uemail")
    }
    assert(eOwn.getMessage.contains("owned by constraint"))
    // DROP lifts enforcement
    CypherEngine.query(st, "DROP CONSTRAINT uname").collect()
    CypherEngine.query(st,
      "CREATE (:User {gid: 'u:61', email: 'u61@x.io'})").collect()
    // IS TYPED now PARSES (property type constraints, round 15);
    // a still-unparsed form keeps the targeted error
    CypherEngine.query(st,
      """CREATE CONSTRAINT estr FOR (u:User)
        |REQUIRE u.email IS TYPED STRING""".stripMargin).collect()
    assert(st.indexDef("estr").exists(_.constraint == "type:STRING"))
    intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        "CREATE CONSTRAINT bad FOR (u:User) REQUIRE u.email IS WEIRD")
    }
    intercept[IllegalArgumentException] {
      CypherEngine.query(st, "DROP CONSTRAINT never_existed")
    }
    // the intrinsic gid forms stay acknowledged (reference parity)
    assert(CypherEngine.query(st,
      """CREATE CONSTRAINT g IF NOT EXISTS FOR (u:User)
        |REQUIRE u.gid IS UNIQUE""".stripMargin)
      .collect().head.getBoolean(1))
  }

  test("point predicates route through the range index (bbox, distance)") {
    val st = new GraphStore(
      Files.createTempDirectory("graft-sidx-pt").toString, spark, 16)
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    (1 to 300).foreach { i =>
      sess.run(s"CREATE (:Shop {gid: 's:$i', x: ${i / 3.0}, " +
        s"y: ${(i % 50).toDouble}, lat: ${(i % 90).toDouble}, " +
        s"lon: ${(i % 180).toDouble}})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX sx FOR (s:Shop) ON (s.x)").collect()
    CypherEngine.query(st,
      "CREATE INDEX slat FOR (s:Shop) ON (s.lat)").collect()
    val allNodeFiles = st.nodes.inputFiles.toSet
    def run(q: String) = {
      val df = CypherEngine.query(st, q)
      (df.collect().map(_.getString(0)).toSeq.sorted, df.inputFiles.toSet)
    }
    // bbox: x ∈ [10, 12] → i ∈ [30, 36]; y ∈ [30, 36] → i%50 in range
    val (r1, f1) = run(
      """MATCH (s:Shop)
        |WHERE point.withinBBox(point({x: s.x, y: s.y}),
        |  point({x: 10.0, y: 30.0}), point({x: 12.0, y: 36.0}))
        |RETURN s.gid AS gid""".stripMargin)
    assert(r1 == (30 to 36).filter(i => i % 50 >= 30 && i % 50 <= 36)
      .map(i => s"s:$i").sorted)
    assert(f1.subsetOf(allNodeFiles) && f1.size < allNodeFiles.size,
      s"bbox did not route: ${f1.size}/${allNodeFiles.size}")
    // cartesian distance: circle around (40, 20) radius 1.5 — the x
    // band routes, the exact circle stays residual
    val (r2, f2) = run(
      """MATCH (s:Shop)
        |WHERE point.distance(point({x: s.x, y: s.y}),
        |  point({x: 40.0, y: 20.0})) <= 1.5
        |RETURN s.gid AS gid""".stripMargin)
    val expect2 = (1 to 300).filter { i =>
      val (x, y) = (i / 3.0, (i % 50).toDouble)
      math.sqrt((x - 40) * (x - 40) + (y - 20) * (y - 20)) <= 1.5
    }.map(i => s"s:$i").sorted
    assert(r2 == expect2 && r2.nonEmpty)
    assert(f2.subsetOf(allNodeFiles) && f2.size < allNodeFiles.size,
      "distance band did not route")
    // reversed comparison routes too
    val (r2b, f2b) = run(
      """MATCH (s:Shop)
        |WHERE 1.5 >= point.distance(point({x: s.x, y: s.y}),
        |  point({x: 40.0, y: 20.0}))
        |RETURN s.gid AS gid""".stripMargin)
    assert(r2b == expect2)
    assert(f2b.size < allNodeFiles.size)
    // wgs-84: meters → latitude band on the lat index; haversine
    // residual keeps the exact circle
    val (r3, _) = run(
      """MATCH (s:Shop)
        |WHERE point.distance(point({longitude: s.lon, latitude: s.lat}),
        |  point({longitude: 44.0, latitude: 44.0})) <= 200000.0
        |RETURN s.gid AS gid""".stripMargin)
    val expect3 = (1 to 300).filter { i =>
      val (lon, lat) = ((i % 180).toDouble, (i % 90).toDouble)
      val toRad = math.Pi / 180.0
      val h = math.pow(math.sin((44.0 - lat) * toRad / 2), 2) +
        math.cos(lat * toRad) * math.cos(44.0 * toRad) *
          math.pow(math.sin((44.0 - lon) * toRad / 2), 2)
      2.0 * 6371000.0 * math.asin(math.sqrt(h)) <= 200000.0
    }.map(i => s"s:$i").sorted
    assert(r3 == expect3 && r3.nonEmpty)
  }

  test("positional postings: phrase and slop are pure index reads") {
    val st = newStore("ftpos")
    val sess = CypherEngine.session(st)
    sess.run(
      "CREATE (:Doc {gid: 'd:1', body: 'merge join beats hash join'})")
      .collect()
    sess.run("CREATE (:Doc {gid: 'd:2', body: 'join merge order'})")
      .collect()
    sess.run(
      "CREATE (:Doc {gid: 'd:3', body: 'merge the outer join later'})")
      .collect()
    sess.run("CREATE (:Doc {gid: 'd:4', body: 'nothing relevant'})")
      .collect()
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX pidx FOR (x:Doc) ON EACH [x.body]").collect()
    val d = st.indexDef("pidx").get
    assert(st.ftPositionsReady(d))
    // every token row carries sorted positions, tf == |pos|
    val toks = st.readSearchIndex(d, _.startsWith("sect=t"))
      .filter("sect = 't'")
    assert(toks.filter("pos is null").count() == 0)
    assert(toks.filter("tf <> size(pos)").count() == 0)
    def hits(ix: String, q: String): Seq[String] = CypherEngine.query(st,
      s"""CALL db.index.fulltext.queryNodes('$ix', '$q')
         |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0)).sorted.toSeq
    // exact phrase: contiguity via positions (d:2 is reversed, d:3 has
    // a 2-token gap — both excluded)
    assert(hits("pidx", "\"merge join\"") == Seq("d:1"))
    // Lucene proximity: slop 1 admits neither; slop 2 admits the
    // reversal AND the 2-gap (exactly Lucene's move-count semantics)
    assert(hits("pidx", "\"merge join\"~1") == Seq("d:1"))
    assert(hits("pidx", "\"merge join\"~2") == Seq("d:1", "d:2", "d:3"))
    // delta: a new doc's rows carry positions; the marker survives
    CypherEngine.query(st,
      "CREATE (:Doc {gid: 'd:5', body: 'outer merge join'})").collect()
    assert(hits("pidx", "\"merge join\"") == Seq("d:1", "d:5"))
    assert(st.ftPositionsReady(st.indexDef("pidx").get))

    // legacy simulation: a table built WITHOUT positions keeps the
    // stored-text phrase fallback; slop demands a rebuild
    graft.store.SearchIndexes.positionsEnabled = false
    try {
      CypherEngine.query(st,
        "CREATE FULLTEXT INDEX lidx FOR (x:Doc) ON EACH [x.body]")
        .collect()
      assert(!st.ftPositionsReady(st.indexDef("lidx").get))
      assert(hits("lidx", "\"merge join\"") == Seq("d:1", "d:5"))
      val e = intercept[Exception] {
        hits("lidx", "\"merge join\"~2")
      }
      assert(e.getMessage.contains("positional"))
    } finally graft.store.SearchIndexes.positionsEnabled = true
    // a full rebuild under position-aware code upgrades the table
    st.compact()
    assert(st.ftPositionsReady(st.indexDef("lidx").get))
    assert(hits("lidx", "\"merge join\"~2") ==
      Seq("d:1", "d:2", "d:3", "d:5"))
  }

  test("DISTINCT values served from the px value dictionary") {
    val st = newStore("wdict")
    st.localizeTinyTables = false // assert the at-scale parquet shape
    val sess = CypherEngine.session(st)
    Seq("ga" -> "alpha", "gb" -> "beta", "gc" -> "alpha",
      "gd" -> "gamma").foreach { case (g, nm) =>
      sess.run(s"CREATE (:P {gid: '$g', nm: '$nm'})").collect() }
    sess.run("CREATE (:P {gid: 'ge'})").collect() // no nm
    sess.commit()
    CypherEngine.query(st,
      "CREATE CONSTRAINT nmt FOR (p:P) REQUIRE p.nm IS :: STRING")
      .collect()
    CypherEngine.query(st,
      "CREATE INDEX nmx FOR (p:P) ON (p.nm)").collect()
    val q = """MATCH (p:P) WHERE p.nm IS NOT NULL
               RETURN DISTINCT p.nm AS nm ORDER BY nm"""
    val routed = CypherEngine.query(st, q)
    assert(routed.collect().map(_.getString(0)).toSeq ==
      Seq("alpha", "beta", "gamma"))
    // ZERO node-table reads: the plan's inputs are the px table alone
    assert(!routed.inputFiles.exists(_.contains("/nodes/")),
      routed.inputFiles.mkString(","))
    assert(routed.inputFiles.nonEmpty &&
      routed.inputFiles.forall(_.contains("/px_")))
    // LIMIT + DESC ride the dictionary too
    assert(CypherEngine.query(st,
      """MATCH (p:P) WHERE p.nm IS NOT NULL
         RETURN DISTINCT p.nm AS nm ORDER BY nm DESC LIMIT 2""")
      .collect().map(_.getString(0)).toSeq == Seq("gamma", "beta"))
    // updates flow through the per-commit dictionary maintenance
    CypherEngine.query(st,
      "MATCH (p:P {gid: 'gd'}) SET p.nm = 'delta'").collect()
    assert(CypherEngine.query(st, q).collect().map(_.getString(0)).toSeq
      == Seq("alpha", "beta", "delta"))
    // without the STRING-type proof the route declines (mixed types
    // would silently vanish from a dictionary-only answer)
    val st2 = newStore("wdict2")
    st2.localizeTinyTables = false
    val s2 = CypherEngine.session(st2)
    s2.run("CREATE (:P {gid: 'g1', nm: 'x'})").collect()
    s2.commit()
    CypherEngine.query(st2,
      "CREATE INDEX nmx2 FOR (p:P) ON (p.nm)").collect()
    val scan = CypherEngine.query(st2, q)
    assert(scan.collect().map(_.getString(0)).toSeq == Seq("x"))
    assert(scan.inputFiles.exists(_.contains("/nodes/")))
  }

  test("property type constraints enforce the PV slot witness") {
    val st = newStore("ptype")
    val sess0 = CypherEngine.session(st)
    sess0.run("CREATE (:Item {gid: 'i:1', sku: 'A-1', qty: 3})").collect()
    sess0.run("CREATE (:Item {gid: 'i:2', sku: 'A-2'})").collect()
    sess0.commit()
    // declaration validates existing members: qty is INTEGER, so
    // requiring STRING on it vetoes; the right type declares fine
    intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE CONSTRAINT qb FOR (i:Item) REQUIRE i.qty IS :: STRING")
        .collect()
    }
    CypherEngine.query(st,
      "CREATE CONSTRAINT qt FOR (i:Item) REQUIRE i.qty IS :: INTEGER")
      .collect()
    CypherEngine.query(st,
      "CREATE CONSTRAINT st FOR (i:Item) REQUIRE i.sku IS TYPED STRING")
      .collect()
    val shown = CypherEngine.query(st, "SHOW CONSTRAINTS")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(shown.contains(("qt", "NODE_PROPERTY_TYPE")))
    assert(shown.contains(("st", "NODE_PROPERTY_TYPE")))
    // a wrong-typed write vetoes, names both types, commits nothing
    val v0 = st.currentVersion
    val e = intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE (:Item {gid: 'i:9', qty: 'three'})").collect()
    }
    assert(e.getMessage.contains("STRING") &&
      e.getMessage.contains("INTEGER") && e.getMessage.contains("qt"))
    assert(st.currentVersion == v0)
    // absent values pass (type does not imply existence); right types
    // land; LIST<...> maps to the list slot
    CypherEngine.query(st, "CREATE (:Item {gid: 'i:3'})").collect()
    CypherEngine.query(st,
      "CREATE (:Item {gid: 'i:4', sku: 'B-1', qty: 7})").collect()
    CypherEngine.query(st,
      """CREATE CONSTRAINT tg FOR (i:Item)
        |REQUIRE i.tags IS :: LIST<STRING NOT NULL>""".stripMargin)
      .collect()
    CypherEngine.query(st,
      "CREATE (:Item {gid: 'i:5', tags: ['a', 'b']})").collect()
    intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE (:Item {gid: 'i:6', tags: 'nope'})").collect()
    }
    // unsupported scalar types get the targeted rejection
    val e2 = intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        "CREATE CONSTRAINT bad FOR (i:Item) REQUIRE i.when IS :: DATE")
        .collect()
    }
    assert(e2.getMessage.contains("unsupported property type"))
    // DROP removes enforcement
    CypherEngine.query(st, "DROP CONSTRAINT qt").collect()
    CypherEngine.query(st,
      "CREATE (:Item {gid: 'i:7', qty: 'free-form'})").collect()
    assert(CypherEngine.query(st,
      "MATCH (i:Item) RETURN count(i) AS n").collect().head.getLong(0)
      == 6L)
  }

  test("NODE KEY and relationship-existence constraints enforce at commit") {
    val st = newStore("nkey")
    val sess0 = CypherEngine.session(st)
    (1 to 8).foreach { i =>
      sess0.run(s"CREATE (:Acct {gid: 'a:$i', tenant: 't${i % 2}', " +
        s"num: $i})").collect() }
    sess0.run(
      """MATCH (a:Acct {gid: 'a:1'}), (b:Acct {gid: 'a:2'})
        |CREATE (a)-[:follows {source: 'seed'}]->(b)""".stripMargin)
      .collect()
    sess0.commit()
    CypherEngine.query(st,
      """CREATE CONSTRAINT ak FOR (a:Acct)
        |REQUIRE (a.tenant, a.num) IS NODE KEY""".stripMargin).collect()
    CypherEngine.query(st,
      """CREATE CONSTRAINT fsrc FOR ()-[r:follows]-()
        |REQUIRE r.source IS NOT NULL""".stripMargin).collect()
    val shown = CypherEngine.query(st, "SHOW CONSTRAINTS")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2))).toSet
    assert(shown.contains(("ak", "NODE_KEY", "NODE")))
    assert(shown.contains(
      ("fsrc", "RELATIONSHIP_PROPERTY_EXISTENCE", "RELATIONSHIP")))

    // duplicate tuple is vetoed; the failed batch commits nothing
    val v0 = st.currentVersion
    val e1 = intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE (:Acct {gid: 'a:99', tenant: 't1', num: 1})").collect()
    }
    assert(e1.getMessage.contains("ak"))
    assert(st.currentVersion == v0)
    // a missing component is vetoed (the NOT NULL half of NODE KEY)
    val e2 = intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE (:Acct {gid: 'a:98', tenant: 't1'})").collect()
    }
    assert(e2.getMessage.contains("node-key"))
    // distinct tuple passes; its backing index routes all-bound lookups
    CypherEngine.query(st,
      "CREATE (:Acct {gid: 'a:50', tenant: 't1', num: 50})").collect()
    assert(CypherEngine.query(st,
      "MATCH (a:Acct {tenant: 't1', num: 50}) RETURN a.gid AS g")
      .collect().map(_.getString(0)).toSeq == Seq("a:50"))
    // 2^53-magnitude longs: distinct values whose LOSSY keys collide
    // must NOT spuriously veto (exact-key verification)
    CypherEngine.query(st,
      "CREATE (:Acct {gid: 'a:b1', tenant: 'big', num: 9007199254740992})")
      .collect()
    CypherEngine.query(st,
      "CREATE (:Acct {gid: 'a:b2', tenant: 'big', num: 9007199254740993})")
      .collect()
    // …while a GENUINE duplicate at that magnitude still throws
    intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        "CREATE (:Acct {gid: 'a:b3', tenant: 'big', num: 9007199254740993})")
        .collect()
    }
    // separator-bearing composite strings survive: the exact tuple
    // key frames components injectively, so no alias, no spurious veto
    CypherEngine.query(st,
      "CREATE (:Acct {gid: 'a:s1', tenant: $t, num: 7})",
      Map("t" -> ("x" + "\u0001" + "s:y"))).collect()

    // relationship existence: a source-less edge is vetoed before the
    // write; a sourced one passes
    val e3 = intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        """MATCH (a:Acct {gid: 'a:3'}), (b:Acct {gid: 'a:4'})
          |CREATE (a)-[:follows]->(b)""".stripMargin).collect()
    }
    assert(e3.getMessage.contains("fsrc"))
    CypherEngine.query(st,
      """MATCH (a:Acct {gid: 'a:3'}), (b:Acct {gid: 'a:4'})
        |CREATE (a)-[:follows {source: 'ok'}]->(b)""".stripMargin)
      .collect()
    // creation over violating data fails and registers nothing
    CypherEngine.query(st,
      """MATCH (a:Acct {gid: 'a:5'}), (b:Acct {gid: 'a:6'})
        |CREATE (a)-[:untracked]->(b)""".stripMargin).collect()
    intercept[graft.store.ConstraintViolation] {
      CypherEngine.query(st,
        """CREATE CONSTRAINT usrc FOR ()-[r:untracked]-()
          |REQUIRE r.source IS NOT NULL""".stripMargin).collect()
    }
    assert(st.indexDef("usrc").isEmpty)
    // non-source relationship properties get a targeted rejection;
    // relationship uniqueness too
    val e4 = intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        """CREATE CONSTRAINT w FOR ()-[r:follows]-()
          |REQUIRE r.weight IS NOT NULL""".stripMargin)
    }
    assert(e4.getMessage.contains("r.source"))
    val e5 = intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        """CREATE CONSTRAINT ru FOR ()-[r:follows]-()
          |REQUIRE r.source IS UNIQUE""".stripMargin)
    }
    assert(e5.getMessage.contains("not supported"))

    // the fused probe: one commit with THREE declared constraints
    // stays a bounded handful of jobs (one batch pass + one conflict
    // join — not 3 sequential actions per constraint)
    CypherEngine.query(st,
      """CREATE CONSTRAINT anum FOR (a:Acct)
        |REQUIRE a.num IS NOT NULL""".stripMargin).collect()
    val before = SparkCounts.jobs(spark) {
      CypherEngine.query(st,
        "CREATE (:Acct {gid: 'a:60', tenant: 't9', num: 60})").collect()
    }
    // the write path itself runs ~30 jobs (probes + node/edge/index/
    // redges writes + px delta); the fused check must stay O(1) on
    // top — one batch pass + one conflict join — NOT 3 per constraint
    assert(before <= 40,
      s"constraint-checked commit ran $before jobs")
  }

  test("property index DDL forms: auto-name, intrinsic gid, composite") {
    val st = newStore("pxddl")
    CypherEngine.query(st,
      "CREATE (:Person {gid: 'p:1', nickname: 'ace'})").collect()
    // unnamed form auto-names (Neo4j auto-generates; ours is derived)
    CypherEngine.query(st,
      "CREATE INDEX FOR (n:Person) ON (n.nickname)").collect()
    assert(st.indexDef("index_Person_nickname").exists(_.kind == "property"))
    val shown = CypherEngine.query(st, "SHOW RANGE INDEXES")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // alongside the intrinsic gid-bucket RANGE row
    assert(shown.contains(("index_Person_nickname", "RANGE")))
    // gid is the physical layout — acknowledged, nothing declared
    CypherEngine.query(st,
      "CREATE INDEX gx FOR (n:Person) ON (n.gid)").collect()
    assert(st.indexDef("gx").isEmpty)
    // composite DDL registers a tuple-keyed def (auto-named)
    CypherEngine.query(st,
      "CREATE INDEX FOR (n:Person) ON (n.a, n.b)").collect()
    val cd = st.indexDef("index_Person_a_b").get
    assert(cd.kind == "property" && cd.properties == Seq("a", "b"))
    CypherEngine.query(st, "DROP INDEX index_Person_a_b").collect()
    // …but model columns inside one get a targeted error
    val e = intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        "CREATE INDEX cx FOR (n:Person) ON (n.gid, n.b)")
    }
    assert(e.getMessage.contains("model column"))
    // DROP works through the same path as vector/fulltext
    CypherEngine.query(st, "DROP INDEX index_Person_nickname").collect()
    assert(st.indexDef("index_Person_nickname").isEmpty)
  }

  test("DROP then CREATE with the same name rebuilds the table") {
    val st = newStore("recreate")
    val sess = CypherEngine.session(st)
    sess.run("CREATE (:Doc {gid: 'd:1', title: 'alpha', body: 'beta'})")
      .collect()
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX rx FOR (x:Doc) ON EACH [x.title]").collect()
    def hits(q: String): Seq[String] = CypherEngine.query(st,
      s"""CALL db.index.fulltext.queryNodes('rx', '$q')
         |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(hits("alpha") == Seq("d:1") && hits("beta").isEmpty)
    // DROP + CREATE same name over a DIFFERENT property with no data
    // commit in between: the old manifest still links the dropped
    // index's table — the rebuild must not carry its rows forward
    CypherEngine.query(st, "DROP INDEX rx").collect()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX rx FOR (x:Doc) ON EACH [x.body]").collect()
    assert(hits("beta") == Seq("d:1"), "new definition's rows")
    assert(hits("alpha").isEmpty, "stale rows of the dropped definition")
  }

  test("vector index: euclidean similarity (assignment, probe, score)") {
    val st = newStore("l2")
    val sess = CypherEngine.session(st)
    (1 to 30).foreach(i => sess.run(
      s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}})").collect())
    sess.commit()
    CypherEngine.query(st,
      """CREATE VECTOR INDEX l2idx FOR (m:Emb) ON (m.v)
        |OPTIONS {indexConfig: {`vector.dimensions`: 4,
        |  `vector.similarity_function`: 'euclidean'}}""".stripMargin)
      .collect()
    val d = st.indexDef("l2idx").get
    assert(d.similarity == "euclidean" && d.centroids.nonEmpty)
    val q = vec(9)
    val rows = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('l2idx', 4, ${vecLit(q)})
         |YIELD node, score
         |RETURN node.gid AS gid, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.length == 4)
    // self-match first with score exactly 1 (d = 0)
    assert(rows.head._1 == "e:9")
    assert(math.abs(rows.head._2 - 1.0) < 1e-12)
    // every score = Neo4j's 1/(1+d^2), recomputed scala-side
    rows.foreach { case (gid, sc) =>
      val i = gid.drop(2).toInt
      val d2 = q.zip(vec(i)).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(sc - 1.0 / (1.0 + d2)) < 1e-9, gid)
    }
    assert(rows.map(_._2).toSeq.sliding(2).forall(
      w => w.length < 2 || w(0) >= w(1)))
  }

  test("procedures see uncommitted writes via the overlay fallback") {
    val st = newStore("sess")
    val s0 = CypherEngine.session(st)
    Seq("d:1" -> "alpha beta", "d:2" -> "beta gamma").foreach {
      case (g, t) =>
        s0.run(s"CREATE (:Doc {gid: '$g', body: '$t'})").collect() }
    s0.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX fsx FOR (x:Doc) ON EACH [x.body]").collect()
    val d = st.indexDef("fsx").get
    assert(st.searchIndexReady(d))

    // open transaction: the committed index is stale for this
    // session's view, so the procedure scans the overlay instead
    val sess = CypherEngine.session(st)
    sess.run("CREATE (:Doc {gid: 'd:new', body: 'zeta zeta'})").collect()
    assert(!st.searchIndexReady(d))
    val mid = sess.run(
      """CALL db.index.fulltext.queryNodes('fsx', 'zeta')
        |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(mid == Seq("d:new"))
    // and existing docs still match through the fallback
    val midBeta = sess.run(
      """CALL db.index.fulltext.queryNodes('fsx', 'beta')
        |YIELD node, score RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(midBeta == Seq("d:1", "d:2"))
    sess.commit()

    // after commit the maintained index serves the same rows
    assert(st.searchIndexReady(d))
    val after = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fsx', 'zeta')
        |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(after == Seq("d:new"))
  }

  test("unsupported index DDL forms get targeted errors") {
    val st = newStore("ddl2")
    val rel = intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        "CREATE VECTOR INDEX vx FOR ()-[r:T]-() ON (r.v)")
    }
    assert(rel.getMessage.contains("no list-valued properties"))
    val relF = intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        "CREATE FULLTEXT INDEX fx FOR ()-[r:T]-() ON EACH [r.a]")
    }
    assert(relF.getMessage.contains("r.source"))
  }

  test("relationship fulltext index: DDL, queryRelationships, delta") {
    val st = newStore("relft")
    val sess = CypherEngine.session(st)
    // edges with distinct source strings (the one edge property)
    Seq(("a", "b", "Batch Alpha sync"), ("b", "c", "manual import"),
        ("c", "d", "alpha feed")).foreach { case (s0, d0, src) =>
      sess.run(s"MERGE (:P {gid: 'n:$s0'})").collect()
      sess.run(s"MERGE (:P {gid: 'n:$d0'})").collect()
      sess.run(
        s"""MATCH (a:P {gid: 'n:$s0'}), (b:P {gid: 'n:$d0'})
           |CREATE (a)-[:KNOWS {source: '$src'}]->(b)""".stripMargin)
        .collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX rfx FOR ()-[r:KNOWS]-() ON EACH [r.source]")
      .collect()
    val d = st.indexDef("rfx").get
    assert(d.entity == "RELATIONSHIP" && d.label == "KNOWS" &&
      d.property == "source")
    assert(st.searchIndexReady(d))
    // SHOW INDEXES lists it with the RELATIONSHIP entity type
    val listed = CypherEngine.query(st, "SHOW INDEXES")
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(listed.get("rfx").contains("RELATIONSHIP"))
    // standard analyzer: 'Alpha' matches lowercase query
    val got = CypherEngine.query(st,
      """CALL db.index.fulltext.queryRelationships('rfx', 'alpha')
        |YIELD relationship, score
        |RETURN startNode(relationship).gid AS s,
        |  endNode(relationship).gid AS e, score
        |ORDER BY s""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == Seq(("n:a", "n:b"), ("n:c", "n:d")))
    // wrong-procedure targeted errors
    intercept[Exception] {
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('rfx', 'alpha')
          |YIELD node, score RETURN 1 AS o""".stripMargin)
    }
    // delta: a new edge's postings appear after its commit
    CypherEngine.query(st,
      """MATCH (a:P {gid: 'n:d'}), (b:P {gid: 'n:a'})
        |CREATE (a)-[:KNOWS {source: 'alpha backfill'}]->(b)"""
        .stripMargin).collect()
    val after = CypherEngine.query(st,
      """CALL db.index.fulltext.queryRelationships('rfx', 'backfill')
        |YIELD relationship, score
        |RETURN startNode(relationship).gid AS s""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(after == Seq("n:d"))
  }

  test("multi-property fulltext index concatenates the fields") {
    val st = newStore("ftmulti")
    val docs = Seq(
      ("d:1", "alpha spark", "hash beta"),
      ("d:2", "spark spark", ""),
      ("d:3", "", "gamma hash"),
      ("d:4", "delta", "epsilon"))
    val sess = CypherEngine.session(st)
    docs.foreach { case (g, t, b) =>
      sess.run(
        s"CREATE (:Art {gid: '$g', title: '$t', body: '$b'})").collect() }
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX artidx FOR (a:Art) ON EACH [a.title, a.body]")
      .collect()
    val d = st.indexDef("artidx").get
    assert(d.properties == Seq("title", "body"))
    // BM25 over the concatenated text, scala-recomputed
    val joined = docs.map { case (g, t, b) =>
      g -> s"${t.trim} ${b.trim}".trim.split("\\s+").toSeq }
      .filter(_._2.exists(_.nonEmpty)).toMap
    def bm25(q: Seq[String]): Map[String, Double] = {
      val n = joined.size
      val dls = joined.view.mapValues(_.length).toMap
      val avgdl = dls.values.sum.toDouble / n
      joined.keys.map { g =>
        val score = q.distinct.map { t =>
          val tf = joined(g).count(_ == t).toDouble
          if (tf == 0) 0.0
          else {
            val dfq = joined.values.count(_.contains(t))
            val idf = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
            idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dls(g) / avgdl))
          }
        }.sum
        g -> score
      }.toMap.filter(_._2 > 0)
    }
    val got = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('artidx', 'spark hash')
        |YIELD node, score RETURN node.gid AS g, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val want = bm25(Seq("spark", "hash"))
    assert(got.keySet == want.keySet)
    got.foreach { case (g, sc) =>
      assert(math.abs(sc - want(g)) < 1e-9, g) }
    // a match in EITHER field hits (d:1 title, d:3 body)
    assert(got.contains("d:1") && got.contains("d:3"))
    // delta: editing ONE field moves the postings
    CypherEngine.query(st,
      "MATCH (a:Art {gid: 'd:4'}) SET a.body = 'spark'").collect()
    val got2 = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('artidx', 'spark')
        |YIELD node, score RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got2.contains("d:4"))
  }

  test("legacy createNodeIndex procedures build real indexes") {
    val st = newStore("legacy")
    val sess = CypherEngine.session(st)
    (1 to 10).foreach(i => sess.run(
      s"CREATE (:E {gid: 'e:$i', v: ${vecLit(vec(i))}, t: 'doc no$i'})")
      .collect())
    sess.commit()
    CypherEngine.query(st,
      "CALL db.index.vector.createNodeIndex('lv', 'E', 'v', 4, 'cosine')")
      .collect()
    assert(st.indexDef("lv").exists(d =>
      d.kind == "vector" && d.centroids.nonEmpty && d.dims == 4))
    val hits = CypherEngine.query(st,
      s"""CALL db.index.vector.queryNodes('lv', 1, ${vecLit(vec(4))})
         |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(hits == Seq("e:4"))
    CypherEngine.query(st,
      "CALL db.index.fulltext.createNodeIndex('lf', ['E'], ['t'])")
      .collect()
    assert(st.indexDef("lf").exists(d =>
      d.kind == "fulltext" && d.label == "E" && d.property == "t"))
    val fhits = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('lf', 'no7')
        |YIELD node, score RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(fhits == Seq("e:7"))
    // duplicate names and mid-pipeline calls are rejected
    intercept[Exception] {
      CypherEngine.query(st,
        "CALL db.index.vector.createNodeIndex('lv', 'E', 'v', 4, 'cosine')")
    }
    intercept[Exception] {
      CypherEngine.query(st,
        """MATCH (n:E)
          |CALL db.index.vector.createNodeIndex('x', 'E', 'v', 4, 'cosine')
          |RETURN 1 AS o""".stripMargin)
    }
  }

  test("OPTIONS-carrying CREATE INDEX and the await/resample procs") {
    val st = newStore("optddl")
    CypherEngine.query(st,
      "CREATE (:Acct {gid: 'a:1', email: 'x@y.z'})").collect()
    // the Neo4j-dump DDL form (indexProvider option) must build a
    // REAL index, not fall to the generic intrinsic ack
    CypherEngine.query(st,
      """CREATE INDEX acct_email FOR (a:Acct) ON (a.email)
        |OPTIONS {indexProvider: 'range-1.0'}""".stripMargin).collect()
    assert(st.indexDef("acct_email").exists(_.kind == "property"))
    // lifecycle procs ported apps call right after creation
    CypherEngine.query(st, "CALL db.awaitIndex('acct_email')").collect()
    CypherEngine.query(st, "CALL db.awaitIndexes()").collect()
    CypherEngine.query(st, "CALL db.resampleOutdatedIndexes()").collect()
    intercept[Exception] {
      CypherEngine.query(st, "CALL db.awaitIndex('nope')").collect()
    }
    assert(CypherEngine.query(st,
      "MATCH (a:Acct {email: 'x@y.z'}) RETURN a.gid AS g")
      .collect().map(_.getString(0)).toSeq == Seq("a:1"))
  }

  test("fulltext analyzer: standard default lowercases and strips punct") {
    val st = newStore("ftan")
    val sess = CypherEngine.session(st)
    Seq("d:1" -> "Hello, World!", "d:2" -> "hello world",
        "d:3" -> "HELLO-there").foreach { case (g, t) =>
      sess.run(s"CREATE (:Doc {gid: '$g', body: '$t'})").collect() }
    sess.commit()
    // default analyzer = standard-no-stop-words: 'Hello,' matches
    // query 'hello' (the ported-app recall trap the whitespace
    // tokenizer had)
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX fstd FOR (x:Doc) ON EACH [x.body]").collect()
    assert(st.indexDef("fstd").get.analyzer == "standard-no-stop-words")
    def hits(idx: String, q: String): Seq[String] = CypherEngine.query(st,
      s"""CALL db.index.fulltext.queryNodes('$idx', '$q')
         |YIELD node, score RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(hits("fstd", "hello") == Seq("d:1", "d:2", "d:3"))
    assert(hits("fstd", "WORLD") == Seq("d:1", "d:2"))
    // explicit whitespace analyzer keeps the case-sensitive tokenizer
    CypherEngine.query(st,
      """CREATE FULLTEXT INDEX fws FOR (x:Doc) ON EACH [x.body]
        |OPTIONS {indexConfig: {`fulltext.analyzer`: 'whitespace'}}"""
        .stripMargin).collect()
    assert(st.indexDef("fws").get.analyzer == "whitespace")
    assert(hits("fws", "hello") == Seq("d:2"))
    assert(hits("fws", "Hello,") == Seq("d:1"))
    // query-side analyzer override via the options map
    val overridden = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fws', 'HELLO-there',
        |{analyzer: 'whitespace'}) YIELD node, score
        |RETURN node.gid AS g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(overridden == Seq("d:3"))
    // unknown analyzers are rejected at DDL and query time
    intercept[IllegalArgumentException] {
      CypherEngine.query(st,
        """CREATE FULLTEXT INDEX fb FOR (x:Doc) ON EACH [x.body]
          |OPTIONS {indexConfig: {`fulltext.analyzer`: 'bogus'}}"""
          .stripMargin)
    }
    intercept[Exception] {
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fstd', 'x',
          |{analyzer: 'bogus'}) YIELD node, score
          |RETURN 1 AS o""".stripMargin)
    }
  }

  test("fulltext query syntax: AND, NOT, phrase, prefix, parens") {
    val st = newStore("ftq")
    val sess = CypherEngine.session(st)
    Seq(
      "d:1" -> "sort merge join algorithm",
      "d:2" -> "merge sort is not a join",
      "d:3" -> "hash join beats sort",
      "d:4" -> "nested loop join").foreach { case (g, t) =>
      sess.run(s"CREATE (:Doc {gid: '$g', body: '$t'})").collect() }
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX fq FOR (x:Doc) ON EACH [x.body]").collect()
    def hits(q: String): Seq[String] = CypherEngine.query(st,
      s"""CALL db.index.fulltext.queryNodes('fq', '$q')
         |YIELD node, score RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    // phrase: contiguous token match, not bag-of-words
    assert(hits("\"sort merge\"") == Seq("d:1"))
    assert(hits("\"merge sort\"") == Seq("d:2"))
    // AND requires both terms
    assert(hits("join AND sort") == Seq("d:1", "d:2", "d:3"))
    // NOT excludes (Lucene MUST_NOT semantics for adjacency)
    assert(hits("join NOT sort") == Seq("d:4"))
    // prefix
    assert(hits("mer*") == Seq("d:1", "d:2"))
    // parentheses + nested boolean
    assert(hits("(hash OR nested) AND join") == Seq("d:3", "d:4"))
    // default operator is OR
    assert(hits("hash nested") == Seq("d:3", "d:4"))
    // scores: positive atoms only, descending order preserved
    val scored = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fq', 'join NOT nested')
        |YIELD node, score RETURN node.gid AS g, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(scored.map(_._1).toSet == Set("d:1", "d:2", "d:3"))
    assert(scored.forall(_._2 > 0.0))
    // pure-negative queries are rejected, as in Lucene
    intercept[Exception] {
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fq', 'NOT join')
          |YIELD node, score RETURN 1 AS o""".stripMargin)
    }
    // fuzzy terms expand against the dictionary: edit distance ≤ k
    // ("marge" is 1 edit from "merge"; "join" is 2 from "sort" — no)
    assert(hits("marge~1") == Seq("d:1", "d:2"))
    assert(hits("mergee~1") == Seq("d:1", "d:2"))
    assert(hits("marge~1 AND hash") == Nil)
    // bare ~ defaults to distance 2
    assert(hits("mxrgx~") == Seq("d:1", "d:2"))
    // …and the probe stays posting-bucket-pruned through the dict
    val postAll = st.readSearchIndex(st.indexDef("fq").get,
      _.startsWith("sect=t")).inputFiles.toSet
    val fz = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fq', 'marge~1')
        |YIELD node, score RETURN node.gid AS g""".stripMargin)
    val used = fz.inputFiles.toSet.intersect(postAll)
    assert(used.nonEmpty && used.size < postAll.size,
      s"fuzzy query read ${used.size}/${postAll.size} posting files")
    // phrase slop is SERVED (positional postings): the reversed
    // bigram in d:2 needs slop 2, exactly as in Lucene
    assert(hits("\"sort merge\"") == Seq("d:1"))
    assert(hits("\"sort merge\"~2").take(2) == Seq("d:1", "d:2"))
    // bad-distance / bad-slop / bad-boost syntax gets TARGETED
    // errors, not mis-lexed never-matching terms (field-scoped fuzzy
    // itself is SERVED now — see the field-scoping test — but a bad
    // distance inside one still errors)
    Seq("spark~9", "body:spark~9", "\"sort merge\"~x", "spark^x",
      "spark^-1")
      .foreach { bad =>
        val e = intercept[Exception] {
          CypherEngine.query(st,
            s"""CALL db.index.fulltext.queryNodes('fq', '$bad')
               |YIELD node, score RETURN 1 AS o""".stripMargin)
        }
        assert(e.getMessage.contains("not supported") ||
          e.getMessage.contains("must be 1 or 2") ||
          e.getMessage.contains("slop must be") ||
          e.getMessage.contains("boost must be"), s"$bad: $e")
      }
    // ^boost scales the score, never the hit set (Lucene semantics)
    def scoredQ(q: String): Seq[(String, Double)] =
      CypherEngine.query(st,
        s"""CALL db.index.fulltext.queryNodes('fq', '$q')
           |YIELD node, score
           |RETURN node.gid AS g, score ORDER BY g""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val plain = scoredQ("merge")
    val boosted = scoredQ("merge^3")
    assert(plain.nonEmpty && boosted.map(_._1) == plain.map(_._1))
    plain.zip(boosted).foreach { case ((_, s0), (_, s3)) =>
      assert(math.abs(s3 - 3.0 * s0) < 1e-9, s"$s3 != 3*$s0") }
    // fuzzy matches weight by edit distance: the exact term keeps
    // weight 1, a 1-edit term decays by 1 − 1/len
    val fz1 = scoredQ("merge~1")
    assert(fz1.nonEmpty)
    // wildcard leaves expand against the dictionary: ? = one char,
    // interior/leading * = any run (leading star = full-dictionary
    // scan, vocabulary-sized); trailing-star-only stays a prefix
    assert(hits("m?rge") == Seq("d:1", "d:2"))
    assert(hits("*erge") == Seq("d:1", "d:2"))
    assert(hits("s*t") == Seq("d:1", "d:2", "d:3"))
    assert(hits("al*thm") == Seq("d:1"))
    assert(hits("jo?n AND hash") == Seq("d:3"))
    assert(hits("body:m?rge") == Seq("d:1", "d:2"))
    // term ranges over dictionary order: [ ] inclusive, { } exclusive,
    // * = open end
    assert(hits("[hash TO java]") == Seq("d:2", "d:3"))
    assert(hits("{hash TO is]") == Seq("d:2"))
    assert(hits("[merge TO merge]") == Seq("d:1", "d:2"))
    assert(hits("[n TO *] AND loop") == Seq("d:4"))
    assert(hits("body:[hash TO hat]") == Seq("d:3"))
    // the probes stay posting-bucket-pruned through the dictionary
    for (q <- Seq("m?rge", "[hash TO java]")) {
      val wf = CypherEngine.query(st,
        s"""CALL db.index.fulltext.queryNodes('fq', '$q')
           |YIELD node, score RETURN node.gid AS g""".stripMargin)
      val usedW = wf.inputFiles.toSet.intersect(postAll)
      assert(usedW.nonEmpty && usedW.size < postAll.size,
        s"'$q' read ${usedW.size}/${postAll.size} posting files")
    }
    // a bare wildcard and malformed ranges get targeted errors
    for (bad <- Seq("*", "[a TO]", "[a b c]")) {
      val e = intercept[Exception] {
        CypherEngine.query(st,
          s"""CALL db.index.fulltext.queryNodes('fq', '$bad')
             |YIELD node, score RETURN 1 AS o""".stripMargin)
      }
      assert(e.getMessage.contains("wildcard") ||
        e.getMessage.contains("range"), s"$bad: $e")
    }
  }

  test("fulltext field scoping: field:term / field:\"phrase\"") {
    val st = newStore("ftfield")
    val sess = CypherEngine.session(st)
    Seq(
      ("d:1", "spark internals", "tuning joins"),
      ("d:2", "tuning guide", "spark shuffle internals"),
      ("d:3", "hash joins", "sort merge spark")).foreach {
      case (g, ti, bo) =>
        sess.run(s"CREATE (:Doc {gid: '$g', title: '$ti', body: '$bo'})")
          .collect() }
    sess.commit()
    CypherEngine.query(st,
      """CREATE FULLTEXT INDEX ff FOR (x:Doc)
        |ON EACH [x.title, x.body]""".stripMargin).collect()
    def hits(q: String): Seq[String] = CypherEngine.query(st,
      s"""CALL db.index.fulltext.queryNodes('ff', '$q')
         |YIELD node, score RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    // unscoped matches the concatenated fields; scoped only its own
    assert(hits("spark") == Seq("d:1", "d:2", "d:3"))
    assert(hits("title:spark") == Seq("d:1"))
    assert(hits("body:spark") == Seq("d:2", "d:3"))
    // scoped phrase: contiguity verified inside the named field
    assert(hits("body:\"sort merge\"") == Seq("d:3"))
    // scoped prefix
    assert(hits("title:tun*") == Seq("d:2"))
    // composes with boolean operators
    assert(hits("title:spark OR body:shuffle") == Seq("d:1", "d:2"))
    assert(hits("spark NOT title:spark") == Seq("d:2", "d:3"))
    // grouped field scope distributes over the group's leaves
    assert(hits("title:(spark OR guide)") == Seq("d:1", "d:2"))
    assert(hits("body:(shuffle OR \"sort merge\")") == Seq("d:2", "d:3"))
    assert(hits("title:(joins NOT hash)") == Nil)
    // field-scoped FUZZY: matches within the named field only
    // (unscoped sparc~1 would hit all three docs through their bodies)
    assert(hits("title:sparc~1") == Seq("d:1"))
    // field-scoped PROXIMITY over field-LOCAL positions: the
    // reversed bigram in d:3's body needs slop 2, as in Lucene
    assert(hits("body:\"merge sort\"") == Nil)
    assert(hits("body:\"merge sort\"~2") == Seq("d:3"))
    // unknown field is a targeted error
    val e = intercept[Exception] { hits("nope:spark") }
    assert(e.getMessage.contains("no field"))
  }

  test("per-field BM25F: field-scoped leaves score the field's own stats") {
    val st = newStore("bm25f")
    val sess = CypherEngine.session(st)
    val rows = Seq(
      ("d:1", "spark internals", "tuning joins"),
      ("d:2", "tuning guide", "spark shuffle internals"),
      ("d:3", "hash joins", "sort merge spark"))
    rows.foreach { case (g, ti, bo) =>
      sess.run(s"CREATE (:Doc {gid: '$g', title: '$ti', body: '$bo'})")
        .collect() }
    sess.commit()
    CypherEngine.query(st,
      """CREATE FULLTEXT INDEX fbf FOR (x:Doc)
        |ON EACH [x.title, x.body]""".stripMargin).collect()
    val d = st.indexDef("fbf").get
    assert(st.ftFieldsReady(d), "sect=f marker missing after build")

    // per-field collection statistics rows (fld is column index 6)
    val byFld = st.readSearchIndex(d, _.startsWith("sect=s"))
      .filter("gid like '__stats:%'")
      .collect().map(r => r.getString(6) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(byFld("title") == (3L, 6L), byFld)
    assert(byFld("body") == (3L, 8L), byFld)

    // the scala-side per-field BM25 the engine must match
    def fieldBm25(fieldOf: ((String, String, String)) => String,
        t: String): Map[String, Double] = {
      val docs = rows.map(r => r._1 -> fieldOf(r).split("\\s+").toSeq)
      val withF = docs.filter(_._2.nonEmpty)
      val fn = withF.size
      val avgdl = withF.map(_._2.size).sum.toDouble / fn
      val dfq = withF.count(_._2.contains(t))
      val idf = math.log(1.0 + (fn - dfq + 0.5) / (dfq + 0.5))
      docs.collect { case (g, w) if w.contains(t) =>
        val tf = w.count(_ == t).toDouble
        g -> idf * tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
      }.toMap
    }
    def scored(q: String): Map[String, Double] = CypherEngine.query(st,
      s"""CALL db.index.fulltext.queryNodes('fbf', '$q')
         |YIELD node, score
         |RETURN node.gid AS g, score""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val gotT = scored("title:spark")
    val wantT = fieldBm25(_._2, "spark")
    assert(gotT.keySet == wantT.keySet, gotT)
    gotT.foreach { case (g, s) =>
      assert(math.abs(s - wantT(g)) < 1e-9, s"$g: $s vs ${wantT(g)}") }
    val gotB = scored("body:internals")
    val wantB = fieldBm25(_._3, "internals")
    assert(gotB.keySet == wantB.keySet, gotB)
    gotB.foreach { case (g, s) =>
      assert(math.abs(s - wantB(g)) < 1e-9, s"$g: $s vs ${wantB(g)}") }

    // UNSCOPED scoring is unchanged by the per-field layout: it
    // aggregates the concatenated view (tf = Σ field tf, dl = dlt)
    def catBm25(t: String): Map[String, Double] = {
      val docs = rows.map(r =>
        r._1 -> s"${r._2} ${r._3}".split("\\s+").toSeq)
      val n = docs.size
      val avgdl = docs.map(_._2.size).sum.toDouble / n
      val dfq = docs.count(_._2.contains(t))
      val idf = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
      docs.collect { case (g, w) if w.contains(t) =>
        val tf = w.count(_ == t).toDouble
        g -> idf * tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
      }.toMap
    }
    val gotU = scored("internals")
    val wantU = catBm25("internals")
    assert(gotU.keySet == wantU.keySet, gotU)
    gotU.foreach { case (g, s) =>
      assert(math.abs(s - wantU(g)) < 1e-9, s"$g: $s vs ${wantU(g)}") }

    // DELTA maintenance keeps the per-field shape: retitle d:3 so
    // 'spark' enters the title field; stats, df, and scores follow
    CypherEngine.query(st,
      "MATCH (x:Doc {gid: 'd:3'}) SET x.title = 'spark sort'").collect()
    val rows2 = rows.map {
      case ("d:3", _, bo) => ("d:3", "spark sort", bo)
      case r => r }
    val byFld2 = st.readSearchIndex(d, _.startsWith("sect=s"))
      .filter("gid like '__stats:%'")
      .collect().map(r => r.getString(6) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(byFld2("title") == (3L, 6L), byFld2)
    def fieldBm25After(t: String): Map[String, Double] = {
      val docs = rows2.map(r => r._1 -> r._2.split("\\s+").toSeq)
      val withF = docs.filter(_._2.nonEmpty)
      val fn = withF.size
      val avgdl = withF.map(_._2.size).sum.toDouble / fn
      val dfq = withF.count(_._2.contains(t))
      val idf = math.log(1.0 + (fn - dfq + 0.5) / (dfq + 0.5))
      docs.collect { case (g, w) if w.contains(t) =>
        val tf = w.count(_ == t).toDouble
        g -> idf * tf * 2.2 /
          (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
      }.toMap
    }
    val gotT2 = scored("title:spark")
    val wantT2 = fieldBm25After("spark")
    assert(gotT2.keySet == wantT2.keySet, gotT2)
    gotT2.foreach { case (g, s) =>
      assert(math.abs(s - wantT2(g)) < 1e-9, s"$g: $s vs ${wantT2(g)}") }
  }

  test("fulltext prefix reads are dictionary-bounded") {
    val st = newStore("ftdict")
    st.localizeTinyTables = false // assert the at-scale parquet shape
    val sess = CypherEngine.session(st)
    (1 to 40).foreach { i =>
      sess.run(s"CREATE (:Doc {gid: 'd:$i', body: 'term$i filler$i'})")
        .collect() }
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX fd FOR (x:Doc) ON EACH [x.body]").collect()
    val d = st.indexDef("fd").get
    assert(st.ftDictReady(d), "dictionary section missing after build")
    // one dict row per distinct term, tf = document frequency
    val dict = st.readSearchIndex(d, _.startsWith("sect=d"))
    assert(dict.count() == 80)
    assert(dict.filter("term = 'term7'").head().getLong(3) == 1L)

    def hits(q: String): Seq[String] = CypherEngine.query(st,
      s"""CALL db.index.fulltext.queryNodes('fd', '$q')
         |YIELD node, score RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(hits("term39*") == Seq("d:39"))
    assert(hits("term3*") ==
      (Seq(3) ++ (30 to 39)).map(i => s"d:$i").sorted)

    // the probe reads a strict subset of the POSTING files: the
    // dictionary names the matching terms' buckets, so `term39*`
    // never scans the whole posting index
    val postAll = st.readSearchIndex(d, _.startsWith("sect=t"))
      .inputFiles.toSet
    val res = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fd', 'term39*')
        |YIELD node, score RETURN node.gid AS g""".stripMargin)
    val used = res.inputFiles.toSet.intersect(postAll)
    assert(used.nonEmpty && used.size < postAll.size,
      s"prefix query read ${used.size}/${postAll.size} posting files")

    // delta: new docs join the dictionary, deleted docs leave it
    CypherEngine.query(st,
      "CREATE (:Doc {gid: 'd:41', body: 'term39x common'})").collect()
    assert(hits("term39*") == Seq("d:39", "d:41"))
    CypherEngine.query(st,
      "MATCH (x:Doc {gid: 'd:39'}) DELETE x").collect()
    assert(hits("term39*") == Seq("d:41"))
    assert(st.readSearchIndex(st.indexDef("fd").get,
      _.startsWith("sect=d")).filter("term = 'term39'").count() == 0)
    // a changed doc's old terms leave, new terms arrive (df stays 1)
    CypherEngine.query(st,
      "MATCH (x:Doc {gid: 'd:41'}) SET x.body = 'term40x common'")
      .collect()
    assert(hits("term39*").isEmpty)
    assert(hits("term40*") == Seq("d:40", "d:41"))
  }

  test("fulltext {limit} option and kind-filtered SHOW forms") {
    val st = newStore("ftopt")
    val sess = CypherEngine.session(st)
    Seq("d:1" -> "spark spark spark", "d:2" -> "spark spark",
        "d:3" -> "spark").foreach { case (g, t) =>
      sess.run(s"CREATE (:Doc {gid: '$g', body: '$t'})").collect() }
    sess.commit()
    CypherEngine.query(st,
      "CREATE FULLTEXT INDEX fo FOR (x:Doc) ON EACH [x.body]").collect()
    CypherEngine.query(st,
      "CREATE VECTOR INDEX vo FOR (x:Doc) ON (x.nope)").collect()
    val top2 = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fo', 'spark', {limit: 2})
        |YIELD node, score RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    // top-2 by score = the two highest-tf docs
    assert(top2 == Seq("d:1", "d:2"))
    // {skip}: score-ordered pagination (skip the top hit)
    val page2 = CypherEngine.query(st,
      """CALL db.index.fulltext.queryNodes('fo', 'spark',
        |{skip: 1, limit: 2}) YIELD node, score
        |RETURN node.gid AS g ORDER BY g""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(page2 == Seq("d:2", "d:3"))
    // the eventual-consistency refresh proc succeeds (transactional
    // indexes — trivially satisfied, but ported call sites invoke it)
    assert(CypherEngine.query(st,
      "CALL db.index.fulltext.awaitEventuallyConsistentIndexRefresh()")
      .collect().nonEmpty)
    intercept[Exception] {
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fo', 'spark',
          |{analyzer: 'x'}) YIELD node, score RETURN 1 AS o""".stripMargin)
    }
    val ftShown = CypherEngine.query(st, "SHOW FULLTEXT INDEXES")
      .collect().map(_.getString(0)).toSeq
    assert(ftShown == Seq("fo"))
    val vShown = CypherEngine.query(st, "SHOW VECTOR INDEXES")
      .collect().map(_.getString(0)).toSeq
    assert(vShown == Seq("vo"))
  }

  test("Z-order point index: true 2-D pruning for bbox and distance") {
    val st = new GraphStore(
      Files.createTempDirectory("graft-sidx-zpt").toString, spark, 16)
    st.localizeTinyTables = false
    val sess = CypherEngine.session(st)
    // a 20×20 grid: x = i mod 20, y = i div 20
    (0 until 400).foreach { i =>
      sess.run(s"CREATE (:Pt {gid: 'p:$i', x: ${(i % 20).toDouble}, " +
        s"y: ${(i / 20).toDouble}})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE INDEX ptx FOR (p:Pt) ON (p.x)").collect()
    CypherEngine.query(st,
      "CREATE POINT INDEX pz FOR (p:Pt) ON (p.x, p.y)").collect()
    val dz = st.indexDef("pz").get
    assert(dz.zorder && dz.properties == Seq("x", "y") &&
      st.zPointReady(dz))
    assert(st.readSearchIndex(dz, _.startsWith("sect=z")).count() == 400)
    val listed = CypherEngine.query(st, "SHOW INDEXES")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(listed.contains(("pz", "POINT")))

    val bboxQ =
      """MATCH (p:Pt) WHERE point.withinBBox(
        |    point({x: p.x, y: p.y}),
        |    point({x: 3.0, y: 4.0}), point({x: 5.0, y: 6.0}))
        |RETURN p.gid AS gid ORDER BY gid""".stripMargin
    val expected = (for { yy <- 4 to 6; xx <- 3 to 5 }
      yield s"p:${yy * 20 + xx}").sorted
    val zq = CypherEngine.query(st, bboxQ)
    assert(zq.collect().map(_.getString(0)).toSeq == expected)
    val zFiles = zq.inputFiles.filter(_.contains("/nodes/")).toSet

    // the band route (point index dropped) reads a whole x-stripe's
    // candidates — the Z route must read a STRICT SUBSET of it
    CypherEngine.query(st, "DROP INDEX pz").collect()
    val bq = CypherEngine.query(st, bboxQ)
    assert(bq.collect().map(_.getString(0)).toSeq == expected)
    val bandFiles = bq.inputFiles.filter(_.contains("/nodes/")).toSet
    assert(zFiles.nonEmpty && zFiles.subsetOf(bandFiles) &&
      zFiles.size < bandFiles.size,
      s"z route read ${zFiles.size} vs band ${bandFiles.size} node files")

    // recreate; a cartesian distance probe routes the same way
    CypherEngine.query(st,
      "CREATE POINT INDEX pz FOR (p:Pt) ON (p.x, p.y)").collect()
    val distQ =
      """MATCH (p:Pt) WHERE point.distance(
        |    point({x: p.x, y: p.y}), point({x: 10.0, y: 10.0})) <= 1.5
        |RETURN p.gid AS gid ORDER BY gid""".stripMargin
    val expDist = (for {
      yy <- 0 until 20; xx <- 0 until 20
      if math.hypot(xx - 10.0, yy - 10.0) <= 1.5
    } yield s"p:${yy * 20 + xx}").sorted
    val dq = CypherEngine.query(st, distQ)
    assert(dq.collect().map(_.getString(0)).toSeq == expDist)
    val dFiles = dq.inputFiles.filter(_.contains("/nodes/")).toSet
    assert(dFiles.nonEmpty && dFiles.size < bandFiles.size,
      s"distance z route read ${dFiles.size} node files")

    // delta: a moved point changes its Morton cell through the commit
    CypherEngine.query(st,
      "MATCH (p:Pt {gid: 'p:84'}) SET p.x = 19.0").collect()
    val after = CypherEngine.query(st, bboxQ)
      .collect().map(_.getString(0)).toSeq
    assert(after == expected.filterNot(_ == "p:84"))
    // …and a point moved INTO the box appears
    CypherEngine.query(st,
      "MATCH (p:Pt {gid: 'p:0'}) SET p.x = 4.0").collect()
    CypherEngine.query(st,
      "MATCH (p:Pt {gid: 'p:0'}) SET p.y = 5.0").collect()
    val after2 = CypherEngine.query(st, bboxQ)
      .collect().map(_.getString(0)).toSeq
    assert(after2 == ("p:0" +: after.toList).sorted)
  }

  test("filtered vector search: selective px pre-filter + shortlist filter") {
    val st = newStore("vfilt")
    val n = 400
    val sess = CypherEngine.session(st)
    (1 to n).foreach { i =>
      val seg = if (i % 100 == 0) "rare" else "common" // 1% selectivity
      val grp = s"g${i % 4}" // NO px index on this one
      sess.run(s"CREATE (:Emb {gid: 'e:$i', v: ${vecLit(vec(i))}, " +
        s"seg: '$seg', grp: '$grp'})").collect()
    }
    sess.commit()
    CypherEngine.query(st,
      "CREATE VECTOR INDEX vf FOR (m:Emb) ON (m.v)").collect()
    CypherEngine.query(st,
      "CREATE INDEX segx FOR (m:Emb) ON (m.seg)").collect()
    val q = vec(17)
    def truth(pred: Int => Boolean, k: Int): Seq[String] =
      (1 to n).filter(pred)
        .map(i => (s"e:$i", cosine(vec(i), q)))
        .sortBy { case (g, c) => (-c, g) }.take(k).map(_._1)
    def ask(filter: String, k: Int): Seq[String] =
      CypherEngine.query(st,
        s"""CALL db.index.vector.queryNodes('vf', $k, ${vecLit(q)},
           |  {filter: $filter}) YIELD node, score
           |RETURN node.gid AS g""".stripMargin)
        .collect().map(_.getString(0)).toSeq

    // SELECTIVE path (px-resolved 1% candidates): EXACT — recall 1.0
    // vs the brute-force-filtered ground truth
    assert(ask("{seg: 'rare'}", 3) == truth(_ % 100 == 0, 3))
    // non-selective path (no px index on grp): the filter applies
    // BEFORE shortlist truncation with widened probes — recall vs
    // filtered ground truth stays high (≥2 of top-3)
    val gotG = ask("{grp: 'g1'}", 3)
    val truthG = truth(i => i % 4 == 1, 3)
    assert(gotG.toSet.intersect(truthG.toSet).size >= 2,
      s"filtered recall collapsed: $gotG vs $truthG")
    // conjunctive filters intersect
    assert(ask("{seg: 'rare', grp: 'g0'}", 2) ==
      truth(i => i % 100 == 0 && i % 4 == 0, 2))
    // a zero-match filter yields zero rows (not an error)
    assert(ask("{seg: 'nope'}", 3).isEmpty)
    // malformed options get targeted errors
    val e = intercept[Exception] {
      CypherEngine.query(st,
        s"""CALL db.index.vector.queryNodes('vf', 3, ${vecLit(q)},
           |  {unknown: 1}) YIELD node, score RETURN 1 AS o"""
          .stripMargin).collect()
    }
    assert(e.getMessage.contains("filter"), e.getMessage)
  }

  test("constraint exact-verify is batched past the old 64-candidate cap") {
    val st = newStore("cap")
    val base = 9007199254740992L // 2^53: double spacing 2, odd aliases even
    val sess = CypherEngine.session(st)
    (0 until 66).foreach(i => sess.run(
      s"CREATE (:B {gid: 'e:$i', v: ${base + 2L * i}})").collect())
    sess.commit()
    CypherEngine.query(st,
      "CREATE CONSTRAINT bu FOR (b:B) REQUIRE b.v IS UNIQUE").collect()
    // 66 lossy-key conflict candidates, every one an encoding alias
    // (odd neighbor of a committed even): the batched exact-verify
    // must let the commit through — the old ≤64 budget sound-vetoed
    val s2 = CypherEngine.session(st)
    (0 until 66).foreach(i => s2.run(
      s"CREATE (:B {gid: 'o:$i', v: ${base + 2L * i + 1L}})").collect())
    s2.commit()
    assert(CypherEngine.query(st, "MATCH (b:B) RETURN count(b) AS n")
      .collect().head.getLong(0) == 132L)
    // a GENUINE duplicate hidden among 66 alias candidates still
    // throws (2^54 range: double spacing 4, +1 aliases the stored +0)
    val base2 = 18014398509481984L // 2^54
    val s3 = CypherEngine.session(st)
    (0 until 66).foreach(i => s3.run(
      s"CREATE (:B {gid: 'f:$i', v: ${base2 + 4L * i}})").collect())
    s3.commit()
    val s4 = CypherEngine.session(st)
    (0 until 66).foreach(i => s4.run(
      s"CREATE (:B {gid: 'g:$i', v: ${base2 + 4L * i + 1L}})").collect())
    s4.run(s"CREATE (:B {gid: 'g:dup', v: ${base + 2L}})").collect()
    val e = intercept[graft.store.ConstraintViolation] { s4.commit() }
    assert(e.getMessage.contains("e:1") || e.getMessage.contains("bu"))
    assert(CypherEngine.query(st, "MATCH (b:B) RETURN count(b) AS n")
      .collect().head.getLong(0) == 198L) // the vetoed batch wrote nothing
  }

  test("relationship property index: DDL, routed lookup, pruning, delta") {
    val st = newStore("relpx")
    st.localizeTinyTables = false // assert the at-scale parquet shape
    val sess = CypherEngine.session(st)
    (1 to 30).foreach(i =>
      sess.run(s"CREATE (:P {gid: 'p:$i'})").collect())
    (1 to 29).foreach(i => sess.run(
      s"""MATCH (a:P {gid: 'p:$i'}), (b:P {gid: 'p:${i + 1}'})
         |CREATE (a)-[:SHIPPED {source: 's${i % 5}'}]->(b)""".stripMargin)
      .collect())
    // a second SHIPPED edge from p:1 with a DIFFERENT source: its src
    // becomes a candidate for source='s1' probes, and the residual
    // predicate must filter it back out
    sess.run(
      """MATCH (a:P {gid: 'p:1'}), (b:P {gid: 'p:3'})
        |CREATE (a)-[:SHIPPED {source: 'zz'}]->(b)""".stripMargin)
      .collect()
    sess.commit()

    CypherEngine.query(st,
      "CREATE INDEX ridx FOR ()-[r:SHIPPED]-() ON (r.source)").collect()
    val d = st.indexDef("ridx").get
    assert(d.kind == "property" && d.entity == "RELATIONSHIP" &&
      d.label == "SHIPPED" && st.searchIndexReady(d))
    // distinct (source, src) pairs: 29 chain edges + the zz edge
    assert(st.readSearchIndex(d, _ => true).count() == 30)
    // SHOW INDEXES lists it with entityType RELATIONSHIP
    val listed = CypherEngine.query(st, "SHOW INDEXES")
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(listed.contains(("ridx", "RELATIONSHIP")))

    // inline-map routed lookup: right edges, and the plan reads a
    // strict subset of the edge table's files (src-bucket pruning)
    val expect1 = (1 to 29).filter(_ % 5 == 1)
      .map(i => (s"p:$i", s"p:${i + 1}"))
    val df = CypherEngine.query(st,
      """MATCH (a)-[r:SHIPPED {source: 's1'}]->(b)
        |RETURN a.gid AS a, b.gid AS b ORDER BY a""".stripMargin)
    assert(df.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted == expect1.sorted)
    val allEdgeFiles = st.edges.inputFiles.filter(_.contains("/edges/")).toSet
    // a single-src value prunes to ONE src-hash bucket directory (the
    // multi-src 's1' probe may legitimately cover all 4 test buckets)
    val dfZz = CypherEngine.query(st,
      """MATCH (a)-[r:SHIPPED {source: 'zz'}]->(b)
        |RETURN a.gid AS a, b.gid AS b""".stripMargin)
    assert(dfZz.collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("p:1", "p:3")))
    val routedEdge = dfZz.inputFiles.filter(_.contains("/edges/")).toSet
    assert(routedEdge.nonEmpty && routedEdge.subsetOf(allEdgeFiles))
    assert(routedEdge.size < allEdgeFiles.size,
      s"rel lookup read every edge file: ${routedEdge.size}/${allEdgeFiles.size}")
    // the rel-px probe itself reads one bucket directory, not the table
    val pxAll = st.readSearchIndex(d, _ => true).inputFiles.toSet
    val pxProbe = st.readSearchIndex(d,
      st.pxProbeKeys("s:s1")).inputFiles.toSet
    assert(pxProbe.nonEmpty && pxProbe.size < pxAll.size)

    // WHERE-equality and IN forms route the same way
    val viaWhere = CypherEngine.query(st,
      """MATCH ()-[r:SHIPPED]->() WHERE r.source = 's2'
        |RETURN r.source AS s""".stripMargin)
    assert(viaWhere.collect().map(_.getString(0)).toSeq ==
      Seq.fill((1 to 29).count(_ % 5 == 2))("s2"))
    val routedW = CypherEngine.query(st,
      """MATCH (a)-[r:SHIPPED]->() WHERE r.source = 'zz'
        |RETURN a.gid AS a""".stripMargin)
      .inputFiles.filter(_.contains("/edges/")).toSet
    assert(routedW.nonEmpty && routedW.size < allEdgeFiles.size,
      "WHERE r.source = … did not take the rel index route")
    val viaIn = CypherEngine.query(st,
      """MATCH (a)-[r:SHIPPED]->() WHERE r.source IN ['zz', 'nope']
        |RETURN a.gid AS a""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(viaIn == Seq("p:1"))

    // undirected form stays correct through the route (stored-src
    // pruning is orientation-independent)
    val undirected = CypherEngine.query(st,
      """MATCH (x)-[r:SHIPPED {source: 'zz'}]-(y)
        |RETURN x.gid AS x ORDER BY x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(undirected == Seq("p:1", "p:3"))

    // delta: SET r.source moves the index row; edge deletion drops it
    CypherEngine.query(st,
      """MATCH (a {gid: 'p:1'})-[r:SHIPPED]->(b {gid: 'p:3'})
        |SET r.source = 'moved'""".stripMargin).collect()
    assert(CypherEngine.query(st,
      "MATCH (a)-[r:SHIPPED {source: 'zz'}]->(b) RETURN a.gid AS a")
      .collect().isEmpty)
    assert(CypherEngine.query(st,
      "MATCH (a)-[r:SHIPPED {source: 'moved'}]->(b) RETURN a.gid AS a")
      .collect().map(_.getString(0)).toSeq == Seq("p:1"))
    CypherEngine.query(st,
      """MATCH (a {gid: 'p:6'})-[r:SHIPPED]->(b {gid: 'p:7'})
        |DELETE r""".stripMargin).collect()
    assert(st.readSearchIndex(d, _ => true)
      .filter("val = 's:s1' AND gid = 'p:6'").count() == 0)
    assert(CypherEngine.query(st,
      """MATCH (a)-[r:SHIPPED {source: 's1'}]->(b)
        |RETURN a.gid AS a ORDER BY a""".stripMargin)
      .collect().map(_.getString(0)).toSeq ==
      expect1.map(_._1).filterNot(_ == "p:6").sorted)

    // uncommitted session edges: the route declines, the overlay scans
    val s2 = CypherEngine.session(st)
    s2.run(
      """MATCH (a:P {gid: 'p:10'}), (b:P {gid: 'p:12'})
        |CREATE (a)-[:SHIPPED {source: 's1'}]->(b)""".stripMargin)
      .collect()
    assert(!st.searchIndexReady(d))
    val inSess = s2.run(
      """MATCH (a)-[r:SHIPPED {source: 's1'}]->(b)
        |RETURN a.gid AS a ORDER BY a""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(inSess.contains("p:10"))
    s2.commit()
    assert(st.searchIndexReady(d))
  }
}
