package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model.EgdmCodec
import graft.queries.EventOps
import graft.store.GraphStore
import graft.streaming.EventStreams

/** Streaming surface: (1) windowed aggregation over a stream equals
  * the batch plan's result (same code path, EventOps oracle-checked);
  * (2) streaming EGDM ingest drives the same merge job per micro-batch.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  test("streamed tumbling counts equal the batch result") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = "/root/testdata/sf0.001"
    val batchEvents = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val expected = EventStreams.tumblingCounts(batchEvents)
      .orderBy("wstart", "event_type").collect()

    // stage the same parquet as a streamed source (file sources
    // stream from directories)
    val stage = java.nio.file.Paths.get(Memo.tempDir("graft-events-src"))
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampNTZType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("props",
          org.apache.spark.sql.types.StringType))))
      .parquet(stage.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStreams.tumblingCounts(streamed)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("tumbling_out")
      .orderBy("wstart", "event_type").collect()
    assert(got.length == expected.length)
    assert(got.map(_.toString).toSeq == expected.map(_.toString).toSeq)
  }

  test("streaming EGDM ingest merges per micro-batch (foreachBatch)") {
    val in = java.nio.file.Paths.get(Memo.tempDir("graft-stream-in"))
    val store = new GraphStore(
      Memo.tempDir("graft-stream-store"), spark, 2)
    val e1 = graft.model.Entity("urn:s1")
      .withProp("urn:p#name", "one")
      .withRef("urn:r#next", "urn:s2")
    val e2 = graft.model.Entity("urn:s2").withProp("urn:p#name", "two")
    Files.writeString(in.resolve("b0.ndjson"), EgdmCodec.toJsonLine(e1))
    Files.writeString(in.resolve("b1.ndjson"), EgdmCodec.toJsonLine(e2))

    val q = EventStreams
      .entitySync(spark, in.toString, store, "stream", "Thing")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    assert(store.nodes.filter($"label" === "Thing").count() == 2)
    assert(store.edges.count() == 1)
    // two micro-batches → two committed versions
    assert(store.currentVersion == 2)
  }

  test("graft-changes source: micro-batches equal the batch change " +
      "feed across commits incl. truncate and delete") {
    import graft.model.Entity
    val store = new GraphStore(
      Memo.tempDir("graft-cf-src"), spark, 2)
    def put(ents: Seq[Entity], truncate: Boolean = false): Unit =
      graft.ops.GraphMerge.applyBatch(store, "ds", "Thing", ents.toDS(),
        truncateFirst = truncate)
    // batch-side expectation captured right after each commit:
    // changes(since = v-1) on the fresh snapshot IS that commit's delta
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def snap(): Unit = {
      val v = store.currentVersion
      expected ++= graft.ops.GraphRead
        .changes(store, since = v - 1, limit = 100000)
        .select($"gid", $"recorded").as[(String, Long)].collect()
    }
    val q = spark.readStream.format("graft-changes")
      .option("store", store.root).load()
      .writeStream.format("memory").queryName("cf_feed")
      .outputMode("append").start()
    try {
      put(Seq(Entity("urn:a").withProp("urn:p#name", "a1"),
        Entity("urn:b").withProp("urn:p#name", "b1")))
      snap(); q.processAllAvailable()
      // v2: upsert b, create c — the feed carries the new versions
      put(Seq(Entity("urn:b").withProp("urn:p#name", "b2"),
        Entity("urn:c").withProp("urn:p#name", "c1")))
      snap(); q.processAllAvailable()
      // v3: full-sync truncate reload — everything re-records at v3
      put(Seq(Entity("urn:d").withProp("urn:p#name", "d1")),
        truncate = true)
      snap(); q.processAllAvailable()
      // v4: delete — no new node rows record, both sides see nothing
      val sess = graft.cypher.CypherEngine.session(store)
      sess.run("MATCH (n:Thing {gid: 'urn:d'}) DETACH DELETE n").collect()
      sess.commit()
      snap(); q.processAllAvailable()
      assert(store.currentVersion == 4L)
      val streamed = spark.table("cf_feed")
        .select($"gid", $"recorded").as[(String, Long)]
        .collect().sorted.toSeq
      assert(streamed == expected.sorted.toSeq,
        s"stream $streamed != batch ${expected.sorted.toSeq}")
      // the per-version deltas landed under their OWN version stamp
      assert(streamed.filter(_._2 == 3L).map(_._1) == Seq("urn:d"))
      assert(streamed.count(_._2 == 4L) == 0)
    } finally q.stop()
  }

  test("entitySync round-trip: change stream replicates a store") {
    import graft.model.{Entity, PV}
    val src = new GraphStore(
      Memo.tempDir("graft-cf-rt-src"), spark, 2)
    val dst = new GraphStore(
      Memo.tempDir("graft-cf-rt-dst"), spark, 2)
    val q = spark.readStream.format("graft-changes")
      .option("store", src.root).load()
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val sp = b.sparkSession
        import sp.implicits._
        val ents = b.filter($"label" === "Thing")
          .select($"gid", $"props")
          .as[(String, Map[String, PV])]
          .map { case (g, ps) => Entity(g, props = ps) }
        if (!ents.isEmpty)
          graft.ops.GraphMerge.applyBatch(dst, "repl", "Thing", ents)
        ()
      }.start()
    try {
      def put(ents: Seq[Entity]): Unit =
        graft.ops.GraphMerge.applyBatch(src, "ds", "Thing", ents.toDS())
      put(Seq(Entity("urn:x").withProp("urn:p#name", "x1"),
        Entity("urn:y").withProp("urn:p#name", "y1")))
      q.processAllAvailable()
      put(Seq(Entity("urn:y").withProp("urn:p#name", "y2"),
        Entity("urn:z").withProp("urn:p#name", "z1")))
      q.processAllAvailable()
      def state(st: GraphStore): Seq[(String, String)] =
        st.nodes.filter($"label" === "Thing")
          .select($"gid", $"props".getItem("name").getField("s"))
          .as[(String, String)].collect().sorted.toSeq
      assert(state(dst) == state(src))
      assert(state(dst) == Seq("urn:x" -> "x1", "urn:y" -> "y2",
        "urn:z" -> "z1"))
    } finally q.stop()
  }

  test("streaming exact-dedup keeps first arrival per fingerprint " +
      "across micro-batches") {
    val dir = "/root/testdata/sf0.001"
    // batch oracle shape: keeper = min(doc_id) per fingerprint
    val expected = graft.queries.TextOps.defs("dedup_exact")(spark, dir)
      .select($"keeper").collect().map(_.getLong(0)).sorted.toSeq

    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().sortBy(_._1)
    // two micro-batches in doc_id order: first arrival == min doc_id,
    // so the streamed keeper set must equal the batch keeper set —
    // duplicates spanning the batch boundary exercise the state store
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.dedupStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_stream_out")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected)
  }

  test("streamed MinHash banding emits the batch LSH candidate pairs " +
      "across micro-batches") {
    val dir = "/root/testdata/sf0.001"
    val expected = graft.queries.TextOps
      .minhashCandidatesBatch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().sortBy(_._1)
    // three micro-batches: near-dup pairs spanning batch boundaries
    // exercise the band-bucket state store, not just in-batch joins
    val chunks = rows.grouped((rows.length + 2) / 3).toSeq
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.minhashCandidates(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("minhash_stream_out").start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // multi-band collisions emit once per band — distinct like the
    // batch side's .distinct()
    val got = spark.table("minhash_stream_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("streamed SimHash banding emits the batch near-dup pairs " +
      "across micro-batches") {
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("dedup_simhash_pairs")(spark, dir)
      .select($"da".cast("long"), $"db".cast("long"),
        $"hamming".cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty)
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().sortBy(_._1)
    // three micro-batches: pairs spanning batch boundaries exercise
    // the band-bucket state store, not just in-batch collisions
    val chunks = rows.grouped((rows.length + 2) / 3).toSeq
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.simhashPairs(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("simhash_stream_out").start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // multi-band collisions emit once per band — distinct like the
    // batch side
    val got = spark.table("simhash_stream_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("streamed decontamination verdicts match the batch operator " +
      "bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("t_decontaminate")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().sortBy(_._1)
    val bench = graft.queries.TextOps
      .shingleTableOf(docs.filter(_._1 % 50 == 0).toSeq.toDF("doc_id", "text"))
      .select($"s").distinct().collect().map(_.getString(0)).toSet
    assert(bench.nonEmpty)
    val train = docs.filter(_._1 % 50 != 0)
    val chunks = train.grouped((train.length + 2) / 3).toSeq
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.decontaminate(input, bench)
      .writeStream.outputMode("append")
      .format("memory").queryName("decontam_out").start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("decontam_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    assert(got == expected)
  }

  test("streamed boilerplate removal matches t_line_dedup bit for bit") {
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("t_line_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toSet
    // the boilerplate set, derived exactly as the batch op derives it
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val w = split(trim($"text"), "\\s+")
    val boiler = docsDf
      .select($"doc_id", posexplode(
        transform(
          sequence(lit(0), floor((size(w) + lit(2)) / lit(3)).cast("int") - 1),
          i => array_join(slice(w, i * 3 + 1, lit(3)), " "))))
      .toDF("doc_id", "idx", "seg")
      .groupBy($"seg").agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 3).select($"seg")
      .collect().map(_.getString(0)).toSet
    val docs = docsDf.select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 1) / 2).toSeq
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.lineDedupStream(input, boiler)
      .writeStream.outputMode("append")
      .format("memory").queryName("linededup_out").start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("linededup_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toSet
    assert(got == expected)
  }

  test("streamed passage chunking matches t_chunk across a " +
      "micro-batch split") {
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("t_chunk")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(expected.nonEmpty)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 1) / 2).toSeq
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.chunkStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_out").start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("chunk_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(got == expected)
  }

  test("streamed perceptual hashing matches m_phash across a " +
      "micro-batch split") {
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("m_phash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(expected.nonEmpty)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect().sortBy(_._1)
    val chunks = docs.grouped((docs.length + 1) / 2).toSeq
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.phashStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("phash_out").start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("phash_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
  }

  test("stream-static interval join matches e_interval_join across a " +
      "micro-batch split") {
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("e_interval_join")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val evs = graft.queries.EventOps.normalizeTs(
        spark.read.parquet(s"$dir/events.parquet"))
      .select($"event_id", $"user_id", unix_micros($"ts"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val chunks = evs.grouped((evs.length + 1) / 2).toSeq
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val input = ms.toDS().map { case (e, u, t) =>
      EventStreams.IntervalEvent(e, u, t) }
    val q = EventStreams.intervalJoinStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("intjoin_out").start()
    try {
      chunks.foreach { c => ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val hits = spark.table("intjoin_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = hits.groupBy(_._3).map { case (c, hs) =>
      c -> (hs.length.toLong, hs.map(_._2).distinct.length.toLong) }
    // streamed per-campaign aggregates equal the batch op; campaigns
    // with zero batch events produced zero streamed hits
    got.foreach { case (c, agg) => assert(batch(c) == agg,
      s"campaign $c: streamed $agg != batch ${batch(c)}") }
    batch.filter(_._2._1 > 0).keys.foreach(c =>
      assert(got.contains(c), s"campaign $c missing from stream"))
  }

  test("pxRowsStream == SearchIndexes.propRows across a split batch") {
    // one store with mixed-typed scalar props; the batch extraction
    // is the oracle for the streamed rows (shared encode definition)
    val st = new GraphStore(
      Memo.tempDir("graft-pxstream"), spark, 2)
    val sess = graft.cypher.CypherEngine.session(st)
    val fixtures: Seq[(String, Any)] = Seq(
      "p:1" -> "alpha", "p:2" -> 42L, "p:3" -> 4.25, "p:4" -> true,
      "p:5" -> 42.0, "p:6" -> "Beta Gamma")
    fixtures.foreach { case (g, v) =>
      val lit = v match {
        case s: String => s"'$s'"
        case other => other.toString
      }
      sess.run(s"CREATE (:P {gid: '$g', x: $lit})").collect()
    }
    sess.commit()
    val d = graft.store.IndexDef("pxs", "property", "P", "x")
    // BOTH sections: equality (sect=p) AND range (sect=r) rows
    val expected = (graft.store.SearchIndexes.propRows(st.nodes, d)
      .collect() ++
      graft.store.SearchIndexes.propRangeRows(st.nodes, d).collect())
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(expected.size == 2 * fixtures.size)
    // 42L and 42.0 canonicalize to the SAME key (numeric equality) —
    // in the equality AND the sortable encoding
    assert(expected.count(_._2 == "n:42.0") == 2)
    assert(expected.count(t => t._1 == "r" &&
      t._2 == "n:" + f"${graft.functions.DoubleSortBits.bits(42.0)}%016X") == 2)

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, Double, Boolean, Int)]
    val input = ms.toDS().map { case (g, s, l, dd, b, tag) =>
      EventStreams.PropEvent(g,
        if (tag == 0) Some(s) else None,
        if (tag == 1) Some(l) else None,
        if (tag == 2) Some(dd) else None,
        if (tag == 3) Some(b) else None)
    }
    val q = EventStreams.pxRowsStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("px_out").start()
    val evs = fixtures.map {
      case (g, s: String) => (g, s, 0L, 0.0, false, 0)
      case (g, l: Long) => (g, "", l, 0.0, false, 1)
      case (g, dd: Double) => (g, "", 0L, dd, false, 2)
      case (g, b: Boolean) => (g, "", 0L, 0.0, b, 3)
      case (g, other) => throw new IllegalArgumentException(s"$g $other")
    }
    try {
      evs.grouped(3).foreach { c =>
        ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("px_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("watermarked stream-stream click/purchase join matches the " +
      "batch interval join across a time-ordered micro-batch split") {
    val dir = "/root/testdata/sf0.001"
    val evs = graft.queries.EventOps.normalizeTs(
        spark.read.parquet(s"$dir/events.parquet"))
      .select($"event_id", $"user_id", unix_micros($"ts"), $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val clicks = evs.filter(_._4 == "click").sortBy(_._3)
    val buys = evs.filter(_._4 == "purchase").sortBy(_._3)
    assert(clicks.nonEmpty && buys.nonEmpty)
    // batch truth: all (purchase, click) pairs by user within 1 hour
    val lagUs = 3600L * 1000000L
    val byUser = clicks.groupBy(_._2)
    val expected = buys.flatMap { case (pid, u, pt, _) =>
      byUser.getOrElse(u, Array.empty)
        .filter { case (_, _, ct, _) => ct <= pt && ct >= pt - lagUs }
        .map { case (cid, _, _, _) => (pid, cid) }
    }.toSet
    assert(expected.nonEmpty, "fixture has no in-window pairs")

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val bms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val cIn = cms.toDS().map { case (id, u, t) =>
      EventStreams.ClickEv(id, u, new java.sql.Timestamp(t / 1000)) }
    val bIn = bms.toDS().map { case (id, u, t) =>
      EventStreams.BuyEv(id, u, new java.sql.Timestamp(t / 1000)) }
    val q = EventStreams.clickPurchaseJoinStream(cIn, bIn)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    try {
      // both sides split at the SAME time boundary (events sorted by
      // event time), so later chunks are never behind the watermark
      val mid = evs.map(_._3).sorted.apply(evs.length / 2)
      for (late <- Seq(false, true)) {
        val cc = clicks.filter(e => (e._3 > mid) == late)
          .map(e => (e._1, e._2, e._3))
        val bc = buys.filter(e => (e._3 > mid) == late)
          .map(e => (e._1, e._2, e._3))
        cms.addData(cc.toSeq: _*)
        bms.addData(bc.toSeq: _*)
        q.processAllAvailable()
      }
      // flush: advance both watermarks past every buffered row
      val tmax = evs.map(_._3).max + 10L * lagUs
      cms.addData((-1L, -1L, tmax)); bms.addData((-1L, -2L, tmax))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssjoin_out")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("streamed MinHash banding takes a precomputed stop-shingle set " +
      "and matches the batch DF cap where the cap bites") {
    // 6 docs sharing a 10-word prefix: every prefix shingle has DF 6.
    // With cap=2 those are stop-shingles; only docs 5/6 share enough
    // kept (suffix) shingles to stay near-dups.
    val common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      1L -> s"$common one red", 2L -> s"$common two blue",
      3L -> s"$common three green", 4L -> s"$common four yellow",
      5L -> s"$common purple shared tail words here one",
      6L -> s"$common purple shared tail words here two")
    val docsDf = docs.toDF("doc_id", "text")
    val cap = 2
    val sh = graft.queries.TextOps.shingleTableOf(docsDf)
    val stop = graft.queries.TextOps.stopShingleSet(sh, cap)
      .collect().map(_.getString(0)).toSet
    assert(stop.nonEmpty) // the cap actually bites on this corpus
    val expected = graft.queries.TextOps
      .minhashCandidatesBatchOf(docsDf, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = graft.queries.TextOps
      .minhashCandidatesBatchOf(docsDf, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped != expected) // …and changes the candidate set
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.minhashCandidates(input, stop)
      .writeStream.outputMode("append")
      .format("memory").queryName("minhash_stop_out").start()
    try {
      docs.grouped(2).foreach { c =>
        ms.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("minhash_stop_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("streamed sessionize closes sessions on EVENT-time, not wall-clock") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)] // (user_id, epoch seconds)
    val input = ms.toDS().map { case (u, sec) =>
      EventStreams.SessionEvent(u, new java.sql.Timestamp(sec * 1000)) }
    // tight watermark delay so the test advances event time explicitly
    val q = EventStreams.sessionize(input, gapSec = 1800,
        watermarkDelay = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      val t0 = 1700000000L
      // user 1: two events 10 min apart (one session); user 2: one event
      ms.addData((1L, t0), (1L, t0 + 600), (2L, t0 + 100))
      q.processAllAvailable()
      // user 1: an event PAST the gap closes session 1 inline
      ms.addData((1L, t0 + 600 + 1801))
      q.processAllAvailable()
      // user 1's first session closed inline; user 2's closes whenever
      // the WATERMARK (event time carried by user 1's stream — never
      // wall-clock) passes its gap
      val mid = spark.table("sessions_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(mid.contains((1L, t0, 2L)), s"inline close: $mid")
      ms.addData((1L, t0 + 100000))
      q.processAllAvailable()
      // one more batch so timed-out groups fire against the advanced
      // watermark
      ms.addData((1L, t0 + 100001))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_out")
      .select($"user_id", $"session_start", $"n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val t0 = 1700000000L
    assert(got.contains((1L, t0, 2L)), s"user 1 session 1: $got")
    assert(got.contains((2L, t0 + 100, 1L)),
      s"user 2's session must close via event-time timeout: $got")
  }

  test("streaming exact-dedup runs on the RocksDB state store") {
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    EventStreams.useRocksDBStateStore(spark)
    try {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val input = ms.toDS()
        .map { case (id, t) => EventStreams.DocEvent(id, t) }
      val q = EventStreams.dedupStream(input)
        .writeStream.outputMode("append")
        .format("memory").queryName("dedup_rocksdb_out").start()
      try {
        ms.addData((1L, "alpha"), (2L, "beta"), (3L, "Alpha  "))
        q.processAllAvailable()
        ms.addData((4L, "beta"), (5L, "gamma"))
        q.processAllAvailable()
        // the provider actually in effect for the running query
        assert(q.lastProgress.stateOperators.nonEmpty)
      } finally q.stop()
      val got = spark.table("dedup_rocksdb_out")
        .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 5L)) // 3 dups 1 (normalized), 4 dups 2
    } finally prev match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming last-click attribution matches the batch as-of join") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = "/root/testdata/sf0.001"
    val expected = EventOps.defs("e_asof_click")(spark, dir)
      .select($"event_id", $"asof_click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq

    val rows = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", unix_micros($"ts").as("micros"),
        $"event_id", $"event_type")
      .as[(Long, Long, Long, String)]
      .collect().sortBy(r => (r._2, r._3))
    // split BY TIME so open state (each user's last click) crosses the
    // micro-batch boundary
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String)]
    val input = ms.toDS().map { case (u, m, id, t) =>
      EventStreams.AttrEvent(u, m, id, t) }
    val q = EventStreams.attributeStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_out")
      .select($"event_id", $"asof_click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(got == expected)
  }

  test("stateful funnel stream matches the batch funnel") {
    val dir = "/root/testdata/sf0.001"
    // batch truth: user -> (t_view, t_click, t_purchase, stage)
    val expected = EventOps.defs("e_funnel")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (Option(r.getString(1)), Option(r.getString(2)),
          Option(r.getString(3)), r.getInt(4)))).toMap

    val rows = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .filter($"event_type".isin("view", "click", "purchase"))
      .select($"user_id", unix_micros($"ts").as("micros"), $"event_type")
      .as[(Long, Long, String)]
      .collect().sortBy(r => (r._2, r._1))
    // split BY TIME so open funnel state crosses the batch boundary
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    val input = ms.toDS().map { case (u, m, t) =>
      EventStreams.FunnelEvent(u, m, t) }
    val q = EventStreams.funnelStream(input)
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // last emitted row per user = the one with the most stages (state
    // only grows); format micros like the batch query's strings
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    def f(m: Option[Long]): Option[String] =
      m.map(x => fmt.format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(x, 1000000L))))
    val got = spark.table("funnel_out")
      .collect().map(r => (r.getLong(0),
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getInt(4))))
      .groupBy(_._1)
      .map { case (u, rs) => u -> rs.map(_._2).maxBy(t =>
        (t._4, t._1.getOrElse(0L), t._2.getOrElse(0L),
          t._3.getOrElse(0L))) }
    // batch rows exist only for users with a view; streamed rows with
    // stage 0 (no view) must have no batch counterpart
    got.foreach { case (u, (tv, tc, tp, stage)) =>
      expected.get(u) match {
        case None => assert(stage == 0, s"user $u: stray funnel row")
        case Some((ev, ec, ep, es)) =>
          assert(stage == es && f(tv) == ev && f(tc) == ec && f(tp) == ep,
            s"user $u: stream (${f(tv)}, ${f(tc)}, ${f(tp)}, $stage) " +
              s"!= batch ($ev, $ec, $ep, $es)")
      }
    }
    assert(expected.keySet.subsetOf(got.keySet))
  }

  test("streaming dq audit matches the batch regression counts") {
    val dir = "/root/testdata/sf0.001"
    // batch truth: event_type -> (n, n_ts_regress)
    val expected = EventOps.defs("e_dq_checks")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(5))).toMap

    val rows = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .select($"user_id", $"event_type", $"event_id",
        unix_micros($"ts").as("micros"))
      .as[(Long, String, Long, Long)]
      .collect().sortBy(_._3) // arrival follows event_id
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, Long)]
    val input = ms.toDS().map { case (u, t, id, m) =>
      EventStreams.DqEvent(u, t, id, m) }
    val q = EventStreams.dqStream(input)
      .writeStream.outputMode("update")
      .format("memory").queryName("dq_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // final row per (user, type) = the one with max n (counts only grow)
    val got = spark.table("dq_out")
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
      .groupBy(_._1._2) // by event_type
      .map { case (t, m) =>
        t -> (m.values.map(_._1).sum, m.values.map(_._2).sum) }
    assert(got == expected)
  }

  test("streaming per-user totals match e_user_topk's top 25") {
    val dir = "/root/testdata/sf0.001"
    val expected = EventOps.defs("e_user_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select($"user_id",
        round($"value" * 100, 0).cast("long").as("cents"))
      .as[(Long, Long)].collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val input = ms.toDS().map { case (u, c) => EventStreams.UserEvent(u, c) }
    val q = EventStreams.userTotalsStream(input)
      .writeStream.outputMode("update")
      .format("memory").queryName("ut_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // final row per user = max n; then the batch top-25 cut
    val got = spark.table("ut_out")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (u, rs) => (u, rs.map(_._2).maxBy(_._1)) }
      .toSeq
      .map { case (u, (n, tc)) => (u, n, tc / 100.0) }
      .sortBy { case (u, _, t) => (-t, u) }
      .take(25)
    assert(got == expected.toSeq)
  }

  test("streaming bucket counts match e_anomaly's minute buckets") {
    val dir = "/root/testdata/sf0.001"
    // batch truth: the (type, minute bucket) counts e_anomaly scores
    val expected = EventOps.defs("e_anomaly")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

    val rows = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .select($"event_type", unix_micros($"ts").as("micros"))
      .as[(String, Long)].collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val input = ms.toDS().map { case (t, m) => EventStreams.VolEvent(t, m) }
    val q = EventStreams.anomalyStream(input)
      .writeStream.outputMode("update")
      .format("memory").queryName("vol_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // final row per key = max n (counts only grow); bucket minute →
    // the batch query's formatted bucket string (UTC)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val got = spark.table("vol_out")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).map { case ((t, b), rs) =>
        (t, fmt.format(new java.util.Date(b * 60000L))) -> rs.map(_._2).max
      }
    assert(got == expected)
  }

  test("streaming transition extractor matches e_markov's pair counts") {
    val dir = "/root/testdata/sf0.001"
    val expected = EventOps.defs("e_markov")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

    // feed in global (ts, event_id) order so cross-batch arrival
    // matches the operator's in-order contract
    val rows = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .select($"user_id", $"event_type", unix_micros($"ts").as("m"),
        $"event_id")
      .orderBy($"m", $"event_id")
      .as[(Long, String, Long, Long)].collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, Long)]
    val input = ms.toDS().map { case (u, t, m, i) =>
      EventStreams.MarkovEvent(u, t, m, i) }
    val q = EventStreams.markovStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("mk_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mk_out")
      .groupBy($"from_type", $"to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == expected)
  }

  test("streaming RFM accumulator matches e_rfm's per-user metrics") {
    val dir = "/root/testdata/sf0.001"
    // batch truth: user_id → (recency_days, frequency, monetary)
    val expected = EventOps.defs("e_rfm")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap

    val rows = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("micros"),
        round($"value" * 100, 0).cast("long").as("cents"))
      .as[(Long, Long, Long)].collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val input = ms.toDS().map { case (u, m, c) =>
      EventStreams.PurchaseEvent(u, m, c) }
    val q = EventStreams.rfmStream(input)
      .writeStream.outputMode("update")
      .format("memory").queryName("rfm_out").start()
    try {
      ms.addData(first.toSeq: _*); q.processAllAvailable()
      ms.addData(second.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // final row per user = max frequency (counts only grow); recency
    // re-derives against the corpus max ts, as the batch scorer would
    val fin = spark.table("rfm_out")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._2) }
    val maxTs = fin.values.map(_._1).max
    // UTC calendar-day difference == floor-days-since-epoch diff
    def days(micros: Long): Long =
      (maxTs / 86400000000L) - (micros / 86400000000L)
    val got = fin.map { case (u, (last, n, c)) =>
      u -> (days(last), n, c / 100.0) }
    assert(got == expected)
  }

  test("flatMapGroupsWithState sessionization matches batch gaps-and-islands") {
    val dir = "/root/testdata/sf0.001"
    val batch = EventOps.defs("e_sessions")(spark, dir)
    val expected = batch.groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .orderBy($"user_id").collect()

    // run the same events through the stateful session fold per user
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evs = EventOps.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .select($"user_id", $"ts".cast("timestamp").as("ts"))
      .as[EventStreams.SessionEvent]
    // batch-mode check of the same fold logic: group, sort, fold
    val folded = evs.groupByKey(_.user_id).mapGroups { (uid, rows) =>
      val times = rows.map(_.ts.getTime / 1000).toSeq.sorted
      var sessions = 0L
      var events = 0L
      var last = Long.MinValue
      times.foreach { t =>
        if (last == Long.MinValue || t - last > 1800) sessions += 1
        events += 1
        last = t
      }
      (uid, sessions, events)
    }.toDF("user_id", "n_sessions", "n_events")
      .orderBy($"user_id").collect()
    assert(folded.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      expected.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("late in-watermark events never rewind the open session anchor") {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val input = ms.toDS().map { case (u, sec) =>
      EventStreams.SessionEvent(u, new java.sql.Timestamp(sec * 1000)) }
    val q = EventStreams.sessionize(input, gapSec = 1800,
        watermarkDelay = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions").start()
    try {
      val t0 = 1700000000L
      ms.addData((1L, t0), (1L, t0 + 1000))
      q.processAllAvailable()
      // late but inside the watermark delay: must fold into the open
      // session WITHOUT moving its gap anchor back to t0+500
      ms.addData((1L, t0 + 500))
      q.processAllAvailable()
      // 1301s after the true anchor (t0+1000): same session; a
      // rewound anchor would see 1801 > gap and split here
      ms.addData((1L, t0 + 2301))
      q.processAllAvailable()
      ms.addData((1L, t0 + 2301 + 1801)) // past the gap: closes inline
      q.processAllAvailable()
    } finally q.stop()
    val t0 = 1700000000L
    val got = spark.table("late_sessions")
      .select($"user_id", $"session_start", $"n_events", $"duration_sec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, t0, 4L, 2301L)), s"got $got")
  }

  test("streaming IVF ingest matches the batch cell assignment") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id".cast("long"),
        transform($"embedding", x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect().toSeq
    val cents = e.sortBy(_._1).take(4)
    // batch assignment: the same Spark pipeline shape v_knn_ivf uses
    def dotC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    val eDf = e.toDF("vec_id", "v")
      .withColumn("norm", sqrt(dotC($"v", $"v")))
    val centDf = cents.toDF("cid", "cv")
      .withColumn("cn", sqrt(dotC($"cv", $"cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
    val batch = eDf.crossJoin(broadcast(centDf))
      .withColumn("csim", dotC($"v", $"cv") / ($"norm" * $"cn"))
      .withColumn("r", row_number().over(w)).filter($"r" === 1)
      .groupBy($"cid")
      .agg(count(lit(1)).as("n"),
        sum(round(sqrt(dotC($"v", $"v")) * 1e6, 0).cast("long")).as("nm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val input = ms.toDS().map { case (id, v) =>
      graft.streaming.VectorStreams.VecEvent(id, v) }
    val q = graft.streaming.VectorStreams.ivfIngestStream(input, cents)
      .writeStream.outputMode("update")
      .format("memory").queryName("ivf_ingest").start()
    try {
      val (a, b) = e.splitAt(e.length / 2)
      ms.addData(a: _*); q.processAllAvailable()
      ms.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ivf_ingest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet
    assert(got == batch, s"stream $got vs batch $batch")
  }

  test("ftPostingsStream == SearchIndexes.tokenRows across a split batch") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark join hash join"),
      (2L, "  hash partition spark  "),
      (3L, "solo"),
      (4L, ""),
      (5L, "a b a b a"))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    val q = EventStreams.ftPostingsStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("ftpost_out").start()
    try {
      docs.grouped(2).foreach { c =>
        ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("ftpost_out")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getSeq[Int](4).toList))
      .toSet
    // batch twin: the exact store-index tokenizer over the same docs
    // — positions included (the POSITIONAL postings parity)
    val batchDocs = docs.filter(_._2.trim.nonEmpty)
      .map { case (id, t) => (s"d:$id", t) }.toDF("gid", "text")
    val expected = graft.store.SearchIndexes.tokenRows(batchDocs)
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getSeq[Int](5).toList))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("ftDictStream == SearchIndexes.dictRows across a split batch") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark join hash join"),
      (2L, "  hash partition spark  "),
      (3L, "solo spark"),
      (4L, ""),
      (5L, "a b a b a"))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val input = ms.toDS()
      .map { case (id, t) => EventStreams.DocEvent(id, t) }
    // UPDATE mode: per-term df state revises as docs arrive
    val q = EventStreams.ftDictStream(input)
      .writeStream.outputMode("update")
      .format("memory").queryName("ftdict_out").start()
    try {
      docs.grouped(2).foreach { c =>
        ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // memory sink in update mode appends revisions — keep the LAST
    // value per term (the final state)
    val got = spark.table("ftdict_out").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, rs) => (t, rs.map(_._2).max) }.toSet
    val batchDocs = docs.filter(_._2.trim.nonEmpty)
      .map { case (id, t) => (s"d:$id", t) }.toDF("gid", "text")
    val expected = graft.store.SearchIndexes.dictRows(
      graft.store.SearchIndexes.tokenRows(batchDocs))
      .collect().map(r => (r.getString(1), r.getLong(3))).toSet
    assert(got == expected, s"stream $got vs batch $expected")
    assert(got.exists(_ == ("spark", 3L)))
  }

  test("pxValueDictStream == SearchIndexes.valueDictRows across a split batch") {
    import spark.implicits._
    val props = Seq(
      (1L, Some("alpha"), None, None, None),
      (2L, Some("beta"), None, None, None),
      (3L, Some("alpha"), None, None, None),
      (4L, None, Some(42L), None, None), // numeric — not in the dict
      (5L, Some("gamma"), None, None, None))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Option[String], Option[Long], Option[Double],
        Option[Boolean])]
    val input = ms.toDS().map { case (id, s, l, d, b) =>
      EventStreams.PropEvent(s"n:$id", s, l, d, b) }
    val q = EventStreams.pxValueDictStream(input)
      .writeStream.outputMode("update")
      .format("memory").queryName("pxdict_out").start()
    try {
      props.grouped(2).foreach { c =>
        ms.addData(c.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("pxdict_out").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (v, rs) => (v, rs.map(_._2).max) }.toSet
    // batch twin over the same values via the shared encoder
    assert(got == Set(("s:alpha", 2L), ("s:beta", 1L), ("s:gamma", 1L)),
      s"stream $got")
  }

  test("vxAssignStream == SearchIndexes.assignCells (cosine and euclidean)") {
    import spark.implicits._
    def vec(i: Int): Seq[Double] =
      Seq(i / 7.0, (i % 5).toDouble, (i % 3).toDouble, 1.0)
    val vecs = (1 to 25).map(i => (i.toLong, vec(i)))
    val batchVecs = vecs.map { case (id, v) => (s"v:$id", v) }
      .toDF("gid", "v")
      .withColumn("norm", sqrt(graft.functions.DotProduct($"v", $"v")))
    val cents = graft.store.SearchIndexes.trainCentroids(batchVecs)
    val centsIdx = cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }
    for (sim <- Seq("cosine", "euclidean")) {
      implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val input = ms.toDS()
        .map { case (id, v) => graft.streaming.VectorStreams.VecEvent(id, v) }
      val name = s"vx_out_$sim"
      val q = graft.streaming.VectorStreams.vxAssignStream(input, centsIdx, sim)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        vecs.grouped(9).foreach { c =>
          ms.addData(c.toSeq: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(name)
        .collect().map(r => (r.getString(1), r.getString(0))).toMap
      val expected = graft.store.SearchIndexes
        .assignCells(batchVecs, cents, sim)
        .collect().map(r => (r.getString(1), r.getString(0))).toMap
      assert(got == expected, sim)
      assert(got.size == 25)
    }
  }
}
