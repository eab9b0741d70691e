package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{StripPrefix => NativeStrip}
import graft.model.Entity
import graft.store.GraphStore

/** The batch merge job: entity batch → property-graph mutation, in the
  * reference's contract order (/root/reference/neo4j.go:244-284):
  * deletes → node upserts → stub creation → edge upserts, all made
  * visible atomically by the snapshot commit.
  *
  * The batch side is always small relative to the graph (the
  * reference's `batch_size`, /root/reference/layer.go:229), so every
  * batch-vs-graph anti-join broadcasts the batch — at 100 TB the graph
  * side never shuffles for an incremental merge; only the full-sync
  * slice cascade is a real (AQE-planned) join.
  */
object GraphMerge {

  /** Apply one entity batch.
    *
    * @param truncateFirst full-sync start gate: delete the whole
    *   label+source slice before loading (/root/reference/layer.go:196-209,
    *   neo4j.go:125-127). Label-less stubs survive — they carry neither
    *   label nor source (/root/reference/layer_test.go:164-231).
    * @return committed store version
    */
  def applyBatch(
      store: GraphStore,
      source: String,
      label: String,
      batch: Dataset[Entity],
      truncateFirst: Boolean = false,
      syncId: String = ""): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    // Two URIs may strip to the same local name; the reference's Go map
    // write makes the later key win (/root/reference/neo4j.go:195-197).
    // Scoped: everything downstream materializes inside store.commit's
    // write action before the finally restores the session's policy.
    val prevPolicy = spark.conf.getOption("spark.sql.mapKeyDedupPolicy")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    // SMALL-BATCH localization: when the committed store stats tiny
    // but the batch arrives as a scan (a fixture read, a small
    // incremental-sync file — the reference's scheduled-sync shape),
    // a bounded limit-probe (ONE early-stopping job, ≤ LtTinyRows+1
    // rows) decides whether it fits driver-side; if it does, a
    // LocalRelation twin replaces it so the whole sync — probes,
    // merge, the tiny-action gate below, and the store's tiny-write
    // path — plans driver-local. CollectLimit drains partitions in
    // index order and the twin is single-partition, so the `seq`
    // last-wins stamp is preserved. A bulk load past the cap keeps
    // the distributed plan (probe cost: one scan task); a store at
    // scale never probes.
    val batchL = {
      def isLocal(ds: Dataset[Entity]) =
        ds.queryExecution.analyzed.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      if (!store.isTiny || isLocal(batch)) batch
      else {
        val cap = GraphStore.LtTinyRows.toInt
        val head = batch.toDF.limit(cap + 1).collect()
        if (head.length > cap) batch
        else batch.sparkSession.createDataFrame(
          java.util.Arrays.asList(head: _*), batch.toDF.schema).as[Entity]
      }
    }
    // Tiny-action mode (see applyWrite): when the batch is a
    // driver-local relation AND the committed store stats tiny, every
    // plan this sync runs is a handful of rows — run the whole sync
    // interpreted; Janino compilation would dominate it. The gate can
    // never hold at scale (a distributed batch plans as a scan, a
    // real store fails the manifest-size probe), so the codegen'd
    // path is untouched exactly where codegen pays.
    val tiny = store.isTiny &&
      batchL.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    if (tiny) TinyMode.enter(spark)
    try applyBatchInner(store, source, label, batchL, truncateFirst, syncId)
    finally {
      if (tiny) TinyMode.exit(spark)
      prevPolicy match {
        case Some(p) => spark.conf.set("spark.sql.mapKeyDedupPolicy", p)
        case None    => spark.conf.unset("spark.sql.mapKeyDedupPolicy")
      }
    }
  }

  private def applyBatchInner(
      store: GraphStore,
      source: String,
      label: String,
      batch: Dataset[Entity],
      truncateFirst: Boolean,
      syncId: String): Long = {
    val spark = batch.sparkSession
    import spark.implicits._

    val ver = store.currentVersion + 1

    // Arrival order within the batch (the reference gets last-wins
    // implicitly from sequential UNWIND execution; we pin it with an
    // explicit sequence). monotonically_increasing_id is
    // (partitionId << 33) | rowOffset, so it follows batch order as
    // long as the dataset's partitions hold contiguous slices in
    // partition-index order — true for every ingest path (Seq.toDS,
    // NDJSON line reads, Kafka offsets) because none shuffles before
    // the merge. No coalesce(1): the stamp is per-partition parallel.
    val b = batch.toDF
      .withColumn("seq", monotonically_increasing_id()).cache()

    // A5 tombstone partition (/root/reference/neo4j.go:186-189)
    val deletedGids = b.filter($"deleted").select($"id".as("gid")).distinct()
    val lastWins = Window.partitionBy($"id").orderBy($"seq".desc)
    val live = b.filter(!$"deleted")
      .withColumn("rn", row_number().over(lastWins))
      .filter($"rn" === 1)

    // A6/A7 entity → node projection with prefix-stripped prop keys
    // (/root/reference/neo4j.go:192-197)
    val newNodes = live.select(
      $"id".as("gid"),
      lit(label).as("label"),
      lit(source).as("source"),
      transform_keys($"props", (k, _) => NativeStrip(k)).as("props"),
      lit(ver).as("recorded"),
      lit(null).cast("array<string>").as("xlabels"))

    // A8/A9 edge extraction: one row per (refProperty, target)
    // (/root/reference/neo4j.go:210-227); B8 in-batch dedup via MERGE.
    val newEdges = live
      .select($"id".as("src"), explode($"refs").as(Seq("refUri", "targets")))
      .select($"src", NativeStrip($"refUri").as("relType"),
        explode($"targets").as("dst"))
      .select($"src", $"dst", $"relType",
        lit(source).as("source"), lit(ver).as("recorded"))
      .dropDuplicates("src", "dst", "relType")

    val batchGids0 = live.select($"id".as("gid"))

    // Initial-load fast path: with no previous snapshot there is
    // nothing to probe, cascade, or anti-join against — deletes are
    // no-ops, every batch node is an insert, and every ref target not
    // in the batch is a stub. The general path below would spend
    // ~40 Spark jobs probing empty tables; a bulk initial load (the
    // most common large-batch case) skips straight to two collects on
    // batch-derived data + the commit.
    if (store.currentVersion == 0L) {
      val targets0 = newEdges.select($"dst".as("gid")).distinct()
      val stubs0 = targets0.join(broadcast(batchGids0), Seq("gid"), "left_anti")
        .select($"gid", lit(null).cast("string").as("label"),
          lit(null).cast("string").as("source"),
          lit(null).cast(GraphStore.nodeSchema("props").dataType).as("props"),
          lit(ver).as("recorded"),
          lit(null).cast("array<string>").as("xlabels"))
      val allNodes = newNodes.unionByName(stubs0)
      // every (label, bucket) this commit writes must be dirty — there
      // are no previous files to re-link; both tables' keys come back
      // in ONE collect (tagged union)
      val keys = allNodes
        .select(lit("n").as("t"), $"label".as("p"),
          store.bucketOf($"gid").as("b"))
        .unionByName(newEdges.select(lit("e").as("t"),
          $"relType".as("p"), store.bucketOf($"src").as("b")))
        .distinct().collect()
      def side(tag: String): Set[(Option[String], Option[Int])] =
        keys.filter(_.getString(0) == tag)
          .map(r => (Option(r.getString(1)), Some(r.getInt(2)): Option[Int]))
          .toSet
      val dirtyNodes = side("n")
      val dirtyEdges = side("e")
      val committed = store.commit(allNodes, newEdges, syncId,
        Some(dirtyNodes), Some(dirtyEdges))
      b.unpersist()
      return committed
    }

    var nodes = store.nodes
    var edges = store.edges
    val nodes0 = nodes
    val edges0 = edges

    // B9 slice truncate: nodes with BOTH this label and source go, with
    // incident-edge cascade; stubs (null label/source) survive.
    var doomedSlice: Option[DataFrame] = None
    if (truncateFirst) {
      // null-safe predicate: stubs carry null label/source and must
      // SURVIVE the truncate (/root/reference/layer_test.go:164-231) —
      // a plain === would three-value them out.
      val inSlice = $"label" <=> label && $"source" <=> source
      val doomed = nodes.filter(inSlice).select($"gid")
      doomedSlice = Some(doomed)
      nodes = nodes.filter(!inSlice)
      edges = cascade(edges, doomed)
    }

    // B2 tombstone cascade delete (DETACH DELETE — both directions)
    nodes = nodes.join(broadcast(deletedGids), Seq("gid"), "left_anti")
    edges = cascade(edges, broadcast(deletedGids))

    // B3/B5/B6 node upsert: merge-by-gid, batch side wins wholesale —
    // label stamped (promotes stubs), props fully replaced
    // (/root/reference/neo4j.go:103-108; replacement proven by
    // layer_test.go:164-231).
    val batchGids = batchGids0
    nodes = nodes.join(broadcast(batchGids), Seq("gid"), "left_anti")
      .unionByName(newNodes)

    // B4 outgoing-edge replacement: every upserted node drops ALL its
    // existing outgoing edges (incoming survive) before new refs land
    // (/root/reference/neo4j.go:104-106).
    edges = edges
      .join(broadcast(batchGids.withColumnRenamed("gid", "src")),
        Seq("src"), "left_anti")
      .unionByName(newEdges)

    // B7 stub creation: every referenced target exists as at least a
    // bare gid-only node (/root/reference/neo4j.go:111-114, 260-271).
    // Probe the big node table with the small broadcast target set
    // (left_semi builds the broadcast right side), then anti-join two
    // small sets — the 100 TB node table is never the build side.
    val targets = newEdges.select($"dst".as("gid")).distinct()
    val existingTargets = nodes.select("gid")
      .join(broadcast(targets), Seq("gid"), "left_semi")
    val stubs = targets
      .join(existingTargets, Seq("gid"), "left_anti")
      .select($"gid", lit(null).cast("string").as("label"),
        lit(null).cast("string").as("source"),
        lit(null).cast(GraphStore.nodeSchema("props").dataType).as("props"),
        lit(ver).as("recorded"),
        lit(null).cast("array<string>").as("xlabels"))
    nodes = nodes.unionByName(stubs)

    // Touched-file detection (the Delta/Iceberg MERGE shape), at
    // (partition, gid-hash-bucket) granularity: find which buckets
    // actually change, so the store rewrites only those and re-links
    // the rest. Probe sets are batch-derived and broadcast-small; each
    // probe first prunes to the buckets the probe gids hash into
    // (directory-level pruning via the bucket partition column), then
    // parquet min/max stats on the gid/src sort keys prune inside.
    val affectedGids = batchGids.unionByName(deletedGids).cache()
    // All the tiny driver probes below fuse into TWO jobs (see
    // ProbeBatch): phase A collects every batch-derived set (bucket
    // lists, stub/new-edge keys), phase B the store probes that need
    // phase A's bucket lists for directory pruning.
    val phaseA = new ProbeBatch
    var affBuckets: Seq[Int] = Nil
    phaseA.add(bucketFrame(affectedGids, store.bucketOf($"gid"))) { rows =>
      affBuckets = rows.flatMap(_._2).toSeq }
    // new stubs land in the null-label partition at bucket(gid) —
    // probe the actual stub set (bounded by the batch's ref targets)
    var stubKeys: Set[(Option[String], Option[Int])] = Set.empty
    phaseA.add(bucketFrame(stubs, store.bucketOf($"gid"))) { rows =>
      stubKeys = rows.map(r => (Option.empty[String], r._2)).toSet }

    // Edge partitions change where (a) an upserted node's outgoing
    // edges are replaced (B4), (b) a deleted/truncated node's incident
    // edges cascade (B2/B9), or (c) the batch adds edges. Edges are
    // bucketed by src hash, so src probes prune to the probe gids'
    // buckets; dst probes (cascade of incoming edges) prune the same
    // way through the REVERSE-EDGE INDEX (relType/bucket=H(dst)
    // directories) instead of scanning every src bucket.
    val srcProbe0 = affectedGids.withColumnRenamed("gid", "src")
    val dstProbe0 = deletedGids.withColumnRenamed("gid", "dst")
    // the truncate cascade's doomed slice can be large — no broadcast
    // hint there; AQE picks the join strategy
    val (srcProbe, dstProbe) = doomedSlice match {
      case None => (broadcast(srcProbe0), broadcast(dstProbe0))
      case Some(d) => (
        srcProbe0.unionByName(d.withColumnRenamed("gid", "src")),
        dstProbe0.unionByName(d.withColumnRenamed("gid", "dst")))
    }
    var srcBuckets: Seq[Int] = Nil
    phaseA.add(bucketFrame(srcProbe, store.bucketOf($"src"))) { rows =>
      srcBuckets = rows.flatMap(_._2).toSeq }
    var dstBuckets: Seq[Int] = Nil
    if (store.redgesReady)
      phaseA.add(bucketFrame(dstProbe, store.bucketOf($"dst"))) { rows =>
        dstBuckets = rows.flatMap(_._2).toSeq }
    // (relType, bucket) keys added by this batch (batch-derived, small)
    var newEdgeKeys: Set[(Option[String], Option[Int])] = Set.empty
    phaseA.add(keyCountFrame(newEdges, $"relType", store.bucketOf($"src"))) {
      rows => newEdgeKeys = rows.map(r => (r._1, r._2)).toSet }
    phaseA.run() // ONE job for every batch-derived probe

    // buckets the batch's own label writes into; a truncate rewrites
    // the whole label (every bucket may lose rows)
    val ownLabelKeys: Set[(Option[String], Option[Int])] =
      if (truncateFirst) Set(Some(label) -> None)
      else affBuckets.map(b =>
        (Some(label): Option[String], Some(b): Option[Int])).toSet

    val phaseB = new ProbeBatch
    // (label, bucket) pairs of EXISTING rows the batch touches —
    // covers stub promotion (null label) and cross-label deletes
    var hitLabelBuckets: Set[(Option[String], Option[Int])] = Set.empty
    phaseB.add(keyCountFrame(
      store.nodesWithBucket.select($"gid", $"label", $"bucket")
        .filter(if (affBuckets.isEmpty) lit(false)
          else $"bucket".isin(affBuckets: _*))
        .join(broadcast(affectedGids), Seq("gid"), "left_semi"),
      $"label", $"bucket")) { rows =>
      hitLabelBuckets = rows.map(r => (r._1, r._2)).toSet }
    val eb = store.edgesWithBucket
    val dstSide: DataFrame =
      if (store.redgesReady)
        store.redgesWithBucket
          .filter(if (dstBuckets.isEmpty) lit(false)
            else $"bucket".isin(dstBuckets: _*))
          .join(dstProbe, Seq("dst"), "left_semi")
          // the incoming edges' MAIN-table partitions
          .select($"relType", store.bucketOf($"src").as("bucket"))
      else // pre-index store: one full scan until a commit rebuilds it
        eb.select($"dst", $"relType", $"bucket")
          .join(dstProbe, Seq("dst"), "left_semi")
          .select($"relType", $"bucket")
    var hitRelTypeBuckets: Set[(Option[String], Option[Int])] = Set.empty
    phaseB.add(keyCountFrame(
      eb.select($"src", $"relType", $"bucket")
        .filter(if (srcBuckets.isEmpty) lit(false)
          else $"bucket".isin(srcBuckets: _*))
        .join(srcProbe, Seq("src"), "left_semi")
        .select($"relType", $"bucket")
        .unionByName(dstSide),
      $"relType", $"bucket")) { rows =>
      hitRelTypeBuckets = rows.map(r => (r._1, r._2)).toSet }
    phaseB.run() // ONE job for the bucket-pruned store probes

    val dirtyNodes = hitLabelBuckets ++ ownLabelKeys ++ stubKeys
    val dirtyEdges = hitRelTypeBuckets ++ newEdgeKeys

    val committed = store.commit(nodes, edges, syncId,
      Some(dirtyNodes), Some(dirtyEdges))
    affectedGids.unpersist()
    b.unpersist()
    committed
  }

  /** DETACH-DELETE edge cascade: drop edges touching any doomed gid on
    * either endpoint (/root/reference/neo4j.go:95-99).
    */
  private def cascade(edges: DataFrame, doomedGids: DataFrame): DataFrame = {
    val d1 = doomedGids.withColumnRenamed("gid", "src")
    val d2 = doomedGids.withColumnRenamed("gid", "dst")
    edges.join(d1, Seq("src"), "left_anti").join(d2, Seq("dst"), "left_anti")
  }

  /** result of a Cypher CREATE / MERGE / SET statement */
  case class WriteStats(
      nodesCreated: Long, edgesCreated: Long, propertiesSet: Long,
      version: Long)

  /** One step of a Cypher write statement. A statement is an ORDERED
    * list of effects applied to the working node/edge frames and
    * committed ONCE — the Spark analog of the reference's single Bolt
    * transaction per statement (/root/reference/neo4j.go:238-284).
    * Effect DataFrames are snapshots the planner takes at each
    * clause's position in the binding table, so `MERGE … DELETE r …
    * SET n = item` composes the way the UpdateNode template expects
    * (/root/reference/neo4j.go:102-109).
    */
  sealed trait WriteEffect
  object WriteEffect {
    /** `gid, label, source, props, xlabels`: insert-if-absent (MERGE);
      * `failOnConflict` (CREATE) errors when a gid already exists.
      * `secondaryLabels` names the labels the rows carry in `xlabels`
      * (plan-time constants from `CREATE (n:A:B)`) for the store's
      * pruning metadata.
      */
    case class MergeNodes(rows: DataFrame, failOnConflict: Boolean,
        secondaryLabels: Set[String] = Set.empty)
        extends WriteEffect
    /** one `gid` column; `detach` cascades incident edges, plain
      * DELETE on a still-connected node is a runtime error.
      */
    case class DeleteNodes(gids: DataFrame, detach: Boolean)
        extends WriteEffect
    /** `src, dst, relType` keys to delete */
    case class DeleteEdges(keys: DataFrame) extends WriteEffect
    /** `src, dst, relType, source`: insert-if-absent; missing
      * endpoints materialize as stubs (neo4j.go:111-114).
      */
    case class MergeEdges(rows: DataFrame) extends WriteEffect
    /** `gid, patch (map<string,pv>), removes (array<string>)`:
      * per-key property upsert; null-valued patch entries (static OR
      * runtime) remove the key — Cypher `SET n.k = NULL`.
      */
    case class PatchProps(patches: DataFrame) extends WriteEffect
    /** `gid, source, props`: FULL replacement of source + props for
      * matched gids — the template's `SET n = item` (neo4j.go:108).
      * Label is untouched (it has its own `SET n:%s`).
      */
    case class ReplaceProps(rows: DataFrame) extends WriteEffect
    /** `SET n:%s` (neo4j.go:107) on the matched gids — Neo4j label
      * ADDITION: an unlabeled node (stub) takes `label` as its
      * PRIMARY label (promotion, the template's purpose); a node
      * already carrying a different primary keeps it and gains
      * `label` as a secondary. label == null clears the primary
      * (legacy REMOVE lowering).
      */
    case class SetLabels(gids: DataFrame, label: String) extends WriteEffect
    /** `REMOVE n:%s`: clears the primary when it equals `label`,
      * otherwise drops `label` from the node's secondary set.
      */
    case class RemoveLabel(gids: DataFrame, label: String)
        extends WriteEffect
    /** `src, dst, relType` + optional `new_source` / `new_relType`
      * columns — `SET r.source = item.source` / `SET r.type = …`
      * (neo4j.go:122-123) on the edge table's columns.
      */
    case class PatchEdges(patches: DataFrame) extends WriteEffect
  }

  /** combined counters of one composite write statement */
  case class CompositeStats(
      nodesCreated: Long, edgesCreated: Long, propertiesSet: Long,
      nodesDeleted: Long, edgesDeleted: Long, version: Long)

  /** Execute the storage half of Cypher's CREATE / MERGE / SET — the
    * statement forms the reference's templates emit
    * (/root/reference/neo4j.go:103-127: `MERGE (n …)`, `SET n = item`,
    * `SET r.source`, edge `MERGE`).
    *
    * @param createNodes rows to insert: gid, label, source, props.
    * @param createEdges edges to insert: src, dst, relType, source —
    *   MERGE semantics: pairs already present are left alone
    *   (neo4j.go:116-123); missing endpoints materialize as stubs
    *   (neo4j.go:111-114).
    * @param propPatches per-gid property patches: gid, `patch`
    *   (Map[String,PV] to upsert), `removes` (Array[String] keys to
    *   drop — Cypher's `SET n.k = NULL`).
    * @param failOnNodeConflict CREATE errors when a gid already
    *   exists (gid is the graph's unique node key); MERGE skips it.
    */
  def writeBatch(
      store: GraphStore,
      createNodes: Option[DataFrame],
      createEdges: Option[DataFrame],
      propPatches: Option[DataFrame],
      failOnNodeConflict: Boolean): WriteStats = {
    import WriteEffect._
    val effects = Seq.newBuilder[WriteEffect]
    createNodes.foreach(c => effects += MergeNodes(c, failOnNodeConflict))
    propPatches.foreach(p => effects += PatchProps(p))
    createEdges.foreach(e => effects += MergeEdges(e))
    val st = applyWrite(store, effects.result())
    WriteStats(st.nodesCreated, st.edgesCreated, st.propertiesSet, st.version)
  }

  private type DirtyKeys = Set[(Option[String], Option[Int])]

  /** Deferred-probe fusion: a write statement's dirty-key / stat
    * bookkeeping is dozens of TINY driver probes (bucket sets,
    * per-(partition,bucket) counts) that each cost a full Spark job's
    * scheduler latency if collected one by one — the dominant cost of
    * small interactive write statements. A ProbeBatch accumulates the
    * probe frames (uniform `part: string, b: int, cnt: long` schema,
    * a tag column appended) and runs them all as ONE tagged-union
    * collect, dispatching each probe's rows to its sink closure.
    */
  private final class ProbeBatch {
    private val frames = Seq.newBuilder[DataFrame]
    private val sinks =
      Seq.newBuilder[Array[(Option[String], Option[Int], Long)] => Unit]
    private var n = 0
    /** frame must have UNGROUPED rows (part: string, b: int, w: long)
      * — the batch groups the tagged union once, so N probes cost ONE
      * shuffle instead of one per probe (partial aggregation still
      * runs map-side per union arm, so no extra rows move)
      */
    def add(frame: DataFrame)(
        sink: Array[(Option[String], Option[Int], Long)] => Unit): Unit = {
      frames += frame.select(
        col("part").cast("string").as("part"), col("b").cast("int").as("b"),
        col("w").cast("long").as("w"), lit(n).as("__tag"))
      sinks += sink
      n += 1
    }
    def run(): Unit = {
      val fs = frames.result()
      if (fs.isEmpty) return
      val unioned = fs.reduce(_ unionByName _)
      // When every probe source folds to local rows at optimization
      // time (fresh store, LocalRelation session overlay), aggregate
      // on the driver — ZERO scheduled jobs. The fold only happens
      // when the data already fits a LocalRelation, so this can never
      // pull distributed data through the driver.
      val rows: Array[(Int, Option[String], Option[Int], Long)] =
        unioned.queryExecution.optimizedPlan match {
          case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            val acc = scala.collection.mutable.LinkedHashMap
              .empty[(Int, Option[String], Option[Int]), Long]
            lr.data.foreach { r =>
              val k = (r.getInt(3),
                if (r.isNullAt(0)) None
                else Some(r.getUTF8String(0).toString),
                if (r.isNullAt(1)) None else Some(r.getInt(1)))
              acc(k) = acc.getOrElse(k, 0L) +
                (if (r.isNullAt(2)) 0L else r.getLong(2))
            }
            acc.iterator.map { case ((t, p, b), w) => (t, p, b, w) }.toArray
          case _ =>
            unioned
              .groupBy(col("__tag"), col("part"), col("b"))
              .agg(sum(col("w")).as("cnt"))
              .collect()
              .map(r => (r.getInt(0),
                if (r.isNullAt(1)) None else Some(r.getString(1)),
                if (r.isNullAt(2)) None else Some(r.getInt(2)),
                if (r.isNullAt(3)) 0L else r.getLong(3)))
        }
      val byTag = rows.groupBy(_._1)
      sinks.result().zipWithIndex.foreach { case (sink, i) =>
        sink(byTag.getOrElse(i, Array.empty).map(r => (r._2, r._3, r._4)))
      }
    }
  }

  /** per-row (part, bucket) key frame for ProbeBatch (w=1 → count) */
  private def keyCountFrame(d: DataFrame, part: Column, key: Column)
      : DataFrame =
    d.select(part.cast("string").as("part"), key.cast("int").as("b"),
      lit(1L).as("w"))

  /** bucket frame for ProbeBatch (per-row; the batch's groupBy
    * dedups, sinks read the keys and ignore w)
    */
  private def bucketFrame(d: DataFrame, key: Column): DataFrame =
    d.select(lit(null).cast("string").as("part"),
      key.cast("int").as("b"), lit(0L).as("w"))

  /** Execute one write statement's ordered effects against working
    * node/edge frames, then commit ONCE with bucket-level dirty keys.
    * Dirty tracking invariant: every effect that touches EXISTING rows
    * probes the pre-state store (directory-pruned to the touched gids'
    * hash buckets) for their (label, bucket) locations, and adds the
    * locations it writes new rows into; rows created earlier in the
    * SAME statement already have their locations in the dirty set from
    * their creating effect, so later patches to them add nothing new.
    */
  def applyWrite(store: GraphStore, effects: Seq[WriteEffect])
      : CompositeStats = {
    // Tiny-action mode, gated like applyBatch on the store stating
    // tiny: a small write statement's bookkeeping is dozens of tiny
    // probe plans whose Janino whole-stage compilation dominates their
    // runtime. Against a big store the probe phase scans real bucket
    // data, so codegen stays ON there — the gate can't hold at scale.
    // Restore is to the ENGINE DEFAULTS (not a captured snapshot):
    // capturing another in-flight writer's temporary value would leak
    // NO_CODEGEN past both finallys under concurrent writes. It runs
    // both at the pre-commit point and in the finally, so an expected
    // throw (CREATE conflict) cannot leave the conf flipped.
    val spark = store.sparkSession
    val tiny = store.isTiny
    if (tiny) TinyMode.enter(spark)
    val restore = () => if (tiny) TinyMode.exit(spark)
    try applyWrite0(store, effects, restore)
    finally restore()
  }

  /** Tiny-action session mode, shared by applyBatch and applyWrite:
    * beyond interpreted evaluation (Janino compilation dominates a
    * handful-of-rows plan), AQE is OFF (each materialized query stage
    * is its own Spark job — pure scheduler latency at this size) and
    * exchanges run SINGLE-PARTITION (a 32-task shuffle stage over ten
    * rows is 32 task launches for nothing). Restore is to engine
    * defaults for the codegen/AQE flags; the shuffle-partition
    * original is memoized ONCE per session on first entry — both ends
    * of concurrent tiny writers then restore the same pre-tiny value,
    * so an in-flight "1" can never leak past the last finally. The
    * gate (manifest-tiny store ∧ driver-local lineage) can never hold
    * at scale, where AQE and wide exchanges are exactly right.
    */
  private object TinyMode {
    private val origShuffle =
      new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
    def enter(spark: SparkSession): Unit = {
      origShuffle.computeIfAbsent(spark,
        s => s.conf.get("spark.sql.shuffle.partitions", "200"))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
    }
    def exit(spark: SparkSession): Unit = {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Option(origShuffle.get(spark)).foreach(v =>
        spark.conf.set("spark.sql.shuffle.partitions", v))
    }
  }

  private def applyWrite0(store: GraphStore, effects: Seq[WriteEffect],
      restoreCodegen: () => Unit): CompositeStats = {
    import WriteEffect._
    val spark = store.sparkSession
    import spark.implicits._
    val ver = store.currentVersion + 1
    val initialNodes = store.nodes // session overlay or committed table
    val initialEdges = store.edges
    var nodes = initialNodes
    var edges = initialEdges
    var dirtyNodes: DirtyKeys = Set.empty
    var dirtyEdges: DirtyKeys = Set.empty
    var nodesCreated, edgesCreated, propertiesSet = 0L
    var nodesDeleted, edgesDeleted, labelsSet = 0L
    // labels this statement introduces as SECONDARY labels — unioned
    // into the store's pruning metadata at commit
    var newSecondaryLabels = Set.empty[String]
    // while no effect has mutated the working edge frame it equals the
    // store tables, so incident-edge probes may use the bucket-pruned
    // store scans (incl. the reverse-edge index for the dst side)
    var edgesMutated = false
    val cached = Seq.newBuilder[DataFrame]
    // Lineage-cut cache — EXCEPT when the frame's whole lineage is
    // already local rows (fresh store + param-derived batch): an
    // InMemoryRelation is an opaque leaf that blocks PropagateEmpty /
    // ConvertToLocalRelation folding downstream, and re-evaluating a
    // local plan is cheaper than materializing blocks. Determinism is
    // unaffected: local plans re-evaluate to the same rows.
    def cache(d: DataFrame): DataFrame = {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      val plan = d.queryExecution.optimizedPlan
      val allLocalLeaves =
        plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])
      if (allLocalLeaves) {
        // fully folded already (project/filter over a LocalRelation):
        // re-evaluation is free, keep the local plan
        if (plan.isInstanceOf[LocalRelation]) d
        else {
          // local leaves but an unfoldable op on top (dropDuplicates,
          // join, aggregate): evaluate ONCE to a LocalRelation. Every
          // downstream broadcast then builds driver-side (no
          // per-broadcast job — an interactive statement schedules
          // dozens otherwise) and later probe plans fold locally.
          // Bounded: leaves are the statement's own batch and (on a
          // tiny store) the localized tables. The size probe is a
          // take(cap+1), not a collect — an oversized result must not
          // be pulled through the driver just to learn it's oversized
          val probe = d.take(20001)
          if (probe.length <= 20000)
            spark.createDataFrame(
              java.util.Arrays.asList(probe: _*), d.schema)
          else { val c = d.cache(); cached += c; c }
        }
      }
      else { val c = d.cache(); cached += c; c }
    }

    val emptyPv = map_from_arrays(
      lit(Array.empty[String]),
      array().cast("array<struct<s:string,l:bigint,d:double,b:boolean," +
        "a:array<string>,at:string>>"))
    val emptyStr = lit(Array.empty[String])
    val nullProps = lit(null).cast(GraphStore.nodeSchema("props").dataType)

    // ALL dirty-key / stat probes defer into two fused jobs run after
    // the effect loop (ProbeBatch): phase A holds every batch-derived
    // groupBy/count, phase B the pre-state store probes that need
    // phase A's bucket sets for directory pruning. Only control-flow
    // probes (CREATE-exists, non-detach-DELETE connectivity) stay
    // eager. Store tables are immutable (COW), and the probed batch
    // frames are cached vals, so deferral cannot change results.
    val phaseA = new ProbeBatch
    val phaseB = new ProbeBatch
    val deferredB = Seq.newBuilder[() => Unit]
    // one metadata stat per statement; gates the fused-single-probe
    // path (pruning is pointless on a tiny store)
    val storeTiny = store.isTiny

    /** dirty keys + row count from a batch-derived frame, fused */
    def deferKeyCounts(d: DataFrame, part: Column, key: Column)(
        sink: (DirtyKeys, Long) => Unit): Unit =
      phaseA.add(keyCountFrame(d, part, key)) { rows =>
        sink(rows.map(r => (r._1, r._2)).toSet, rows.map(_._3).sum) }

    /** a single fused sum (stat counters with no dirty keys) */
    def deferSum(d: DataFrame, value: Column)(sink: Long => Unit): Unit =
      phaseA.add(d.select(lit(null).cast("string").as("part"),
        lit(null).cast("int").as("b"), value.cast("long").as("w"))) {
        rows => sink(rows.map(_._3).sum) }

    /** (label, bucket) keys + count of PRE-STATE store rows matching
      * `gids`, directory-pruned to the gids' hash buckets (phase B,
      * after phase A resolves the bucket set). `hint` broadcasts
      * batch-shaped probes; match-derived sets can be O(graph), so
      * delete effects leave the strategy to AQE.
      */
    def deferStoreNodeKeys(gids: DataFrame, hint: Boolean)(
        sink: (DirtyKeys, Long) => Unit): Unit = {
      if (storeTiny) {
        // a tiny store gains nothing from directory pruning — probe
        // it unpruned in phase A, so the statement pays ONE fused
        // probe job instead of two
        val probe = if (hint) broadcast(gids) else gids
        phaseA.add(keyCountFrame(
          store.nodesWithBucket.select($"gid", $"label", $"bucket")
            .join(probe, Seq("gid"), "left_semi"),
          $"label", $"bucket")) { rows =>
          sink(rows.map(r => (r._1, r._2)).toSet, rows.map(_._3).sum) }
        return
      }
      var bs: Seq[Int] = Nil
      phaseA.add(bucketFrame(gids, store.bucketOf($"gid"))) { rows =>
        bs = rows.flatMap(_._2).toSeq }
      deferredB += { () =>
        val probe = if (hint) broadcast(gids) else gids
        phaseB.add(keyCountFrame(
          store.nodesWithBucket.select($"gid", $"label", $"bucket")
            .filter(if (bs.isEmpty) lit(false) else $"bucket".isin(bs: _*))
            .join(probe, Seq("gid"), "left_semi"),
          $"label", $"bucket")) { rows =>
          sink(rows.map(r => (r._1, r._2)).toSet, rows.map(_._3).sum) }
      }
    }

    // Cut working-frame lineage between effects: a later effect's
    // probe actions would otherwise re-execute every earlier effect's
    // join/union chain over the store tables (quadratic job work and
    // Catalyst re-analysis in effect count — the same blowup the BFS
    // loop checkpoints against). Cache is lazy, so single-effect
    // statements (the common case — the guard below skips them) and
    // the final frame feeding commit pay nothing extra.
    effects.zipWithIndex.foreach { case (effect, idx) =>
      val n0 = nodes
      val e0 = edges
      effect match {
      case MergeNodes(rows00, fail, slabels) =>
        newSecondaryLabels ++= slabels
        val rows0 =
          if (rows00.columns.contains("xlabels")) rows00
          else rows00.withColumn("xlabels",
            lit(null).cast("array<string>"))
        val rows = cache(rows0.filter($"gid".isNotNull).dropDuplicates("gid"))
        val existing = nodes.select($"gid")
          .join(broadcast(rows.select($"gid")), Seq("gid"), "left_semi")
        if (fail && !existing.isEmpty) {
          val sample = existing.limit(3).collect().map(_.getString(0))
          throw new IllegalStateException(
            s"CREATE: node(s) already exist: ${sample.mkString(", ")}")
        }
        val ins = cache(rows.join(existing, Seq("gid"), "left_anti")
          .withColumn("recorded", lit(ver)))
        deferKeyCounts(ins, $"label", store.bucketOf($"gid")) { (k, n) =>
          dirtyNodes ++= k; nodesCreated += n }
        nodes = nodes.unionByName(ins)

      case DeleteNodes(gids0, detach) =>
        val gids = cache(gids0.select("gid").distinct())
        // incident edges of the doomed set. Common case (no earlier
        // effect mutated edges): bucket-pruned store probes — outgoing
        // via the main table's src-hash directories, incoming via the
        // reverse-edge index's dst-hash directories. Otherwise the
        // working-frame scan (statement-local adds must be seen).
        def touchingPruned(bs: Seq[Int], all: Boolean = false): DataFrame = {
          def bf =
            if (all) lit(true)
            else if (bs.isEmpty) lit(false) else $"bucket".isin(bs: _*)
          store.edgesWithBucket.filter(bf)
            .join(gids.withColumnRenamed("gid", "src"), Seq("src"), "left_semi")
            .select($"src", $"dst", $"relType")
            .unionByName(store.redgesWithBucket.filter(bf)
              .join(gids.withColumnRenamed("gid", "dst"), Seq("dst"), "left_semi")
              .select($"src", $"dst", $"relType"))
            .distinct()
        }
        val touchingWorking = edges.select($"src", $"dst", $"relType")
          .join(gids.withColumnRenamed("gid", "src"), Seq("src"), "left_semi")
          .unionByName(edges.select($"src", $"dst", $"relType")
            .join(gids.withColumnRenamed("gid", "dst"), Seq("dst"), "left_semi"))
          .distinct()
        val usePruned = !edgesMutated && store.redgesReady
        if (!detach) {
          // plain DELETE on a still-connected node is an error; the
          // working edge frame already excludes edges deleted earlier
          // in this statement (Neo4j's "remaining relationships" rule).
          // Control flow — stays eager (rare interactive path).
          val touching =
            if (usePruned) {
              val bs = gids.select(store.bucketOf($"gid").as("b")).distinct()
                .collect().map(_.getInt(0)).toSeq
              touchingPruned(bs)
            } else touchingWorking
          if (!touching.isEmpty)
            throw new IllegalStateException(
              "cannot delete a node that still has relationships; use DETACH DELETE")
        } else {
          if (usePruned && storeTiny) {
            // tiny store: skip the pruning round-trip, one fused probe
            phaseA.add(keyCountFrame(touchingPruned(Nil, all = true),
              $"relType", store.bucketOf($"src"))) { rows =>
              dirtyEdges ++= rows.map(r => (r._1, r._2)).toSet
              edgesDeleted += rows.map(_._3).sum }
          } else if (usePruned) {
            var bs: Seq[Int] = Nil
            phaseA.add(bucketFrame(gids, store.bucketOf($"gid"))) { rows =>
              bs = rows.flatMap(_._2).toSeq }
            deferredB += { () =>
              phaseB.add(keyCountFrame(touchingPruned(bs), $"relType",
                store.bucketOf($"src"))) { rows =>
                dirtyEdges ++= rows.map(r => (r._1, r._2)).toSet
                edgesDeleted += rows.map(_._3).sum }
            }
          } else
            deferKeyCounts(touchingWorking, $"relType",
              store.bucketOf($"src")) { (ek, en) =>
              dirtyEdges ++= ek; edgesDeleted += en }
          edges = cascade(edges, gids)
          edgesMutated = true
        }
        deferStoreNodeKeys(gids, hint = false) { (nk, nn) =>
          dirtyNodes ++= nk; nodesDeleted += nn }
        nodes = nodes.join(gids, Seq("gid"), "left_anti")

      case DeleteEdges(keys0) =>
        val keys = cache(keys0.select("src", "dst", "relType").distinct())
        deferKeyCounts(keys, $"relType", store.bucketOf($"src")) { (ek, en) =>
          dirtyEdges ++= ek; edgesDeleted += en }
        edges = edges.join(keys, Seq("src", "dst", "relType"), "left_anti")
        edgesMutated = true

      case MergeEdges(rows0) =>
        val e = cache(rows0.filter($"src".isNotNull && $"dst".isNotNull)
          .dropDuplicates("src", "dst", "relType"))
        val existing = edges.select($"src", $"dst", $"relType")
          .join(broadcast(e.select($"src", $"dst", $"relType")),
            Seq("src", "dst", "relType"), "left_semi")
        val add = cache(e.join(existing, Seq("src", "dst", "relType"), "left_anti")
          .withColumn("recorded", lit(ver)))
        deferKeyCounts(add, $"relType", store.bucketOf($"src")) { (ek, en) =>
          dirtyEdges ++= ek; edgesCreated += en }
        edges = edges.unionByName(add)
        // stub creation for endpoints absent from the working node set
        val ends = add.select($"src".as("gid"))
          .unionByName(add.select($"dst".as("gid"))).distinct()
        val existingEnds = nodes.select($"gid")
          .join(broadcast(ends), Seq("gid"), "left_semi")
        val stubs = cache(ends.join(existingEnds, Seq("gid"), "left_anti")
          .select($"gid", lit(null).cast("string").as("label"),
            lit(null).cast("string").as("source"), nullProps.as("props"),
            lit(ver).as("recorded"),
            lit(null).cast("array<string>").as("xlabels")))
        deferKeyCounts(stubs, $"label", store.bucketOf($"gid")) { (sk, sn) =>
          dirtyNodes ++= sk; nodesCreated += sn }
        nodes = nodes.unionByName(stubs)
        edgesMutated = true

      case PatchProps(p0) =>
        val p = cache(p0.filter($"gid".isNotNull).dropDuplicates("gid"))
        val patchN0 = coalesce($"patch", emptyPv)
        // a patch value whose PV slots are ALL null (static `= NULL`
        // resolved by the planner into `removes`, or a runtime-null
        // expression like a missing `item.k`) removes the key
        def isNullPv(v: Column): Column =
          v.getField("s").isNull && v.getField("l").isNull &&
            v.getField("d").isNull && v.getField("b").isNull &&
            v.getField("a").isNull
        val patchN = map_filter(patchN0, (_, v) => !isNullPv(v))
        val removesN = concat(coalesce($"removes", emptyStr),
          map_keys(map_filter(patchN0, (_, v) => isNullPv(v))))
        deferSum(p, size(patchN) + size(removesN))(propertiesSet += _)
        val patched = nodes.join(broadcast(p), Seq("gid"), "inner")
          .withColumn("props", map_concat(
            map_filter(coalesce($"props", emptyPv), (k, _) =>
              !array_contains(removesN, k) &&
                !array_contains(map_keys(patchN), k)),
            patchN))
          .withColumn("recorded", lit(ver))
          .drop("patch", "removes")
        nodes = nodes.join(broadcast(p.select($"gid")), Seq("gid"), "left_anti")
          .unionByName(patched)
        deferStoreNodeKeys(p.select($"gid"), hint = true) { (pk, _) =>
          dirtyNodes ++= pk }

      case ReplaceProps(rows0) =>
        val p = cache(rows0.filter($"gid".isNotNull).dropDuplicates("gid"))
        deferSum(p, size(coalesce($"props", emptyPv)) +
          when($"source".isNotNull, 1).otherwise(0))(propertiesSet += _)
        val pr = p.select($"gid", $"source".as("__ns"), $"props".as("__np"))
        val patched = nodes.join(broadcast(pr), Seq("gid"), "inner")
          .withColumn("source", $"__ns")
          .withColumn("props", $"__np")
          .withColumn("recorded", lit(ver))
          .drop("__ns", "__np")
        nodes = nodes.join(broadcast(pr.select($"gid")), Seq("gid"), "left_anti")
          .unionByName(patched)
        deferStoreNodeKeys(p.select($"gid"), hint = true) { (pk, _) =>
          dirtyNodes ++= pk }

      case SetLabels(gids0, label) =>
        // label == null clears the primary (legacy REMOVE lowering —
        // the node becomes an unlabeled stub in the null-label
        // partition). Otherwise: Neo4j label ADDITION — promote an
        // unlabeled node, add a secondary to an already-labeled one.
        val gids = cache(gids0.select("gid").distinct())
        deferStoreNodeKeys(gids, hint = true) { (ok, cnt) =>
          // old locations (promotion changes partition); a matched
          // row whose primary is a DIFFERENT label gains `label` as a
          // secondary — record it in the pruning metadata
          dirtyNodes ++= ok; labelsSet += cnt
          if (label != null && ok.exists(_._1.exists(_ != label)))
            newSecondaryLabels += label
        }
        deferKeyCounts(gids, lit(label).cast("string"),
          store.bucketOf($"gid")) { (k, _) =>
          dirtyNodes ++= k } // new locations (promoted rows)
        val relabeled = nodes.join(broadcast(gids), Seq("gid"), "left_semi")
          .withColumn("xlabels",
            if (label == null) $"xlabels"
            else when($"label".isNull || $"label" === label, $"xlabels")
              .otherwise(array_union(
                coalesce($"xlabels", emptyStr), array(lit(label)))))
          .withColumn("label",
            if (label == null) lit(null).cast("string")
            else coalesce($"label", lit(label)))
          .withColumn("recorded", lit(ver))
        nodes = nodes.join(broadcast(gids), Seq("gid"), "left_anti")
          .unionByName(relabeled)

      case RemoveLabel(gids0, label) =>
        // clear the primary where it equals `label`, else drop it
        // from the secondary set; rows whose primary clears move to
        // the null-label partition
        val gids = cache(gids0.select("gid").distinct())
        deferStoreNodeKeys(gids, hint = true) { (ok, cnt) =>
          dirtyNodes ++= ok; labelsSet += cnt }
        deferKeyCounts(gids, lit(null).cast("string"),
          store.bucketOf($"gid")) { (k, _) =>
          dirtyNodes ++= k } // null-partition landings
        val relabeled = nodes.join(broadcast(gids), Seq("gid"), "left_semi")
          .withColumn("xlabels",
            when($"xlabels".isNotNull, array_remove($"xlabels", label)))
          .withColumn("label",
            when($"label" === label, lit(null).cast("string"))
              .otherwise($"label"))
          .withColumn("recorded", lit(ver))
        nodes = nodes.join(broadcast(gids), Seq("gid"), "left_anti")
          .unionByName(relabeled)

      case PatchEdges(p0) =>
        val hasSource = p0.columns.contains("new_source")
        val hasType = p0.columns.contains("new_relType")
        val p = cache(p0.filter($"src".isNotNull)
          .dropDuplicates("src", "dst", "relType"))
        val mult = (if (hasSource) 1L else 0L) + (if (hasType) 1L else 0L)
        deferKeyCounts(p, $"relType", store.bucketOf($"src")) { (ok, cnt) =>
          dirtyEdges ++= ok; propertiesSet += cnt * mult }
        if (hasType) // a relType change moves the row's partition
          deferKeyCounts(p.filter($"new_relType".isNotNull),
            $"new_relType", store.bucketOf($"src")) { (k, _) =>
            dirtyEdges ++= k }
        var patched = edges
          .join(broadcast(p), Seq("src", "dst", "relType"), "inner")
        if (hasSource) patched = patched.withColumn("source", $"new_source")
        patched = patched.withColumn("recorded", lit(ver))
        val survivors = edges
          .join(broadcast(p.select($"src", $"dst", $"relType")),
            Seq("src", "dst", "relType"), "left_anti")
        if (hasType) {
          // Only a patch that actually CHANGES relType moves the row's
          // identity; `SET r.type = r.type`-shaped patches (the
          // reference's own sync template sets type to its existing
          // value on every row) stay on the cheap in-place path. The
          // split leaves the rename side EMPTY at runtime for those
          // statements, and AQE's empty-relation propagation prunes
          // its groupBy + collision joins out of the executed plan.
          val plain = patched
            .filter($"new_relType".isNull || $"new_relType" <=> $"relType")
            .drop("new_source", "new_relType")
          // a relType rename can converge two patched rows onto one
          // identity, or collide with an untouched existing edge OR an
          // in-place-patched row — MERGE semantics keep one row per
          // (src,dst,relType). Deterministic pick (max source) among
          // converging renames; an existing identity always wins over
          // a rename landing on it. Collision probes are bounded by
          // the patch's own key set, never a full-table dedup.
          var renamed = patched
            .filter($"new_relType".isNotNull && !($"new_relType" <=> $"relType"))
            .withColumn("relType", $"new_relType")
            .drop("new_source", "new_relType")
            .groupBy($"src", $"dst", $"relType")
            .agg(max($"source").as("source"), max($"recorded").as("recorded"))
          val colliding = survivors.select($"src", $"dst", $"relType")
            .unionByName(plain.select($"src", $"dst", $"relType"))
            .join(broadcast(renamed.select($"src", $"dst", $"relType")),
              Seq("src", "dst", "relType"), "left_semi")
          renamed = renamed.join(broadcast(colliding),
            Seq("src", "dst", "relType"), "left_anti")
          patched = plain.unionByName(renamed)
        } else patched = patched.drop("new_source")
        edges = survivors.unionByName(patched)
        edgesMutated = true
      }
      if (idx < effects.length - 1) {
        if (!(nodes eq n0)) nodes = cache(nodes)
        if (!(edges eq e0)) edges = cache(edges)
      }
    }

    phaseA.run() // ONE job: every batch-derived probe
    deferredB.result().foreach(_())
    phaseB.run() // ONE job: the bucket-pruned pre-state store probes
    restoreCodegen() // commit/overlay below are data-sized — codegen on

    val anyChange = nodesCreated + edgesCreated + propertiesSet +
      nodesDeleted + edgesDeleted + labelsSet > 0
    store.session match {
      case Some(s) =>
        // open transaction: fold this statement's working frames into
        // the session overlay instead of committing — later statements
        // read them through store.nodes/edges, and endSession writes
        // ONE manifest + pointer flip for the whole batch. The frames
        // are EAGERLY localCheckpoint'ed: each statement's plan builds
        // on the previous statement's frame, and without a lineage cut
        // the logical tree compounds per statement (the per-statement
        // commit used to cut it at parquet; the checkpoint is the
        // in-session analog). Blocks are freed by the ContextCleaner
        // when the session's frames are dropped.
        if (anyChange) {
          // delta overlay: only the statement's dirty buckets
          // materialize; untouched buckets re-read the committed
          // parquet lazily (statement cost ∝ touched data, the
          // in-session analog of the commit's bounded rewrite). The
          // two delta checkpoints share no lineage — run them as
          // concurrent jobs like the commit's table writes.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          val nF = if (nodes eq initialNodes) None else Some(Future(
            store.overlayNodes(nodes, s.dirtyNodes ++ dirtyNodes)))
          val eF = if (edges eq initialEdges) None else Some(Future(
            store.overlayEdges(edges, s.dirtyEdges ++ dirtyEdges)))
          nF.foreach(f => s.workNodes = Some(Await.result(f, Duration.Inf)))
          eF.foreach(f => s.workEdges = Some(Await.result(f, Duration.Inf)))
          s.dirtyNodes ++= dirtyNodes
          s.dirtyEdges ++= dirtyEdges
          s.secondaryLabels ++= newSecondaryLabels
          s.changed = true
        }
        // the checkpoint materialized the frames — statement
        // intermediates are no longer referenced by overlay lineage
        cached.result().foreach(_.unpersist())
        CompositeStats(nodesCreated, edgesCreated, propertiesSet,
          nodesDeleted, edgesDeleted,
          store.currentVersion + (if (s.changed) 1 else 0))
      case None =>
        val v =
          if (!anyChange) store.currentVersion
          else store.commit(nodes, edges, "", Some(dirtyNodes),
            Some(dirtyEdges), newSecondaryLabels)
        cached.result().foreach(_.unpersist())
        CompositeStats(nodesCreated, edgesCreated, propertiesSet,
          nodesDeleted, edgesDeleted, v)
    }
  }

  /** result of a Cypher [DETACH] DELETE statement */
  case class DeleteStats(nodesDeleted: Long, edgesDeleted: Long, version: Long)

  /** Execute a matched-set delete — the storage half of Cypher's
    * `[DETACH] DELETE` (/root/reference/neo4j.go:95-99,106,126 emit
    * exactly these statements; layer_test.go:275-281 runs the node
    * form verbatim).
    *
    * @param doomedNodeGids matched node gids (one `gid` column); may
    *   repeat across rows — deduped here.
    * @param doomedEdges matched edges (`src`,`dst`,`relType`).
    * @param detach cascade incident edges; when false, a doomed node
    *   with an incident edge NOT also deleted by this statement is a
    *   runtime error (Neo4j semantics — edges are never deleted
    *   implicitly by plain DELETE).
    *
    * The doomed sets are match results and can be O(graph) (e.g. the
    * reference's whole-label cleanup), so no broadcast hints — AQE
    * picks the join strategy. Anti-joins keep the big tables on the
    * probe side.
    */
  def deleteMatched(
      store: GraphStore,
      doomedNodeGids: Option[DataFrame],
      doomedEdges: Option[DataFrame],
      detach: Boolean): DeleteStats = {
    import WriteEffect._
    // explicit edge deletes FIRST, so the plain-DELETE connected check
    // treats them as already gone (Neo4j's "remaining" rule)
    val effects = Seq.newBuilder[WriteEffect]
    doomedEdges.foreach(e => effects += DeleteEdges(e))
    doomedNodeGids.foreach(g => effects += DeleteNodes(g, detach))
    val st = applyWrite(store, effects.result())
    DeleteStats(st.nodesDeleted, st.edgesDeleted, st.version)
  }
}
