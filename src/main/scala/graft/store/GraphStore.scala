package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, hash, lit, pmod, when}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A batch (or constraint DDL validating existing data) violated a
  * declared uniqueness/existence constraint — the commit wrote
  * nothing and the pointer never flipped (Neo4j's
  * ConstraintValidationFailed analog). */
final class ConstraintViolation(msg: String)
    extends IllegalArgumentException(msg)

/** Manifest-snapshot property-graph store: the Spark analog of the
  * reference's single Bolt transaction per batch
  * (/root/reference/neo4j.go:238-284). A snapshot is a JSON manifest
  * naming, per label (nodes) / per relType (edges), the exact parquet
  * files that make up that partition. A commit appends new files for
  * ONLY the partitions the batch touched into a shared data pool and
  * re-links the untouched partitions' files from the previous manifest,
  * then atomically flips a pointer file — readers pin whatever manifest
  * the pointer named when they loaded it, so a batch's
  * deletes/upserts/stubs/edges become visible together or not at all.
  *
  * Layout:
  * {{{
  *   <root>/data/nodes/seg=7/label=Person/bucket=3/part-*.parquet
  *   <root>/data/edges/seg=7/relType=knows/bucket=0/part-*.parquet
  *   <root>/m00000007.json  {"nodes":{"label=Person/bucket=3":[files]},…}
  *   <root>/_current        "7\n<syncId>"   (atomically replaced)
  * }}}
  *
  * Files are immutable once written; `seg=<version>` namespaces each
  * commit's output so file names never collide and a commit's write set
  * is enumerable without listing diffs. Partition values (`label=…`,
  * `relType=…`) stay real directory partitions, so label-filtered scans
  * prune at the directory level (A13/A11 physical analog); `bucket=…`
  * subdivides each partition by cluster-key hash, so manifest dirtiness
  * is per-BUCKET — an incremental batch rewrites only the hash buckets
  * its gids land in and re-links sibling buckets untouched.
  *
  * Idempotent replay: a commit carrying the `syncId` already recorded in
  * `_current` is skipped (the reference's SyncId idempotence key,
  * /root/reference/layer_test.go:83).
  *
  * Scale notes (100 TB): an incremental batch rewrites only the
  * (label, bucket) / (relType, bucket) partitions containing gids it
  * upserts, deletes, or re-points (the caller passes those as
  * `dirty*` — the same touched-file detection a Delta/Iceberg MERGE
  * performs); everything else is a manifest re-link. A 1,000-entity
  * batch into a billion-node label therefore rewrites ≤ batch-distinct
  * buckets (each ~1/numBuckets of the label), not the label — raise
  * `numBuckets` with data volume to keep bucket size ~constant.
  * Within a rewritten partition, files are gid/src-hash-distributed
  * (`repartition(numBuckets, key)`) + sorted, so merge joins co-locate
  * and parquet min/max stats prune gid probes. On a real cluster the
  * pool would live on object storage and the pointer flip would be a
  * conditional-put; the protocol is unchanged.
  */
class GraphStore(val root: String, spark: SparkSession, numBuckets: Int = 8) {
  import GraphStore._

  private def rootPath: Path = Paths.get(root)
  private def pointer: Path = rootPath.resolve("_current")
  private def manifestPath(v: Long): Path = rootPath.resolve(f"m$v%08d.json")
  /** per-partition row-count sidecar (the count store) — written with
    * the manifest, adopted by the same pointer flip */
  private def countsPath(v: Long): Path = rootPath.resolve(f"c$v%08d.json")
  private def dataDir(table: String): Path =
    rootPath.resolve("data").resolve(table)

  Files.createDirectories(rootPath)

  /** The bucket count the data ON DISK was hashed with — third line of
    * the `_current` pointer, so the count and the version it applies to
    * flip ATOMICALLY together (a rebucket that dies mid-commit leaves
    * both untouched). An existing store's recorded count always wins
    * over the constructor argument: probing `hash(gid) % numBuckets`
    * with any other modulus would silently prune the wrong directories.
    */
  // @volatile: rebucket() mutates this inside the store monitor, but
  // readers (bucketOf, merge-probe planning) read it lock-free — the
  // barrier makes a completed rebucket's count visible to them. A
  // query PLANNED concurrently with an in-flight rebucket still reads
  // one consistent (manifest, count) pair: the count only changes at
  // the atomic pointer flip, and each operation snapshots it once.
  @volatile private var bucketCount0: Int =
    pointerLines.flatMap(_.lift(2)).map(_.trim.toInt).getOrElse(numBuckets)

  /** the count the on-disk data is hashed with (see init above) */
  def bucketCount: Int = bucketCount0

  /** the session the store plans against — accessed directly so
    * callers needing only the session never materialize a table view
    * (the tiny-store localization collect) as a side effect */
  private[graft] def sparkSession: SparkSession = spark

  /** every label that occurs as a SECONDARY label anywhere in the
    * store (pointer line 4, flipped atomically with the version it
    * describes). Grows monotonically — a stale member only widens a
    * match from pruned-scan to full-scan, never breaks correctness —
    * and lets the planner keep `label === L` partition pruning for
    * any L never used as a secondary label (the common case: dataset
    * syncs assign exactly one label).
    */
  @volatile private var secondaryLabels0: Set[String] =
    pointerLines.flatMap(_.lift(3)).map(decodeLabelSet).getOrElse(Set.empty)

  def secondaryLabels: Set[String] = secondaryLabels0

  private def encodeLabelSet(s: Set[String]): String =
    s.toSeq.sorted.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")
  private def decodeLabelSet(line: String): Set[String] =
    line.trim.split(",").filter(_.nonEmpty)
      .map(java.net.URLDecoder.decode(_, "UTF-8")).toSet

  private def pointerLines: Option[Seq[String]] =
    if (!Files.exists(pointer)) None
    else Some(new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8)
      .split("\n", -1).toSeq)

  // ---- user-declared search indexes (CREATE VECTOR/FULLTEXT INDEX) ----

  private def indexesPath: Path = rootPath.resolve("_indexes.json")

  @volatile private var indexDefs0: Seq[IndexDef] = readIndexDefs()

  /** every declared vector/fulltext index (see [[SearchIndexes]]) */
  def indexDefs: Seq[IndexDef] = indexDefs0
  def indexDef(name: String): Option[IndexDef] =
    indexDefs0.find(_.name == name)

  private def readIndexDefs(): Seq[IndexDef] =
    if (!Files.exists(indexesPath)) Nil
    else JsonMethods.parse(new String(Files.readAllBytes(indexesPath),
        StandardCharsets.UTF_8)) match {
      case JArray(items) => items.collect { case o: JObject =>
        val m = o.obj.toMap
        def str(k: String) =
          m.get(k).collect { case JString(s) => s }.getOrElse("")
        def intv(k: String) =
          m.get(k).collect { case JInt(i) => i.toInt }.getOrElse(0)
        val cents = m.get("centroids") match {
          case Some(JArray(cs)) => cs.collect { case JArray(ds) =>
            ds.collect {
              case JDouble(x) => x
              case JInt(x) => x.toDouble
            }: Seq[Double]
          }
          case _ => Nil
        }
        def dblSeq(k: String): Seq[Double] = m.get(k) match {
          case Some(JArray(ds)) => ds.collect {
            case JDouble(x) => x
            case JInt(x) => x.toDouble
          }
          case _ => Nil
        }
        IndexDef(str("name"), str("kind"), str("label"), str("property"),
          intv("dims"),
          if (str("similarity").isEmpty) "cosine" else str("similarity"),
          cents, intv("cells"), intv("nprobe"),
          // entries written before the analyzer field were BUILT with
          // the whitespace tokenizer — read them back as such
          if (str("analyzer").isEmpty) SearchIndexes.WhitespaceAnalyzer
          else str("analyzer"),
          if (str("entity").isEmpty) "NODE" else str("entity"),
          intv("graphDeg"),
          m.get("graphEntries") match {
            case Some(JArray(gs)) => gs.collect { case JString(g) => g }
            case _ => Nil
          },
          m.get("boundaries") match {
            case Some(JArray(bs)) => bs.collect { case JString(b) => b }
            case _ => Nil
          },
          m.get("boundaryN").collect {
            case JInt(i) => i.toLong }.getOrElse(0L),
          m.get("boundariesV").collect {
            case JInt(i) => i.toLong }.getOrElse(0L),
          str("constraint"), str("quant"), dblSeq("sqMn"), dblSeq("sqMx"),
          m.get("zorder").collect { case JBool(b) => b }.getOrElse(false))
      }
      case _ => Nil
    }

  /** atomic sidecar replace — index DEFINITIONS (and the trained
    * quantizer) live beside the data pointer; the data TABLE rides the
    * versioned manifest like nodes/edges/redges */
  private def writeIndexDefs(defs: Seq[IndexDef]): Unit = {
    val json = JArray(defs.sortBy(_.name).toList.map { d =>
      JObject(List(
        "name" -> JString(d.name), "kind" -> JString(d.kind),
        "label" -> JString(d.label), "property" -> JString(d.property),
        "dims" -> JInt(d.dims), "similarity" -> JString(d.similarity),
        "cells" -> JInt(d.cells), "nprobe" -> JInt(d.nprobe),
        "analyzer" -> JString(d.analyzer),
        "entity" -> JString(d.entity),
        "graphDeg" -> JInt(d.graphDeg),
        "graphEntries" -> JArray(d.graphEntries.toList.map(JString(_))),
        "boundaries" -> JArray(d.boundaries.toList.map(JString(_))),
        "boundaryN" -> JInt(d.boundaryN),
        "boundariesV" -> JInt(d.boundariesV),
        "constraint" -> JString(d.constraint),
        "quant" -> JString(d.quant),
        "sqMn" -> JArray(d.sqMn.toList.map(JDouble(_))),
        "sqMx" -> JArray(d.sqMx.toList.map(JDouble(_))),
        "zorder" -> JBool(d.zorder),
        "centroids" -> JArray(d.centroids.toList.map(c =>
          JArray(c.toList.map(JDouble(_)))))))
    })
    val tmp = rootPath.resolve("_indexes.tmp")
    Files.write(tmp,
      JsonMethods.compact(JsonMethods.render(json))
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, indexesPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    indexDefs0 = defs
  }

  /** index names whose table must be FULLY rebuilt by the next commit
    * regardless of what the previous manifest carries: a freshly
    * (re-)registered definition may share its table name with a
    * just-dropped index whose rows the old manifest still links —
    * without the force, `searchIndexDelta`'s carried-forward entry
    * would serve the OLD definition's rows under the new definition.
    * Cleared per-name only after the rebuild's pointer flip, so a
    * failed build retries as a rebuild.
    */
  @volatile private var forceIndexRebuild0: Set[String] = Set.empty

  /** Register (or replace) an index and build its table from the
    * current snapshot: a vector def trains its coarse quantizer here
    * (build-once artifact — later commits only re-ASSIGN changed
    * nodes), then a relink-only commit runs the full build through the
    * index-maintenance pass. Rejected inside an open session (Neo4j
    * parity: schema commands run outside transactions).
    */
  def buildSearchIndex(d0: IndexDef): Long = synchronized {
    require(session.isEmpty,
      "index DDL cannot run inside an open transaction")
    putIndexDef(d0)
    forceIndexRebuild0 += d0.name
    commit(nodes, edges, "", Some(Set.empty), Some(Set.empty))
  }

  def putIndexDef(d: IndexDef): Unit = synchronized {
    writeIndexDefs(indexDefs0.filterNot(_.name == d.name) :+ d)
  }

  /** Register a constraint after validating the CURRENT snapshot —
    * creation registers nothing if existing data already violates it
    * (Neo4j parity). A "unique" constraint is a constraint-backed
    * property index: its px table builds here and doubles as the
    * commit-time enforcement probe AND an ordinary lookup route. An
    * "exists" constraint has no table — commits check the batch frame.
    */
  def buildConstraint(d0: IndexDef): Unit = synchronized {
    require(session.isEmpty,
      "constraint DDL cannot run inside an open transaction")
    if (d0.entity == "RELATIONSHIP") {
      // relationship existence: validate the committed edges of the
      // type — no table (the commit checks each batch's edge frame)
      val bad = edges.filter(col("relType") === d0.label &&
        col(d0.property).isNull)
        .select(col("src"), col("dst")).take(1)
      bad.headOption.foreach(r => throw new ConstraintViolation(
        s"cannot create constraint ${d0.name}: relationship " +
          s"${r.getString(0)}-[:${d0.label}]->${r.getString(1)} has " +
          s"no ${d0.property}"))
      putIndexDef(d0)
      return
    }
    val live = nodes
    val labelPred = col("label") === d0.label ||
      (col("xlabels").isNotNull &&
        org.apache.spark.sql.functions.array_contains(
          col("xlabels"), d0.label))
    if (d0.constraint.startsWith("type:")) {
      // property type (Neo4j 5.9 `IS :: T`): existing members of the
      // label must already satisfy the slot witness -- absent values
      // are fine (type constraints do not imply existence)
      val pv = col("props").getItem(d0.property)
      val slot = GraphStore.typeSlot(d0.constraint.drop(5))
      val bad = live.filter(labelPred && pv.isNotNull &&
        pv.getField(slot).isNull)
        .select(col("gid")).take(1)
      bad.headOption.foreach(r => throw new ConstraintViolation(
        s"cannot create constraint ${d0.name}: node ${r.getString(0)} " +
          s"with label ${d0.label} carries ${d0.property} of the wrong " +
          s"type (required ${d0.constraint.drop(5)})"))
      putIndexDef(d0)
      return
    }
    if (d0.constraint == "exists") {
      val pv = col("props").getItem(d0.property)
      val bad = live.filter(labelPred && pv.isNull)
        .select(col("gid")).take(1)
      bad.headOption.foreach(r => throw new ConstraintViolation(
        s"cannot create constraint ${d0.name}: node ${r.getString(0)} " +
          s"with label ${d0.label} has no property ${d0.property}"))
      putIndexDef(d0)
    } else {
      // NODE KEY adds per-component existence to the tuple-uniqueness
      // check (Neo4j's definition: composite UNIQUE + NOT NULL each)
      if (d0.constraint == "nodekey") {
        val missing = d0.properties.map(p =>
          col("props").getItem(p).isNull).reduce(_ || _)
        val bad = live.filter(labelPred && missing)
          .select(col("gid")).take(1)
        bad.headOption.foreach(r => throw new ConstraintViolation(
          s"cannot create constraint ${d0.name}: node " +
            s"${r.getString(0)} with label ${d0.label} is missing a " +
            s"node-key property (${d0.property})"))
      }
      // duplicate validation groups on the EXACT canonical key
      // (propRowsExact.xval), mirroring commit-time enforcement —
      // distinct longs past 2^53 or separator-aliasing composite
      // tuples must not falsely block creation
      val dup = SearchIndexes.propRowsExact(live, d0)
        .groupBy(col("xval"))
        .agg(org.apache.spark.sql.functions
          .count_distinct(col("gid")).as("n"),
          org.apache.spark.sql.functions.min(col("gid")).as("g1"),
          org.apache.spark.sql.functions.max(col("gid")).as("g2"))
        .filter(col("n") > 1).take(1)
      dup.headOption.foreach(r => throw new ConstraintViolation(
        s"cannot create constraint ${d0.name}: nodes ${r.getString(2)} " +
          s"and ${r.getString(3)} share ${d0.label}.${d0.property}"))
      buildSearchIndex(d0)
    }
  }

  /** drop the definition; the table leaves the NEXT commit's manifest
    * (only current defs' tables are carried forward) and vacuum
    * reclaims its files */
  def dropSearchIndex(name: String): Boolean = synchronized {
    val had = indexDefs0.exists(_.name == name)
    if (had) writeIndexDefs(indexDefs0.filterNot(_.name == name))
    forceIndexRebuild0 -= name
    had
  }

  /** is the declared index's table usable for queries right now?
    * False inside a session with uncommitted node writes (the
    * procedures then fall back to scanning the overlay view — correct,
    * just unindexed, mirroring redgesReady).
    */
  def searchIndexReady(d: IndexDef): Boolean = {
    // uncommitted writes to the index's SOURCE table make the on-disk
    // index stale for the session's view — procedures then scan the
    // overlay (redgesReady's contract)
    val staleWork =
      if (d.entity == "RELATIONSHIP") session.exists(_.workEdges.isDefined)
      else session.exists(_.workNodes.isDefined)
    !staleWork && {
      val v = currentVersion
      v > 0L && readManifest(v).contains(d.tableName)
    }
  }

  /** partition-pruned read of an index table: `keep` filters manifest
    * partition keys (`cell=c3/bucket=…`, `sect=t/bucket=5`) so a probe
    * reads ONLY its cells' / its query terms' directories.
    */
  def readSearchIndex(d: IndexDef, keep: String => Boolean): DataFrame = {
    val schema = d.kind match {
      case "vector" => SearchIndexes.vxSchemaOf(d) // raw | sq8 | bq
      case "fulltext" => SearchIndexes.ftSchema
      case _ => SearchIndexes.pxSchema
    }
    readFiles(d.tableName,
      manifestFiles(d.tableName).view.filterKeys(keep)
        .values.flatten.toSeq.sorted, schema)
  }

  /** the bucket a string cluster key hashes into — evaluates the
    * exact Catalyst expression the write path uses (pmod(hash(col),
    * bc)) on the driver, so probes are bit-identical to the layout */
  def bucketOfString(s: String): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % bucketCount0) + bucketCount0) % bucketCount0
  }

  /** manifest keys of a fulltext probe: the stats partition plus the
    * `sect=t` buckets the query terms hash into */
  def ftProbeKeys(terms: Seq[String]): String => Boolean = {
    val bs = terms.map(bucketOfString).toSet
    (k: String) => k.startsWith("sect=s/") ||
      bs.exists(b => k == s"sect=t/bucket=$b")
  }

  /** does the fulltext table carry its term-dictionary section?
    * (tables built before the dictionary existed don't — prefix
    * queries then fall back to the unpruned posting read until the
    * next full rebuild regenerates both sections) */
  def ftDictReady(d: IndexDef): Boolean =
    manifestFiles(d.tableName).keys.exists(_.startsWith("sect=d"))

  /** does the fulltext table carry POSITIONAL postings throughout?
    * (the sect=q marker — written only by full builds of
    * position-aware code, carried forward by deltas; tables built
    * before it keep the stored-text phrase fallback, and slop gets a
    * targeted rebuild error) */
  def ftPositionsReady(d: IndexDef): Boolean =
    manifestFiles(d.tableName).keys.exists(_.startsWith("sect=q"))

  /** does the fulltext table carry PER-FIELD postings (the sect=f
    * marker — fld/off/dlt populated, field-local positions, per-field
    * stats rows)? Field-scoped leaves then score true per-field BM25F
    * and verify membership straight off the index; tables built
    * before the marker keep the concatenated shape and the
    * stored-text field verification until a full rebuild. */
  def ftFieldsReady(d: IndexDef): Boolean =
    manifestFiles(d.tableName).keys.exists(_.startsWith("sect=f"))

  /** the H(term) posting buckets holding at least one term with any
    * of the prefixes — resolved from the VOCABULARY-sized `sect=d`
    * dictionary (terms hash-share buckets with their postings), so a
    * `spar*` query reads the dictionary plus exactly its matching
    * terms' posting buckets, never the whole posting index */
  def ftPrefixBuckets(d: IndexDef, prefixes: Seq[String]): Set[Int] = {
    if (prefixes.isEmpty) return Set.empty
    val cond = prefixes.map(p => col("term").startsWith(p))
      .reduce(_ || _)
    readSearchIndex(d, _.startsWith("sect=d"))
      .filter(cond)
      .select(pmod(hash(col("term")), lit(bucketCount0)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
  }

  /** [[ftPrefixBuckets]] for FUZZY atoms: the buckets of every
    * dictionary term within Levenshtein distance ≤ maxEdits (length
    * prefilter first — |len Δ| > maxEdits can't match) */
  def ftFuzzyBuckets(d: IndexDef, fz: Seq[(String, Int)]): Set[Int] = {
    if (fz.isEmpty) return Set.empty
    import org.apache.spark.sql.functions.{abs, length, levenshtein}
    val cond = fz.map { case (t, k) =>
      abs(length(col("term")) - lit(t.length)) <= k &&
        levenshtein(col("term"), lit(t)) <= k
    }.reduce(_ || _)
    readSearchIndex(d, _.startsWith("sect=d"))
      .filter(cond)
      .select(pmod(hash(col("term")), lit(bucketCount0)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
  }

  /** [[ftPrefixBuckets]] for arbitrary dictionary-expanded leaves
    * (wildcard `te?t` / `*est`, term ranges `[a TO b]`): the posting
    * buckets of every dictionary term satisfying `cond`. A
    * leading-star pattern reads the WHOLE dictionary — vocabulary-
    * sized by construction, never the postings. */
  def ftDictBuckets(d: IndexDef, cond: Column): Set[Int] =
    readSearchIndex(d, _.startsWith("sect=d"))
      .filter(cond)
      .select(pmod(hash(col("term")), lit(bucketCount0)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet

  /** manifest key of a property-index equality probe: the ONE
    * `sect=p` bucket the encoded value hashes into */
  def pxProbeKeys(encodedVal: String): String => Boolean = {
    val b = bucketOfString(encodedVal)
    (k: String) => k == s"sect=p/bucket=$b"
  }

  /** manifest keys of a property-index RANGE probe (sortable-encoded
    * [lo, hi], either end open): the CONTIGUOUS run of `sect=r`
    * buckets the bounds map to under the def's trained boundaries —
    * an inequality or STARTS WITH lookup lists only those
    * directories, never the label partition. Bucket mapping is
    * conservative-inclusive; the caller's pushed val filter and the
    * residual WHERE keep exactness. */
  def pxRangeKeys(d: IndexDef, lo: Option[String],
      hi: Option[String]): String => Boolean = {
    val bLo = lo.map(v => SearchIndexes.rangeBucketOf(d.boundaries, v))
      .getOrElse(0)
    val bHi = hi.map(v => SearchIndexes.rangeBucketOf(d.boundaries, v))
      .getOrElse(d.boundaries.size)
    (k: String) =>
      k.startsWith("sect=r/bucket=") && {
        val b = k.drop("sect=r/bucket=".length)
        b.nonEmpty && b.forall(_.isDigit) && {
          val i = b.toInt; i >= bLo && i <= bHi
        }
      }
  }

  /** does the property table carry its ORDER-PRESERVING range
    * section, with boundaries the VISIBLE layout was bucketed with?
    * Tables built before the section existed don't — range/prefix
    * lookups then keep the label scan (correct, unindexed) until a
    * full rebuild (DROP+CREATE, compact) regenerates both sections.
    * `boundaryN > 0` excludes the retrain window where the def's
    * boundaries were cleared but the old multi-bucket layout is still
    * on disk (an empty boundary list would prune every probe to
    * bucket 0); `boundariesV <= currentVersion` excludes the
    * mirror-image window where RETRAINED boundaries are in the
    * sidecar but the layout they bucket has not flipped yet. */
  def pxRangeReady(d: IndexDef): Boolean = {
    val keys = manifestFiles(d.tableName).keySet
    keys.isEmpty ||
      (keys.exists(_.startsWith("sect=r")) && d.boundaryN > 0 &&
        d.boundariesV <= currentVersion)
  }

  /** is a Z-ORDER point index routable? boundaries trained, the
    * visible manifest at least the boundaries' layout version, and
    * the sect=z section present (empty table = trivially ready);
    * uncommitted session node writes fall back to the scan. */
  def zPointReady(d: IndexDef): Boolean = {
    if (session.exists(_.workNodes.isDefined)) return false
    val keys = manifestFiles(d.tableName).keySet
    keys.isEmpty ||
      (keys.exists(_.startsWith("sect=z")) && d.boundaryN > 0 &&
        d.boundariesV <= currentVersion)
  }

  /** does the property table carry its VALUE-DICTIONARY section?
    * Tables built before it existed don't — CONTAINS / ENDS WITH
    * lookups then keep the label scan (correct, unindexed) until a
    * full rebuild regenerates every section. */
  def pxValueDictReady(d: IndexDef): Boolean = {
    val keys = manifestFiles(d.tableName).keySet
    keys.isEmpty || keys.exists(_.startsWith("sect=w"))
  }

  /** The stored string values of `d` matching a CONTAINS / ENDS WITH
    * predicate, resolved from the vocabulary-sized `sect=w` value
    * dictionary (the ftPrefixBuckets recipe pointed at property
    * values). None when more than `cap` values match — the expansion
    * then stops paying for itself and the caller keeps the label
    * scan. The match tests the STRIPPED text (after the "s:" tag), so
    * a needle can never straddle the tag. */
  def pxMatchingValues(d: IndexDef, op: String, text: String,
      cap: Int): Option[Seq[String]] = {
    val stripped = col("val").substr(lit(3),
      org.apache.spark.sql.functions.length(col("val")))
    val cond = op match {
      case "endswith" => stripped.endsWith(text)
      case _ => stripped.contains(text)
    }
    val rows = readSearchIndex(d, _.startsWith("sect=w"))
      .filter(col("sect") === "w" && col("val").startsWith("s:") && cond)
      .select(col("val")).take(cap + 1)
    if (rows.length > cap) None
    else Some(rows.map(_.getString(0)).toSeq)
  }

  /** manifest keys of a STARTS WITH probe: the exact bucket span of
    * the prefix under the trained boundaries. No successor-string
    * construction (incrementing a prefix's last char can mint a lone
    * surrogate): by bucket(x) = |{bd : bd ≤ x}|, the highest bucket
    * any prefix-p value can reach is |{bd : bd ≤ "s:p" ∨ bd starts
    * with "s:p"}| — computed directly from the boundary list. */
  def pxPrefixKeys(d: IndexDef, prefix: String): String => Boolean = {
    val lo = "s:" + prefix
    val ulo = org.apache.spark.unsafe.types.UTF8String.fromString(lo)
    val bLo = SearchIndexes.rangeBucketOf(d.boundaries, lo)
    val bHi = d.boundaries.count { bd =>
      org.apache.spark.unsafe.types.UTF8String.fromString(bd)
        .compareTo(ulo) <= 0 || bd.startsWith(lo)
    }
    (k: String) =>
      k.startsWith("sect=r/bucket=") && {
        val b = k.drop("sect=r/bucket=".length)
        b.nonEmpty && b.forall(_.isDigit) && {
          val i = b.toInt; i >= bLo && i <= bHi
        }
      }
  }

  /** is a graph-tier vector index's adjacency table queryable? */
  def graphIndexReady(d: IndexDef): Boolean =
    !session.exists(_.workNodes.isDefined) && {
      val v = currentVersion
      v > 0L && readManifest(v).contains(d.graphTableName)
    }

  /** One beam round's adjacency read: ONLY the frontier gids' hash
    * buckets' files are listed and read (the vectors ride in the
    * rows, so a round is one pruned scan of ≤ beam×degree rows —
    * never a second lookup). Returns gid → (v, norm, nbrs).
    */
  def readGraphRows(d: IndexDef, gids: Set[String])
      : Map[String, (Seq[Double], Double, Seq[String], Seq[Double])] = {
    if (gids.isEmpty) return Map.empty
    val bs = gids.map(bucketOfString)
    val files = manifestFiles(d.graphTableName).view
      .filterKeys(k => bs.exists(b => k.endsWith(s"/bucket=$b")))
      .values.flatten.toSeq.sorted
    val quantized = d.quant == "sq8" && d.graphDeg > 0
    readFiles(d.graphTableName, files, SearchIndexes.vgSchemaOf(d))
      .filter(col("gid").isin(gids.toSeq: _*))
      .collect().map { r =>
        // a quantized tier stores codes — decode for the beam's
        // APPROXIMATE scoring (the final frontier exact-rescores
        // from the node rows)
        val v =
          if (quantized) SearchIndexes.sq8DecodeLocal(
            r.getSeq[Byte](2).toSeq, d.sqMn, d.sqMx)
          else r.getSeq[Double](2).toSeq
        r.getString(1) -> ((v, r.getDouble(3),
          Option(r.getSeq[String](4)).map(_.toSeq).getOrElse(Nil),
          Option(r.getSeq[Double](5)).map(_.toSeq).getOrElse(Nil)))
      }.toMap
  }

  /** the node table pruned AT THE MANIFEST to the given gid-hash
    * buckets — a point probe lists (and reads) only those buckets'
    * files across every label directory, the same file-list-level
    * pruning the search index probes use. Callers own correctness:
    * only rows whose gid hashes into `buckets` can be returned.
    */
  def nodesByGidBuckets(buckets: Set[Int]): DataFrame =
    readFiles("nodes",
      manifestFiles("nodes").view
        .filterKeys(k => buckets.exists(b => k.endsWith(s"/bucket=$b")))
        .values.flatten.toSeq.sorted, nodeSchema)

  /** edge-table point-lookup companion: one relType's directory,
    * optionally narrowed to a set of src-hash buckets — the read
    * shape of the relationship property-index route (matched src
    * gids name their buckets exactly like the node px route's).
    */
  def edgesByTypeBuckets(relType: String,
      buckets: Option[Set[Int]]): DataFrame = {
    val pd = s"relType=${partDirName(Some(relType))}"
    readFiles("edges",
      manifestFiles("edges").view
        .filterKeys(k => (k == pd || k.startsWith(pd + "/")) &&
          buckets.forall(bs => bs.exists(b => k.endsWith(s"/bucket=$b"))))
        .values.flatten.toSeq.sorted, edgeSchema)
  }

  /** (version, syncId) named by the pointer file; version 0 = empty store. */
  def current: (Long, String) = pointerLines match {
    case None => (0L, "")
    case Some(lines) =>
      (lines(0).trim.toLong, lines.lift(1).map(_.trim).getOrElse(""))
  }

  def currentVersion: Long = current._1

  def nodes: DataFrame =
    session.flatMap(_.workNodes).getOrElse(table("nodes", nodeSchema))
  def edges: DataFrame =
    session.flatMap(_.workEdges).getOrElse(table("edges", edgeSchema))

  /** The reverse-edge companion index: the edge table re-clustered by
    * DST hash — `relType=…/bucket=H(dst)` directories over slim
    * (dst, src, relType) rows. Incoming-edge probes (tombstone /
    * truncate cascades) prune to the probed dsts' buckets exactly like
    * outgoing probes prune the main table, instead of scanning every
    * src bucket. Maintained automatically by [[commit]] from the main
    * table's bounded rewrite delta — the secondary-index half of the
    * reference's both-direction adjacency (Neo4j stores both
    * directions natively).
    */
  def redges: DataFrame = table("redges", redgeSchema)

  /** a pre-redges manifest (or empty store) has no index to probe —
    * callers fall back to the full dst-side scan until the next commit
    * rebuilds it
    */
  def redgesReady: Boolean = {
    // an open session with uncommitted edge writes makes the on-disk
    // index stale — incoming probes must scan the working frame
    if (session.exists(_.workEdges.isDefined)) return false
    val v = currentVersion
    v == 0L || {
      val m = readManifest(v)
      m.get("redges").exists(_.nonEmpty) ||
        m.get("edges").forall(_.isEmpty)
    }
  }

  // ---- multi-statement transaction (session) overlay ----

  /** Uncommitted state of a multi-statement transaction: the working
    * node/edge frames produced by the statements executed so far, the
    * union of their dirty partition keys, and every frame they cached
    * (released at commit/abort). While a session is open, [[nodes]] /
    * [[edges]] (and the bucket-probing views) serve these frames, so
    * later statements read earlier statements' writes — and the store
    * writes its manifest and flips `_current` ONCE, at [[endSession]].
    * The analog of the reference running each sync batch inside a
    * single Bolt transaction (/root/reference/neo4j.go:238-284).
    */
  private[graft] final class SessionTxn {
    private[graft] var workNodes: Option[DataFrame] = None
    private[graft] var workEdges: Option[DataFrame] = None
    private[graft] var dirtyNodes: Set[DirtyKey] = Set.empty
    private[graft] var dirtyEdges: Set[DirtyKey] = Set.empty
    private[graft] var secondaryLabels: Set[String] = Set.empty
    private[graft] var changed = false
    private[graft] val cached =
      scala.collection.mutable.Buffer.empty[DataFrame]
  }

  @volatile private[graft] var session: Option[SessionTxn] = None

  def beginSession(): Unit = synchronized {
    require(session.isEmpty, s"a session is already open on store $root")
    session = Some(new SessionTxn)
  }

  /** commit the open session's batched statements: one manifest write,
    * one atomic pointer flip. No-op version-wise if nothing changed.
    */
  def endSession(syncId: String = ""): Long = synchronized {
    val s = session.getOrElse(
      throw new IllegalStateException(s"no open session on store $root"))
    session = None // commit must read the committed tables, not the overlay
    try {
      if (!s.changed) currentVersion
      else commit(s.workNodes.getOrElse(table("nodes", nodeSchema)),
        s.workEdges.getOrElse(table("edges", edgeSchema)),
        syncId, Some(s.dirtyNodes), Some(s.dirtyEdges),
        s.secondaryLabels)
    } finally s.cached.foreach(_.unpersist())
  }

  def abortSession(): Unit = synchronized {
    session.foreach(_.cached.foreach(_.unpersist()))
    session = None
  }

  /** the gid-hash bucket of a cluster-key column — MUST match the
    * bucket partition the writer computes, so probes can prune to the
    * touched buckets' directories instead of scanning the table.
    */
  def bucketOf(c: Column): Column = pmod(hash(c), lit(bucketCount))

  /** node/edge tables with the `bucket` partition column retained —
    * for dirty-bucket probes that prune at the directory level.
    */
  private[graft] def nodesWithBucket: DataFrame =
    session.flatMap(_.workNodes)
      .map(_.withColumn("bucket", bucketOf(col("gid"))))
      .getOrElse(table("nodes", nodeSchema, keepBucket = true))
  private[graft] def edgesWithBucket: DataFrame =
    session.flatMap(_.workEdges)
      .map(_.withColumn("bucket", bucketOf(col("src"))))
      .getOrElse(table("edges", edgeSchema, keepBucket = true))
  private[graft] def redgesWithBucket: DataFrame =
    table("redges", redgeSchema, keepBucket = true)

  /** The CHANGE FEED between two committed versions: every node row
    * COMMITTED in versions (since, until], each version's delta read
    * from exactly the files that version's commit WROTE (the manifest
    * diff vs its predecessor — carried-forward files are untouched by
    * definition of the COW commit) filtered to `recorded = v`, which
    * isolates the delta from the carried rows sharing a rewritten
    * bucket. Replay-stable: per-version files are immutable, so a
    * recovered micro-batch re-reads byte-identical rows until
    * vacuum() reclaims that version — the feed's retention horizon.
    * Powers the `graft-changes` Structured Streaming source
    * (streaming/ChangeFeed.scala); cost ∝ the commits' own rewrite
    * sets, never a table scan.
    */
  def changesBetween(since: Long, until: Long): DataFrame = {
    val frames = ((since + 1) to until).map { v =>
      val cur = readManifest(v).getOrElse("nodes", Map.empty)
      val prevFiles: Set[String] =
        if (v <= 1) Set.empty
        else readManifest(v - 1).getOrElse("nodes", Map.empty)
          .values.flatten.toSet
      val newFiles = cur.values.flatten.filterNot(prevFiles).toSeq.sorted
      readFiles("nodes", newFiles, nodeSchema)
        .filter(col("recorded") === v)
    }
    if (frames.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), nodeSchema)
    else frames.reduce(_ unionByName _)
  }

  /** Current manifest's partition→files map for `table` ("nodes" or
    * "edges"); file paths are relative to the store root. Exposed for
    * compaction tooling and the incremental-commit spec.
    */
  def manifestFiles(table: String): Map[String, Seq[String]] = {
    val v = currentVersion
    if (v == 0L) Map.empty
    else readManifest(v).getOrElse(table, Map.empty)
  }

  /** Cheap "is this store tiny" probe for the interactive-write
    * tiny-action fast path: a bounded number of manifest files whose
    * total size stats under 64 MB. The file-count guard keeps the
    * probe O(1) metadata work — a store at scale has many manifest
    * entries and short-circuits to false before any stat.
    */
  private[graft] def isTiny: Boolean = {
    val fs = (manifestFiles("nodes").values.flatten ++
      manifestFiles("edges").values.flatten).toSeq
    fs.size <= 64 && {
      try fs.map(f => Files.size(rootPath.resolve(f))).sum < (64L << 20)
      catch { case _: java.io.IOException => false }
    }
  }

  /** per-(version, table, shape) DataFrame memo: a statement touches
    * the same tables many times (probes, joins, counts), and each
    * `table()` call would otherwise rebuild the file listing and
    * schema resolution. Files are immutable per version, so a cached
    * frame stays valid until the pointer names a new version.
    */
  private val tableMemo =
    scala.collection.concurrent.TrieMap
      .empty[(Long, String, Boolean, Boolean), DataFrame]

  /** test hook: disable the tiny-store LocalRelation materialization
    * so specs can assert the at-scale parquet plan shape (directory
    * pruning, pushed filters) on small fixtures */
  @volatile private[graft] var localizeTinyTables: Boolean = true

  private def table(name: String, schema: StructType,
      keepBucket: Boolean = false): DataFrame = {
    val v = currentVersion
    tableMemo.getOrElseUpdate((v, name, keepBucket, localizeTinyTables), {
      // drop entries for superseded versions (readers holding old
      // frames keep them; the memo only serves the current pointer)
      tableMemo.keys.filter(_._1 != v).foreach(tableMemo.remove)
      buildTable(name, schema, keepBucket)
    })
  }

  private def buildTable(name: String, schema: StructType,
      keepBucket: Boolean): DataFrame = {
    val files = manifestFiles(name).values.flatten.toSeq.sorted
    val outCols =
      if (keepBucket) schema.fieldNames.toSeq :+ "bucket"
      else schema.fieldNames.toSeq
    if (files.isEmpty) {
      val s = if (keepBucket)
        StructType(schema.fields :+ StructField("bucket", IntegerType))
      else schema
      // LocalRelation-backed empty frame (NOT emptyRDD, which plans
      // as an opaque LogicalRDD): PropagateEmptyRelation then folds
      // joins/unions against a fresh store at optimization time
      // instead of scheduling jobs against empty scans
      spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
    } else {
      val scan = spark.read
        .option("basePath", dataDir(name).toString)
        .schema(schema) // partition cols in the schema (label/relType)
        // `seg` and `bucket` are appended by partition discovery
        .parquet(files.map(f => rootPath.resolve(f).toString): _*)
        .select(outCols.map(col): _*) // canonical order, drop seg
      // TINY-STORE fast path: materialize the table as a driver-local
      // relation, ONCE per version (tableMemo caches this frame).
      // Every downstream broadcast join then builds its hash relation
      // driver-side instead of submitting its own broadcast job — an
      // interactive write statement otherwise schedules DOZENS of
      // those tiny jobs (the dominant cost of the reference's
      // statement templates on a small store) — and Catalyst's local
      // rules fold whole probe plans. Strictly bounded by isTiny;
      // a store at scale always keeps the pruned parquet scan.
      if (localizeTinyTables && isTiny)
        spark.createDataFrame(
          java.util.Arrays.asList(scan.collect(): _*), scan.schema)
      else scan
    }
  }

  /** Commit version n+1 and atomically flip the pointer.
    *
    * @param dirtyNodes node (partition, bucket) keys the batch touched:
    *   `(Some(label), Some(b))` = one gid-hash bucket of one label;
    *   `(Some(label), None)` = the whole label (e.g. full-sync
    *   truncate); label `None` = the stub partition. Outer `None` =
    *   rewrite everything (full rebuild, e.g. compaction). Rows of
    *   `newNodes` OUTSIDE the dirty set must be byte-identical to the
    *   previous snapshot's — they are not written, their files are
    *   re-linked.
    * @param dirtyEdges same for edge partitions (bucketed by src hash).
    * @return the committed version, or the current one if `syncId`
    *   replays the last commit.
    */
  def commit(
      newNodes: DataFrame,
      newEdges: DataFrame,
      syncId: String = "",
      dirtyNodes: Option[Set[DirtyKey]] = None,
      dirtyEdges: Option[Set[DirtyKey]] = None,
      addSecondaryLabels: Set[String] = Set.empty): Long =
    commitWith(newNodes, newEdges, syncId, dirtyNodes, dirtyEdges,
      bucketCount0, addSecondaryLabels)

  /** commit with an explicit target bucket count — the visible count
    * (`bucketCount0`) changes ONLY after the pointer flip, so probes
    * planned while a rebucket's rewrite is still running keep hashing
    * with the count the on-disk layout actually has.
    */
  private def commitWith(
      newNodes: DataFrame,
      newEdges: DataFrame,
      syncId: String,
      dirtyNodes: Option[Set[DirtyKey]],
      dirtyEdges: Option[Set[DirtyKey]],
      bc: Int,
      addSecondaryLabels: Set[String] = Set.empty): Long =
    synchronized {
      require(session.isEmpty,
        s"store $root has an open session; endSession() commits it")
      val (v, lastSync) = current
      if (syncId.nonEmpty && syncId == lastSync) return v
      val next = v + 1
      val prev: Manifest =
        if (v == 0L) Map("nodes" -> Map.empty, "edges" -> Map.empty)
        else readManifest(v)
      // A pre-bucketing manifest (keys without /bucket=) cannot take a
      // bucket-scoped rewrite — its per-partition files are not
      // bucket-addressable. compact() (dirty=None) migrates it.
      val unbucketed = prev.values.exists(_.keys.exists(!_.contains("/bucket=")))
      if (unbucketed && (dirtyNodes.isDefined || dirtyEdges.isDefined))
        throw new IllegalStateException(
          s"store at $root has a pre-bucketing manifest; run compact() first")
      // declared constraints veto the batch BEFORE any write job runs
      // (violating commits write nothing; the pointer never flips)
      enforceConstraints(
        newNodes, newEdges, dirtyNodes, dirtyEdges, prev, bc)
      // the table writes touch disjoint directories and share no
      // lineage — run them as concurrent Spark jobs (the scheduler
      // interleaves stages)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val nodesManF = Future(writePartitions(
        newNodes, "nodes", "label", "gid", next, dirtyNodes, prev("nodes"), bc))
      val edgesManF = Future(writePartitions(
        newEdges, "edges", "relType", "src", next, dirtyEdges, prev("edges"), bc))
      // the reverse-index delta's own probe job (old-vs-new key diff)
      // runs INSIDE the future so it overlaps the nodes/edges writes
      // instead of serializing ahead of them (it reads only immutable
      // prev-manifest files and the batch frame)
      val redgesManF = Future {
        val (redgesView, redgesDirty) =
          redgesDelta(newEdges, dirtyEdges, prev, bc)
        writePartitions(
          redgesView, "redges", "relType", "dst", next, redgesDirty,
          prev.getOrElse("redges", Map.empty), bc)
      }
      // user-declared search indexes: train any still-untrained vector
      // quantizer from this commit's data (build-once artifact, synced
      // to the sidecar BEFORE the pointer flip so a failed commit
      // retries with the same centroids), then maintain each index
      // table with the same bounded delta shape as the reverse index
      val sdefs = indexDefs0.map { d0 =>
        val d =
          if (d0.kind == "vector" && d0.centroids.isEmpty) {
            val vecs = SearchIndexes.vectors(newNodes, d0)
            // configured cell count wins; otherwise scale with the
            // snapshot (~AutoCellRows vectors per cell) — the trained K
            // persists in the sidecar, so probes and replays stay
            // deterministic regardless of later growth (maintain()
            // retrains when the data outgrows the trained cells)
            val k =
              if (d0.cells > 0) d0.cells
              else SearchIndexes.autoCells(vecs.count())
            val cents = SearchIndexes.trainCentroids(vecs, d0.similarity, k)
            if (cents.nonEmpty) {
              // the SQ8 codebook trains from the same snapshot as the
              // quantizer and persists beside it — build-once, so the
              // delta's re-encoded rows stay byte-identical
              val (mn, mx) =
                if (d0.quant == "sq8") SearchIndexes.trainSq8Codebook(vecs)
                else (d0.sqMn, d0.sqMx)
              val nd = d0.copy(centroids = cents, dims = cents.head.size,
                sqMn = mn, sqMx = mx)
              writeIndexDefs(indexDefs0.filterNot(_.name == d0.name) :+ nd)
              nd
            } else d0
          } else if (d0.kind == "property" && d0.entity == "NODE" &&
              d0.boundaryN == 0L) {
            // range-section boundaries train once from the snapshot
            // (the px analog of the IVF quantizer): equi-depth over
            // the distinct sortable keys, persisted to the sidecar
            // BEFORE the delta futures assign buckets with them.
            // Z-order defs train over their Morton keys — the same
            // equi-depth machinery on a different sortable encoding.
            val rows =
              if (d0.zorder) SearchIndexes.zPointRows(newNodes, d0)
              else SearchIndexes.propRangeRows(newNodes, d0)
            val n = rows.count()
            if (n > 0) {
              val bounds = SearchIndexes.trainBoundaries(rows, bc)
              // stamped with the version whose layout these boundaries
              // bucket — probes route only once that manifest is
              // visible (readers in the pre-flip window keep the scan)
              val nd = d0.copy(boundaries = bounds, boundaryN = n,
                boundariesV = next)
              writeIndexDefs(indexDefs0.filterNot(_.name == d0.name) :+ nd)
              nd
            } else d0
          } else d0
        d
      }
      // per-commit channel from the graph-tier delta futures back to
      // the entry-point maintenance below: (tookFullRebuild,
      // removedGids) — entries must refresh on BOTH (a full rebuild
      // re-cells everything; a removed entry gid would silently
      // shrink the beam frontier, down to zero on a populated index)
      val graphDeltaInfo = scala.collection.concurrent.TrieMap
        .empty[String, (Boolean, Set[String])]
      // "exists" constraints carry no table — nothing to maintain
      val idxManFs = sdefs.filterNot(_.kind == "constraint").map { d =>
        d.tableName -> Future {
          val (view, dirty) = searchIndexDelta(d, newNodes, newEdges,
            dirtyNodes, dirtyEdges, prev, bc)
          val (pc, cc) = d.kind match {
            case "vector" => ("cell", "gid")
            case "fulltext" => ("sect", "term")
            case _ => ("sect", "val")
          }
          // a property table buckets its equality section AND its
          // value dictionary by value hash (they share buckets, so a
          // dictionary expansion reads exactly its matches' equality
          // buckets) and its range section by trained boundary
          // position (order-preserving — range probes then prune to a
          // contiguous directory run)
          val bexpr =
            if (d.kind == "property")
              Some(when(col("sect").isin("p", "w"),
                pmod(hash(col("val")), lit(bc)))
                .otherwise(SearchIndexes.rangeBucketExpr(
                  col("val"), d.boundaries)))
            else None
          writePartitions(view, d.tableName, pc, cc, next, dirty,
            prev.getOrElse(d.tableName, Map.empty), bc, bexpr)
        }
      } ++ sdefs.collect {
        // the proximity-graph companion table of graph-tier vector
        // indexes — its own partition layout (bucket=H(gid)), its own
        // bounded delta
        case d if d.kind == "vector" && d.graphDeg > 0 &&
            d.centroids.nonEmpty =>
          d.graphTableName -> Future {
            val (view, dirty, fullRebuild, removedGids) =
              graphIndexDelta(d, newNodes, dirtyNodes, prev, bc)
            graphDeltaInfo.put(d.name, (fullRebuild, removedGids))
            writePartitions(view, d.graphTableName, "sect", "gid", next,
              dirty, prev.getOrElse(d.graphTableName, Map.empty), bc)
          }
      }
      // await ALL before propagating a failure: an orphaned sibling
      // job still writing into seg=<next> would race a retried
      // commit's cleanup of that directory
      val nodesManT = scala.util.Try(Await.result(nodesManF, Duration.Inf))
      val edgesManT = scala.util.Try(Await.result(edgesManF, Duration.Inf))
      val redgesManT = scala.util.Try(Await.result(redgesManF, Duration.Inf))
      val idxManTs = idxManFs.map { case (t, f) =>
        t -> scala.util.Try(Await.result(f, Duration.Inf)) }
      val nodesMan = nodesManT.get
      val edgesMan = edgesManT.get
      val redgesMan = redgesManT.get
      // dropped defs' tables simply leave the manifest here; vacuum
      // reclaims their files once no retained manifest names them
      val idxMans = idxManTs.map { case (t, r) => t -> r.get }
      // graph-tier entry points ride the sidecar like the quantizer.
      // They refresh from the NEW vx manifest (per-cell lowest gid —
      // zero extra assignment work) whenever the graph table fully
      // rebuilt, an entry gid was deleted (a beam seeded from a
      // deleted gid reads nothing — enough deletions and queryNodes
      // returns zero rows on a populated index), or entries are
      // missing for a populated table (fresh build).
      sdefs.foreach { d =>
        if (d.kind == "vector" && d.graphDeg > 0 && d.centroids.nonEmpty) {
          val (fullRebuild, removedGids) =
            graphDeltaInfo.getOrElse(d.name, (false, Set.empty[String]))
          val vxMan = idxMans.collectFirst {
            case (t, m) if t == d.tableName => m }.getOrElse(Map.empty)
          val hasRows = vxMan.values.exists(_.nonEmpty)
          val stale = fullRebuild ||
            removedGids.exists(d.graphEntries.contains) ||
            (d.graphEntries.isEmpty && hasRows)
          if (stale) {
            val entries =
              if (!hasRows) Nil
              else readFiles(d.tableName,
                vxMan.values.flatten.toSeq.sorted,
                SearchIndexes.vxSchemaOf(d))
                .groupBy(col("cell"))
                .agg(org.apache.spark.sql.functions.min(col("gid")).as("g"))
                .collect().map(_.getString(1)).distinct.sorted.toSeq
            writeIndexDefs(indexDefs0.filterNot(_.name == d.name) :+
              d.copy(graphEntries = entries))
          }
        }
      }
      // ---- count store (Neo4j's O(1) count answers): per-partition
      // row counts for nodes/edges ride the commit. Untouched
      // partitions (identical file list) carry their previous count;
      // rewritten ones re-count from parquet FOOTER metadata only
      // (getRecordCount — no data pages read), so the per-commit cost
      // is O(changed files), the same bound as the rewrite itself. A
      // pre-counts manifest (or a lost sidecar) recounts everything
      // once — still metadata-only — and is thereafter incremental.
      val prevCounts: Map[String, Map[String, Long]] =
        if (v == 0L) Map.empty
        else readCounts(v).getOrElse(Map.empty)
      def tableCounts(tbl: String,
          man: Map[String, Seq[String]]): Map[String, Long] = {
        val prevMan = prev.getOrElse(tbl, Map.empty)
        val pc = prevCounts.getOrElse(tbl, Map.empty)
        val (carried, recount) = man.partition { case (k, fs) =>
          pc.contains(k) && prevMan.get(k).contains(fs) }
        val counted = recount.toSeq.map { case (k, fs) =>
          k -> Future(fs.map(f =>
            parquetRowCount(rootPath.resolve(f))).sum) }
        carried.map { case (k, _) => k -> pc(k) } ++
          counted.map { case (k, f) =>
            k -> Await.result(f, Duration.Inf) }
      }
      val nodeCounts = tableCounts("nodes", nodesMan)
      val edgeCounts = tableCounts("edges", edgesMan)
      val (ltOut, ltIn) = ltCounts(
        newNodes, newEdges, dirtyNodes,
        dirtyEdges, prev, prevCounts, nodesMan, edgesMan, bc,
        nodeCounts.values.sum + edgeCounts.values.sum)
      writeCounts(next, Map(
        "nodes" -> nodeCounts, "edges" -> edgeCounts,
        "ltOut" -> ltOut, "ltIn" -> ltIn))
      writeManifest(next, Map(
        "nodes" -> nodesMan, "edges" -> edgesMan,
        "redges" -> redgesMan) ++ idxMans)
      val tmp = rootPath.resolve(s"_current.tmp.$next")
      val slabels = secondaryLabels0 ++ addSecondaryLabels
      Files.write(tmp,
        s"$next\n$syncId\n$bc\n${encodeLabelSet(slabels)}"
          .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      bucketCount0 = bc // visible only once the pointer names it
      secondaryLabels0 = slabels
      // the forced rebuilds just landed in the flipped manifest; a
      // commit that failed earlier keeps its names and retries as a
      // rebuild
      forceIndexRebuild0 --= sdefs.map(_.name)
      next
    }

  /** Validate every declared constraint against the batch BEFORE any
    * write job runs — fused into TWO Spark jobs regardless of how
    * many constraints are declared (the tagged-union ProbeBatch
    * recipe), so interactive write latency does not grow with the
    * constraint count:
    *
    *  1. ONE pass over the batch's changed frames: NOT NULL examples
    *     (node props, NODE KEY components, relationship `source`),
    *     batch-internal duplicate examples (grouped on the EXACT
    *     canonical key — [[SearchIndexes.encodeScalarExact]] — so
    *     distinct longs past 2^53 or separator-bearing composite
    *     tuples can never alias into a spurious veto), and each
    *     unique def's probe buckets.
    *  2. ONE conflict join of every unique def's changed rows against
    *     the committed px rows of exactly the probed H(val) buckets,
    *     excluding rows the batch itself rewrites. Candidates matched
    *     on the LOSSY stored key are then verified against the exact
    *     key of the committed owner's node row (a per-candidate
    *     bucket-pruned point read — zero on conflict-free commits)
    *     before anything throws.
    *
    * Work stays bounded by the batch's dirty partitions plus the
    * probed index buckets, never a table scan.
    */
  private def enforceConstraints(
      newNodes: DataFrame,
      newEdges: DataFrame,
      dirtyNodes: Option[Set[DirtyKey]],
      dirtyEdges: Option[Set[DirtyKey]],
      prev: Manifest,
      bc: Int): Unit = {
    val cdefs = indexDefs0.filter(_.constraint.nonEmpty)
    if (cdefs.isEmpty) return
    import org.apache.spark.sql.functions.{array_contains, concat_ws,
      count_distinct, max => fmax, min => fmin}
    val (relDefs, nodeDefs) = cdefs.partition(_.entity == "RELATIONSHIP")
    val doRel = relDefs.nonEmpty && !dirtyEdges.exists(_.isEmpty)
    val doNode = nodeDefs.nonEmpty && !dirtyNodes.exists(_.isEmpty)
    if (!doRel && !doNode) return
    def tag(t: String) = lit(t).as("tag")
    val probeFrames = Seq.newBuilder[DataFrame]
    if (doRel) {
      val changedEdges = dirtyEdges match {
        case None => newEdges
        case Some(keys) => dirtyFilter(
          newEdges.withColumn("bucket", pmod(hash(col("src")), lit(bc))),
          "relType", keys).drop("bucket")
      }
      relDefs.foreach { d =>
        probeFrames += changedEdges
          .filter(col("relType") === d.label && col(d.property).isNull)
          .select(tag("relnull:" + d.name),
            concat_ws("->", col("src"), col("dst")).as("a"),
            lit(null).cast("string").as("b"))
          .limit(1)
      }
    }
    val changedNew: DataFrame =
      if (!doNode) newNodes // unused
      else dirtyNodes match {
        case None => newNodes
        case Some(keys) => dirtyFilter(
          newNodes.withColumn("bucket", pmod(hash(col("gid")), lit(bc))),
          "label", keys).drop("bucket")
      }
    // per-unique-def changed rows (lossy + exact keys) — reused by
    // phase 2's conflict join
    val newPs = scala.collection.mutable.LinkedHashMap.empty[String,
      DataFrame]
    if (doNode) nodeDefs.foreach { d =>
      val labelPred = col("label") === d.label ||
        (col("xlabels").isNotNull &&
          array_contains(col("xlabels"), d.label))
      if (d.constraint == "exists") {
        val pv = col("props").getItem(d.property)
        probeFrames += changedNew.filter(labelPred && pv.isNull)
          .select(tag("null:" + d.name), col("gid").as("a"),
            lit(null).cast("string").as("b"))
          .limit(1)
      } else if (d.constraint.startsWith("type:")) {
        // one more violation frame in the SAME fused job 1: the slot
        // witness needs only the batch's changed rows, no phase 2
        val pv = col("props").getItem(d.property)
        val slot = GraphStore.typeSlot(d.constraint.drop(5))
        val actual = when(pv.getField("s").isNotNull, "STRING")
          .when(pv.getField("l").isNotNull, "INTEGER")
          .when(pv.getField("d").isNotNull, "FLOAT")
          .when(pv.getField("b").isNotNull, "BOOLEAN")
          .otherwise("LIST")
        probeFrames += changedNew.filter(labelPred && pv.isNotNull &&
          pv.getField(slot).isNull)
          .select(tag("wtype:" + d.name), col("gid").as("a"),
            actual.as("b"))
          .limit(1)
      } else {
        if (d.constraint == "nodekey") {
          val missing = d.properties.map(p =>
            col("props").getItem(p).isNull).reduce(_ || _)
          probeFrames += changedNew.filter(labelPred && missing)
            .select(tag("null:" + d.name), col("gid").as("a"),
              lit(null).cast("string").as("b"))
            .limit(1)
        }
        val newP = SearchIndexes.propRowsExact(changedNew, d)
        newPs(d.name) = newP
        probeFrames += newP.groupBy(col("xval"))
          .agg(count_distinct(col("gid")).as("n"),
            fmin(col("gid")).as("g1"), fmax(col("gid")).as("g2"))
          .filter(col("n") > 1)
          .select(tag("dup:" + d.name), col("g1").as("a"),
            col("g2").as("b"))
          .limit(1)
        probeFrames += newP
          .select(tag("bucket:" + d.name),
            pmod(hash(col("val")), lit(bc)).cast("string").as("a"),
            lit(null).cast("string").as("b"))
          .distinct()
      }
    }
    val frames = probeFrames.result()
    if (frames.isEmpty) return
    // ---- phase 1: one job over the batch frames ----
    val probe = frames.reduce(_ unionByName _).collect()
    def defOf(name: String): IndexDef = cdefs.find(_.name == name).get
    probe.foreach { r =>
      val t = r.getString(0)
      if (t.startsWith("relnull:")) {
        val d = defOf(t.drop(8))
        throw new ConstraintViolation(
          s"relationship ${r.getString(1)} of type ${d.label} must " +
            s"have ${d.property} (constraint ${d.name})")
      } else if (t.startsWith("null:")) {
        val d = defOf(t.drop(5))
        val what = if (d.constraint == "nodekey")
          s"node-key properties (${d.property})"
        else s"property ${d.property}"
        throw new ConstraintViolation(
          s"node ${r.getString(1)} with label ${d.label} must have " +
            s"$what (constraint ${d.name})")
      } else if (t.startsWith("wtype:")) {
        val d = defOf(t.drop(6))
        throw new ConstraintViolation(
          s"node ${r.getString(1)} carries ${d.label}.${d.property} " +
            s"of type ${r.getString(2)} — required " +
            s"${d.constraint.drop(5)} (type constraint ${d.name})")
      } else if (t.startsWith("dup:")) {
        val d = defOf(t.drop(4))
        throw new ConstraintViolation(
          s"nodes ${r.getString(1)} and ${r.getString(2)} both carry " +
            s"the same ${d.label}.${d.property} " +
            s"(uniqueness constraint ${d.name})")
      }
    }
    val bucketsByDef: Map[String, Set[Int]] = probe.toSeq
      .filter(_.getString(0).startsWith("bucket:"))
      .groupBy(_.getString(0).drop(7))
      .map { case (n, rs) => n -> rs.map(_.getString(1).toInt).toSet }
    // ---- phase 2: one conflict join vs committed rows the batch
    // does NOT rewrite. dirty=None (full rewrite) re-derives every
    // row, so phase 1's internal check is already complete. ----
    if (dirtyNodes.isEmpty || bucketsByDef.isEmpty) return
    val keys = dirtyNodes.get
    lazy val rewrittenGids = readFiles("nodes",
      prev.getOrElse("nodes", Map.empty).view
        .filterKeys(keyMatches("label", keys)).values
        .flatten.toSeq, nodeSchema)
      .select(col("gid"))
    val conflictFrames = newPs.toSeq.flatMap { case (name, newP) =>
      val d = defOf(name)
      val prevIdx = prev.getOrElse(d.tableName, Map.empty)
      val probeBuckets = bucketsByDef.getOrElse(name, Set.empty)
      if (prevIdx.isEmpty || probeBuckets.isEmpty) None
      else {
        val oldRows = readFiles(d.tableName,
          prevIdx.view.filterKeys(k =>
            probeBuckets.exists(b => k == s"sect=p/bucket=$b"))
            .values.flatten.toSeq, SearchIndexes.pxSchema)
          .filter(col("sect") === "p")
        Some(oldRows
          .join(newP.withColumnRenamed("gid", "ngid"), Seq("val"))
          .filter(col("gid") =!= col("ngid"))
          .join(rewrittenGids, Seq("gid"), "left_anti")
          .select(tag(name), col("gid").as("a"), col("ngid").as("b"),
            col("xval")))
      }
    }
    if (conflictFrames.isEmpty) return
    val CandCap = 4096
    val cands = conflictFrames.reduce(_ unionByName _).take(CandCap + 1)
    if (cands.isEmpty) return
    if (cands.length > CandCap) {
      // more lossy-key candidates than the exact-verify budget — a
      // CAPACITY refusal (sound: never a false accept), worded as
      // such because none of these candidates were exactly verified
      throw new ConstraintViolation(
        s"uniqueness check capacity exceeded for constraint " +
          s"${cands.head.getString(0)}: over $CandCap lossy-key " +
          "conflict candidates in one batch — split the batch " +
          "(candidates were not individually verified)")
    }
    // exact verification in ONE batched job: read ONLY the committed
    // owners' gid-bucket directories (per def), re-derive each
    // owner's EXACT key, and throw only on a candidate whose owner
    // yields the SAME exact key — lossy-encoding aliases (2^53
    // longs, separator-bearing composite strings) pass. Zero jobs on
    // conflict-free commits; one job otherwise, work ∝ candidate
    // gids' buckets.
    val verifyFrames = cands.toSeq.groupBy(_.getString(0)).toSeq
      .map { case (name, rs) =>
        val d = defOf(name)
        val gids = rs.map(_.getString(1)).distinct
        val bks = gids.map(g => pmodHash(g, bc)).toSet
        val src = readFiles("nodes",
          prev.getOrElse("nodes", Map.empty).view
            .filterKeys(k => bks.exists(b => k.endsWith(s"/bucket=$b")))
            .values.flatten.toSeq, nodeSchema)
          .filter(col("gid").isin(gids: _*))
        SearchIndexes.propRowsExact(src, d)
          .select(lit(name).as("name"), col("gid"), col("xval"))
      }
    val ownerKeys: Set[(String, String, String)] =
      verifyFrames.reduce(_ unionByName _).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
    cands.foreach { r =>
      val (name, oldGid, newGid, xval) =
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
      if (ownerKeys((name, oldGid, xval))) {
        val d = defOf(name)
        throw new ConstraintViolation(
          s"node $newGid would violate uniqueness constraint " +
            s"${d.name}: node $oldGid already exists with the same " +
            s"${d.label}.${d.property}")
      }
    }
  }

  /** driver-side twin of the gid→bucket hash used by the node layout */
  private def pmodHash(s: String, bc: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % bc) + bc) % bc
  }

  /** Derive the reverse-index view and its dirty keys from the main
    * edge table's rewrite. The delta is BOUNDED by the commit's own
    * rewrite set: old and new content of the dirty (relType,
    * src-bucket) partitions are compared on the edge key, and only the
    * (relType, H(dst)) index partitions holding added/removed keys
    * rewrite — maintaining the index never scans the full edge table.
    * A manifest without a redges section (pre-index store) triggers a
    * one-time full rebuild on its next commit.
    */
  private def redgesDelta(
      newEdges: DataFrame,
      dirtyEdges: Option[Set[DirtyKey]],
      prev: Manifest,
      bc: Int): (DataFrame, Option[Set[DirtyKey]]) = {
    def project(e: DataFrame): DataFrame =
      e.select(col("dst"), col("src"), col("relType"))
    val prevRedges = prev.getOrElse("redges", Map.empty)
    val prevEdges = prev.getOrElse("edges", Map.empty)
    val mustRebuild = prevRedges.isEmpty && prevEdges.nonEmpty
    if (mustRebuild || dirtyEdges.isEmpty) // None = full rewrite
      return (project(newEdges), None)
    val keys = dirtyEdges.get
    if (keys.isEmpty)
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], redgeSchema), Some(Set.empty))
    // old vs new content of the rewritten main partitions (bounded)
    val changedOld = project(readFiles("edges",
      prevEdges.view.filterKeys(keyMatches("relType", keys)).values
        .flatten.toSeq, edgeSchema))
    val changedNew = project(dirtyFilter(
      newEdges.withColumn("bucket", pmod(hash(col("src")), lit(bc))),
      "relType", keys))
    val added = changedNew
      .join(changedOld, Seq("dst", "src", "relType"), "left_anti")
    val removed = changedOld
      .join(changedNew, Seq("dst", "src", "relType"), "left_anti")
    val dk: Set[DirtyKey] = added.unionByName(removed)
      .select(col("relType"), pmod(hash(col("dst")), lit(bc)).as("b"))
      .distinct().collect()
      .map(r => (Option(r.getString(0)), Some(r.getInt(1)): Option[Int]))
      .toSet
    if (dk.isEmpty)
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], redgeSchema), Some(Set.empty))
    // new index view, directory-pruned to the dirty index partitions
    // via the retained partition columns before the exact key filter
    val dirtyBs = dk.flatMap(_._2).toSeq
    val dirtyRts = dk.flatMap(_._1).toSeq
    val oldPruned = redgesWithBucket
      .filter(col("bucket").isin(dirtyBs: _*) &&
        col("relType").isin(dirtyRts: _*))
      .drop("bucket")
    val view = oldPruned
      .join(removed, Seq("dst", "src", "relType"), "left_anti")
      .unionByName(added)
    (view, Some(dk))
  }

  /** Derive one search index's view + dirty keys from the commit's
    * node rewrite — the [[redgesDelta]] recipe pointed at nodes:
    * old-vs-new content of the dirty NODE partitions (bounded by the
    * commit's own rewrite set) yields added/removed docs; their
    * deterministic re-extraction (cell assignment / tokenization)
    * names exactly the index partitions to rewrite. Maintaining an
    * index never scans the full node table.
    */
  private def searchIndexDelta(
      d: IndexDef,
      newNodes: DataFrame,
      newEdges: DataFrame,
      dirtyNodes: Option[Set[DirtyKey]],
      dirtyEdges: Option[Set[DirtyKey]],
      prev: Manifest,
      bc: Int): (DataFrame, Option[Set[DirtyKey]]) = {
    import SearchIndexes._
    val tbl = d.tableName
    val schema = d.kind match {
      case "vector" => vxSchemaOf(d)
      case "fulltext" => ftSchema
      case _ => pxSchema
    }
    def empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    val prevIdx = prev.getOrElse(tbl, Map.empty)
    // a RELATIONSHIP index sources the EDGE table: its delta is
    // bounded by the commit's edge rewrite set instead of the node one
    val isRel = d.entity == "RELATIONSHIP"
    val (srcNew, srcDirty, prevSrc, srcTable, srcSchema, srcPart, srcKey) =
      if (isRel)
        (newEdges, dirtyEdges, prev.getOrElse("edges", Map.empty),
          "edges", edgeSchema, "relType", "src")
      else
        (newNodes, dirtyNodes, prev.getOrElse("nodes", Map.empty),
          "nodes", nodeSchema, "label", "gid")
    def docsOf(frame: DataFrame): DataFrame =
      if (isRel) edgeTexts(frame, d) else texts(frame, d)
    // per-field document view (same docs, fields resolved) — the
    // build/delta source of per-field posting tables
    def fieldDocsOf(frame: DataFrame): DataFrame =
      if (isRel) SearchIndexes.edgeFieldDocs(frame, d)
      else SearchIndexes.fieldDocs(frame, d)
    // a def whose table is not in the previous manifest (fresh DDL)
    // builds fully; so does a full source rewrite (compact / rebucket)
    // and a just-(re)registered def whose NAME matches a dropped
    // index's carried-forward table (forceIndexRebuild0 — the stale
    // rows belong to the OLD definition)
    val mustRebuild = (!prev.contains(tbl) ||
      forceIndexRebuild0.contains(d.name)) && prevSrc.nonEmpty
    // composite defs have no range section (a multi-key tuple has no
    // total order worth range-partitioning; only all-keys-equality
    // routes through them). A table built BEFORE the range section
    // existed must not grow a PARTIAL one (the planner's range route
    // would silently miss every pre-existing row): maintain sect=r
    // only when the previous manifest carries it, or the table was
    // empty — legacy tables stay equality-only (pxRangeReady false)
    // until a full rebuild regenerates both sections.
    // a RELATIONSHIP property index is equality-only (sect=p): the
    // indexable edge surface is low-cardinality strings (`source`),
    // so range/dictionary sections buy nothing over the probe
    def hasSection(sect: String): Boolean =
      d.kind == "property" && !isRel && {
        val prevPx = prev.getOrElse(d.tableName, Map.empty)
        prevPx.isEmpty || !prev.contains(d.tableName) ||
          forceIndexRebuild0.contains(d.name) ||
          srcDirty.isEmpty || // full source rewrite regenerates fully
          prevPx.keys.exists(_.startsWith(s"sect=$sect"))
      }
    // the range section now covers composites too (escComp-framed
    // tuple keys — equality-prefix + trailing-range spans); tables
    // built before that stay equality-only until a full rebuild
    val hasRange = hasSection("r")
    // value dictionary (CONTAINS / ENDS WITH expansion) — single-prop
    // only, gated like the range section: a table built before it
    // existed must not grow a PARTIAL one
    val hasW = !d.property.contains(",") && hasSection("w")
    def fullView: DataFrame = d.kind match {
      case "vector" =>
        if (d.centroids.isEmpty) empty
        else storageRows(
          assignCells(vectors(newNodes, d), d.centroids, d.similarity), d)
      case "property" if d.zorder =>
        zPointRows(srcNew, d)
      case "property" =>
        val pr = if (isRel) relPropRows(srcNew, d) else propRows(srcNew, d)
        val withR =
          if (hasRange) pr.unionByName(propRangeRows(srcNew, d)) else pr
        if (hasW) withR.unionByName(valueDictRows(pr)) else withR
      case _ if SearchIndexes.positionsEnabled =>
        // per-field build: fld/off/dlt-bearing token rows, per-field
        // stats alongside the global row, and both markers. Global
        // stats tally the same clean token counts tokenRowsF stores
        // (Σ dlt == the legacy concatenated Σ dl, so unscoped BM25 is
        // bit-identical to the pre-field table's).
        val fdocs = fieldDocsOf(srcNew)
        val tot = org.apache.spark.sql.functions.aggregate(
          org.apache.spark.sql.functions.transform(col("fs"), f =>
            org.apache.spark.sql.functions.size(
              org.apache.spark.sql.functions.filter(
                termsOf(f, d.analyzer), t => t =!= "")).cast("long")),
          lit(0L), (a, x) => a + x)
        val st = fdocs
          .agg(org.apache.spark.sql.functions.count(lit(1)),
            org.apache.spark.sql.functions.sum(tot).cast("long")).head()
        val (n, sdl) =
          (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
        val toks = SearchIndexes.tokenRowsF(fdocs, d.properties, d.analyzer)
        toks.unionByName(statsRow(spark, n, sdl))
          .unionByName(SearchIndexes.fieldStatsRows(toks))
          .unionByName(dictRows(toks))
          .unionByName(SearchIndexes.posMarkerRow(spark))
          .unionByName(SearchIndexes.fieldsMarkerRow(spark))
      case _ =>
        // positions disabled (the pre-positional test hook): the
        // legacy concatenated build — no positions, no per-field rows
        val docs = docsOf(srcNew)
        val st = docs
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.size(
                termsOf(col("text"), d.analyzer))).cast("long")).head()
        val (n, sdl) =
          (st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
        val toks = tokenRows(docs, d.analyzer)
        toks.unionByName(statsRow(spark, n, sdl))
          .unionByName(dictRows(toks))
    }
    if (mustRebuild || srcDirty.isEmpty) return (fullView, None)
    val keys = srcDirty.get
    if (keys.isEmpty) return (empty, Some(Set.empty))
    val changedOldNodes = readFiles(srcTable,
      prevSrc.view.filterKeys(keyMatches(srcPart, keys)).values
        .flatten.toSeq, srcSchema)
    val changedNewNodes = dirtyFilter(
      srcNew.withColumn("bucket", pmod(hash(col(srcKey)), lit(bc))),
      srcPart, keys).drop("bucket")
    d.kind match {
      case "vector" =>
        if (d.centroids.isEmpty) return (empty, Some(Set.empty))
        val oldV = vectors(changedOldNodes, d)
        val newV = vectors(changedNewNodes, d)
        val removed = oldV.join(newV, Seq("gid", "v"), "left_anti")
        val added = newV.join(oldV, Seq("gid", "v"), "left_anti")
        val remA = assignCells(removed, d.centroids, d.similarity)
        val addA = assignCells(added, d.centroids, d.similarity)
        val dk: Set[DirtyKey] = remA.unionByName(addA)
          .select(col("cell"), pmod(hash(col("gid")), lit(bc)).as("b"))
          .distinct().collect()
          .map(r => (Option(r.getString(0)), Some(r.getInt(1)): Option[Int]))
          .toSet
        if (dk.isEmpty) return (empty, Some(Set.empty))
        val storageSchema = vxSchemaOf(d)
        val oldPruned = readFiles(tbl,
          prevIdx.view.filterKeys(keyMatches("cell", dk)).values
            .flatten.toSeq, storageSchema)
        val view = oldPruned
          .join(remA.select(col("gid")), Seq("gid"), "left_anti")
          .unionByName(storageRows(addA, d)
            .select(storageSchema.fieldNames.map(col).toSeq: _*))
          .select(storageSchema.fieldNames.map(col).toSeq: _*)
        (view, Some(dk))
      case "property" if d.zorder =>
        // the sect=r delta recipe on Morton keys: old vs new (gid,
        // val) rows of the dirty node partitions name the boundary
        // buckets to rewrite — bounded by the commit's rewrite set
        val oldZ = zPointRows(changedOldNodes, d)
        val newZ = zPointRows(changedNewNodes, d)
        val removedZ = oldZ.join(newZ, Seq("gid", "val"), "left_anti")
        val addedZ = newZ.join(oldZ, Seq("gid", "val"), "left_anti")
        val dkZ: Set[DirtyKey] = removedZ.unionByName(addedZ)
          .select(rangeBucketExpr(col("val"), d.boundaries).as("b"))
          .distinct().collect()
          .map(r => (Some("z"): Option[String],
            Some(r.getInt(0)): Option[Int])).toSet
        if (dkZ.isEmpty) return (empty, Some(Set.empty))
        val oldPrunedZ = readFiles(tbl,
          prevIdx.view.filterKeys(keyMatches("sect", dkZ)).values
            .flatten.toSeq, pxSchema)
        val viewZ = oldPrunedZ
          .join(removedZ.select(col("gid"), col("val")),
            Seq("gid", "val"), "left_anti")
          .unionByName(addedZ.select(pxSchema.fieldNames.map(col).toSeq: _*))
          .select(pxSchema.fieldNames.map(col).toSeq: _*)
        (viewZ, Some(dkZ))
      case "property" =>
        // the redgesDelta recipe keyed on the encoded value: old vs
        // new (gid, val) rows of the dirty source partitions name the
        // H(val) buckets (equality section) and boundary buckets
        // (range section) to rewrite — bounded by the commit's own
        // rewrite set, never a source-table scan
        def pRows(f: DataFrame) =
          if (isRel) relPropRows(f, d) else propRows(f, d)
        val oldP = pRows(changedOldNodes)
        val newP = pRows(changedNewNodes)
        val removed = oldP.join(newP, Seq("gid", "val"), "left_anti")
        val added = newP.join(oldP, Seq("gid", "val"), "left_anti")
        val dkP: Set[DirtyKey] = removed.unionByName(added)
          .select(pmod(hash(col("val")), lit(bc)).as("b"))
          .distinct().collect()
          .map(r => (Some("p"): Option[String], Some(r.getInt(0)): Option[Int]))
          .toSet
        val (removedR, addedR, dkR) =
          if (!hasRange) (empty, empty, Set.empty[DirtyKey])
          else {
            val oldR = propRangeRows(changedOldNodes, d)
            val newR = propRangeRows(changedNewNodes, d)
            val remR = oldR.join(newR, Seq("gid", "val"), "left_anti")
            val addR = newR.join(oldR, Seq("gid", "val"), "left_anti")
            val dk = remR.unionByName(addR)
              .select(rangeBucketExpr(col("val"), d.boundaries).as("b"))
              .distinct().collect()
              .map(r => (Some("r"): Option[String],
                Some(r.getInt(0)): Option[Int])).toSet
            (remR, addR, dk: Set[DirtyKey])
          }
        // value-dictionary deltas ride the SAME H(val) buckets as the
        // equality section (they hash-share by construction — dkP's
        // bucket ids relabel, no second discovery job): owner counts
        // adjust by the removed/added string rows per value, rows
        // reaching zero leave — the ft `sect=d` df recipe
        val dkW: Set[DirtyKey] =
          if (!hasW) Set.empty
          else dkP.map { case (_, b) => (Some("w"): Option[String], b) }
        val dk = dkP ++ dkR ++ dkW
        if (dk.isEmpty) return (empty, Some(Set.empty))
        val oldPruned = readFiles(tbl,
          prevIdx.view.filterKeys(keyMatches("sect", dk)).values
            .flatten.toSeq, pxSchema)
        val viewP = oldPruned.filter(col("sect") === "p")
          .join(removed.select(col("gid"), col("val")),
            Seq("gid", "val"), "left_anti")
          .unionByName(added.select(pxSchema.fieldNames.map(col).toSeq: _*))
        val viewR = oldPruned.filter(col("sect") === "r")
          .join(removedR.select(col("gid"), col("val")),
            Seq("gid", "val"), "left_anti")
          .unionByName(addedR.select(pxSchema.fieldNames.map(col).toSeq: _*))
        val viewW =
          if (!hasW) empty
          else {
            import org.apache.spark.sql.functions.{count => fcount}
            val remW = removed.filter(col("val").startsWith("s:"))
              .groupBy(col("val")).agg(fcount(lit(1)).as("rm"))
            val addW = added.filter(col("val").startsWith("s:"))
              .groupBy(col("val")).agg(fcount(lit(1)).as("ad"))
            oldPruned.filter(col("sect") === "w")
              .select(col("val"), col("gid").cast("long").as("n"))
              .join(remW, Seq("val"), "full_outer")
              .join(addW, Seq("val"), "full_outer")
              .select(col("val"),
                (coalesce(col("n"), lit(0L)) - coalesce(col("rm"), lit(0L))
                  + coalesce(col("ad"), lit(0L))).as("n2"))
              .filter(col("n2") > 0)
              .select(lit("w").as("sect"), col("val"),
                col("n2").cast("string").as("gid"))
          }
        val view = viewP.unionByName(viewR).unionByName(viewW)
          .select(pxSchema.fieldNames.map(col).toSeq: _*)
        (view, Some(dk))
      case _ =>
        import org.apache.spark.sql.functions.{aggregate => fagg,
          count => fcount, count_distinct => fcountd, filter => ffilter,
          max => fmax, size => fsize, sum => fsum, transform => ftransform}
        // a table built BEFORE per-field postings existed must not
        // grow mixed-shape rows (the delta's removed rows must be
        // byte-equal to the STORED shape): per-field delta only when
        // the previous manifest carries the sect=f marker. Legacy
        // tables stay concatenated — and field-scoped leaves keep the
        // stored-text verification — until a full rebuild.
        // the STORED shape decides the delta shape: a sect=f-marked
        // table must get per-field delta rows (the removed rows must
        // be byte-equal to what was stored) regardless of the
        // positionsEnabled test hook -- flipping the hook off against
        // a field-built table would write legacy-shape rows under the
        // persisting marker and field-scoped leaves would silently
        // miss the updated docs, so that combination fails fast
        val hadFields = prevIdx.keys.exists(_.startsWith("sect=f"))
        require(!hadFields || SearchIndexes.positionsEnabled,
          s"fulltext index ${d.name}: table $tbl was built with " +
            "per-field postings (sect=f) but positionsEnabled is " +
            "false; rebuild the index before disabling positions")
        // changed docs appear on both sides; deterministic
        // tokenization makes the removed rows byte-equal to the old
        // stored rows, so every stale row lives in a dirty bucket.
        // Per-field tables detect change on the field ARRAY (two
        // field splits can concatenate identically).
        val (removedDocs, addedDocs, remT, addT) =
          if (hadFields) {
            val oldD = fieldDocsOf(changedOldNodes)
            val newD = fieldDocsOf(changedNewNodes)
            val rem = oldD.join(newD, Seq("gid", "fs"), "left_anti")
              .localCheckpoint()
            val add = newD.join(oldD, Seq("gid", "fs"), "left_anti")
              .localCheckpoint()
            (rem, add,
              SearchIndexes.tokenRowsF(rem, d.properties, d.analyzer),
              SearchIndexes.tokenRowsF(add, d.properties, d.analyzer))
          } else {
            val oldD = docsOf(changedOldNodes)
            val newD = docsOf(changedNewNodes)
            val rem = oldD.join(newD, Seq("gid", "text"), "left_anti")
              .localCheckpoint()
            val add = newD.join(oldD, Seq("gid", "text"), "left_anti")
              .localCheckpoint()
            (rem, add, tokenRows(rem, d.analyzer),
              tokenRows(add, d.analyzer))
          }
        val termBuckets = remT.unionByName(addT)
          .select(pmod(hash(col("term")), lit(bc)).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (termBuckets.isEmpty) return (empty, Some(Set.empty))
        def docStats(docs: DataFrame): (Long, Long) = {
          val tokens =
            if (hadFields)
              fagg(ftransform(col("fs"), f =>
                fsize(ffilter(termsOf(f, d.analyzer),
                  t => t =!= "")).cast("long")),
                lit(0L), (a, x) => a + x)
            else fsize(termsOf(col("text"), d.analyzer)).cast("long")
          val r = docs.agg(fcount(lit(1)), fsum(tokens).cast("long")).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        val (remN, remDl) = docStats(removedDocs)
        val (addN, addDl) = docStats(addedDocs)
        val statsKey: Set[DirtyKey] = Set((Some("s"), None))
        val oldStats = readFiles(tbl,
          prevIdx.view.filterKeys(keyMatches("sect", statsKey)).values
            .flatten.toSeq, ftSchema)
          .localCheckpoint()
        val (n0, dl0) = oldStats
          .filter(col("gid") === "__stats").collect().headOption
          .map(r => (r.getLong(3), r.getLong(4))).getOrElse((0L, 0L))
        // a table built BEFORE the dictionary section existed must
        // not grow a partial one (prefix queries would silently miss
        // pre-existing terms): maintain the dict only when the
        // previous manifest carries it, or the table was empty (a
        // fresh dict is complete by construction). Older tables stay
        // dict-less — and prefix-unpruned — until a full rebuild.
        val hadDict = prevIdx.isEmpty ||
          prevIdx.keys.exists(_.startsWith("sect=d"))
        val dk: Set[DirtyKey] = termBuckets
          .map(b => (Some("t"): Option[String], Some(b): Option[Int]))
          .toSet ++ (if (hadDict) termBuckets
            .map(b => (Some("d"): Option[String], Some(b): Option[Int]))
            .toSet else Set.empty[DirtyKey]) ++ statsKey
        val oldPruned = readFiles(tbl,
          prevIdx.view.filterKeys(keyMatches("sect", dk)).values
            .flatten.toSeq, ftSchema)
        val keepToks = oldPruned.filter(col("sect") === "t")
          .join(removedDocs.select(col("gid")).distinct(),
            Seq("gid"), "left_anti")
        // dictionary df maintenance: every changed term lives in a
        // dirty bucket (remT covers all terms of removed docs, addT
        // of added), so adjusting exactly those rows is complete —
        // df' = df - removedDocsWithTerm + addedDocsWithTerm, rows
        // reaching zero leave the dictionary. df counts DOCS: in a
        // per-field frame a doc may carry the term in several rows,
        // so the adjustment counts distinct gids (== rows for the
        // legacy one-row-per-doc shape).
        val oldDict = oldPruned.filter(col("sect") === "d")
          .select(col("term"), col("tf"))
        val remDf = remT.groupBy(col("term"))
          .agg(fcountd(col("gid")).as("rm"))
        val addDf = addT.groupBy(col("term"))
          .agg(fcountd(col("gid")).as("ad"))
        val dictView = oldDict
          .join(remDf, Seq("term"), "full_outer")
          .join(addDf, Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("tf"), lit(0L)) - coalesce(col("rm"), lit(0L))
              + coalesce(col("ad"), lit(0L))).as("df"))
          .filter(col("df") > 0)
          .select(lit("d").as("sect"), col("term"), lit("").as("gid"),
            col("df").as("tf"), lit(0L).as("dl"),
            lit(null).cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType)).as("pos"),
            lit(null).cast(StringType).as("fld"),
            lit(null).cast(LongType).as("off"),
            lit(null).cast(LongType).as("dlt"))
        val view0 = keepToks
          .select(ftSchema.fieldNames.map(col).toSeq: _*)
          .unionByName(addT)
          .unionByName(
            statsRow(spark, n0 - remN + addN, dl0 - remDl + addDl))
        // per-field collection statistics ride the same rewritten
        // sect=s directory: docCount'/Σdl' = old − removed + added,
        // fields reaching zero docs leave the section
        val viewF =
          if (!hadFields) view0
          else {
            def fstats(toks: DataFrame, nc: String, sc: String) = toks
              .groupBy(col("fld"), col("gid"))
              .agg(fmax(col("dl")).as("fdl"))
              .groupBy(col("fld"))
              .agg(fcount(lit(1)).as(nc), fsum(col("fdl")).as(sc))
            val oldF = oldStats
              .filter(col("gid").startsWith("__stats:"))
              .select(col("fld"), col("tf").as("n1"), col("dl").as("s1"))
            val fView = oldF
              .join(fstats(remT, "rn", "rs"), Seq("fld"), "full_outer")
              .join(fstats(addT, "an", "as"), Seq("fld"), "full_outer")
              .select(col("fld"),
                (coalesce(col("n1"), lit(0L)) - coalesce(col("rn"), lit(0L))
                  + coalesce(col("an"), lit(0L))).as("nd"),
                (coalesce(col("s1"), lit(0L)) - coalesce(col("rs"), lit(0L))
                  + coalesce(col("as"), lit(0L))).as("sdl"))
              .filter(col("nd") > 0)
              .select(lit("s").as("sect"), lit("").as("term"),
                org.apache.spark.sql.functions.concat(
                  lit("__stats:"), col("fld")).as("gid"),
                col("nd").as("tf"), col("sdl").as("dl"),
                lit(null).cast(org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.IntegerType)).as("pos"),
                col("fld"), lit(null).cast(LongType).as("off"),
                lit(null).cast(LongType).as("dlt"))
            view0.unionByName(fView)
          }
        val view = if (hadDict) viewF.unionByName(dictView) else viewF
        (view, Some(dk))
    }
  }

  /** The proximity-graph table's view + dirty keys for one commit.
    * Full build (fresh DDL / forced rebuild / retrained quantizer):
    * every vector's top-`graphDeg` affinity neighbors among vectors
    * sharing one of its two nearest cells — Σ|cell|²-bounded, never
    * all-pairs. Incremental commits use the APPEND-bounded delta
    * standard for navigable-graph indexes (HNSW/DiskANN practice):
    * removed gids drop their rows (stale back-references dangle —
    * the beam skips missing rows); added gids get edges computed
    * against their cells' CURRENT residents (read from the vx
    * table's pruned cell directories). Existing nodes' edge lists
    * are not retroactively widened toward new arrivals — recall
    * drifts slowly with churn, and a quantizer retrain (the
    * maintain() watermark) rebuilds the graph exactly.
    */
  private def graphIndexDelta(
      d: IndexDef,
      newNodes: DataFrame,
      dirtyNodes: Option[Set[DirtyKey]],
      prev: Manifest,
      bc: Int): (DataFrame, Option[Set[DirtyKey]], Boolean, Set[String]) = {
    import SearchIndexes._
    val tbl = d.graphTableName
    def empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), vgSchemaOf(d))
    val prevIdx = prev.getOrElse(tbl, Map.empty)
    val prevNodes = prev.getOrElse("nodes", Map.empty)
    val mustRebuild = (!prev.contains(tbl) ||
      forceIndexRebuild0.contains(d.name)) && prevNodes.nonEmpty
    // edge lists always COMPUTE from exact floats; a quantized tier
    // (quant='sq8' + graphDeg — the DiskANN shape) only changes what
    // the rows STORE
    def fullView: DataFrame = {
      val a2 = assignCells2(vectors(newNodes, d), d.centroids,
        d.similarity)
      vgStorageRows(graphRows(a2, a2, d.similarity, d.graphDeg), d)
    }
    if (mustRebuild || dirtyNodes.isEmpty)
      return (fullView, None, true, Set.empty)
    val keys = dirtyNodes.get
    if (keys.isEmpty) return (empty, Some(Set.empty), false, Set.empty)
    val changedOldNodes = readFiles("nodes",
      prevNodes.view.filterKeys(keyMatches("label", keys)).values
        .flatten.toSeq, nodeSchema)
    val changedNewNodes = dirtyFilter(
      newNodes.withColumn("bucket", pmod(hash(col("gid")), lit(bc))),
      "label", keys).drop("bucket")
    val oldV = vectors(changedOldNodes, d)
    val newV = vectors(changedNewNodes, d)
    val removed = oldV.join(newV, Seq("gid", "v"), "left_anti")
      .select(col("gid")).localCheckpoint()
    val added = newV.join(oldV, Seq("gid", "v"), "left_anti")
      .localCheckpoint()
    val removedGids = removed.collect().map(_.getString(0)).toSet
    val addedCount = added.count()
    if (removedGids.isEmpty && addedCount == 0L)
      return (empty, Some(Set.empty), false, Set.empty)
    // a BULK batch amortizes the Σ|cell|² rebuild — row surgery only
    // pays below it (and keeps the driver-side merge bounded)
    if (addedCount > 10000) return (fullView, None, true, Set.empty)
    val addedA2 = assignCells2(added, d.centroids, d.similarity)
    // candidate residents: the vx table's rows for the added gids'
    // home+probe cells (directory-pruned read), minus removals, plus
    // the additions themselves (two new same-cell vectors pair up)
    val candCells = addedA2.select(col("cell")).distinct()
      .collect().map(_.getString(0)).toSet
    val vxPrev = prev.getOrElse(d.tableName, Map.empty)
    // resident vectors come from the vx cell directories — a
    // quantized def's vx rows store codes, so decode them (the
    // incremental edges are then approximate, DiskANN's own
    // trade; the full rebuild recomputes exactly)
    val residentsRaw = readFiles(d.tableName,
      vxPrev.view.filterKeys(k =>
        candCells.exists(cl => k.startsWith(s"cell=$cl/")))
        .values.flatten.toSeq, vxSchemaOf(d))
    val residentsV =
      if (d.quant == "sq8")
        residentsRaw.select(col("cell"), col("gid"),
          sq8DecodeCol(col("code"), d.sqMn, d.sqMx).as("v"), col("norm"))
      else residentsRaw
    val residents = residentsV
      .join(removed, Seq("gid"), "left_anti")
      .select(col("cell"), col("gid"), col("v"), col("norm"))
      .unionByName(addedA2.filter(col("cell").isin(candCells.toSeq: _*)))
    // forward edges of the ADDED gids (distributed, cell-bounded),
    // then the bounded driver-side merge: splice each arrival into
    // its neighbors' lists (evict the weakest edge past graphDeg) so
    // new vectors are REACHABLE, not just present
    case class VgRow(gid: String, v: Seq[Double], norm: Double,
        nbrs: Seq[String], nsim: Seq[Double])
    val newLocal: Seq[VgRow] =
      graphRows(addedA2, residents, d.similarity, d.graphDeg)
        .collect().map(r => VgRow(r.getString(1),
          r.getSeq[Double](2).toSeq, r.getDouble(3),
          r.getSeq[String](4).toSeq, r.getSeq[Double](5).toSeq)).toSeq
    val addedLocal: Seq[(String, Seq[Double], Double)] = added
      .select(col("gid"), col("v"), col("norm")).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toSeq,
        r.getDouble(2))).toSeq
    val withEdges = newLocal.map(_.gid).toSet
    val isolated = addedLocal.filterNot(a => withEdges(a._1))
      .map { case (g, v, n) => VgRow(g, v, n, Nil, Nil) }
    val addedGids = addedLocal.map(_._1).toSet
    // back-edge targets: neighbors of the additions that are PRE-
    // EXISTING rows (additions' own rows are already fresh)
    val hGids = newLocal.flatMap(_.nbrs).toSet -- addedGids -- removedGids
    val hBuckets = hGids.map(g =>
      ((org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(g),
          org.apache.spark.sql.types.StringType)), 42)
        .eval(null).asInstanceOf[Int] % bc) + bc) % bc)
    val quantized = d.quant == "sq8"
    val hRows: Map[String, VgRow] =
      if (hGids.isEmpty) Map.empty
      else readFiles(tbl,
        prevIdx.view.filterKeys(k =>
          hBuckets.exists(b => k.endsWith(s"/bucket=$b")))
          .values.flatten.toSeq, vgSchemaOf(d))
        .filter(col("gid").isin(hGids.toSeq: _*))
        .collect().map { r =>
          val v =
            if (quantized) sq8DecodeLocal(r.getSeq[Byte](2).toSeq,
              d.sqMn, d.sqMx)
            else r.getSeq[Double](2).toSeq
          r.getString(1) -> VgRow(r.getString(1), v, r.getDouble(3),
            Option(r.getSeq[String](4)).map(_.toSeq).getOrElse(Nil),
            Option(r.getSeq[Double](5)).map(_.toSeq).getOrElse(Nil))
        }.toMap
    def dotL(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val addedByGid = addedLocal.map(a => a._1 -> a).toMap
    val merged: Seq[VgRow] = newLocal
      .flatMap(nr => nr.nbrs.map(h => h -> nr.gid))
      .groupBy(_._1)
      .flatMap { case (h, pairs) =>
        hRows.get(h).map { hr =>
          val cands = pairs.map(_._2).distinct.map { g =>
            val (_, gv, gn) = addedByGid(g)
            val s =
              if (d.similarity == "euclidean")
                2.0 * dotL(hr.v, gv) - gn * gn
              else dotL(hr.v, gv) / (hr.norm * gn)
            (s, g)
          }
          val all = (hr.nsim.zip(hr.nbrs) ++ cands)
            .sortBy { case (s, g) => (-s, g) }
            .foldLeft(Vector.empty[(Double, String)]) { (acc, e) =>
              if (acc.exists(_._2 == e._2)) acc else acc :+ e
            }
            .take(d.graphDeg)
          VgRow(h, hr.v, hr.norm, all.map(_._2), all.map(_._1))
        }
      }.toSeq
    val rewritten = (newLocal ++ isolated ++ merged)
      .sortBy(_.gid)
    val rewrittenGids = rewritten.map(_.gid).toSet
    val dk: Set[DirtyKey] = spark.createDataFrame(
        java.util.Arrays.asList(
          (rewrittenGids ++ removedGids).toSeq.sorted
            .map(g => Row(g)): _*),
        StructType(Seq(StructField("gid", StringType, nullable = false))))
      .select(pmod(hash(col("gid")), lit(bc)).as("b"))
      .distinct().collect()
      .map(r => (Some("g"): Option[String], Some(r.getInt(0)): Option[Int]))
      .toSet
    if (dk.isEmpty) return (empty, Some(Set.empty), false, removedGids)
    // build the rewrite as float rows, then map to the def's storage
    // schema through the SAME Column encoder the full build uses —
    // stored codes stay byte-identical across build and delta
    val localRows = vgStorageRows(spark.createDataFrame(
      java.util.Arrays.asList(rewritten.map(r =>
        Row("g", r.gid, r.v, r.norm, r.nbrs, r.nsim)): _*), vgSchema), d)
    val oldPruned = readFiles(tbl,
      prevIdx.view.filterKeys(keyMatches("sect", dk)).values
        .flatten.toSeq, vgSchemaOf(d))
    val view = oldPruned
      .filter(!col("gid").isin(
        (rewrittenGids ++ removedGids).toSeq: _*))
      .select(vgSchemaOf(d).fieldNames.map(col).toSeq: _*)
      .unionByName(localRows)
    (view, Some(dk), false, removedGids)
  }

  /** does manifest key `k` fall inside the dirty set? */
  private def keyMatches(partCol: String, set: Set[DirtyKey])(
      k: String): Boolean =
    set.exists { case (pv, b) =>
      val pd = s"$partCol=${partDirName(pv)}"
      b match {
        case None => k == pd || k.startsWith(pd + "/")
        case Some(i) => k == s"$pd/bucket=$i"
      }
    }

  /** the dirty-key row filter writePartitions applies (factored so the
    * redges delta can compute the same "changed new content" set)
    */
  /** the (partition, bucket) membership predicate for a dirty set —
    * expects a `bucket` column alongside `partCol` */
  private def dirtyPred(partCol: String, set: Set[DirtyKey]): Column =
    set.toSeq.map { case (pv, b) =>
      // null-safe <=> so the predicate is never NULL: the overlay
      // NEGATES it, and a NULL-partition row (stub nodes) under
      // !(NULL === v && …) would silently drop instead of staying
      val pc: Column = pv match {
        case None | Some("") => col(partCol).isNull || col(partCol) <=> ""
        case Some(v) => col(partCol) <=> v
      }
      b.fold(pc)(i => pc && col("bucket") === i)
    }.reduceOption(_ || _).getOrElse(lit(false))

  private def dirtyFilter(withBucket: DataFrame, partCol: String,
      set: Set[DirtyKey]): DataFrame =
    withBucket.filter(dirtyPred(partCol, set))

  /** Session-overlay view of a statement's working frame: the
    * COMMITTED table outside the session's dirty (partition, bucket)
    * keys, union the working frame restricted TO those keys, eagerly
    * checkpointed. Rows outside the dirty set are byte-identical to
    * the committed table by the commit contract, so only the
    * session's actual delta is materialized — the per-statement
    * lineage cut costs ∝ touched buckets, not table size (a
    * multi-statement transaction on a 100 TB table must not rewrite
    * the table once per statement). The untouched side stays a lazy
    * partition-pruned parquet scan.
    */
  private[graft] def overlayView(full: DataFrame, tableName: String,
      schema: StructType, partCol: String, clusterCol: String,
      dirty: Set[DirtyKey]): DataFrame = {
    // an empty dirty set with a changed frame would silently drop the
    // change — fall back to the full checkpoint (never expected).
    // A fully-local frame (tiny store / no-op statement, e.g. DELETE
    // matching nothing) collects to a LocalRelation instead: a
    // checkpoint here would seed every LATER statement's plans with
    // an opaque LogicalRDD leaf, un-folding the whole session
    if (dirty.isEmpty) {
      val allLocal = full.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      return if (allLocal)
        spark.createDataFrame(
          java.util.Arrays.asList(full.collect(): _*), full.schema)
      else full.localCheckpoint(true)
    }
    val withBucket = full.withColumn("bucket",
      pmod(hash(col(clusterCol)), lit(bucketCount0)))
    val deltaPlan = withBucket.filter(dirtyPred(partCol, dirty))
      .drop("bucket")
    // Lineage cut, sized to the delta. The plan executes ONCE — the
    // eager checkpoint materializes it — and the count/collect below
    // read the in-memory blocks, never recompute. SMALL deltas (the
    // interactive write-statement case) then collect into a driver
    // LocalRelation: a localCheckpoint is an opaque RDD that blocks
    // every Catalyst local-evaluation rule, so each later statement
    // in the session pays dozens of trivial scheduled jobs probing
    // it; a LocalRelation folds through ConvertToLocalRelation /
    // PropagateEmptyRelation instead (on a fresh store the whole
    // overlay plan collapses to local rows). BIG deltas keep the
    // distributed checkpoint — a LocalRelation would pull them
    // through the driver.
    val allLocalLeaves = deltaPlan.queryExecution.optimizedPlan
      .collectLeaves().forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val delta =
      if (allLocalLeaves)
        // every input is already driver-local (tiny-store tables +
        // a local working frame): one collect IS the lineage cut —
        // skip the checkpoint job + count job it would otherwise pay
        spark.createDataFrame(
          java.util.Arrays.asList(deltaPlan.collect(): _*),
          deltaPlan.schema)
      else {
        val ck = deltaPlan.localCheckpoint(true)
        if (ck.count() <= OverlayLocalCap)
          spark.createDataFrame(
            java.util.Arrays.asList(ck.collect(): _*), deltaPlan.schema)
        else ck
      }
    val base = table(tableName, schema, keepBucket = true)
      .filter(!dirtyPred(partCol, dirty))
      .drop("bucket")
    base.unionByName(delta)
  }

  /** overlay deltas at or below this row count become driver-side
    * LocalRelations (see overlayView); above it they stay distributed
    */
  private val OverlayLocalCap = 20000

  private[graft] def overlayNodes(full: DataFrame,
      dirty: Set[DirtyKey]): DataFrame =
    overlayView(full, "nodes", nodeSchema, "label", "gid", dirty)

  private[graft] def overlayEdges(full: DataFrame,
      dirty: Set[DirtyKey]): DataFrame =
    overlayView(full, "edges", edgeSchema, "relType", "src", dirty)

  private def readFiles(table: String, files: Seq[String],
      schema: StructType): DataFrame =
    if (files.isEmpty)
      // a LocalRelation-backed empty frame (NOT emptyRDD, which plans
      // as an opaque LogicalRDD): Catalyst's PropagateEmptyRelation
      // then collapses every join/union against an empty table at
      // optimization time — a bootstrap sync against a fresh store
      // runs its statements as local projections instead of scheduling
      // join stages against empty scans
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
    else spark.read
      .option("basePath", dataDir(table).toString)
      .schema(schema)
      .parquet(files.map(f => rootPath.resolve(f).toString): _*)
      .select(schema.fieldNames.toSeq.map(col): _*)

  /** Write `df` restricted to the dirty (partition, bucket) keys into
    * `data/<table>/seg=<next>/<partCol>=…/bucket=…/` and return the new
    * manifest section: previous entries minus dropped keys, plus the
    * files just written. The bucket column is `hash(clusterCol) %
    * numBuckets` — the same hash the repartition uses, so each
    * (partition, bucket) directory receives exactly one task's file
    * and an incremental batch rewrites only the buckets its gids land
    * in.
    */
  private def writePartitions(
      df: DataFrame,
      table: String,
      partCol: String,
      clusterCol: String,
      next: Long,
      dirty: Option[Set[DirtyKey]],
      prev: Map[String, Seq[String]],
      bc: Int,
      // bucket assignment override: default gid-hash; a property
      // index's range section assigns ORDER-PRESERVING buckets from
      // its trained boundaries instead (see SearchIndexes.boundaries)
      bucketExpr: Option[Column] = None): Map[String, Seq[String]] = {
    // a batch that touched nothing in this table (e.g. a node-only
    // patch) re-links the previous manifest without running a write job
    if (dirty.exists(_.isEmpty)) return prev
    val withBucket = df.withColumn("bucket",
      bucketExpr.getOrElse(pmod(hash(col(clusterCol)), lit(bc))))
    // "" and null partition values share the Hive default partition
    // directory (partDirName), so either one dirty means both are
    // rewritten — a split would drop the other's files from the
    // manifest without rewriting its rows.
    val toWrite = dirty match {
      case None => withBucket
      case Some(set) => dirtyFilter(withBucket, partCol, set)
    }
    // Retry safety: a commit that failed after writing some files (but
    // before the pointer flip) leaves garbage in seg=<next> — `next` is
    // unreferenced by any manifest, so anything already there is dead
    // and must not be folded into the retried commit's listing.
    val segDir = dataDir(table).resolve(s"seg=$next")
    if (Files.exists(segDir)) deleteRecursively(segDir)
    // TINY-WRITE fast path (interactive commits): when the store is
    // manifest-tiny and the frame's lineage is fully driver-local
    // (LocalRelation leaves — statement overlays, localized tables,
    // planner seeds), the DRIVER writes every partition directory
    // through Spark's own ParquetWriteSupport: zero write jobs, no
    // scheduler round-trip, no FileFormatWriter commit protocol —
    // which measured 0.3-0.5 s per table per commit and was the
    // residual statement-template latency. File layout, row encoding,
    // footer statistics (the dirty-bucket probes read gid min/max)
    // and within-directory clusterCol order are identical to the
    // distributed dynamic-partition write (TinyWriteSpec pins the
    // round-trip). A large batch into a tiny store always carries
    // source-scan leaves, so it keeps the distributed write.
    val allLocal = toWrite.queryExecution.analyzed.collectLeaves()
      .forall {
        case _: org.apache.spark.sql.catalyst.plans.logical
            .LocalRelation => true
        case _: org.apache.spark.sql.catalyst.plans.logical
            .OneRowRelation => true
        case _ => false
      }
    if (allLocal && isTiny)
      org.apache.spark.sql.graft.TinyParquet.writeLocal(
        toWrite, dataDir(table).toString, next, partCol, clusterCol)
    else
      toWrite.repartition(bc, col(clusterCol))
        .sortWithinPartitions(clusterCol)
        .withColumn("seg", lit(next))
        .write.mode("append").partitionBy("seg", partCol, "bucket")
        .parquet(dataDir(table).toString)
    val written: Map[String, Seq[String]] =
      if (!Files.exists(segDir)) Map.empty
      else walkDir(segDir)
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
        .groupBy(f => segDir.relativize(f.getParent).toString)
        .map { case (key, fs) =>
          key -> fs.map(f => rootPath.relativize(f).toString).sorted
        }
    val dropped: Set[String] = dirty match {
      case None => prev.keySet
      case Some(set) => prev.keySet.filter(keyMatches(partCol, set))
    }
    (prev -- dropped) ++ written
  }

  /** Drop manifests older than `keep` versions behind the current
    * pointer, then delete pool files no retained manifest references.
    * Readers pin the manifest they loaded, so retention must cover the
    * longest-running reader; the pointer flip itself never blocks on
    * GC. Returns the versions whose manifests were removed.
    */
  def vacuum(keep: Int = 2): Seq[Long] = synchronized {
    val (cur, _) = current
    val cutoff = cur - keep
    if (cutoff <= 0) return Seq.empty
    val all = Option(rootPath.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("m\\d{8}\\.json"))
      .map(f => f.getName.drop(1).takeWhile(_.isDigit).toLong)
    val (doomed, retained) = all.partition(_ <= cutoff)
    if (doomed.isEmpty) return Seq.empty
    val referenced: Set[String] = retained.flatMap { v =>
      val m = readManifest(v)
      m.values.flatMap(_.values.flatten)
    }.toSet
    doomed.foreach { v =>
      Files.deleteIfExists(manifestPath(v))
      Files.deleteIfExists(countsPath(v))
    }
    // sweep unreferenced pool files, then prune empty directories
    val pool = rootPath.resolve("data")
    if (Files.exists(pool)) {
      walkDir(pool).reverseIterator.foreach { p =>
        if (Files.isRegularFile(p)) {
          val rel = rootPath.relativize(p).toString
          val keep = referenced.contains(rel) ||
            !p.getFileName.toString.endsWith(".parquet")
          if (!keep) Files.delete(p)
        } else if (Files.isDirectory(p) && p != pool && listDir(p).isEmpty) {
          Files.delete(p)
        }
      }
    }
    doomed.toSeq.sorted
  }

  /** Files.list with the stream closed (it holds a directory fd). */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def walkDir(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def deleteRecursively(p: Path): Unit =
    walkDir(p).reverseIterator.foreach(Files.delete)

  /** Rewrite every partition into a single fresh segment and commit it
    * as a new version — collapses a long incremental-commit chain's
    * small files (run after `vacuum` to reclaim the old segments).
    */
  def compact(): Long = commit(nodes, edges)

  /** Re-distribute the store over `n` gid-hash buckets and commit the
    * rewrite as a new version. Bucket count is the write-amplification
    * dial: an incremental commit rewrites ~1/numBuckets of each touched
    * partition, so a store that has grown 100× wants proportionally
    * more buckets to keep the per-commit rewrite ~constant. The new
    * count rides the atomic `_current` flip (it and the version it
    * applies to change together or not at all) and is adopted by every
    * later open — probes always hash with the on-disk count.
    */
  /** outcome of one [[maintain]] pass */
  case class Maintenance(
      rebucketedTo: Option[Int], compacted: Boolean,
      vacuumed: Seq[Long], segments: Int, maxBucketBytes: Long,
      retrainedIndexes: Seq[String] = Nil)

  /** Self-turning maintenance dial (SURVEY §8 scale notes): measures
    * the CURRENT layout from the manifest and applies, in order:
    *
    *  1. bucket-size watermark — if the largest (partition, bucket)
    *     exceeds `targetBucketBytes`, double the bucket count until it
    *     would fit (capped at `maxBuckets`) and [[rebucket]]. This is
    *     the write-amplification dial turning itself: per-commit COW
    *     cost stays ~`targetBucketBytes` per touched bucket as the
    *     store grows.
    *  2. fragmentation — every incremental commit adds a segment, so a
    *     long chain scatters a partition's files across many `seg=`
    *     directories; past `maxSegments` referenced segments,
    *     [[compact]] collapses them into one (skipped when a rebucket
    *     already rewrote everything).
    *  3. [[vacuum]] reclaims segments no retained manifest references.
    *
    * Run it from whatever cadence the deployment has (a scheduler
    * tick, post-ingest hook); every step commits through the same
    * atomic pointer flip, so readers are never blocked.
    */
  def maintain(
      targetBucketBytes: Long = 256L << 20,
      maxSegments: Int = 16,
      maxBuckets: Int = 4096,
      keep: Int = 2): Maintenance = synchronized {
    val v = currentVersion
    if (v == 0L) return Maintenance(None, compacted = false, Nil, 0, 0L)
    // vector-quantizer watermark: an AUTO-scaled index whose data has
    // outgrown (or shrunk far below) its trained cell count retrains
    // at the current size — the same self-turning recipe as the
    // bucket dial below. Cell-count drift ≥2× triggers; a user-pinned
    // `graft.ivf.cells` is never second-guessed. The retrain is a
    // full rebuild commit of just that index's table (atomic flip,
    // readers never blocked).
    val retrained = indexDefs0.collect {
      case d if d.kind == "vector" && d.centroids.nonEmpty &&
          d.cells == 0 =>
        val n = readSearchIndex(d, _ => true).count()
        val target = SearchIndexes.autoCells(n)
        val k = d.centroids.size
        // grow only when the trained count was not DATA-limited:
        // trainCentroids seeds from the k lowest-gid vectors, so with
        // n < target it can never produce `target` centroids —
        // `target >= 2*k` alone would then hold after every retrain
        // and the loop would rebuild the index forever. `k <
        // min(target, n)` retrains exactly when more centroids are
        // both wanted AND trainable, and converges: the retrained k
        // equals min(target, n), falsifying the condition.
        val grow = target >= 2 * k && k < math.min(target.toLong, n)
        if (grow || (k > SearchIndexes.K && 2 * target <= k)) {
          // the SQ8 codebook retrains with the quantizer (same
          // build-once contract, same watermark)
          buildSearchIndex(d.copy(centroids = Nil, dims = 0,
            sqMn = Nil, sqMx = Nil))
          Some(d.name)
        } else None
      // property-index range boundaries: equi-depth boundaries drift
      // as data grows/shrinks or skews — retrain on 2× row-count
      // drift from the training watermark (boundaryN updates to the
      // current count, so each retrain doubles the next trigger —
      // convergent, never perpetual)
      case d if d.kind == "property" && d.boundaryN > 0 =>
        val sect = if (d.zorder) "sect=z" else "sect=r"
        val n = readSearchIndex(d, _.startsWith(sect)).count()
        if (n >= 2 * d.boundaryN || (n > 0 && 2 * n <= d.boundaryN)) {
          buildSearchIndex(d.copy(boundaries = Nil, boundaryN = 0,
            boundariesV = 0))
          Some(d.name)
        } else None
    }.flatten
    // measure the manifest the retrains (if any) just flipped to
    val keyFiles: Seq[(String, Seq[String])] =
      readManifest(currentVersion).values.flatMap(_.toSeq).toSeq
    val segments = keyFiles.flatMap(_._2)
      .flatMap(_.split("/").find(_.startsWith("seg="))).distinct.size
    val maxBucket = keyFiles.map { case (_, fs) =>
      fs.map(f => Files.size(rootPath.resolve(f))).sum
    }.maxOption.getOrElse(0L)
    var factor = 1
    while (maxBucket > targetBucketBytes * factor &&
        bucketCount * factor < maxBuckets) factor *= 2
    val newCount = math.min(bucketCount * factor, maxBuckets)
    val rebucketedTo =
      if (newCount > bucketCount) { rebucket(newCount); Some(newCount) }
      else None
    val compacted = rebucketedTo.isEmpty && segments > maxSegments
    if (compacted) compact()
    val vacuumed = vacuum(keep)
    Maintenance(rebucketedTo, compacted, vacuumed, segments, maxBucket,
      retrained)
  }

  def rebucket(n: Int): Long = synchronized {
    require(n > 0, s"numBuckets must be positive: $n")
    val (ns, es) = (nodes, edges) // resolve file lists under the OLD count
    // full rewrite under the NEW count; the visible bucketCount flips
    // with the pointer, so a failed rebucket leaves count AND layout
    // untouched and concurrent probes never hash with a count the disk
    // doesn't have
    commitWith(ns, es, "", None, None, n)
  }

  private def writeManifest(v: Long, m: Manifest): Unit = {
    val json = JObject(m.toList.sortBy(_._1).map { case (t, parts) =>
      t -> JObject(parts.toList.sortBy(_._1).map { case (k, fs) =>
        k -> JArray(fs.toList.sorted.map(JString(_)))
      })
    })
    Files.write(manifestPath(v),
      JsonMethods.compact(JsonMethods.render(json))
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  private def readManifest(v: Long): Manifest = {
    if (!Files.exists(manifestPath(v)) &&
        Files.exists(rootPath.resolve(f"v$v%08d")))
      throw new IllegalStateException(
        s"store at $root uses the legacy v-directory layout (version $v); " +
          "rebuild it with the current format (no automatic migration)")
    val raw = new String(Files.readAllBytes(manifestPath(v)), StandardCharsets.UTF_8)
    JsonMethods.parse(raw) match {
      case JObject(tables) => tables.map {
        case (t, JObject(parts)) => t -> parts.map {
          case (k, JArray(fs)) =>
            k -> fs.collect { case JString(s) => s }
          case (k, _) => k -> Nil
        }.toMap
        case (t, _) => t -> Map.empty[String, Seq[String]]
      }.toMap
      case _ => Map("nodes" -> Map.empty, "edges" -> Map.empty)
    }
  }

  // ---- count store ----

  private def writeCounts(v: Long,
      c: Map[String, Map[String, Long]]): Unit = {
    val json = JObject(c.toList.sortBy(_._1).map { case (t, parts) =>
      t -> JObject(parts.toList.sortBy(_._1).map { case (k, n) =>
        k -> JInt(BigInt(n))
      })
    })
    Files.write(countsPath(v),
      JsonMethods.compact(JsonMethods.render(json))
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** None = no sidecar for that version (pre-counts manifest) — the
    * commit recounts, readers fall back to the scan */
  private def readCounts(v: Long): Option[Map[String, Map[String, Long]]] = {
    if (!Files.exists(countsPath(v))) return None
    val raw = new String(Files.readAllBytes(countsPath(v)),
      StandardCharsets.UTF_8)
    JsonMethods.parse(raw) match {
      case JObject(tables) => Some(tables.map {
        case (t, JObject(parts)) => t -> parts.collect {
          case (k, JInt(n)) => k -> n.toLong
        }.toMap
        case (t, _) => t -> Map.empty[String, Long]
      }.toMap)
      case _ => None
    }
  }

  /** Parquet footer row count — metadata only, no data pages read. */
  private def parquetRowCount(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Current snapshot's per-partition row counts for `table` — the
    * count store the commit maintains. None on a pre-counts pointer
    * (readers keep the scan until the next commit writes the sidecar).
    */
  def partitionCounts(table: String): Option[Map[String, Long]] = {
    val v = currentVersion
    if (v == 0L) Some(Map.empty)
    else readCounts(v).map(_.getOrElse(table, Map.empty))
  }

  /** One-sided labeled relationship counts — Neo4j's count-store
    * entries `(:L)-[:T]->()` (ltOut, keyed `LT`) and
    * `()-[:T]->(:L)` (ltIn, keyed `TL`), by the endpoint's
    * PRIMARY label. Maintained per commit by an exact delta
    * decomposition (N_new − N_old over edges e valued at their
    * endpoint's snapshot label):
    *
    *   term A (edge churn):  +Σ_added l_new(endpoint) ⊗ type
    *                         −Σ_removed l_new(endpoint) ⊗ type
    *   term B (label churn): +Σ_{e ∈ E_old} (l_new − l_old)(endpoint) ⊗ type
    *
    * A removed edge whose endpoint was deleted this commit values to
    * nothing in term A (l_new = ∅) and term B subtracts its old
    * label — the sum is exact for every combination of edge churn,
    * label rewrites, stub promotion, cascade delete, and node
    * deletion, with no case analysis. Both terms are bounded by the
    * commit's own dirty partitions: term A reads the dirty edge
    * partitions' old/new content plus the touched endpoints'
    * NEW-manifest node buckets; term B probes the label-churned
    * nodes' src-hash edge buckets and dst-hash redges buckets (the
    * cascade-delete read shape). Full rewrites (bootstrap, truncate,
    * compact, rebucket), a pre-lt sidecar, or a pre-redges store
    * recount once with one edges⋈nodes aggregation — proportional to
    * the rewrite itself — and are thereafter incremental.
    */
  /** the lt sidecar key, or [[GraphStore.LtExcluded]] when either
    * (non-null) name contains the separator -- excluded pairs stay
    * EXACTLY accounted in the sentinel so the wildcard query knows
    * whether the clean keys cover every edge */
  private def ltKeyOr(k: Column, a: Column, b: Column): Column =
    when(!a.contains(lit(GraphStore.LtSep)) &&
        !b.contains(lit(GraphStore.LtSep)), k)
      .otherwise(lit(GraphStore.LtExcluded))

  private def ltCounts(
      newNodes: DataFrame, newEdges: DataFrame,
      dirtyNodes: Option[Set[DirtyKey]], dirtyEdges: Option[Set[DirtyKey]],
      prev: Manifest, prevCounts: Map[String, Map[String, Long]],
      nodesMan: Map[String, Seq[String]],
      edgesMan: Map[String, Seq[String]],
      bc: Int, totalRows: Long): (Map[String, Long], Map[String, Long]) = {
    import GraphStore.LtSep
    import org.apache.spark.sql.functions.{concat, count => fcount,
      sum => fsum}
    val prevEdges = prev.getOrElse("edges", Map.empty)
    val prevNodes = prev.getOrElse("nodes", Map.empty)
    val prevRedges = prev.getOrElse("redges", Map.empty)
    def fullLt(): (Map[String, Long], Map[String, Long]) = {
      val e = newEdges.select(col("src"), col("dst"), col("relType"))
        .filter(col("relType").isNotNull)
      val n = newNodes.select(col("gid"), col("label"))
        .filter(col("label").isNotNull)
      // both sides tagged into ONE aggregation job
      val out = e.join(n.withColumnRenamed("gid", "src"), Seq("src"))
        .select(lit("o").as("side"),
          ltKeyOr(concat(col("label"), lit(LtSep), col("relType")), col("label"), col("relType")).as("k"))
      val in = e.join(n.withColumnRenamed("gid", "dst"), Seq("dst"))
        .select(lit("i").as("side"),
          ltKeyOr(concat(col("relType"), lit(LtSep), col("label")), col("relType"), col("label")).as("k"))
      val agg = out.unionByName(in)
        .groupBy(col("side"), col("k")).agg(fcount(lit(1)).as("d"))
        .collect()
      (GraphStore.ltApply(Map.empty, agg, "o"),
        GraphStore.ltApply(Map.empty, agg, "i"))
    }
    def fullLtLocal(): (Map[String, Long], Map[String, Long]) = {
      import GraphStore.LtExcluded
      // read the snapshot just WRITTEN, not the commit's input
      // frames: the written files are plain bounded parquet with no
      // upstream lineage, so this is one shuffle-free scan+collect
      // where the input view could drag the whole merge plan behind
      // its collect
      val rows = readFiles("nodes",
        nodesMan.values.flatten.toSeq.sorted, nodeSchema)
        .select(lit("n").as("t"), col("gid").as("a"),
          col("label").as("b"), lit(null).cast(StringType).as("c"))
        .filter(col("b").isNotNull)
        .unionByName(readFiles("edges",
          edgesMan.values.flatten.toSeq.sorted, edgeSchema)
          .select(lit("e").as("t"), col("src").as("a"),
            col("dst").as("b"), col("relType").as("c"))
          .filter(col("c").isNotNull))
        .collect()
      val lab = new java.util.HashMap[String, String]()
      rows.foreach { r =>
        if (r.getString(0) == "n") lab.put(r.getString(1), r.getString(2))
      }
      def key(l: String, t: String, outSide: Boolean): String =
        if (l.contains(LtSep) || t.contains(LtSep)) LtExcluded
        else if (outSide) l + LtSep + t else t + LtSep + l
      val out = scala.collection.mutable.HashMap.empty[String, Long]
      val in = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { r =>
        if (r.getString(0) == "e") {
          val rt = r.getString(3)
          val sl = lab.get(r.getString(1))
          if (sl != null) {
            val k = key(sl, rt, outSide = true)
            out(k) = out.getOrElse(k, 0L) + 1L
          }
          val dl = lab.get(r.getString(2))
          if (dl != null) {
            val k = key(dl, rt, outSide = false)
            in(k) = in.getOrElse(k, 0L) + 1L
          }
        }
      }
      (out.toMap, in.toMap)
    }
    val hadLt = prevCounts.contains("ltOut") && prevCounts.contains("ltIn")
    val prevOut = prevCounts.getOrElse("ltOut", Map.empty)
    val prevIn = prevCounts.getOrElse("ltIn", Map.empty)
    // ZERO-job early-outs first: a commit that touched nothing
    // relevant carries the previous sections forward unread
    if (hadLt && dirtyNodes.isDefined && dirtyEdges.isDefined) {
      if (dirtyNodes.get.isEmpty && dirtyEdges.get.isEmpty)
        return (prevOut, prevIn)
      // an edge-free store with no edge writes has nothing to count —
      // node-only workloads never pay an lt job
      if (dirtyEdges.get.isEmpty && prevEdges.isEmpty)
        return (prevOut, prevIn)
    }
    // a TINY store recounts outright -- DRIVER-SIDE: one collect of
    // the (bounded) written snapshot, the label lookup and pair
    // counting folded in Scala. This beats the delta's churn
    // detection AND the distributed recount's join+agg stages
    // (measured: the recount was 30-45% of an interactive commit,
    // 8 jobs on a bootstrap) — and unlike the delta it needs no
    // prior sidecar, so it gates BEFORE the hadLt check. The bound
    // is the same LtTinyRows row cap the localized-table path uses.
    if (totalRows <= GraphStore.LtTinyRows) return fullLtLocal()
    if (dirtyNodes.isEmpty || dirtyEdges.isEmpty || !hadLt ||
        (prevEdges.nonEmpty && prevRedges.isEmpty))
      return fullLt()
    val keysN = dirtyNodes.get
    val keysE = dirtyEdges.get
    // ---- job 1 of 2: ONE union'd cap-collect of the commit's churn
    // surfaces — interactive write latency must not grow with the
    // count store (the fused-constraint-probe budget: TWO jobs).
    //   t=n rows: (gid, l0, l1) label churn of the dirty node keys
    //   t=e rows: (src, dst, relType) ±1 edge churn of the dirty
    //             edge keys
    // Batches past LtCap keep a fully distributed two-phase path.
    val labelChurn: Option[DataFrame] =
      if (keysN.isEmpty) None
      else Some {
        val oldLab = readFiles("nodes",
          prevNodes.view.filterKeys(keyMatches("label", keysN)).values
            .flatten.toSeq, nodeSchema)
          .select(col("gid"), col("label").as("l0"))
        val newLab = dirtyFilter(
          newNodes.withColumn("bucket", pmod(hash(col("gid")), lit(bc))),
          "label", keysN)
          .select(col("gid"), col("label").as("l1"))
        oldLab.join(newLab, Seq("gid"), "full_outer")
          .filter(!(col("l0") <=> col("l1")))
          .select(lit("n").as("t"), col("gid").as("c1"),
            col("l0").as("c2"), col("l1").as("c3"), lit(0L).as("d"))
      }
    val edgeChurn: Option[DataFrame] =
      if (keysE.isEmpty) None
      else Some {
        val changedOld = readFiles("edges",
          prevEdges.view.filterKeys(keyMatches("relType", keysE)).values
            .flatten.toSeq, edgeSchema)
          .select(col("src"), col("dst"), col("relType"))
        val changedNew = dirtyFilter(
          newEdges.withColumn("bucket", pmod(hash(col("src")), lit(bc))),
          "relType", keysE)
          .select(col("src"), col("dst"), col("relType"))
        val added = changedNew
          .join(changedOld, Seq("src", "dst", "relType"), "left_anti")
        val removed = changedOld
          .join(changedNew, Seq("src", "dst", "relType"), "left_anti")
        added.withColumn("d", lit(1L))
          .unionByName(removed.withColumn("d", lit(-1L)))
          .select(lit("e").as("t"), col("src").as("c1"),
            col("dst").as("c2"), col("relType").as("c3"), col("d"))
      }
    val surf = (labelChurn.toSeq ++ edgeChurn.toSeq)
      .reduce(_ unionByName _)
    val local = surf.take(GraphStore.LtCap + 1)
    if (local.isEmpty) return (prevOut, prevIn)
    if (local.length > GraphStore.LtCap)
      return ltDeltaDistributed(surf, prevOut, prevIn, prevEdges,
        prevRedges, nodesMan, bc)
    // driver-side: the churn is interactive-sized — resolve buckets
    // here and probe with broadcast local relations (job 2 of 2)
    val churnL = local.filter(_.getString(0) == "n")
    val echurnL = local.filter(_.getString(0) == "e")
    val deltas = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def sepOk(a: Column, b: Column): Column =
      a.isNotNull && b.isNotNull
    if (churnL.nonEmpty) {
      // term B: (l1 − l0) replayed over the churned nodes' OLD edges
      // (src-hash buckets) and redges (dst-hash buckets)
      val cb = churnL.map(r => bucketOfString(r.getString(1))).toSet
      def atBuckets(man: Map[String, Seq[String]]): Seq[String] =
        man.view.filterKeys(k =>
          cb.exists(b => k.endsWith(s"/bucket=$b")))
          .values.flatten.toSeq.sorted
      val churnDf = spark.createDataFrame(
        java.util.Arrays.asList(churnL.map(r =>
          Row(r.getString(1), r.getString(2), r.getString(3))): _*),
        StructType(Seq(
          StructField("cgid", StringType, nullable = false),
          StructField("l0", StringType),
          StructField("l1", StringType))))
      val outOld = readFiles("edges", atBuckets(prevEdges), edgeSchema)
        .select(col("src"), col("relType"))
        .join(org.apache.spark.sql.functions.broadcast(
          churnDf.withColumnRenamed("cgid", "src")), Seq("src"))
      deltas += outOld.filter(sepOk(col("l1"), col("relType")))
        .select(lit("o").as("side"),
          ltKeyOr(concat(col("l1"), lit(LtSep), col("relType")), col("l1"), col("relType")).as("k"),
          lit(1L).as("d"))
      deltas += outOld.filter(sepOk(col("l0"), col("relType")))
        .select(lit("o").as("side"),
          ltKeyOr(concat(col("l0"), lit(LtSep), col("relType")), col("l0"), col("relType")).as("k"),
          lit(-1L).as("d"))
      val inOld = readFiles("redges", atBuckets(prevRedges), redgeSchema)
        .select(col("dst"), col("relType"))
        .join(org.apache.spark.sql.functions.broadcast(
          churnDf.withColumnRenamed("cgid", "dst")), Seq("dst"))
      deltas += inOld.filter(sepOk(col("l1"), col("relType")))
        .select(lit("i").as("side"),
          ltKeyOr(concat(col("relType"), lit(LtSep), col("l1")), col("relType"), col("l1")).as("k"),
          lit(1L).as("d"))
      deltas += inOld.filter(sepOk(col("l0"), col("relType")))
        .select(lit("i").as("side"),
          ltKeyOr(concat(col("relType"), lit(LtSep), col("l0")), col("relType"), col("l0")).as("k"),
          lit(-1L).as("d"))
    }
    if (echurnL.nonEmpty) {
      // term A: ±1 per churned edge, valued at the NEW snapshot's
      // endpoint labels (read from the just-written manifest files,
      // endpoint-bucket-pruned)
      val eb = echurnL.flatMap(r => Seq(bucketOfString(r.getString(1)),
        bucketOfString(r.getString(2)))).toSet
      val nlab = readFiles("nodes",
        nodesMan.view.filterKeys(k =>
          eb.exists(b => k.endsWith(s"/bucket=$b")))
          .values.flatten.toSeq.sorted, nodeSchema)
        .select(col("gid"), col("label"))
      val churnEDf = spark.createDataFrame(
        java.util.Arrays.asList(echurnL.map(r =>
          Row(r.getString(1), r.getString(2), r.getString(3),
            r.getLong(4))): _*),
        StructType(Seq(
          StructField("src", StringType, nullable = false),
          StructField("dst", StringType, nullable = false),
          StructField("relType", StringType, nullable = false),
          StructField("d", LongType, nullable = false))))
      deltas += nlab.withColumnRenamed("gid", "src")
        .join(org.apache.spark.sql.functions.broadcast(churnEDf),
          Seq("src"))
        .filter(sepOk(col("label"), col("relType")))
        .select(lit("o").as("side"),
          ltKeyOr(concat(col("label"), lit(LtSep), col("relType")), col("label"), col("relType")).as("k"),
          col("d"))
      deltas += nlab.withColumnRenamed("gid", "dst")
        .join(org.apache.spark.sql.functions.broadcast(churnEDf),
          Seq("dst"))
        .filter(sepOk(col("label"), col("relType")))
        .select(lit("i").as("side"),
          ltKeyOr(concat(col("relType"), lit(LtSep), col("label")), col("relType"), col("label")).as("k"),
          col("d"))
    }
    val agg = deltas.reduce(_ unionByName _)
      .groupBy(col("side"), col("k")).agg(fsum(col("d")).as("d"))
      .collect()
    (GraphStore.ltApply(prevOut, agg, "o"),
      GraphStore.ltApply(prevIn, agg, "i"))
  }

  /** the past-LtCap twin of the incremental lt path: the same churn
    * surface kept distributed — bucket sets still collect (bounded at
    * the store's bucket count), probes join the churn frame instead
    * of a broadcast local relation. Bulk-sized commits only. */
  private def ltDeltaDistributed(
      surf: DataFrame,
      prevOut: Map[String, Long], prevIn: Map[String, Long],
      prevEdges: Map[String, Seq[String]],
      prevRedges: Map[String, Seq[String]],
      nodesMan: Map[String, Seq[String]],
      bc: Int): (Map[String, Long], Map[String, Long]) = {
    import GraphStore.LtSep
    import org.apache.spark.sql.functions.{broadcast, concat, sum => fsum}
    val s = surf.localCheckpoint()
    val churn = s.filter(col("t") === "n")
      .select(col("c1").as("cgid"), col("c2").as("l0"),
        col("c3").as("l1"))
    val churnE = s.filter(col("t") === "e")
      .select(col("c1").as("src"), col("c2").as("dst"),
        col("c3").as("relType"), col("d"))
    def sepOk(a: Column, b: Column): Column =
      a.isNotNull && b.isNotNull
    val buckets = churn
      .select(pmod(hash(col("cgid")), lit(bc)).as("b"))
      .unionByName(churnE.select(pmod(hash(col("src")), lit(bc)).as("b")))
      .unionByName(churnE.select(pmod(hash(col("dst")), lit(bc)).as("b")))
      .withColumn("t", lit("x"))
      .groupBy(col("t"))
      .agg(org.apache.spark.sql.functions.collect_set(col("b")).as("bs"))
      .collect()
    val allB: Set[Int] = buckets.headOption
      .map(_.getSeq[Int](1).toSet).getOrElse(Set.empty)
    def atBuckets(man: Map[String, Seq[String]]): Seq[String] =
      man.view.filterKeys(k => allB.exists(b => k.endsWith(s"/bucket=$b")))
        .values.flatten.toSeq.sorted
    val deltas = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val outOld = readFiles("edges", atBuckets(prevEdges), edgeSchema)
      .select(col("src"), col("relType"))
      .join(churn.withColumnRenamed("cgid", "src"), Seq("src"))
    deltas += outOld.filter(sepOk(col("l1"), col("relType")))
      .select(lit("o").as("side"),
        ltKeyOr(concat(col("l1"), lit(LtSep), col("relType")), col("l1"), col("relType")).as("k"),
        lit(1L).as("d"))
    deltas += outOld.filter(sepOk(col("l0"), col("relType")))
      .select(lit("o").as("side"),
        ltKeyOr(concat(col("l0"), lit(LtSep), col("relType")), col("l0"), col("relType")).as("k"),
        lit(-1L).as("d"))
    val inOld = readFiles("redges", atBuckets(prevRedges), redgeSchema)
      .select(col("dst"), col("relType"))
      .join(churn.withColumnRenamed("cgid", "dst"), Seq("dst"))
    deltas += inOld.filter(sepOk(col("l1"), col("relType")))
      .select(lit("i").as("side"),
        ltKeyOr(concat(col("relType"), lit(LtSep), col("l1")), col("relType"), col("l1")).as("k"),
        lit(1L).as("d"))
    deltas += inOld.filter(sepOk(col("l0"), col("relType")))
      .select(lit("i").as("side"),
        ltKeyOr(concat(col("relType"), lit(LtSep), col("l0")), col("relType"), col("l0")).as("k"),
        lit(-1L).as("d"))
    val nlab = readFiles("nodes", atBuckets(nodesMan), nodeSchema)
      .select(col("gid"), col("label"))
    deltas += nlab.withColumnRenamed("gid", "src")
      .join(churnE, Seq("src"))
      .filter(sepOk(col("label"), col("relType")))
      .select(lit("o").as("side"),
        ltKeyOr(concat(col("label"), lit(LtSep), col("relType")), col("label"), col("relType")).as("k"),
        col("d"))
    deltas += nlab.withColumnRenamed("gid", "dst")
      .join(churnE, Seq("dst"))
      .filter(sepOk(col("label"), col("relType")))
      .select(lit("i").as("side"),
        ltKeyOr(concat(col("relType"), lit(LtSep), col("label")), col("relType"), col("label")).as("k"),
        col("d"))
    val agg = deltas.reduce(_ unionByName _)
      .groupBy(col("side"), col("k")).agg(fsum(col("d")).as("d"))
      .collect()
    (GraphStore.ltApply(prevOut, agg, "o"),
      GraphStore.ltApply(prevIn, agg, "i"))
  }

  /** O(1) node count per Neo4j count-store semantics: `None` label =
    * every node (stubs included, the `MATCH (n)` total); `Some(l)` =
    * nodes whose PRIMARY label is l. Returns None — caller keeps the
    * scan plan — when the sidecar is missing, a session holds
    * uncommitted node writes, or `l` has ever been used as a
    * SECONDARY label (its members then live outside its partition).
    */
  def nodeCountByLabel(label: Option[String]): Option[Long] = {
    if (session.exists(_.workNodes.isDefined)) return None
    if (label.exists(secondaryLabels0.contains)) return None
    partitionCounts("nodes").map(sumPartitions(_, "label", label))
  }

  /** O(1) edge count: `None` = every relationship, `Some(t)` = edges
    * of relType t. None when the sidecar is missing or a session
    * holds uncommitted edge writes.
    */
  def edgeCountByType(relType: Option[String]): Option[Long] = {
    if (session.exists(_.workEdges.isDefined)) return None
    partitionCounts("edges").map(sumPartitions(_, "relType", relType))
  }

  /** O(1) ONE-SIDED labeled relationship count — Neo4j's count-store
    * entries `(:L)-[:T]->()` (outgoing=true) and `()-[:T]->(:L)`
    * (outgoing=false); `relType` None = any type (the `(:L)-[]->()`
    * wildcard entry). None — caller keeps the scan — when the
    * sidecar predates the lt sections, a session holds uncommitted
    * writes (node writes can change labels, edge writes the edges),
    * or the label was ever used as a SECONDARY label (lt counts key
    * the PRIMARY label).
    */
  def relCountByLabel(label: String, relType: Option[String],
      outgoing: Boolean): Option[Long] = {
    import GraphStore.LtSep
    if (session.exists(s => s.workNodes.isDefined || s.workEdges.isDefined))
      return None
    if (secondaryLabels0.contains(label)) return None
    if (label.contains(LtSep) || relType.exists(_.contains(LtSep)))
      return None
    val v = currentVersion
    val m: Map[String, Long] =
      if (v == 0L) Map.empty
      else readCounts(v)
        .flatMap(_.get(if (outgoing) "ltOut" else "ltIn")) match {
        case Some(x) => x
        case None => return None // pre-lt sidecar: keep the scan
      }
    relType match {
      case Some(t) =>
        Some(m.getOrElse(
          if (outgoing) s"$label$LtSep$t" else s"$t$LtSep$label", 0L))
      case None =>
        // the wildcard sums EVERY key for the label; if any (label,
        // type) pair was excluded for containing LtSep the sum would
        // silently undercount -- the sentinel records exactly that
        if (m.contains(GraphStore.LtExcluded)) None
        else Some(m.collect {
          case (k, n) if (outgoing && k.startsWith(label + LtSep)) ||
            (!outgoing && k.endsWith(LtSep + label)) => n
        }.sum)
    }
  }

  private def sumPartitions(m: Map[String, Long], partCol: String,
      v: Option[String]): Long = v match {
    case None => m.values.sum
    case Some(x) =>
      val pd = s"$partCol=${partDirName(Some(x))}"
      m.collect {
        case (k, n) if k == pd || k.startsWith(pd + "/") => n }.sum
  }
}

object GraphStore {
  /** manifest: table → (partition dir name → file paths relative to root) */
  type Manifest = Map[String, Map[String, Seq[String]]]

  /** dirty-commit key: (partition value, gid-hash bucket). Bucket
    * `None` = every bucket of that partition.
    */
  type DirtyKey = (Option[String], Option[Int])

  /** Hive's null-partition sentinel, as written by Spark's partitionBy. */
  val DefaultPartitionName = "__HIVE_DEFAULT_PARTITION__"

  /** separator of the (label, relType) keys in the lt count-store
    * sidecar sections — a control character no URI-shaped label/type
    * contains; pairs whose label or type DOES contain it are excluded
    * from the sidecar and their queries keep the scan */
  /** the PV slot a required property type witnesses (see model.PV:
    * exactly one typed slot is set per value, so "value present but
    * required slot null" is precisely "wrong type") */
  private[graft] def typeSlot(t: String): String = t match {
    case "STRING" => "s"
    case "INTEGER" => "l"
    case "FLOAT" => "d"
    case "BOOLEAN" => "b"
    case _ => "a" // LIST<...>
  }

  val LtSep = "\u0001"

  /** sidecar key under which LtSep-excluded (label, type) pair
    * contributions accumulate -- never a real key (real keys are
    * `L\u0001T` with nonempty clean halves). A nonzero value means
    * some pair is missing from the section, so the `(:L)-[]->()`
    * wildcard (which has no per-query name gate) returns None and
    * keeps the scan; typed queries on clean names stay servable. */
  val LtExcluded = "\u0001"

  /** churn rows an interactive commit may resolve driver-side for the
    * lt count maintenance; bigger commits keep the distributed path.
    * The override is a test hook forcing the distributed twin. */
  @volatile private[graft] var ltCapOverride: Option[Int] = None
  def LtCap: Int = ltCapOverride.getOrElse(100000)

  /** stores at or below this many total rows skip the lt delta and
    * recount in one small job (tiny frames fold locally); the
    * override is a test hook forcing the delta paths */
  @volatile private[graft] var ltTinyOverride: Option[Long] = None
  def LtTinyRows: Long = ltTinyOverride.getOrElse(50000L)

  /** fold a (side, key, Sigma-d) delta collect into a count map,
    * dropping keys that reach zero */
  def ltApply(m: Map[String, Long], agg: Array[Row],
      side: String): Map[String, Long] =
    agg.collect {
      case r if r.getString(0) == side => r.getString(1) -> r.getLong(2)
    }.foldLeft(m) { case (acc, (k, d)) =>
      val n = acc.getOrElse(k, 0L) + d
      if (n == 0L) acc - k else acc + (k -> n)
    }

  /** Directory-name form of a partition value — mirrors Hive/Spark path
    * escaping (ExternalCatalogUtils.escapePathName) so manifest keys
    * computed from a dirty-set value match what partitionBy wrote.
    */
  def partDirName(v: Option[String]): String = v match {
    // Spark's partitionBy writes null AND empty-string values as the
    // Hive default partition (getPartitionValueString treats both as
    // absent) — Some("") must map with None or the manifest key would
    // never match what was written.
    case None | Some("") => DefaultPartitionName
    case Some(s) =>
      val sb = new StringBuilder
      s.foreach { c =>
        if (needsEscaping(c)) sb.append('%').append(f"${c.toInt}%02X")
        else sb.append(c)
      }
      sb.toString
  }

  /** inverse of [[partDirName]]: decode the Hive %XX escapes; the
    * default-partition sentinel maps back to None (null/"" value) */
  def partDirValue(dir: String): Option[String] =
    if (dir == DefaultPartitionName) None
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < dir.length) {
        val c = dir.charAt(i)
        if (c == '%' && i + 2 < dir.length) {
          sb.append(Integer.parseInt(dir.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      Some(sb.toString)
    }

  private def needsEscaping(c: Char): Boolean =
    c < 0x20 || c == 0x7F || c == '"' || c == '#' || c == '%' ||
      c == '\'' || c == '*' || c == '/' || c == ':' || c == '=' ||
      c == '?' || c == '\\' || c == '{' || c == '[' ||
      c == ']' || c == '^'

  /** Node row: columns per /root/reference/neo4j.go:192-197 (gid, source,
    * stripped props) + neo4j.go:107 (label); `recorded` is the commit
    * version, powering the change feed (/root/reference/layer.go:257).
    */
  val pvType: StructType = StructType(Seq(
    StructField("s", StringType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("b", BooleanType),
    StructField("a", ArrayType(StringType)),
    // per-element type tags for the list slot (see model.PV.at)
    StructField("at", StringType)))

  val nodeSchema: StructType = StructType(Seq(
    StructField("gid", StringType, nullable = false),
    StructField("label", StringType),
    StructField("source", StringType),
    StructField("props", MapType(StringType, pvType)),
    StructField("recorded", LongType),
    // SECONDARY labels (multi-label nodes: `CREATE (n:A:B)`,
    // `SET n:B` on an already-labeled node). `label` stays the
    // PRIMARY label and the physical partition directory; the store
    // tracks which labels occur here (secondaryLabels) so matches on
    // purely-primary labels keep exact partition pruning
    StructField("xlabels", ArrayType(StringType))))

  /** Edge row per /root/reference/neo4j.go:215-220 (from/to/rel/source). */
  val edgeSchema: StructType = StructType(Seq(
    StructField("src", StringType, nullable = false),
    StructField("dst", StringType, nullable = false),
    StructField("relType", StringType, nullable = false),
    StructField("source", StringType),
    StructField("recorded", LongType)))

  /** Reverse-edge index row: the edge key re-clustered by dst hash —
    * incoming-edge probes prune on `bucket=H(dst)` directories.
    */
  val redgeSchema: StructType = StructType(Seq(
    StructField("dst", StringType, nullable = false),
    StructField("src", StringType, nullable = false),
    StructField("relType", StringType, nullable = false)))
}
