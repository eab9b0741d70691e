package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A user-declared search index over node properties — the Neo4j 5
  * `CREATE VECTOR INDEX` / `CREATE FULLTEXT INDEX` surface (the two
  * index procedures real apps ported from Neo4j call first:
  * `db.index.vector.queryNodes`, `db.index.fulltext.queryNodes`).
  * Declared via Cypher DDL through D1 `Query()`
  * (/root/reference/layer.go:24), persisted in `<root>/_indexes.json`,
  * and its DATA table maintained by every [[GraphStore.commit]] with
  * the same bounded-rewrite delta the reverse-edge index rides.
  *
  * `centroids` is the trained IVF coarse quantizer of a vector index
  * (K×dims, trained once at build from the snapshot — the
  * build-once/query-for-weeks artifact); empty = untrained (no data
  * yet), trained lazily by the first data-bearing commit.
  */
case class IndexDef(
    name: String,
    kind: String, // "vector" | "fulltext" | "property"
    label: String,
    property: String, // fulltext: comma-joined for multi-property
    dims: Int = 0,
    similarity: String = "cosine",
    centroids: Seq[Seq[Double]] = Nil,
    // vector-index scale dials (OPTIONS {indexConfig:
    // {`graft.ivf.cells`: k, `graft.ivf.nprobe`: n}}); 0 = auto —
    // cells scale with the snapshot size at build time (and
    // GraphStore.maintain retrains when the data outgrows them),
    // nprobe scales as ~√cells/2 so the probed fraction SHRINKS as
    // the index grows instead of staying a constant nprobe/K
    cells: Int = 0,
    nprobe: Int = 0,
    // fulltext analyzer (Neo4j's `fulltext.analyzer` indexConfig):
    // "standard-no-stop-words" (the Neo4j default — lowercase, split
    // on non-alphanumeric) or "whitespace" (case-sensitive \s+ split).
    // Sidecar entries written before this field read back as
    // "whitespace" — what those indexes were built with.
    analyzer: String = SearchIndexes.StandardAnalyzer,
    // "NODE" | "RELATIONSHIP" (`FOR ()-[r:T]-()`): a relationship
    // index sources the EDGE table — label holds the relType, the
    // document identity is src·relType·dst, and the indexable
    // property surface is `source` (edges carry no other properties
    // in this model, matching the reference's bare refs)
    entity: String = "NODE",
    // proximity-graph tier (`graft.graph.degree` indexConfig): >0
    // persists an NSW-style adjacency table beside the IVF cells
    // (vg_<name>) and queryNodes beam-searches it instead of probing
    // cells — the high-recall path at a bounded scan. graphEntries
    // are the per-cell entry gids (the HNSW upper-layer analog),
    // computed at build and persisted with the quantizer.
    graphDeg: Int = 0,
    graphEntries: Seq[String] = Nil,
    // range-partition boundaries of a property index's ORDER-
    // PRESERVING `sect=r` section (sortable-encoded values, sorted;
    // row → bucket = count of boundaries ≤ its value). Trained once
    // from the snapshot at the first data-bearing commit (the
    // build-once artifact, like the IVF quantizer) and persisted in
    // the sidecar so probe mapping and write assignment agree across
    // processes; maintain() retrains on 2× row-count drift.
    // `boundaryN` is the row count at training time (0 = untrained).
    // `boundariesV` is the manifest version whose sect=r layout was
    // bucketed with these boundaries: the planner routes only when
    // the VISIBLE manifest is at least that version, so a reader in
    // the train/retrain window (sidecar written, pointer not yet
    // flipped) can never pair new boundaries with an older layout
    // and prune a probe to the wrong bucket span.
    boundaries: Seq[String] = Nil,
    boundaryN: Long = 0,
    boundariesV: Long = 0,
    // declared constraint riding this def: "" (none), "unique"
    // (kind="property" — the px table IS the enforcement probe, the
    // constraint-backed-index model Neo4j uses), or "exists"
    // (kind="constraint" — no table; the commit checks the batch
    // frame). Enforcement happens inside GraphStore.commit BEFORE the
    // pointer flip: a violating batch throws ConstraintViolation and
    // commits nothing.
    constraint: String = "",
    // quantized STORAGE of the persisted vector tier
    // (`graft.quantization` indexConfig): "" = raw float64 rows,
    // "sq8" = per-dimension 8-bit scalar codes against a [min, max]
    // codebook trained at build (8× smaller rows; sqMn/sqMx persist
    // beside the centroids), "bq" = 1-bit sign codes packed 32/word
    // (64×; hamming candidates). Queries score codes cell-pruned,
    // shortlist, then exact-rescore the shortlist's float vectors
    // from the node rows — the quantize-then-rescore recipe, now
    // BEHIND the index DDL instead of only in the registry kernels.
    quant: String = "",
    sqMn: Seq[Double] = Nil,
    sqMx: Seq[Double] = Nil,
    // Z-ORDER point index (`CREATE POINT INDEX … ON (n.x, n.y)`):
    // the table's single section (sect=z) stores 64-bit Morton keys
    // of the two coordinates' sortable bits, range-partitioned by the
    // SAME trained-boundary machinery as sect=r — a bbox/distance
    // probe decomposes into O(few) contiguous z-ranges (quadtree
    // cover), giving true two-dimensional pruning where a coordinate
    // band reads a whole stripe
    zorder: Boolean = false) {
  def tableName: String = kind match {
    case "vector" => "vx_" + name
    case "fulltext" => "ft_" + name
    case _ => "px_" + name
  }
  /** the proximity-graph companion table (graphDeg > 0 only) */
  def graphTableName: String = "vg_" + name
  /** a fulltext index over several properties (`ON EACH [n.a, n.b]`)
    * stores them comma-joined; the document text is their
    * space-concatenation (the BM25F-without-field-weights model) */
  def properties: Seq[String] = property.split(",").map(_.trim).toSeq
  /** cells a query probes: the configured override, else ~√K/2 of
    * the TRAINED cell count (2 at the 16-cell default) */
  def effectiveNProbe: Int =
    if (nprobe > 0) nprobe
    else SearchIndexes.autoNProbe(
      if (centroids.nonEmpty) centroids.size else SearchIndexes.K)
}

/** Kernels shared by index build, per-commit delta maintenance, and
  * the query procedures — one deterministic definition of
  * tokenization / vector extraction / cell assignment, so the rows a
  * commit writes are exactly the rows a query (and the DuckDB oracle)
  * recomputes.
  *
  * Scale shape:
  *  - vector table `vx_<name>`: `(gid, cell, v, norm)` partitioned by
  *    `cell=<cid>/bucket=H(gid)` — a query probes nprobe cells and
  *    reads ONLY those directories (the IVF inverted-list layout).
  *  - fulltext table `ft_<name>`: `(sect, term, gid, tf, dl)`
  *    partitioned by `sect=t/bucket=H(term)` — a query prunes to its
  *    terms' buckets (query-term-first, never a corpus scan), plus a
  *    single-row `sect=s` stats partition carrying (N, Σdl) for BM25,
  *    updated incrementally.
  */
object SearchIndexes {
  /** IVF cells (coarse-quantizer K) and Lloyd refinement steps —
    * the DEFAULT cell count (≤ ~16k vectors) stays a fixed small
    * constant so the DuckDB oracle can unroll training */
  val K = 16
  val TrainIters = 2
  /** cells probed by a vector query at the default cell count
    * (home + 1 neighbor) */
  val NProbe = 2
  /** auto-scaled cell count: ~[[AutoCellRows]] vectors per cell,
    * never below the oracle-replay default of [[K]], capped at 4096
    * (a 4096×dims centroid table still broadcasts in KBs). The probed
    * fraction under [[autoNProbe]] is then ~1/(2√K) — it SHRINKS as
    * the corpus grows, which is the whole point of the index. */
  val AutoCellRows = 1024L
  val MaxCells = 4096
  /** test hook: shrink the rows-per-cell target so specs can trigger
    * the maintain() retrain watermark on small fixtures; production
    * always runs at [[AutoCellRows]] (build and retrain read the same
    * dial, so they agree by construction) */
  @volatile private[graft] var cellRowsDial: Long = AutoCellRows
  def autoCells(n: Long): Int =
    math.max(K, math.min(MaxCells.toLong,
      (n + cellRowsDial - 1) / cellRowsDial).toInt)
  /** default probe width ~√K/2: 2 at K=16, 11 at K=500, 32 at K=4096 */
  def autoNProbe(k: Int): Int =
    math.max(NProbe, math.ceil(math.sqrt(k.toDouble)).toInt / 2)

  val vxSchema: StructType = StructType(Seq(
    StructField("cell", StringType, nullable = false),
    StructField("gid", StringType, nullable = false),
    StructField("v", ArrayType(DoubleType)),
    StructField("norm", DoubleType)))

  /** quantized vector-table rows: `code` replaces the float64 array —
    * one signed byte per dimension (sq8, value−128 so 0..255 fits) or
    * one long per 32 sign bits (bq). `norm` keeps the ORIGINAL
    * vector's norm (approximate scoring normalizes with it; the exact
    * rescore reads the float vector from the node row). */
  val vxq8Schema: StructType = StructType(Seq(
    StructField("cell", StringType, nullable = false),
    StructField("gid", StringType, nullable = false),
    StructField("code", ArrayType(ByteType)),
    StructField("norm", DoubleType)))

  val vxbqSchema: StructType = StructType(Seq(
    StructField("cell", StringType, nullable = false),
    StructField("gid", StringType, nullable = false),
    StructField("code", ArrayType(LongType)),
    StructField("norm", DoubleType)))

  def vxSchemaOf(d: IndexDef): StructType = d.quant match {
    case "sq8" => vxq8Schema
    case "bq" => vxbqSchema
    case _ => vxSchema
  }

  /** per-dimension SQ8 code of `v` under the trained [mn, mx]
    * codebook: round((x−mn)·255/(mx−mn)), clamped, stored −128 so it
    * fits a signed byte. Deterministic — the delta's removed rows
    * byte-match the stored rows because the codebook is fixed after
    * build. */
  def sq8Encode(v: Column, mn: Seq[Double], mx: Seq[Double]): Column =
    transform(v, (x, i) => {
      val lo = element_at(typedLit(mn), i + 1)
      val hi = element_at(typedLit(mx), i + 1)
      val q = when(hi <= lo, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          round((x - lo) * 255.0 / (hi - lo), 0).cast("long"))))
      (q - 128).cast("byte")
    })

  /** 1-bit sign pack of `v`: word w holds dims [32w, 32w+31] as bits
    * (2^b added when the dim is positive — the v_knn_bq kernel's
    * packing, 32 bits/word so 2^b never touches the sign bit) */
  def bqEncode(v: Column, dims: Int): Column =
    transform(sequence(lit(0), lit((dims + 31) / 32 - 1)), w =>
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, b) =>
        acc + when(
          coalesce(try_element_at(v, w * 32 + b + 1), lit(0.0)) > 0,
          pow(lit(2.0), b).cast("long")).otherwise(lit(0L))))

  /** driver twin of [[bqEncode]] for the query vector */
  def bqEncodeLocal(q: Seq[Double], dims: Int): Seq[Long] =
    (0 until (dims + 31) / 32).map { w =>
      (0 until 32).foldLeft(0L) { (acc, b) =>
        val i = w * 32 + b
        if (i < q.length && q(i) > 0) acc + (1L << b) else acc
      }
    }

  /** map assigned `(cell, gid, v, norm)` rows to the def's STORAGE
    * schema (identity for raw defs) */
  def storageRows(assigned: DataFrame, d: IndexDef): DataFrame =
    d.quant match {
      case "sq8" => assigned.select(col("cell"), col("gid"),
        sq8Encode(col("v"), d.sqMn, d.sqMx).as("code"), col("norm"))
      case "bq" => assigned.select(col("cell"), col("gid"),
        bqEncode(col("v"), d.dims).as("code"), col("norm"))
      case _ => assigned
    }

  /** per-dimension [min, max] SQ8 codebook of the snapshot's vectors
    * — trained once at build beside the centroids */
  def trainSq8Codebook(vecs: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = vecs.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** sect "t" = token rows (term,gid,tf,dl,pos[,fld,off,dlt]);
    * sect "s" = stats rows — ONE global row
    * (term="",gid="__stats",tf=N_docs,dl=Σdl) plus, in PER-FIELD
    * tables, one row per indexed field (gid="__stats:<fld>",
    * tf=docCount_fld, dl=Σdl_fld — Lucene's per-field collection
    * statistics, what BM25F scoring needs). `pos` carries the term's
    * 0-based token positions within the doc (Lucene's positional
    * postings) — phrase and slop queries verify on it instead of
    * re-reading stored text.
    *
    * Per-field token rows (the `sect=f` marker asserts them): one row
    * per (fld, term, gid) with the FIELD's own tf/dl and field-LOCAL
    * positions; `off` is the field's token offset within the
    * concatenated document and `dlt` the total document length, so
    * the concatenated view (unscoped scoring, cross-field phrases)
    * reconstructs bit-exactly by aggregation —
    * tf_cat = Σ tf_fld, dl_cat = dlt, pos_cat = ∪ (pos_fld + off) —
    * while field-scoped leaves (`title:spark`) score per-field BM25
    * straight off the rows, no stored-text verification. */
  val ftSchema: StructType = StructType(Seq(
    StructField("sect", StringType, nullable = false),
    StructField("term", StringType),
    StructField("gid", StringType),
    StructField("tf", LongType),
    StructField("dl", LongType),
    StructField("pos", ArrayType(IntegerType)),
    StructField("fld", StringType),
    StructField("off", LongType),
    StructField("dlt", LongType)))

  /** property-value index row (`CREATE INDEX … FOR (n:L) ON (n.p)`):
    * one row per (node, scalar value), laid out as
    * `sect=p/bucket=H(val)` directories so an equality lookup reads
    * ONE bucket directory — and, files being sorted by `val`, parquet
    * min/max stats prune inside it. `sect` is the constant "p" (the
    * manifest-key scheme wants a partition directory level). */
  val pxSchema: StructType = StructType(Seq(
    StructField("sect", StringType, nullable = false),
    StructField("val", StringType),
    StructField("gid", StringType, nullable = false)))

  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** label membership on a raw node row (primary or secondary) */
  private def labelMember(l: String): Column =
    col("label") === l ||
      (col("xlabels").isNotNull && array_contains(col("xlabels"), l))

  /** `(gid, v, norm)` of every live node of the def's label carrying
    * the property as a non-empty list — the vector extraction the
    * build, the delta, and the fallback scan all share. */
  def vectors(nodes: DataFrame, d: IndexDef): DataFrame = {
    val lst = col("props").getItem(d.property).getField("a")
    nodes
      .filter(labelMember(d.label) && lst.isNotNull && size(lst) > 0)
      .select(col("gid"),
        transform(lst, x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
  }

  /** `(gid, fs)` of every live node of the def's label carrying at
    * least one indexed property as a non-empty string: `fs` holds
    * each indexed property's string (in [[IndexDef.properties]]
    * order, absent → ""). Change detection joins on the field ARRAY,
    * not the concatenation: two different field splits can
    * concatenate identically ("a b"+"c" vs "a"+"b c"), and a
    * per-field index must see that edit. */
  def fieldDocs(nodes: DataFrame, d: IndexDef): DataFrame = {
    val parts = d.properties.map(p =>
      col("props").getItem(p).getField("s"))
    val txt =
      if (parts.size == 1) parts.head
      else concat_ws(" ", parts.map(p => trim(coalesce(p, lit("")))): _*)
    nodes
      .filter(labelMember(d.label) &&
        parts.map(_.isNotNull).reduce(_ || _) && length(trim(txt)) > 0)
      .select(col("gid"),
        array(parts.map(p => coalesce(p, lit(""))): _*).as("fs"))
  }

  /** Canonical string encoding of a scalar property value — the ONE
    * definition of the property-index key, shared by the build/delta
    * extraction (Column form) and the planner's driver-side probe
    * (encodeValue). Strings keep their text under an `s:` tag;
    * numbers (long OR double slot) canonicalize through double under
    * `n:` so `{age: 42}` finds a node stored with 42.0 — the same
    * numeric-equality semantics the unindexed filter (propCmp) has.
    * Collisions from the double round-trip (longs past 2^53) only
    * widen the candidate set; the residual filter the planner keeps
    * removes them. */
  def encodeScalar(pv: Column): Column =
    when(pv.getField("s").isNotNull, concat(lit("s:"), pv.getField("s")))
      .when(pv.getField("l").isNotNull,
        concat(lit("n:"), pv.getField("l").cast("double").cast("string")))
      .when(pv.getField("d").isNotNull,
        concat(lit("n:"), pv.getField("d").cast("string")))
      .when(pv.getField("b").isNotNull,
        concat(lit("b:"), pv.getField("b").cast("string")))

  /** driver-side twin of [[encodeScalar]]; None = a type the index
    * doesn't key (lists, nulls) — the caller falls back to the scan */
  def encodeValue(v: Any): Option[String] = v match {
    case s: String => Some("s:" + s)
    case i: Int => Some("n:" + i.toDouble.toString)
    case l: Long => Some("n:" + l.toDouble.toString)
    case f: Float => Some("n:" + f.toDouble.toString)
    case d: Double => Some("n:" + d.toString)
    case b: Boolean => Some("b:" + b.toString)
    case _ => None
  }

  /** separator of a COMPOSITE index's tuple key: the encoded values
    * of `ON (n.a, n.b)` join under a control character (the ekey
    * recipe — values containing it only widen the candidate set; the
    * residual equality predicates keep exactness) */
  val CompositeSep = "\u0001"

  /** EXACT canonical key of a scalar property value - the
    * constraint-enforcement twin of [[encodeScalar]], which
    * canonicalizes longs through double and so collides distinct
    * longs past 2^53 (fine for query routes, whose residual filters
    * keep exactness; NOT fine for a uniqueness veto, which would
    * reject a valid batch). Longs render digit-exact; doubles render
    * via their exact long when integral and long-representable (so
    * 42L and 42.0 still share one key - Neo4j's numeric-equality
    * uniqueness) and their own notation otherwise (no long can
    * collide there: the long-representable cut is exactly [−2^63,
    * 2^63), so a double outside it can never equal any long). */
  def encodeScalarExact(pv: Column): Column = {
    val d = pv.getField("d")
    when(pv.getField("s").isNotNull, concat(lit("s:"), pv.getField("s")))
      .when(pv.getField("l").isNotNull,
        concat(lit("n:"), pv.getField("l").cast("string")))
      .when(d.isNotNull, concat(lit("n:"),
        // integral doubles canonicalize through long over the FULL
        // long-representable range: every double strictly below 2^63
        // (and ≥ −2^63) that equals floor(d) is exactly a long, so an
        // equal-valued long/double pair always shares one exact key —
        // no digit-vs-scientific rendering split in (9.2e18, 2^63)
        when(d === floor(d) && d >= -9.223372036854775808e18 &&
            d < 9.223372036854775808e18,
          d.cast("long").cast("string"))
          .otherwise(d.cast("string"))))
      .when(pv.getField("b").isNotNull,
        concat(lit("b:"), pv.getField("b").cast("string")))
  }

  /** [[propRows]] plus an EXACT tuple key column: `val` is the lossy
    * index key (what the committed px rows are joined on), `xval` the
    * exact key (escComp-framed for composites - injective, so
    * distinct tuples can never alias). Constraint enforcement
    * batch-dup checks group on `xval`; committed-probe candidates
    * join on `val` and are then verified against `xval`. */
  def propRowsExact(nodes: DataFrame, d: IndexDef): DataFrame = {
    val ps = d.properties
    if (ps.size == 1) {
      val pv = col("props").getItem(d.property)
      nodes.filter(labelMember(d.label) && pv.isNotNull)
        .select(encodeScalar(pv).as("val"),
          encodeScalarExact(pv).as("xval"), col("gid"))
        .filter(col("val").isNotNull && col("xval").isNotNull)
    } else {
      val pvs = ps.map(p => col("props").getItem(p))
      val lossy = pvs.map(encodeScalar).flatMap(e =>
        Seq(e, lit(CompositeSep))).dropRight(1)
      val exact = pvs.map(pv => escComp(encodeScalarExact(pv)))
      nodes.filter(labelMember(d.label) &&
          pvs.map(_.isNotNull).reduce(_ && _))
        .select(concat(lossy: _*).as("val"),
          concat(exact: _*).as("xval"), col("gid"))
        .filter(col("val").isNotNull && col("xval").isNotNull)
    }
  }

  /** `(sect="p", val, gid)` of every live node of the def's label
    * carrying the property as a non-null scalar — the build, the
    * delta, and the planner's probe all key on exactly these rows.
    * A composite def keys the tuple of ALL its properties (rows exist
    * only when every indexed property is a non-null scalar — Neo4j's
    * composite-index semantics). */
  def propRows(nodes: DataFrame, d: IndexDef): DataFrame = {
    val ps = d.properties
    if (ps.size == 1) {
      val pv = col("props").getItem(d.property)
      nodes
        .filter(labelMember(d.label) && pv.isNotNull)
        .select(lit("p").as("sect"), encodeScalar(pv).as("val"),
          col("gid"))
        .filter(col("val").isNotNull)
    } else {
      val pvs = ps.map(p => col("props").getItem(p))
      // concat (not concat_ws): any null/unkeyable component nulls
      // the whole tuple key, so the row leaves the index instead of
      // silently collapsing onto a shorter key
      val parts = pvs.map(encodeScalar).flatMap(e =>
        Seq(e, lit(CompositeSep))).dropRight(1)
      nodes
        .filter(labelMember(d.label) && pvs.map(_.isNotNull).reduce(_ && _))
        .select(lit("p").as("sect"), concat(parts: _*).as("val"),
          col("gid"))
        .filter(col("val").isNotNull)
    }
  }

  /** RELATIONSHIP property-index rows `(sect="p", val, gid=src)` —
    * a Neo4j 5 `CREATE INDEX FOR ()-[r:T]-() ON (r.p)` analog. The
    * edge model carries exactly `source` and `type`
    * (/root/reference/neo4j.go:120-123), so those are the indexable
    * keys; `type` encodes the relType (probing it is partition
    * pruning by other means, but stays correct). Rows are DISTINCT
    * (val, src) pairs: the planner resolves matched src gids and
    * prunes the main edge read to their hash buckets, so per-edge
    * identity is unnecessary — and distinctness makes the delta's
    * old-vs-new anti-join an exact set difference (every edge of one
    * (relType, H(src)) partition lives in one place, so a dirty
    * partition's old/new content determines its rows completely).
    */
  def relPropRows(edges: DataFrame, d: IndexDef): DataFrame = {
    val pv = d.property match {
      case "source" => col("source")
      case "type" => col("relType")
      case _ => lit(null).cast("string")
    }
    edges.filter(col("relType") === d.label && pv.isNotNull)
      .select(lit("p").as("sect"), concat(lit("s:"), pv).as("val"),
        col("src").as("gid"))
      .distinct()
  }

  // ---- Z-order point index (sect=z) ----

  /** spread the low 32 bits of `c` to the even bit positions of a
    * 64-bit word (the classic 5-step Morton spread) */
  def zSpread(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFFFFFL))
    x = x.bitwiseOR(shiftleft(x, 16))
      .bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 64-bit Morton key of two doubles as fixed-width hex: interleave
    * the TOP 32 bits of each coordinate's sortable-double bits (x on
    * even positions, y on odd). Truncating to 32 bits/coord only
    * coarsens the pruning granularity (~2⁻³² relative) — the exact
    * spatial predicate stays residual. Fixed-width uppercase hex
    * makes lexical order = unsigned numeric order, so the trained
    * range boundaries partition z-space order-preservingly.
    */
  def zKeyCol(xd: Column, yd: Column): Column = {
    val sx = shiftrightunsigned(graft.functions.DoubleSortBits(xd), 32)
    val sy = shiftrightunsigned(graft.functions.DoubleSortBits(yd), 32)
    lpad(hex(zSpread(sx).bitwiseOR(shiftleft(zSpread(sy), 1))), 16, "0")
  }

  /** driver twins — bit-identical to the column kernels above */
  def zSpreadL(v0: Long): Long = {
    var x = v0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    (x | (x << 1)) & 0x5555555555555555L
  }
  def zKeyOf(x32: Long, y32: Long): Long =
    zSpreadL(x32) | (zSpreadL(y32) << 1)
  def zHex(z: Long): String = f"$z%016X"
  /** top 32 sortable bits of a coordinate (order-preserving) */
  def zCoord(d: Double): Long =
    graft.functions.DoubleSortBits.bits(d) >>> 32

  /** `(sect="z", val = Morton hex, gid)` of every live node of the
    * def's label carrying BOTH coordinate properties as numbers */
  def zPointRows(nodes: DataFrame, d: IndexDef): DataFrame = {
    val Seq(xp, yp) = d.properties
    def numOf(p: String): Column = {
      val pv = col("props").getItem(p)
      coalesce(pv.getField("d"), pv.getField("l").cast("double"))
    }
    val (xn, yn) = (numOf(xp), numOf(yp))
    nodes.filter(labelMember(d.label) && xn.isNotNull && yn.isNotNull)
      .select(lit("z").as("sect"), zKeyCol(xn, yn).as("val"), col("gid"))
  }

  /** quadtree cover of the query rectangle (32-bit sortable coords)
    * as ≤ `maxRanges` contiguous UNSIGNED z-ranges — maximal cells
    * fully inside emit exactly; boundary cells past the budget emit
    * their whole cell range (a superset; residuals keep exactness).
    * A quadtree-aligned cell's Morton keys are contiguous, so each
    * emitted cell is one [zmin, zmax] span.
    */
  def zCover(xlo: Long, xhi: Long, ylo: Long, yhi: Long,
      maxRanges: Int = 64): Seq[(Long, Long)] = {
    if (xlo > xhi || ylo > yhi) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val queue = scala.collection.mutable.Queue((0L, 0L, 32))
    while (queue.nonEmpty) {
      val (cx, cy, b) = queue.dequeue()
      val xl = cx << b; val xh = xl | ((1L << b) - 1)
      val yl = cy << b; val yh = yl | ((1L << b) - 1)
      if (!(xh < xlo || xl > xhi || yh < ylo || yl > yhi)) {
        val contained = xl >= xlo && xh <= xhi && yl >= ylo && yh <= yhi
        if (contained || b == 0 || out.size + queue.size >= maxRanges)
          out += ((zKeyOf(xl & 0xFFFFFFFFL, yl & 0xFFFFFFFFL),
            zKeyOf(xh & 0xFFFFFFFFL, yh & 0xFFFFFFFFL)))
        else {
          queue.enqueue((cx << 1, cy << 1, b - 1))
          queue.enqueue(((cx << 1) | 1, cy << 1, b - 1))
          queue.enqueue((cx << 1, (cy << 1) | 1, b - 1))
          queue.enqueue(((cx << 1) | 1, (cy << 1) | 1, b - 1))
        }
      }
    }
    // merge overlapping/adjacent spans in unsigned order
    val sorted = out.sortBy(r => r._1 ^ Long.MinValue)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (lo, hi) =>
      merged.lastOption match {
        case Some((plo, phi))
            if java.lang.Long.compareUnsigned(lo, phi) <= 0 ||
              (phi + 1 == lo && phi != -1L) =>
          if (java.lang.Long.compareUnsigned(hi, phi) > 0)
            merged(merged.size - 1) = (plo, hi)
        case _ => merged += ((lo, hi))
      }
    }
    merged.toSeq
  }

  /** VALUE-DICTIONARY rows `(sect="w", val, gid=<owner count>)` of a
    * single-property index's STRING values — one row per DISTINCT
    * stored string, `gid` carrying the owner count so the per-commit
    * delta can adjust it (a value leaves the dictionary when its last
    * owner does — the ft `sect=d` recipe pointed at property values).
    * The dictionary is vocabulary-sized (≪ the rows) and hash-shares
    * buckets with the equality section, so a CONTAINS / ENDS WITH
    * predicate expands against it and then reads EXACTLY the matched
    * values' `sect=p` buckets — never the label partition, and never
    * a full index scan. Strings only: the engine's string predicates
    * test the strict `s` slot, so no other type can match them. */
  def valueDictRows(propRows: DataFrame): DataFrame =
    propRows.filter(col("sect") === "p" && col("val").startsWith("s:"))
      .groupBy(col("val"))
      .agg(count(lit(1)).as("n"))
      .select(lit("w").as("sect"), col("val"),
        col("n").cast("string").as("gid"))

  /** ORDER-PRESERVING twin of [[encodeScalar]] — the `sect=r` section
    * key. Lexical (UTF8-byte) order of the encoding equals the value
    * order within each type region: strings keep their text ("s:"),
    * numbers render their IEEE total-order bits as fixed-width hex
    * ("n:", so "n.p > 30" maps to one contiguous key range even
    * across negative values), booleans "b:0"/"b:1". The regions
    * themselves sort "b:" < "n:" < "s:", so a typed range never
    * crosses into another type's buckets. */
  def encodeSortable(pv: Column): Column = {
    val num = org.apache.spark.sql.functions.coalesce(
      pv.getField("l").cast("double"), pv.getField("d"))
    when(pv.getField("s").isNotNull, concat(lit("s:"), pv.getField("s")))
      .when(num.isNotNull, concat(lit("n:"),
        lpad(hex(graft.functions.DoubleSortBits(num)), 16, "0")))
      .when(pv.getField("b").isNotNull, concat(lit("b:"),
        when(pv.getField("b"), lit("1")).otherwise(lit("0"))))
  }

  /** driver-side twin of [[encodeSortable]] (probe bounds); None = a
    * type the range section doesn't key */
  def encodeSortableValue(v: Any): Option[String] = {
    def num(d: Double): String =
      "n:" + f"${graft.functions.DoubleSortBits.bits(d)}%016X"
    v match {
      case s: String => Some("s:" + s)
      case i: Int => Some(num(i.toDouble))
      case l: Long => Some(num(l.toDouble))
      case f: Float => Some(num(f.toDouble))
      case d: Double => Some(num(d))
      case b: Boolean => Some("b:" + (if (b) "1" else "0"))
      case _ => None
    }
  }

  /** Order-preserving, injective component framing of a COMPOSITE
    * range key: content bytes \u0000 and \u0001 escape to
    * \u0001\u0002 / \u0001\u0003 and every component terminates
    * with \u0000. The terminator byte is strictly below every escaped
    * content byte, so (a) lexicographic order of framed tuples equals
    * component-wise order: an equality-bound prefix makes its span
    * CONTIGUOUS, and (b) distinct tuples can never collide (the
    * unescaped-separator ambiguity the equality tuple key tolerates
    * via residuals would break span pruning here). The \u0001 escape
    * runs first so the \u0000 escape's introduced \u0001s are not
    * re-escaped.
    */
  def escComp(c: Column): Column =
    concat(regexp_replace(regexp_replace(c, "\u0001", "\u0001\u0003"),
      "\u0000", "\u0001\u0002"), lit("\u0000"))

  /** driver-side twin of [[escComp]] (probe-key construction) */
  def escCompStr(s: String): String =
    s.replace("\u0001", "\u0001\u0003")
      .replace("\u0000", "\u0001\u0002") + "\u0000"

  /** `(sect="r", val, gid)` rows of the range section — the same
    * (node, scalar) pairs as [[propRows]] under the sortable
    * encoding. A composite def keys the [[escComp]]-framed tuple of
    * ALL components' sortable encodings (rows exist only when every
    * indexed property is a keyable scalar): an equality-bound prefix
    * plus a bound on the NEXT component then maps to one contiguous
    * key range — Neo4j's composite range-index read shape. */
  def propRangeRows(nodes: DataFrame, d: IndexDef): DataFrame = {
    val ps = d.properties
    if (ps.size == 1) {
      val pv = col("props").getItem(d.property)
      nodes
        .filter(labelMember(d.label) && pv.isNotNull)
        .select(lit("r").as("sect"), encodeSortable(pv).as("val"),
          col("gid"))
        .filter(col("val").isNotNull)
    } else {
      val pvs = ps.map(p => col("props").getItem(p))
      // concat: any null/unkeyable component nulls the whole tuple
      // key, so the row leaves the section (propRows' rule)
      val parts = pvs.map(pv => escComp(encodeSortable(pv)))
      nodes
        .filter(labelMember(d.label) && pvs.map(_.isNotNull).reduce(_ && _))
        .select(lit("r").as("sect"), concat(parts: _*).as("val"),
          col("gid"))
        .filter(col("val").isNotNull)
    }
  }

  /** range-bucket assignment: count of boundaries ≤ the value
    * (UTF8-byte string comparison — the same comparison the driver
    * twin and parquet min/max stats use). Empty boundaries = one
    * bucket. */
  def rangeBucketExpr(v: Column, boundaries: Seq[String]): Column =
    if (boundaries.isEmpty) lit(0)
    else size(filter(typedLit(boundaries), b => b <= v))

  /** driver twin of [[rangeBucketExpr]]: UTF8String.compareTo IS the
    * executor's string ordering (Java String.compareTo differs for
    * supplementary-plane characters — using it here could map a probe
    * bound into the wrong bucket and silently skip files). Boundaries
    * are in that order ([[trainBoundaries]] sorts them), so the count
    * of boundaries ≤ v is a binary search for the first one above v. */
  def rangeBucketOf(boundaries: Seq[String], v: String): Int = {
    import org.apache.spark.unsafe.types.UTF8String
    val bs = boundaries.toIndexedSeq
    val uv = UTF8String.fromString(v)
    var (lo, hi) = (0, bs.size)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (UTF8String.fromString(bs(mid)).compareTo(uv) <= 0) lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** Train the `sect=r` boundaries from the snapshot's range rows:
    * distinct sortable keys, globally sorted, one boundary every
    * ⌈m/buckets⌉ keys — ≤ buckets-1 boundaries, equi-depth over the
    * DISTINCT key space (skew-robust: a hot key occupies one bucket,
    * it cannot widen its neighbors). A build-once full sort of the
    * slim key column, the px analog of IVF centroid training. */
  def trainBoundaries(rows: DataFrame, buckets: Int): Seq[String] = {
    val vs = rows.select(col("val")).distinct()
    val m = vs.count()
    if (m <= 1 || buckets <= 1) return Nil
    val step = math.max(1L, math.ceil(m.toDouble / buckets).toLong)
    val sample = vs.orderBy(col("val")).select(col("val")).rdd
      .zipWithIndex()
      .filter { case (_, i) => i > 0 && i % step == 0 }
      .map(_._1.getString(0))
      .collect().toSeq
    // the step-sampled collect of a globally-sorted RDD is already in
    // order; the defensive re-sort must use the SAME comparison every
    // other range-machinery site uses (UTF8 byte order — Java's
    // code-unit order differs for supplementary-plane characters)
    sample.sortWith((a, b) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b)) < 0)
      .take(buckets - 1)
  }

  /** separator of the composite edge identity a relationship index
    * keys its documents by (src SEP relType SEP dst) — a control
    * character no URI-shaped gid contains; hits re-join the edge
    * table on the recomputed composite, so it is never parsed back */
  val EdgeGidSep = "\u0001"

  /** `(gid, fs)` of every edge of a RELATIONSHIP def's relType
    * carrying a non-empty `source` — the edge-table twin of
    * [[fieldDocs]]: the edge document's single indexable field is
    * `source`, resolved as a one-slot array so the per-field
    * build/delta machinery is shared with node indexes */
  def edgeFieldDocs(edges: DataFrame, d: IndexDef): DataFrame =
    edges
      .filter(col("relType") === d.label && col("source").isNotNull &&
        length(trim(col("source"))) > 0)
      .select(concat_ws(EdgeGidSep, col("src"), col("relType"),
        col("dst")).as("gid"), array(col("source")).as("fs"))

  /** analyzer names — Neo4j's default and the legacy/explicit
    * whitespace analyzer */
  val StandardAnalyzer = "standard-no-stop-words"
  val WhitespaceAnalyzer = "whitespace"
  val Analyzers: Set[String] = Set(StandardAnalyzer, WhitespaceAnalyzer)

  /** Tokenization under an analyzer. "whitespace" is the exact t_bm25
    * tokenizer (`string_split_regex(trim(text), '\s+')` in the
    * oracle, case-SENSITIVE); "standard-no-stop-words" approximates
    * Neo4j/Lucene's default: lowercase, tokens are [a-z0-9]+ runs, so
    * "Hello," matches the query `hello`. The default stays whitespace
    * so t_bm25 and the streaming-postings twin keep their pinned
    * kernel; index paths pass the def's analyzer explicitly. */
  def termsOf(text: Column,
      analyzer: String = WhitespaceAnalyzer): Column =
    if (analyzer == StandardAnalyzer)
      filter(split(lower(trim(text)), "[^a-z0-9]+"), t => t =!= "")
    else split(trim(text), "\\s+")

  /** driver-side twin of [[termsOf]] — query strings and the
    * streaming ingest analyze with EXACTLY the index tokenizer */
  def analyze(text: String,
      analyzer: String = WhitespaceAnalyzer): Seq[String] =
    (if (analyzer == StandardAnalyzer)
      text.toLowerCase.split("[^a-z0-9]+").toSeq
    else text.trim.split("\\s+").toSeq).filter(_.nonEmpty)

  /** analyzer NORMALIZATION without tokenization — Lucene's rule
    * for wildcard and range terms (they never pass through the
    * tokenizer): the standard analyzer lowercases, whitespace keeps
    * the raw text */
  def normalizeTerm(t: String, analyzer: String): String =
    if (analyzer == StandardAnalyzer) t.toLowerCase else t

  /** the per-field ft columns, null in a frame without fields */
  private def ftNoFieldPad: Seq[Column] = Seq(
    lit(null).cast(StringType).as("fld"),
    lit(null).cast(LongType).as("off"),
    lit(null).cast(LongType).as("dlt"))

  /** token rows `(sect="t", term, gid, tf, dl, pos)` of `(gid, text)`
    * docs — `pos` holds the term's 0-based positions in analysis
    * order (sorted; tf == size(pos) by construction). The
    * concatenated-document shape: fld/off/dlt ride null. Index tables
    * hold [[tokenRowsF]] rows; this is the pinned kernel of the
    * streaming twin. */
  def tokenRows(docs: DataFrame,
      analyzer: String = WhitespaceAnalyzer): DataFrame =
    docs
      .select(col("gid"), termsOf(col("text"), analyzer).as("w"))
      .select(col("gid"), size(col("w")).cast("long").as("dl"),
        posexplode(col("w")).as(Seq("p", "term")))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("gid"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("pos0"))
      .select((Seq(lit("t").as("sect"), col("term"), col("gid"),
        col("tf"), col("dl"), col("pos0").as("pos"))
        ++ ftNoFieldPad): _*)

  /** PER-FIELD token rows of `(gid, fs)` docs (`fs` = one slot per
    * indexed field, in [[IndexDef.properties]] order): one row per
    * (fld, term, gid) carrying the field's own tf / dl / field-LOCAL
    * positions, plus the field's token offset `off` within the
    * concatenated document and the total document length `dlt`.
    * Deterministic per (gid, fs) — the delta's removed rows must be
    * byte-equal to the stored rows — and exactly aggregable back to
    * the [[tokenRows]] concatenated view (fields join with single
    * spaces, every analyzer treats the space as a separator, so
    * concatenated tokens = per-field tokens end-to-end). */
  def tokenRowsF(fdocs: DataFrame, fields: Seq[String],
      analyzer: String = WhitespaceAnalyzer): DataFrame = {
    val fldNames = array(fields.map(lit): _*)
    fdocs
      .select(col("gid"),
        transform(col("fs"),
          f => filter(termsOf(f, analyzer), t => t =!= "")).as("tw"))
      .withColumn("dlt",
        aggregate(col("tw"), lit(0L), (a, x) => a + size(x).cast("long")))
      .withColumn("offs",
        transform(sequence(lit(0), size(col("tw")) - 1), i =>
          aggregate(slice(col("tw"), lit(1), i), lit(0L),
            (a, x) => a + size(x).cast("long"))))
      .select(col("gid"), col("dlt"), col("offs"),
        posexplode(col("tw")).as(Seq("fi", "w")))
      .filter(size(col("w")) > 0)
      .select(col("gid"), col("dlt"),
        element_at(col("offs"), col("fi") + 1).as("off"),
        element_at(fldNames, col("fi") + 1).as("fld"),
        size(col("w")).cast("long").as("dl"),
        posexplode(col("w")).as(Seq("p", "term")))
      .groupBy(col("term"), col("gid"), col("fld"), col("dl"),
        col("off"), col("dlt"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("pos0"))
      .select(lit("t").as("sect"), col("term"), col("gid"),
        col("tf"), col("dl"), col("pos0").as("pos"),
        col("fld"), col("off"), col("dlt"))
  }

  /** a `(gid, fs)` doc's length: its clean token count over every
    * field — the Σ dlt the global stats row tallies */
  def docLength(fs: Column, analyzer: String): Column =
    aggregate(
      transform(fs, f =>
        size(filter(termsOf(f, analyzer), t => t =!= "")).cast("long")),
      lit(0L), (a, x) => a + x)

  /** term-dictionary rows `(sect="d", term, gid="", tf=df, dl=0)` of
    * a token-row frame — one row per DISTINCT term, `tf` carrying the
    * document frequency (distinct DOCS containing the term — in a
    * per-field frame a doc may carry the term in several fields, so
    * the count is over gids, not rows). The dictionary is
    * vocabulary-sized (≪ the postings) and hash-shares buckets with
    * them, so a prefix query expands against it instead of scanning
    * every posting file, and the per-commit delta rewrites exactly
    * the dirty term buckets of both sections together. */
  def dictRows(toks: DataFrame): DataFrame =
    toks.filter(col("sect") === "t")
      .groupBy(col("term"))
      .agg(count_distinct(col("gid")).as("df"))
      .select((Seq(lit("d").as("sect"), col("term"), lit("").as("gid"),
        col("df").as("tf"), lit(0L).as("dl"),
        lit(null).cast(ArrayType(IntegerType)).as("pos"))
        ++ ftNoFieldPad): _*)

  /** one stats row from (nDocs, sumDl) */
  def statsRow(spark: SparkSession, nDocs: Long, sumDl: Long): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row("s", "", "__stats", nDocs, sumDl, null, null, null, null)),
      ftSchema)

  /** PER-FIELD stats rows of a [[tokenRowsF]] frame: one `sect=s` row
    * per field with ≥1 posting — gid `__stats:<fld>`, tf =
    * docCount_fld (docs carrying the field), dl = Σ dl_fld (Lucene's
    * per-field collection statistics, the BM25F denominator). */
  def fieldStatsRows(toksF: DataFrame): DataFrame =
    toksF.filter(col("sect") === "t" && col("fld").isNotNull)
      .groupBy(col("fld"), col("gid"))
      .agg(max(col("dl")).as("fdl"))
      .groupBy(col("fld"))
      .agg(count(lit(1)).as("nd"), sum(col("fdl")).as("sdl"))
      .select(lit("s").as("sect"), lit("").as("term"),
        concat(lit("__stats:"), col("fld")).as("gid"),
        col("nd").as("tf"), col("sdl").as("dl"),
        lit(null).cast(ArrayType(IntegerType)).as("pos"),
        col("fld"), lit(null).cast(LongType).as("off"),
        lit(null).cast(LongType).as("dlt"))

  /** the `sect=f` marker row every full build writes (deltas carry
    * it forward). It asserts the one table shape graft maintains and
    * plans against: every token row is PER-FIELD (fld/off/dlt
    * populated, positions field-local, the stats section carrying
    * per-field rows beside the global one) and carries its positions
    * (phrase and slop run as pure index reads). Tables written by
    * older code may also hold a `sect=q` row; no reader looks at it. */
  def ftMarkerRows(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row("f", "", "__fields", 1L, 0L, null, null, null, null)),
      ftSchema)

  /** do a fulltext table's manifest keys carry the `sect=f` marker? A
    * table without it (written by older code, or never built) is not
    * ready: procedures take the unindexed path, and the next commit
    * rebuilds it in full. */
  def ftMarked(keys: Iterable[String]): Boolean =
    keys.exists(_.startsWith("sect=f"))

  /** a local DataFrame of the trained centroids `(cid, cv, cn)` */
  def centroidDf(spark: SparkSession, cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
      .toDF("cid", "cv")
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
  }

  /** the per-(row, centroid) affinity used for cell assignment AND
    * probe ranking: HIGHER is closer under both metrics. Cosine is the
    * normalized dot; euclidean is −d² expanded as 2·v·c − |c|²
    * (the |v|² term is row-constant, so dropping it keeps the argmax
    * and the determinism — one dot fold + one product, both
    * index-ordered and oracle-replayable). */
  private def affinity(sim: String, v: Column, n: Column,
      cv: Column, cn: Column): Column =
    if (sim == "euclidean") lit(2.0) * dot(v, cv) - cn * cn
    else dot(v, cv) / (n * cn)

  /** assign each `(gid, v, norm)` row its home cell: argmax affinity
    * over the broadcast centroids, ties to the LOWEST cid — the
    * deterministic assignment the oracle replays. Emits vxSchema. */
  def assignCells(vecs: DataFrame, cents: Seq[Seq[Double]],
      sim: String = "cosine"): DataFrame = {
    val spark = vecs.sparkSession
    val cd = centroidDf(spark, cents)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gid")).orderBy(col("csim").desc, col("cid"))
    vecs.crossJoin(broadcast(cd))
      .withColumn("csim",
        affinity(sim, col("v"), col("norm"), col("cv"), col("cn")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(concat(lit("c"), col("cid")).as("cell"), col("gid"),
        col("v"), col("norm"))
  }

  /** proximity-graph adjacency row: the vector rides WITH the edges
    * so a beam round reads ONE bucket-pruned row per frontier gid —
    * neighbors' vectors never need a second lookup table. `nsim`
    * keeps each edge's affinity so an incremental INSERT can splice a
    * new arrival into a neighbor's list (evicting the weakest edge)
    * without recomputing that neighbor's whole candidate set — the
    * NSW bidirectional-insert rule. */
  val vgSchema: StructType = StructType(Seq(
    StructField("sect", StringType, nullable = false), // constant "g"
    StructField("gid", StringType, nullable = false),
    StructField("v", ArrayType(DoubleType)),
    StructField("norm", DoubleType),
    StructField("nbrs", ArrayType(StringType)),
    StructField("nsim", ArrayType(DoubleType))))

  /** sq8-quantized adjacency rows (the DiskANN shape): `code`
    * replaces the float vector — 8× less IO per beam round; the beam
    * scores decoded codes and the final frontier exact-rescores from
    * the node rows */
  val vgq8Schema: StructType = StructType(Seq(
    StructField("sect", StringType, nullable = false),
    StructField("gid", StringType, nullable = false),
    StructField("code", ArrayType(ByteType)),
    StructField("norm", DoubleType),
    StructField("nbrs", ArrayType(StringType)),
    StructField("nsim", ArrayType(DoubleType))))

  def vgSchemaOf(d: IndexDef): StructType =
    if (d.quant == "sq8" && d.graphDeg > 0) vgq8Schema else vgSchema

  /** map float-vector adjacency rows to the def's STORAGE schema
    * (identity for raw defs) — edge lists and affinities were
    * computed from exact floats; only the stored vector quantizes */
  def vgStorageRows(rows: DataFrame, d: IndexDef): DataFrame =
    if (d.quant == "sq8" && d.graphDeg > 0)
      rows.select(col("sect"), col("gid"),
        sq8Encode(col("v"), d.sqMn, d.sqMx).as("code"), col("norm"),
        col("nbrs"), col("nsim"))
    else rows

  /** Column decode of stored sq8 codes back to doubles — the exact
    * arithmetic the quantized-tier query path (and the DuckDB oracle)
    * uses: dq_i = mn_i + (code_i + 128) * (mx_i - mn_i) / 255 */
  def sq8DecodeCol(code: Column, mn: Seq[Double],
      mx: Seq[Double]): Column =
    transform(code, (b, i) => {
      val lo = element_at(typedLit(mn), i + 1)
      val hi = element_at(typedLit(mx), i + 1)
      when(hi <= lo, lo).otherwise(
        lo + (b.cast("double") + lit(128.0)) * (hi - lo) / lit(255.0))
    })

  /** driver-side twin of [[sq8DecodeCol]] (the beam decodes frontier
    * rows on the driver) */
  def sq8DecodeLocal(code: Seq[Byte], mn: Seq[Double],
      mx: Seq[Double]): Seq[Double] =
    code.zipWithIndex.map { case (b, i) =>
      val lo = mn(i); val hi = mx(i)
      if (hi <= lo) lo else lo + (b.toDouble + 128.0) * (hi - lo) / 255.0
    }

  /** home + first-probe (top-2 affinity) cell assignment — one row
    * per (gid, cell), rank ≤ 2; the candidate-generation domain of
    * the proximity graph (edges only consider vectors sharing a
    * home-or-probe cell, so construction is Σ|cell|²-bounded, never
    * all-pairs — the v_knn_graph recipe) */
  def assignCells2(vecs: DataFrame, cents: Seq[Seq[Double]],
      sim: String = "cosine"): DataFrame = {
    val spark = vecs.sparkSession
    val cd = centroidDf(spark, cents)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gid")).orderBy(col("csim").desc, col("cid"))
    vecs.crossJoin(broadcast(cd))
      .withColumn("csim",
        affinity(sim, col("v"), col("norm"), col("cv"), col("cn")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 2)
      .select(concat(lit("c"), col("cid")).as("cell"), col("gid"),
        col("v"), col("norm"))
  }

  /** Adjacency rows for `members` against `candidates` (both
    * (cell, gid, v, norm) cell-exploded frames): per member gid the
    * top-`deg` same-cell candidates by affinity (ties to the lowest
    * gid — deterministic), collected in rank order. Emits vgSchema.
    * The full build passes the same frame on both sides; the
    * incremental delta passes only the ADDED members against their
    * cells' current residents. */
  def graphRows(members: DataFrame, candidates: DataFrame,
      sim: String, deg: Int): DataFrame = {
    val l = members.select(col("cell"), col("gid"), col("v"), col("norm"))
    val r = candidates.select(col("cell"), col("gid").as("gid2"),
      col("v").as("v2"), col("norm").as("norm2"))
    val aff =
      if (sim == "euclidean")
        lit(2.0) * dot(col("v"), col("v2")) - col("norm2") * col("norm2")
      else dot(col("v"), col("v2")) / (col("norm") * col("norm2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gid")).orderBy(col("s").desc, col("gid2"))
    val ranked = l.join(r, Seq("cell"))
      .filter(col("gid") =!= col("gid2"))
      .withColumn("s", aff)
      // a pair sharing both cells appears twice — same score, dedupe
      .dropDuplicates("gid", "gid2")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= deg)
    ranked.groupBy(col("gid"))
      .agg(first(col("v")).as("v"), first(col("norm")).as("norm"),
        array_sort(collect_list(
          struct(col("rk"), col("gid2"), col("s")))).as("es"))
      .select(lit("g").as("sect"), col("gid"), col("v"), col("norm"),
        transform(col("es"), x => x.getField("gid2")).as("nbrs"),
        transform(col("es"), x => x.getField("s")).as("nsim"))
  }

  /** per-cell entry points (the HNSW upper-layer analog): the LOWEST
    * gid assigned to each home cell — deterministic, ≤ K gids,
    * persisted in the sidecar beside the quantizer */
  def graphEntryPoints(assigned: DataFrame): Seq[String] =
    assigned.groupBy(col("cell"))
      .agg(min(col("gid")).as("g"))
      .collect().map(_.getString(1)).distinct.sorted.toSeq

  /** Deterministic IVF training over `(gid, v, norm)` rows: seeded
    * with the K lowest-gid vectors, [[TrainIters]] Lloyd steps with
    * integer-micro centroid means (order-independent long sums,
    * floored division — the pageRankMicro recipe), affinity assignment
    * with lowest-cid tie-break. Only the K×dim centroid table rides
    * the driver between iterations; assignment stays distributed.
    * Returns Nil when the snapshot holds no vectors. */
  def trainCentroids(vecs: DataFrame,
      sim: String = "cosine", k: Int = K): Seq[Seq[Double]] = {
    val spark = vecs.sparkSession
    var cents: Seq[Seq[Double]] = vecs.orderBy(col("gid")).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    if (cents.isEmpty) return Nil
    for (_ <- 1 to TrainIters) {
      val cd = centroidDf(spark, cents)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gid")).orderBy(col("csim").desc, col("cid"))
      val sums = vecs.crossJoin(broadcast(cd))
        .withColumn("csim",
          affinity(sim, col("v"), col("norm"), col("cv"), col("cn")))
        .withColumn("r", row_number().over(w))
        .filter(col("r") === 1)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(round(col("val") * 1e6, 0).cast("long")).as("sm"),
          count(lit(1)).as("cnt"))
        .select(col("cid"), col("pos"),
          (floor(col("sm") / col("cnt")) / 1e6).as("m"))
        .collect()
      val byCid = sums.groupBy(_.getLong(0)).map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
      cents = cents.zipWithIndex.map { case (old, i) =>
        byCid.getOrElse(i.toLong, old) // an emptied cell keeps its centroid
      }
    }
    cents
  }

  /** rank the trained cells for a query vector by the same affinity
    * (desc, cid asc); returns the top-`nprobe` cell partition
    * values ("c<cid>") */
  def probeCells(cents: Seq[Seq[Double]], q: Seq[Double],
      sim: String = "cosine", nprobe: Int = NProbe): Seq[String] = {
    def dotL(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    val qn = math.sqrt(dotL(q, q))
    cents.zipWithIndex
      .map { case (cv, i) =>
        val cn = math.sqrt(dotL(cv, cv))
        val a =
          if (sim == "euclidean") 2.0 * dotL(q, cv) - cn * cn
          else dotL(q, cv) / (qn * cn)
        (i, a)
      }
      .sortBy { case (i, a) => (-a, i) }
      .take(nprobe)
      .map { case (i, _) => s"c$i" }
  }
}
