package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.store.GraphStore

/** Lowers [[Ast.Query]] onto DataFrame plans over a [[GraphStore]]:
  * node patterns become filtered scans of the node table, hops become
  * equi-joins through the edge table (left-outer for OPTIONAL MATCH —
  * C3), variable-length hops become bounded iterative joins (the
  * driver-side loop of SURVEY §4, not a SparkStrategy), WITH becomes a
  * pipeline stage (projection + implicit grouping + HAVING), UNWIND
  * becomes explode, RETURN becomes projection/aggregation (COLLECT →
  * collect_list with Cypher's null-entry semantics — C4).
  *
  * Catalyst owns physical planning: label/property predicates push to
  * the parquet scan, the batch-sized pattern side broadcasts, AQE
  * handles skewed expansion.
  *
  * Documented simplifications (evidenced subset only):
  *  - a bare relationship variable renders as its type string; a
  *    relationship variable on a var-length hop is not bindable;
  *  - relationship-uniqueness (Neo4j's relationship isomorphism) is
  *    enforced MATCH-wide: all relationships of one MATCH clause are
  *    pairwise distinct, and a var-length hop is additionally
  *    edge-unique within itself (one row per edge-unique path,
  *    Neo4j-correct on cyclic data); the one gap is a shortestPath
  *    stretch on the array-free BFS fast path vs OTHER clause rels;
  *  - property values surface as canonical strings unless wrapped in
  *    toString/toInteger/toFloat/toBoolean (comparisons are
  *    numeric-adaptive when both sides hold numeric slots; arithmetic
  *    reads the numeric slot — double for dynamic props; `+` between
  *    two dynamic props dispatches on the runtime slots and renders
  *    canonically; un-projected ORDER BY on a dynamic prop sorts
  *    numbers before strings, by value);
  *  - inside comprehension/reduce lambdas, operand types are not
  *    statically known — arithmetic/subscripts lower through Spark's
  *    coercion; pattern predicates (exists/COUNT comparisons) apply
  *    as top-level WHERE conjuncts only; correlated subqueries
  *    (exists/COUNT{}/CALL) correlate through REUSED node variables
  *    (outer-only references inside the subquery body are unsupported);
  *  - OPTIONAL MATCH plans its whole clause standalone and left-joins
  *    it (WHERE rides in the join condition, so it may correlate with
  *    outer variables);
  *  - DISTINCT dedups scalar columns directly and map-bearing node
  *    structs by their gid identity;
  *  - write clauses interleave with reading clauses (the reference's
  *    UpdateNode template is MERGE … WITH … OPTIONAL MATCH … DELETE …
  *    SET, neo4j.go:102-109); each clause snapshots the binding table
  *    into an ordered effect, and ALL effects commit once at the end
  *    (GraphMerge.applyWrite — the single-Bolt-txn analog). A write
  *    statement without RETURN yields a one-row counters frame; with
  *    RETURN it commits first and projects the binding table's
  *    post-write values (Neo4j's CREATE … RETURN n);
  *  - reads inside a write statement see the STORE plus the statement's
  *    bindings (a MERGE binds its post-merge node via a left join);
  *    a MATCH does not observe nodes created earlier in the same
  *    statement — none of the evidenced templates needs that;
  *  - CREATE/MERGE nodes carry their gid as a property (literal OR
  *    per-row expression — the node key), and edge CREATE dedups on
  *    (src, dst, relType) — the store's edge identity (A10), i.e. the
  *    reference template's MERGE semantics (neo4j.go:116-123).
  */
class Planner(store: GraphStore, params: Map[String, Any] = Map.empty) {
  import Ast._

  case class PlanError(msg: String) extends RuntimeException(msg)

  private sealed trait VarKind
  private case object NodeVar extends VarKind
  private case object RelVar extends VarKind
  private case class ValueVar(colName: String) extends VarKind
  /** a named var-length relationship (`-[rs:T*1..2]->`): the bound
    * column carries the stretch's edge-key array; the variable
    * renders as the relationship-TYPE list, like relationships(p)
    */
  private case class RelListVar(colName: String) extends VarKind
  /** one segment of a materialized path: a fixed node, a fixed
    * relationship, or a var-length stretch (its edge-key array column
    * + traversal direction). The var-length segment's entered nodes
    * INCLUDE its final node, so no NodeSeg follows it.
    */
  private sealed trait PathSeg
  private case class NodeSeg(gidCol: String) extends PathSeg
  private case class RelSeg(relTypeCol: String) extends PathSeg
  private case class VarSeg(pathCol: String, forward: Boolean) extends PathSeg
  /** `p = …` path binding: hop count = fixedHops + the var-length
    * hops column (when the pattern has a var-length relationship);
    * `segs` is non-empty only when the statement calls nodes(p) /
    * relationships(p) (materialization is demanded — it forces the
    * enumerating expansion instead of the BFS fast path)
    */
  private case class PathVar(fixedHops: Int, hopsCol: Option[String],
      segs: Seq[PathSeg] = Nil) extends VarKind

  /** path variables the statement materializes via nodes(p) /
    * relationships(p) — pre-scanned so the expansion knows to carry
    * its edge-key arrays
    */
  private var matPathVars: Set[String] = Set.empty

  private def collectPathFnVars(q: Query): Set[String] = {
    val out = Set.newBuilder[String]
    def scan(e: Expr): Unit = e match {
      case FuncCall(n, args, _) =>
        if (n == "nodes" || n == "relationships")
          args.foreach { case VarRef(v) => out += v; case a => scan(a) }
        else args.foreach(scan)
      case Cmp(_, l, r) => scan(l); scan(r)
      case And(l, r) => scan(l); scan(r)
      case Or(l, r) => scan(l); scan(r)
      case Not(x) => scan(x)
      case IsNull(x, _) => scan(x)
      case MapLit(es) => es.foreach(x => scan(x._2))
      case ListLit(es) => es.foreach(scan)
      case InList(x, xs) => scan(x); scan(xs)
      case StrPred(_, l, r) => scan(l); scan(r)
      case CaseExpr(t, ws, e) =>
        t.foreach(scan)
        ws.foreach { case (w, v) => scan(w); scan(v) }
        e.foreach(scan)
      case Arith(_, l, r) => scan(l); scan(r)
      case Subscript(c, i) => scan(c); scan(i)
      case Slice(c, f, t) => scan(c); f.foreach(scan); t.foreach(scan)
      case ListComp(_, l, w, pr) => scan(l); w.foreach(scan); pr.foreach(scan)
      case Quant(_, _, l, p) => scan(l); scan(p)
      case ReduceExpr(_, i, _, l, b) => scan(i); scan(l); scan(b)
      case _ => ()
    }
    q.items.foreach(i => scan(i.expr))
    q.orderBy.foreach(x => scan(x._1))
    q.clauses.foreach {
      case WithClause(_, items, where, ob, _, _) =>
        items.foreach(i => scan(i.expr))
        where.foreach(scan)
        ob.foreach(x => scan(x._1))
      case MatchClause(_, _, where) => where.foreach(scan)
      case UnwindClause(e, _) => scan(e)
      case _ => ()
    }
    out.result()
  }

  private var env = Map.empty[String, VarKind]
  private var df: DataFrame = _
  private var anon = 0

  /** the sort in effect from the most recent `WITH … ORDER BY`,
    * carried as hidden `__ord_i` key columns on `df` (name, ascending).
    * openCypher collect() respects incoming row order, and a shuffle
    * into the aggregation destroys physical order — so collect re-sorts
    * each group's array by these stamped keys instead of relying on
    * arrival order (or on a global row_number window, which would
    * single-partition the sort at scale). Cleared whenever the columns
    * are dropped or the order stops being meaningful (aggregation,
    * DISTINCT, CALL re-seeding, a newer ORDER BY).
    */
  private var pendingOrder: Seq[(String, Boolean)] = Nil
  private def dropOrd(): Unit = {
    if (pendingOrder.nonEmpty)
      df = df.drop(pendingOrder.map(_._1): _*)
    pendingOrder = Nil
  }

  /** array_sort comparator restoring the stamped pipeline order inside
    * a collected group: compares struct fields k0..k(n-1) in sequence,
    * each with its own direction, null largest (Neo4j: last under ASC,
    * first under DESC)
    */
  private def orderCmp(l: Column, r: Column,
      dirs: Seq[Boolean]): Column =
    dirs.zipWithIndex.foldRight(lit(0)) { case ((asc, i), tie) =>
      val lv = l.getField(s"k$i"); val rv = r.getField(s"k$i")
      val lt = lit(if (asc) -1 else 1)
      val gt = lit(if (asc) 1 else -1)
      when(lv.isNull && rv.isNull, tie)
        .when(lv.isNull, gt) // null = +inf in value space
        .when(rv.isNull, lt)
        .when(lv < rv, lt)
        .when(lv > rv, gt)
        .otherwise(tie)
    }

  /** lambda-bound variables (list comprehensions / quantifiers /
    * reduce) — consulted before `env`, innermost binding wins. The
    * bound Column is Spark's named lambda variable, valid only while
    * the enclosing higher-order function builds its expression — which
    * is exactly the dynamic extent of [[withLambda]].
    */
  private var lambdaScope: Map[String, Column] = Map.empty
  /** static types for lambda variables where the binder knows them
    * (reduce accumulator/element) — lets arithCol pick the list/string
    * overload inside a lambda body, where colTypeOpt has no frame.
    */
  private var lambdaTypeHints: Map[String, org.apache.spark.sql.types.DataType] =
    Map.empty
  private def withLambda(bindings: (String, Column)*)(f: => Column): Column = {
    val saved = lambdaScope
    lambdaScope = lambdaScope ++ bindings
    try f finally lambdaScope = saved
  }
  private def withLambdaHints(
      hints: (String, org.apache.spark.sql.types.DataType)*)(
      f: => Column): Column = {
    val saved = lambdaTypeHints
    lambdaTypeHints = lambdaTypeHints ++ hints
    try f finally lambdaTypeHints = saved
  }
  private def fresh(prefix: String): String = { anon += 1; s"__$prefix$anon" }

  /** write effects accumulated across the statement's clauses —
    * committed ONCE at the end (the reference's single Bolt txn,
    * neo4j.go:238-284)
    */
  private val effects = Seq.newBuilder[graft.ops.GraphMerge.WriteEffect]
  private var sawDelete = false
  private var sawWrite = false

  /** set on a sub-planner running a WRITE CALL body: its effects
    * splice into the OUTER planner's list instead of committing —
    * the whole statement still commits ONCE (see applyCallWrite)
    */
  private var effectsSink: Option[Planner] = None

  private def spark = store.sparkSession

  def plan(q: Query): DataFrame = {
    if (q.unions.isEmpty) return planSingle(q)
    // UNION [ALL]: each part plans standalone (fresh planner — its own
    // env/bindings); the FINAL part's ORDER BY / SKIP / LIMIT scope to
    // the whole union, so they are stripped from the branch and
    // re-applied on the combined frame. Parts align by column NAME,
    // in the first part's order
    val (lastAll, lastQ) = q.unions.last
    val branches =
      (q.copy(unions = Nil) +: q.unions.init.map(_._2)) :+
        lastQ.copy(orderBy = Nil, skip = None, limit = None)
    val frames = branches.zipWithIndex.map { case (b, i) =>
      if (i == 0) planSingle(b)
      else new Planner(store, params).planSingle(b)
    }
    val names = frames.head.columns.toSeq
    frames.tail.foreach { f =>
      if (f.columns.toSeq.sorted != names.sorted)
        throw PlanError("UNION parts must return the same columns: " +
          s"$names vs ${f.columns.toSeq}")
    }
    var out = frames.reduce(_ unionByName _)
    if (!lastAll) out = distinctSafe(out)
    if (lastQ.orderBy.nonEmpty) {
      // union-level ORDER BY resolves against the RETURNED columns
      val sorts = lastQ.orderBy.map { case (e, asc) =>
        val name = e match {
          case VarRef(n) if names.contains(n) => n
          case other if names.contains(Render.expr(other)) =>
            Render.expr(other)
          case other => throw PlanError(
            s"UNION ORDER BY must reference a returned column: $other")
        }
        if (asc) col(quote(name)).asc_nulls_last
        else col(quote(name)).desc_nulls_first
      }
      out = out.orderBy(sorts: _*)
    }
    lastQ.skip.foreach(e => out = out.offset(boundVal(e, "SKIP").toInt))
    lastQ.limit.foreach(e => out = out.limit(boundVal(e, "LIMIT").toInt))
    out
  }

  /** every variable a SetClause assigns */
  private def setTargets(s: SetClause): Set[String] = s.items.map {
    case SetProp(v, _, _) => v
    case SetAll(v, _) => v
    case SetPlus(v, _) => v
    case SetLabelItem(v, _, _) => v
    case RemoveLabelItem(v, _, _) => v
  }.toSet

  /** every variable a SetClause's value expressions reference —
    * conservative structural walk (binder-introduced names count as
    * references; a false positive only skips a fusion)
    */
  private def setReads(s: SetClause): Set[String] = {
    def refs(x: Any): Set[String] = x match {
      case VarRef(n) => Set(n)
      case PropRef(v, _) => Set(v)
      case MapProj(v, es, _) =>
        Set(v) ++ es.flatMap(e => refs(e._2))
      case LabelPred(v, _) => Set(v)
      case _: String => Set.empty
      case o: Option[_] => o.toSeq.flatMap(refs).toSet
      case i: Iterable[_] => i.flatMap(refs).toSet
      case p: Product => p.productIterator.flatMap(refs).toSet
      case _ => Set.empty
    }
    s.items.flatMap {
      case SetProp(_, _, e) => refs(e)
      case SetAll(_, e) => refs(e)
      case SetPlus(_, e) => refs(e)
      case _ => Set.empty[String]
    }.toSet
  }

  /** Fuse runs of consecutive SET clauses into one — the reference's
    * sync templates write `SET r.source = item.source SET r.type =
    * item.type` (neo4j.go:121-123), and fusing them lets applySet
    * emit ONE patch effect per variable instead of one per clause
    * (half the dirty-key probes and working-frame passes). Safe only
    * when the later clause's values read nothing the earlier clause
    * assigns, and when fusion preserves applySet's internal ordering
    * (accumulated prop-SETs evaluate after view-updating items, so an
    * earlier clause with prop-SETs cannot absorb a later
    * view-updating item).
    */
  private def fuseSetRuns(clauses: Seq[Clause]): Seq[Clause] =
    clauses.foldLeft(Vector.empty[Clause]) {
      case (init :+ (a: SetClause), b: SetClause)
          if setReads(b).intersect(setTargets(a)).isEmpty &&
            !(a.items.exists(_.isInstanceOf[SetProp]) &&
              b.items.exists(!_.isInstanceOf[SetProp])) =>
        init :+ SetClause(a.items ++ b.items)
      case (acc, c) => acc :+ c
    }

  private def planSingle(q: Query): DataFrame = {
    matPathVars = collectPathFnVars(q)
    // count-store shape: answered from the manifest sidecar in O(1),
    // zero Spark jobs (detection bails on anything but the pure shape)
    detectCountStore(q).foreach { out => return out }
    // dictionary-served DISTINCT values: answered from the px value
    // dictionary alone, zero node-table reads
    detectDictDistinct(q).foreach { out => return out }
    // index-ordered top-k / min-max shape (consumed by nodeDf's
    // propIndexedBase; one-shot — the statement has a single MATCH)
    pxOrderWalk = detectOrderWalk(q)
    fuseSetRuns(q.clauses).foreach {
      case m: MatchClause => applyMatch(m)
      case w: WithClause => applyWith(w)
      case u: UnwindClause => applyUnwind(u)
      case c: CallSub => applyCall(c)
      case c: CallProc => applyCallProc(c)
      case c: CreateClause => applyCreate(c)
      case d: DeleteClause => applyDelete(d)
      case s: SetClause => applySet(s)
      case f: ForeachClause => applyForeach(f)
      case l: LoadCsvClause => applyLoadCsv(l)
    }
    // `RETURN 1` — a clause-less query evaluates its items once
    // against one imaginary row (Neo4j: RETURN without a reading
    // clause is a single-row projection); seeding BEFORE the item
    // rewrite lets clause-less `RETURN COUNT { … }` / EXISTS { … }
    // land their subquery machinery on the imaginary row
    if (df == null) df = seedRow()
    val items =
      rewriteSubqueryItems(expandStar(q.items))
        // endpoint property reads join their node NOW (df mutation),
        // keeping the item's ORIGINAL name via a pinned alias
        .map(i => i.copy(expr = resolveEndpointProps(i.expr),
          alias = Some(i.name)))
    val effs = effects.result()
    if (effs.nonEmpty && items.isEmpty) return effectsSink match {
      case Some(outer) =>
        // write CALL body: hand the effects to the enclosing
        // statement (ordered at the CALL's position) — no commit here
        outer.effects ++= effs
        outer.sawWrite = outer.sawWrite || sawWrite
        outer.sawDelete = outer.sawDelete || sawDelete
        spark.emptyDataFrame
      case None => executeWrite(effs)
    }
    if (effs.nonEmpty) {
      // write + RETURN: commit the statement, then project from the
      // statement's binding table — its columns carry the POST-write
      // values (created/merged bindings, SET view updates), and its
      // lineage pins the pre-commit snapshot's files, so evaluating
      // the projection after the commit stays consistent
      graft.ops.GraphMerge.applyWrite(store, effs)
    }
    // ORDER BY on an aggregate that is NOT projected (`RETURN m.gid
    // ORDER BY count(*)`): compute it as a hidden aggregation column,
    // sort, drop — Neo4j allows this on non-DISTINCT projections
    val hiddenOrd =
      if (q.distinct || !items.exists(i => containsAgg(i.expr))) Nil
      else q.orderBy.zipWithIndex.collect {
        case ((e, _), i) if containsAgg(e) && !items.exists(it =>
            it.expr == e || it.alias.contains(Ast.Render.expr(e))) =>
          (e, s"__ord_agg$i")
      }
    var out = projectReturn(items ++
      hiddenOrd.map { case (e, n) => ReturnItem(e, Some(n)) })
    if (q.distinct) out = distinctSafe(out)
    if (q.orderBy.nonEmpty) {
      val sorts = q.orderBy.map { case (e, asc) =>
        val c = hiddenOrd.find(_._1 == e).map(h => col(h._2))
          .getOrElse(resolveOrderCol(e, items))
        // Neo4j null placement: null is the largest value — last
        // under ASC, first under DESC (Spark's default is the inverse)
        if (asc) c.asc_nulls_last else c.desc_nulls_first
      }
      out = out.orderBy(sorts: _*)
    }
    if (hiddenOrd.nonEmpty) out = out.drop(hiddenOrd.map(_._2): _*)
    q.skip.foreach(e => out = out.offset(boundVal(e, "SKIP").toInt))
    q.limit.foreach(e => out = out.limit(boundVal(e, "LIMIT").toInt))
    out
  }

  /** `*` in RETURN/WITH expands to every user-named binding —
    * alphabetical (the engine's documented column order), skipping
    * internal fresh vars and path bindings */
  private def expandStar(items: Seq[ReturnItem]): Seq[ReturnItem] =
    items.flatMap {
      case ReturnItem(Star, None) =>
        env.toSeq.collect {
          case (v, NodeVar | RelVar | ValueVar(_)) if !v.startsWith("__") => v
        }.sorted.map(v => ReturnItem(VarRef(v), Some(v)))
      case it => Seq(it)
    }

  /** `[DETACH] DELETE v, …` (clause): snapshot each target's matched
    * node-gid / edge-key set as delete effects. Edge effects first, so
    * the executor's plain-DELETE connected check treats explicitly
    * deleted relationships as already gone.
    */
  private def applyDelete(d: DeleteClause): Unit = {
    if (df == null) throw PlanError("DELETE requires a preceding MATCH")
    sawDelete = true
    val nodeSets = Seq.newBuilder[DataFrame]
    val edgeSets = Seq.newBuilder[DataFrame]
    d.targets.foreach { v =>
      env.get(v) match {
        case Some(NodeVar) =>
          nodeSets += df.select(col(s"${v}__gid").as("gid"))
            .filter(col("gid").isNotNull) // OPTIONAL MATCH null binds
        case Some(RelVar) =>
          edgeSets += df.select(
            col(s"${v}__src").as("src"), col(s"${v}__dst").as("dst"),
            col(s"${v}__relType").as("relType"))
            .filter(col("src").isNotNull)
        case Some(_) =>
          throw PlanError(s"cannot DELETE a value/path variable: $v")
        case None => throw PlanError(s"unbound variable: $v")
      }
    }
    edgeSets.result().reduceOption(_ unionByName _)
      .foreach { e =>
        effects += graft.ops.GraphMerge.WriteEffect.DeleteEdges(e)
        pendingEdgeDeletes = Some(pendingEdgeDeletes
          .map(_.unionByName(e)).getOrElse(e))
      }
    nodeSets.result().reduceOption(_ unionByName _)
      .foreach { g =>
        effects += graft.ops.GraphMerge.WriteEffect.DeleteNodes(g, d.detach)
        // later MATCH clauses must not see the deleted node; DETACH
        // also hides its incident edges
        pendingNodeDeletes = Some(pendingNodeDeletes
          .map(_.unionByName(g)).getOrElse(g))
        if (d.detach)
          pendingDetachedGids = Some(pendingDetachedGids
            .map(_.unionByName(g)).getOrElse(g))
      }
  }

  /** PV-struct literal column (the node prop map's value type) */
  private def pvLit(v: Any): Column = {
    def slot(s: Any, l: Any, d: Any, b: Any, a: Column = lit(null),
        at: Column = lit(null)) = struct(
      lit(s).cast("string").as("s"), lit(l).cast("bigint").as("l"),
      lit(d).cast("double").as("d"), lit(b).cast("boolean").as("b"),
      a.cast("array<string>").as("a"), at.cast("string").as("at"))
    v match {
      case s: String => slot(s, null, null, null)
      case l: Long => slot(null, l, null, null)
      case i: Int => slot(null, i.toLong, null, null)
      case d: Double => slot(null, null, d, null)
      case b: Boolean => slot(null, null, null, b)
      case xs: Seq[_] => slot(null, null, null, null,
        array(xs.map(x => lit(x).cast("string")): _*),
        lit(xs.map(graft.model.PV.tagOf).mkString))
      case null => slot(null, null, null, null) // all-null = remove key
      case other => throw PlanError(s"unsupported value: $other")
    }
  }

  private def propsType =
    graft.store.GraphStore.nodeSchema("props").dataType

  /** the Spark type of an expression column under the current frame */
  private def colType(c: Column): org.apache.spark.sql.types.DataType =
    df.select(c).schema.head.dataType

  /** colType, but total: a column referencing a lambda variable (or no
    * frame at all) cannot be analyzed standalone — callers fall back
    * to coercion-driven lowering */
  private def colTypeOpt(c: Column): Option[org.apache.spark.sql.types.DataType] =
    try Some(colType(c))
    catch { case scala.util.control.NonFatal(_) => None }

  private def isPvMapType(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case MapType(org.apache.spark.sql.types.StringType,
        s: org.apache.spark.sql.types.StructType, _) =>
        s.fieldNames.sameElements(Array("s", "l", "d", "b", "a", "at"))
      case _ => false
    }

  /** toString with Neo4j temporal renderings: durations as ISO-8601
    * (`P1DT2H`, `PT0S` for zero), timestamps as `…T…Z`; everything
    * else is the plain string cast.
    */
  private def renderString(c: Column): Column = {
    import org.apache.spark.sql.types.{StructType, TimestampType}
    colTypeOpt(c) match {
      case Some(s: StructType) if isDurType(s) =>
        val mo = c.getField("months")
        val d = c.getField("days")
        val sec = c.getField("secs")
        val y = (mo / 12).cast("long")
        val m2 = mo % 12
        val h = floor(sec / 3600).cast("long")
        val mi = floor((sec - h * 3600) / 60).cast("long")
        val s2 = sec - h * 3600 - mi * 60
        val sStr = when(s2 % 1.0 === 0.0,
          s2.cast("long").cast("string")).otherwise(s2.cast("string"))
        def part(v: Column, suffix: String, render: Column) =
          when(v =!= 0, concat(render, lit(suffix))).otherwise(lit(""))
        val datePart = concat(
          part(y, "Y", y.cast("string")),
          part(m2, "M", m2.cast("string")),
          part(d, "D", d.cast("string")))
        val timePart = concat(
          part(h, "H", h.cast("string")),
          part(mi, "M", mi.cast("string")),
          when(s2 =!= 0.0, concat(sStr, lit("S"))).otherwise(lit("")))
        val body = concat(datePart,
          when(length(timePart) > 0, concat(lit("T"), timePart))
            .otherwise(lit("")))
        when(c.isNotNull,
          concat(lit("P"),
            when(length(body) === 0, lit("T0S")).otherwise(body)))
      case Some(TimestampType) =>
        when(pmod(unix_millis(c), lit(1000)) === 0,
          date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'"))
          .otherwise(date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
      case _ => c.cast("string")
    }
  }

  /** Neo4j toBoolean semantics: only 'true'/'false' (any case) and
    * actual booleans convert; everything else is null.
    */
  private def boolStrict(c: Column): Column =
    when(lower(c.cast("string")) === "true", lit(true))
      .when(lower(c.cast("string")) === "false", lit(false))

  /** canonical string view of a PV struct column (lists render as
    * `[e1, e2]` — the bracketed join of their canonical elements) */
  private def pvStrOf(pv: Column): Column =
    coalesce(pv.getField("s"), pv.getField("l").cast("string"),
      pv.getField("d").cast("string"), pv.getField("b").cast("string"),
      when(pv.getField("a").isNotNull,
        concat(lit("["), array_join(pv.getField("a"), ", "), lit("]"))))

  /** wrap a plain scalar column into a PV struct by its static type */
  private def wrapPv(c: Column): Column = {
    import org.apache.spark.sql.types._
    def slot(s: Column, l: Column, d: Column, b: Column,
        a: Column = lit(null), at: Column = lit(null)) = struct(
      s.cast("string").as("s"), l.cast("bigint").as("l"),
      d.cast("double").as("d"), b.cast("boolean").as("b"),
      a.cast("array<string>").as("a"), at.cast("string").as("at"))
    val nul = lit(null)
    colType(c) match {
      case StringType => slot(c, nul, nul, nul)
      case LongType | IntegerType | ShortType | ByteType =>
        slot(nul, c, nul, nul)
      case DoubleType | FloatType => slot(nul, nul, c, nul)
      case BooleanType => slot(nul, nul, nul, c)
      case NullType => slot(nul, nul, nul, nul)
      // list values store canonical-string elements in the list slot,
      // tagged per element by the STATIC element type (nulls keep the
      // uniform tag — toJsonLine emits null before consulting tags)
      case ArrayType(et, _) =>
        val tag = et match {
          case LongType | IntegerType | ShortType | ByteType => "l"
          case DoubleType | FloatType => "d"
          case BooleanType => "b"
          case _ => "s"
        }
        slot(nul, nul, nul, nul, transform(c, _.cast("string")),
          repeat(lit(tag), size(c)))
      case t if t.toString == propsType.asInstanceOf[MapType]
        .valueType.toString => c // already a PV struct
      case t => throw PlanError(s"unsupported value type: $t")
    }
  }

  /** PV-struct column of an expression — per-row (the template's
    * `item.gid` / `item.source` forms resolve through the binding
    * table, neo4j.go:103,122)
    */
  private def pvCol(e: Expr): Column = e match {
    case Lit(v) => pvLit(v)
    case Param(n) => scalarParam(n) match {
      case Some(v) => pvLit(v)
      case None => throw PlanError(s"missing or non-scalar parameter: $n")
    }
    case PropRef(v, p) => env.get(v) match {
      case Some(NodeVar) if !Set("gid", "label", "source").contains(p) =>
        col(s"${v}__props").getItem(p)
      case Some(ValueVar(cn)) if isPvMapType(colType(col(cn))) =>
        col(cn).getItem(p)
      case Some(_) => wrapPv(valueCol(e))
      case None => throw PlanError(s"unbound variable: $v")
    }
    case other => wrapPv(valueCol(other))
  }

  /** literal map<string,pv> column from a Scala map parameter value */
  private def pvMapLit(m: Map[_, _]): Column = {
    if (m.isEmpty)
      return map_from_arrays(array().cast("array<string>"),
        array().cast(
          "array<struct<s:string,l:bigint,d:double,b:boolean," +
            "a:array<string>,at:string>>"))
    map(m.toSeq.flatMap { case (k, v) =>
      Seq(lit(String.valueOf(k)), pvLit(v)) }: _*)
  }

  /** a map-valued expression (SET n = item / SET n = $props) */
  private def pvMapCol(e: Expr): Column = e match {
    case Param(n) => params.get(n) match {
      case Some(m: Map[_, _]) => pvMapLit(m)
      case _ => throw PlanError(s"parameter $n is not a map")
    }
    case MapLit(entries) =>
      map(entries.flatMap { case (k, x) => Seq(lit(k), pvCol(x)) }: _*)
    case VarRef(v) => env.get(v) match {
      case Some(ValueVar(cn)) if isPvMapType(colType(col(cn))) => col(cn)
      case _ => throw PlanError(s"SET $v = … requires a map value")
    }
    case other => throw PlanError(s"SET … = … requires a map value, got $other")
  }

  /** `SET` clause: group items per target into node/edge patch effects.
    * Node targets: property patches (`SET n.k = expr`), full-map
    * replacement (`SET n = item`, neo4j.go:108), label stamps
    * (`SET n:%s`, neo4j.go:107). Relationship targets: the edge
    * table's `source` / `type` columns (`SET r.source = item.source`,
    * neo4j.go:122-123).
    */
  /** `cond` restricts the SET to a row subset of the binding table —
    * MERGE's ON CREATE / ON MATCH sub-clauses pass the (negated)
    * matched flag; a plain SET clause passes None (all rows). Besides
    * emitting effects, the binding VIEW updates in place so later
    * clauses and a trailing RETURN read the post-SET values.
    */
  private def applySet(s: SetClause, cond: Option[Column] = None): Unit = {
    if (df == null) throw PlanError("SET requires a preceding MATCH/MERGE")
    sawWrite = true
    import graft.ops.GraphMerge.WriteEffect._
    val rowGate = cond.getOrElse(lit(true))
    /** view update guarded by the row condition */
    def guarded(old: Column, updated: Column): Column =
      cond match {
        case Some(c) => when(c, updated).otherwise(old)
        case None => updated
      }
    val emptyProps = pvMapLit(Map.empty)
    // node/rel property patches accumulate per variable (one effect each)
    val propSets = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(String, Expr)]]
    val relSets = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(String, Expr)]]
    s.items.foreach {
      case SetLabelItem(v, label0, dynE) =>
        if (!env.get(v).contains(NodeVar))
          throw PlanError(s"SET :Label target must be a node variable: $v")
        // `SET n:$(expr)`: the expression must fold to a plan-time
        // constant string (literal/parameter) — the SetLabels effect
        // is label-keyed
        val label = dynE.map(requireConstLabel(_, "SET")).getOrElse(label0)
        effects += SetLabels(df.filter(rowGate)
          .select(col(s"${v}__gid").as("gid"))
          .filter(col("gid").isNotNull), label)
        // later clauses of this statement read the edited labels —
        // Neo4j ADDITION: promote an unlabeled node, else add a
        // secondary (xlabels view first: it reads the OLD primary)
        df = df
          .withColumn(s"${v}__xlabels",
            guarded(col(s"${v}__xlabels"),
              when(col(s"${v}__label").isNull ||
                  col(s"${v}__label") === label, col(s"${v}__xlabels"))
                .otherwise(array_union(
                  coalesce(col(s"${v}__xlabels"),
                    array().cast("array<string>")),
                  array(lit(label))))))
          .withColumn(s"${v}__label",
            guarded(col(s"${v}__label"),
              coalesce(col(s"${v}__label"), lit(label))))
      case SetAll(v, e) if env.get(v).contains(RelVar) =>
        // `SET r = map`: full replacement of the relationship's
        // properties — a missing source key CLEARS it (unlike `+=`)
        val srcExpr: Expr = e match {
          case MapLit(es) =>
            val bad = es.map(_._1).filter(_ != "source")
            if (bad.nonEmpty) throw PlanError(
              s"relationship property must be source, got ${bad.mkString(", ")}")
            es.collectFirst { case ("source", x) => x }.getOrElse(Lit(null))
          case Param(n) => params.get(n) match {
            case Some(m: Map[_, _]) =>
              val bad = m.keys.map(String.valueOf).filter(_ != "source")
              if (bad.nonEmpty) throw PlanError(
                s"relationship property must be source, got ${bad.mkString(", ")}")
              m.asInstanceOf[Map[String, Any]].get("source")
                .map(Lit(_)).getOrElse(Lit(null))
            case _ => throw PlanError(s"parameter $n is not a map")
          }
          case other => throw PlanError(s"SET $v = expects a map, got $other")
        }
        relSets(v) = relSets.getOrElse(v, Vector.empty) :+
          ("new_source" -> srcExpr)
      case SetAll(v, e) =>
        if (!env.get(v).contains(NodeVar))
          throw PlanError(s"SET $v = … target must be a node variable")
        val m = pvMapCol(e)
        // model mapping (SURVEY §1.3): the map's `gid` key is the node
        // key (it matched the MERGE), `source` maps to the source
        // column, everything else becomes the fully replaced props map
        def srcOf = pvStrOf(element_at(m, "source"))
        def propsOf = map_filter(m, (k, _) => k =!= "gid" && k =!= "source")
        effects += ReplaceProps(df.filter(rowGate)
          .filter(col(s"${v}__gid").isNotNull)
          .select(col(s"${v}__gid").as("gid"),
            srcOf.as("source"), propsOf.as("props")))
        df = df
          .withColumn(s"${v}__source", guarded(col(s"${v}__source"), srcOf))
          .withColumn(s"${v}__props", guarded(col(s"${v}__props"), propsOf))
      case RemoveLabelItem(v, label0, dynE) =>
        val label = dynE.map(requireConstLabel(_, "REMOVE")).getOrElse(label0)
        if (!env.get(v).contains(NodeVar))
          throw PlanError(
            s"REMOVE :Label target must be a node variable: $v")
        effects += RemoveLabel(df.filter(rowGate)
          .filter(col(s"${v}__gid").isNotNull &&
            (col(s"${v}__label") === label ||
              (col(s"${v}__xlabels").isNotNull &&
                array_contains(col(s"${v}__xlabels"), label))))
          .select(col(s"${v}__gid").as("gid")), label)
        df = df
          .withColumn(s"${v}__xlabels",
            guarded(col(s"${v}__xlabels"),
              when(col(s"${v}__xlabels").isNotNull,
                array_remove(col(s"${v}__xlabels"), label))))
          .withColumn(s"${v}__label",
            guarded(col(s"${v}__label"),
              when(col(s"${v}__label") === label,
                lit(null).cast("string"))
                .otherwise(col(s"${v}__label"))))
      case SetPlus(v, e) if env.get(v).contains(RelVar) =>
        // `SET r += map` on a relationship: the edge model has one
        // real property — a present `source` key patches it, an
        // absent one is the `+=` no-op; other keys are rejected
        val srcExpr: Option[Expr] = e match {
          case MapLit(es) =>
            val bad = es.map(_._1).filter(_ != "source")
            if (bad.nonEmpty) throw PlanError(
              s"relationship property must be source, got ${bad.mkString(", ")}")
            es.collectFirst { case ("source", x) => x }
          case Param(n) => params.get(n) match {
            case Some(m: Map[_, _]) =>
              val bad = m.keys.map(String.valueOf).filter(_ != "source")
              if (bad.nonEmpty) throw PlanError(
                s"relationship property must be source, got ${bad.mkString(", ")}")
              m.asInstanceOf[Map[String, Any]].get("source").map(Lit(_))
            case _ => throw PlanError(s"parameter $n is not a map")
          }
          case other => throw PlanError(s"SET $v += expects a map, got $other")
        }
        srcExpr.foreach { x =>
          relSets(v) = relSets.getOrElse(v, Vector.empty) :+
            ("new_source" -> x)
        }
      case SetPlus(v, e) =>
        if (!env.get(v).contains(NodeVar))
          throw PlanError(s"SET $v += … target must be a node variable")
        val m = pvMapCol(e)
        // `+=` patches properties only; model keys are not properties
        val overlay = map_filter(m, (k, _) =>
          k =!= "gid" && k =!= "source" && k =!= "label")
        effects += PatchProps(df.filter(rowGate)
          .filter(col(s"${v}__gid").isNotNull)
          .select(col(s"${v}__gid").as("gid"), overlay.as("patch"),
            array().cast("array<string>").as("removes")))
        // view: overlay non-null entries, drop keys patched to null
        // (the executor's all-null-slot rule, mirrored per row)
        def isNullPv(pv: Column): Column =
          pv.getField("s").isNull && pv.getField("l").isNull &&
            pv.getField("d").isNull && pv.getField("b").isNull &&
            pv.getField("a").isNull
        val updated = map_concat(
          map_filter(coalesce(col(s"${v}__props"), emptyProps),
            (k, _) => !array_contains(map_keys(overlay), k)),
          map_filter(overlay, (_, pv) => !isNullPv(pv)))
        df = df.withColumn(s"${v}__props",
          guarded(col(s"${v}__props"), updated))
      case SetProp(v, prop, e) => env.get(v) match {
        case Some(NodeVar) =>
          if (Set("gid", "label", "source").contains(prop))
            throw PlanError(
              s"$prop is a model column; use SET $v:Label or SET $v = map")
          propSets(v) = propSets.getOrElse(v, Vector.empty) :+ (prop -> e)
        case Some(RelVar) =>
          val target = prop match {
            case "source" => "new_source"
            case "type" | "relType" => "new_relType"
            case other => throw PlanError(
              s"relationship property must be source or type, got $other")
          }
          relSets(v) = relSets.getOrElse(v, Vector.empty) :+ (target -> e)
        case Some(_) =>
          throw PlanError(s"SET target must be a node or relationship: $v")
        case None => throw PlanError(s"unbound variable: $v")
      }
    }
    propSets.foreach { case (v, its) =>
      // static NULLs go to `removes`; expression values that are null
      // AT RUNTIME are removed by the executor's all-null-slot rule
      val removes = its.collect { case (k, Lit(null)) => k }
      val sets = its.filter { case (_, Lit(null)) => false; case _ => true }
      val patchCol =
        if (sets.isEmpty) lit(null).cast(propsType)
        else map(sets.flatMap { case (k, x) => Seq(lit(k), pvCol(x)) }: _*)
      effects += PatchProps(df.filter(rowGate)
        .filter(col(s"${v}__gid").isNotNull)
        .select(col(s"${v}__gid").as("gid"), patchCol.as("patch"),
          array(removes.map(lit(_)): _*).cast("array<string>").as("removes")))
      // view: drop removed keys, overlay set keys (evaluated per row)
      val updated = its.foldLeft(
        coalesce(col(s"${v}__props"), emptyProps)) {
        case (acc, (k, Lit(null))) => map_filter(acc, (mk, _) => mk =!= k)
        case (acc, (k, x)) => map_concat(
          map_filter(acc, (mk, _) => mk =!= k), map(lit(k), pvCol(x)))
      }
      df = df.withColumn(s"${v}__props",
        guarded(col(s"${v}__props"), updated))
    }
    relSets.foreach { case (v, its) =>
      // value expressions evaluate against the FULL binding table (they
      // reference item/node columns), in the same projection as the key
      val valueCols = its.map { case (target, e) =>
        (e match {
          case Lit(null) => lit(null).cast("string")
          case x => pvStrOf(pvCol(x))
        }).as(target)
      }
      effects += PatchEdges(df.filter(rowGate)
        .filter(col(s"${v}__src").isNotNull)
        .select(Seq(col(s"${v}__src").as("src"),
          col(s"${v}__dst").as("dst"),
          col(s"${v}__relType").as("relType")) ++ valueCols: _*))
      its.foreach { case (target, e) =>
        val viewCol =
          if (target == "new_source") s"${v}__source" else s"${v}__relType"
        val value = e match {
          case Lit(null) => lit(null).cast("string")
          case x => pvStrOf(pvCol(x))
        }
        df = df.withColumn(viewCol, guarded(col(viewCol), value))
      }
    }
    // republish edited nodes into the same-statement view, so a later
    // MATCH filtering on the edited label/props sees post-SET state
    val touched = (s.items.collect {
      case SetLabelItem(v, _, _) => v
      case RemoveLabelItem(v, _, _) => v
      case SetAll(v, _) => v
      case SetPlus(v, _) => v
    } ++ propSets.keys).distinct
    touched.filter(v => env.get(v).contains(NodeVar))
      .foreach(publishNodeView)
  }

  /** `CREATE pattern, …` / `MERGE pattern` (clause): node rows build
    * from the binding table — gids may be literals OR expressions
    * (`MERGE (n {gid: item.gid})`, neo4j.go:103) — and bind their
    * variable for the statement's later clauses. MERGE binds the
    * POST-merge node (existing rows keep label/source/props) via a
    * left join on the store.
    */
  private def applyCreate(c: CreateClause): Unit = {
    sawWrite = true
    import graft.ops.GraphMerge.WriteEffect._
    if ((c.onCreate.nonEmpty || c.onMatch.nonEmpty) &&
        (c.patterns.length != 1 || c.patterns.head.hops.length > 1))
      throw PlanError("ON CREATE / ON MATCH SET is supported on " +
        "single-node or single-relationship MERGE only")
    val wantMatched = (c.onCreate.nonEmpty || c.onMatch.nonEmpty) &&
      c.patterns.head.hops.isEmpty
    val wantRelMatched = (c.onCreate.nonEmpty || c.onMatch.nonEmpty) &&
      c.patterns.head.hops.nonEmpty
    c.patterns.foreach { pat =>
      // rel-level ON CREATE/ON MATCH routes on whether the WHOLE
      // pattern already exists: the edge probe AND, for endpoints the
      // MERGE itself resolves, that endpoint's pre-merge existence.
      // (Neo4j creates duplicate nodes when the pattern misses; the
      // gid-keyed store makes node creation an upsert by key, so the
      // unmatched branch re-uses existing endpoints instead — the
      // only divergence, and the one a gid-keyed layer wants.)
      val headBound = wantRelMatched &&
        pat.head.variable.exists(v => env.contains(v))
      var prevVar = bindCreateNode(pat.head, c.merge,
        wantMatched || (wantRelMatched && !headBound))
      val headMatched: Option[Column] =
        if (wantRelMatched && !headBound) Some(col(s"${prevVar}__matched"))
        else None
      if (wantMatched) {
        // the merge bound a per-row matched flag; route each
        // sub-clause to its row subset
        val matched = col(s"${prevVar}__matched")
        if (c.onCreate.nonEmpty)
          applySet(SetClause(c.onCreate), Some(!matched))
        if (c.onMatch.nonEmpty)
          applySet(SetClause(c.onMatch), Some(matched))
        df = df.drop(s"${prevVar}__matched")
      }
      pat.hops.foreach { case (rel, node) =>
        // dynamic relationship type `-[:$(expr)]->`: constant folds to
        // a plan-time type; per-row expressions ride the effect frame
        // as a relType COLUMN (CREATE only — the MERGE probe needs a
        // plan-time type)
        val relTypeConst: Option[String] = rel.dynType match {
          case Some(e) => constStr(e).map { s =>
            if (s.isEmpty) throw PlanError(
              "dynamic relationship type must not be empty")
            s
          }
          case None => Some(rel.relType.getOrElse(
            throw PlanError("CREATE relationship needs an explicit type")))
        }
        if (relTypeConst.isEmpty && c.merge) throw PlanError(
          "a dynamic relationship type in MERGE must be a constant " +
            "(literal or parameter) string expression")
        val relTypeCol: Column = relTypeConst match {
          case Some(s) => lit(s)
          case None => dynLabelCol(rel.dynType.get)
        }
        def relType = relTypeConst.get // merge-only consumers
        if (rel.altRelTypes.nonEmpty)
          throw PlanError("a type disjunction (:A|B) is MATCH-only")
        if (rel.varLength.nonEmpty)
          throw PlanError("cannot CREATE a variable-length relationship")
        // Neo4j: CREATE takes directed relationships only (probe 17);
        // an undirected MERGE picks left-to-right on create, like
        // Neo4j, so only plain CREATE rejects
        if (rel.direction == 0 && !c.merge)
          throw PlanError(
            "only directed relationships are supported in CREATE")
        val tailBound = wantRelMatched &&
          node.variable.exists(v => env.contains(v))
        val nodeVar =
          bindCreateNode(node, c.merge, wantRelMatched && !tailBound)
        val tailMatched: Option[Column] =
          if (wantRelMatched && !tailBound)
            Some(col(s"${nodeVar}__matched"))
          else None
        // undirected (direction 0) only reaches here via MERGE, which
        // creates LEFT-to-right like Neo4j
        val (fromV, toV) =
          if (rel.direction >= 0) (prevVar, nodeVar) else (nodeVar, prevVar)
        val matchedCol =
          if (!wantRelMatched) None
          else {
            val tag = fresh("relm")
            val ex = store.edges
              .filter(col("relType") === relType)
              .select(col("src").as(s"__${tag}_src"),
                col("dst").as(s"__${tag}_dst"),
                lit(true).as(s"__${tag}_hit"))
            df = df.join(ex,
              col(s"${fromV}__gid") === col(s"__${tag}_src") &&
                col(s"${toV}__gid") === col(s"__${tag}_dst"),
              "left_outer")
              .drop(s"__${tag}_src", s"__${tag}_dst")
            val edgeHit = coalesce(col(s"__${tag}_hit"), lit(false))
            Some((edgeHit +: (headMatched.toSeq ++ tailMatched.toSeq))
              .reduce(_ && _))
          }
        // inline `{source: …}` initializes the edge's source column on
        // creation (MERGE keeps an existing row's source — patch it
        // with ON MATCH SET); `type` comes from the pattern's :T
        val srcVal = rel.props.collectFirst {
          case ("source", e) => pvStrOf(pvCol(e))
        }.getOrElse(lit(null).cast("string"))
        rel.props.collectFirst { case (k, _) if k != "source" => k }
          .foreach(k => throw PlanError(
            s"relationship property must be source, got $k"))
        effects += MergeEdges(df.select(
          col(s"${fromV}__gid").as("src"), col(s"${toV}__gid").as("dst"),
          relTypeCol.as("relType"), srcVal.as("source")))
        // later MATCH hops of this statement see the edge
        val evis = df.select(
          col(s"${fromV}__gid").as("src"), col(s"${toV}__gid").as("dst"),
          relTypeCol.as("relType"), srcVal.as("source"))
          .filter(col("src").isNotNull && col("dst").isNotNull)
          .dropDuplicates("src", "dst", "relType")
        pendingEdges = Some(pendingEdges match {
          case Some(old) => old
            .join(evis.select(col("src"), col("dst"), col("relType")),
              Seq("src", "dst", "relType"), "left_anti")
            .unionByName(evis)
          case None => evis
        })
        // resurrect: DELETE r then CREATE/MERGE of the same
        // (src,dst,relType) in ONE statement makes the edge visible
        // to later MATCH hops again — mirroring publishNodeView's
        // pendingNodeDeletes clearing for re-created nodes
        pendingEdgeDeletes = pendingEdgeDeletes.map(_.join(
          evis.select(col("src"), col("dst"), col("relType")),
          Seq("src", "dst", "relType"), "left_anti"))
        // bind the rel var for later SET r.… clauses (neo4j.go:121-123)
        rel.variable.foreach { r =>
          if (env.contains(r)) throw PlanError(s"variable $r already bound")
          env += r -> RelVar
          df = df.withColumn(s"${r}__src", col(s"${fromV}__gid"))
            .withColumn(s"${r}__dst", col(s"${toV}__gid"))
            .withColumn(s"${r}__relType", relTypeCol)
            .withColumn(s"${r}__source", srcVal)
        }
        matchedCol.foreach { m =>
          if (c.onCreate.nonEmpty) applySet(SetClause(c.onCreate), Some(!m))
          if (c.onMatch.nonEmpty) applySet(SetClause(c.onMatch), Some(m))
          df = df.drop(df.columns.filter(cn =>
            (cn.startsWith("__") && cn.endsWith("_hit")) ||
              cn.endsWith("__matched")): _*)
        }
        prevVar = nodeVar
      }
    }
  }

  /** resolve a CREATE/MERGE pattern node: bound var → reuse; else emit
    * a MergeNodes effect and bind the variable to per-row columns
    */
  private def bindCreateNode(n: NodePattern, merge: Boolean,
      wantMatched: Boolean = false): String = {
    import graft.ops.GraphMerge.WriteEffect._
    if (n.altLabels.nonEmpty)
      throw PlanError("a label disjunction (:A|B) is MATCH-only")
    n.variable match {
      case Some(v) if env.get(v).contains(NodeVar) =>
        if (n.label.nonEmpty || n.dynLabel.nonEmpty || n.props.nonEmpty)
          throw PlanError(
            s"bound variable $v cannot carry labels/properties in CREATE")
        // Neo4j: "Cannot merge using an already-bound variable" — and
        // the ON clauses' matched flag would have nothing to bind to
        if (wantMatched) throw PlanError(
          s"MERGE ON CREATE/ON MATCH cannot reuse the bound variable $v")
        v
      case maybeV =>
        val v = maybeV.getOrElse(fresh("c"))
        if (env.contains(v)) throw PlanError(s"variable $v already bound")
        if (df == null) df = seedRow("__seed" -> 1L)
        val gidExpr = n.props.collectFirst { case ("gid", e) => e }
          .getOrElse(throw PlanError(
            "CREATE/MERGE node needs a gid property (the node key)"))
        val gidCol = gidExpr match {
          case Lit(s: String) => lit(s)
          case e => pvStrOf(pvCol(e))
        }
        val propPairs = n.props.collect {
          case (k, e) if k != "gid" => k -> pvCol(e)
        }
        // a dynamic label `(n:$(expr))`: constant expressions fold to
        // a plan-time label; per-row expressions (the data-driven
        // ingest form, `CREATE (n:$(row.kind))`) ride the effect frame
        // as a label COLUMN — MergeNodes already takes labels as
        // per-row values
        val labelCol: Column = n.dynLabel match {
          case Some(e) => constStr(e) match {
            case Some(s) if s.nonEmpty => lit(s)
            case Some(_) => throw PlanError(
              "dynamic label must not be empty")
            case None => dynLabelCol(e)
          }
          case None => lit(n.label.orNull)
        }
        val propsCol =
          if (propPairs.isEmpty) lit(null).cast(propsType)
          else map(propPairs.flatMap { case (k, c) => Seq(lit(k), c) }: _*)
        effects += MergeNodes(df.select(
          gidCol.as("gid"), labelCol.as("label"),
          lit(null).cast("string").as("source"), propsCol.as("props"),
          (if (n.extraLabels.isEmpty) lit(null).cast("array<string>")
           else array(n.extraLabels.distinct.map(lit(_)): _*))
            .as("xlabels")),
          failOnConflict = !merge,
          secondaryLabels = n.extraLabels.toSet)
        val xlCol =
          if (n.extraLabels.isEmpty) lit(null).cast("array<string>")
          else array(n.extraLabels.distinct.map(lit(_)): _*)
        if (merge) {
          // bind the POST-merge node: existing rows keep their
          // label/source/props; new rows carry the pattern's values.
          // The probe reads the VIEW, so a same-statement creation
          // matches instead of re-creating (Neo4j)
          val nn = nodesInView.select(col("gid").as(s"${v}__gid"),
            col("label").as(s"${v}__label"),
            col("source").as(s"${v}__source"),
            col("props").as(s"${v}__props"),
            col("xlabels").as(s"${v}__xlabels"))
          df = df.withColumn("__ck", gidCol)
            .join(nn, col("__ck") === col(s"${v}__gid"), "left_outer")
          if (wantMatched)
            // matched BEFORE the coalesce erases the evidence — feeds
            // the ON CREATE / ON MATCH row gates
            df = df.withColumn(s"${v}__matched",
              col(s"${v}__gid").isNotNull)
          df = df
            .withColumn(s"${v}__xlabels",
              when(col(s"${v}__gid").isNull, xlCol)
                .otherwise(col(s"${v}__xlabels")))
            .withColumn(s"${v}__gid", coalesce(col(s"${v}__gid"), col("__ck")))
            .withColumn(s"${v}__label",
              coalesce(col(s"${v}__label"), labelCol))
            .withColumn(s"${v}__props",
              coalesce(col(s"${v}__props"), propsCol))
            .drop("__ck")
        } else {
          df = df.withColumn(s"${v}__gid", gidCol)
            .withColumn(s"${v}__label", labelCol)
            .withColumn(s"${v}__source", lit(null).cast("string"))
            .withColumn(s"${v}__props", propsCol)
            .withColumn(s"${v}__xlabels", xlCol)
        }
        env += v -> NodeVar
        // later MATCH clauses of THIS statement see the created /
        // post-merge node (Neo4j within-statement visibility): the
        // binding columns carry exactly the post-write values, so a
        // small gid-deduped view rides pendingNodes into nodeDf
        publishNodeView(v)
        v
    }
  }

  /** publish variable `v`'s CURRENT binding columns (post-write
    * values) into the same-statement node view — called after
    * CREATE/MERGE binds and after SET/REMOVE edits, so later MATCH
    * clauses read post-write state. A republished gid also un-deletes
    * (DELETE x CREATE y with the same key resurrects the node).
    */
  private def publishNodeView(v: String): Unit = {
    val vis = df.select(col(s"${v}__gid").as("gid"),
      col(s"${v}__label").as("label"),
      col(s"${v}__source").as("source"),
      col(s"${v}__props").as("props"),
      col(s"${v}__xlabels").as("xlabels"))
      .filter(col("gid").isNotNull).dropDuplicates("gid")
    pendingNodes = Some(pendingNodes match {
      case Some(old) => old
        .join(vis.select(col("gid")), Seq("gid"), "left_anti")
        .unionByName(vis)
      case None => vis
    })
    pendingNodeDeletes = pendingNodeDeletes.map(
      _.join(vis.select(col("gid")), Seq("gid"), "left_anti"))
    pendingDetachedGids = pendingDetachedGids.map(
      _.join(vis.select(col("gid")), Seq("gid"), "left_anti"))
  }

  /** run the accumulated effects as ONE committed statement and shape
    * the summary row like Neo4j's counters
    */
  private def executeWrite(
      effs: Seq[graft.ops.GraphMerge.WriteEffect]): DataFrame = {
    val st = graft.ops.GraphMerge.applyWrite(store, effs)
    if (sawWrite && sawDelete)
      spark.createDataFrame(Seq((st.nodesCreated, st.edgesCreated,
        st.propertiesSet, st.nodesDeleted, st.edgesDeleted)))
        .toDF("nodes_created", "relationships_created", "properties_set",
          "nodes_deleted", "relationships_deleted")
    else if (sawDelete)
      spark.createDataFrame(Seq((st.nodesDeleted, st.edgesDeleted)))
        .toDF("nodes_deleted", "relationships_deleted")
    else
      spark.createDataFrame(Seq(
        (st.nodesCreated, st.edgesCreated, st.propertiesSet)))
        .toDF("nodes_created", "relationships_created", "properties_set")
  }

  // ---- clause application ----

  /** created / post-merge nodes of THIS statement's earlier write
    * clauses — visible to later MATCH scans (Neo4j within-statement
    * semantics). The view is store ANTI-JOIN pending gids (broadcast
    * — pending is bounded by the clause's row count) ∪ pending rows,
    * so merged-but-existing nodes appear exactly once with their
    * post-merge values. Edge scans see the same overlay through
    * [[edgesInView]] (pendingEdges ∪ committed, minus pending
    * deletions) — later MATCH hops observe same-statement CREATEd
    * relationships, and a re-created edge clears its pending delete
    * (resurrect), symmetric with nodes.
    */
  private var pendingNodes: Option[DataFrame] = None

  /** same-statement created/merged edges, visible to later MATCH hops
    * (keyed like the store dedups: (src, dst, relType); pending wins
    * over committed so a same-statement source upsert reads back)
    */
  private var pendingEdges: Option[DataFrame] = None

  /** same-statement deletions — later MATCH clauses must not see a
    * deleted node/edge (Neo4j); DETACH also hides incident edges
    */
  private var pendingNodeDeletes: Option[DataFrame] = None
  private var pendingEdgeDeletes: Option[DataFrame] = None
  private var pendingDetachedGids: Option[DataFrame] = None

  /** the committed edge table overlaid with this statement's pending
    * edges and deletions (anti-joins on the canonical key / endpoint
    * gids; pending frames broadcast — bounded by clause row counts)
    */
  private def edgesInView: DataFrame = {
    var e = pendingEdges match {
      case Some(p) =>
        store.edges
          .select(col("src"), col("dst"), col("relType"), col("source"))
          .join(broadcast(p.select(col("src"), col("dst"), col("relType"))),
            Seq("src", "dst", "relType"), "left_anti")
          .unionByName(p)
      case None => store.edges
    }
    pendingEdgeDeletes.foreach { del =>
      e = e.join(broadcast(del.dropDuplicates("src", "dst", "relType")),
        Seq("src", "dst", "relType"), "left_anti")
    }
    pendingDetachedGids.foreach { g =>
      val gids = g.dropDuplicates("gid")
      e = e
        .join(broadcast(gids.select(col("gid").as("src"))),
          Seq("src"), "left_anti")
        .join(broadcast(gids.select(col("gid").as("dst"))),
          Seq("dst"), "left_anti")
    }
    e
  }

  /** the committed node table overlaid with this statement's pending
    * creations/merges and deletions — every node lookup (MATCH scans
    * AND the MERGE match probe) reads this view
    */
  private def nodesInView: DataFrame = {
    var base = pendingNodes match {
      case Some(p) =>
        store.nodes
          .select(col("gid"), col("label"), col("source"), col("props"),
            col("xlabels"))
          .join(broadcast(p.select(col("gid"))), Seq("gid"), "left_anti")
          .unionByName(p)
      case None => store.nodes
    }
    pendingNodeDeletes.foreach { del =>
      base = base.join(broadcast(del.dropDuplicates("gid")),
        Seq("gid"), "left_anti")
    }
    base
  }

  private def nodeDf(v: String, n: NodePattern): DataFrame = {
    var d = propIndexedBase(n).getOrElse(nodesInView).select(
      col("gid").as(s"${v}__gid"), col("label").as(s"${v}__label"),
      col("source").as(s"${v}__source"), col("props").as(s"${v}__props"),
      col("xlabels").as(s"${v}__xlabels"))
    labelFilter(v, n).foreach(f => d = d.filter(f))
    n.props.foreach {
      case (k, Lit(value)) => d = d.filter(litPropFilter(v, k, value))
      case _ => () // expression props filter AFTER the join
    }
    d
  }

  /** candidate-gid cap of the property-index fast path: at or below
    * it the probe's gids pull to the driver and the node read prunes
    * to their hash-bucket directories (point-lookup shape); above it
    * the route keeps a broadcast semi-join over the unpruned scan
    * (low-selectivity value — still narrowed before the wide node
    * columns materialize, never pulled through the driver). */
  private val PxRouteCap = 1024

  /** Property-index fast path for `MATCH (n:L {p: $v})`: when a READY
    * declared property index covers (L, p) and the value is a
    * plan-time scalar (literal or parameter), resolve candidate gids
    * from the ONE `sect=p/bucket=H(val)` directory of the slim px
    * table, then read only those gids' node-bucket directories (with
    * the gid IN-list pushed to parquet — files are gid-sorted, so
    * row groups prune too). The caller keeps every label/property
    * filter as a residual on top, so the route narrows the scan but
    * can never change the result. Skipped mid-statement (pending
    * writes/deletes in view) and inside sessions with uncommitted
    * node writes (searchIndexReady) — the overlay scan is the
    * correct fallback, exactly as for the search procedures.
    */
  private def propIndexedBase(n: NodePattern): Option[DataFrame] = {
    if (pendingNodes.nonEmpty || pendingNodeDeletes.nonEmpty) return None
    val label = n.label match {
      case Some(l) if n.altLabels.isEmpty => l
      case _ => return None
    }
    // every plan-time scalar equality binding of this node (inline
    // props + WHERE equalities folded in by foldNodePropEqs)
    val boundEncs: Map[String, String] = n.props.flatMap { case (k, e) =>
      val value: Option[Any] = e match {
        case Lit(v) if v != null => Some(v)
        case Param(p) => params.get(p)
        case _ => None
      }
      value.flatMap(graft.store.SearchIndexes.encodeValue).map(k -> _)
    }.toMap
    // composite defs route only when ALL their keys are bound; the
    // widest applicable one wins (most selective tuple)
    val compositeRoute = store.indexDefs
      .filter(ix => ix.kind == "property" && !ix.zorder &&
        ix.label == label && ix.properties.size > 1 &&
        ix.properties.forall(boundEncs.contains) &&
        store.searchIndexReady(ix))
      .sortBy(-_.properties.size).headOption
      .map(d => (d, Seq(d.properties.map(boundEncs)
        .mkString(graft.store.SearchIndexes.CompositeSep))))
    val eqRoute = compositeRoute.orElse(
      n.props.view.flatMap { case (k, _) =>
        for {
          enc <- boundEncs.get(k)
          d <- store.indexDefs.find(ix => ix.kind == "property" &&
            ix.label == label && ix.property == k)
          if store.searchIndexReady(d)
        } yield (d, Seq(enc))
      }.headOption)
    // IN-list hints from the clause WHERE: multi-bucket probe (the
    // predicate itself stayed in WHERE as the correctness filter)
    val route = eqRoute.orElse(
      n.variable.flatMap(pxInRoutes.get).flatMap { case (k, encs) =>
        store.indexDefs.find(ix => ix.kind == "property" &&
          ix.label == label && ix.property == k)
          .filter(store.searchIndexReady)
          .map(d => (d, encs))
      })
    val eqHits: Option[DataFrame] = route.map { case (d, encs) =>
      val buckets = encs.map(store.bucketOfString).toSet
      store.readSearchIndex(d,
        k => buckets.exists(b => k == s"sect=p/bucket=$b"))
        .filter(col("val").isin(encs: _*)).select(col("gid"))
    }
    // index-ORDERED walk (ORDER BY n.p LIMIT k / min/max — see
    // [[PxWalk]]): candidate gids from a bounded, early-stopping walk
    // of the value-sorted sect=r buckets; the point-lookup read below
    // keeps every predicate + the sort + the limit on top.
    val walkGids: Option[Seq[String]] =
      if (eqHits.isDefined) None
      else pxOrderWalk.filter(wk => n.variable.contains(wk.v)) match {
        case Some(wk) =>
          pxOrderWalk = None // one-shot
          if (wk.eqPrefix.isEmpty)
            store.indexDefs.find(ix => ix.kind == "property" &&
              ix.label == label && ix.property == wk.prop)
              .filter(store.searchIndexReady)
              .filter(store.pxRangeReady)
              .flatMap(d => orderWalkCandidates(d, wk))
          else
            // COMPOSITE ordered walk: an index on exactly
            // (eq props…, walk prop) — the equality prefix frames a
            // contiguous span whose keys are ordered by the walked
            // trailing component (keyset pagination over compound
            // sort keys). Every prefix component must be bound; the
            // trailing component must be LAST (ties then share a
            // framed key, keeping the tie-bucket argument).
            store.indexDefs.find { ix =>
              ix.kind == "property" && ix.label == label &&
                ix.properties.size == wk.eqPrefix.size + 1 &&
                ix.properties.last == wk.prop &&
                ix.properties.init.forall(wk.eqPrefix.contains)
            }
              .filter(store.searchIndexReady)
              .filter(store.pxRangeReady)
              .flatMap { d =>
                val pfx = d.properties.init
                  .map(p => graft.store.SearchIndexes
                    .escCompStr(wk.eqPrefix(p))).mkString
                orderWalkCandidates(d, wk, pfx)
              }
        case None => None
      }
    walkGids.foreach { gids0 =>
      val gids = gids0.distinct
      val buckets = gids.map(store.bucketOfString).toSet
      return Some(
        if (gids.isEmpty) store.nodesByGidBuckets(Set.empty)
        else store.nodesByGidBuckets(buckets)
          .filter(col("gid").isin(gids: _*)))
    }
    // Z-ORDER point route: a bbox / cartesian-distance rectangle
    // decomposes into O(few) contiguous Morton-key ranges (quadtree
    // cover) over the point index's sect=z section — true 2-D
    // pruning where the coordinate band reads a whole stripe. The
    // exact spatial predicate stays residual in WHERE.
    val zHits: Option[DataFrame] =
      if (eqHits.isDefined) None
      else n.variable.flatMap(pxZRoutes.get).flatMap {
        case (xp, yp, xlo, xhi, ylo, yhi) =>
          store.indexDefs.find(ix => ix.kind == "property" &&
            ix.zorder && ix.label == label &&
            ix.properties == Seq(xp, yp))
            .filter(store.searchIndexReady)
            .filter(store.zPointReady)
            .flatMap { d =>
              import graft.store.SearchIndexes.{rangeBucketOf, zCoord,
                zCover, zHex}
              val ranges = zCover(
                zCoord(math.nextDown(xlo)), zCoord(math.nextUp(xhi)),
                zCoord(math.nextDown(ylo)), zCoord(math.nextUp(yhi)))
              if (ranges.isEmpty)
                Some(store.readSearchIndex(d, _ => false)
                  .select(col("gid")))
              else {
                // selectivity guard, as for the 1-D range route: the
                // covered bucket fraction approximates the row
                // fraction (equi-depth boundaries) — a broad
                // rectangle keeps the single-pass label scan
                val nBuckets = d.boundaries.size + 1
                val buckets = ranges.flatMap { case (lo, hi) =>
                  rangeBucketOf(d.boundaries, zHex(lo)) to
                    rangeBucketOf(d.boundaries, zHex(hi))
                }.toSet
                if (nBuckets < 4 ||
                    buckets.size.toDouble / nBuckets > 0.5) None
                else {
                  val conds = ranges.map { case (lo, hi) =>
                    col("val") >= lit(zHex(lo)) &&
                      col("val") <= lit(zHex(hi)) }.reduce(_ || _)
                  Some(store.readSearchIndex(d, k =>
                    k.startsWith("sect=z/bucket=") && {
                      val b = k.drop("sect=z/bucket=".length)
                      b.nonEmpty && b.forall(_.isDigit) &&
                        buckets.contains(b.toInt)
                    })
                    .filter(col("sect") === "z" && conds)
                    .select(col("gid")))
                }
              }
            }
      }
    // range / STARTS WITH hints (the Neo4j RANGE-index predicates):
    // candidate gids resolve from the CONTIGUOUS run of order-
    // preserving `sect=r` buckets the bounds map to, with the bound
    // filter pushed to parquet (files are val-sorted, so row groups
    // prune inside the run too). The inequality itself stayed in
    // WHERE — the route is a superset narrowing, never the semantics.
    val rangeHits: Option[DataFrame] =
      if (eqHits.isDefined || zHits.isDefined) None
      else n.variable.flatMap(pxRangeRoutes.get).flatMap { pr =>
        store.indexDefs.find(ix => ix.kind == "property" &&
          ix.label == label && ix.property == pr.prop &&
          !ix.property.contains(","))
          .filter(store.searchIndexReady)
          // a legacy table without the range section must NOT route —
          // reading the absent section would silently miss every row
          .filter(store.pxRangeReady)
          .flatMap { d =>
            import graft.store.SearchIndexes.rangeBucketOf
            // SELECTIVITY guard: boundaries are equi-depth, so the
            // bucket-span fraction approximates the row fraction —
            // a broad predicate (`age > 0`) must keep the label scan
            // (one pass) instead of reading most of the index AND
            // semi-joining it back. Neo4j's planner makes the same
            // index-vs-scan call on selectivity.
            val nBuckets = d.boundaries.size + 1
            def spanOk(bLo: Int, bHi: Int): Boolean =
              nBuckets >= 4 && (bHi - bLo + 1).toDouble / nBuckets <= 0.5
            pr.prefix match {
              case Some(p) =>
                val lo = "s:" + p
                val bLo = rangeBucketOf(d.boundaries, lo)
                val bHi = d.boundaries.count(bd =>
                  rangeBucketOf(Seq(bd), lo) == 1 || bd.startsWith(lo))
                if (!spanOk(bLo, bHi)) None
                else Some(store
                  .readSearchIndex(d, store.pxPrefixKeys(d, p))
                  .filter(col("sect") === "r" &&
                    col("val").startsWith("s:" + p))
                  .select(col("gid")))
              case None =>
                // an open end stays inside the bound's TYPE region
                // ("n:…" hex never reaches "n:G"; strings stop at
                // "s;") — `n.age > 30` must not read string buckets
                def ceil(key: String) = key.take(2) match {
                  case "n:" => "n:G"
                  case "s:" => "s;"
                  case _ => "b;"
                }
                def floor(key: String) = key.take(2)
                val lo = pr.lo.orElse(pr.hi.map(floor))
                val hi = pr.hi.orElse(pr.lo.map(ceil))
                val bLo = lo.map(rangeBucketOf(d.boundaries, _))
                  .getOrElse(0)
                val bHi = hi.map(rangeBucketOf(d.boundaries, _))
                  .getOrElse(d.boundaries.size)
                if (!spanOk(bLo, bHi)) None
                else {
                  var f = store.readSearchIndex(d,
                    store.pxRangeKeys(d, lo, hi))
                    .filter(col("sect") === "r")
                  lo.foreach(l => f = f.filter(col("val") >= l))
                  hi.foreach(h => f = f.filter(col("val") <= h))
                  Some(f.select(col("gid")))
                }
            }
          }
      }
    // COMPOSITE equality-prefix (+ optional trailing range) — Neo4j's
    // composite range-index read shape: the escComp-framed sect=r
    // tuple keys make an equality-bound prefix a CONTIGUOUS span, and
    // a range hint on the NEXT component narrows it further. Every
    // predicate stays residual (inline-prop equalities + the WHERE
    // inequality), so the route is a superset narrowing.
    val compositePrefixHits: Option[DataFrame] =
      if (eqHits.isDefined || zHits.isDefined || rangeHits.isDefined) None
      else {
        import graft.store.SearchIndexes.{escCompStr, rangeBucketOf}
        def cmpK(a: String, b: String): Int =
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b))
        // sortable encodings of the equality-bound props (the sect=r
        // tuple components; the sect=p route's boundEncs are the
        // equality encodings and do not apply here)
        val sortEncs: Map[String, String] = n.props.flatMap { case (k, e) =>
          val value: Option[Any] = e match {
            case Lit(x) if x != null => Some(x)
            case Param(p) => params.get(p)
            case _ => None
          }
          value.flatMap(graft.store.SearchIndexes.encodeSortableValue)
            .map(k -> _)
        }.toMap
        val trailingHint = n.variable.flatMap(pxRangeRoutes.get)
        val candidates = store.indexDefs
          .filter(ix => ix.kind == "property" && ix.label == label &&
            ix.properties.size > 1 && store.searchIndexReady(ix) &&
            store.pxRangeReady(ix))
          .flatMap { d =>
            val ps = d.properties
            val bound = ps.takeWhile(sortEncs.contains)
            // full equality is the sect=p tuple route's job
            if (bound.isEmpty || bound.size == ps.size) None
            else {
              val tr = trailingHint.filter(_.prop == ps(bound.size))
                .filter(_.prefix.isEmpty)
              // COMPLETENESS gate (Neo4j's rule): the composite index
              // holds only nodes with ALL components non-null, so the
              // route is a true superset ONLY when every unbound
              // component is null-pinned by a predicate — i.e. the
              // single trailing component carries a range bound
              // (n.p > x is null on a missing p). An equality prefix
              // alone would silently drop prefix-matching nodes that
              // MISS the trailing property — those match the query
              // but have no index row.
              if (bound.size + 1 != ps.size || tr.isEmpty) None
              else {
              val prefixKey =
                bound.map(p => escCompStr(sortEncs(p))).mkString
              // component escape WITHOUT its terminator — bound keys
              // extend the framed prefix mid-component
              def escBody(s: String) = escCompStr(s).dropRight(1)
              val loKey = tr.flatMap(_.lo)
                .map(l => prefixKey + escBody(l)).getOrElse(prefixKey)
              // every continuation of a v == hi key starts with the
              // \u0000 terminator, so prefix+escBody(hi)+"\u0001"
              // upper-bounds the span without successor construction
              val hiKey = tr.flatMap(_.hi)
                .map(h => prefixKey + escBody(h) + "\u0001")
              val bLo = rangeBucketOf(d.boundaries, loKey)
              val bHi = hiKey.map(rangeBucketOf(d.boundaries, _))
                .getOrElse(d.boundaries.count(bd =>
                  cmpK(bd, prefixKey) <= 0 || bd.startsWith(prefixKey)))
              val nBuckets = d.boundaries.size + 1
              val spanOk = nBuckets >= 4 &&
                (bHi - bLo + 1).toDouble / nBuckets <= 0.5
              if (!spanOk || bLo > bHi) None
              else {
                var f = store.readSearchIndex(d, k =>
                  k.startsWith("sect=r/bucket=") && {
                    val b = k.drop("sect=r/bucket=".length)
                    b.nonEmpty && b.forall(_.isDigit) && {
                      val i = b.toInt; i >= bLo && i <= bHi
                    }
                  })
                  .filter(col("sect") === "r" &&
                    col("val").startsWith(prefixKey) &&
                    col("val") >= loKey)
                hiKey.foreach(h => f = f.filter(col("val") <= h))
                // longest bound prefix (then a trailing bound) wins
                Some((bound.size * 2 + tr.size, f.select(col("gid"))))
              }
              }
            }
          }
        candidates.sortBy(-_._1).headOption.map(_._2)
      }
    // CONTAINS / ENDS WITH (the Neo4j TEXT-index class): expand the
    // needle against the vocabulary-sized sect=w value dictionary,
    // then read exactly the matched values' sect=p buckets — the
    // ftPrefixBuckets recipe pointed at property values. Capped at
    // PxRouteCap matched values (past that the label scan wins); the
    // predicate itself stayed in WHERE, so the route is a superset
    // narrowing, never the semantics.
    val substrHits: Option[DataFrame] =
      if (eqHits.isDefined || zHits.isDefined || rangeHits.isDefined) None
      else n.variable.flatMap(pxSubstrRoutes.get).flatMap {
        case (k, op, needle) =>
          store.indexDefs.find(ix => ix.kind == "property" &&
            ix.label == label && ix.property == k &&
            !ix.property.contains(","))
            .filter(store.searchIndexReady)
            .filter(store.pxValueDictReady)
            .flatMap { d =>
              store.pxMatchingValues(d, op, needle, PxRouteCap)
                .map { encs =>
                  if (encs.isEmpty)
                    store.readSearchIndex(d, _ => false)
                      .select(col("gid"))
                  else {
                    val buckets = encs.map(store.bucketOfString).toSet
                    store.readSearchIndex(d,
                      k2 => buckets.exists(b => k2 == s"sect=p/bucket=$b"))
                      .filter(col("sect") === "p" &&
                        col("val").isin(encs: _*))
                      .select(col("gid"))
                  }
                }
            }
      }
    eqHits.orElse(zHits).orElse(rangeHits).orElse(compositePrefixHits)
      .orElse(substrHits).map { hits =>
      val probe = hits.take(PxRouteCap + 1).map(_.getString(0)).toSeq
      if (probe.size <= PxRouteCap) {
        val buckets = probe.map(store.bucketOfString).toSet
        store.nodesByGidBuckets(buckets)
          .filter(col("gid").isin(probe: _*))
      } else if (eqHits.isDefined)
        // equality/IN hit lists are value-bounded — force broadcast
        nodesInView.join(broadcast(hits.dropDuplicates("gid")),
          Seq("gid"), "left_semi")
      else
        // a range hit list can be arbitrarily large — let AQE pick
        // the semi-join strategy from the measured size instead of
        // forcing a driver-sized broadcast
        nodesInView.join(hits.dropDuplicates("gid"),
          Seq("gid"), "left_semi")
    }
  }

  /** clause-local range-route hint: a contiguous [lo, hi] span of
    * sortable-encoded bounds, or a string prefix — the predicates
    * themselves stay in WHERE */
  private case class PxRange(prop: String, lo: Option[String],
      hi: Option[String], prefix: Option[String])

  /** RELATIONSHIP property-index fast path for
    * `MATCH ()-[r:T {source: $s}]->()` (and the WHERE-equality/IN
    * forms): when a ready relationship property index covers (T, p)
    * and the value binds at plan time, matched SRC gids resolve from
    * the slim rel-px `sect=p/bucket=H(val)` directories, and the main
    * edge read prunes to relType=T ∩ those srcs' hash buckets — the
    * node px route's point-lookup shape on the edge table. The
    * equality predicate stays in WHERE (a src can carry several
    * T-edges with different sources), so the route narrows the scan,
    * never the semantics. Skipped with pending edge writes/deletes in
    * view and inside sessions with uncommitted edges
    * (searchIndexReady).
    */
  private def relIndexedBase(rel: RelPattern): Option[DataFrame] = {
    if (pendingEdges.nonEmpty || pendingEdgeDeletes.nonEmpty) return None
    val rt = rel.relType match {
      case Some(t) if rel.altRelTypes.isEmpty => t
      case _ => return None
    }
    for {
      rv <- rel.variable
      (k, encs) <- relPxEqRoutes.get(rv)
      d <- store.indexDefs.find(ix => ix.kind == "property" &&
        ix.entity == "RELATIONSHIP" && ix.label == rt &&
        ix.property == k)
      if store.searchIndexReady(d)
    } yield {
      val buckets = encs.map(store.bucketOfString).toSet
      val hits = store.readSearchIndex(d,
        key => buckets.exists(b => key == s"sect=p/bucket=$b"))
        .filter(col("sect") === "p" && col("val").isin(encs: _*))
        .select(col("gid"))
      val probe = hits.take(PxRouteCap + 1).map(_.getString(0)).toSeq
      if (probe.size <= PxRouteCap) {
        if (probe.isEmpty) store.edgesByTypeBuckets(rt, Some(Set.empty))
        else store.edgesByTypeBuckets(rt,
          Some(probe.map(store.bucketOfString).toSet))
          .filter(col("src").isin(probe: _*))
      } else
        // value-bounded hit list past the point-lookup cap: keep the
        // relType-pruned scan, narrowed by a broadcast semi-join
        store.edgesByTypeBuckets(rt, None)
          .join(broadcast(hits.dropDuplicates("gid")
            .withColumnRenamed("gid", "src")), Seq("src"), "left_semi")
    }
  }

  /** Statement-level index-ORDER hint (detected once per statement by
    * [[detectOrderWalk]]) for the two Neo4j range-index read shapes
    * the label-scan-plus-sort plan wastes most at scale:
    *
    *   MATCH (n:L) [WHERE <bounds on n.p>] RETURN …
    *     ORDER BY n.p [DESC][, …] LIMIT k      (keyset pagination)
    *   MATCH (n:L) [WHERE <bounds on n.p>] RETURN min(n.p) / max(n.p)
    *
    * The `sect=r` section already stores rows in key order (bucket =
    * boundary position, files val-sorted), so [[orderWalkCandidates]]
    * walks its buckets in that order with geometrically growing
    * chunks and stops as soon as `need` rows PROVABLY satisfying the
    * predicates have been seen. Equal keys always share a bucket, so
    * the walked buckets are a value-prefix and the walked rows a
    * SUPERSET of the true top-need; every predicate, the sort, and
    * the limit stay in the plan on top — the walk narrows the files
    * read, never the semantics.
    *
    * Survivors are counted on the slim px rows alone, which is why
    * detection admits ONLY conjuncts on the sorted property (any
    * other predicate keeps the normal plan). Counting is two-sided:
    * candidate collection uses ulp-WIDENED bounds (superset-safe),
    * the stop decision uses strict bounds that can only UNDERCOUNT
    * (±0.0 canonicalized toward exclusion, NaN-region clamped) — so
    * stopping early can never drop a qualifying row.
    *
    * Type regions guard order agreement: the engine sorts un-projected
    * props type-aware (numbers before strings/booleans — pvOrderKey),
    * so an ASC walk starts in the numeric region and, when bounds pin
    * the survivor type, walks exactly the pinned region (DESC needs a
    * pin: nodes MISSING the property sort first under DESC and are
    * invisible to the index; min/max skip nulls so they only need a
    * pin for the string side). `strOrder` marks a sort that resolves
    * against the PROJECTED column — a canonical string, where "9" >
    * "40" — which only a string-pinned walk can honor.
    */
  private case class PxWalk(
      v: String, prop: String,
      strOrder: Boolean,
      dirs: Seq[(Boolean, Int)], // (ascending, rows needed)
      numLo: Option[(Double, Boolean)], numHi: Option[(Double, Boolean)],
      strLo: Option[(String, Boolean)], strHi: Option[(String, Boolean)],
      prefix: Option[String],
      // plan-time EQUALITY bindings on OTHER properties (inline props
      // or WHERE conjuncts), sortable-encoded: the walk then routes
      // ONLY through a composite index (eq props..., prop) whose
      // escape-framed tuple keys make the equality a contiguous
      // prefix span with the walked property in order inside it
      eqPrefix: Map[String, String] = Map.empty)

  private var pxOrderWalk: Option[PxWalk] = None

  private def detectOrderWalk(q: Query): Option[PxWalk] = {
    if (q.unions.nonEmpty || q.distinct) return None
    val m = q.clauses match {
      case Seq(mc: MatchClause) if !mc.optional => mc
      case _ => return None
    }
    if (m.patterns.size != 1) return None
    val pat = m.patterns.head
    if (pat.hops.nonEmpty || pat.pathVar.nonEmpty || pat.shortest ||
        pat.allShortest) return None
    val n = pat.head
    val v = n.variable match {
      case Some(x) => x
      case None => return None
    }
    if (n.label.isEmpty || n.altLabels.nonEmpty || n.extraLabels.nonEmpty ||
        n.where.nonEmpty || n.dynLabel.nonEmpty)
      return None
    val modelCols = Set("gid", "label", "source")
    def constOf(e: Expr): Option[Any] = e match {
      case Lit(x) if x != null => Some(x)
      case Param(p) => params.get(p)
      case _ => None
    }
    // plan-time equality bindings (inline props + WHERE `=`
    // conjuncts): candidate composite-walk prefix components — they
    // stay residual filters in the plan regardless. Collected BEFORE
    // the ORDER BY analysis so `WHERE n.a = 5 ORDER BY n.a, n.b`
    // skips the constant leading key.
    var eqEncs = Map.empty[String, String]
    n.props.foreach { case (k, e) =>
      if (modelCols.contains(k)) return None
      constOf(e).flatMap(
        graft.store.SearchIndexes.encodeSortableValue) match {
        case Some(enc) => eqEncs += k -> enc
        case None => return None
      }
    }
    def conjunctsOf(e: Expr): List[Expr] = e match {
      case And(a, b) => conjunctsOf(a) ++ conjunctsOf(b)
      case x => List(x)
    }
    m.where.toSeq.flatMap(conjunctsOf).foreach {
      case Cmp("=", PropRef(`v`, p), rhs)
          if !modelCols.contains(p) && !eqEncs.contains(p) =>
        constOf(rhs).flatMap(
          graft.store.SearchIndexes.encodeSortableValue)
          .foreach(enc => eqEncs += p -> enc)
      case Cmp("=", lhs, PropRef(`v`, p))
          if !modelCols.contains(p) && !eqEncs.contains(p) =>
        constOf(lhs).flatMap(
          graft.store.SearchIndexes.encodeSortableValue)
          .foreach(enc => eqEncs += p -> enc)
      case _ => ()
    }
    // shape: top-k (ORDER BY n.p … LIMIT k) or min/max aggregate
    val (prop, dirs, strOrder): (String, Seq[(Boolean, Int)], Boolean) =
      if (q.orderBy.nonEmpty) {
        if (q.limit.isEmpty) return None
        if (q.items.exists(i => containsAgg(i.expr))) return None
        // leading ORDER BY keys that are EQUALITY-bound are constant
        // within the result — skip them; the first unbound key is the
        // walked property (later keys are tiebreaks: the walk
        // collects every boundary tie, so they stay plan-side)
        val obTail = q.orderBy.dropWhile {
          case (PropRef(`v`, p0), _) => eqEncs.contains(p0)
          case _ => false
        }
        if (obTail.isEmpty) return None
        val (p, asc) = obTail.head match {
          case (PropRef(`v`, p0), a)
              if !modelCols.contains(p0) && !eqEncs.contains(p0) =>
            (p0, a)
          case _ => return None
        }
        val need = try {
          boundVal(q.limit.get, "LIMIT") +
            q.skip.map(boundVal(_, "SKIP")).getOrElse(0L)
        } catch { case _: Exception => return None }
        if (need <= 0 || need > PxRouteCap) return None
        val e0 = obTail.head._1
        val projected = q.items.exists(i =>
          i.expr == e0 || i.alias.contains(Ast.Render.expr(e0)))
        (p, Seq((asc, need.toInt)), projected)
      } else {
        if (q.limit.nonEmpty || q.skip.nonEmpty || q.items.isEmpty)
          return None
        // a scalar conversion around the aggregate (toFloat(min(n.p)))
        // keeps the shape — it maps the aggregated value row-free
        def unwrap(e: Expr): Expr = e match {
          case FuncCall("tofloat" | "tointeger" | "tostring", Seq(x), _) => x
          case x => x
        }
        val mm: Seq[(String, Boolean)] = q.items.map(i => unwrap(i.expr)).map {
          case FuncCall("min", Seq(PropRef(`v`, p0)), _) => (p0, true)
          case FuncCall("max", Seq(PropRef(`v`, p0)), _) => (p0, false)
          case _ => return None
        }
        val p = mm.head._1
        if (modelCols.contains(p) || eqEncs.contains(p) ||
            !mm.forall(_._1 == p)) return None
        (p, mm.map(x => (x._2, 1)).distinct, false)
      }
    // every WHERE conjunct must be a bound on n.<prop> the walk can
    // count on the slim px rows — anything else keeps the normal plan
    def cmpK(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    var numLo: Option[(Double, Boolean)] = None
    var numHi: Option[(Double, Boolean)] = None
    var strLo: Option[(String, Boolean)] = None
    var strHi: Option[(String, Boolean)] = None
    var prefix: Option[String] = None
    // keep the TIGHTEST bound of each side (equal keys: exclusive wins)
    def addNum(isLo: Boolean, x: Double, incl: Boolean): Unit =
      if (isLo) numLo match {
        case Some((y, yi)) if y > x || (y == x && !yi) => ()
        case _ => numLo = Some((x, incl))
      } else numHi match {
        case Some((y, yi)) if y < x || (y == x && !yi) => ()
        case _ => numHi = Some((x, incl))
      }
    def addStr(isLo: Boolean, s: String, incl: Boolean): Unit =
      if (isLo) strLo match {
        case Some((y, yi)) if cmpK(y, s) > 0 || (y == s && !yi) => ()
        case _ => strLo = Some((s, incl))
      } else strHi match {
        case Some((y, yi)) if cmpK(y, s) < 0 || (y == s && !yi) => ()
        case _ => strHi = Some((s, incl))
      }
    def addBound(isLo: Boolean, c: Any, incl: Boolean): Boolean = c match {
      case s: String => addStr(isLo, s, incl); true
      case x: Int => addNum(isLo, x.toDouble, incl); true
      case x: Long => addNum(isLo, x.toDouble, incl); true
      case x: Float => addNum(isLo, x.toDouble, incl); true
      case x: Double => addNum(isLo, x, incl); true
      case _ => false
    }
    def conjuncts(e: Expr): List[Expr] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => List(x)
    }
    val rangeOps = Set(">", ">=", "<", "<=")
    m.where.toSeq.flatMap(conjuncts).foreach {
      case Cmp(op, PropRef(`v`, p), rhs) if p == prop && rangeOps(op) =>
        val c = constOf(rhs) match {
          case Some(x) => x
          case None => return None
        }
        val isLo = op == ">" || op == ">="
        if (!addBound(isLo, c, op.endsWith("="))) return None
      case Cmp(op, lhs, PropRef(`v`, p)) if p == prop && rangeOps(op) =>
        val c = constOf(lhs) match {
          case Some(x) => x
          case None => return None
        }
        val isLo = op == "<" || op == "<=" // const < n.p ⇒ n.p > const
        if (!addBound(isLo, c, op.endsWith("="))) return None
      case StrPred("startswith", PropRef(`v`, p), rhs) if p == prop =>
        constOf(rhs) match {
          case Some(s: String) if s.nonEmpty =>
            prefix = prefix match {
              case Some(p0) if s.startsWith(p0) => Some(s)
              case Some(p0) if p0.startsWith(s) => Some(p0)
              case Some(_) => return None // disjoint prefixes
              case None => Some(s)
            }
          case _ => return None
        }
      // equality conjuncts consumed by the pre-pass (composite-walk
      // prefix components): accepted — enforced BOTH by the framed
      // prefix span and the residual predicate
      case Cmp("=", PropRef(`v`, p), _) if eqEncs.contains(p) => ()
      case Cmp("=", _, PropRef(`v`, p)) if eqEncs.contains(p) => ()
      case IsNull(PropRef(`v`, p), true)
          if p == prop || eqEncs.contains(p) =>
        () // IS NOT NULL: every index row is non-null by construction
      case _ => return None
    }
    // bounds of both families cannot pin one region — keep the scan
    if ((numLo.nonEmpty || numHi.nonEmpty) &&
        (strLo.nonEmpty || strHi.nonEmpty || prefix.nonEmpty)) return None
    if ((numLo.toSeq ++ numHi.toSeq).exists(_._1.isNaN)) return None
    // composite walks keep the simple bound classes only: a STARTS
    // WITH bound inside a framed prefix span is out of scope
    if (eqEncs.nonEmpty && prefix.nonEmpty) return None
    Some(PxWalk(v, prop, strOrder, dirs, numLo, numHi, strLo, strHi,
      prefix, eqEncs))
  }

  /** Execute the walk(s) a [[PxWalk]] hint asks for against index `d`:
    * candidate gids whose node rows provably contain the statement's
    * top-`need` (per direction), or None when the walk cannot
    * guarantee completeness (un-pinned DESC, a region exhausted below
    * `need` without a pin, more than [[PxWalkCap]] candidates) — the
    * caller then keeps the ordinary plan.
    */
  private def orderWalkCandidates(d: graft.store.IndexDef,
      w: PxWalk, pfx: String = ""): Option[Seq[String]] = {
    val pin: Option[String] =
      if (w.numLo.isDefined || w.numHi.isDefined) Some("n")
      else if (w.strLo.isDefined || w.strHi.isDefined ||
        w.prefix.isDefined) Some("s")
      else None
    val parts = w.dirs.map { case (asc, need) =>
      val region = pin match {
        case Some(r) => r
        case None if asc => "n" // numbers sort first; bail if too few
        case None => return None // DESC un-pinned: nulls sort first
      }
      if (w.strOrder && region != "s") return None
      walkRegion(d, region, asc, need, w, complete = pin.isDefined,
        pfx) match {
        case Some(gids) => gids
        case None => return None
      }
    }
    Some(parts.flatten.distinct)
  }

  /** candidate cap of one region walk — past it the walk stops paying
    * for itself and the single-pass label scan wins */
  private val PxWalkCap = 4096

  /** walk one type region of `d`'s sect=r section in key order; see
    * [[PxWalk]] for the superset/undercount argument. `complete`:
    * bounds pin every survivor into this region, so exhausting it
    * yields a complete candidate set even below `need`. */
  private def walkRegion(d: graft.store.IndexDef, region: String,
      asc: Boolean, need: Int, w: PxWalk,
      complete: Boolean, pfx: String = ""): Option[Seq[String]] = {
    import graft.store.SearchIndexes.{encodeSortableValue, rangeBucketOf}
    def encN(x: Double): String = encodeSortableValue(x).get
    def cmpK(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    def maxK(a: String, b: String) = if (cmpK(a, b) >= 0) a else b
    def minK(a: String, b: String) = if (cmpK(a, b) <= 0) a else b
    // COMPOSITE walk (pfx = the framed equality-prefix): bound tests
    // run on the DECODED trailing component (strip the prefix, take
    // the first escape-framed field, undo the escComp escapes), while
    // bucket mapping, ordering, and tie detection stay on the framed
    // full key — equal trailing values under one prefix have equal
    // framed keys, so the equal-keys-share-a-bucket tie argument
    // carries over verbatim; escComp is order-preserving, so framed
    // order = component order inside the span
    val keyCol: Column =
      if (pfx.isEmpty) col("val")
      else regexp_replace(regexp_replace(
        element_at(split(
          col("val").substr(lit(pfx.length + 1), lit(1 << 30)),
          "\u0000"), 1),
        "\u0001\u0002", "\u0000"), "\u0001\u0003", "\u0001")
    // region membership is a key-prefix test; loKey/hiKey bound the
    // bucket span (hiKey via the ceil trick: hex digits stop at 'G',
    // strings at the ':'-successor ';')
    val wideC = Seq.newBuilder[Column]
    val strictC = Seq.newBuilder[Column]
    if (pfx.nonEmpty) wideC += col("val").startsWith(pfx)
    wideC += keyCol.startsWith(region + ":")
    var loKey = region + ":"
    var hiKey = if (region == "n") "n:G" else "s;"
    if (region == "n") {
      // strict counting stays inside the finite-number span: total-
      // order bits place NaN above +Inf and -NaN below -Inf, and a
      // stored NaN never satisfies a numeric residual
      strictC += keyCol >= lit(encN(Double.NegativeInfinity))
      strictC += keyCol <= lit(encN(Double.PositiveInfinity))
      def neg0(x: Double) = if (x == 0.0) -0.0 else x
      def pos0(x: Double) = if (x == 0.0) 0.0 else x
      w.numLo.foreach { case (x, incl) =>
        val wk = encN(math.nextDown(x))
        wideC += keyCol >= lit(wk)
        loKey = maxK(loKey, wk)
        strictC += (if (incl) keyCol >= lit(encN(neg0(x)))
                    else keyCol > lit(encN(pos0(x))))
      }
      w.numHi.foreach { case (x, incl) =>
        val wk = encN(math.nextUp(x))
        wideC += keyCol <= lit(wk)
        hiKey = minK(hiKey, wk)
        strictC += (if (incl) keyCol <= lit(encN(pos0(x)))
                    else keyCol < lit(encN(neg0(x))))
      }
    } else {
      // string bounds are exact in the encoding — wide = strict
      w.strLo.foreach { case (s, incl) =>
        val k = "s:" + s
        val c = if (incl) keyCol >= lit(k) else keyCol > lit(k)
        wideC += c; strictC += c
        loKey = maxK(loKey, k)
      }
      w.strHi.foreach { case (s, incl) =>
        val k = "s:" + s
        val c = if (incl) keyCol <= lit(k) else keyCol < lit(k)
        wideC += c; strictC += c
        hiKey = minK(hiKey, k)
      }
      w.prefix.foreach { p =>
        val c = keyCol.startsWith("s:" + p)
        wideC += c; strictC += c
        loKey = maxK(loKey, "s:" + p)
      }
    }
    if (cmpK(loKey, hiKey) > 0) return Some(Nil) // empty span
    // frame the span bounds into the composite key space (escComp is
    // order-preserving; hi + "\u0001" upper-bounds every continuation
    // of a framed key equal to the hi bound — compositePrefixHits'
    // recipe, since continuations start with the "\u0000" terminator)
    def escBody(k: String): String =
      graft.store.SearchIndexes.escCompStr(k).dropRight(1)
    val bLo = rangeBucketOf(d.boundaries,
      if (pfx.isEmpty) loKey else pfx + escBody(loKey))
    var bHi = rangeBucketOf(d.boundaries,
      if (pfx.isEmpty) hiKey else pfx + escBody(hiKey) + "\u0001")
    w.prefix.foreach { p =>
      // the prefix's own span ceiling (pxPrefixKeys' formula — no
      // successor-string construction)
      val lo = "s:" + p
      val pHi = d.boundaries.count(bd =>
        cmpK(bd, lo) <= 0 || bd.startsWith(lo))
      bHi = math.min(bHi, pHi)
    }
    if (bLo > bHi) return Some(Nil)
    val wide = wideC.result().reduce(_ && _)
    val strict = (strictC.result() :+ wide).reduce(_ && _)
    val order =
      if (asc) (bLo to bHi).toVector else (bLo to bHi).toVector.reverse
    var cnt = 0
    val cands = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var chunk = 1
    while (i < order.size && cnt < need) {
      val bs = order.slice(i, i + chunk)
        .map(b => s"sect=r/bucket=$b").toSet
      // ordered + limited chunk read (TakeOrderedAndProject over the
      // val-sorted files): a bucket holds ~rows/buckets entries — far
      // more than `need` at scale — so only the needed value-prefix
      // of the chunk pulls to the driver. Equal keys always share a
      // bucket, so a tie run never spans chunks; a tie run (or a
      // sliver of wide-but-not-strict rows) that spills past the
      // fetch horizon refetches this same chunk with a wider one.
      var fetch = math.min(math.max(256, (need - cnt) * 4),
        PxWalkCap + 1 - cands.size)
      var done = false
      while (!done) {
        if (fetch <= 0) return None
        val base = store.readSearchIndex(d, bs.contains)
          .filter(col("sect") === "r" && wide)
          .select(col("gid"), strict.as("ok"), col("val"))
        val rows = (if (asc) base.orderBy(col("val").asc)
                    else base.orderBy(col("val").desc)).take(fetch)
        // position of the need-th strict survivor in this chunk
        var c = cnt
        var stopIdx = -1
        var j = 0
        while (j < rows.length && stopIdx < 0) {
          if (!rows(j).isNullAt(1) && rows(j).getBoolean(1)) {
            c += 1
            if (c >= need) stopIdx = j
          }
          j += 1
        }
        val capLeft = PxWalkCap + 1 - cands.size
        if (stopIdx >= 0) {
          val stopVal = rows(stopIdx).getString(2)
          val truncatedTies = rows.length == fetch &&
            rows.last.getString(2) == stopVal
          if (truncatedTies && fetch >= capLeft) return None
          else if (truncatedTies) fetch = math.min(fetch * 4, capLeft)
          else {
            // take everything up to the LAST tie of the stop value —
            // ties at the boundary must all become candidates
            var k = 0
            var taking = true
            while (k < rows.length && taking) {
              val r = rows(k)
              val c2 = cmpK(r.getString(2), stopVal)
              if (if (asc) c2 <= 0 else c2 >= 0) {
                cands += r.getString(0)
                if (!r.isNullAt(1) && r.getBoolean(1)) cnt += 1
              } else taking = false
              k += 1
            }
            done = true
          }
        } else if (rows.length < fetch) {
          // chunk exhausted below the target — take all, move on
          rows.foreach { r =>
            cands += r.getString(0)
            if (!r.isNullAt(1) && r.getBoolean(1)) cnt += 1
          }
          done = true
        } else if (fetch >= capLeft) {
          return None // wide candidates overflow the walk cap
        } else fetch = math.min(fetch * 4, capLeft)
      }
      i += chunk
      chunk = math.min(chunk * 2, 64)
    }
    if (cnt >= need || complete) Some(cands.toSeq) else None
  }

  /** Count-store fast path (the Neo4j count-store read,
    * /root/reference/neo4j.go:289-291's implied Query() surface):
    *
    *   MATCH (n[:L[|M…]]) RETURN count(n) / count(*)
    *   MATCH ()-[r[:T[|U…]]]->() RETURN count(r) / count(*)
    *
    * answers in O(1) from the per-partition row counts the commit
    * maintains beside the manifest — ZERO Spark jobs, no scan. The
    * route bails (keeps the ordinary plan) whenever anything else is
    * in the statement: any predicate/property/WHERE, extra pattern
    * parts, var-length/undirected rels (an undirected anonymous
    * pattern matches each edge twice — not a partition sum), labeled
    * rel endpoints, DISTINCT, ORDER/SKIP/LIMIT, a session holding
    * uncommitted writes, or a label ever used as a secondary
    * (store-side gates). Label/type disjunctions sum disjoint
    * partitions — exact because primary labels partition the table.
    */
  /** the manifest count for ONE pure pattern (no props/WHERE/QPP/
    * var-length/path binding), if the sidecar can serve it — the
    * shared core of the count-store fast path, used by the top-level
    * shape, uncorrelated COUNT { } subqueries, and their full-query
    * bodies. None with pending session writes (the sidecar is stale
    * against the overlay). */
  private def patternStoreCount(pat: PathPattern): Option[Long] = {
    if (pendingNodes.nonEmpty || pendingEdges.nonEmpty ||
        pendingNodeDeletes.nonEmpty || pendingEdgeDeletes.nonEmpty)
      return None
    if (pat.pathVar.nonEmpty || pat.shortest || pat.allShortest)
      return None
    def anonNode(n: NodePattern): Boolean =
      n.label.isEmpty && n.altLabels.isEmpty && n.extraLabels.isEmpty &&
        n.props.isEmpty && n.where.isEmpty && n.dynLabel.isEmpty
    pat.hops match {
      case Seq() =>
        val n = pat.head
        if (n.props.nonEmpty || n.where.nonEmpty ||
            n.extraLabels.nonEmpty || n.dynLabel.nonEmpty) return None
        val labels = n.label.toSeq ++ n.altLabels
        if (labels.isEmpty) store.nodeCountByLabel(None)
        else labels.distinct.foldLeft(Option(0L)) { (acc, l) =>
          acc.flatMap(a => store.nodeCountByLabel(Some(l)).map(a + _)) }
      case Seq((r, tail)) =>
        if (r.direction == 0 || r.varLength.nonEmpty ||
            r.where.nonEmpty || r.props.nonEmpty ||
            r.qppNodeVars.nonEmpty || r.dynType.nonEmpty) return None
        // a repeated node variable — MATCH (n)-[:T]->(n) — is a
        // self-loop equality constraint the one-sided entries can't
        // see; keep the scan plan
        if (pat.head.variable.isDefined &&
            pat.head.variable == tail.variable) return None
        val types = r.relType.toSeq ++ r.altRelTypes
        // a node that is label-only (no props/where/extra/dynamic) —
        // servable from the ONE-SIDED count-store entries
        def labelOnly(n: NodePattern): Boolean =
          n.props.isEmpty && n.where.isEmpty &&
            n.extraLabels.isEmpty && n.dynLabel.isEmpty &&
            (n.label.nonEmpty || n.altLabels.nonEmpty)
        val (srcN, dstN) =
          if (r.direction > 0) (pat.head, tail) else (tail, pat.head)
        def typedSum(f: Option[String] => Option[Long]): Option[Long] =
          if (types.isEmpty) f(None)
          else types.distinct.foldLeft(Option(0L)) { (acc, t) =>
            acc.flatMap(a => f(Some(t)).map(a + _)) }
        if (anonNode(srcN) && anonNode(dstN))
          typedSum(store.edgeCountByType)
        else if (labelOnly(srcN) && anonNode(dstN))
          // (:L|L2)-[:T|T2]->() — Σ over the label × type grid of the
          // ltOut entries (Neo4j's one-sided count-store shape)
          (srcN.label.toSeq ++ srcN.altLabels).distinct
            .foldLeft(Option(0L)) { (acc, l) =>
              acc.flatMap(a => typedSum(
                store.relCountByLabel(l, _, outgoing = true)).map(a + _)) }
        else if (anonNode(srcN) && labelOnly(dstN))
          (dstN.label.toSeq ++ dstN.altLabels).distinct
            .foldLeft(Option(0L)) { (acc, l) =>
              acc.flatMap(a => typedSum(
                store.relCountByLabel(l, _, outgoing = false)).map(a + _)) }
        else None
      case _ => None
    }
  }

  /** a COUNT { } body's pattern is servable from the count store when
    * it is the pure shape AND shares no variable with the outer scope
    * (an uncorrelated count is the same for every outer row) */
  private def subCountStoreCount(pat: PathPattern,
      where: Option[Expr]): Option[Long] = {
    if (where.nonEmpty) return None
    val vars = pat.head.variable.toSeq ++
      pat.hops.flatMap { case (r, t) =>
        r.variable.toSeq ++ t.variable.toSeq }
    if (vars.exists(v => env.get(v).nonEmpty)) return None
    patternStoreCount(pat)
  }

  /** `MATCH (n:L) WHERE n.p IS NOT NULL RETURN DISTINCT n.p [AS x]
    * [ORDER BY x [DESC]] [LIMIT k]` served from the `sect=w` VALUE
    * DICTIONARY alone — vocabulary-sized rows whose owner counts are
    * maintained per commit (count > 0 ⇔ the value exists on some
    * member), so the distinct set reads ZERO node files. Sound only
    * when every stored value is provably a STRING (the dictionary
    * indexes the strict `s` slot): gated on a declared
    * `IS :: STRING` type constraint for (L, p) — the constraint IS
    * the proof (declaration validated existing members; commits veto
    * divergence). Bails on session/statement pending writes; the
    * index covers secondary-label members, so xlabels need no gate.
    */
  private def detectDictDistinct(q: Query): Option[DataFrame] = {
    if (q.unions.nonEmpty || !q.distinct || q.skip.nonEmpty) return None
    if (pendingNodes.nonEmpty || pendingEdges.nonEmpty ||
        pendingNodeDeletes.nonEmpty || pendingEdgeDeletes.nonEmpty)
      return None
    if (store.session.exists(st =>
        st.workNodes.isDefined || st.workEdges.isDefined)) return None
    val m = q.clauses match {
      case Seq(mc: MatchClause) if !mc.optional => mc
      case _ => return None
    }
    if (m.patterns.size != 1) return None
    val pat = m.patterns.head
    if (pat.hops.nonEmpty || pat.pathVar.nonEmpty || pat.shortest ||
        pat.allShortest) return None
    val n = pat.head
    val v = n.variable.getOrElse(return None)
    if (n.props.nonEmpty || n.where.nonEmpty || n.extraLabels.nonEmpty ||
        n.dynLabel.nonEmpty || n.altLabels.nonEmpty) return None
    val label = n.label.getOrElse(return None)
    val prop = m.where match {
      case Some(IsNull(PropRef(`v`, p), true)) => p
      case _ => return None
    }
    val item = q.items match {
      case Seq(it @ ReturnItem(PropRef(`v`, p2), _)) if p2 == prop => it
      case _ => return None
    }
    val asc: Option[Boolean] = q.orderBy match {
      case Seq() => None
      case Seq((VarRef(x), a)) if x == item.name => Some(a)
      case Seq((PropRef(`v`, p3), a)) if p3 == prop => Some(a)
      case _ => return None
    }
    val lim: Option[Long] = q.limit.map { e =>
      try boundVal(e, "LIMIT") catch { case _: Exception => return None }
    }
    val d = store.indexDefs.find(dd => dd.kind == "property" &&
      dd.entity == "NODE" && dd.constraint != "exists" &&
      dd.label == label && dd.property == prop && !dd.zorder)
      .getOrElse(return None)
    if (!store.searchIndexReady(d) || !store.pxValueDictReady(d))
      return None
    if (store.manifestFiles(d.tableName).isEmpty) {
      // empty table + the gates above ⇒ no member carries the prop
      val out = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(item.name,
            org.apache.spark.sql.types.StringType))))
      return Some(out)
    }
    if (!store.indexDefs.exists(c => c.constraint == "type:STRING" &&
        c.label == label && c.property == prop)) return None
    var out = store.readSearchIndex(d, _.startsWith("sect=w"))
      .filter(col("sect") === "w" && col("val").startsWith("s:"))
      .select(col("val").substr(lit(3),
        org.apache.spark.sql.functions.length(col("val")))
        .as(item.name))
    asc.foreach(a => out = out.orderBy(
      if (a) col(quote(item.name)).asc else col(quote(item.name)).desc))
    lim.foreach(k => out = out.limit(k.toInt))
    Some(out)
  }

  private def detectCountStore(q: Query): Option[DataFrame] = {
    if (q.unions.nonEmpty || q.distinct || q.orderBy.nonEmpty ||
        q.skip.nonEmpty || q.limit.nonEmpty) return None
    val m = q.clauses match {
      case Seq(mc: MatchClause) if !mc.optional && mc.where.isEmpty => mc
      case _ => return None
    }
    if (m.patterns.size != 1) return None
    val pat = m.patterns.head
    val c = patternStoreCount(pat) match {
      case Some(x) => x
      case None => return None
    }
    // every projected item must be a bare non-DISTINCT count of the
    // whole row (count(*)) or of a pattern-bound variable (always
    // non-null under MATCH, so count(v) = count(*)) — or a LITERAL
    // tag column (`RETURN 'users' AS kind, count(n)`, the common
    // dashboard shape). A literal is a GROUPING key: with zero
    // matches Cypher returns zero groups, so the literal-tagged
    // shape only routes when the count is positive (the scan answers
    // the empty-group case).
    val bound: Set[String] = (pat.head.variable.toSeq ++
      pat.hops.flatMap { case (r, t) =>
        r.variable.toSeq ++ t.variable.toSeq }).toSet
    if (q.items.isEmpty) return None
    val ok = q.items.forall(_.expr match {
      case FuncCall("count", Seq(Star), false) => true
      case FuncCall("count", Seq(VarRef(v)), false) => bound(v)
      case Lit(_: String) | Lit(_: Long) | Lit(_: Boolean) => true
      case _ => false
    }) && q.items.exists(!_.expr.isInstanceOf[Lit])
    if (!ok) return None
    val hasLit = q.items.exists(_.expr.isInstanceOf[Lit])
    if (hasLit && c == 0L) return None
    Some(seedRow(q.items.map(i => i.expr match {
      case Lit(v) => i.name -> v
      case _ => i.name -> c
    }): _*))
  }

  /** `v:l` label MEMBERSHIP (primary or secondary). When `l` was
    * never used as a secondary label anywhere in the store (tracked
    * in the commit pointer), the test stays a pure partition-column
    * equality — the scan prunes to the label's directories exactly as
    * in the single-label model; only labels actually used as
    * secondaries pay the full-scan disjunction.
    */
  private def labelMember(v: String, l: String): Column =
    // with same-statement pending nodes in view, a label may be a
    // secondary before the commit pointer records it — test fully
    if (store.secondaryLabels.contains(l) || pendingNodes.nonEmpty)
      col(s"${v}__label") === l ||
        (col(s"${v}__xlabels").isNotNull &&
          array_contains(col(s"${v}__xlabels"), l))
    else col(s"${v}__label") === l

  /** label predicate: (n:A|B) disjunction, (n:A:B) conjunction,
    * each leg a primary-or-secondary membership test */
  private def labelFilter(v: String, n: NodePattern): Option[Column] = {
    val disj = n.label.map { l =>
      (l +: n.altLabels).map(labelMember(v, _)).reduce(_ || _) }
    val conj = n.extraLabels.map(labelMember(v, _))
    (disj.toSeq ++ conj).reduceOption(_ && _)
  }

  /** inline literal property predicate. gid/source/label are model
    * COLUMNS, not props-map keys — the reference's own truncate
    * template matches `{source: "%s"}` inline (neo4j.go:126).
    */
  private def litPropFilter(v: String, k: String, value: Any): Column =
    k match {
      case "gid" => col(s"${v}__gid") === lit(value)
      case "source" => col(s"${v}__source") === lit(value)
      case "label" => col(s"${v}__label") === lit(value)
      case _ => propCmp(s"${v}__props", k, value)
    }

  /** expression-valued inline props (`{gid: item.gid}`, neo4j.go:103)
    * become equality predicates applied after the node's join — they
    * may reference other bound variables, so they cannot push into the
    * standalone node scan (Catalyst rewrites the equality on the join
    * into an equi-join condition).
    */
  private def exprPropFilters(v: String, n: NodePattern): Seq[Column] =
    n.props.collect { case (k, e) if !e.isInstanceOf[Lit] =>
      k match {
        case "gid" => col(s"${v}__gid") === pvStrOf(pvCol(e))
        case "source" => col(s"${v}__source") === pvStrOf(pvCol(e))
        case "label" => col(s"${v}__label") === pvStrOf(pvCol(e))
        case _ => pvEq(col(s"${v}__props").getItem(k), pvCol(e))
      }
    }

  /** PV equality across storage slots: a stored long must match an
    * expression/param double of the same value (raw struct equality
    * would silently match nothing, unlike the literal path's propCmp).
    * Null on either side — missing prop or null-valued param — is
    * non-matching, per Cypher `prop = null` semantics.
    */
  private def pvEq(a: Column, b: Column): Column = {
    def num(c: Column) = coalesce(c.getField("l").cast("double"), c.getField("d"))
    (a.getField("s") === b.getField("s")) ||
      (num(a) === num(b)) ||
      (a.getField("b") === b.getField("b"))
  }

  private def propCmp(propsCol: String, key: String, value: Any): Column = {
    val pv = col(propsCol).getItem(key)
    value match {
      case s: String => pv.getField("s") === s
      case l: Long => coalesce(pv.getField("l").cast("double"),
        pv.getField("d")) === l.toDouble
      case d: Double => coalesce(pv.getField("l").cast("double"),
        pv.getField("d")) === d
      case b: Boolean => pv.getField("b") === b
      case null => pv.isNull
      case other => throw PlanError(s"unsupported literal: $other")
    }
  }

  private def applyMatch(m: MatchClause): Unit =
    if (m.optional && df != null) applyOptionalMatch(m)
    else if (m.optional) {
      // leading OPTIONAL MATCH operates on one imaginary row: the
      // pattern's rows when anything matches, else a single all-null
      // row (Neo4j's semantics — `OPTIONAL MATCH (n:Gone) RETURN
      // count(n)` is 0, not zero rows). Lowered LAZILY as a left
      // join from the imaginary row, so the match subplan runs once
      // at materialization, not eagerly at plan time
      applyInnerMatch(m)
      val matched = df
      df = seedRow("__opt_seed" -> 1)
        .join(matched, lit(true), "left_outer")
        .select(matched.columns.map(cn => col(quote(cn))).toSeq: _*)
    } else applyInnerMatch(m)

  /** inline relationship property maps `-[r:T {source: 'x'}]->`
    * desugar to equality predicates on the (possibly freshly-named)
    * rel variable, folded into the clause WHERE
    */
  private def foldRelProps(m: MatchClause): MatchClause = {
    var extra = List.empty[Expr]
    val pats = m.patterns.map { pat =>
      val hops = pat.hops.map { case (rel0, node0) =>
        // dynamic labels/types in MATCH resolve to plan-time
        // constants (literal/parameter) — the data-driven per-row
        // form is a CREATE feature
        val rel1 = resolveDynRel(rel0, "MATCH")
        val node = resolveDynNode(node0, "MATCH")
        val rel = rel1
        if (rel.props.isEmpty) (rel, node)
        // a var-length rel's property map constrains EVERY step —
        // consumed inside applyVarLengthHop (filters the step edges)
        else if (rel.varLength.nonEmpty) (rel, node)
        else {
          val v = rel.variable.getOrElse(fresh("rprop"))
          rel.props.foreach { case (k, e) =>
            extra ::= Cmp("=", PropRef(v, k), e) }
          (rel.copy(variable = Some(v), props = Nil), node)
        }
      }
      pat.copy(head = resolveDynNode(pat.head, "MATCH"), hops = hops)
    }
    m.copy(patterns = pats,
      where = (m.where.toSeq ++ extra).reduceOption(And(_, _)))
  }

  /** MATCH-wide relationship uniqueness (Neo4j's relationship-
    * isomorphism rule): all relationships matched by ONE MATCH clause
    * are pairwise distinct — `MATCH (a)-[r1:knows]->(b)<-[r2:knows]-(c)`
    * never binds r1 = r2. Scope is the clause (comma-separated patterns
    * included); different MATCH clauses may rebind the same edge, as in
    * Neo4j. Enforced as cheap codegen'd filters over the stored edge
    * identity (src,dst,relType): fixed-vs-fixed is a string inequality,
    * fixed-vs-stretch is array_contains on the stretch's visited-edge
    * keys, stretch-vs-stretch is arrays_overlap. Pairs whose concrete
    * relationship-type sets are disjoint are skipped outright (their
    * edge keys cannot collide), so the ubiquitous typed two-hop chain
    * pays nothing — and a clause whose rel elements are pairwise
    * type-disjoint disables the machinery entirely. When enforcement
    * IS live, shortestPath stretches leave the BFS fast path for the
    * enumerating expansion so their edge keys participate, and the
    * shortest-path choice DEFERS past the uniqueness filters: the
    * kept path is the minimal VALID one per outer row (Neo4j's
    * exhaustive-search fallback), so a conflict with another clause
    * relationship falls back to the next-shortest conflict-free path
    * instead of dropping the row.
    */
  private case class BoundRel(ekey: Column, types: Option[Set[String]])
  private case class BoundStretch(pathCol: String, types: Option[Set[String]])
  private var clauseRelUniq: Boolean = false
  private var clauseFixedRels: List[BoundRel] = Nil
  private var clauseStretches: List[BoundStretch] = Nil
  private var clauseRetained: List[String] = Nil
  private def relTypeSet(rel: RelPattern): Option[Set[String]] =
    rel.relType.map(t => (t +: rel.altRelTypes).toSet)

  /** one-row seed frame as a LocalRelation — not a Range leaf, which
    * blocks ConvertToLocalRelation and forces every downstream
    * broadcast in an interactive write statement to submit its own
    * job; a LocalRelation seed lets tiny statement plans fold
    * driver-side end to end */
  private def seedRow(cols: (String, Any)*): DataFrame = {
    import org.apache.spark.sql.types._
    if (cols.isEmpty)
      spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row()),
        StructType(Nil))
    else
      spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(cols.map(_._2): _*)),
        StructType(cols.map { case (n, v) =>
          StructField(n, v match {
            case _: Long => LongType
            case _: Int => IntegerType
            case _ => StringType
          }, nullable = false)
        }))
  }

  // ---- dynamic labels/types (Cypher 25 `$(expr)`) ----

  /** plan-time constant evaluation of a dynamic label/type
    * expression: string literals, string parameters, their `+`
    * concatenations and toString. A non-string constant is rejected
    * here — the runtime type error Neo4j raises, surfaced at the
    * statement's execution. None = genuinely per-row.
    */
  private def constStr(e: Ast.Expr): Option[String] = e match {
    case Lit(s: String) => Some(s)
    case Lit(null) => throw PlanError(
      "dynamic label/type must be a non-empty string, got: null")
    case Lit(other) => throw PlanError(
      s"dynamic label/type must be a string, got: $other")
    case Param(n) => params.get(n) match {
      case Some(s: String) => Some(s)
      case Some(other) => throw PlanError(
        s"dynamic label/type must be a string, got $$$n = $other")
      case None => throw PlanError(s"parameter $$$n is not bound")
    }
    case Arith("+", a, b) =>
      for { x <- constStr(a); y <- constStr(b) } yield x + y
    case FuncCall("tostring", Seq(x), _) => constStr(x)
    case _ => None
  }

  private def requireConstLabel(e: Ast.Expr, where: String): String =
    constStr(e) match {
      case Some(s) if s.nonEmpty => s
      case Some(_) => throw PlanError(
        s"dynamic label/type in $where must not be empty")
      case None => throw PlanError(
        s"a dynamic label/type in $where must be a constant " +
          "(literal or parameter) string expression")
    }

  /** per-row dynamic label/type column with Neo4j's runtime type
    * enforcement: the value must be a non-empty string */
  private def dynLabelCol(e: Ast.Expr): Column = {
    val pv = pvCol(e)
    val s = pv.getField("s")
    when(s.isNotNull && length(s) > 0, s)
      .otherwise(raise_error(concat(
        lit("dynamic label/type must be a non-empty string, got: "),
        coalesce(pvStrOf(pv), lit("null")))))
  }

  private def resolveDynNode(n: NodePattern, where: String): NodePattern =
    n.dynLabel match {
      case None => n
      case Some(e) =>
        n.copy(label = Some(requireConstLabel(e, where)), dynLabel = None)
    }

  private def resolveDynRel(r: RelPattern, where: String): RelPattern =
    r.dynType match {
      case None => r
      case Some(e) =>
        r.copy(relType = Some(requireConstLabel(e, where)), dynType = None)
    }
  private def typesMayOverlap(a: Option[Set[String]],
      b: Option[Set[String]]): Boolean =
    a.isEmpty || b.isEmpty || (a.get & b.get).nonEmpty

  /** WHERE-clause equality conjuncts `n.p = <scalar const>` (either
    * side) fold into node `n`'s inline property map when that makes a
    * READY property index's route (propIndexedBase) applicable —
    * `MATCH (n:L) WHERE n.p = $v` then plans the same gid-bucket
    * point lookup as `MATCH (n:L {p: $v})`. Semantics-preserving:
    * inline props ARE equality predicates evaluated inside the match
    * (null/missing props drop the row either way, typed numeric
    * equality matches propCmp/pvEq), and the conjunct MOVES, so
    * nothing evaluates twice. Deliberately narrow: the variable must
    * be a fresh pattern node occurring exactly once in the clause
    * with a single label, the value a scalar literal or parameter the
    * index can key, and a ready index must exist — otherwise the
    * predicate stays verbatim in WHERE.
    */
  private def foldNodePropEqs(m: MatchClause): MatchClause = {
    val wh = m.where.getOrElse(return m)
    if (pendingNodes.nonEmpty || pendingNodeDeletes.nonEmpty) return m
    def conjs(e: Expr): List[Expr] = e match {
      case And(a, b) => conjs(a) ++ conjs(b)
      case x => List(x)
    }
    def constOk(e: Expr): Boolean = e match {
      case Lit(v) if v != null =>
        graft.store.SearchIndexes.encodeValue(v).isDefined
      case Param(p) => params.get(p).exists(v =>
        graft.store.SearchIndexes.encodeValue(v).isDefined)
      case _ => false
    }
    val occ = m.patterns.flatMap(p => p.head +: p.hops.map(_._2))
      .flatMap(_.variable)
    val once = occ.groupBy(identity).collect {
      case (v, vs) if vs.size == 1 => v }.toSet
    val nodesByVar: Map[String, NodePattern] =
      m.patterns.flatMap(p => p.head +: p.hops.map(_._2))
        .flatMap(n => n.variable.map(_ -> n)).toMap
    def routable(v: String, k: String): Boolean =
      once(v) && !env.contains(v) && nodesByVar.get(v).exists { n =>
        n.label.isDefined && n.altLabels.isEmpty &&
          !n.props.exists(_._1 == k) &&
          // any ready index whose key set CONTAINS k — a composite
          // routes once all its keys fold in (moving an equality
          // conjunct into inline props is semantics-preserving
          // whether or not the route fires)
          store.indexDefs.exists(ix => ix.kind == "property" &&
            !ix.zorder &&
            ix.label == n.label.get && ix.properties.contains(k) &&
            store.searchIndexReady(ix))
      }
    var moved = Map.empty[String, List[(String, Expr)]]
    def grab(v: String, k: String, value: Expr): Boolean =
      if (routable(v, k) && !moved.getOrElse(v, Nil).exists(_._1 == k)) {
        moved += v -> ((k, value) :: moved.getOrElse(v, Nil)); true
      } else false
    // `n.p IN [v1, v2, …]` (literal or scalar-param list) routes as a
    // MULTI-bucket probe: the predicate STAYS in WHERE (it is the
    // correctness filter); the hint only tells nodeDf which px
    // buckets resolve the candidate gids
    def inListEncs(listE: Expr): Option[Seq[String]] = {
      val vals: Option[Seq[Any]] = listE match {
        case ListLit(items) if items.nonEmpty &&
            items.forall(_.isInstanceOf[Lit]) =>
          Some(items.map { case Lit(x) => x })
        case Param(p) => params.get(p) match {
          case Some(seq: Seq[_]) if seq.nonEmpty => Some(seq)
          case _ => None
        }
        case _ => None
      }
      vals.filter(_.size <= 256).flatMap { vs =>
        val encs = vs.map(graft.store.SearchIndexes.encodeValue)
        if (encs.forall(_.isDefined)) Some(encs.flatten.distinct)
        else None
      }
    }
    // RELATIONSHIP property equality/IN hints: `r.source = $v` (incl.
    // the folded inline `{source: $v}` map) over a single-typed,
    // non-var-length rel var backed by a ready relationship property
    // index — recorded for [[relIndexedBase]]; the conjunct itself
    // STAYS in WHERE as the correctness filter
    val relsByVar: Map[String, RelPattern] =
      m.patterns.flatMap(_.hops.map(_._1))
        .filter(_.varLength.isEmpty)
        .flatMap(r => r.variable.map(_ -> r)).toMap
    def relRoutable(v: String, k: String): Boolean =
      !env.contains(v) && !relPxEqRoutes.contains(v) &&
        relsByVar.get(v).exists { r =>
          r.relType.isDefined && r.altRelTypes.isEmpty &&
            store.indexDefs.exists(ix => ix.kind == "property" &&
              ix.entity == "RELATIONSHIP" &&
              ix.label == r.relType.get && ix.property == k &&
              store.searchIndexReady(ix))
        }
    def relEnc(e: Expr): Option[String] = (e match {
      case Lit(x) if x != null => Some(x)
      case Param(p) => params.get(p)
      case _ => None
    }).flatMap(graft.store.SearchIndexes.encodeValue)
    conjs(wh).foreach {
      case InList(PropRef(v, k), listE)
          if routable(v, k) && !pxInRoutes.contains(v) =>
        inListEncs(listE).foreach(encs =>
          pxInRoutes += v -> ((k, encs)))
      case Cmp("=", PropRef(v, k), rhs) if relRoutable(v, k) =>
        relEnc(rhs).foreach(enc => relPxEqRoutes += v -> ((k, Seq(enc))))
      case Cmp("=", lhs, PropRef(v, k)) if relRoutable(v, k) =>
        relEnc(lhs).foreach(enc => relPxEqRoutes += v -> ((k, Seq(enc))))
      case InList(PropRef(v, k), listE) if relRoutable(v, k) =>
        inListEncs(listE).foreach(encs =>
          relPxEqRoutes += v -> ((k, encs)))
      case _ => ()
    }
    // range / STARTS WITH hints: inequality conjuncts on a (single-
    // property) indexed key map to a contiguous sect=r bucket span.
    // Numeric bounds WIDEN by one ulp before encoding — the sortable
    // key canonicalizes longs through double, and a probe bound must
    // never round past a stored key it should include; the residual
    // WHERE keeps exactness either way.
    def sortableBound(e: Expr, widen: Int): Option[String] = {
      def num(d0: Double): Option[String] = {
        val d = if (widen < 0) math.nextDown(d0)
          else if (widen > 0) math.nextUp(d0) else d0
        graft.store.SearchIndexes.encodeSortableValue(d)
      }
      val v: Option[Any] = e match {
        case Lit(x) if x != null => Some(x)
        case Param(p) => params.get(p)
        case _ => None
      }
      v.flatMap {
        case s: String => graft.store.SearchIndexes.encodeSortableValue(s)
        case b: Boolean => graft.store.SearchIndexes.encodeSortableValue(b)
        case i: Int => num(i.toDouble)
        case l: Long => num(l.toDouble)
        case f: Float => num(f.toDouble)
        case d: Double => num(d)
        case _ => None
      }
    }
    def rangeRoutable(v: String, k: String): Boolean =
      once(v) && !env.contains(v) && !pxInRoutes.contains(v) &&
        pxRangeRoutes.get(v).forall(_.prop == k) &&
        nodesByVar.get(v).exists { n =>
          n.label.isDefined && n.altLabels.isEmpty &&
            // a single-prop index on k, or a composite whose key set
            // contains k (the hint then serves the equality-prefix +
            // trailing-range span route)
            store.indexDefs.exists(ix => ix.kind == "property" &&
              ix.label == n.label.get && ix.properties.contains(k) &&
              store.searchIndexReady(ix))
        }
    def cmpKeys(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    def addBound(v: String, k: String, isLo: Boolean, key: String): Unit = {
      val cur = pxRangeRoutes.getOrElse(v, PxRange(k, None, None, None))
      val nxt =
        if (isLo) cur.copy(lo = Some(cur.lo
          .filter(cmpKeys(_, key) >= 0).getOrElse(key)))
        else cur.copy(hi = Some(cur.hi
          .filter(cmpKeys(_, key) <= 0).getOrElse(key)))
      pxRangeRoutes += v -> nxt
    }
    // spatial predicates decompose into per-coordinate bounds (the
    // point-index route): `point.withinBBox(point({x: n.a, y: n.b}),
    // lo, hi)` pins n.a to [lo.x, hi.x] (and n.b likewise);
    // `point.distance(p, c) <= r` pins a covering band around c. The
    // predicate itself STAYS in WHERE — the bounds only feed the
    // sect=r span route, so the narrowing is a superset and residuals
    // keep exactness (including the cross-coordinate and exact-circle
    // parts the band over-approximates).
    def pointCoords(e: Expr): Option[(String, String, String)] = e match {
      case FuncCall("point", Seq(MapLit(es)), _) if es.size == 2 =>
        val m = es.map { case (k, x) => k.toLowerCase -> x }.toMap
        def pr(k1: String, k2: String) = (m.get(k1), m.get(k2)) match {
          case (Some(PropRef(v1, a)), Some(PropRef(v2, b)))
              if v1 == v2 => Some((v1, a, b))
          case _ => None
        }
        pr("x", "y").orElse(pr("longitude", "latitude"))
      case _ => None
    }
    def constNum(e: Expr): Option[Double] = (e match {
      case Lit(x) => Some(x)
      case Param(p) => params.get(p)
      case _ => None
    }).collect {
      case x: Int => x.toDouble
      case x: Long => x.toDouble
      case x: Float => x.toDouble
      case x: Double => x
    }
    def constPoint(e: Expr): Option[(Double, Double, Boolean)] = e match {
      case FuncCall("point", Seq(MapLit(es)), _) if es.size == 2 =>
        val m = es.map { case (k, x) => k.toLowerCase -> x }.toMap
        def pt(k1: String, k2: String, wgs: Boolean) = for {
          a <- m.get(k1).flatMap(constNum)
          b <- m.get(k2).flatMap(constNum)
        } yield (a, b, wgs)
        pt("x", "y", wgs = false)
          .orElse(pt("longitude", "latitude", wgs = true))
      case _ => None
    }
    def addCoordBand(v: String, pairs: Seq[(String, Double, Double)])
        : Unit = {
      // BOTH coordinates bounded: record the rectangle for the
      // Z-order route (true 2-D pruning; the band below stays the
      // fallback when no point index exists)
      pairs match {
        case Seq((xk, xl, xh), (yk, yl, yh))
            if !pxZRoutes.contains(v) &&
              !Seq(xl, xh, yl, yh).exists(_.isNaN) =>
          pxZRoutes += v -> ((xk, yk, xl, xh, yl, yh))
        case _ => ()
      }
      // route on the first coordinate with a usable range index —
      // the other coordinate stays residual-only
      pairs.find { case (k, _, _) => rangeRoutable(v, k) }.foreach {
        case (k, lo, hi) if !lo.isNaN && !hi.isNaN =>
          graft.store.SearchIndexes
            .encodeSortableValue(math.nextDown(lo))
            .foreach(addBound(v, k, isLo = true, _))
          graft.store.SearchIndexes
            .encodeSortableValue(math.nextUp(hi))
            .foreach(addBound(v, k, isLo = false, _))
        case _ => ()
      }
    }
    val rangeOps = Set(">", ">=", "<", "<=")
    conjs(wh).foreach {
      case FuncCall("point.withinbbox", Seq(pe, loE, hiE), _) =>
        for {
          (v, ax, ay) <- pointCoords(pe)
          (lx, ly, _) <- constPoint(loE)
          (hx, hy, _) <- constPoint(hiE)
        } addCoordBand(v, Seq((ax, lx, hx), (ay, ly, hy)))
      case Cmp(op, FuncCall("point.distance" | "distance",
          Seq(aE, bE), _), rhs) if op == "<" || op == "<=" =>
        for {
          r <- constNum(rhs)
          if r >= 0 && !r.isNaN
          (pe, ce) <- (pointCoords(aE), constPoint(bE)) match {
            case (Some(_), Some(_)) => Some((aE, bE))
            case _ => (pointCoords(bE), constPoint(aE)) match {
              case (Some(_), Some(_)) => Some((bE, aE))
              case _ => None
            }
          }
          (v, ax, ay) <- pointCoords(pe)
          (cx, cy, wgs) <- constPoint(ce)
        } {
          if (!wgs)
            addCoordBand(v, Seq((ax, cx - r, cx + r), (ay, cy - r, cy + r)))
          else {
            // meters → a LATITUDE band (longitude scaling varies with
            // latitude; the lat band alone is still a superset)
            val dDeg = r / 6371000.0 * 180.0 / math.Pi
            addCoordBand(v, Seq((ay, cy - dDeg, cy + dDeg)))
          }
        }
      case Cmp(op, lhs, f @ FuncCall("point.distance" | "distance",
          _, _)) if op == ">" || op == ">=" =>
        // `r >= point.distance(…)` — same band, flipped comparison
        for {
          r <- constNum(lhs)
          if r >= 0 && !r.isNaN
          (pe, ce) <- f match {
            case FuncCall(_, Seq(aE, bE), _) =>
              (pointCoords(aE), constPoint(bE)) match {
                case (Some(_), Some(_)) => Some((aE, bE))
                case _ => (pointCoords(bE), constPoint(aE)) match {
                  case (Some(_), Some(_)) => Some((bE, aE))
                  case _ => None
                }
              }
            case _ => None
          }
          (v, ax, ay) <- pointCoords(pe)
          (cx, cy, wgs) <- constPoint(ce)
        } {
          if (!wgs)
            addCoordBand(v, Seq((ax, cx - r, cx + r), (ay, cy - r, cy + r)))
          else {
            val dDeg = r / 6371000.0 * 180.0 / math.Pi
            addCoordBand(v, Seq((ay, cy - dDeg, cy + dDeg)))
          }
        }
      case Cmp(op, PropRef(v, k), rhs)
          if rangeOps(op) && rangeRoutable(v, k) =>
        val isLo = op == ">" || op == ">="
        sortableBound(rhs, if (isLo) -1 else 1)
          .foreach(addBound(v, k, isLo, _))
      case Cmp(op, lhs, PropRef(v, k))
          if rangeOps(op) && rangeRoutable(v, k) =>
        val isLo = op == "<" || op == "<=" // const < n.p  ⇒  n.p > const
        sortableBound(lhs, if (isLo) -1 else 1)
          .foreach(addBound(v, k, isLo, _))
      case StrPred("startswith", PropRef(v, k), rhs)
          if rangeRoutable(v, k) =>
        (rhs match {
          case Lit(s: String) => Some(s)
          case Param(p) => params.get(p).collect { case s: String => s }
          case _ => None
        }).filter(_.nonEmpty).foreach { p =>
          val cur = pxRangeRoutes.getOrElse(v, PxRange(k, None, None, None))
          if (cur.prefix.isEmpty)
            pxRangeRoutes += v -> cur.copy(prefix = Some(p))
        }
      // CONTAINS / ENDS WITH (the Neo4j TEXT-index predicates): the
      // hint expands against the value dictionary in propIndexedBase;
      // the predicate itself stays in WHERE as the correctness filter
      case StrPred(op @ ("contains" | "endswith"), PropRef(v, k), rhs)
          if rangeRoutable(v, k) && !pxSubstrRoutes.contains(v) =>
        (rhs match {
          case Lit(s: String) => Some(s)
          case Param(p) => params.get(p).collect { case s: String => s }
          case _ => None
        }).filter(_.nonEmpty).foreach { t =>
          pxSubstrRoutes += v -> ((k, op, t))
        }
      case _ => ()
    }
    val kept = conjs(wh).filterNot {
      case Cmp("=", PropRef(v, k), rhs) if constOk(rhs) => grab(v, k, rhs)
      case Cmp("=", lhs, PropRef(v, k)) if constOk(lhs) => grab(v, k, lhs)
      case _ => false
    }
    if (moved.isEmpty) m
    else {
      def aug(n: NodePattern): NodePattern = n.variable match {
        case Some(v) if moved.contains(v) =>
          n.copy(props = n.props ++ moved(v).reverse)
        case _ => n
      }
      m.copy(
        patterns = m.patterns.map(p => p.copy(head = aug(p.head),
          hops = p.hops.map { case (r, nn) => (r, aug(nn)) })),
        where = kept.reduceOption(And(_, _)))
    }
  }

  /** clause-local IN-list route hints (var → (prop, encoded values))
    * feeding [[propIndexedBase]]; the IN predicate itself stays in
    * WHERE */
  private var pxInRoutes: Map[String, (String, Seq[String])] = Map.empty

  /** clause-local range/STARTS WITH route hints (var → bucket-span
    * bounds) feeding [[propIndexedBase]]'s sect=r route */
  private var pxRangeRoutes: Map[String, PxRange] = Map.empty

  /** clause-local CONTAINS / ENDS WITH hints (var → (prop, op,
    * needle)) feeding [[propIndexedBase]]'s sect=w dictionary
    * expansion; the predicate itself stays in WHERE */
  private var pxSubstrRoutes: Map[String, (String, String, String)] =
    Map.empty

  /** clause-local RELATIONSHIP property equality hints (rel var →
    * (prop, encoded values)) feeding [[relIndexedBase]] — collected
    * from WHERE conjuncts (inline `{source: $s}` maps fold there
    * first); the predicate itself stays in WHERE */
  private var relPxEqRoutes: Map[String, (String, Seq[String])] =
    Map.empty

  /** clause-local Z-ORDER rectangle hints (var → (xProp, yProp,
    * xlo, xhi, ylo, yhi)) from bbox / cartesian-distance predicates —
    * feeding [[propIndexedBase]]'s sect=z quadtree-cover route; the
    * exact spatial predicate stays in WHERE */
  private var pxZRoutes
      : Map[String, (String, String, Double, Double, Double, Double)] =
    Map.empty

  private def applyInnerMatch(m0: MatchClause): Unit = {
    val savedPx = pxInRoutes
    val savedPxR = pxRangeRoutes
    val savedPxS = pxSubstrRoutes
    val savedRelPx = relPxEqRoutes
    val savedZ = pxZRoutes
    pxInRoutes = Map.empty
    pxRangeRoutes = Map.empty
    pxSubstrRoutes = Map.empty
    relPxEqRoutes = Map.empty
    pxZRoutes = Map.empty
    val m = foldNodePropEqs(foldRelProps(m0))
    // save/restore the uniqueness scope: subquery bodies (pattern
    // predicates, EXISTS{}/COUNT{}) re-enter applyInnerMatch with
    // their own clause scope mid-plan
    val saved = (clauseRelUniq, clauseFixedRels, clauseStretches,
      clauseRetained)
    // enforcement is live only when two rel elements of the clause
    // COULD bind the same edge — pairwise-disjoint concrete type sets
    // (the ubiquitous typed chain) skip the whole machinery, which
    // also keeps the shortestPath BFS fast path available there
    val clauseRels = m.patterns.flatMap(_.hops.map(_._1))
    clauseRelUniq = clauseRels.length > 1 &&
      clauseRels.map(relTypeSet).combinations(2).exists {
        case Seq(a, b) => typesMayOverlap(a, b)
        case _ => false
      }
    clauseFixedRels = Nil
    clauseStretches = Nil
    clauseRetained = Nil
    m.patterns.foreach { pattern =>
      val headVar = pattern.head.variable.getOrElse(fresh("n"))
      if (!env.contains(headVar)) {
        val d = nodeDf(headVar, pattern.head)
        env += headVar -> NodeVar
        df = if (df == null) d else df.crossJoin(d)
        exprPropFilters(headVar, pattern.head).foreach(f => df = df.filter(f))
      } else {
        rebindFilters(headVar, pattern.head)
      }
      if ((pattern.shortest || pattern.allShortest) &&
          (pattern.hops.length != 1 || pattern.hops.head._1.varLength.isEmpty))
        throw PlanError(
          "shortestPath needs a single variable-length relationship pattern")
      val varHops = pattern.hops.count(_._1.varLength.nonEmpty)
      if (pattern.pathVar.nonEmpty && varHops > 1)
        throw PlanError(
          "a path variable supports at most one variable-length hop")
      val hopsColName = pattern.pathVar.filter(_ => varHops == 1)
        .map(pv => s"${pv}__hops")
      // nodes(p)/relationships(p) demand the edge-key arrays; without
      // them the shortest variants take the array-free BFS fast path
      val materialize = pattern.pathVar.exists(matPathVars.contains)
      val pathColName = pattern.pathVar
        .filter(_ => varHops == 1 && materialize).map(pv => s"${pv}__path")
      val segs = Seq.newBuilder[PathSeg]
      segs += NodeSeg(s"${headVar}__gid")
      var boundVar = headVar
      pattern.hops.foreach { case (rel, node) =>
        boundVar = rel.varLength match {
          case Some((minH, maxH)) =>
            val qppVars = rel.qppNodeVars.toSeq
              .flatMap(q => q._1.toSeq ++ q._2.toSeq)
            (rel.variable.toSeq ++ qppVars).foreach { v =>
              if (env.contains(v))
                throw PlanError(s"variable $v already bound")
            }
            // group variables (rel OR inner nodes) need the stretch's
            // ordered edge-key array — the rel group var binds it
            // directly; node group vars derive their gid lists from it
            val relKeys = rel.variable.map(rv => s"${rv}__keys")
              .orElse(if (qppVars.nonEmpty)
                Some(s"${fresh("qppk")}__keys") else None)
            val nv = applyVarLengthHop(boundVar, rel, node, minH, maxH,
              hopsColName, pattern.shortest, pattern.allShortest,
              materialize, pathColName, relKeys)
            rel.variable.foreach(rv => env += rv -> RelListVar(s"${rv}__keys"))
            // GQL group variables `((a)-[r]->(b)){m,n}`: a and b bind
            // per-iteration gid LISTS, projected out of the edge-key
            // array (stored orientation: srcdstrelType —
            // a directed stretch's traversal source/target are fixed
            // slots). Undirected stretches already reject group
            // binding (applyVarLengthHop's materialize guard).
            rel.qppNodeVars.foreach { case (srcV, dstV) =>
              val keysCol = relKeys.get
              val (srcIdx, dstIdx) =
                if (rel.direction >= 0) (0, 1) else (1, 0)
              def bindGroup(v: String, idx: Int): Unit = {
                df = df.withColumn(s"${v}__value",
                  transform(col(keysCol),
                    k => split(k, "\u0001").getItem(idx)))
                env += v -> ValueVar(s"${v}__value")
              }
              srcV.foreach(bindGroup(_, srcIdx))
              dstV.foreach(bindGroup(_, dstIdx))
            }
            pathColName.foreach(pc => segs += VarSeg(pc, rel.direction > 0))
            nv
          case None =>
            val (nv, rv) = applySingleHop(boundVar, rel, node)
            segs += RelSeg(s"${rv}__relType")
            segs += NodeSeg(s"${nv}__gid")
            nv
        }
      }
      pattern.pathVar.foreach { pv =>
        if (env.contains(pv)) throw PlanError(s"variable $pv already bound")
        env += pv -> PathVar(pattern.hops.length - varHops, hopsColName,
          if (materialize) segs.result() else Nil)
      }
    }
    // uniqueness bookkeeping columns (retained stretch edge-key
    // arrays) are clause-internal — drop before WHERE/later clauses
    clauseRetained.foreach(c => df = df.drop(c))
    val (sU, sF, sS, sR) = saved
    clauseRelUniq = sU; clauseFixedRels = sF
    clauseStretches = sS; clauseRetained = sR
    m.where.foreach(applyWhere)
    pxInRoutes = savedPx
    pxRangeRoutes = savedPxR
    pxSubstrRoutes = savedPxS
    relPxEqRoutes = savedRelPx
    pxZRoutes = savedZ
  }

  /** WHERE application shared by MATCH and post-WITH filters: pattern
    * predicates (exists / NOT exists) only make sense as top-level
    * conjuncts — each plans as a semi/anti join; COUNT {} comparisons
    * land their correlated join first (planSubCount mutates df, so it
    * is evaluated BEFORE df is re-read for the filter); the remaining
    * conjuncts filter as ordinary predicates.
    */
  /** bottom-up expression transform (children first, then `f` on the
    * rebuilt node) — pattern bodies inside PatternPred/CountSub are
    * NOT descended (they plan in their own variable scope) */
  private def mapExpr(e: Expr)(f: Expr => Expr): Expr = {
    def go(x: Expr): Expr = f(x match {
      case Cmp(op, l, r) => Cmp(op, go(l), go(r))
      case And(l, r) => And(go(l), go(r))
      case Or(l, r) => Or(go(l), go(r))
      case Not(a) => Not(go(a))
      case IsNull(a, n) => IsNull(go(a), n)
      case FuncCall(n, args, d) => FuncCall(n, args.map(go), d)
      case MapLit(es) => MapLit(es.map { case (k, v) => (k, go(v)) })
      case MapProj(v, es, a) =>
        MapProj(v, es.map { case (k, x) => (k, go(x)) }, a)
      case ListLit(es) => ListLit(es.map(go))
      case InList(a, l) => InList(go(a), go(l))
      case StrPred(op, l, r) => StrPred(op, go(l), go(r))
      case CaseExpr(t, ws, els) => CaseExpr(t.map(go),
        ws.map { case (w, v) => (go(w), go(v)) }, els.map(go))
      case Arith(op, l, r) => Arith(op, go(l), go(r))
      case Subscript(c, i) => Subscript(go(c), go(i))
      case Slice(c, fr, to) => Slice(go(c), fr.map(go), to.map(go))
      case ListComp(v, l, w, pr) => ListComp(v, go(l), w.map(go), pr.map(go))
      case Quant(op, v, l, p) => Quant(op, v, go(l), go(p))
      case ReduceExpr(a, i, v, l, b) => ReduceExpr(a, go(i), v, go(l), go(b))
      case leaf => leaf
    })
    go(e)
  }

  /** `startNode(r).prop` / `endNode(r).prop` with the endpoint not
    * otherwise bound: joins the node table on the rel's src/dst gid
    * (once per rel × side — Neo4j resolves the endpoint implicitly)
    * and rewrites the access into an ordinary PropRef on that
    * binding. MUTATES df — callers run this before reading df.
    */
  private def resolveEndpointProps(e: Expr): Expr = mapExpr(e) {
    case Subscript(FuncCall(fn @ ("startnode" | "endnode"),
        Seq(VarRef(r)), _), Lit(key: String))
        if env.get(r).contains(RelVar) && key != "gid" =>
      PropRef(bindEndpoint(r, fn == "startnode"), key)
    case other => other
  }

  private def bindEndpoint(r: String, start: Boolean): String = {
    val side = if (start) "src" else "dst"
    val bv = s"__${r}_${side}ep"
    if (!env.contains(bv)) {
      val nd = store.nodes.select(col("gid").as(s"${bv}__gid"),
        col("label").as(s"${bv}__label"),
        col("source").as(s"${bv}__source"),
        col("props").as(s"${bv}__props"),
        col("xlabels").as(s"${bv}__xlabels"))
      // left join: an OPTIONAL-MATCH miss (null src/dst) and stub
      // endpoints keep their rows, props read as null
      df = df.join(nd,
        col(s"${r}__$side") === col(s"${bv}__gid"), "left_outer")
      env += bv -> NodeVar
    }
    bv
  }

  private def applyWhere(w0: Expr): Unit = {
    val w = resolveEndpointProps(w0)
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(w).foreach {
      // full-query bodies lower through the per-key row count (a null
      // seeded value gives count 0 — exists() FALSE, as in Neo4j).
      // planFullSubCount MUTATES df (adds the join) — evaluate it
      // BEFORE re-reading df for the filter
      case PatternPred(_, _, Some(q)) =>
        val c = planFullSubCount(q)
        df = df.filter(c > 0)
      case Not(PatternPred(_, _, Some(q))) =>
        val c = planFullSubCount(q)
        df = df.filter(c === 0)
      case PatternPred(pat, sw, None) =>
        applyPatternPred(pat, sw, negated = false)
      case Not(PatternPred(pat, sw, None)) =>
        applyPatternPred(pat, sw, negated = true)
      case Cmp(op, cs: CountSub, r) =>
        val c = planSubCount(cs)
        df = df.filter(cmpOp(op, c, valueCol(r)))
      case Cmp(op, l, cs: CountSub) =>
        val c = planSubCount(cs)
        df = df.filter(cmpOp(op, valueCol(l), c))
      case e =>
        // `size([pattern | proj]) > 2`-style conjuncts: land the
        // comprehension's correlated join, then filter on the binding
        val (e2, _) = rewritePatternComps(e)
        df = df.filter(toPredicate(e2))
    }
  }

  private def cmpOp(op: String, lc: Column, rc: Column): Column = op match {
    case "=" => lc === rc
    case "<>" => lc =!= rc
    case "<" => lc < rc
    case ">" => lc > rc
    case "<=" => lc <= rc
    case ">=" => lc >= rc
  }

  /** `FOREACH (x IN list | writes…)`: explode the list into a scoped
    * frame (explode drops empty/null lists — zero effect rows, the
    * conditional-write idiom), run the inner write clauses against it
    * (their effects snapshot the exploded frame), then restore the
    * outer frame/bindings — FOREACH never changes statement
    * cardinality. Inner view updates (SET's binding maintenance) are
    * deliberately discarded with the scope.
    */
  private def applyForeach(f: ForeachClause): Unit = {
    sawWrite = true
    if (df == null) df = seedRow("__seed" -> 1L)
    if (env.contains(f.variable))
      throw PlanError(s"variable ${f.variable} already bound")
    val savedDf = df
    val savedEnv = env
    df = df.withColumn(s"${f.variable}__value",
      explode(valueCol(f.list)))
    env += f.variable -> ValueVar(s"${f.variable}__value")
    f.clauses.foreach {
      case c: CreateClause => applyCreate(c)
      case d: DeleteClause => applyDelete(d)
      case s: SetClause => applySet(s)
      case nested: ForeachClause => applyForeach(nested)
      case other => throw PlanError(s"FOREACH cannot contain $other")
    }
    df = savedDf
    env = savedEnv
  }

  /** `CALL { … }` subquery (see [[Ast.CallSub]]). Uncorrelated: the
    * inner query (UNION allowed) plans in a fresh planner and
    * cross-joins the bound rows. Correlated: the inner planner is
    * SEEDED with the imported variables' columns from the outer frame
    * (one row per distinct key) — the body sees the actual outer
    * bindings, so outer-value references (`WHERE m.x > n.y`) work and
    * the inner scan is restricted to the invoked rows; each imported
    * variable's gid is appended to the inner RETURN as a correlation
    * key, so inner aggregation scopes per invocation for free; UNION
    * parts each plan against their own seed and union before the
    * keyed join; inner ORDER BY/SKIP/LIMIT (final part only) become a
    * row_number window over the key (per-invocation semantics — a
    * global sort-limit would be wrong); the keyed inner join
    * multiplies/drops outer rows exactly as CALL row semantics
    * demand. When EVERY inner RETURN item is an aggregate, openCypher
    * yields exactly one row per invocation even for zero matches
    * (`count` = 0, `collect` = []), so the join is left-outer with
    * neutral-value coalescing — mirroring [[planSubCount]], which
    * gets the COUNT {{ }} twin right; aggregate-only UNION parts are
    * key-completed the same way before the union.
    */
  private def applyCall(c0: CallSub): Unit = {
    // `CALL (*) { }` (the 5.23 scope form): import every user-named
    // binding — anonymous pattern vars (`__x7`) stay internal
    val c =
      if (c0.imports == Seq("*"))
        c0.copy(imports = env.keys.filterNot(_.startsWith("__")).toSeq.sorted)
      else c0
    if (c.txRows.nonEmpty) { applyCallInTx(c); return }
    val q0 = c.inner
    if (q0.clauses.exists(_.isInstanceOf[WriteClauseT]) ||
        q0.unions.exists(_._2.clauses.exists(_.isInstanceOf[WriteClauseT]))) {
      applyCallWrite(c); return
    }
    dropOrd() // the CALL join re-shapes the frame; order keys are stale
    val q = c.inner
    if (q.items.isEmpty ||
        q.unions.exists(_._2.items.isEmpty))
      throw PlanError("a CALL subquery must RETURN")
    if (c.imports.isEmpty) {
      // uncorrelated: evaluate once, cross-join every outer row;
      // OPTIONAL keeps each outer row once (null columns) when the
      // body yields zero rows — a left join on TRUE, never an eager
      // emptiness probe
      val innerDf = new Planner(store, params).plan(q)
      bindCallResult(innerDf, q.items.map(_.name), join = outer =>
        if (c.optional) {
          val base = if (outer == null) seedRow() else outer
          base.join(innerDf, lit(true), "left_outer")
        } else if (outer == null) innerDf
        else outer.crossJoin(innerDf))
      return
    }
    if (df == null) throw PlanError("CALL imports need bound variables")
    // node variables correlate by gid; VALUE variables (WITH aliases)
    // correlate by their value column — `CALL { WITH a MATCH ...
    // WHERE m.p > a ... }` works like the EXISTS{}/COUNT{} seeding
    c.imports.foreach(v => env.get(v) match {
      case Some(NodeVar) | Some(ValueVar(_)) => ()
      case _ => throw PlanError(
        s"CALL import $v must be a bound node or value variable")
    })
    val keyCols = c.imports.zipWithIndex.map { case (v, i) =>
      v -> s"__call_k$i"
    }
    // the per-import key column name, valid in the outer frame AND
    // the seed (node: the gid column; value: its value column — props
    // are map-typed and cannot be set-operated on, and gid determines
    // a node binding)
    def keyColName(v: String): String = env(v) match {
      case ValueVar(cn) => cn
      case _ => s"${v}__gid"
    }
    // the seed: imported columns of the outer frame, one row per
    // distinct key
    val importCols = c.imports.flatMap(v => env(v) match {
      case ValueVar(cn) => Seq(cn)
      case _ => df.columns.filter(_.startsWith(s"${v}__")).toSeq
    })
    val seed = spreadSeed(
      df.select(importCols.map(cn => col(quote(cn))): _*)
        .dropDuplicates(c.imports.map(keyColName)))
    val seedKeys = seed.select(keyCols.map { case (v, k) =>
      col(quote(keyColName(v))).as(k) }: _*)
    def planSeeded(part: Query): DataFrame = {
      val pl = new Planner(store, params)
      pl.df = seed
      pl.env = c.imports.map(v => v -> (env(v) match {
        case ValueVar(cn) => pl.ValueVar(cn): pl.VarKind
        case _ => pl.NodeVar: pl.VarKind
      })).toMap
      pl.planSingle(part)
    }
    val names = q.items.map(_.name)
    // union-level ORDER BY/SKIP/LIMIT lives on the LAST part (the
    // parser rejects tails on earlier parts)
    val parts0: Seq[Query] = q.copy(unions = Nil) +: q.unions.map(_._2)
    val tailQ = parts0.last
    def isAggOnly(part: Query): Boolean =
      part.items.forall(i => containsAgg(i.expr))
    val frames = parts0.map { part =>
      val partNames = part.items.map(_.name)
      if (partNames.sorted != names.sorted) throw PlanError(
        s"UNION parts must return the same columns: $names vs $partNames")
      val withKeys = part.copy(
        items = part.items ++ keyCols.map { case (v, k) =>
          val keyExpr: Expr = env(v) match {
            case ValueVar(_) => VarRef(v)
            case _ => PropRef(v, "gid")
          }
          ReturnItem(keyExpr, Some(k)) },
        orderBy = Nil, skip = None, limit = None, unions = Nil)
      var f = planSeeded(withKeys)
      // an aggregate-only UNION part yields one row per invocation
      // even with zero matches — key-complete it BEFORE the union
      // (the single-part case is handled at the outer join instead)
      if (parts0.length > 1 && isAggOnly(part)) {
        var g = seedKeys.join(f, keyCols.map(_._2), "left_outer")
        part.items.foreach { it =>
          aggNeutral(it.expr, f.schema(it.name).dataType).foreach { nv =>
            g = g.withColumn(it.name, coalesce(col(quote(it.name)), nv)) }
        }
        f = g.select(f.columns.map(cn => col(quote(cn))): _*)
      }
      f
    }
    var innerDf = frames.reduce(_ unionByName _)
    if (q.unions.nonEmpty && !q.unions.head._1)
      innerDf = distinctSafe(innerDf)
    if (tailQ.orderBy.nonEmpty || tailQ.skip.nonEmpty || tailQ.limit.nonEmpty) {
      // per-invocation ordering/pagination via a window over the key
      if (tailQ.orderBy.isEmpty) throw PlanError(
        "SKIP/LIMIT in a correlated CALL needs ORDER BY")
      val sorts = tailQ.orderBy.map { case (e, asc) =>
        val name = tailQ.items.find(i =>
          i.expr == e || i.alias.contains(Render.expr(e)) ||
            Render.expr(i.expr) == Render.expr(e))
          .map(_.name).getOrElse(throw PlanError(
            s"CALL ORDER BY must reference a returned column: $e"))
        if (asc) col(quote(name)).asc_nulls_last
        else col(quote(name)).desc_nulls_first
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(k => col(k._2)): _*).orderBy(sorts: _*)
      val lo = tailQ.skip.map(boundVal(_, "SKIP")).getOrElse(0L)
      val hi = tailQ.limit.map(e => lo + boundVal(e, "LIMIT"))
        .getOrElse(Long.MaxValue)
      innerDf = innerDf.withColumn("__call_rn", row_number().over(w))
        .filter(col("__call_rn") > lo && col("__call_rn") <= hi)
        .drop("__call_rn")
    }
    val cond = keyCols.map { case (v, k) =>
      col(quote(keyColName(v))) === col(quote(k))
    }.reduce(_ && _)
    // aggregate-only body: one row per invocation, zero matches
    // included — left join + neutral values (see scaladoc)
    val allAgg = parts0.forall(isAggOnly)
    val innerF = innerDf
    bindCallResult(innerDf, names, join = { outer =>
      if (!allAgg)
        // OPTIONAL CALL: zero body rows keep the invocation row with
        // null columns (aggregate-only bodies already key-complete)
        outer.join(innerF, cond, if (c.optional) "left_outer" else "inner")
          .drop(keyCols.map(_._2): _*)
      else {
        var j = outer.join(innerF, cond, "left_outer")
          .drop(keyCols.map(_._2): _*)
        parts0.head.items.foreach { it =>
          aggNeutral(it.expr, innerF.schema(it.name).dataType).foreach {
            nv => j = j.withColumn(it.name,
              coalesce(col(quote(it.name)), nv)) }
        }
        j
      }
    })
  }

  /** Plain `CALL { writes }` (Neo4j 5 write subqueries, probe 16):
    * the body executes once per input row against the imported
    * scope, and its effects SPLICE into the enclosing statement's
    * effect list at this clause's position — one statement, ONE
    * commit (IN TRANSACTIONS is the per-batch-commit variant). Unit
    * subquery: the outer frame passes through unchanged. Limits
    * (each with a pointer out): no RETURN from a writing body (use a
    * separate statement), no UNION, and the body reads the
    * pre-statement snapshot (it does not see the SAME statement's
    * earlier pending writes — the outer clauses do).
    */
  private def applyCallWrite(c: CallSub): Unit = {
    val q = c.inner
    if (q.unions.nonEmpty)
      throw PlanError("a write CALL subquery does not take UNION")
    if (q.items.nonEmpty)
      throw PlanError("a write CALL subquery must be write-only " +
        "(RETURN from a writing CALL is not supported — use a " +
        "separate statement or CALL ... IN TRANSACTIONS)")
    sawWrite = true
    val pl = new Planner(store, params)
    pl.effectsSink = Some(this)
    if (df != null) {
      val importCols = c.imports.flatMap(v =>
        df.columns.filter(_.startsWith(s"${v}__")).toSeq)
      // zero-column select keeps ROW MULTIPLICITY: the body runs once
      // per input row even with no imports (Neo4j cardinality)
      pl.df = df.select(importCols.map(cn => col(quote(cn))): _*)
      pl.env = c.imports.map(v => v -> (env.getOrElse(v,
        throw PlanError(s"CALL import $v is not bound")) match {
        case ValueVar(cn) => pl.ValueVar(cn): pl.VarKind
        case NodeVar => pl.NodeVar: pl.VarKind
        case _ => throw PlanError(
          s"CALL import $v must be a bound node or value variable")
      })).toMap
    }
    pl.planSingle(q)
    // unit subquery: outer frame and env unchanged
  }

  /** `CALL { writes } IN TRANSACTIONS [OF n ROWS]` — the Neo4j
    * bulk-ingest idiom (`LOAD CSV … CALL { WITH row CREATE … } IN
    * TRANSACTIONS`): the incoming rows feed the write body in batches
    * and every batch COMMITS before the next starts (so batch k+1
    * reads batch k's writes, and a failure keeps the completed
    * batches — exactly Neo4j's ON ERROR FAIL default). The outer
    * cardinality is preserved (a unit subquery), and the body must be
    * write-only here (no RETURN — the returning form isn't supported).
    *
    * Execution is a driver loop over batches, which is the semantic
    * itself (sequential commits), not an implementation shortcut; the
    * per-batch work and each commit stay fully distributed. The batch
    * split stamps row_number over a materialized snapshot of the
    * IMPORTED columns only — a narrow single-pass window whose input
    * is the import projection, not the store.
    */
  private def applyCallInTx(c: CallSub): Unit = {
    val q = c.inner
    if (q.unions.nonEmpty)
      throw PlanError("CALL ... IN TRANSACTIONS does not take UNION")
    if (q.items.nonEmpty)
      throw PlanError(
        "CALL ... IN TRANSACTIONS bodies must be write-only (no RETURN)")
    if (!q.clauses.exists(_.isInstanceOf[WriteClauseT]))
      throw PlanError("CALL ... IN TRANSACTIONS needs a write body")
    if (df == null)
      throw PlanError("CALL ... IN TRANSACTIONS needs incoming rows " +
        "(LOAD CSV / UNWIND / MATCH before it)")
    val batchRows = c.txRows.flatten.map(boundVal(_, "OF ... ROWS"))
      .getOrElse(1000L)
    if (batchRows < 1)
      throw PlanError(s"IN TRANSACTIONS batch size must be >= 1")
    val kinds = c.imports.map { v =>
      v -> (env.getOrElse(v, throw PlanError(
        s"CALL import $v is not bound")) match {
        case NodeVar => NodeVar
        case vv: ValueVar => vv
        case _ => throw PlanError(
          s"CALL ... IN TRANSACTIONS imports node or value variables, " +
            s"not $v")
      })
    }
    val importCols = c.imports.flatMap(v =>
      df.columns.filter(_.startsWith(s"${v}__")).toSeq)
    // snapshot the import projection once (before any batch commits
    // mutate the store it may read), then assign contiguous batch ids
    // via the partition-order index — per-partition counts + broadcast
    // prefix offsets (zipWithIndex), NOT a global Window.orderBy whose
    // empty partition spec would pull the whole driving-row set into
    // one task; this clause exists precisely for huge ingests.
    val seeded = df.select(importCols.map(cn => col(quote(cn))): _*)
      .localCheckpoint()
    val ranked = graft.ops.ScaleRank
      .withPartitionOrderIndex(seeded, "__tx_i")
      .withColumn("__tx_b", (col("__tx_i") / batchRows).cast("int"))
      .drop("__tx_i")
      .localCheckpoint()
    val nb = ranked.agg(max(col("__tx_b"))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0) + 1
    }
    for (b <- 0 until nb) {
      val pl = new Planner(store, params)
      pl.df = ranked.filter(col("__tx_b") === b).drop("__tx_b")
      pl.env = kinds.map { case (v, k) =>
        v -> (k match {
          case ValueVar(cn) => pl.ValueVar(cn): pl.VarKind
          case _ => pl.NodeVar: pl.VarKind
        })
      }.toMap
      // a write-only body: planSingle runs the effects and commits
      pl.planSingle(q).collect()
    }
    // unit subquery: the outer frame passes through unchanged
  }

  /** the value an aggregate yields over zero rows, per openCypher:
    * count → 0, collect → [], sum → 0, stDev/stDevP → 0.0;
    * avg/min/max/percentileCont → null (the left join's default).
    * Compound expressions over aggregates keep null — rare, and the
    * per-leaf neutral cannot be folded without re-evaluating.
    */
  private def aggNeutral(e: Ast.Expr,
      dt: org.apache.spark.sql.types.DataType): Option[Column] =
    neutralCol(e).map(_.cast(dt))

  /** the value of `e` over ZERO input rows, built at plan time: agg
    * leaves fold to their Neo4j empty-input value (count→0,
    * collect→[], sum→0, stdev→0; min/max/avg→null, i.e. None, which
    * the left join already yields), literal/param operands stay
    * themselves, and arithmetic composes — so a compound item like
    * `count(m) + 1` key-completes to 1, not NULL
    */
  private def neutralCol(e: Ast.Expr): Option[Column] = e match {
    case FuncCall("count", _, _) => Some(lit(0L))
    case FuncCall("collect", _, _) => Some(array())
    case FuncCall("sum", _, _) => Some(lit(0.0))
    case FuncCall("stdev" | "stdevp", _, _) => Some(lit(0.0))
    case Lit(v) => Some(lit(v))
    case Param(n) => params.get(n).map(lit(_))
    case Arith(op, l, r) if containsAgg(e) =>
      (neutralCol(l), neutralCol(r)) match {
        case (Some(lc), Some(rc)) => op match {
          case "+" => Some(lc + rc)
          case "-" => Some(lc - rc)
          case "*" => Some(lc * rc)
          case "/" => Some(lc / rc)
          case "%" => Some(lc % rc)
          case "^" => Some(pow(lc.cast("double"), rc.cast("double")))
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  /** rename a CALL result's columns into value bindings and join */
  private def bindCallResult(innerDf0: DataFrame, names: Seq[String],
      join: DataFrame => DataFrame): Unit = {
    names.foreach { n =>
      if (env.contains(n))
        throw PlanError(s"CALL returns $n, which is already bound")
    }
    df = join(df)
    names.foreach { n =>
      df = df.withColumnRenamed(n, s"${n}__value")
      env += n -> ValueVar(s"${n}__value")
    }
  }

  /** `exists((n)-[:T]->(m))` / `NOT exists(…)` as a WHERE conjunct:
    * the pattern plans standalone (like OPTIONAL MATCH), projects the
    * gids of the node variables it shares with the outer clause, and
    * left-semi (or anti) joins them onto the bound rows. The pattern's
    * own fresh variables never bind — Cypher's existential scoping.
    */
  private def applyPatternPred(pat: PathPattern, where: Option[Expr],
      negated: Boolean): Unit = {
    val (subDf, nodeKeys, seedKeys, _) = planSubPattern(pat, where, "exists()")
    val keys = nodeKeys ++ seedKeys
    val probe = subDf.select(keys.zipWithIndex.map { case (k, i) =>
      col(quote(k)).as(s"__pp_$i") }: _*).distinct()
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(quote(k)) === col(s"__pp_$i") }.reduce(_ && _)
    // a null correlated NODE binding (OPTIONAL MATCH miss) makes
    // exists() NULL in Cypher, and WHERE drops null — the semi join
    // does that for free, but the ANTI join would KEEP such rows;
    // filter them. A null seeded VALUE is different: the inner WHERE
    // is null → zero matches → exists() is FALSE, so NOT keeps the
    // row — the anti join's null-never-matches already does that.
    if (negated && nodeKeys.nonEmpty)
      df = df.filter(nodeKeys.map(k => col(quote(k)).isNotNull)
        .reduce(_ && _))
    df = df.join(probe, cond, if (negated) "left_anti" else "left_semi")
  }

  /** free variable names an expression references — lambda-bound
    * names (list comprehension / quantifier / reduce variables) are
    * shadowed within their body; PatternPred/CountSub bodies are not
    * descended (they correlate in their own scope when planned).
    */
  private def freeVarNames(exprs: Seq[Expr]): Seq[String] = {
    val names = scala.collection.mutable.LinkedHashSet[String]()
    def go(e: Expr, bound: Set[String]): Unit = e match {
      case VarRef(v) => if (!bound(v)) names += v
      case PropRef(v, _) => if (!bound(v)) names += v
      case MapProj(v, es, _) =>
        if (!bound(v)) names += v; es.foreach(x => go(x._2, bound))
      case LabelPred(v, _) => if (!bound(v)) names += v
      case ListComp(v, l, w, pr) =>
        go(l, bound); (w.toSeq ++ pr.toSeq).foreach(go(_, bound + v))
      case Quant(_, v, l, p) => go(l, bound); go(p, bound + v)
      case ReduceExpr(acc, init, v, l, b) =>
        go(init, bound); go(l, bound); go(b, bound + acc + v)
      case Cmp(_, l, r) => go(l, bound); go(r, bound)
      case And(l, r) => go(l, bound); go(r, bound)
      case Or(l, r) => go(l, bound); go(r, bound)
      case Not(x) => go(x, bound)
      case IsNull(x, _) => go(x, bound)
      case TypePred(x, _, _) => go(x, bound)
      case FuncCall(_, args, _) => args.foreach(go(_, bound))
      case MapLit(es) => es.foreach(x => go(x._2, bound))
      case ListLit(es) => es.foreach(go(_, bound))
      case InList(x, l) => go(x, bound); go(l, bound)
      case StrPred(_, l, r) => go(l, bound); go(r, bound)
      case CaseExpr(t, ws, els) =>
        t.foreach(go(_, bound))
        ws.foreach { case (w, v) => go(w, bound); go(v, bound) }
        els.foreach(go(_, bound))
      case Arith(_, l, r) => go(l, bound); go(r, bound)
      case Subscript(c, i) => go(c, bound); go(i, bound)
      case Slice(c, f, t) =>
        go(c, bound); f.foreach(go(_, bound)); t.foreach(go(_, bound))
      case _ => ()
    }
    exprs.foreach(go(_, Set.empty))
    names.toSeq
  }

  /** plan an EXISTS/COUNT/pattern-comprehension subquery pattern;
    * returns its frame, the correlation key columns split into
    * pattern-reused node gids vs SEEDED outer-value keys, and the sub
    * env. Leaves df/env untouched.
    *
    * Correlation works two ways, mirroring Neo4j's scoping:
    *  - a node variable REUSED as a pattern element correlates by gid
    *    (the classic path — the sub pattern plans standalone and joins
    *    back on the shared gids);
    *  - any other outer variable the body references by VALUE (a WITH
    *    alias, or a node variable only read via properties) is SEEDED
    *    into the sub-planner's starting frame — one row per distinct
    *    key, the CALL-subquery seeding idea — so `WHERE EXISTS { MATCH
    *    (m)-->(x) WHERE x.age > a }` works; its key column joins the
    *    result back per outer row.
    * The split matters for NOT exists: a null reused-NODE binding
    * makes exists() NULL (row dropped), while a null seeded VALUE just
    * makes the inner WHERE null → zero matches → exists() FALSE (row
    * kept) — callers null-filter only the node keys.
    */
  /** Spread a correlation seed across the session's cores before the
    * subquery body multiplies it. A distinct-key seed is often a few
    * KB, and AQE's byte-based coalescing packs it into ONE partition —
    * which then evaluates the whole per-invocation body product
    * (seed × matches, e.g. a non-equi COUNT{} comparison) in a single
    * task: parallelism is lost exactly where the bytes are smallest
    * but the downstream CPU is biggest. The round-robin repartition
    * costs one narrow pass of the SEED itself, which the body's
    * re-execution dwarfs at any scale; the explicit partition count
    * (REPARTITION_BY_NUM) is the signal AQE respects, so the body
    * stage keeps full parallelism.
    */
  private def spreadSeed(seed: DataFrame): DataFrame =
    Planner.spreadSeed(seed) // impl on the companion so the spec can
                             // exercise the gate without a store

  private def planSubPattern(pat: PathPattern, where: Option[Expr],
      what: String, extraScan: Seq[Expr] = Nil)
      : (DataFrame, Seq[String], Seq[String], Map[String, VarKind]) = {
    if (pat.pathVar.nonEmpty || pat.shortest || pat.allShortest)
      throw PlanError(s"$what patterns cannot bind paths")
    val outerDf = df
    val outerEnv = env
    val patVars: Set[String] =
      (pat.head.variable.toSeq ++ pat.hops.flatMap { case (r, n) =>
        r.variable.toSeq ++ n.variable.toSeq }).toSet
    val patExprs = (pat.head +: pat.hops.map(_._2)).flatMap(_.props.map(_._2)) ++
      pat.hops.flatMap(_._1.props.map(_._2))
    val seeded = freeVarNames(patExprs ++ where.toSeq ++ extraScan)
      .filter(v => !patVars.contains(v) && outerEnv.contains(v))
    val seedKeyCols = seeded.map { v =>
      outerEnv(v) match {
        case NodeVar => s"${v}__gid"
        case ValueVar(cn) => cn
        case _ => throw PlanError(
          s"$what references outer variable $v — only node and value " +
            "variables can correlate into a subquery body")
      }
    }
    df = null
    env = Map.empty
    if (seeded.nonEmpty) {
      if (outerDf == null)
        throw PlanError(s"$what references unbound variables")
      val cols = seeded.flatMap { v =>
        outerEnv(v) match {
          case NodeVar =>
            outerDf.columns.filter(_.startsWith(s"${v}__")).toSeq
          case ValueVar(cn) => Seq(cn)
          case _ => Nil
        }
      }
      df = spreadSeed(outerDf.select(cols.map(cn => col(quote(cn))): _*)
        .dropDuplicates(seedKeyCols))
      env = seeded.map(v => v -> outerEnv(v)).toMap
    }
    applyInnerMatch(MatchClause(Seq(pat), optional = false, where = where))
    val subDf = df
    val subEnv = env
    df = outerDf
    env = outerEnv
    subEnv.foreach { case (v, k) =>
      if (!seeded.contains(v))
        outerEnv.get(v).foreach { ok =>
          if (ok != NodeVar || k != NodeVar) throw PlanError(
            s"$what pattern reuses $v with a non-node binding")
        }
    }
    val sharedNodes = subEnv.collect {
      case (v, NodeVar) if outerEnv.contains(v) && !seeded.contains(v) => v
    }.toSeq.sorted
    val nodeKeyCols = sharedNodes.map(v => s"${v}__gid")
    if (nodeKeyCols.isEmpty && seedKeyCols.isEmpty) throw PlanError(
      s"$what pattern must reference at least one bound outer variable")
    (subDf, nodeKeyCols, seedKeyCols, subEnv)
  }

  /** `COUNT { … }` as a correlated per-row count: the subquery's match
    * count grouped by the correlation key, left-joined onto the bound
    * rows (absent key = 0). Mutates df (adds the join); returns the
    * count column.
    */
  /** full regular-query EXISTS/COUNT body (Neo4j 5): the body plans
    * in a sub-planner SEEDED with every user-named outer node/value
    * binding (Neo4j auto-imports the outer scope into these
    * subqueries), the correlation keys are threaded through EVERY
    * WITH stage (which also makes inner aggregation/DISTINCT scope
    * per invocation — exactly Neo4j's semantics), and the result is
    * the per-key row count, 0 for invocations with no rows.
    * Supported subset: read-only, no UNION, no body-level
    * DISTINCT/ORDER BY/SKIP/LIMIT, no aggregates in the body's own
    * RETURN (an aggregate RETURN pins cardinality at one row, which
    * makes EXISTS vacuous — rejected with a pointer).
    */
  /** the per-import key column name (valid in the outer frame AND the
    * seed): a node's gid column, a value variable's value column */
  private def fullSubKeyCol(v: String): String = env(v) match {
    case ValueVar(cn) => cn
    case _ => s"${v}__gid"
  }

  /** shared machinery for full-query subquery bodies: validate, seed
    * ALL user-named outer node/value bindings, thread the correlation
    * keys through every WITH stage, and plan the body's binding rows
    * with `proj` (if any) evaluated in the sub scope. Returns the
    * per-row frame (key aliases + proj alias) and the key mapping.
    */
  private def planFullSubRows(q: Query, proj: Option[ReturnItem],
      what: String): (DataFrame, Seq[(String, String)]) = {
    if (q.unions.nonEmpty)
      throw PlanError(s"$what subquery bodies do not take UNION")
    if (q.clauses.exists(_.isInstanceOf[WriteClauseT]))
      throw PlanError(s"$what subquery bodies are read-only")
    if (q.distinct || q.orderBy.nonEmpty || q.skip.nonEmpty ||
        q.limit.nonEmpty)
      throw PlanError(s"$what subquery bodies do not take " +
        "DISTINCT/ORDER BY/SKIP/LIMIT — the result is unaffected " +
        "or ill-defined per invocation")
    q.clauses.foreach {
      case w: WithClause if w.skip.nonEmpty || w.limit.nonEmpty =>
        throw PlanError(
          s"WITH … SKIP/LIMIT inside $what bodies is unsupported")
      case _ => ()
    }
    if (df == null)
      throw PlanError(s"$what subqueries need bound rows")
    val tag = fresh("fsub")
    // auto-import: every user-named node/value binding of the outer
    // scope (rel/path bindings are not seedable — a body referencing
    // one fails with an unknown-variable pointer)
    val imports = env.toSeq.collect {
      case (v, NodeVar) if !v.startsWith("__") => v
      case (v, ValueVar(_)) if !v.startsWith("__") => v
    }.sorted
    if (imports.isEmpty) throw PlanError(
      s"$what subquery bodies need at least one outer binding")
    def keyExpr(v: String): Expr = env(v) match {
      case ValueVar(_) => VarRef(v)
      case _ => PropRef(v, "gid")
    }
    val keyCols = imports.zipWithIndex.map { case (v, i) =>
      v -> s"__${tag}_k$i"
    }
    val importCols = imports.flatMap(v => env(v) match {
      case ValueVar(cn) => Seq(cn)
      case _ => df.columns.filter(_.startsWith(s"${v}__")).toSeq
    })
    val seed = spreadSeed(
      df.select(importCols.map(cn => col(quote(cn))): _*)
        .dropDuplicates(imports.map(fullSubKeyCol)))
    // thread the keys through every WITH stage: the first carries the
    // key expression, later stages (where the source vars may be
    // projected away) re-carry the key alias — and an aggregating or
    // DISTINCT WITH now groups/dedups PER INVOCATION for free
    var carried = false
    def keyItems: Seq[ReturnItem] = keyCols.map { case (v, k) =>
      ReturnItem(if (carried) VarRef(k) else keyExpr(v), Some(k))
    }
    val clauses2 = q.clauses.map {
      case w: WithClause =>
        val w2 = w.copy(items = w.items ++ keyItems)
        carried = true
        w2
      case c => c
    }
    val qc = q.copy(clauses = clauses2, items = keyItems ++ proj.toSeq)
    val pl = new Planner(store, params)
    pl.df = seed
    pl.env = imports.map(v => v -> (env(v) match {
      case ValueVar(cn) => pl.ValueVar(cn): pl.VarKind
      case _ => pl.NodeVar: pl.VarKind
    })).toMap
    (pl.planSingle(qc), keyCols)
  }

  /** full regular-query EXISTS/COUNT body (Neo4j 5): the per-key row
    * count, 0 for invocations with no rows. Aggregate RETURNs are
    * rejected (they pin cardinality at one row, making EXISTS
    * vacuous). Mutates df (adds the join); returns the count column.
    */
  private def planFullSubCount(q: Query): Column = {
    if (q.items.exists(i => containsAgg(i.expr)))
      throw PlanError("an aggregate RETURN inside EXISTS/COUNT fixes " +
        "the row count at one — aggregate in the OUTER query instead")
    // full body that is still the pure uncorrelated count shape
    // (`COUNT { MATCH (n:L) }`) answers from the count store
    if (q.unions.isEmpty && !q.distinct && q.skip.isEmpty &&
        q.limit.isEmpty)
      q.clauses match {
        case Seq(mc: MatchClause)
            if !mc.optional && mc.where.isEmpty &&
              mc.patterns.size == 1 =>
          subCountStoreCount(mc.patterns.head, None)
            .foreach(c => return lit(c))
        case _ => ()
      }
    val (rows, keyCols) =
      planFullSubRows(q.copy(items = Nil), None, "EXISTS/COUNT")
    val cnt = s"${fresh("fcnt")}__c"
    val grouped = rows.groupBy(keyCols.map(k => col(k._2)): _*)
      .agg(count(lit(1)).as(cnt))
    val cond = keyCols.map { case (v, k) =>
      col(quote(fullSubKeyCol(v))) === col(quote(k))
    }.reduce(_ && _)
    df = df.join(grouped, cond, "left_outer")
      .drop(keyCols.map(_._2): _*)
    coalesce(col(quote(cnt)), lit(0L))
  }

  /** full regular-query COLLECT body (Neo4j 5.6): the body's single
    * RETURN expression collected per invocation (value-sorted, like
    * pattern comprehensions; empty list when nothing matches).
    * Mutates df (adds the join); returns the list column.
    */
  private def planFullSubCollect(q: Query): Column = {
    val item = q.items match {
      case Seq(i) => i
      case _ => throw PlanError(
        "COLLECT { } bodies must RETURN exactly one expression")
    }
    if (containsAgg(item.expr))
      throw PlanError("an aggregate RETURN inside COLLECT { } is not " +
        "supported — aggregate in the OUTER query instead")
    val proj = s"${fresh("fcol")}__p"
    val (rows, keyCols) = planFullSubRows(q.copy(items = Nil),
      Some(ReturnItem(item.expr, Some(proj))), "COLLECT")
    val lst = s"${fresh("fcol")}__l"
    val grouped = rows.groupBy(keyCols.map(k => col(k._2)): _*)
      .agg(cappedList(sort_array(collect_list(col(quote(proj)))))
        .as(lst))
    val cond = keyCols.map { case (v, k) =>
      col(quote(fullSubKeyCol(v))) === col(quote(k))
    }.reduce(_ && _)
    df = df.join(grouped, cond, "left_outer")
      .drop(keyCols.map(_._2): _*)
    val elemType = grouped.schema(lst).dataType
    coalesce(col(quote(lst)), array().cast(elemType))
  }

  private def planSubCount(cs: CountSub): Column = {
    cs.full.foreach(q => return planFullSubCount(q))
    // uncorrelated pure-pattern COUNT { (n:L) } / COUNT { ()-[:T]->() }:
    // the count-store constant — zero scan jobs, no join added
    subCountStoreCount(cs.pattern, cs.where)
      .foreach(c => return lit(c))
    // uncorrelated but NOT store-servable (props / WHERE / a repeated
    // variable like COUNT { (n)-[:T]->(n) }): the count is the same
    // for every outer row — plan the pattern in an EMPTY scope and
    // fold the constant
    if (cs.pattern.pathVar.isEmpty && !cs.pattern.shortest &&
        !cs.pattern.allShortest) {
      val patVars = (cs.pattern.head.variable.toSeq ++
        cs.pattern.hops.flatMap { case (r, t) =>
          r.variable.toSeq ++ t.variable.toSeq }).toSet
      val free = freeVarNames(
        (cs.pattern.head +: cs.pattern.hops.map(_._2))
          .flatMap(_.props.map(_._2)) ++
          cs.pattern.hops.flatMap(_._1.props.map(_._2)) ++ cs.where.toSeq)
      if (!patVars.exists(env.contains) &&
          !free.exists(v => !patVars.contains(v) && env.contains(v))) {
        val outerDf = df; val outerEnv = env
        df = null; env = Map.empty
        applyInnerMatch(MatchClause(Seq(cs.pattern), optional = false,
          where = cs.where))
        val n = if (df == null) 0L else df.count()
        df = outerDf; env = outerEnv
        return lit(n)
      }
    }
    val (subDf, nodeKeys, seedKeys, _) =
      planSubPattern(cs.pattern, cs.where, "COUNT { }")
    val keys = nodeKeys ++ seedKeys
    val tag = fresh("csub")
    val grouped = subDf.groupBy(keys.zipWithIndex.map { case (k, i) =>
      col(quote(k)).as(s"__${tag}_$i") }: _*)
      .agg(count(lit(1)).as(s"__${tag}__cnt"))
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(quote(k)) === col(s"__${tag}_$i") }.reduce(_ && _)
    df = df.join(grouped, cond, "left_outer")
      .drop(keys.indices.map(i => s"__${tag}_$i"): _*)
    coalesce(col(s"__${tag}__cnt"), lit(0L))
  }

  /** `[pattern WHERE pred | proj]` as a correlated per-row collect:
    * the projection evaluated in the pattern's own scope, collected
    * per correlation key, left-joined onto the bound rows (absent key
    * = empty list). Value-sorted — a deterministic choice where
    * Neo4j's match order is arbitrary, mirroring unordered collect().
    * Mutates df (adds the join); returns the list column.
    */
  private def planPatternComp(pc: PatternComp): Column = {
    pc.full.foreach(q => return planFullSubCollect(q))
    val (subDf0, nodeKeys, seedKeys, subEnv) = planSubPattern(
      pc.pattern, pc.where, "pattern comprehension", Seq(pc.proj))
    val keys = nodeKeys ++ seedKeys
    // the projection references the PATTERN's bindings — evaluate it
    // with the sub frame/env active (endpoint resolution may join on
    // the sub frame)
    val outerDf = df
    val outerEnv = env
    df = subDf0
    env = subEnv
    val projCol = valueCol(resolveEndpointProps(pc.proj))
    val subDf = df
    df = outerDf
    env = outerEnv
    val tag = fresh("pcomp")
    val grouped = subDf.groupBy(keys.zipWithIndex.map { case (k, i) =>
      col(quote(k)).as(s"__${tag}_$i") }: _*)
      .agg(cappedList(sort_array(collect_list(projCol)))
        .as(s"__${tag}__list"))
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(quote(k)) === col(s"__${tag}_$i") }.reduce(_ && _)
    df = df.join(grouped, cond, "left_outer")
      .drop(keys.indices.map(i => s"__${tag}_$i"): _*)
    val elemType = grouped.schema(s"__${tag}__list").dataType
    coalesce(col(s"__${tag}__list"), array().cast(elemType))
  }

  /** is `e` a nodes(p) / relationships(p) call over a bound path —
    * or a named var-length relationship list (same rel rendering)? */
  private def pathListCall(e: Expr): Option[Boolean] = e match {
    case FuncCall(fn @ ("nodes" | "relationships"), Seq(VarRef(p)), _)
        if env.get(p).exists(_.isInstanceOf[PathVar]) =>
      Some(fn == "nodes")
    case VarRef(n) if env.get(n).exists(_.isInstanceOf[RelListVar]) =>
      Some(false)
    case _ => None
  }

  /** Inside a lambda over nodes(p)/relationships(p) the elements are
    * the path's renderings — node gids / relationship types — so
    * identity reads fold to the element itself: `x.gid`, id(x),
    * elementId(x) over nodes; type(x) over relationships. */
  private def foldPathElemIdentity(v: String, overNodes: Boolean,
      e: Expr): Expr = mapExpr(e) {
    case PropRef(`v`, "gid") if overNodes => VarRef(v)
    case FuncCall("id" | "elementid", Seq(VarRef(`v`)), _)
        if overNodes => VarRef(v)
    case FuncCall("type", Seq(VarRef(`v`)), _) if !overNodes => VarRef(v)
    case other => other
  }

  /** does `e` read properties of the lambda variable `v`? */
  private def readsElemProps(v: String, e: Expr): Boolean = {
    var hit = false
    mapExpr(e) {
      case pr @ PropRef(`v`, _) => hit = true; pr
      case s @ Subscript(VarRef(`v`), _) => hit = true; s
      case other => other
    }
    hit
  }

  private def refsOtherVars(v: String, e: Expr): Boolean = {
    var hit = false
    mapExpr(e) {
      case x @ VarRef(n) if n != v && env.contains(n) => hit = true; x
      case x @ PropRef(n, _) if n != v && env.contains(n) => hit = true; x
      case other => other
    }
    hit
  }

  /** `[x IN nodes(p) | … x.prop …]` — the path materializes node
    * IDENTITIES (gids), so property reads buy an explicit node-table
    * join rather than failing: distinct gid arrays posexplode, join
    * the node table ONCE on gid (the same keyed shuffle any
    * bound-node read pays), evaluate the body per element, re-collect
    * in path order. The body may reference only the lambda variable —
    * the collected list must be a pure function of the gid array (the
    * correlation key). Mutates df; returns the list column.
    */
  private def planPathNodeComp(v: String, listE: Expr,
      whereE: Option[Expr], projE: Option[Expr]): Column = {
    (whereE.toSeq ++ projE.toSeq).foreach { e =>
      if (refsOtherVars(v, e)) throw PlanError(
        "a property-reading comprehension over nodes(p) may reference " +
          "only its own variable — bind the node in the pattern to mix " +
          "outer values")
    }
    val tag = fresh("pn")
    val keyName = s"__${tag}_key"
    df = df.withColumn(keyName, valueCol(listE))
    val nv = fresh("pnnode")
    val keys = df.select(col(keyName))
      .filter(col(keyName).isNotNull).distinct()
    val ex = keys.select(col(keyName),
      posexplode(col(keyName)).as(Seq(s"__${tag}_pos", s"__${tag}_gid")))
    val joined = ex.join(nodeDf(nv, NodePattern(None, None, Nil)),
      col(s"__${tag}_gid") === col(s"${nv}__gid"), "left_outer")
    val outerDf = df
    val outerEnv = env
    df = joined
    env = Map(nv -> NodeVar)
    def ren(e: Expr): Expr = mapExpr(e) {
      case VarRef(`v`) => VarRef(nv)
      case PropRef(`v`, k) => PropRef(nv, k)
      case other => other
    }
    whereE.foreach(w => df = df.filter(toPredicate(ren(w))))
    val projCol = projE.map(p => valueCol(ren(p)))
      .getOrElse(col(s"__${tag}_gid"))
    val grouped = df.groupBy(col(keyName).as(s"__${tag}_k"))
      .agg(cappedList(transform(sort_array(collect_list(struct(
          col(s"__${tag}_pos").as("p"), projCol.as("v")))),
        s => s("v"))).as(s"__${tag}_list"))
    df = outerDf
    env = outerEnv
    df = df.join(grouped, col(keyName) === col(s"__${tag}_k"),
        "left_outer")
      .drop(s"__${tag}_k")
    // [x IN null | …] is null; a fully-filtered or empty path is []
    when(col(keyName).isNull, lit(null))
      .otherwise(coalesce(col(s"__${tag}_list"),
        array().cast(grouped.schema(s"__${tag}_list").dataType)))
  }

  /** bind every pattern comprehension inside `e` as a value column
    * (correlated joins land on df) and rewrite it to the binding;
    * returns the rewritten expression and whether anything matched */
  private def rewritePatternComps(e: Expr): (Expr, Boolean) = {
    var hit = false
    val out = mapExpr(e) {
      case pc: PatternComp =>
        hit = true
        val nm = fresh("pccol")
        val c = planPatternComp(pc) // mutates df FIRST
        df = df.withColumn(s"${nm}__value", c)
        env += nm -> ValueVar(s"${nm}__value")
        VarRef(nm)
      case lc @ ListComp(v, listE, w, pr) if pathListCall(listE).isDefined =>
        val overNodes = pathListCall(listE).get
        val w2 = w.map(foldPathElemIdentity(v, overNodes, _))
        val pr2 = pr.map(foldPathElemIdentity(v, overNodes, _))
        val needsProps = overNodes &&
          (w2.exists(readsElemProps(v, _)) || pr2.exists(readsElemProps(v, _)))
        if (!needsProps) ListComp(v, listE, w2, pr2)
        else {
          hit = true
          val nm = fresh("pncol")
          val c = planPathNodeComp(v, listE, w2, pr2) // mutates df FIRST
          df = df.withColumn(s"${nm}__value", c)
          env += nm -> ValueVar(s"${nm}__value")
          VarRef(nm)
        }
      case other => other
    }
    (out, hit)
  }

  /** rewrite COUNT{}/EXISTS{} RETURN/WITH items into plain bound
    * columns (the correlated joins land on df here) */
  private def rewriteSubqueryItems(items: Seq[ReturnItem]): Seq[ReturnItem] =
    items.map { it =>
      it.expr match {
        case cs: CountSub =>
          val nm = fresh("cscol")
          val c = planSubCount(cs) // mutates df (adds the join) FIRST
          df = df.withColumn(s"${nm}__value", c)
          env += nm -> ValueVar(s"${nm}__value")
          ReturnItem(VarRef(nm), Some(it.alias.getOrElse("count")))
        case pp: PatternPred =>
          val nm = fresh("escol")
          val c = planSubCount(CountSub(pp.pattern, pp.where, pp.full))
          df = df.withColumn(s"${nm}__value", c > 0)
          env += nm -> ValueVar(s"${nm}__value")
          ReturnItem(VarRef(nm), Some(it.alias.getOrElse("exists")))
        case _ =>
          // COUNT{}/EXISTS{} and pattern comprehensions may sit at
          // ANY depth of the item (`COUNT { … } + 10`, `size([…])`,
          // `[…] + […]`); keep the item's original name
          val (r1, hit1) = rewriteSubExprs(it.expr)
          val (rewritten, hit2) = rewritePatternComps(r1)
          if (!hit1 && !hit2) it else ReturnItem(rewritten, Some(it.name))
      }
    }

  /** rewrite COUNT{}/EXISTS{} sub-EXPRESSIONS (any depth) into bound
    * columns — the composed-expression form Neo4j 5 allows
    * (`RETURN COUNT { … } + 10`); mutates df like the bare-item path
    */
  private def rewriteSubExprs(e: Expr): (Expr, Boolean) = {
    var hit = false
    val out = mapExpr(e) {
      case cs: CountSub =>
        hit = true
        val nm = fresh("cscol")
        val c = planSubCount(cs)
        df = df.withColumn(s"${nm}__value", c)
        env += nm -> ValueVar(s"${nm}__value")
        VarRef(nm)
      case pp: PatternPred =>
        hit = true
        val nm = fresh("escol")
        val c = planSubCount(CountSub(pp.pattern, pp.where, pp.full))
        df = df.withColumn(s"${nm}__value", c > 0)
        env += nm -> ValueVar(s"${nm}__value")
        VarRef(nm)
      case other => other
    }
    (out, hit)
  }

  /** OPTIONAL MATCH as a whole-clause left join: all comma-separated
    * patterns are planned standalone with inner joins, then left-joined
    * onto the bound rows — shared-variable equalities AND the clause's
    * WHERE form the join condition, so (a) a partially-matching
    * pattern binds ALL-null (Cypher semantics), not a prefix, and (b)
    * the WHERE may reference outer-bound variables (correlated).
    */
  private def applyOptionalMatch(m: MatchClause): Unit = {
    val outerDf = df
    val outerEnv = env
    df = null
    env = Map.empty
    applyInnerMatch(m.copy(where = None)) // WHERE joins below
    val subDf = df
    val subEnv = env
    // a reused name must be a node var on both sides (Cypher rejects
    // rebinding a value/rel variable as a pattern node)
    subEnv.foreach { case (v, k) =>
      outerEnv.get(v).foreach { outerKind =>
        if (outerKind != NodeVar || k != NodeVar)
          throw PlanError(
            s"variable $v rebound with a different kind in OPTIONAL MATCH")
      }
    }
    val shared = subEnv.keys.filter(outerEnv.contains).toSeq.sorted
    // only the SHARED vars' columns collide; rename exactly those on
    // the sub side (new vars keep canonical names, so the WHERE and
    // later clauses resolve them directly)
    val sharedCols = shared.flatMap(v =>
      Seq("gid", "label", "source", "props", "xlabels")
        .map(f => s"${v}__$f"))
      .filter(subDf.columns.contains)
    val renamedSub = sharedCols.foldLeft(subDf)(
      (d, c) => d.withColumnRenamed(c, s"__sub__$c"))
    env = outerEnv ++ (subEnv -- outerEnv.keys)
    val baseCond =
      if (shared.isEmpty) lit(true)
      else shared.map(v =>
        col(s"${v}__gid") === col(s"__sub__${v}__gid")).reduce(_ && _)
    // shared-var references inside the WHERE resolve to the OUTER
    // columns — equal to the sub side on every matched row
    val cond = m.where.map(w => baseCond && toPredicate(w)).getOrElse(baseCond)
    df = outerDf.join(renamedSub, cond, "left_outer")
    sharedCols.foreach(c => df = df.drop(s"__sub__$c"))
  }

  private def applySingleHop(boundVar: String, rel: RelPattern,
      node: NodePattern): (String, String) = {
    val rv = rel.variable.getOrElse(fresh("r"))
    if (env.contains(rv)) throw PlanError(s"rel var $rv already bound")
    env += rv -> RelVar
    var base = relIndexedBase(rel).getOrElse(edgesInView).select(
      col("src").as(s"${rv}__src"), col("dst").as(s"${rv}__dst"),
      col("relType").as(s"${rv}__relType"),
      col("source").as(s"${rv}__source"))
    rel.relType.foreach(t => base = base.filter(
      if (rel.altRelTypes.isEmpty) col(s"${rv}__relType") === t
      else col(s"${rv}__relType").isin((t +: rel.altRelTypes): _*)))
    // undirected hops traverse the edge either way: union both
    // orientations on throwaway bind columns (the rv columns keep the
    // STORED orientation — DELETE r and r.* render unchanged). A
    // self-loop matches once, not twice.
    val (e, fromCol, toCol) =
      if (rel.direction == 0) {
        val (f, t) = (s"${rv}__bind_from", s"${rv}__bind_to")
        val fwd = base.withColumn(f, col(s"${rv}__src"))
          .withColumn(t, col(s"${rv}__dst"))
        val bwd = base.filter(col(s"${rv}__src") =!= col(s"${rv}__dst"))
          .withColumn(f, col(s"${rv}__dst"))
          .withColumn(t, col(s"${rv}__src"))
        (fwd.unionByName(bwd), f, t)
      }
      else if (rel.direction > 0) (base, s"${rv}__src", s"${rv}__dst")
      else (base, s"${rv}__dst", s"${rv}__src")
    df = df.join(e, col(s"${boundVar}__gid") === col(fromCol), "inner")
    // MATCH-wide relationship uniqueness vs earlier clause rels (see
    // clauseRelUniq doc): stored-orientation edge identity, so an
    // undirected re-traversal of the same edge is excluded too
    if (clauseRelUniq) {
      val myTypes = relTypeSet(rel)
      val myEkey = concat_ws("\u0001", col(s"${rv}__src"),
        col(s"${rv}__dst"), col(s"${rv}__relType"))
      clauseFixedRels.filter(b => typesMayOverlap(myTypes, b.types))
        .foreach(b => df = df.filter(myEkey =!= b.ekey))
      clauseStretches.filter(b => typesMayOverlap(myTypes, b.types))
        .foreach(b => df = df.filter(!array_contains(col(b.pathCol), myEkey)))
      clauseFixedRels ::= BoundRel(myEkey, myTypes)
    }
    val nv = node.variable.getOrElse(fresh("n"))
    if (env.contains(nv)) {
      df = df.filter(col(toCol) === col(s"${nv}__gid"))
      rebindFilters(nv, node)
    } else {
      env += nv -> NodeVar
      val d = nodeDf(nv, node)
      df = df.join(d, col(toCol) === col(s"${nv}__gid"), "inner")
      exprPropFilters(nv, node).foreach(f => df = df.filter(f))
    }
    if (rel.direction == 0)
      df = df.drop(s"${rv}__bind_from", s"${rv}__bind_to")
    (nv, rv)
  }

  /** label/property constraints on an already-bound variable apply as
    * filters (they are part of the pattern, not decoration).
    */
  private def rebindFilters(nv: String, node: NodePattern): Unit = {
    labelFilter(nv, node).foreach(f => df = df.filter(f))
    node.props.foreach {
      case (k, Lit(v)) => df = df.filter(litPropFilter(nv, k, v))
      case _ => ()
    }
    exprPropFilters(nv, node).foreach(f => df = df.filter(f))
  }

  /** bounded var-length expand: iterative frontier joins over distinct
    * start gids, then joined back — the expansion never re-joins the
    * (potentially wide) bound row set.
    *
    * Cypher path semantics: one row per RELATIONSHIP-UNIQUE path (a
    * path may not traverse the same relationship twice). Each frontier
    * row carries its visited-edge keys (≤ maxH ≤ 10 entries, a cheap
    * codegen'd array_contains per candidate hop), which both yields
    * Neo4j-correct row counts on cyclic data and bounds the expansion —
    * a walk enumeration would loop forever around a cycle.
    */
  private def applyVarLengthHop(boundVar: String, rel: RelPattern,
      node: NodePattern, minH: Int, maxH: Int,
      keepHopsAs: Option[String] = None,
      shortest: Boolean = false,
      allShortest: Boolean = false,
      materialize: Boolean = false,
      keepPathAs: Option[String] = None,
      keepRelKeysAs: Option[String] = None): String = {
    // a NAMED var-length relationship binds its edge-key array —
    // that demands the enumerating (path-carrying) expansion
    val mat = materialize || keepRelKeysAs.nonEmpty
    // Neo4j: `-[:T*1..2 {source: 'x'}]->` constrains EVERY step of
    // the stretch — the property map filters the step edge relation
    // itself (the edge model carries source + type)
    var e0 = edgesInView
    rel.props.foreach { case (k, ex) =>
      val v = ex match {
        case Lit(x) => lit(x)
        case Param(n) => params.get(n).map(lit(_)).getOrElse(
          throw PlanError(s"missing parameter $$$n"))
        case other => throw PlanError("a var-length relationship " +
          s"property map takes literal/parameter values, got $other")
      }
      // the allowed keys derive from the edge view's OWN columns, so
      // a property that exists on the model filters normally and only
      // a genuinely absent key collapses to no-match — if edge
      // properties are ever added, filters on them keep working
      // instead of silently returning empty
      e0 = k match {
        case "type" | "relType" => e0.filter(col("relType") === v)
        case _ if e0.columns.contains(k) => e0.filter(col(k) === v)
        case _ => e0.filter(lit(false)) // no such key on the edge model
      }
    }
    var e = e0.select(col("src"), col("dst"), col("relType"))
    rel.relType.foreach(t => e = e.filter(
      if (rel.altRelTypes.isEmpty) col("relType") === t
      else col("relType").isin((t +: rel.altRelTypes): _*)))
    // edge identity = the stored (src,dst,relType), independent of
    // traversal direction — the store dedups edges on exactly this key
    def ekey = concat_ws("\u0001", col("src"), col("dst"), col("relType"))
      .as("__ekey")
    val step =
      if (rel.direction == 0) {
        // undirected: either orientation advances the walk; the shared
        // __ekey keeps relationship-uniqueness (an edge is consumed
        // once regardless of traversal direction). Materialized paths
        // need an orientation to derive entered nodes from — out of
        // scope for undirected stretches.
        if (mat) throw PlanError(
          "nodes()/relationships() over an undirected var-length hop is not supported")
        e.select(col("src").as("__from"), col("dst").as("__to"), ekey)
          .unionByName(e.filter(col("src") =!= col("dst"))
            .select(col("dst").as("__from"), col("src").as("__to"), ekey))
      } else {
        val (fromCol, toCol) =
          if (rel.direction > 0) ("src", "dst") else ("dst", "src")
        e.select(col(fromCol).as("__from"), col(toCol).as("__to"), ekey)
      }

    val start = df.select(col(s"${boundVar}__gid").as("__start")).distinct()
    var reach: DataFrame = null
    // set when shortestPath must pick its path AFTER the cross-clause
    // uniqueness filters (see the shortest+clauseRelUniq branch)
    var deferShortestPick = false
    // MATCH-wide uniqueness needs the visited-edge keys, so a clause
    // with potentially-overlapping other rels takes the enumerating
    // expansion even for the shortest variants (rare — the common
    // disjoint-typed clause keeps the BFS fast path)
    if ((shortest || allShortest) && minH <= 1 && !mat && !clauseRelUniq) {
      // EARLY-TERMINATING BFS — the shortest variants never need the
      // path enumeration: a minimal-length walk cannot revisit a
      // vertex (removing the cycle would shorten it), so BFS levels
      // ARE shortest-path distances and the per-level walk count IS
      // the minimal-path multiplicity. Each level dedups to one row
      // per (start, end) pair and settled pairs LEAVE the frontier —
      // polynomial growth, no __path arrays, no combinatorial blow-up
      // on dense cyclic graphs. (A path materialized through
      // nodes(p)/relationships(p), or a non-standard minH > 1 bound,
      // falls back to the enumerating expansion below.)
      // each level is localCheckpoint'ed: the anti-join against ALL
      // settled pairs would otherwise give the lazy plan exponential
      // lineage (settled_h references every earlier frontier twice),
      // and the materialized level lets the loop STOP on an empty
      // frontier instead of always unrolling to maxH
      // *0.. lower bound: every start settles with ITSELF at level 0
      // (one zero-length walk per pair); level-1 pairs that would
      // re-settle a (s, s) self-loop anti-join away like any later
      // level does against the settled set
      val zeroLevel: Option[DataFrame] = if (minH == 0)
        Some(start.select(col("__start"), col("__start").as("__end"),
          lit(1L).as("__cnt"), lit(0).as("__hops")).localCheckpoint())
      else None
      var frontier = start.join(step, col("__start") === col("__from"))
        .groupBy(col("__start"), col("__to").as("__end"))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__hops", lit(1))
      frontier = zeroLevel.map(z => frontier.join(
          z.select(col("__start"), col("__end")),
          Seq("__start", "__end"), "left_anti")).getOrElse(frontier)
        .localCheckpoint()
      var levels = zeroLevel.toSeq
      if (maxH >= 1) levels :+= frontier
      var h = 2
      var exhausted = maxH < 1 || frontier.isEmpty
      while (h <= maxH && !exhausted) {
        // fresh column names per iteration — joining the same step
        // relation repeatedly trips the ambiguous-self-join detector
        val stepH = step.select(col("__from").as(s"__from$h"),
          col("__to").as(s"__to$h"))
        val settled = levels.map(_.select(col("__start"), col("__end")))
          .reduce(_ unionByName _)
        frontier = frontier
          .join(stepH, col("__end") === col(s"__from$h"))
          .groupBy(col("__start"), col(s"__to$h").as("__end"))
          .agg(sum(col("__cnt")).as("__cnt"))
          .join(settled, Seq("__start", "__end"), "left_anti")
          .withColumn("__hops", lit(h))
          .localCheckpoint()
        exhausted = frontier.isEmpty
        if (!exhausted) levels :+= frontier
        h += 1
      }
      val settledAll = levels.reduce(_ unionByName _)
      reach =
        if (allShortest) // one row per minimal path (multiplicity)
          settledAll.withColumn("__dup",
            explode(sequence(lit(1L), col("__cnt"))))
            .drop("__dup", "__cnt")
        else settledAll.drop("__cnt")
    } else {
      // general var-length expansion: one row per RELATIONSHIP-UNIQUE
      // path, each frontier row carrying its visited-edge keys —
      // Cypher path semantics, and the only way to materialize the
      // path itself
      var frontier = start
        .join(step, col("__start") === col("__from"))
        .select(col("__start"), col("__to").as("__end"), lit(1).as("__hops"),
          array(col("__ekey")).as("__path"))
      // *0.. lower bound: ONE zero-length walk per start (end = start,
      // empty edge list — uniqueness filters are vacuous on it, and a
      // label/prop filter on the end node applies to the start itself,
      // Neo4j semantics)
      val zeroWalk = start.select(col("__start"),
        col("__start").as("__end"), lit(0).as("__hops"),
        array().cast("array<string>").as("__path"))
      reach = if (minH == 0) {
        if (maxH >= 1) zeroWalk.unionByName(frontier) else zeroWalk
      } else if (minH <= 1) frontier else null
      for (h <- 2 to maxH) {
        // fresh column names per iteration — joining the same step
        // relation repeatedly trips the ambiguous-self-join detector
        val stepH = step.select(col("__from").as(s"__from$h"),
          col("__to").as(s"__to$h"), col("__ekey").as(s"__ekey$h"))
        frontier = frontier
          .join(stepH, col("__end") === col(s"__from$h"))
          .filter(!array_contains(col("__path"), col(s"__ekey$h")))
          .select(col("__start"), col(s"__to$h").as("__end"),
            lit(h).as("__hops"),
            array_append(col("__path"), col(s"__ekey$h")).as("__path"))
        if (h >= minH) reach = if (reach == null) frontier
          else reach.unionByName(frontier)
      }
      if (reach == null) throw PlanError(s"empty hop range *$minH..$maxH")
      // MATCH-wide uniqueness needs the visited-edge keys beyond the
      // stretch itself when the clause binds other relationships
      if (!mat && !clauseRelUniq) reach = reach.drop("__path")
      if (shortest) {
        if (!mat && !clauseRelUniq)
          // keep one minimal-length row per (start, end) pair — an
          // aggregate, not a window, so map-side partial mins apply
          reach = reach.groupBy(col("__start"), col("__end"))
            .agg(min(col("__hops")).as("__hops"))
        else if (!clauseRelUniq) {
          // path materialization without cross-clause uniqueness: ONE
          // minimal row per pair WITH its path — deterministic
          // tie-break on the edge-key array
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("__start"), col("__end"))
            .orderBy(col("__hops").asc, col("__path").asc)
          reach = reach.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        } else {
          // cross-clause uniqueness is live: DEFER the choice. Neo4j
          // finds the shortest path SATISFYING MATCH-wide
          // relationship uniqueness (its exhaustive-search fallback),
          // so the pick must happen per OUTER ROW after the conflict
          // filters — keep every enumerated path here; the
          // post-filter window below keeps the minimal survivor
          // (bounded by the clause's own conflict set, not the graph)
          deferShortestPick = true
        }
      }
      // allShortestPaths: keep EVERY minimal-length path row per pair
      // (path multiplicity preserved — one reach row per distinct
      // path). Under cross-clause uniqueness the minimal length is
      // itself defined over VALID paths, so the reduction defers past
      // the conflict filters exactly like single shortestPath.
      else if (allShortest) {
        if (clauseRelUniq) deferShortestPick = true
        else {
          val mins = reach.groupBy(col("__start"), col("__end"))
            .agg(min(col("__hops")).as("__minh"))
          reach = reach.join(mins, Seq("__start", "__end"))
            .filter(col("__hops") === col("__minh")).drop("__minh")
        }
      }
    }

    // a deferred shortest pick needs the OUTER-row identity: minted
    // in the same plan that consumes it (one evaluation), so the id
    // only has to be internally consistent, never durable
    if (deferShortestPick)
      df = df.withColumn("__sp_rid", monotonically_increasing_id())
    df = df.join(reach, col(s"${boundVar}__gid") === reach("__start"), "inner")
    val nv = node.variable.getOrElse(fresh("n"))
    if (env.contains(nv)) {
      df = df.filter(col("__end") === col(s"${nv}__gid"))
      rebindFilters(nv, node)
    } else {
      env += nv -> NodeVar
      val d = nodeDf(nv, node)
      df = df.join(d, col("__end") === col(s"${nv}__gid"), "inner")
      exprPropFilters(nv, node).foreach(f => df = df.filter(f))
    }
    // MATCH-wide relationship uniqueness vs earlier clause rels (see
    // clauseRelUniq doc). The BFS fast path and the shortest-variant
    // aggregation carry no __path — cross-uniqueness is skipped there
    // (documented gap); the general expansion always has it now.
    if (clauseRelUniq && df.columns.contains("__path")) {
      val myTypes = relTypeSet(rel)
      clauseFixedRels.filter(b => typesMayOverlap(myTypes, b.types))
        .foreach(b => df = df.filter(!array_contains(col("__path"), b.ekey)))
      clauseStretches.filter(b => typesMayOverlap(myTypes, b.types))
        .foreach(b =>
          df = df.filter(!arrays_overlap(col("__path"), col(b.pathCol))))
      // deferred shortest pick: among the paths SURVIVING the
      // uniqueness filters, keep per (outer row, end) the minimal one
      // (shortestPath) or all of minimal length (allShortestPaths) —
      // Neo4j's shortest-VALID-path semantics: a conflicting minimal
      // path falls back to the next-shortest valid one
      if (deferShortestPick) {
        val part = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__sp_rid"), col("__end"))
        if (shortest)
          df = df.withColumn("__sp_rn", row_number().over(
              part.orderBy(col("__hops").asc, col("__path").asc)))
            .filter(col("__sp_rn") === 1).drop("__sp_rn", "__sp_rid")
        else
          df = df.withColumn("__sp_minh", min(col("__hops")).over(part))
            .filter(col("__hops") === col("__sp_minh"))
            .drop("__sp_minh", "__sp_rid")
        deferShortestPick = false
      }
      val keep = s"${fresh("uniq")}__path"
      df = df.withColumn(keep, col("__path"))
      clauseRetained ::= keep
      clauseStretches ::= BoundStretch(keep, myTypes)
    }
    keepRelKeysAs.foreach(c => df = df.withColumn(c, col("__path")))
    keepHopsAs.foreach(c => df = df.withColumnRenamed("__hops", c))
    keepPathAs.foreach(c => df = df.withColumnRenamed("__path", c))
    df = df.drop("__start", "__end", "__hops", "__path")
    nv
  }

  /** introspection procedures: each yields ONE column of distinct
    * values scanned from the store's own tables (labels from the
    * label column + secondary xlabels, relationship types from the
    * relType partition column — a directory listing at scale — and
    * property keys from the props map keys). Rows cross-product with
    * the incoming binding table, as Neo4j procedure CALLs do.
    */
  /** `CALL db.index.vector.queryNodes(name, k, query)` /
    * `CALL db.index.fulltext.queryNodes(name, query)` — the Neo4j 5
    * index procedures (the first thing real ported apps call; D1
    * `Query()` is the declared surface, /root/reference/layer.go:24).
    * Both read the store-maintained index table partition-pruned
    * (probed IVF cells / query-term buckets — never a node scan) and
    * yield a full NODE binding plus a score. Inside a session with
    * uncommitted node writes the index is stale, so they fall back to
    * scanning the overlay view (correct, unindexed — redgesReady's
    * contract).
    */
  private def applyIndexProc(c: CallProc): Unit = {
    import graft.store.SearchIndexes
    def strArg(e: Ast.Expr, what: String): String = e match {
      case Lit(s: String) => s
      case Param(n) => params.get(n) match {
        case Some(s: String) => s
        case other => throw PlanError(s"$what param $$$n: $other")
      }
      case other => throw PlanError(s"$what needs a string, got $other")
    }
    def longArg(e: Ast.Expr, what: String): Long = e match {
      case Lit(i: Long) => i
      case Param(n) => params.get(n) match {
        case Some(i: Int) => i.toLong
        case Some(i: Long) => i
        case other => throw PlanError(s"$what param $$$n: $other")
      }
      case other => throw PlanError(s"$what needs an integer, got $other")
    }
    def vecArg(e: Ast.Expr, what: String): Seq[Double] = e match {
      case ListLit(items) => items.map {
        case Lit(d: Double) => d
        case Lit(l: Long) => l.toDouble
        case other => throw PlanError(s"$what: non-numeric element $other")
      }
      case Param(n) => params.get(n) match {
        case Some(xs: Seq[_]) => xs.map {
          case d: Double => d
          case f: Float => f.toDouble
          case l: Long => l.toDouble
          case i: Int => i.toDouble
          case other => throw PlanError(s"$what: non-numeric element $other")
        }
        case other => throw PlanError(s"$what param $$$n: $other")
      }
      case other => throw PlanError(s"$what needs a number list, got $other")
    }
    val isVector = c.name.toLowerCase == "db.index.vector.querynodes"
    val isRelProc =
      c.name.toLowerCase == "db.index.fulltext.queryrelationships"
    // (gid, score) — each branch keeps candidate generation bounded
    val (hits: DataFrame, idxLabel: String) = if (isVector) {
      val (idxName, k, qv, filtPreds) = c.args match {
        case Seq(a, b, v) => (strArg(a, "indexName"),
          longArg(b, "numberOfNearestNeighbours"), vecArg(v, "query"),
          Nil: Seq[(String, Any)])
        case Seq(a, b, v, MapLit(entries)) =>
          // graft extension: {filter: {prop: value, ...}} — conjunctive
          // property-equality predicates evaluated BEFORE the top-k
          // truncation, so selective filters don't collapse recall
          val fp = entries match {
            case Seq(("filter", MapLit(fes))) if fes.nonEmpty =>
              fes.map { case (fk, fe) =>
                val value = fe match {
                  case Lit(x) if x != null => x
                  case Param(n) => params.getOrElse(n,
                    throw PlanError(s"missing parameter $$$n"))
                  case other => throw PlanError(
                    s"vector filter values must be plan-time scalars, " +
                      s"got $other")
                }
                fk -> value
              }
            case _ => throw PlanError(
              "db.index.vector.queryNodes options take exactly " +
                "{filter: {prop: value, ...}}")
          }
          (strArg(a, "indexName"),
            longArg(b, "numberOfNearestNeighbours"), vecArg(v, "query"),
            fp)
        case other => throw PlanError(
          "db.index.vector.queryNodes takes (indexName, k, query" +
            s"[, {filter: {...}}]), got $other")
      }
      if (k < 1) throw PlanError(s"k must be >= 1: $k")
      val d = store.indexDef(idxName).filter(_.kind == "vector")
        .getOrElse(throw PlanError(s"no such vector index: $idxName"))
      if (d.dims > 0 && qv.size != d.dims)
        throw PlanError(
          s"query vector has ${qv.size} dims; index $idxName has ${d.dims}")
      // ---- filtered search wiring ----
      // strict typed-slot equality on a PV property (numeric family
      // unified; a filter on a missing/other-typed prop matches none)
      def pvEqCol(pv: Column, value: Any): Column = value match {
        case x: String => pv.getField("s") === x
        case x: Boolean => pv.getField("b") === x
        case x: Int => pv.getField("l") === x.toLong ||
          pv.getField("d") === x.toDouble
        case x: Long => pv.getField("l") === x ||
          pv.getField("d") === x.toDouble
        case x: Double => pv.getField("d") === x ||
          pv.getField("l").cast("double") === x
        case other => throw PlanError(
          s"unsupported vector filter value: $other")
      }
      // every filter-matching gid (label-pruned scan) — the
      // filter-during-shortlist input when the px fast path is out
      lazy val filterGidsDf: DataFrame = {
        var f = nodesInView.filter(col("label") === d.label ||
          (col("xlabels").isNotNull &&
            array_contains(col("xlabels"), d.label)))
        filtPreds.foreach { case (fp, fv) =>
          f = f.filter(pvEqCol(col("props").getItem(fp), fv)) }
        f.select(col("gid"))
      }
      // SELECTIVE pre-filter: when every predicate routes through a
      // ready px index and the intersected candidate list is small,
      // answer EXACTLY (brute-force over the matched nodes' vectors,
      // read from their gid buckets) — recall 1.0 under selective
      // filters, the recall-correct shape v_knn_filtered pins
      val FilteredAnnCap = 4096
      val selectiveGids: Option[Seq[String]] =
        if (filtPreds.isEmpty) None
        else {
          // ANY px-resolvable predicate with a bounded candidate list
          // makes the whole filter selective: its matches are a
          // SUPERSET of the conjunction, and the remaining predicates
          // apply as residuals on the candidates' node rows
          val sets: Seq[Set[String]] = filtPreds.flatMap {
            case (fp, fv) =>
              for {
                enc <- graft.store.SearchIndexes.encodeValue(fv)
                ix <- store.indexDefs.find(x => x.kind == "property" &&
                  x.entity == "NODE" && x.label == d.label &&
                  x.property == fp)
                if store.searchIndexReady(ix)
                got = store.readSearchIndex(ix, {
                  val b = store.bucketOfString(enc)
                  (key: String) => key == s"sect=p/bucket=$b"
                })
                  .filter(col("sect") === "p" && col("val") === enc)
                  .select(col("gid")).take(FilteredAnnCap + 1)
                  .map(_.getString(0))
                if got.length <= FilteredAnnCap
              } yield got.toSet
          }
          if (sets.isEmpty) None
          else Some(sets.reduce(_ intersect _).toSeq.sorted)
        }
      // filtered searches on the graph tier re-route through the cell
      // tiers (a filter-blind beam collapses recall); cell probes
      // WIDEN under a non-selective filter so the filtered shortlist
      // keeps enough candidates
      val filteredNProbe =
        if (filtPreds.isEmpty || selectiveGids.isDefined)
          d.effectiveNProbe
        else math.min(math.max(1, d.centroids.size),
          4 * d.effectiveNProbe)
      val base: DataFrame = // (gid, v, norm)
        if (selectiveGids.isDefined) {
          val gids = selectiveGids.get
          if (gids.isEmpty)
            SearchIndexes.vectors(nodesInView, d).limit(0)
          else {
            var src = store.nodesByGidBuckets(
              gids.map(store.bucketOfString).toSet)
              .filter(col("gid").isin(gids: _*))
            // EVERY predicate re-applies as a residual (exactness for
            // the px-resolved ones, enforcement for the rest)
            filtPreds.foreach { case (fp, fv) =>
              src = src.filter(pvEqCol(col("props").getItem(fp), fv)) }
            SearchIndexes.vectors(src, d)
          }
        } else if (filtPreds.isEmpty && d.graphDeg > 0 &&
            d.centroids.nonEmpty &&
            d.graphEntries.nonEmpty && store.graphIndexReady(d)) {
          // PROXIMITY-GRAPH tier: driver-side beam search over the
          // persisted adjacency — T rounds of (read frontier rows
          // from their gid-bucket directories, score, expand the
          // top-B frontier's out-edges). Scans ≤ entries + T·B·deg
          // rows regardless of corpus size: the high-recall path
          // whose cost FALLS as a fraction of the corpus.
          def dotL(a: Seq[Double], b: Seq[Double]): Double = {
            var s = 0.0; var i = 0
            val n = math.min(a.length, b.length)
            while (i < n) { s += a(i) * b(i); i += 1 }
            s
          }
          val qnn = math.sqrt(dotL(qv, qv))
          def affOf(v: Seq[Double], n: Double): Double =
            if (d.similarity == "euclidean") 2.0 * dotL(qv, v) - n * n
            else dotL(qv, v) / (qnn * n)
          import scala.collection.mutable
          val B = math.max(8, k.toInt); val T = 3
          val info = mutable.Map
            .empty[String, (Seq[Double], Double, Seq[String], Seq[Double])]
          val aff = mutable.Map.empty[String, Double]
          var frontier: Set[String] = d.graphEntries.toSet
          var round = 0
          while (round <= T && frontier.nonEmpty) {
            val rows = store.readGraphRows(d, frontier -- info.keySet)
            info ++= rows
            rows.foreach { case (g, (v, n, _, _)) => aff(g) = affOf(v, n) }
            frontier = aff.toSeq.sortBy { case (g, a) => (-a, g) }
              .take(B)
              .flatMap { case (g, _) =>
                info.get(g).map(_._3).getOrElse(Nil) }
              .toSet -- info.keySet
            round += 1
          }
          if (d.quant == "sq8") {
            // QUANTIZED graph tier (the DiskANN shape): the beam
            // steered on decoded codes (8× less adjacency IO) — the
            // final frontier exact-rescores from the node rows, so
            // YIELDed scores are exact, like the IVF quantized tier
            val short = aff.toSeq.sortBy { case (g, a) => (-a, g) }
              .take(math.max(4 * k.toInt, math.max(B, 64)))
              .map(_._1)
            if (short.isEmpty)
              SearchIndexes.vectors(nodesInView, d).limit(0)
            else SearchIndexes.vectors(
              store.nodesByGidBuckets(
                short.map(store.bucketOfString).toSet), d)
              .filter(col("gid").isin(short: _*))
          } else {
            val top = aff.toSeq.sortBy { case (g, a) => (-a, g) }
              .take(math.max(B, k.toInt))
              .map { case (g, _) =>
                val (v, n, _, _) = info(g)
                org.apache.spark.sql.Row(g, v, n)
              }
            val spark = nodesInView.sparkSession
            spark.createDataFrame(java.util.Arrays.asList(top: _*),
              org.apache.spark.sql.types.StructType(
                SearchIndexes.vxSchema.fields.filter(_.name != "cell")))
          }
        } else if (store.searchIndexReady(d) && d.centroids.nonEmpty &&
            d.quant.nonEmpty) {
          // QUANTIZED tier: probe the top-nprobe cells' CODE rows
          // (8× / 64× less IO than raw float64), shortlist by the
          // approximate score, then exact-rescore only the shortlist
          // — its float vectors read from the candidates' gid-bucket
          // node directories (the quantize-then-rescore recipe).
          val cells = SearchIndexes.probeCells(
            d.centroids, qv, d.similarity, filteredNProbe).toSet
          val codes0 = store.readSearchIndex(d,
            key => cells.exists(cl => key.startsWith(s"cell=$cl/")))
          // a (non-selective) filter applies BEFORE the shortlist
          // truncation — the shortlist then ranks only filter
          // survivors instead of losing them to unfiltered top-M
          val codes =
            if (filtPreds.isEmpty) codes0
            else codes0.join(filterGidsDf, Seq("gid"), "left_semi")
          val shortlistN = math.max(4 * k.toInt, 64)
          val withApprox: DataFrame = d.quant match {
            case "sq8" =>
              // elementwise dequantize (dqᵢ = mnᵢ + (codeᵢ+128)·
              // (mxᵢ−mnᵢ)/255) then the shared index-ordered dot —
              // the EXACT arithmetic the DuckDB oracle replays, so
              // shortlist membership is bit-deterministic across
              // engines (an algebraically-folded form would diverge
              // in the last ulp and flip boundary candidates)
              val mnL = typedLit(d.sqMn)
              val mxL = typedLit(d.sqMx)
              val dq = transform(col("code"), (b, i) => {
                val lo = element_at(mnL, i + 1)
                val hi = element_at(mxL, i + 1)
                when(hi <= lo, lo).otherwise(
                  lo + (b.cast("double") + lit(128.0)) *
                    (hi - lo) / lit(255.0))
              })
              val qn = math.sqrt(qv.map(x => x * x).sum)
              val adot = SearchIndexes.dot(col("__dq"), typedLit(qv))
              codes.withColumn("__dq", dq).withColumn("__a",
                if (d.similarity == "euclidean")
                  lit(2.0) * adot - col("norm") * col("norm")
                else adot / (col("norm") * lit(qn)))
            case _ => // bq: NEGATIVE hamming distance to the query's
              // sign code (higher = closer, ties resolved on gid)
              val qc = SearchIndexes.bqEncodeLocal(qv,
                if (d.dims > 0) d.dims else qv.size)
              codes.withColumn("__a", -aggregate(
                zip_with(col("code"), typedLit(qc),
                  (c, q) => bit_count(c.bitwiseXOR(q)).cast("long")),
                lit(0L), (acc, x) => acc + x).cast("double"))
          }
          val short = withApprox
            .orderBy(col("__a").desc, col("gid")).limit(shortlistN)
            .select(col("gid")).collect().map(_.getString(0)).toSeq
          // exact rescore from the node rows, bucket-pruned
          if (short.isEmpty)
            SearchIndexes.vectors(nodesInView, d).limit(0)
          else SearchIndexes.vectors(
            store.nodesByGidBuckets(
              short.map(store.bucketOfString).toSet), d)
            .filter(col("gid").isin(short: _*))
        } else if (store.searchIndexReady(d) && d.centroids.nonEmpty) {
          // IVF probe: rank the persisted centroids on the driver,
          // read ONLY the top-nprobe cells' directories (configured
          // override, else ~√K/2 of the trained cell count)
          val cells = SearchIndexes.probeCells(
            d.centroids, qv, d.similarity, filteredNProbe).toSet
          val rows = store.readSearchIndex(d,
            key => cells.exists(cl => key.startsWith(s"cell=$cl/")))
            .select(col("gid"), col("v"), col("norm"))
          if (filtPreds.isEmpty) rows
          else rows.join(filterGidsDf, Seq("gid"), "left_semi")
        } else {
          val rows = SearchIndexes.vectors(nodesInView, d)
          if (filtPreds.isEmpty) rows
          else rows.join(filterGidsDf, Seq("gid"), "left_semi")
        }
      val qn = math.sqrt(qv.map(x => x * x).sum)
      val qdot = SearchIndexes.dot(col("v"), typedLit(qv))
      // Neo4j's similarity scores: cosine normalized to (1+cos)/2 in
      // [0,1] (Neo4j 5 parity — raw cosine would rank identically but
      // YIELDed scores and `WHERE score > x` filters would diverge);
      // euclidean 1/(1+d²) in (0,1], d² expanded from the same dot fold
      val scoreCol =
        if (d.similarity == "euclidean")
          lit(1.0) / (lit(1.0) +
            (lit(qn * qn) + col("norm") * col("norm") - lit(2.0) * qdot))
        else (lit(1.0) + qdot / (col("norm") * lit(qn))) / lit(2.0)
      (base
        .withColumn("score", scoreCol)
        // top-k by (score desc, gid): plans TakeOrderedAndProject —
        // per-partition heaps + driver merge of k rows, no global sort
        .orderBy(col("score").desc, col("gid")).limit(k.toInt)
        .select(col("gid"), col("score")), d.label)
    } else {
      val (idxName, q, ftLimit, ftSkip, anOverride) = c.args match {
        case Seq(a, b) =>
          (strArg(a, "indexName"), strArg(b, "queryString"),
            None: Option[Long], None: Option[Long], None: Option[String])
        case Seq(a, b, MapLit(entries)) =>
          // Neo4j's options map — `{limit: n}` caps the hit list
          // (top-n by score, a TakeOrderedAndProject), `{skip: n}`
          // drops the first n hits (score-ordered pagination), and
          // `{analyzer: 'name'}` overrides the QUERY-side analyzer;
          // other keys are rejected rather than ignored. Values
          // resolve like every other integer argument (literal or
          // parameter); anything malformed is an error, not a silent
          // no-op
          val lim = entries.collectFirst { case ("limit", e) =>
            val n = longArg(e, "fulltext option limit")
            if (n < 1) throw PlanError(
              s"fulltext option limit must be a positive integer: $n")
            n
          }
          val skp = entries.collectFirst { case ("skip", e) =>
            val n = longArg(e, "fulltext option skip")
            if (n < 0) throw PlanError(
              s"fulltext option skip must be non-negative: $n")
            n
          }
          val an = entries.collectFirst { case ("analyzer", e) =>
            val name = strArg(e, "fulltext option analyzer")
            if (!SearchIndexes.Analyzers.contains(name)) throw PlanError(
              s"unknown analyzer: $name " +
                s"(${SearchIndexes.Analyzers.toSeq.sorted.mkString(" | ")})")
            name
          }
          entries.collectFirst {
            case (k, _) if k != "limit" && k != "analyzer" &&
              k != "skip" => k }
            .foreach(k => throw PlanError(s"unsupported fulltext option: $k"))
          (strArg(a, "indexName"), strArg(b, "queryString"), lim, skp, an)
        case other => throw PlanError(
          "db.index.fulltext.queryNodes takes (indexName, queryString" +
            s"[, {limit: n, skip: n, analyzer: 'name'}]), got $other")
      }
      val d = store.indexDef(idxName).filter(_.kind == "fulltext")
        .getOrElse(throw PlanError(s"no such fulltext index: $idxName"))
      val wantEntity = if (isRelProc) "RELATIONSHIP" else "NODE"
      if (d.entity != wantEntity) throw PlanError(
        s"$idxName is a ${d.entity.toLowerCase} index; use " +
          (if (isRelProc) "db.index.fulltext.queryNodes"
           else "db.index.fulltext.queryRelationships"))
      val scored = fulltextScores(d, q, anOverride.getOrElse(d.analyzer))
      val paged =
        if (ftLimit.isEmpty && ftSkip.isEmpty) scored
        else {
          val ordered = scored.orderBy(col("score").desc, col("gid"))
          val skipped = ftSkip.fold(ordered)(n => ordered.offset(n.toInt))
          ftLimit.fold(skipped)(n => skipped.limit(n.toInt))
        }
      (paged, d.label)
    }
    if (isRelProc) {
      // bind YIELD relationship (+ score): hits re-join the edge
      // table on the recomputed composite identity — a relType-pruned
      // scan probed by the broadcast hit list, never parsed back
      val yields: Seq[(String, String)] =
        if (c.yields.isEmpty)
          Seq(("relationship", "relationship"), ("score", "score"))
        else c.yields.map { case (n, alias) =>
          if (n != "relationship" && n != "score") throw PlanError(
            s"${c.name} yields relationship, score — got $n")
          (n, alias.getOrElse(n))
        }
      yields.foreach { case (_, b) =>
        if (env.contains(b)) throw PlanError(s"variable $b already bound")
      }
      val joined = edgesInView.filter(col("relType") === idxLabel)
        .join(broadcast(hits.withColumnRenamed("gid", "__egid")),
          concat_ws(SearchIndexes.EdgeGidSep, col("src"), col("relType"),
            col("dst")) === col("__egid"))
      val f0 = yields.foldLeft(Option.empty[DataFrame]) {
        case (acc, (n, b)) =>
          val d0 = acc.getOrElse(joined)
          Some(n match {
            case "relationship" => d0
              .withColumn(s"${b}__src", col("src"))
              .withColumn(s"${b}__dst", col("dst"))
              .withColumn(s"${b}__relType", col("relType"))
              .withColumn(s"${b}__source", col("source"))
            case _ => d0.withColumn(s"${b}__value", col("score"))
          })
      }.get
      val keep = yields.flatMap { case (n, b) =>
        if (n == "relationship") Seq(s"${b}__src", s"${b}__dst",
          s"${b}__relType", s"${b}__source")
        else Seq(s"${b}__value")
      }
      val f = f0.withColumn("__proc_score", col("score"))
        .select((keep ++ Seq("__proc_score", "__egid"))
          .map(cn => col(quote(cn))): _*)
        .orderBy(col("__proc_score").desc, col("__egid"))
        .drop("__proc_score", "__egid")
      df = if (df == null) f else df.crossJoin(f)
      yields.foreach { case (n, b) =>
        env += b -> (if (n == "relationship") RelVar: VarKind
          else ValueVar(s"${b}__value"))
      }
      c.where.foreach(applyWhere)
      return
    }
    // bind YIELD node (full node columns) + score; default both
    val yields: Seq[(String, String)] =
      if (c.yields.isEmpty) Seq(("node", "node"), ("score", "score"))
      else c.yields.map { case (n, alias) =>
        if (n != "node" && n != "score") throw PlanError(
          s"${c.name} yields node, score — got $n")
        (n, alias.getOrElse(n))
      }
    yields.foreach { case (_, b) =>
      if (env.contains(b)) throw PlanError(s"variable $b already bound")
    }
    // the hit list is k (vector) or per-term postings (fulltext) —
    // small against the node table: broadcast it into the gid join,
    // and prune the node scan to the indexed label's directories
    // (falling back to the full membership test only when the label
    // is known to occur as a secondary label — the labelMember rule)
    val labelPred =
      if (store.secondaryLabels.contains(idxLabel))
        col("label") === idxLabel ||
          (col("xlabels").isNotNull &&
            array_contains(col("xlabels"), idxLabel))
      else col("label") === idxLabel
    val joined = nodesInView.filter(labelPred)
      .join(broadcast(hits), Seq("gid"))
    val f0 = yields.foldLeft(Option.empty[DataFrame]) { case (acc, (n, b)) =>
      val d0 = acc.getOrElse(joined)
      Some(n match {
        case "node" => d0
          .withColumn(s"${b}__gid", col("gid"))
          .withColumn(s"${b}__label", col("label"))
          .withColumn(s"${b}__source", col("source"))
          .withColumn(s"${b}__props", col("props"))
          .withColumn(s"${b}__xlabels", col("xlabels"))
        case _ => d0.withColumn(s"${b}__value", col("score"))
      })
    }.get
    val keep = yields.flatMap { case (n, b) =>
      if (n == "node") Seq(s"${b}__gid", s"${b}__label", s"${b}__source",
        s"${b}__props", s"${b}__xlabels")
      else Seq(s"${b}__value")
    } :+ "__proc_score" // ordering column (score desc, gid) for Neo4j parity
    val f = f0.withColumn("__proc_score", col("score"))
      .withColumn("__proc_gid", col("gid"))
      .select((keep :+ "__proc_gid").map(cn => col(quote(cn))): _*)
      .orderBy(col("__proc_score").desc, col("__proc_gid"))
      .drop("__proc_score", "__proc_gid")
    df = if (df == null) f else df.crossJoin(f)
    yields.foreach { case (n, b) =>
      env += b -> (if (n == "node") NodeVar: VarKind
        else ValueVar(s"${b}__value"))
    }
    c.where.foreach(applyWhere)
  }

  /** `(gid, score)` hits of a fulltext query against index `d` under
    * `analyzer` — Lucene-ish syntax (AND/OR/NOT, "phrases", prefix*,
    * parentheses; default operator OR) over the store's posting
    * table.
    *
    * Shape: leaf atoms share ONE per-(term, gid) BM25-contribution
    * frame computed from term-bucket-pruned postings (a prefix atom
    * widens the read to every `sect=t` bucket — a prefix can't hash-
    * prune). The common all-OR-of-terms query keeps the original
    * single-aggregation plan; boolean trees aggregate a per-doc
    * matched-atom BITMASK (one union + one groupBy, no joins between
    * atoms) and filter on the tree evaluated over the mask. Phrases
    * verify on the positional postings of their conjunctive
    * candidates (bounded by the rarest term's postings); the stored
    * text is never read. Atoms under an odd number of NOTs
    * never contribute score. Pure-negative queries (satisfiable with
    * zero matched atoms) are rejected — they would need a corpus
    * enumeration, as in Lucene.
    */
  private def fulltextScores(d: graft.store.IndexDef, q: String,
      analyzer: String): DataFrame = {
    import graft.store.{FulltextQuery => FQ, SearchIndexes}
    import scala.collection.mutable
    // the `{analyzer: …}` option re-analyzes the QUERY string only;
    // corpus-side tokenization (the unindexed fallback and its stats)
    // always uses the analyzer the index was BUILT with — otherwise
    // the same query would return different hit sets depending on
    // whether the index is ready
    val corpusAnalyzer = d.analyzer
    val raw =
      try FQ.parse(q)
      catch { case e: FQ.ParseError => throw PlanError(e.getMessage) }
    val indexReady = store.searchIndexReady(d)

    sealed trait Atom
    case class ATerm(t: String) extends Atom
    case class APrefix(p: String) extends Atom
    // slop 0 = exact phrase; >0 = Lucene proximity window over the
    // POSITIONAL postings (adjusted positions within `slop`)
    case class APhrase(ts: Seq[String], slop: Int) extends Atom
    // field-scoped leaves (`title:spark`): pure reads of the
    // PER-FIELD postings scoring true per-field BM25F — the field's
    // own tf/dl, its own collection statistics (docCount, avgdl), its
    // own df — with field-LOCAL positional verification for phrases;
    // no stored-text access.
    case class AFTerm(f: String, t: String) extends Atom
    case class AFPrefix(f: String, p: String) extends Atom
    case class AFPhrase(f: String, ts: Seq[String], slop: Int) extends Atom
    case class AFFuzzy(f: String, t: String, maxEdits: Int) extends Atom
    // fuzzy leaf (`spark~1`): matches every corpus term within
    // maxEdits — the term DICTIONARY names the posting buckets to
    // read; the posting filter itself is the levenshtein predicate,
    // so no expansion list rides the plan
    case class AFuzzy(t: String, maxEdits: Int) extends Atom
    // wildcard (`te?t` / `*est`) and term-range (`[a TO b]`) leaves:
    // dictionary-expanded exactly like fuzzy — the predicate rides
    // the posting filter, the dictionary names the buckets. A
    // leading-star wildcard scans the whole dictionary (vocabulary-
    // sized by construction), never the postings.
    case class AWild(p: String) extends Atom
    case class AFWild(f: String, p: String) extends Atom
    case class ARange(lo: Option[String], hi: Option[String],
        il: Boolean, ih: Boolean) extends Atom
    case class AFRange(f: String, lo: Option[String],
        hi: Option[String], il: Boolean, ih: Boolean) extends Atom
    sealed trait N
    case class NLeaf(i: Int) extends N
    case class NAnd(l: N, r: N) extends N
    case class NOr(l: N, r: N) extends N
    case class NNot(x: N) extends N

    val atoms = mutable.ArrayBuffer.empty[Atom]
    // per-leaf `^boost` multiplier (Lucene: scales score, never the
    // hit set) — part of leaf identity, so `spark^2 OR spark` keeps
    // two leaves
    val boosts = mutable.ArrayBuffer.empty[Double]
    val atomIdx = mutable.HashMap.empty[(Atom, Double), Int]
    val positive = mutable.HashSet.empty[Int]
    def intern(a: Atom, pos: Boolean, boost: Double): N = {
      val i = atomIdx.getOrElseUpdate((a, boost), {
        atoms += a; boosts += boost; atoms.size - 1 })
      if (pos) positive += i
      NLeaf(i)
    }
    def tokensAtom(text: String, what: String, pos: Boolean,
        boost: Double, slop: Int = 0): N =
      SearchIndexes.analyze(text, analyzer) match {
        case Seq() => throw PlanError(
          s"$what '$text' analyzes to no tokens under $analyzer")
        case Seq(one) => intern(ATerm(one), pos, boost)
        case many => intern(APhrase(many, slop), pos, boost)
      }
    def conv(qq: FQ.Q, pos: Boolean, boost: Double = 1.0): N = qq match {
      case FQ.Boost(inner, f) => conv(inner, pos, boost * f)
      case FQ.Term(t) => tokensAtom(t, "query term", pos, boost)
      case FQ.Phrase(p) => tokensAtom(p, "phrase", pos, boost)
      case FQ.Sloppy(p, n) => tokensAtom(p, "phrase", pos, boost, slop = n)
      case FQ.Prefix(p) => SearchIndexes.analyze(p, analyzer) match {
        case Seq(one) => intern(APrefix(one), pos, boost)
        case other => throw PlanError(
          s"prefix '$p*' must analyze to one token, got $other")
      }
      case FQ.Field(f, inner) =>
        if (!d.properties.contains(f)) throw PlanError(
          s"index ${d.name} has no field $f " +
            s"(fields: ${d.properties.mkString(", ")})")
        inner match {
          case FQ.Term(t) => SearchIndexes.analyze(t, analyzer) match {
            case Seq() => throw PlanError(
              s"field term '$t' analyzes to no tokens under $analyzer")
            case Seq(one) => intern(AFTerm(f, one), pos, boost)
            case many => intern(AFPhrase(f, many, 0), pos, boost)
          }
          case FQ.Phrase(p) => SearchIndexes.analyze(p, analyzer) match {
            case Seq() => throw PlanError(
              s"field phrase '$p' analyzes to no tokens under $analyzer")
            case Seq(one) => intern(AFTerm(f, one), pos, boost)
            case many => intern(AFPhrase(f, many, 0), pos, boost)
          }
          case FQ.Sloppy(p, n) =>
            SearchIndexes.analyze(p, analyzer) match {
              case Seq() => throw PlanError(
                s"field phrase '$p' analyzes to no tokens under $analyzer")
              case Seq(one) => intern(AFTerm(f, one), pos, boost)
              case many => intern(AFPhrase(f, many, n), pos, boost)
            }
          case FQ.Prefix(p) => SearchIndexes.analyze(p, analyzer) match {
            case Seq(one) => intern(AFPrefix(f, one), pos, boost)
            case other => throw PlanError(
              s"prefix '$p*' must analyze to one token, got $other")
          }
          case FQ.Fuzzy(t, k) =>
            SearchIndexes.analyze(t, analyzer) match {
              case Seq(one) => intern(AFFuzzy(f, one, k), pos, boost)
              case other => throw PlanError(
                s"fuzzy term '$t~' must analyze to one token, got $other")
            }
          case FQ.Wildcard(w) =>
            intern(AFWild(f, SearchIndexes.normalizeTerm(w, analyzer)),
              pos, boost)
          case FQ.TermRange(lo, hi, il, ih) =>
            intern(AFRange(f,
              lo.map(SearchIndexes.normalizeTerm(_, analyzer)),
              hi.map(SearchIndexes.normalizeTerm(_, analyzer)), il, ih),
              pos, boost)
          case other => throw PlanError(
            s"field scope only takes a term, phrase, or prefix: $other")
        }
      case FQ.Fuzzy(t, k) => SearchIndexes.analyze(t, analyzer) match {
        case Seq(one) => intern(AFuzzy(one, k), pos, boost)
        case other => throw PlanError(
          s"fuzzy term '$t~' must analyze to one token, got $other")
      }
      // wildcard/range terms never pass through the tokenizer
      // (Lucene's rule) — they take analyzer NORMALIZATION only
      case FQ.Wildcard(w) =>
        intern(AWild(SearchIndexes.normalizeTerm(w, analyzer)),
          pos, boost)
      case FQ.TermRange(lo, hi, il, ih) =>
        intern(ARange(lo.map(SearchIndexes.normalizeTerm(_, analyzer)),
          hi.map(SearchIndexes.normalizeTerm(_, analyzer)), il, ih),
          pos, boost)
      case FQ.And(l, r) => NAnd(conv(l, pos, boost), conv(r, pos, boost))
      case FQ.Or(l, r) => NOr(conv(l, pos, boost), conv(r, pos, boost))
      case FQ.Not(x) => NNot(conv(x, !pos, boost))
    }
    val tree = conv(raw, pos = true)
    if (atoms.size > 63)
      throw PlanError("fulltext query too complex (max 63 distinct atoms)")
    def evalEmpty(n: N): Boolean = n match {
      case NLeaf(_) => false
      case NAnd(l, r) => evalEmpty(l) && evalEmpty(r)
      case NOr(l, r) => evalEmpty(l) || evalEmpty(r)
      case NNot(x) => !evalEmpty(x)
    }
    if (evalEmpty(tree)) throw PlanError(
      "pure-negative fulltext queries are not supported (the query " +
        "would match documents containing none of its terms)")

    val allTerms = atoms.flatMap {
      case ATerm(t) => Seq(t)
      case APhrase(ts, _) => ts
      case AFTerm(_, t) => Seq(t)
      case AFPhrase(_, ts, _) => ts
      case APrefix(_) | AFPrefix(_, _) | AFuzzy(_, _)
         | AFFuzzy(_, _, _) | AWild(_) | AFWild(_, _)
         | ARange(_, _, _, _) | AFRange(_, _, _, _, _) => Nil
    }.distinct.toSeq
    val prefixes = atoms.collect {
      case APrefix(p) => p
      case AFPrefix(_, p) => p
    }.toSeq
    val fuzzies = atoms.collect {
      case AFuzzy(t, k) => (t, k)
      case AFFuzzy(_, t, k) => (t, k) }.toSeq
    val wilds = atoms.collect {
      case AWild(w) => w
      case AFWild(_, w) => w }.toSeq
    val ranges = atoms.collect {
      case ARange(lo, hi, il, ih) => (lo, hi, il, ih)
      case AFRange(_, lo, hi, il, ih) => (lo, hi, il, ih) }.toSeq
    def fuzzyCond(t: String, k: Int): Column =
      abs(length(col("term")) - lit(t.length)) <= k &&
        levenshtein(col("term"), lit(t)) <= k
    // wildcard pattern → anchored regex (`*` any run, `?` one char,
    // everything else literal)
    def wildRegex(p: String): String =
      "^" + p.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()<>+-=!^$|".indexOf(c) >= 0 => "\\" + c
        case c => c.toString
      } + "$"
    def rangeCondOn(x: Column, lo: Option[String], hi: Option[String],
        il: Boolean, ih: Boolean): Column =
      (lo.map(l => if (il) x >= l else x > l).toSeq ++
        hi.map(h => if (ih) x <= h else x < h))
        .reduceOption(_ && _).getOrElse(x.isNotNull)
    def rangeCond(r: (Option[String], Option[String], Boolean, Boolean))
        : Column = rangeCondOn(col("term"), r._1, r._2, r._3, r._4)
    val termCond = (
      (if (allTerms.nonEmpty) Seq(col("term").isin(allTerms: _*)) else Nil)
        ++ prefixes.map(p => col("term").startsWith(p))
        ++ fuzzies.map { case (t, k) => fuzzyCond(t, k) }
        ++ wilds.map(w => col("term").rlike(wildRegex(w)))
        ++ ranges.map(rangeCond))
      .reduce(_ || _)

    val (toksRaw, statsDf, statsFDf) =
      if (indexReady) {
        // query-term-first: manifest keys prune to the terms' buckets
        // + the one stats row; no corpus scan, no corpus shuffle —
        // the per-term groupBy below runs on posting rows. A prefix,
        // fuzzy, wildcard or range atom expands against the
        // VOCABULARY-sized sect=d dictionary to its matching terms'
        // buckets (reading the dictionary, never the postings)
        val expanding = prefixes.nonEmpty || fuzzies.nonEmpty ||
          wilds.nonEmpty || ranges.nonEmpty
        val keep: String => Boolean =
          if (!expanding) store.ftProbeKeys(allTerms)
          else {
            val base = store.ftProbeKeys(allTerms)
            val dictCond = (wilds.map(w =>
              col("term").rlike(wildRegex(w))) ++ ranges.map(rangeCond))
              .reduceOption(_ || _)
            val pb = store.ftPrefixBuckets(d, prefixes) ++
              store.ftFuzzyBuckets(d, fuzzies) ++
              dictCond.map(store.ftDictBuckets(d, _))
                .getOrElse(Set.empty[Int])
            (k: String) => base(k) ||
              pb.exists(b => k == s"sect=t/bucket=$b")
          }
        val idx = store.readSearchIndex(d, keep)
        val st = idx.filter(col("sect") === "s")
        (idx.filter(col("sect") === "t" && termCond),
          st.filter(col("gid") === "__stats")
            .select(col("tf").as("n_docs"), col("dl").as("sum_dl")),
          st.filter(col("gid").startsWith("__stats:"))
            .select(col("fld"), col("tf").as("fn_docs"),
              col("dl").as("fsum_dl")))
      } else {
        // unindexed overlay fallback: the same per-field rows,
        // tokenized fresh from the statement's view; the global stats
        // tally the same clean token counts tokenRowsF stores
        // (Σ dlt == the concatenated Σ dl)
        val fdocs =
          if (d.entity == "RELATIONSHIP")
            SearchIndexes.edgeFieldDocs(edgesInView, d)
          else SearchIndexes.fieldDocs(nodesInView, d)
        val allT = SearchIndexes.tokenRowsF(
          fdocs, d.properties, corpusAnalyzer)
        (allT.filter(termCond),
          fdocs.agg(count(lit(1)).as("n_docs"),
            sum(SearchIndexes.docLength(col("fs"), corpusAnalyzer))
              .cast("long").as("sum_dl")),
          SearchIndexes.fieldStatsRows(allT)
            .select(col("fld"), col("tf").as("fn_docs"),
              col("dl").as("fsum_dl")))
      }
    val needF = atoms.exists {
      case AFTerm(_, _) | AFPrefix(_, _) | AFPhrase(_, _, _)
         | AFFuzzy(_, _, _) | AFWild(_, _)
         | AFRange(_, _, _, _, _) => true
      case _ => false
    }
    // multi-atom trees (and mixed scoped/unscoped queries, which
    // derive BOTH the concatenated and the per-field view) re-read
    // the pruned posting rows once per consumer otherwise; the
    // checkpoint caps that at one pipeline evaluation. Index-backed
    // reads only — the overlay fallback may be a folded local plan,
    // and an RDD leaf would un-fold every later statement
    val toksK =
      if (indexReady && (atoms.size > 1 || needF))
        toksRaw.localCheckpoint()
      else toksRaw
    // the concatenated-document view every unscoped atom scores
    // against: per-field rows aggregate back BIT-EXACTLY to one row
    // per (term, gid) of the whole document (tf = Σ field tf, dl =
    // the total document length dlt, pos = field-local positions +
    // the field's offset) — so phrases may span field boundaries
    val toks = toksK.groupBy(col("term"), col("gid"))
      .agg(sum(col("tf")).as("tf"), max(col("dlt")).as("dl"),
        sort_array(flatten(collect_list(
          transform(col("pos"), x => x + col("off").cast("int")))))
          .as("pos"))
    // BM25 (k1=1.2, b=0.75) — the t_bm25 kernel over the postings,
    // kept per (term, gid) so every atom shares it
    val dfreq = toks.groupBy(col("term"))
      .agg(count_distinct(col("gid")).as("dfreq"))
    val contrib = toks.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(statsDf))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf", log(lit(1.0) +
        ((col("n_docs") - col("dfreq")).cast("double") + 0.5) /
          (col("dfreq").cast("double") + 0.5)))
      .withColumn("contrib", col("idf") *
        (col("tf").cast("double") * 2.2) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) *
            (col("dl").cast("double") / col("avgdl")))))
      .select(col("term"), col("gid"), col("contrib"), col("pos"))
    // PER-FIELD BM25 contributions (Lucene's BM25F): the field's own
    // tf and dl against the field's own collection statistics
    // (docCount, Σdl) and per-field df — field-scoped leaves score
    // and positionally verify on these rows alone
    lazy val contribF: DataFrame = {
      val dfreqF = toksK.groupBy(col("term"), col("fld"))
        .agg(count_distinct(col("gid")).as("dfreq"))
      toksK.join(broadcast(dfreqF), Seq("term", "fld"))
        .join(broadcast(statsFDf), Seq("fld"))
        .withColumn("avgdl",
          col("fsum_dl").cast("double") / col("fn_docs"))
        .withColumn("idf", log(lit(1.0) +
          ((col("fn_docs") - col("dfreq")).cast("double") + 0.5) /
            (col("dfreq").cast("double") + 0.5)))
        .withColumn("contrib", col("idf") *
          (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl")))))
        .select(col("fld"), col("term"), col("gid"), col("contrib"),
          col("pos"))
    }

    def isPureOr(n: N): Boolean = n match {
      case NLeaf(_) => true
      case NOr(l, r) => isPureOr(l) && isPureOr(r)
      case _ => false
    }
    // the common query shape — OR of plain unboosted terms — stays
    // the original one-aggregation plan (the cypher_fulltext shape)
    if (atoms.forall(_.isInstanceOf[ATerm]) && isPureOr(tree) &&
        boosts.forall(_ == 1.0))
      return contrib.groupBy(col("gid"))
        .agg(sum(col("contrib")).as("score"))

    // pure-index positional phrase/slop evaluation over a
    // (term, gid, contrib, pos) frame with ONE row per (term, gid) —
    // the concatenated contributions, or one field's slice of the
    // per-field contributions (positions field-local there, so a
    // field-scoped phrase can never match across a field boundary,
    // as in Lucene). Candidates are conjunctive (bounded by the
    // rarest term's postings); adjusted position sets A_i =
    // pos(t_i) − i: slop 0 matches on a common adjusted position
    // (contiguity), slop n on a width-n window, anchored at some
    // adjusted position, that intersects every A_i (Lucene proximity
    // — a reversed bigram needs slop 2, as in Lucene). Slop matches
    // weight by 1/(1 + wmin) where wmin is the narrowest window
    // width in [0, slop] that still works — an exact phrase keeps
    // full weight, a stretched/reversed match decays.
    def posPhraseHits(src: DataFrame, ts: Seq[String],
        slop: Int): DataFrame = {
      val dts = ts.distinct
      val cand = src.filter(col("term").isin(dts: _*))
        .groupBy(col("gid"))
        .agg(count_distinct(col("term")).as("nt"),
          sum(col("contrib")).as("s"),
          map_from_entries(
            collect_list(struct(col("term"), col("pos")))).as("pm"))
        .filter(col("nt") === dts.size)
      val as = ts.zipWithIndex.map { case (t, i) =>
        transform(element_at(col("pm"), lit(t)), x => x - i) }
      def okW(w: Int): Column =
        if (w == 0) size(as.reduce((a, b) => array_intersect(a, b))) > 0
        else exists(flatten(array(as: _*)), a =>
          as.map(ai => exists(ai, x => x >= a && x <= a + w))
            .reduce(_ && _))
      if (slop == 0) cand.filter(okW(0)).select(col("gid"), col("s"))
      else {
        val wmin = coalesce(
          ((0 until slop).map(w => when(okW(w), lit(w.toDouble))) :+
            lit(slop.toDouble)): _*)
        cand.filter(okW(slop)).select(col("gid"),
          (col("s") / (lit(1.0) + wmin)).as("s"))
      }
    }
    def leafHits(a: Atom): DataFrame = a match {
      case ATerm(t) =>
        contrib.filter(col("term") === t).groupBy(col("gid"))
          .agg(sum(col("contrib")).as("s"))
      case APrefix(p) =>
        contrib.filter(col("term").startsWith(p)).groupBy(col("gid"))
          .agg(sum(col("contrib")).as("s"))
      case AFuzzy(t, k) =>
        // Lucene's fuzzy similarity: a matched term's contribution
        // weights by 1 − edits/|queryTerm| (the exact term keeps
        // weight 1) — pure arithmetic over postings already read
        contrib.filter(fuzzyCond(t, k)).groupBy(col("gid"))
          .agg(sum(col("contrib") * greatest(lit(0.0),
            lit(1.0) - levenshtein(col("term"), lit(t)).cast("double") /
              lit(t.length.toDouble))).as("s"))
      // wildcard/range: every matched term contributes its full BM25
      // weight (the prefix model — Lucene's multi-term rewrite)
      case AWild(w) =>
        contrib.filter(col("term").rlike(wildRegex(w)))
          .groupBy(col("gid")).agg(sum(col("contrib")).as("s"))
      case ARange(lo, hi, il, ih) =>
        contrib.filter(rangeCondOn(col("term"), lo, hi, il, ih))
          .groupBy(col("gid")).agg(sum(col("contrib")).as("s"))
      case APhrase(ts, slop) =>
        // pure index read: candidates AND phrase/slop verification
        // both come from the POSITIONAL postings — the stored text is
        // never touched (Lucene's positional evaluation)
        posPhraseHits(contrib, ts, slop)
      // field-scoped leaves: pure index reads scoring the field's own
      // BM25 off the per-field contributions
      case AFWild(f, w) =>
        contribF.filter(col("fld") === f &&
          col("term").rlike(wildRegex(w)))
          .groupBy(col("gid")).agg(sum(col("contrib")).as("s"))
      case AFRange(f, lo, hi, il, ih) =>
        contribF.filter(col("fld") === f &&
          rangeCondOn(col("term"), lo, hi, il, ih))
          .groupBy(col("gid")).agg(sum(col("contrib")).as("s"))
      case AFTerm(f, t) =>
        contribF.filter(col("fld") === f && col("term") === t)
          .groupBy(col("gid")).agg(sum(col("contrib")).as("s"))
      case AFPrefix(f, p) =>
        contribF.filter(col("fld") === f && col("term").startsWith(p))
          .groupBy(col("gid")).agg(sum(col("contrib")).as("s"))
      case AFFuzzy(f, t, k) =>
        contribF.filter(col("fld") === f && fuzzyCond(t, k))
          .groupBy(col("gid"))
          .agg(sum(col("contrib") * greatest(lit(0.0),
            lit(1.0) - levenshtein(col("term"), lit(t)).cast("double") /
              lit(t.length.toDouble))).as("s"))
      case AFPhrase(f, ts, slop) =>
        posPhraseHits(contribF.filter(col("fld") === f), ts, slop)
    }
    // per-doc matched-atom bitmask + score in ONE aggregation; the
    // boolean tree then evaluates as a codegen'd mask predicate
    val perLeaf = atoms.toSeq.zipWithIndex.map { case (a, i) =>
      leafHits(a).select(col("gid"), lit(1L << i).as("m"),
        (if (positive(i)) col("s") * lit(boosts(i)) else lit(0.0)).as("s"))
    }
    val agg = perLeaf.reduce(_ unionByName _)
      .groupBy(col("gid"))
      .agg(sum(col("m")).as("mask"), sum(col("s")).as("score"))
    def pred(n: N): Column = n match {
      case NLeaf(i) => col("mask").bitwiseAND(lit(1L << i)) =!= lit(0L)
      case NAnd(l, r) => pred(l) && pred(r)
      case NOr(l, r) => pred(l) || pred(r)
      case NNot(x) => !pred(x)
    }
    agg.filter(pred(tree)).select(col("gid"), col("score"))
  }

  private def applyCallProc(c: CallProc): Unit = {
    // the two index procedures yield a NODE (not a value column) —
    // handled apart from the scalar-yield registry below
    c.name.toLowerCase match {
      case "db.index.vector.querynodes" | "db.index.fulltext.querynodes" |
          "db.index.fulltext.queryrelationships" =>
        applyIndexProc(c); return
      case "db.index.vector.queryrelationships" =>
        throw PlanError(
          "db.index.vector.queryRelationships is unsupported: edges " +
            "carry no list-valued properties in this model")
      case _ => ()
    }
    def noArgs(): Unit = if (c.args.nonEmpty)
      throw PlanError(s"${c.name} takes no arguments")
    // one optional integer argument (a literal or an integer param)
    def intArg(what: String, default: Long): Long = c.args match {
      case Seq() => default
      case Seq(Lit(i: Long)) => i
      case Seq(Param(n)) => params.get(n) match {
        case Some(i: Int) => i.toLong
        case Some(i: Long) => i
        case other => throw PlanError(s"$what param $$$n: $other")
      }
      case other => throw PlanError(
        s"$what takes one integer argument, got $other")
    }
    // procedure-argument helpers shared by the legacy index-creation
    // procedures below
    def pStr(e: Ast.Expr, what: String): String = e match {
      case Lit(s: String) => s
      case Param(n) => params.get(n) match {
        case Some(s: String) => s
        case other => throw PlanError(s"$what param $$$n: $other")
      }
      case other => throw PlanError(s"$what needs a string, got $other")
    }
    def pStrList(e: Ast.Expr, what: String): Seq[String] = e match {
      case ListLit(items) => items.map(pStr(_, what))
      case Param(n) => params.get(n) match {
        case Some(xs: Seq[_]) => xs.map(String.valueOf)
        case other => throw PlanError(s"$what param $$$n: $other")
      }
      case other => throw PlanError(s"$what needs a string list, got $other")
    }
    def pLong(e: Ast.Expr, what: String): Long = e match {
      case Lit(i: Long) => i
      case Param(n) => params.get(n) match {
        case Some(i: Int) => i.toLong
        case Some(i: Long) => i
        case other => throw PlanError(s"$what param $$$n: $other")
      }
      case other => throw PlanError(s"$what needs an integer, got $other")
    }
    /** the legacy (Neo4j ≤5.10) index-creation procedures — alive in
      * every ported app older than the DDL forms. Side-effecting:
      * only valid as a standalone leading CALL (Neo4j would run a
      * mid-pipeline procedure per row — a per-row index build is
      * never what anyone means). */
    def requireLeading(): Unit =
      if (df != null) throw PlanError(
        s"${c.name} creates an index — call it as a standalone " +
          "statement, not inside a query pipeline")
    def ackFrame(msg: String): (DataFrame, Seq[String]) =
      (spark.createDataFrame(Seq(Tuple1(msg))).toDF("info"), Seq("info"))

    val (frame, cols): (DataFrame, Seq[String]) = c.name.toLowerCase match {
      case "db.index.vector.createnodeindex" =>
        requireLeading()
        val (nm, label, prop, dims, sim) = c.args match {
          case Seq(a, b, p, d, s0) =>
            (pStr(a, "indexName"), pStr(b, "label"), pStr(p, "property"),
              pLong(d, "vectorDimension"),
              pStr(s0, "vectorSimilarityFunction").toLowerCase)
          case Seq(a, b, p, d) =>
            (pStr(a, "indexName"), pStr(b, "label"), pStr(p, "property"),
              pLong(d, "vectorDimension"), "cosine")
          case other => throw PlanError(
            "db.index.vector.createNodeIndex takes (indexName, label, " +
              s"propertyKey, vectorDimension[, similarityFunction]), got $other")
        }
        if (sim != "cosine" && sim != "euclidean") throw PlanError(
          s"unsupported vector similarity function: $sim")
        if (store.indexDef(nm).isDefined) throw PlanError(
          s"an index named $nm already exists")
        store.buildSearchIndex(graft.store.IndexDef(
          nm, "vector", label, prop, dims = dims.toInt, similarity = sim))
        ackFrame(s"created vector index $nm on :$label($prop)")
      case "db.index.fulltext.createnodeindex" =>
        requireLeading()
        val (nm, labels, props) = c.args match {
          case Seq(a, b, p) => (pStr(a, "indexName"),
            pStrList(b, "labels"), pStrList(p, "propertyKeys"))
          case other => throw PlanError(
            "db.index.fulltext.createNodeIndex takes (indexName, " +
              s"[labels], [propertyKeys]), got $other")
        }
        if (labels.size != 1) throw PlanError(
          "fulltext indexes cover exactly one label here, got " +
            labels.mkString("[", ", ", "]"))
        if (props.isEmpty) throw PlanError("propertyKeys must be non-empty")
        if (store.indexDef(nm).isDefined) throw PlanError(
          s"an index named $nm already exists")
        store.buildSearchIndex(graft.store.IndexDef(
          nm, "fulltext", labels.head, props.mkString(",")))
        ackFrame(
          s"created fulltext index $nm on :${labels.head}" +
            props.mkString("(", ", ", ")"))
      // index lifecycle no-ops: every index here builds SYNCHRONOUSLY
      // inside its DDL's commit, so awaiting is trivially satisfied
      // and resampling has no statistics to refresh — but ported apps
      // call these right after creation, so they must succeed (and
      // db.awaitIndex validates the name, Neo4j's error contract)
      case "db.awaitindex" =>
        val nm = c.args.headOption
          .map(e => pStr(e, "indexName"))
          .getOrElse(throw PlanError("db.awaitIndex takes an index name"))
        val intrinsic = Set("node_gid_bucket", "rel_type_directory",
          "rel_reverse_dst_bucket")
        if (store.indexDef(nm).isEmpty && !intrinsic.contains(nm))
          throw PlanError(s"no such index: $nm")
        ackFrame(s"index $nm is online")
      case "db.awaitindexes" | "db.resampleindex" |
          "db.resampleoutdatedindexes" =>
        ackFrame("indexes build synchronously at DDL time")
      // fulltext indexes here are TRANSACTIONALLY consistent (the
      // posting table rides the same commit as the data), so the
      // eventual-consistency refresh is trivially satisfied — but
      // ported call sites invoke it after bulk loads, so it must
      // succeed rather than error
      case "db.index.fulltext.awaiteventuallyconsistentindexrefresh" =>
        ackFrame("fulltext indexes are transactionally consistent")
      case "db.labels" =>
        noArgs()
        (store.nodes.select(explode(concat(
          when(col("label").isNotNull, array(col("label")))
            .otherwise(array().cast("array<string>")),
          coalesce(col("xlabels"), array().cast("array<string>"))))
          .as("label")).distinct(), Seq("label"))
      case "db.relationshiptypes" =>
        noArgs()
        (store.edges.select(col("relType").as("relationshipType"))
          .distinct(), Seq("relationshipType"))
      case "db.propertykeys" =>
        noArgs()
        (store.nodes
          .select(explode(map_keys(col("props"))).as("propertyKey"))
          .distinct(), Seq("propertyKey"))
      // graph-analytics procedures (the gds.* analog): the GraphX
      // bridge runs over the store snapshot and the result joins back
      // by gid — deterministic integer arithmetic throughout
      // (pageRankMicro), so every yield is oracle-able
      // tiny stores take the driver-local twins (bit-equal integer
      // arithmetic, AnalyticsSpec-pinned): a 25-node interactive graph
      // pays zero Spark jobs instead of GraphX's per-iteration RDD
      // materializations; past isTiny the distributed path is untouched
      case "graft.pagerank" =>
        val iters = intArg("graft.pageRank", 10L)
        if (iters < 1 || iters > 100)
          throw PlanError(s"graft.pageRank iterations out of [1,100]: $iters")
        val pr = if (store.isTiny)
          graft.ops.GraphAnalytics
            .pageRankMicroLocal(spark, store.nodes, store.edges, iters.toInt)
        else graft.ops.GraphAnalytics
          .pageRankMicro(spark, store.nodes, store.edges, iters.toInt)
        (pr.withColumnRenamed("rank_micro", "rankMicro"),
          Seq("gid", "rankMicro"))
      case "graft.connectedcomponents" =>
        noArgs()
        (if (store.isTiny)
          graft.ops.GraphAnalytics
            .connectedComponentsLocal(spark, store.nodes, store.edges)
        else graft.ops.GraphAnalytics
          .connectedComponents(spark, store.nodes, store.edges),
          Seq("gid", "component"))
      case "graft.degrees" =>
        noArgs()
        ((if (store.isTiny)
          graft.ops.GraphAnalytics.degreesLocal(spark, store.nodes, store.edges)
        else graft.ops.GraphAnalytics.degrees(spark, store.nodes, store.edges))
          .withColumnRenamed("out_degree", "outDegree")
          .withColumnRenamed("in_degree", "inDegree"),
          Seq("gid", "outDegree", "inDegree"))
      // multi-hop reachability: every node within maxHops (directed)
      // of the source — the Pregel BFS behind gx_reachable, exposed
      // as a procedure. Args: source gid (string), max hops (int).
      case "graft.reachable" =>
        val (src, hops) = c.args match {
          case Seq(a, b) =>
            val s0 = a match {
              case Lit(s0: String) => s0
              case Param(n) => params.get(n) match {
                case Some(s0: String) => s0
                case other => throw PlanError(
                  s"graft.reachable source param $$$n: $other")
              }
              case other => throw PlanError(
                s"graft.reachable needs a string source gid, got $other")
            }
            val h = b match {
              case Lit(i: Long) => i
              case Param(n) => params.get(n) match {
                case Some(i: Int) => i.toLong
                case Some(i: Long) => i
                case other => throw PlanError(
                  s"graft.reachable hops param $$$n: $other")
              }
              case other => throw PlanError(
                s"graft.reachable needs an integer hop count, got $other")
            }
            (s0, h)
          case other => throw PlanError(
            s"graft.reachable takes (sourceGid, maxHops), got $other")
        }
        if (hops < 1 || hops > 20)
          throw PlanError(s"graft.reachable hops out of [1,20]: $hops")
        // same isTiny twin gate as pageRank/degrees/cc above: a tiny
        // store's BFS pays zero Spark jobs instead of GraphX's
        // per-superstep RDD materializations; past the gate the
        // distributed Pregel path is untouched
        (if (store.isTiny)
          graft.ops.GraphAnalytics.reachableWithinLocal(spark, store.nodes,
            store.edges, Set(src), hops.toInt)
        else graft.ops.GraphAnalytics.reachableWithin(spark, store.nodes,
          store.edges, Set(src), hops.toInt),
          Seq("gid", "hops"))
      // store statistics: per-label node counts + per-relType edge
      // counts (the db.stats / apoc.meta.stats shape) — two partial-
      // aggregated counts over the snapshot, nothing driver-side
      case "graft.stats" =>
        noArgs()
        // served from the commit-maintained count store (zero scan
        // jobs) whenever the sidecar is current; an open session with
        // uncommitted writes — or a pre-counts pointer — falls back
        // to the two partial-aggregated scans
        def statRows(tbl: String, partCol: String, kind: String,
            nullName: String): Option[Seq[(String, String, Long)]] =
          store.partitionCounts(tbl).map(_.toSeq
            .map { case (k, n) =>
              val dir = k.takeWhile(_ != '/').stripPrefix(partCol + "=")
              (graft.store.GraphStore.partDirValue(dir)
                .getOrElse(nullName), n)
            }
            .groupMapReduce(_._1)(_._2)(_ + _)
            .toSeq.map { case (name, n) => (kind, name, n) })
        val fast: Option[DataFrame] =
          if (store.session.nonEmpty) None
          else for {
            ns <- statRows("nodes", "label", "nodes", "<unlabeled>")
            es <- statRows("edges", "relType", "relationships", "")
          } yield spark.createDataFrame(ns ++ es)
            .toDF("kind", "name", "n")
        val out = fast.getOrElse {
          val nodeStats = store.nodes
            .groupBy(coalesce(col("label"), lit("<unlabeled>")).as("name"))
            .agg(count(lit(1)).as("n"))
            .withColumn("kind", lit("nodes"))
          val edgeStats = store.edges
            .groupBy(col("relType").as("name"))
            .agg(count(lit(1)).as("n"))
            .withColumn("kind", lit("relationships"))
          nodeStats.unionByName(edgeStats).select("kind", "name", "n")
        }
        (out, Seq("kind", "name", "n"))
      // schema introspection (Neo4j db.schema.*): per (label, key) the
      // observed value types — the typed property slots ARE the type
      // witness — plus mandatory = every node/rel of that label has
      // the key. Two partial-aggregated scans, nothing driver-side.
      case "db.schema.nodetypeproperties" =>
        noArgs()
        val lbl = coalesce(col("label"), lit("<unlabeled>"))
        val totals = store.nodes.groupBy(lbl.as("lbl"))
          .agg(count(lit(1)).as("n_nodes"))
        val perKey = store.nodes
          .select(lbl.as("lbl"),
            explode(col("props")).as(Seq("propertyName", "pv")))
          .select(col("lbl"), col("propertyName"),
            when(col("pv.s").isNotNull, "String")
              .when(col("pv.l").isNotNull, "Long")
              .when(col("pv.d").isNotNull, "Double")
              .when(col("pv.b").isNotNull, "Boolean").as("ptype"))
          .groupBy(col("lbl"), col("propertyName"))
          .agg(sort_array(collect_set(col("ptype"))).as("propertyTypes"),
            count(lit(1)).as("n_with"))
        (perKey.join(totals, "lbl")
          .select(concat(lit(":"), col("lbl")).as("nodeType"),
            array(col("lbl")).as("nodeLabels"), col("propertyName"),
            col("propertyTypes"),
            (col("n_with") === col("n_nodes")).as("mandatory")),
          Seq("nodeType", "nodeLabels", "propertyName", "propertyTypes",
            "mandatory"))
      case "db.schema.reltypeproperties" =>
        noArgs()
        // the edge model carries exactly two properties
        // (neo4j.go:120-122): source (nullable) and type (= relType)
        val byType = store.edges.groupBy(col("relType").as("rt"))
          .agg(count(lit(1)).as("n"), count(col("source")).as("n_src"))
        val srcRows = byType.filter(col("n_src") > 0)
          .select(concat(lit(":"), col("rt")).as("relType"),
            lit("source").as("propertyName"),
            array(lit("String")).as("propertyTypes"),
            (col("n_src") === col("n")).as("mandatory"))
        val typRows = byType
          .select(concat(lit(":"), col("rt")).as("relType"),
            lit("type").as("propertyName"),
            array(lit("String")).as("propertyTypes"),
            lit(true).as("mandatory"))
        (srcRows.unionByName(typRows),
          Seq("relType", "propertyName", "propertyTypes", "mandatory"))
      // the procedure registry itself (the CALL dbms.procedures()
      // shape SHOW PROCEDURES replaced) — a static local relation
      case "dbms.procedures" =>
        noArgs()
        val procs = Seq(
          ("db.labels", "db.labels() :: (label)"),
          ("db.relationshipTypes",
            "db.relationshipTypes() :: (relationshipType)"),
          ("db.propertyKeys", "db.propertyKeys() :: (propertyKey)"),
          ("db.schema.nodeTypeProperties",
            "db.schema.nodeTypeProperties() :: (nodeType, nodeLabels, propertyName, propertyTypes, mandatory)"),
          ("db.schema.relTypeProperties",
            "db.schema.relTypeProperties() :: (relType, propertyName, propertyTypes, mandatory)"),
          ("dbms.procedures", "dbms.procedures() :: (name, signature)"),
          ("graft.pageRank", "graft.pageRank(iters :: INTEGER?) :: (gid, rankMicro)"),
          ("graft.connectedComponents",
            "graft.connectedComponents() :: (gid, component)"),
          ("graft.degrees", "graft.degrees() :: (gid, outDegree, inDegree)"),
          ("graft.reachable",
            "graft.reachable(sourceGid :: STRING, maxHops :: INTEGER) :: (gid, hops)"),
          ("graft.stats", "graft.stats() :: (kind, name, n)"),
          ("db.index.vector.queryNodes",
            "db.index.vector.queryNodes(indexName :: STRING, " +
              "numberOfNearestNeighbours :: INTEGER, query :: LIST<FLOAT>" +
              "[, options :: {filter: MAP}]) " +
              ":: (node, score)"),
          ("db.index.fulltext.queryNodes",
            "db.index.fulltext.queryNodes(indexName :: STRING, " +
              "queryString :: STRING) :: (node, score)"))
        (spark.createDataFrame(procs).toDF("name", "signature"),
          Seq("name", "signature"))
      // the function registry (the CALL dbms.functions() shape SHOW
      // FUNCTIONS replaced) — static, lists the implemented surface
      case "dbms.functions" =>
        noArgs()
        def f(cat: String, names: String*) = names.map((_, cat))
        val fns =
          f("scalar", "coalesce", "head", "last", "tail", "size",
            "length", "id", "elementId", "type", "labels", "keys",
            "properties", "startNode", "endNode", "timestamp",
            "randomUUID", "rand", "valueType", "nullIf", "isEmpty") ++
          f("string", "toString", "toUpper", "toLower", "upper", "lower",
            "trim", "btrim", "ltrim", "rtrim", "normalize", "reverse",
            "replace", "split", "left", "right", "substring",
            "char_length", "character_length") ++
          f("numeric", "abs", "sign", "round", "ceil", "floor", "sqrt",
            "exp", "log", "log10", "sin", "cos", "tan", "asin", "acos",
            "atan", "atan2", "pi", "e", "degrees", "radians", "isNaN") ++
          f("conversion", "toInteger", "toFloat", "toBoolean",
            "toIntegerOrNull", "toFloatOrNull", "toBooleanOrNull",
            "toStringOrNull", "toIntegerList", "toFloatList",
            "toBooleanList", "toStringList") ++
          f("temporal", "date", "datetime", "localdatetime", "time",
            "localtime", "duration", "duration.between", "date.truncate",
            "datetime.truncate") ++
          f("list", "range", "nodes", "relationships", "reduce") ++
          f("spatial", "point", "point.distance", "point.withinBBox",
            "distance") ++
          f("vector", "vector.similarity.cosine",
            "vector.similarity.euclidean") ++
          f("aggregating", "count", "sum", "avg", "min", "max",
            "collect", "stDev", "stDevP", "percentileCont",
            "percentileDisc")
        (spark.createDataFrame(fns.sortBy(_._1)).toDF("name", "category"),
          Seq("name", "category"))
      // the store's intrinsic indexes (SHOW INDEXES): gid-hash
      // bucket + sort on nodes (A13), relType-major directories and
      // the reverse-edge dst-bucket index on relationships
      case "db.indexes" =>
        noArgs()
        // "exists" constraints carry no table — not an index; unique
        // constraints DO list (their backing px table is a real
        // index, as in Neo4j)
        val declared = store.indexDefs
          .filterNot(_.kind == "constraint").sortBy(_.name).map { d =>
          val typ = d.kind match {
            case "property" if d.zorder => "POINT"
            case "property" => "RANGE" // Neo4j's default index type
            case k => k.toUpperCase
          }
          val provider = d.kind match {
            case "vector" => "vector-2.0"
            case "fulltext" => "fulltext-1.0"
            case "property" if d.zorder => "point-1.0"
            case _ => "range-1.0"
          }
          (d.name, typ, d.entity,
            s"${d.label}.${d.property}",
            if (d.kind == "vector" && d.centroids.isEmpty) "POPULATING"
            else "ONLINE",
            d.label, provider, 100.0)
        }
        val rows = Seq(
          ("node_gid_bucket", "RANGE", "NODE", "gid", "ONLINE",
            "*", "range-1.0", 100.0),
          ("rel_type_directory", "LOOKUP", "RELATIONSHIP", "relType",
            "ONLINE", "*", "token-lookup-1.0", 100.0),
          ("rel_reverse_dst_bucket", "LOOKUP", "RELATIONSHIP", "dst",
            "ONLINE", "*", "token-lookup-1.0", 100.0)) ++ declared
        val cols = Seq("name", "type", "entityType", "properties",
          "state", "labelsOrTypes", "indexProvider",
          "populationPercent")
        (spark.createDataFrame(rows).toDF(cols: _*), cols)
      // the store's intrinsic constraints (SHOW CONSTRAINTS): gid is
      // the node key on EVERY label — the merge path upserts by gid,
      // so uniqueness and existence hold by construction, exactly
      // what Neo4j's UNIQUE + NOT NULL pair declares
      case "db.constraints" =>
        noArgs()
        val declared = store.indexDefs.filter(_.constraint.nonEmpty)
          .sortBy(_.name).map { d =>
            val typ = d.constraint match {
              case "unique" => "UNIQUENESS"
              case "nodekey" => "NODE_KEY"
              case t if t.startsWith("type:") => "NODE_PROPERTY_TYPE"
              case _ if d.entity == "RELATIONSHIP" =>
                "RELATIONSHIP_PROPERTY_EXISTENCE"
              case _ => "NODE_PROPERTY_EXISTENCE"
            }
            (d.name, typ, d.entity, d.label, d.property)
          }
        val rows = Seq(
          ("node_gid_unique", "UNIQUENESS", "NODE", "*", "gid"),
          ("node_gid_exists", "NODE_PROPERTY_EXISTENCE", "NODE", "*",
            "gid")) ++ declared
        (spark.createDataFrame(rows)
          .toDF("name", "type", "entityType", "labelsOrTypes",
            "properties"),
          Seq("name", "type", "entityType", "labelsOrTypes",
            "properties"))
      // single-database deployment: the store IS the database
      case "dbms.databases" =>
        noArgs()
        (spark.createDataFrame(Seq(("graft", "online")))
          .toDF("name", "currentStatus"), Seq("name", "currentStatus"))
      case other => throw PlanError(s"unknown procedure $other")
    }
    // YIELD picks (and may alias) a subset; a bare CALL binds every
    // column under its own name (Neo4j standalone-CALL behavior)
    val binds: Seq[(String, String)] =
      if (c.yields.isEmpty) cols.map(n => (n, n))
      else c.yields.map { case (n, alias) =>
        if (!cols.contains(n)) throw PlanError(
          s"${c.name} yields ${cols.mkString(", ")}, got $n")
        (n, alias.getOrElse(n))
      }
    binds.foreach { case (_, b) =>
      if (env.contains(b)) throw PlanError(s"variable $b already bound")
    }
    val f = frame.select(binds.map { case (n, b) =>
      col(n).as(s"${b}__value") }: _*)
    df = if (df == null) f else df.crossJoin(f)
    binds.foreach { case (_, b) => env += b -> ValueVar(s"${b}__value") }
    c.where.foreach(applyWhere)
  }

  /** `LOAD CSV` → a Spark csv scan (header-aware, no inference — all
    * strings, the Neo4j contract). The row binds like an UNWIND value:
    * map<string,string> with headers (`row.key` via map subscript),
    * array<string> without (`row[0]`). A leading LOAD CSV seeds the
    * frame; after other clauses it cross-joins per row (Neo4j
    * semantics: the csv rows multiply the incoming rows).
    */
  private def applyLoadCsv(l: LoadCsvClause): Unit = {
    val path = l.url match {
      case Lit(s: String) => s
      case Param(n) => params.get(n) match {
        case Some(s: String) => s
        case other => throw PlanError(s"LOAD CSV URL param $$$n: $other")
      }
      case other => throw PlanError(
        s"LOAD CSV needs a literal or parameter URL, got $other")
    }
    if (path.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*") &&
        !path.startsWith("file://"))
      throw PlanError(s"LOAD CSV supports file:// URLs (or bare local " +
        s"paths) only, got $path")
    val local = path.stripPrefix("file://")
    var reader = spark.read
      .option("header", l.withHeaders.toString)
      .option("inferSchema", "false")
    l.sep.foreach(s => reader = reader.option("sep", s))
    val csv = reader.csv(local)
    val colName = s"${l.alias}__value"
    val rowCol =
      if (l.withHeaders)
        map_from_arrays(
          array(csv.columns.map(lit(_)): _*),
          array(csv.columns.map(csv(_)): _*))
      else array(csv.columns.map(csv(_)): _*)
    val bound = csv.select(rowCol.as(colName))
    df = if (df == null) bound else df.crossJoin(bound)
    env += l.alias -> ValueVar(colName)
  }

  private def applyUnwind(u: UnwindClause): Unit = {
    if (df == null) df = seedRow("__seed" -> 1L)
    // UNWIND over a property: the list slot unwinds element-wise, a
    // scalar slot is a single row (Neo4j UNWIND-scalar semantics)
    val c0 = pvOf(u.expr) match {
      case Some(pv) =>
        when(pv.getField("a").isNotNull, pv.getField("a"))
          .otherwise(when(pvStrOf(pv).isNotNull, array(pvStrOf(pv))))
      case None => valueCol(u.expr)
    }
    // UNWIND null produces zero rows (Neo4j) — a typed null array
    // explodes to nothing, where explode(NULL literal) won't analyze
    val c = colTypeOpt(c0) match {
      case Some(org.apache.spark.sql.types.NullType) =>
        c0.cast("array<string>")
      case _ => c0
    }
    val colName = s"${u.alias}__value"
    df = df.select(df.columns.map(col) :+ explode(c).as(colName): _*)
      .drop("__seed")
    env += u.alias -> ValueVar(colName)
  }

  private def applyWith(w: WithClause): Unit = {
    // leading `WITH 1 AS x …` projects from one imaginary row
    if (df == null) df = seedRow()
    // WITH * carries every binding through; COUNT{}/EXISTS{} items
    // land their correlated joins before the projection, and endpoint
    // property reads join their node (alias pinned to the pre-rewrite
    // name so downstream references still resolve)
    val wi = rewriteSubqueryItems(expandStar(w.items))
      .map(i => i.copy(expr = resolveEndpointProps(i.expr),
        alias = Some(i.name)))
    val hasAgg = wi.exists(i => containsAgg(i.expr))
    val newEnv = scala.collection.mutable.Map.empty[String, VarKind]

    if (!hasAgg) {
      val cols = Seq.newBuilder[Column]
      wi.foreach { i =>
        i.expr match {
          case VarRef(n) if env.get(n).contains(NodeVar) =>
            val out = i.alias.getOrElse(n)
            cols ++= Seq(col(s"${n}__gid").as(s"${out}__gid"),
              col(s"${n}__label").as(s"${out}__label"),
              col(s"${n}__source").as(s"${out}__source"),
              col(s"${n}__props").as(s"${out}__props"),
              col(s"${n}__xlabels").as(s"${out}__xlabels"))
            newEnv += out -> NodeVar
          case VarRef(r) if env.get(r).contains(RelVar) =>
            val out = i.alias.getOrElse(r)
            cols ++= Seq(col(s"${r}__relType").as(s"${out}__relType"),
              col(s"${r}__source").as(s"${out}__source"))
            newEnv += out -> RelVar
          case other =>
            val out = i.name
            cols += valueCol(other).as(s"${out}__value")
            newEnv += out -> ValueVar(s"${out}__value")
        }
      }
      // hidden ORDER BY key columns ride through a plain projection —
      // the order they witness is still in effect for a later collect
      df = df.select(cols.result() ++ pendingOrder.map(p => col(p._1)): _*)
    } else {
      val keyItems = wi.filter(i => !containsAgg(i.expr))
      val aggItems = wi.filter(i => containsAgg(i.expr))
      val groupCols = Seq.newBuilder[Column]
      val postAggs = Seq.newBuilder[Column]
      keyItems.foreach { i =>
        i.expr match {
          case VarRef(n) if env.get(n).contains(NodeVar) =>
            val out = i.alias.getOrElse(n)
            groupCols ++= Seq(col(s"${n}__gid").as(s"${out}__gid"),
              col(s"${n}__label").as(s"${out}__label"),
              col(s"${n}__source").as(s"${out}__source"))
            postAggs += first(col(s"${n}__props")).as(s"${out}__props")
            postAggs += first(col(s"${n}__xlabels")).as(s"${out}__xlabels")
            newEnv += out -> NodeVar
          case other =>
            val out = i.name
            groupCols += valueCol(other).as(s"${out}__value")
            newEnv += out -> ValueVar(s"${out}__value")
        }
      }
      aggItems.foreach { i =>
        val out = i.name
        aggProjection = true
        try postAggs += aggCol(i.expr).as(s"${out}__value")
        finally aggProjection = false
        newEnv += out -> ValueVar(s"${out}__value")
      }
      val aggs = postAggs.result()
      val keys = groupCols.result()
      df = if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      pendingOrder = Nil // consumed by aggCol; columns gone with the agg
    }
    env = newEnv.toMap
    if (w.distinct) { dropOrd(); df = distinctSafe(df) }
    if (w.orderBy.nonEmpty) {
      dropOrd()
      val resolved = w.orderBy.map { case (e, asc) =>
        // a node variable is a map-bearing struct — not orderable;
        // Cypher orders nodes by identity, so sort on gid
        val c = e match {
          case VarRef(n) if env.get(n).contains(NodeVar) =>
            col(s"${n}__gid")
          case _ => valueCol(e)
        }
        (c, asc)
      }
      pendingOrder = resolved.indices.map(i => (s"__ord_$i", resolved(i)._2))
      resolved.zipWithIndex.foreach { case ((c, _), i) =>
        df = df.withColumn(s"__ord_$i", c)
      }
      df = df.orderBy(pendingOrder.map { case (n, asc) =>
        if (asc) col(n).asc_nulls_last else col(n).desc_nulls_first
      }: _*)
    }
    w.skip.foreach(e => df = df.offset(boundVal(e, "SKIP").toInt))
    w.limit.foreach(e => df = df.limit(boundVal(e, "LIMIT").toInt))
    // openCypher applies a post-WITH WHERE AFTER ORDER BY/SKIP/LIMIT —
    // it filters the windowed rows, it does not re-window the filtered
    w.where.foreach(applyWhere)
  }

  /** distinct with map-bearing columns deduped by identity: a map is
    * not set-op comparable, but a node struct carries its gid — so
    * map-bearing struct columns dedup on their gid field and plain
    * scalar columns on themselves.
    */
  private def distinctSafe(d: DataFrame): DataFrame = {
    if (!d.schema.fields.exists(f => containsMap(f.dataType)))
      return d.distinct()
    val idKeys = d.schema.fields.collect {
      case f if containsMap(f.dataType) => f.dataType match {
        case s: org.apache.spark.sql.types.StructType
            if s.fieldNames.contains("gid") =>
          Some(s"__dd_${f.name}" -> col(quote(f.name)).getField("gid"))
        case _ => None // bare map column: no usable identity
      }
    }.flatten.toSeq
    val scalarKeys = d.schema.fields
      .filter(f => !containsMap(f.dataType)).map(_.name).toSeq
    val allKeys = scalarKeys ++ idKeys.map(_._1)
    if (allKeys.isEmpty) return d
    idKeys.foldLeft(d)((x, k) => x.withColumn(k._1, k._2))
      .dropDuplicates(allKeys)
      .drop(idKeys.map(_._1): _*)
  }

  private def containsMap(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case _: MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => containsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
      case _ => false
    }

  // ---- RETURN ----

  private def projectReturn(items: Seq[ReturnItem]): DataFrame = {
    val hasAgg = items.exists(i => containsAgg(i.expr))
    if (!hasAgg) df.select(items.map(i => valueCol(i.expr).as(i.name)): _*)
    else {
      val keyItems = items.filter(i => !containsAgg(i.expr))
      val aggItems = items.filter(i => containsAgg(i.expr))
      // scalar keys keep their OUTPUT name on the groupBy column, so
      // the final select is unambiguous; only node-variable keys need
      // post-agg reassembly (their props ride through first()).
      val groupCols = keyItems.flatMap { i =>
        i.expr match {
          case VarRef(n) if env.get(n).contains(NodeVar) =>
            Seq(col(s"${n}__gid"), col(s"${n}__label"), col(s"${n}__source"))
          case other => Seq(valueCol(other).as(i.name))
        }
      }
      val aggCols = aggItems.map { i =>
        aggProjection = true
        try aggCol(i.expr).as(i.name) finally aggProjection = false
      } ++
        keyItems.flatMap { i =>
          i.expr match {
            case VarRef(n) if env.get(n).contains(NodeVar) =>
              Seq(struct(
                col(s"${n}__gid").as("gid"), col(s"${n}__label").as("label"),
                col(s"${n}__source").as("source"),
                first(col(s"${n}__props")).as("props")).as(i.name))
            case _ => Seq.empty
          }
        }
      val grouped =
        if (groupCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
        else df.groupBy(groupCols: _*).agg(aggCols.head, aggCols.tail: _*)
      grouped.select(items.map(i => col(quote(i.name))): _*)
    }
  }

  private def quote(name: String): String = s"`$name`"

  private def resolveOrderCol(e: Ast.Expr, items: Seq[Ast.ReturnItem]): Column = {
    val item = items.find(i => i.expr == e || i.alias.contains(Ast.Render.expr(e)))
      .orElse(e match {
        case Ast.VarRef(n) => items.find(_.name == n)
        case _ => None
      })
    val c = item.map(i => col(quote(i.name))).getOrElse {
      e match {
        // an UN-projected dynamic property sorts type-aware: numbers
        // by value before strings/bools (Neo4j ORDER BY), not by the
        // canonical-string view where "9" > "40". Projected items keep
        // their output column's own ordering (what the user sees).
        case p: Ast.PropRef => pvOf(p) match {
          case Some(pv) => pvOrderKey(pv)
          case None => valueCol(e)
        }
        case _ => valueCol(e)
      }
    }
    // a node value is a struct holding a map — not orderable; Cypher
    // node ordering is by identity, so sort on gid. Only applies when
    // the RESOLVED expression is actually a node variable (an alias
    // that shadows a node var name resolves to its own scalar).
    val resolved = item.map(_.expr).getOrElse(e)
    resolved match {
      case Ast.VarRef(n) if env.get(n).contains(NodeVar) => c.getField("gid")
      case _ => c
    }
  }

  /** orderability key for a dynamic property slot: numbers by VALUE
    * before strings/booleans (Neo4j's ORDER BY and min/max rule),
    * never the canonical-string view where "9" > "40"
    */
  private def pvOrderKey(pv: Column): Column = {
    val num = coalesce(pv.getField("l").cast("double"),
      pv.getField("d"))
    struct(
      when(num.isNotNull, lit(0)).otherwise(lit(1)).as("t"),
      num.as("n"), pvStrOf(pv).as("s"))
  }

  private val aggNames = Set("collect", "count", "sum", "avg", "min",
    "max", "stdev", "stdevp", "percentilecont", "percentiledisc")

  private def containsAgg(e: Ast.Expr): Boolean = e match {
    case FuncCall(n, args, _) =>
      aggNames.contains(n) || args.exists(containsAgg)
    case MapLit(es) => es.exists(x => containsAgg(x._2))
    case MapProj(_, es, _) => es.exists(x => containsAgg(x._2))
    case ListLit(es) => es.exists(containsAgg)
    case Cmp(_, l, r) => containsAgg(l) || containsAgg(r)
    case And(l, r) => containsAgg(l) || containsAgg(r)
    case Or(l, r) => containsAgg(l) || containsAgg(r)
    case Not(x) => containsAgg(x)
    case InList(x, xs) => containsAgg(x) || containsAgg(xs)
    case StrPred(_, l, r) => containsAgg(l) || containsAgg(r)
    case CaseExpr(t, ws, e) => t.exists(containsAgg) ||
      ws.exists { case (w, v) => containsAgg(w) || containsAgg(v) } ||
      e.exists(containsAgg)
    case Arith(_, l, r) => containsAgg(l) || containsAgg(r)
    case Subscript(c, i) => containsAgg(c) || containsAgg(i)
    case Slice(c, f, t) =>
      containsAgg(c) || f.exists(containsAgg) || t.exists(containsAgg)
    case ListComp(_, l, w, pr) =>
      containsAgg(l) || w.exists(containsAgg) || pr.exists(containsAgg)
    case Quant(_, _, l, p) => containsAgg(l) || containsAgg(p)
    case ReduceExpr(_, i, _, l, b) =>
      containsAgg(i) || containsAgg(l) || containsAgg(b)
    case _ => false
  }

  /** true while lowering the ARGUMENT of an aggregate function: there
    * references are inputs to the aggregate (Catalyst's grouping
    * check does not apply), so string predicates keep the strict
    * s-slot — one predicate, one semantics, whether it sits in WHERE
    * or inside `count(CASE WHEN n.p STARTS WITH '9' …)`. The
    * rendering form stays ONLY for the outside-the-aggregate parts of
    * an aggregated projection, where an expression must structurally
    * contain a group key (and group keys ARE renderings). */
  private var inAggArg: Boolean = false

  private def aggCol(e: Ast.Expr): Column = e match {
    case FuncCall(n, _, _) if aggNames.contains(n) =>
      val saved = inAggArg
      inAggArg = true
      try aggCol0(e) finally inAggArg = saved
    case other => aggCol0(other)
  }

  /** Supernode contract for collect-class aggregates (SURVEY §7.4):
    * Spark's partial aggregation already two-phases the collect
    * (per-partition partial lists merge at the reducer, so no single
    * task funnels a supernode's raw rows) — but the RESULT array is
    * irreducibly O(group size) and materializes in one task. Past
    * `graft.collect.maxSize` elements (default 4M, session-conf
    * overridable) that array dominates executor memory, so the engine
    * raises a TARGETED error instead of letting the merge task OOM
    * mid-query. Applied to COLLECT / collect() and the pattern-
    * comprehension / COLLECT{} subquery lowerings.
    */
  private def cappedList(arr: Column): Column = {
    val cap = spark.conf.get("graft.collect.maxSize", "4000000").toInt
    when(size(arr) > cap, raise_error(lit(
      s"COLLECT group exceeds graft.collect.maxSize ($cap elements) " +
        "— aggregate with a bounded alternative (count, top-k via " +
        "ORDER BY/LIMIT) or raise graft.collect.maxSize")))
      .otherwise(arr)
  }

  private def aggCol0(e: Ast.Expr): Column = e match {
    case FuncCall("count", Seq(Star), _) => count(lit(1))
    // a node/rel var counts by IDENTITY: an OPTIONAL MATCH miss binds
    // a struct whose fields are all null — the struct itself is NOT
    // null, so counting the raw struct would count misses
    case FuncCall("count", Seq(a), true) => countDistinct(identOr(a))
    case FuncCall("count", Seq(a), false) => count(identOr(a))
    case FuncCall("count", args, _) if args.length != 1 =>
      throw PlanError(s"count takes one argument, got ${args.length}")
    case FuncCall("collect", Seq(a), distinct) =>
      val c = valueCol(a)
      if (pendingOrder.nonEmpty) {
        // an explicit WITH … ORDER BY precedes this aggregation:
        // collect must honor that row order (openCypher), and the
        // shuffle into the groupBy destroys it — so collect the
        // stamped __ord keys alongside each value and re-sort every
        // group's array by them. Distributed per-group work, no
        // global window. DISTINCT keeps the FIRST occurrence in
        // order (array_distinct semantics).
        val fields = pendingOrder.zipWithIndex.map { case ((n, _), i) =>
          col(n).as(s"k$i")
        } :+ c.as("v")
        val dirs = pendingOrder.map(_._2)
        val sorted = array_sort(collect_list(struct(fields: _*)),
          (l, r) => orderCmp(l, r, dirs))
        val xs = transform(sorted, s => s.getField("v"))
        cappedList(if (distinct) array_distinct(xs) else xs)
      } else {
        // no explicit order: Neo4j's order is arbitrary, so a
        // deterministic value-sort is a legitimate choice (and what
        // the DuckDB oracle replays). Map-bearing values (node
        // structs, maps, nested lists of them) are not
        // sort_array-orderable — decide from the actual Spark type,
        // not the AST shape; unorderable collects keep arrival order
        val dt = df.select(c).schema.head.dataType
        val orderable = !containsMap(dt)
        cappedList((distinct, orderable) match {
          case (true, true) => sort_array(collect_set(c))
          case (true, false) =>
            // collect_set can't hash map-bearing values (a node
            // struct carries its props map — probe 16): collect all,
            // then keep each value's FIRST occurrence by identity —
            // gid for graph elements, the JSON rendering otherwise
            val key: Column => Column = dt match {
              case st: org.apache.spark.sql.types.StructType
                  if st.fieldNames.headOption.contains("gid") =>
                y => y.getField("gid")
              case _ => y => to_json(y)
            }
            val l = collect_list(c)
            filter(l, (x, i) =>
              array_position(transform(l, y => key(y)), key(x))
                === (i + 1).cast("long"))
          case (false, true) => sort_array(collect_list(c))
          case (false, false) => collect_list(c)
        })
      }
    case FuncCall("sum", Seq(a), _) =>
      val c = valueCol(a)
      colTypeOpt(c) match {
        // sum of durations aggregates component-wise (Neo4j)
        case Some(s: org.apache.spark.sql.types.StructType)
            if isDurType(s) =>
          durStruct(coalesce(sum(c.getField("months")), lit(0L)),
            coalesce(sum(c.getField("days")), lit(0L)),
            coalesce(sum(c.getField("secs")), lit(0L)))
        // sum over statically-INTEGER input stays INTEGER (Neo4j:
        // sum of integers is an integer); dynamic props keep the
        // double view (their family is only known at runtime).
        // Neo4j: sum over zero values is 0, not null (probe 14)
        case Some(org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.ByteType) =>
          coalesce(sum(c), lit(0L))
        case _ => coalesce(sum(numCol(a)), lit(0.0))
      }
    case FuncCall("avg", Seq(a), _) => avg(numCol(a))
    // min/max over a DYNAMIC property use orderability (numbers by
    // value before strings — probe: canonical strings put "40" < "9")
    // via min_by/max_by on the shared type-aware key; a null VALUE
    // nulls the ordering, which min_by/max_by skip (Neo4j skips
    // nulls in aggregates)
    case FuncCall("min", Seq(a), _) =>
      pvOf(a) match {
        case Some(pv) =>
          min_by(valueCol(a), when(valueCol(a).isNotNull, pvOrderKey(pv)))
        case None => min(valueCol(a))
      }
    case FuncCall("max", Seq(a), _) =>
      pvOf(a) match {
        case Some(pv) =>
          max_by(valueCol(a), when(valueCol(a).isNotNull, pvOrderKey(pv)))
        case None => max(valueCol(a))
      }
    // openCypher statistics aggregates: stDev/stDevP (sample /
    // population), percentileCont (exact linear interpolation —
    // Spark's sort-based percentile, not the approx sketch)
    // Neo4j returns 0.0 (not null) for stDev over 0 or 1 values
    case FuncCall("stdev", Seq(a), _) =>
      coalesce(stddev_samp(numCol(a)), lit(0.0))
    case FuncCall("stdevp", Seq(a), _) =>
      coalesce(stddev_pop(numCol(a)), lit(0.0))
    case FuncCall("percentilecont", Seq(a, q), _) =>
      percentile(numCol(a), valueCol(q).cast("double"))
    // percentileDisc: nearest-rank — an actual value from the set
    // (1-based index ceil(q*n), floor 1 for q=0), keeping the input
    // type (Neo4j returns int for int input, unlike percentileCont)
    case FuncCall("percentiledisc", Seq(a, q), _) => {
      val arr = sort_array(collect_list(valueCol(a)))
      element_at(arr, greatest(lit(1),
        ceil(valueCol(q).cast("double") * size(arr)).cast("int")))
    }
    // expressions OVER aggregates — count(*) * 2, collect(x)[0],
    // floor(sum(x)/count(*)) — lower through valueCol, whose leaves
    // route aggregate calls back here
    case other if containsAgg(other) => valueCol(other)
    case other => throw PlanError(s"unsupported aggregate: $other")
  }

  /** the identity column for node/rel vars (gid / edge key), the
    * plain value otherwise — what count()/count(DISTINCT) aggregate
    */
  private def identOr(e: Ast.Expr): Column = e match {
    case VarRef(n) if env.get(n).contains(NodeVar) => col(s"${n}__gid")
    case VarRef(n) if env.get(n).contains(RelVar) =>
      // null on an OPTIONAL miss (concat_ws alone never nulls);
      // the canonical edge-key separator matches ekey's (gids may
      // legitimately contain '|')
      when(col(s"${n}__src").isNotNull,
        concat_ws("\u0001", col(s"${n}__src"), col(s"${n}__dst"),
          col(s"${n}__relType")))
    case other => valueCol(other)
  }

  private def numCol(e: Ast.Expr): Column = pvOf(e) match {
    // any dynamic value (prop, PV-map item, typed list element):
    // numeric = the long-or-double slot
    case Some(pv) =>
      coalesce(pv.getField("l").cast("double"), pv.getField("d"))
    case None => valueCol(e).cast("double")
  }

  /** the string view of an expression (PV string slot when available) */
  private def strCol(e: Ast.Expr): Column =
    typedProp(e, "s").getOrElse(valueCol(e).cast("string"))

  // ---- expressions ----

  private def valueCol(e: Ast.Expr): Column = e match {
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case Star => throw PlanError("* outside count()")
    case VarRef(n) if lambdaScope.contains(n) => lambdaScope(n)
    case PropRef(v, p) if lambdaScope.contains(v) =>
      lambdaScope(v).getItem(p) // resolves by element type at analysis
    case VarRef(n) => env.get(n) match {
      case Some(NodeVar) => struct(
        col(s"${n}__gid").as("gid"), col(s"${n}__label").as("label"),
        col(s"${n}__source").as("source"), col(s"${n}__props").as("props"))
      case Some(RelVar) => col(s"${n}__relType")
      case Some(ValueVar(c)) => col(c)
      case Some(RelListVar(c)) =>
        // render like relationships(p): the stretch's TYPE list
        transform(col(c), k => element_at(split(k, "\u0001"), 3))
      case Some(PathVar(_, _, _)) =>
        throw PlanError(
          s"path variable $n supports length/nodes/relationships($n)")
      case None => throw PlanError(s"unbound variable: $n")
    }
    case PropRef(v, p) => env.get(v) match {
      case Some(NodeVar) => p match {
        case "gid" => col(s"${v}__gid")
        case "label" => col(s"${v}__label")
        case "source" => col(s"${v}__source")
        case _ => pvStrOf(col(s"${v}__props").getItem(p))
      }
      case Some(RelVar) => p match {
        case "type" | "relType" => col(s"${v}__relType")
        case "source" => col(s"${v}__source")
        // missing properties read as null (Neo4j) — the edge model
        // carries exactly source/type
        case _ => lit(null).cast("string")
      }
      case Some(ValueVar(c)) =>
        // a map-typed item (`UNWIND $items AS item` with map values,
        // neo4j.go:96) surfaces its entries as canonical strings, like
        // node props; a COLLECTED-then-UNWOUND node (its value is the
        // node struct) answers property access like the node variable
        // it came from; temporal values answer their accessors
        // (d.year, dt.epochMillis, dur.days); struct-typed values
        // keep field access
        val ct = colType(col(c))
        ct match {
          case st: org.apache.spark.sql.types.StructType
              if st.fieldNames.length >= 4 && st.fieldNames.take(4)
                .sameElements(Array("gid", "label", "source", "props")) =>
            p match {
              case "gid" | "label" | "source" => col(c).getField(p)
              case _ => pvStrOf(col(c).getField("props").getItem(p))
            }
          case _ if isPvMapType(ct) => pvStrOf(col(c).getItem(p))
          case _ =>
            temporalField(col(c), ct, p).getOrElse(col(c).getField(p))
        }
      case Some(PathVar(_, _, _)) =>
        throw PlanError(s"path variable $v has no properties")
      case None => throw PlanError(s"unbound variable: $v")
    }
    case MapLit(entries) =>
      struct(entries.map { case (k, ex) => valueCol(ex).as(k) }: _*)
    // `n:Label` in expression position — conjunction of membership
    // tests (primary or secondary), same pruning-aware lowering as a
    // MATCH label
    case LabelPred(v, labels) =>
      if (!env.get(v).contains(NodeVar))
        throw PlanError(s"label predicate needs a node variable: $v")
      labels.map(labelMember(v, _)).reduce(_ && _)
    // map projection `n {.name, alias: expr}`: a struct like MapLit
    // (typed entries — the parser already desugared `.k` / bare `x`).
    // The `.*` form needs DYNAMIC keys, so it lowers to a
    // map<string,string> of canonical renderings with explicit
    // entries overriding their property namesakes.
    case MapProj(v, entries, all) =>
      if (!env.contains(v)) throw PlanError(s"unbound variable: $v")
      if (!all) {
        if (entries.isEmpty) throw PlanError("empty map projection")
        struct(entries.map { case (k, ex) => valueCol(ex).as(k) }: _*)
      } else {
        val props = env(v) match {
          case NodeVar => col(s"${v}__props")
          case ValueVar(c) if isPvMapType(colType(col(c))) => col(c)
          case _ => throw PlanError(
            s"$v {.*} needs a node or map value")
        }
        val strMap = transform_values(props, (_, pv) => pvStrOf(pv))
        val keys = entries.map(_._1)
        val base = if (keys.isEmpty) strMap
          else map_filter(strMap, (k, _) => !k.isin(keys: _*))
        if (entries.isEmpty) base
        else map_concat(base, map(entries.flatMap { case (k, ex) =>
          Seq(lit(k), valueCol(ex).cast("string")) }: _*))
      }
    case ListLit(items) if heterogeneousLit(items) =>
      // heterogeneous CONSTANT list ([1, {c: 2}], [[1], 2], maps with
      // different key sets): Spark arrays must unify element types, so
      // these lower to array<VARIANT> — each element JSON-rendered at
      // plan time and parse_json'd; subscripts navigate via
      // variant_get and values render as their JSON text
      array(items.map(e => parse_json(lit(jsonOfLit(e).get))): _*)
    case ListLit(items) =>
      val cols = items.map(valueCol)
      val plain = array(cols: _*)
      // COLUMN-BUILT heterogeneous lists ([n.name, {k: n.age}],
      // [[n.age], n.name]) take the same array<VARIANT> lowering as
      // the literal form: when Spark's array() cannot unify the
      // element types (analysis fails against the current frame),
      // each element casts to VARIANT instead. Coercible mixes
      // (long beside double) keep the plain array.
      if (items.size < 2 || analyzes(plain)) plain
      else array(cols.map(toVariant): _*)
    case Param(n) => params.get(n) match {
      case None => throw PlanError(s"missing parameter: $n")
      // list-of-maps — the reference's `$items` batches (neo4j.go:96)
      case Some(seq: Seq[_])
          if seq.nonEmpty && seq.forall(_.isInstanceOf[Map[_, _]]) =>
        array(seq.map { case m: Map[_, _] => pvMapLit(m) }: _*)
      case Some(seq: Seq[_]) => array(seq.map(v => lit(v)): _*)
      case Some(m: Map[_, _]) => pvMapLit(m)
      case Some(v) => lit(v)
    }
    case CaseExpr(test, whens, els) =>
      // simple form lowers each WHEN through the typed Cmp path (so
      // `CASE n.age WHEN 23 …` matches a stored long); searched form
      // lowers predicates directly
      val branches = whens.map { case (w, v) =>
        val cond = test match {
          case Some(t) => toPredicate(Cmp("=", t, w))
          case None => toPredicate(w)
        }
        (cond, valueCol(v))
      }
      val chained = branches.tail.foldLeft(
        when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }
      els.map(e => chained.otherwise(valueCol(e))).getOrElse(chained)
    case x @ (_: InList | _: StrPred) => toPredicate(x)
    case FuncCall("tostring", Seq(a), _) => typedProp(a, "s")
      .getOrElse(renderString(valueCol(a)))
    // conversions are null-on-malformed in Cypher (toInteger('x') is
    // null) — try_cast, not cast, under Spark's default ANSI mode;
    // the *OrNull family (Neo4j 4.4) lowers identically
    case FuncCall("tointeger" | "tointegerornull", Seq(a), _) =>
      // numeric input converts exactly; a float-looking STRING takes
      // the double detour ('13.5' → 13, Neo4j truncation)
      typedProp(a, "l").getOrElse {
        val c = valueCol(a)
        coalesce(c.try_cast("long"),
          c.try_cast("double").try_cast("long"))
      }
    case FuncCall("tofloat" | "tofloatornull", Seq(a), _) =>
      typedProp(a, "d").getOrElse(valueCol(a).try_cast("double"))
    case FuncCall("toboolean" | "tobooleanornull", Seq(a), _) =>
      // only 'true'/'false' convert (Neo4j) — Spark's boolean cast
      // would also accept y/n/yes/no/0/1
      typedProp(a, "b").getOrElse(boolStrict(valueCol(a)))
    case FuncCall("tostringornull", Seq(a), _) =>
      typedProp(a, "s").getOrElse(renderString(valueCol(a)))
    // list conversions (Neo4j 5): element-wise, null-on-malformed,
    // null list → null
    case FuncCall("tointegerlist", Seq(a), _) =>
      transform(valueCol(a), x =>
        coalesce(x.try_cast("long"), x.try_cast("double").try_cast("long")))
    case FuncCall("tofloatlist", Seq(a), _) =>
      transform(valueCol(a), _.try_cast("double"))
    case FuncCall("tobooleanlist", Seq(a), _) =>
      transform(valueCol(a), boolStrict(_))
    case FuncCall("tostringlist", Seq(a), _) =>
      transform(valueCol(a), _.cast("string"))
    // valueType() (Neo4j 5.13): the value's Cypher type name. Static
    // types resolve at plan time; dynamic property slots dispatch on
    // whichever slot is populated.
    case FuncCall("valuetype", Seq(a), _) =>
      import org.apache.spark.sql.types._
      def tname(t: DataType): String = t match {
        case LongType | IntegerType | ShortType | ByteType => "INTEGER"
        case DoubleType | FloatType => "FLOAT"
        case StringType => "STRING"
        case BooleanType => "BOOLEAN"
        case DateType => "DATE"
        case TimestampType => "ZONED DATETIME"
        case _: TimeType => "LOCAL TIME"
        case s: StructType if isDurType(s) => "DURATION"
        case ArrayType(et, _) => s"LIST<${tname(et)} NOT NULL>"
        case _: MapType | _: StructType => "MAP"
        case NullType => "NULL"
        case other => other.typeName.toUpperCase
      }
      pvOf(a) match {
        case Some(pv) =>
          // list-valued props dispatch on the element TYPE TAGS
          // (PV.at): a uniformly-tagged list names its element type,
          // a mixed/legacy one is LIST<ANY>
          val tags = pv.getField("at")
          def listT(n: String) = lit(s"LIST<$n NOT NULL> NOT NULL")
          when(pv.getField("l").isNotNull, lit("INTEGER NOT NULL"))
            .when(pv.getField("d").isNotNull, lit("FLOAT NOT NULL"))
            .when(pv.getField("b").isNotNull, lit("BOOLEAN NOT NULL"))
            .when(pv.getField("s").isNotNull, lit("STRING NOT NULL"))
            .when(pv.getField("a").isNotNull,
              when(regexp_like(tags, lit("^l+$")), listT("INTEGER"))
                .when(regexp_like(tags, lit("^d+$")), listT("FLOAT"))
                .when(regexp_like(tags, lit("^b+$")), listT("BOOLEAN"))
                .when(tags.isNull || regexp_like(tags, lit("^s*$")),
                  listT("STRING"))
                .otherwise(listT("ANY")))
            .otherwise(lit("NULL"))
        case None =>
          val c = valueCol(a)
          colTypeOpt(c) match {
            case Some(NullType) | None => lit("NULL")
            case Some(t) =>
              when(c.isNull, lit("NULL"))
                .otherwise(lit(s"${tname(t)} NOT NULL"))
          }
      }
    case FuncCall("isnan", Seq(a), _) => isnan(valueCol(a).cast("double"))
    case FuncCall("char_length" | "character_length", Seq(a), _) =>
      length(strCol(a)).cast("long")
    // nondeterministic value functions — real user text; excluded
    // from oracled registry entries by nature
    case FuncCall("rand", Nil, _) => rand()
    case FuncCall("randomuuid", Nil, _) => expr("uuid()")
    case FuncCall("id" | "elementid", Seq(VarRef(n)), _)
        if env.get(n).contains(RelVar) =>
      // a relationship's identity is its canonical edge key (null on
      // an OPTIONAL miss — concat_ws alone never nulls)
      when(col(s"${n}__src").isNotNull,
        concat_ws("\u0001", col(s"${n}__src"), col(s"${n}__dst"),
          col(s"${n}__relType")))
    case FuncCall("id" | "elementid", Seq(VarRef(n)), _) =>
      col(s"${n}__gid")
    // startNode/endNode return the endpoint's IDENTITY (the gid — how
    // this engine compares nodes; `startNode(r) = n` and
    // id(startNode(r)) work). Property access on the result requires
    // binding the endpoint in the pattern, which also names the join
    // the property read would otherwise hide.
    case FuncCall("startnode", Seq(VarRef(n)), _)
        if env.get(n).contains(RelVar) => col(s"${n}__src")
    case FuncCall("endnode", Seq(VarRef(n)), _)
        if env.get(n).contains(RelVar) => col(s"${n}__dst")
    case FuncCall("id" | "elementid", Seq(inner), _) =>
      valueCol(inner) // already an identity (startNode/endNode)
    case FuncCall("type", Seq(VarRef(n)), _)
        if env.get(n).contains(RelVar) => col(s"${n}__relType")
    // `type(rs[i])` over a named var-length stretch: the subscripted
    // element already IS the type rendering
    case FuncCall("type", Seq(sub @ Subscript(VarRef(n), _)), _)
        if env.get(n).exists(_.isInstanceOf[RelListVar]) => valueCol(sub)
    // Neo4j: labels() of an unlabeled node is [], not [null].
    // Multi-label nodes: primary first, then SORTED secondaries —
    // deterministic where Neo4j's order is insertion-dependent
    case FuncCall("labels", Seq(VarRef(n)), _)
        if !env.get(n).contains(NodeVar) =>
      throw PlanError(s"labels() requires a node, but $n is not one")
    case FuncCall("labels", Seq(VarRef(n)), _) =>
      concat(
        when(col(s"${n}__label").isNotNull, array(col(s"${n}__label")))
          .otherwise(array().cast("array<string>")),
        coalesce(sort_array(col(s"${n}__xlabels")),
          array().cast("array<string>")))
    case FuncCall("size", Seq(a), _) =>
      // Neo4j size(): element count for lists/maps, CHARACTER count
      // for strings (dynamic props surface as canonical strings; a
      // list-slot property counts its elements)
      pvOf(a) match {
        case Some(pv) =>
          when(pv.getField("a").isNotNull,
            size(pv.getField("a")).cast("long"))
            .otherwise(length(pvStrOf(pv)).cast("long"))
        case None =>
          val c = valueCol(a)
          colTypeOpt(c) match {
            case Some(org.apache.spark.sql.types.StringType) =>
              length(c).cast("long")
            case _ => size(c).cast("long")
          }
      }
    case FuncCall("length", Seq(VarRef(n), _ @ _*), _)
        if env.get(n).exists(_.isInstanceOf[PathVar]) =>
      val PathVar(fixed, hopsCol, _) = env(n): @unchecked
      (hopsCol.map(c => col(c) + lit(fixed)).getOrElse(lit(fixed)))
        .cast("long")
    case FuncCall("length", Seq(a), _) => size(valueCol(a)).cast("long")
    // nodes(p) / relationships(p): the path's traversal rendered as
    // lists — node identities (gids) and relationship types, matching
    // the engine's list renderings of nodes/rels. Fixed segments read
    // their bound columns; a var-length segment derives entered nodes
    // and types from its edge-key array.
    case FuncCall(fn @ ("nodes" | "relationships"), Seq(VarRef(n)), _)
        if env.get(n).exists(_.isInstanceOf[PathVar]) =>
      val PathVar(_, _, segs) = env(n): @unchecked
      if (segs.isEmpty) // bound, but prescan missed it (unreachable)
        throw PlanError(s"path $n was not materialized")
      def enteredGid(k: Column, forward: Boolean): Column =
        element_at(split(k, "\u0001"), if (forward) 2 else 1)
      val parts: Seq[Column] = segs.flatMap {
        case NodeSeg(c) if fn == "nodes" => Some(array(col(c)))
        case RelSeg(c) if fn == "relationships" => Some(array(col(c)))
        case VarSeg(pc, fwd) =>
          if (fn == "nodes")
            Some(transform(col(pc), k => enteredGid(k, fwd)))
          else
            Some(transform(col(pc),
              k => element_at(split(k, "\u0001"), 3)))
        case _ => None
      }
      if (parts.isEmpty) array().cast("array<string>")
      else {
        // an OPTIONAL MATCH miss binds the pattern-internal path
        // bindings all-null (a shared outer node stays bound): any
        // null fixed-node gid witnesses the miss — a matched path has
        // them all — so nodes(null)/relationships(null) are null, not
        // a null-bearing list
        val missed = segs.collect { case NodeSeg(c) => col(c).isNull }
          .reduceOption(_ || _)
        missed match {
          case Some(m) => when(m, lit(null)).otherwise(concat(parts: _*))
          case None => concat(parts: _*)
        }
      }
    // openCypher scalar library (string / numeric / list / null)
    case FuncCall("coalesce", args, _) if args.nonEmpty =>
      coalesce(args.map(valueCol): _*)
    // nullIf(a, b) (Cypher 25): null when equal, else a
    case FuncCall("nullif", Seq(a, b), _) =>
      val (ac, bc) = (valueCol(a), valueCol(b))
      when(ac <=> bc, lit(null)).otherwise(ac)
    case FuncCall("exists", Seq(a), _) => valueCol(a).isNotNull
    case FuncCall("toupper" | "upper", Seq(a), _) => upper(strCol(a))
    case FuncCall("tolower" | "lower", Seq(a), _) => lower(strCol(a))
    case FuncCall("trim", Seq(a), _) => trim(strCol(a))
    // trim/btrim/ltrim/rtrim with an explicit trim-character set
    // (Neo4j 5.20; `trim(BOTH c FROM s)` parses to the 2-arg form).
    // The char set must be a literal — Spark's trimString overloads
    // are static strings
    case FuncCall("btrim" | "trim", Seq(a, Lit(cs: String)), _) =>
      trim(strCol(a), cs)
    case FuncCall("ltrim", Seq(a, Lit(cs: String)), _) =>
      ltrim(strCol(a), cs)
    case FuncCall("rtrim", Seq(a, Lit(cs: String)), _) =>
      rtrim(strCol(a), cs)
    // normalize() (Neo4j 5.17): unicode normalization via the native
    // codegen expression (Spark has no built-in); NFC default, the
    // form parses as a bare identifier (NFKD) or a string
    case FuncCall("normalize", Seq(a), _) =>
      graft.functions.NormalizeForm(strCol(a), "NFC")
    case FuncCall("normalize", Seq(a, f), _) =>
      val form = f match {
        case Lit(s: String) => s.toUpperCase
        case VarRef(n) if !env.contains(n) => n.toUpperCase
        case other => throw PlanError(s"unknown normal form: $other")
      }
      graft.functions.NormalizeForm(strCol(a), form)
    case FuncCall("ltrim", Seq(a), _) => ltrim(strCol(a))
    case FuncCall("rtrim", Seq(a), _) => rtrim(strCol(a))
    // Spark's reverse handles string AND array natively — valueCol
    // keeps lists as lists (strCol would stringify them)
    case FuncCall("reverse", Seq(a), _) => reverse(valueCol(a))
    case FuncCall("replace", Seq(a, f, t), _) =>
      replace(strCol(a), strCol(f), strCol(t))
    case FuncCall("split", Seq(a, Lit(d: String)), _) =>
      split(strCol(a), java.util.regex.Pattern.quote(d))
    // Neo4j split(s, [d1, d2, …]): split on ANY of the delimiters —
    // a static alternation of quoted literals
    case FuncCall("split", Seq(a, ListLit(ds)), _)
        if ds.forall { case Lit(_: String) => true; case _ => false } =>
      split(strCol(a), ds.map { case Lit(d: String) =>
        java.util.regex.Pattern.quote(d); case _ => "" }.mkString("|"))
    case FuncCall("left", Seq(a, n), _) =>
      substring(strCol(a), lit(1), valueCol(n).cast("int"))
    case FuncCall("right", Seq(a, n), _) =>
      strCol(a).substr(-valueCol(n).cast("int"), valueCol(n).cast("int"))
    // openCypher substring(s, start[, len]) is 0-based; Spark is 1-based
    case FuncCall("substring", Seq(a, st), _) =>
      // length cap: big but overflow-safe (pos + len must fit in Int)
      strCol(a).substr(valueCol(st).cast("int") + 1, lit(1 << 30))
    case FuncCall("substring", Seq(a, st, len), _) =>
      strCol(a).substr(valueCol(st).cast("int") + 1, valueCol(len).cast("int"))
    // ---- temporal values (Neo4j date/datetime/duration) ----
    // date → DateType, datetime → TimestampType (session tz is UTC),
    // duration → a {months, days, secs} struct: Spark's interval types
    // have no field accessors, so the struct keeps `.days`-style reads
    // cheap and converts to a real interval only at +/- time
    case FuncCall("date", Seq(), _) => current_date()
    case FuncCall("date", Seq(MapLit(es)), _) =>
      val m = es.toMap
      def df(k: String, d: Int) =
        m.get(k).map(valueCol(_).cast("int")).getOrElse(lit(d))
      make_date(df("year", 1), df("month", 1), df("day", 1))
    case FuncCall("date", Seq(a), _) => to_date(strCol(a))
    // time / localtime → Spark 4's native TIME type (this engine
    // conflates the two: offsets parse but are DROPPED — store
    // timestamps are UTC, so local == offset-free)
    case FuncCall("time" | "localtime", Seq(), _) => current_time()
    case FuncCall("time" | "localtime", Seq(MapLit(es)), _) =>
      val m = es.toMap
      def tc(k: String) =
        m.get(k).map(valueCol(_).cast("int")).getOrElse(lit(0))
      make_time(tc("hour"), tc("minute"), tc("second").cast("decimal(16,6)"))
    case FuncCall("time" | "localtime", Seq(a), _) =>
      val s0 = strCol(a)
      coalesce(try_to_time(s0),
        try_to_time(regexp_replace(s0, "(Z|[+-][0-9:]+)$", "")))
    case FuncCall("datetime" | "localdatetime", Seq(), _) =>
      current_timestamp()
    case FuncCall("datetime" | "localdatetime", Seq(MapLit(es)), _) =>
      val m = es.toMap
      if (m.contains("epochMillis"))
        timestamp_millis(valueCol(m("epochMillis")).cast("long"))
      else if (m.contains("epochSeconds"))
        timestamp_seconds(valueCol(m("epochSeconds")).cast("long"))
      else {
        // component construction, with `date:`/`time:` value
        // components as the field defaults (Neo4j: explicit fields
        // override the component's)
        val dateC = m.get("date").map(e => valueCol(e).cast("date"))
        val timeC = m.get("time").map(e => valueCol(e))
        def tfD(k: String, fromDate: Column => Column, d: Int) =
          m.get(k).map(valueCol(_).cast("int"))
            .orElse(dateC.map(fromDate)).getOrElse(lit(d))
        def tfT(k: String, fromTime: Column => Column) =
          m.get(k).map(valueCol(_).cast("int"))
            .orElse(timeC.map(fromTime)).getOrElse(lit(0))
        val secs =
          m.get("second").map(valueCol(_).cast("double"))
            .orElse(timeC.map(c => second(c).cast("double")))
            .getOrElse(lit(0.0)) +
          m.get("millisecond").map(valueCol(_).cast("double") / 1000.0)
            .getOrElse(lit(0.0))
        make_timestamp(
          tfD("year", year, 1), tfD("month", month, 1),
          tfD("day", dayofmonth, 1),
          tfT("hour", hour), tfT("minute", minute),
          secs.cast("decimal(18,6)"))
      }
    case FuncCall("datetime" | "localdatetime", Seq(a), _) =>
      // a trailing `[Zone/Id]` names the zone (Neo4j): with no
      // explicit offset the wall time is IN that zone; an offset, if
      // present, is authoritative and the zone is display-only
      val raw = strCol(a)
      val zone = regexp_extract(raw, """\[([^\]]+)\]$""", 1)
      val bare = regexp_replace(raw, """\[[^\]]+\]$""", "")
      val hasOffset = regexp_like(bare, lit("""(Z|[+-]\d{2}:?\d{2})$"""))
      when(zone === "" || hasOffset, bare.cast("timestamp"))
        .otherwise(to_utc_timestamp(bare.cast("timestamp_ntz"), zone))
    case FuncCall("timestamp", Seq(), _) =>
      // Neo4j: ms since epoch on the statement clock — pinned once at
      // plan time so every row of the statement sees the same value
      lit(System.currentTimeMillis())
    case FuncCall("duration", Seq(Lit(s: String)), _) =>
      val (mo, d, sec) = parseIsoDuration(s)
      durStruct(lit(mo), lit(d), lit(sec))
    case FuncCall("duration", Seq(MapLit(es)), _) =>
      val m = es.toMap
      def nf(k: String) =
        m.get(k).map(valueCol(_).cast("double")).getOrElse(lit(0.0))
      durStruct(
        (nf("years") * 12 + nf("months")).cast("long"),
        (nf("weeks") * 7 + nf("days")).cast("long"),
        nf("hours") * 3600 + nf("minutes") * 60 + nf("seconds") +
          nf("milliseconds") / 1000.0)
    // temporal namespace functions. duration.between decomposes like
    // Neo4j / Postgres age(): whole months first (day-of-month aware
    // via months_between), then whole days, then remaining seconds —
    // every component truncating toward zero, so both directions
    // carry consistent signs
    case FuncCall("duration.between", Seq(a, b), _) =>
      val (ta, tb) = (valueCol(a).cast("timestamp"),
        valueCol(b).cast("timestamp"))
      val mo = months_between(tb, ta).cast("long")
      val a2 = ta + make_interval(lit(0), mo.cast("int"))
      val secTotal = (unix_millis(tb) - unix_millis(a2)) / 1000.0
      val days = (secTotal / 86400).cast("long")
      durStruct(mo, days, secTotal - days.cast("double") * 86400)
    case FuncCall("duration.inmonths", Seq(a, b), _) =>
      durStruct(months_between(valueCol(b).cast("timestamp"),
        valueCol(a).cast("timestamp")).cast("long"), lit(0), lit(0.0))
    case FuncCall("duration.indays", Seq(a, b), _) =>
      val d = ((unix_millis(valueCol(b).cast("timestamp")) -
        unix_millis(valueCol(a).cast("timestamp"))) / 86400000L)
      durStruct(lit(0), d, lit(0.0))
    case FuncCall("duration.inseconds", Seq(a, b), _) =>
      durStruct(lit(0), lit(0),
        (unix_millis(valueCol(b).cast("timestamp")) -
          unix_millis(valueCol(a).cast("timestamp"))) / 1000.0)
    // spatial points (the Neo4j point subset): a point is an
    // (x, y, crs) struct — {x, y} builds a cartesian point,
    // {longitude, latitude} a wgs-84 one (longitude rides the x slot).
    // point.distance is straight-line for cartesian and haversine
    // (mean Earth radius 6 371 000 m) for wgs-84; both are
    // deterministic double arithmetic a DuckDB oracle replays —
    // libm-vs-JVM trig differs by ulps, so oracled queries round.
    case FuncCall("point", Seq(MapLit(es)), _) =>
      val m = es.map { case (k, v) => k.toLowerCase -> v }.toMap
      (m.get("x"), m.get("y"), m.get("longitude"), m.get("latitude")) match {
        case (Some(x), Some(y), None, None) if m.size == 2 =>
          struct(valueCol(x).cast("double").as("x"),
            valueCol(y).cast("double").as("y"),
            lit("cartesian").as("crs"))
        case (None, None, Some(lon), Some(lat)) if m.size == 2 =>
          struct(valueCol(lon).cast("double").as("x"),
            valueCol(lat).cast("double").as("y"),
            lit("wgs-84").as("crs"))
        case _ => throw PlanError(
          "point() needs {x, y} or {longitude, latitude}")
      }
    // vector similarity (Neo4j 5.18): cosine = a·b / (|a||b|);
    // euclidean similarity = 1 / (1 + d²) (the [0,1]-normalized
    // score). Both run on the codegen'd DotProduct fold — the same
    // kernel the ANN family uses.
    case FuncCall("vector.similarity.cosine", Seq(a, b), _) =>
      val va = transform(valueCol(a), x => x.cast("double"))
      val vb = transform(valueCol(b), x => x.cast("double"))
      graft.functions.DotProduct(va, vb) /
        (sqrt(graft.functions.DotProduct(va, va)) *
          sqrt(graft.functions.DotProduct(vb, vb)))
    case FuncCall("vector.similarity.euclidean", Seq(a, b), _) =>
      val va = transform(valueCol(a), x => x.cast("double"))
      val vb = transform(valueCol(b), x => x.cast("double"))
      val diff = zip_with(va, vb, (x, y) => x - y)
      lit(1.0) / (lit(1.0) + graft.functions.DotProduct(diff, diff))
    case FuncCall("point.distance" | "distance", Seq(a, b), _) =>
      val (pa, pb) = (valueCol(a), valueCol(b))
      val (ax, ay) = (pa.getField("x"), pa.getField("y"))
      val (bx, by) = (pb.getField("x"), pb.getField("y"))
      val cart = sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))
      val toRad = math.Pi / 180.0
      val h = pow(sin((by - ay) * toRad / 2), 2) +
        cos(ay * toRad) * cos(by * toRad) *
          pow(sin((bx - ax) * toRad / 2), 2)
      val hav = lit(2.0 * 6371000.0) * asin(sqrt(h))
      when(pa.getField("crs") === "wgs-84", hav).otherwise(cart)
    case FuncCall("point.withinbbox", Seq(a, lo, hi), _) =>
      val (pa, pl, ph) = (valueCol(a), valueCol(lo), valueCol(hi))
      pa.getField("x") >= pl.getField("x") &&
        pa.getField("x") <= ph.getField("x") &&
        pa.getField("y") >= pl.getField("y") &&
        pa.getField("y") <= ph.getField("y")
    case FuncCall("datetime.truncate" | "localdatetime.truncate",
        Seq(u, a), _) =>
      date_trunc(truncUnit(u), valueCol(a).cast("timestamp"))
    case FuncCall("date.truncate", Seq(u, a), _) =>
      to_date(date_trunc(truncUnit(u), valueCol(a).cast("timestamp")))
    // abs preserves the input's numeric family (Neo4j: abs(-3) is
    // INTEGER 3, abs(-3.0) is FLOAT 3.0); dynamic props keep the
    // double view (their family is only known at runtime)
    case FuncCall("abs", Seq(a), _) =>
      val c = valueCol(a)
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
        ShortType}
      colTypeOpt(c) match {
        case Some(LongType | IntegerType | ShortType | ByteType) => abs(c)
        case _ => abs(numCol(a))
      }
    case FuncCall("sign", Seq(a), _) => signum(numCol(a)).cast("long")
    // 1-arg round: Neo4j uses Math.round — halves go toward POSITIVE
    // infinity (round(-2.5) = -2.0, round(-0.5) = 0.0), not Spark's
    // HALF_UP away-from-zero (probe 14). NOT lowered as
    // floor(x + 0.5): the double ADDITION is inexact at values like
    // 0.49999999999999994 (x + 0.5 rounds up to 1.0, while Math.round
    // since JDK 7 yields 0). `x - floor(x)` extracts the fraction
    // EXACTLY in IEEE754, so comparing it to 0.5 reproduces
    // Math.round's bit-level behavior at every magnitude.
    case FuncCall("round", Seq(a), _) =>
      val x = numCol(a).cast("double")
      val f = floor(x)
      when(isnan(x) || x === lit(Double.PositiveInfinity) ||
          x === lit(Double.NegativeInfinity), x)
        .otherwise(when(x - f >= lit(0.5), f + 1).otherwise(f)
          .cast("double"))
    case FuncCall("round", Seq(a, Lit(p: Long)), _) =>
      round(numCol(a), p.toInt)
    // explicit rounding mode (Neo4j 4.2+): HALF_UP is Spark's round,
    // HALF_EVEN its bround; the directed modes derive from
    // ceil/floor on the scaled value (abs/signum for the
    // away-from/toward-zero pair)
    case FuncCall("round", Seq(a, Lit(p: Long), Lit(mode: String)), _) =>
      val x = numCol(a)
      val m = lit(math.pow(10.0, p.toDouble))
      val v = x * m
      val r = mode.toUpperCase match {
        case "HALF_UP" => round(x, p.toInt)
        case "HALF_EVEN" => bround(x, p.toInt)
        case "HALF_DOWN" => signum(x) * ceil(abs(v) - lit(0.5)) / m
        case "UP" => signum(x) * ceil(abs(v)) / m
        case "DOWN" => signum(x) * floor(abs(v)) / m
        case "CEILING" => ceil(v) / m
        case "FLOOR" => floor(v) / m
        case other => throw PlanError(s"unknown rounding mode: $other")
      }
      r.cast("double")
    // trig / exponential library (Neo4j's math functions)
    case FuncCall("exp", Seq(a), _) => exp(numCol(a))
    case FuncCall("log", Seq(a), _) => log(numCol(a))
    case FuncCall("log10", Seq(a), _) => log10(numCol(a))
    case FuncCall("sin", Seq(a), _) => sin(numCol(a))
    case FuncCall("cos", Seq(a), _) => cos(numCol(a))
    case FuncCall("tan", Seq(a), _) => tan(numCol(a))
    case FuncCall("asin", Seq(a), _) => asin(numCol(a))
    case FuncCall("acos", Seq(a), _) => acos(numCol(a))
    case FuncCall("atan", Seq(a), _) => atan(numCol(a))
    case FuncCall("atan2", Seq(a, b), _) => atan2(numCol(a), numCol(b))
    case FuncCall("pi", Seq(), _) => lit(math.Pi)
    case FuncCall("e", Seq(), _) => lit(math.E)
    case FuncCall("degrees", Seq(a), _) => degrees(numCol(a))
    case FuncCall("radians", Seq(a), _) => radians(numCol(a))
    case FuncCall("ceil", Seq(a), _) => ceil(numCol(a)).cast("double")
    case FuncCall("floor", Seq(a), _) => floor(numCol(a)).cast("double")
    case FuncCall("sqrt", Seq(a), _) => sqrt(numCol(a))
    // openCypher head([])/last([]) are null; bare element_at would
    // throw under ANSI mode on an empty list
    // head/last/tail of a null LITERAL is null (Neo4j) — a NullType
    // column can't feed element_at/slice (probe 14)
    case FuncCall("head" | "last" | "tail", Seq(a), _)
        if colTypeOpt(valueCol(a))
          .contains(org.apache.spark.sql.types.NullType) =>
      lit(null)
    case FuncCall("head", Seq(a), _) =>
      val c = valueCol(a); when(size(c) > 0, element_at(c, 1))
    case FuncCall("last", Seq(a), _) =>
      val c = valueCol(a); when(size(c) > 0, element_at(c, -1))
    // tail([]) = [] — everything after the head
    case FuncCall("tail", Seq(a), _) =>
      val c = valueCol(a)
      when(size(c) > 1, slice(c, lit(2), size(c) - 1))
        .otherwise(slice(c, 1, 0))
    case FuncCall("isempty", Seq(a), _) =>
      val c = valueCol(a)
      colTypeOpt(c) match {
        case Some(org.apache.spark.sql.types.StringType) =>
          length(c) === 0
        case Some(_: org.apache.spark.sql.types.MapType) =>
          size(map_keys(c)) === 0
        case _ => size(c) === 0
      }
    // range(a, b[, step]) — inclusive both ends. Neo4j yields []
    // when the step cannot reach b from a (range(0, -1) is empty);
    // Spark's sequence would instead walk DOWNWARD by default
    case FuncCall("range", Seq(a, b), _) =>
      val (ac, bc) = (valueCol(a).cast("long"), valueCol(b).cast("long"))
      when(ac <= bc, sequence(ac, bc))
        .otherwise(array().cast("array<bigint>"))
    case FuncCall("range", Seq(a, b, st), _) =>
      val (ac, bc, sc) = (valueCol(a).cast("long"),
        valueCol(b).cast("long"), valueCol(st).cast("long"))
      when((sc > 0 && ac <= bc) || (sc < 0 && ac >= bc),
        sequence(ac, bc, sc))
        .otherwise(array().cast("array<bigint>"))
    case FuncCall("keys", Seq(a), _) if (a match {
        case VarRef(n) => env.get(n).contains(RelVar); case _ => false }) =>
      // the edge model's one real property — present on every edge
      val VarRef(n) = a: @unchecked
      when(col(s"${n}__src").isNotNull,
        when(col(s"${n}__source").isNotNull, array(lit("source")))
          .otherwise(array().cast("array<string>")))
    case FuncCall("keys", Seq(a), _) =>
      val c = a match {
        case VarRef(n) if env.get(n).contains(NodeVar) => col(s"${n}__props")
        case other => valueCol(other)
      }
      colTypeOpt(c) match {
        // a struct-backed map literal: field names are static
        case Some(t: org.apache.spark.sql.types.StructType) =>
          val names = t.fieldNames.sorted
          when(c.isNotNull, array(names.map(lit(_)): _*))
        case _ => sort_array(map_keys(c))
      }
    case FuncCall("properties", Seq(VarRef(n)), _)
        if env.get(n).contains(NodeVar) =>
      // canonical-string view of the props map (the engine's documented
      // untyped-property rendering)
      transform_values(coalesce(col(s"${n}__props"), pvMapLit(Map.empty)),
        (_, v) => pvStrOf(v))
    // properties() of a relationship: the edge model's one real
    // property (empty map when source is null)
    case FuncCall("properties", Seq(VarRef(n)), _)
        if env.get(n).contains(RelVar) =>
      when(col(s"${n}__source").isNotNull,
        map(lit("source"), col(s"${n}__source")))
        .otherwise(map_from_arrays(array().cast("array<string>"),
          array().cast("array<string>")))
    // properties() of a map value is the map itself (Neo4j parity)
    case FuncCall("properties", Seq(a), _) => valueCol(a)
    case ListComp(v, listE, whereE0, projE0) =>
      // over nodes(p)/relationships(p): elements are path renderings
      // (gids / relTypes) — fold identity reads to the element itself
      val (whereE, projE) = pathListCall(listE) match {
        case Some(overNodes) =>
          (whereE0.map(foldPathElemIdentity(v, overNodes, _)),
            projE0.map(foldPathElemIdentity(v, overNodes, _)))
        case None => (whereE0, projE0)
      }
      val base = listishCol(listE)
      val filtered = whereE.map(w =>
        filter(base, x => withLambda(v -> x)(toPredicate(w))))
        .getOrElse(base)
      projE.map(pr =>
        transform(filtered, x => withLambda(v -> x)(valueCol(pr))))
        .getOrElse(filtered)
    case Quant(op, v, listE, predE0) =>
      val predE = pathListCall(listE) match {
        case Some(overNodes) => foldPathElemIdentity(v, overNodes, predE0)
        case None => predE0
      }
      val base = listishCol(listE)
      def pred(x: Column) = withLambda(v -> x)(toPredicate(predE))
      op match {
        case "any" => exists(base, pred)
        case "all" => forall(base, pred)
        case "none" => !exists(base, pred)
        // null list → null, like its siblings (bare size(null) is -1)
        case "single" =>
          when(base.isNotNull, size(filter(base, pred(_))) === 1)
      }
    case ReduceExpr(acc, init, v, listE, bodyE) =>
      import org.apache.spark.sql.types._
      val listC = valueCol(listE)
      val elemT = colTypeOpt(listC) match {
        case Some(ArrayType(et, _)) => Some(et)
        case _ => None
      }
      // an empty-list accumulator (`acc = []`) types as array<null> —
      // retype it from the list's element type so the merge lambda's
      // result (e.g. acc + x) matches the accumulator type
      val initT0 = colTypeOpt(valueCol(init))
      val (initC, initT) = (initT0, elemT) match {
        case (Some(ArrayType(NullType, _)), Some(et)) =>
          (valueCol(init).cast(ArrayType(et)), Some(ArrayType(et)))
        case _ => (valueCol(init), initT0)
      }
      val hints = initT.map(acc -> _).toSeq ++ elemT.map(v -> _).toSeq
      aggregate(listC, initC,
        (a, x) => withLambdaHints(hints: _*)(
          withLambda(acc -> a, v -> x)(valueCol(bodyE))))
    case PatternPred(_, _, _) => throw PlanError(
      "exists(pattern) is supported as a WHERE conjunct or a bare RETURN/WITH item")
    case CountSub(_, _, _) => throw PlanError(
      "COUNT { } is supported as a bare RETURN/WITH item or compared in a WHERE conjunct")
    case c: Cmp => toPredicate(c)
    case a: And => toPredicate(a)
    case o: Or => toPredicate(o)
    case n: Not => toPredicate(n)
    case i: IsNull => toPredicate(i)
    case t: TypePred => toPredicate(t)
    case Arith(op, l, r) => arithCol(op, l, r)
    // startNode(r)/endNode(r) ARE the endpoint's identity (gid), so
    // `.gid` / `['gid']` on them is the value itself
    case Subscript(f @ FuncCall("startnode" | "endnode", _, _),
        Lit("gid")) => valueCol(f)
    // dynamic property access on a node variable: a literal key is
    // exactly the PropRef (full typed machinery); an expression key
    // resolves the model columns by name at runtime, else reads the
    // props map
    case Subscript(VarRef(n), Lit(k: String))
        if env.get(n).contains(NodeVar) =>
      valueCol(PropRef(n, k))
    case Subscript(VarRef(n), keyE) if env.get(n).contains(NodeVar) =>
      val keyC = strCol(keyE)
      when(keyC === "gid", col(s"${n}__gid"))
        .when(keyC === "label", col(s"${n}__label"))
        .when(keyC === "source", col(s"${n}__source"))
        .otherwise(pvStrOf(element_at(col(s"${n}__props"), keyC)))
    // subscript on a property: a list-slot value subscripts its
    // array (0-based, negative from the end, null OOB)
    case Subscript(coll, idx) if pvOf(coll).isDefined =>
      val pv = pvOf(coll).get
      val i = valueCol(idx).cast("int")
      try_element_at(pv.getField("a"), when(i >= 0, i + 1).otherwise(i))
    case Subscript(coll, idx) => subscriptCol(valueCol(coll), idx)
    case Slice(collE, fromE, toE) =>
      // openCypher end-exclusive slice; negative bounds from the end;
      // a NULL bound makes the whole slice null (greatest/least skip
      // nulls, so that case is gated explicitly)
      val c = valueCol(collE)
      val n = size(c)
      def norm(e: Option[Ast.Expr], dflt: Column): Column = e match {
        case None => dflt
        case Some(x) =>
          val i = valueCol(x).cast("int")
          when(i >= 0, i).otherwise(n + i)
      }
      val f0 = greatest(norm(fromE, lit(0)), lit(0))
      val t0 = least(norm(toE, n), n)
      val sliced = slice(c, f0 + 1, greatest(t0 - f0, lit(0)))
      (fromE.toSeq ++ toE.toSeq).map(x => valueCol(x).isNull)
        .reduceOption(_ || _) match {
        case Some(anyNull) => when(!anyNull, sliced)
        case None => sliced
      }
    // an aggregate call reached below a scalar wrapper
    // (floor(sum(x)/count(*)) routes floor→numCol→here)
    case f @ FuncCall(n, _, _) if aggNames.contains(n) => aggCol(f)
    case other => throw PlanError(s"unsupported expression: $other")
  }

  /** binary arithmetic with openCypher's operator overloads: `+` is
    * string concat when either side is statically a string, list
    * concat when either side is a list, numeric otherwise. Dynamic
    * property values go through their numeric slot (double — the
    * engine's documented typing rule for untyped props); statically
    * integral operands keep long arithmetic, and integral `/`
    * truncates toward zero (Cypher integer division). `^` is always
    * double. Operands may themselves aggregate (count(*) * 2).
    */
  /** IEEE-754 semantics for Cypher FLOAT division/modulo (Neo4j:
    * `1.5/0.0` = Infinity, `-1.5/0.0` = -Infinity, `0.0/0.0` = NaN,
    * `x % 0.0` = NaN) — Spark's ANSI mode would raise DIVIDE_BY_ZERO
    * instead. The zero-divisor branch is selected per row, so the
    * ANSI division never evaluates there. Integer division/modulo by
    * zero still error, matching Neo4j's own `/ by zero`.
    */
  private def ieeeDiv(a: Column, b: Column): Column = {
    val ad = a.cast("double"); val bd = b.cast("double")
    when(bd === 0.0,
      when(isnan(ad) || isnan(bd) || ad === 0.0, lit(Double.NaN))
        .when(ad > 0.0, lit(Double.PositiveInfinity))
        .otherwise(lit(Double.NegativeInfinity)))
      .otherwise(ad / bd)
  }

  private def ieeeMod(a: Column, b: Column): Column = {
    val ad = a.cast("double"); val bd = b.cast("double")
    when(bd === 0.0, lit(Double.NaN)).otherwise(ad % bd)
  }

  private def arithCol(op: String, l: Ast.Expr, r: Ast.Expr): Column = {
    import org.apache.spark.sql.types._
    def low(e: Ast.Expr): Column =
      if (containsAgg(e)) aggCol(e) else valueCol(e)
    val (lc, rc) = (low(l), low(r))
    def hinted(e: Ast.Expr): Option[DataType] = e match {
      case VarRef(n) => lambdaTypeHints.get(n)
      case ListLit(_) => colTypeOpt(valueCol(e))
      case _ => None
    }
    val (lt, rt) = (colTypeOpt(lc).orElse(hinted(l)),
        colTypeOpt(rc).orElse(hinted(r))) match {
      case (Some(a), Some(b)) => (a, b)
      case _ =>
        // lambda-scoped operand (comprehension/reduce body): no frame
        // to analyze against — lower with Spark's own type coercion
        // (numeric semantics; `^` still forces double). A `+` chain
        // with a string literal anywhere in it is concatenation
        // (Neo4j: string + anything concatenates), which Spark's
        // numeric `+` would reject at analysis.
        def strish(e: Ast.Expr): Boolean = e match {
          case Lit(_: String) => true
          case Arith("+", a, b) => strish(a) || strish(b)
          case _ => false
        }
        return op match {
          case "+" if strish(l) || strish(r) =>
            concat(lc.cast("string"), rc.cast("string"))
          case "+" => lc + rc
          case "-" => lc - rc
          case "*" => lc * rc
          // `/` coerces to double in this untyped path either way —
          // route through the IEEE guard so a zero divisor yields
          // NaN/±Infinity instead of an ANSI error. `%` stays native:
          // integer modulo must keep its integer type here.
          case "/" => ieeeDiv(lc, rc)
          case "%" => lc % rc
          case "^" => pow(lc.cast("double"), rc.cast("double"))
          case "||" => concat(lc.cast("string"), rc.cast("string"))
        }
    }
    val (lProp, rProp) = (pvOf(l).isDefined, pvOf(r).isDefined)
    def isIntegral(t: DataType, prop: Boolean) = !prop && (t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    def num(e: Ast.Expr, c: Column, t: DataType, prop: Boolean): Column =
      if (prop) numCol(e)
      else t match {
        case _: NumericType => c
        case _ => c.cast("double")
      }
    op match {
      // temporal arithmetic: date/datetime ± duration, duration ± duration
      case "+" if (lt == DateType || lt == TimestampType) && isDurType(rt) =>
        lc + durInterval(rc)
      case "+" if isDurType(lt) && (rt == DateType || rt == TimestampType) =>
        rc + durInterval(lc)
      case "-" if (lt == DateType || lt == TimestampType) && isDurType(rt) =>
        lc - durInterval(rc)
      case "+" if isDurType(lt) && isDurType(rt) =>
        durStruct(lc.getField("months") + rc.getField("months"),
          lc.getField("days") + rc.getField("days"),
          lc.getField("secs") + rc.getField("secs"))
      case "-" if isDurType(lt) && isDurType(rt) =>
        durStruct(lc.getField("months") - rc.getField("months"),
          lc.getField("days") - rc.getField("days"),
          lc.getField("secs") - rc.getField("secs"))
      // `||` concatenates, never adds: list concat when either side
      // is a list, string concat when a side is statically a string
      // or a dynamic property slot; anything else (1 || 2) is a type
      // error, as in Neo4j 5 — never a silent stringification
      case "||" =>
        if (lt.isInstanceOf[ArrayType] || rt.isInstanceOf[ArrayType])
          concat(lc, rc)
        else if (lProp || rProp || lt == StringType || rt == StringType)
          concat(strCol(l), strCol(r))
        else throw PlanError(
          s"|| expects string or list operands, got $lt || $rt")
      case "+" if lt.isInstanceOf[ArrayType] || rt.isInstanceOf[ArrayType] =>
        // list + element appends / element + list prepends (Neo4j) —
        // wrap the scalar side so concat sees two arrays
        val la = if (lt.isInstanceOf[ArrayType]) lc else array(lc)
        val ra = if (rt.isInstanceOf[ArrayType]) rc else array(rc)
        concat(la, ra)
      case "+" if (!lProp && lt == StringType) ||
          (!rProp && rt == StringType) =>
        concat(strCol(l), strCol(r))
      case "+" if lProp && rProp =>
        // BOTH sides dynamic: dispatch on the runtime slots — long
        // sum when both integral, numeric sum when numeric, string
        // concat otherwise (Neo4j's string+string / string+number).
        // The output is the canonical STRING rendering (a single
        // column cannot be double-or-string), per the engine's
        // documented dynamic-value typing rule.
        val (lpv, rpv) = (pvOf(l).get, pvOf(r).get)
        val (ll, rl) = (lpv.getField("l"), rpv.getField("l"))
        val numSum = numCol(l) + numCol(r)
        when(ll.isNotNull && rl.isNotNull, (ll + rl).cast("string"))
          .when(numSum.isNotNull, numSum.cast("string"))
          .otherwise(concat(pvStrOf(lpv), pvStrOf(rpv)))
      case "^" => pow(num(l, lc, lt, lProp).cast("double"),
        num(r, rc, rt, rProp).cast("double"))
      case _ =>
        val ln = num(l, lc, lt, lProp)
        val rn = num(r, rc, rt, rProp)
        val integral = isIntegral(lt, lProp) && isIntegral(rt, rProp)
        op match {
          case "+" => ln + rn
          case "-" => ln - rn
          case "*" => ln * rn
          case "%" => if (integral) ln % rn else ieeeMod(ln, rn)
          case "/" =>
            // decimal division keeps full long precision (a double
            // round-trip corrupts values ≥ 2^53); the long cast
            // truncates toward zero — Java/Cypher integer division
            if (integral)
              (ln.cast(DecimalType(38, 0)) / rn.cast(DecimalType(38, 0)))
                .cast("long")
            else ieeeDiv(ln, rn)
        }
    }
  }

  /** JSON rendering of a CONSTANT expression tree (literals, list
    * literals, map literals) — None when anything is non-constant.
    * Used to lower heterogeneous literal lists to array<VARIANT>. */
  private def jsonOfLit(e: Ast.Expr): Option[String] = e match {
    case Lit(null) => Some("null")
    case Lit(s: String) =>
      Some("\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\"")
    case Lit(l: Long) => Some(l.toString)
    case Lit(d: Double) => Some(d.toString)
    case Lit(b: Boolean) => Some(b.toString)
    case ListLit(es) =>
      val parts = es.map(jsonOfLit)
      if (parts.forall(_.isDefined))
        Some(parts.flatten.mkString("[", ",", "]"))
      else None
    case MapLit(entries) =>
      val parts = entries.map { case (k, v) =>
        jsonOfLit(v).map(jv => jsonOfLit(Lit(k)).get + ":" + jv) }
      if (parts.forall(_.isDefined))
        Some(parts.flatten.mkString("{", ",", "}"))
      else None
    case _ => None
  }

  /** does `c` analyze against the current frame? false ⇒ the
    * expression mixes types Spark cannot unify (the column-built
    * heterogeneous-list probe) */
  private def analyzes(c: Column): Boolean = {
    val frame = if (df != null) df else seedRow("__probe" -> 1L)
    try { frame.select(c); true }
    catch { case _: org.apache.spark.sql.AnalysisException => false }
  }

  /** lower one list element to VARIANT: native cast where Spark
    * supports it (scalars), to_variant_object for struct/map shapes,
    * else a JSON round-trip (`variant_get(parse_json(to_json(...)))`
    * — to_json needs a container, so the element rides a 1-array) */
  private def toVariant(c: Column): Column = {
    val cast = c.cast("variant")
    if (analyzes(cast)) cast
    else {
      val obj = to_variant_object(c)
      if (analyzes(obj)) obj
      else variant_get(parse_json(to_json(array(c))), "$[0]", "variant")
    }
  }

  /** does this literal list need the VARIANT lowering? true when the
    * elements are all constant but mix shapes Spark arrays cannot
    * unify: scalar beside map/list, nested list beside scalar, or map
    * literals with different key sets */
  private def heterogeneousLit(items: Seq[Ast.Expr]): Boolean = {
    if (items.size < 2) return false
    if (!items.forall(jsonOfLit(_).isDefined)) return false
    def kind(e: Ast.Expr): Int = e match {
      case _: MapLit => 1
      case _: ListLit => 2
      case _ => 0
    }
    val ks = items.map(kind).distinct
    if (ks.size > 1) true
    else if (ks == Seq(1))
      items.collect { case MapLit(es) => es.map(_._1).toSet }
        .distinct.size > 1
    else false
  }

  /** `coll[idx]`: 0-based list index (negative = from the end), map
    * key, or struct field. Out-of-bounds yields null (try_element_at),
    * matching Cypher — never an ANSI error. */
  // ---- temporal helpers ----

  /** the engine's duration value: total months, days, seconds — the
    * three independent components Neo4j durations carry
    */
  private def durStruct(months: Column, days: Column, secs: Column): Column =
    struct(months.cast("long").as("months"), days.cast("long").as("days"),
      secs.cast("double").as("secs"))

  private def isDurType(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fieldNames.toSeq == Seq("months", "days", "secs")
      case _ => false
    }

  /** a duration struct as a Spark calendar interval, for +/- with
    * dates and timestamps
    */
  private def durInterval(c: Column): Column =
    make_interval(lit(0), c.getField("months").cast("int"), lit(0),
      c.getField("days").cast("int"), lit(0), lit(0),
      c.getField("secs").cast("decimal(18,6)"))

  /** truncation unit for date/datetime.truncate — a plan-time string
    * literal, validated against Spark's date_trunc vocabulary
    */
  private def truncUnit(e: Ast.Expr): String = e match {
    case Lit(s: String)
        if Set("year", "quarter", "month", "week", "day",
          "hour", "minute", "second").contains(s.toLowerCase) =>
      s.toLowerCase
    case other => throw PlanError(s"unsupported truncation unit: $other")
  }

  /** ISO-8601 duration text → (months, days, seconds), parsed at plan
    * time (duration('P14DT16H12M') — the literal form)
    */
  private def parseIsoDuration(s0: String): (Long, Long, Double) = {
    // a leading '-' negates every component (`-P1D`); components may
    // also carry their own sign (Neo4j: `P-1D` is valid)
    val (neg, s) =
      if (s0.startsWith("-")) (true, s0.drop(1)) else (false, s0)
    val re = ("""^P(?:(-?\d+)Y)?(?:(-?\d+)M)?(?:(-?\d+)W)?(?:(-?\d+)D)?""" +
      """(?:T(?:(-?\d+)H)?(?:(-?\d+)M)?(?:(-?\d+(?:\.\d+)?)S)?)?$""").r
    s match {
      case re(y, mo, w, d, h, mi, sec) =>
        def l(x: String) = Option(x).map(_.toLong).getOrElse(0L)
        def dd(x: String) = Option(x).map(_.toDouble).getOrElse(0.0)
        val sign = if (neg) -1 else 1
        (sign * (l(y) * 12 + l(mo)), sign * (l(w) * 7 + l(d)),
          sign * (dd(h) * 3600 + dd(mi) * 60 + dd(sec)))
      case _ => throw PlanError(s"cannot parse duration: $s0")
    }
  }

  /** Neo4j temporal accessor (`d.year`, `dt.epochMillis`, `dur.days`)
    * on a date/timestamp/duration-typed value; integer results, long
    * like every Cypher integer
    */
  private def temporalField(c: Column, t: org.apache.spark.sql.types.DataType,
      key: String): Option[Column] = {
    import org.apache.spark.sql.types.{DateType, TimestampType, StructType}
    def L(x: Column) = Some(x.cast("long"))
    val isTs = t == TimestampType
    t match {
      case DateType | TimestampType => key.toLowerCase match {
        case "year" => L(year(c))
        case "month" => L(month(c))
        case "day" => L(dayofmonth(c))
        case "week" => L(weekofyear(c))
        case "quarter" => L(quarter(c))
        case "ordinalday" => L(dayofyear(c))
        // Neo4j dayOfWeek: Monday=1 … Sunday=7 (Spark: Sunday=1)
        case "dayofweek" => L((dayofweek(c) + lit(5)) % 7 + 1)
        case "hour" if isTs => L(hour(c))
        case "minute" if isTs => L(minute(c))
        case "second" if isTs => L(second(c))
        case "millisecond" if isTs => L(pmod(unix_millis(c), lit(1000)))
        case "epochmillis" if isTs => L(unix_millis(c))
        case "epochseconds" if isTs => L(unix_seconds(c))
        case _ => None
      }
      case _: org.apache.spark.sql.types.TimeType => key.toLowerCase match {
        case "hour" => L(hour(c))
        case "minute" => L(minute(c))
        case "second" => L(second(c))
        case _ => None
      }
      case s: StructType if isDurType(s) => key.toLowerCase match {
        // each component group converts independently (Neo4j): the
        // month group feeds years/quarters, the day group weeks, the
        // second group hours/minutes/sub-second units
        case "years" => L(floor(c.getField("months") / 12))
        case "quarters" => L(floor(c.getField("months") / 3))
        case "months" => L(c.getField("months"))
        case "monthsofyear" => L(pmod(c.getField("months"), lit(12)))
        case "monthsofquarter" => L(pmod(c.getField("months"), lit(3)))
        case "quartersofyear" => L(floor(pmod(c.getField("months"), lit(12)) / 3))
        case "weeks" => L(floor(c.getField("days") / 7))
        case "days" => L(c.getField("days"))
        case "daysofweek" => L(pmod(c.getField("days"), lit(7)))
        case "hours" => L(floor(c.getField("secs") / 3600))
        case "minutes" => L(floor(c.getField("secs") / 60))
        case "minutesofhour" => L(pmod(floor(c.getField("secs") / 60), lit(60)))
        case "seconds" => L(c.getField("secs"))
        case "secondsofminute" => L(pmod(c.getField("secs"), lit(60)))
        case "milliseconds" => L(c.getField("secs") * 1000)
        case "microseconds" => L(c.getField("secs") * 1000000L)
        case "nanoseconds" => L(c.getField("secs") * 1000000000L)
        case _ => None
      }
      case _ => None
    }
  }

  private def subscriptCol(c: Column, idx: Ast.Expr): Column = {
    import org.apache.spark.sql.types._
    colTypeOpt(c) match {
      case Some(t)
          if t == DateType || t == TimestampType ||
            t.isInstanceOf[TimeType] => idx match {
        case Lit(s: String) => temporalField(c, t, s).getOrElse(
          throw PlanError(s"unknown temporal accessor: $s"))
        case other =>
          throw PlanError(s"temporal accessor needs a string key, got $other")
      }
      case Some(t: StructType) =>
        val nodeShaped = t.fieldNames.length >= 4 && t.fieldNames.take(4)
          .sameElements(Array("gid", "label", "source", "props"))
        idx match {
          case Lit(s: String) =>
            // a node-shaped struct (collect(n)[0].name) answers property
            // access like the node variable it came from
            if (nodeShaped) {
              if (Set("gid", "label", "source").contains(s)) c.getField(s)
              else pvStrOf(c.getField("props").getItem(s))
            } else temporalField(c, t, s).getOrElse(c.getField(s))
          case keyE if nodeShaped =>
            val keyC = strCol(keyE)
            when(keyC === "gid", c.getField("gid"))
              .when(keyC === "label", c.getField("label"))
              .when(keyC === "source", c.getField("source"))
              .otherwise(pvStrOf(element_at(c.getField("props"), keyC)))
          case keyE =>
            // dynamic key on a struct-backed map literal: the fields
            // are statically known, so a when-chain resolves the key
            // at runtime — typed when the fields share one type,
            // canonical strings otherwise
            val keyC = strCol(keyE)
            val fields = t.fields.toSeq
            if (fields.map(_.dataType).distinct.length == 1)
              fields.foldRight(lit(null).cast(fields.head.dataType)) {
                case (f, acc) =>
                  when(keyC === f.name, c.getField(f.name)).otherwise(acc)
              }
            else
              fields.foldRight(lit(null).cast("string")) { case (f, acc) =>
                when(keyC === f.name, c.getField(f.name).cast("string"))
                  .otherwise(acc)
              }
        }
      case Some(t) if t.isInstanceOf[org.apache.spark.sql.types.VariantType] =>
        // a VARIANT element (heterogeneous literal list): literal
        // keys/indexes navigate via variant_get JSON paths
        idx match {
          case Lit(s: String) => variant_get(c, s"$$.$s", "variant")
          case Lit(i: Long) if i >= 0 =>
            variant_get(c, s"$$[$i]", "variant")
          case other => throw PlanError(
            s"a VARIANT value subscripts with a literal key/index, got $other")
        }
      case Some(m: MapType) =>
        val v = try_element_at(c, valueCol(idx).cast(m.keyType))
        if (isPvMapType(m)) pvStrOf(v) else v
      case Some(_: ArrayType) =>
        val i = valueCol(idx).cast("int")
        try_element_at(c, when(i >= 0, i + 1).otherwise(i))
      case None => idx match {
        // lambda-scoped collection: resolve the access at analysis
        case Lit(s: String) => c.getItem(s)
        case _ =>
          val i = valueCol(idx).cast("int")
          try_element_at(c, when(i >= 0, i + 1).otherwise(i))
      }
      case Some(t) => throw PlanError(s"cannot subscript a $t value")
    }
  }

  /** the PV struct behind a property reference — node props map, or a
    * map-typed UNWIND item (the template's `item.gid`, neo4j.go:103)
    */
  private def pvOf(e: Ast.Expr): Option[Column] = e match {
    // a lambda binding shadows any frame variable of the same name
    case PropRef(v, _) if lambdaScope.contains(v) => None
    case PropRef(v, p) => env.get(v) match {
      case Some(NodeVar) if !Set("gid", "label", "source").contains(p) =>
        Some(col(s"${v}__props").getItem(p))
      case Some(ValueVar(cn)) if isPvMapType(colType(col(cn))) =>
        Some(col(cn).getItem(p))
      case _ => None
    }
    // subscript on a dynamic LIST property: the per-element type tag
    // (PV.at) reconstructs the element's typed slots, so every typed
    // context (arithmetic via numCol, string functions via typedProp,
    // type predicates, comparisons) dispatches on the STORED element
    // type instead of its canonical string — `n.nums[0] + 1` is 2,
    // not a string coercion
    case Subscript(coll, idx) =>
      pvOf(coll).map { pv =>
        val lst = pv.getField("a")
        val i = valueCol(idx).cast("int")
        val elem = try_element_at(lst, when(i >= 0, i + 1).otherwise(i))
        val ci = when(i >= 0, i).otherwise(size(lst) + i)
        // a legacy list (at = null) is all-string by construction
        val tag = coalesce(pv.getField("at").substr(ci + 1, lit(1)),
          lit("s"))
        val nul = lit(null)
        struct(
          when(tag === "s", elem).cast("string").as("s"),
          when(tag === "l", elem).cast("bigint").as("l"),
          when(tag === "d", elem).cast("double").as("d"),
          when(tag === "b", elem).cast("boolean").as("b"),
          nul.cast("array<string>").as("a"),
          nul.cast("string").as("at"))
      }
    case _ => None
  }

  /** the LIST-context view of an expression: a property reference
    * prefers its list slot (null when the value is scalar); anything
    * else lowers normally */
  private def listishCol(e: Ast.Expr): Column = pvOf(e) match {
    case Some(pv) => pv.getField("a")
    case None => valueCol(e)
  }

  /** the numeric (long-or-double) view of a PV property reference */
  private def numericSlot(e: Ast.Expr): Option[Column] = pvOf(e).map(pv =>
    coalesce(pv.getField("l").cast("double"), pv.getField("d")))

  private def typedProp(e: Ast.Expr, slot: String): Option[Column] =
    pvOf(e).map { pv =>
      slot match {
        case "s" => pvStrOf(pv)
        case "l" => coalesce(pv.getField("l"),
          pv.getField("d").cast("long"), pv.getField("s").cast("long"))
        case "d" => coalesce(pv.getField("d"),
          pv.getField("l").cast("double"), pv.getField("s").cast("double"))
        case "b" => coalesce(pv.getField("b"),
          pv.getField("s").cast("boolean"))
        case "a" => pv.getField("a")
      }
    }

  private def toPredicate(e: Ast.Expr): Column = e match {
    case And(l, r) => toPredicate(l) && toPredicate(r)
    case Or(l, r) => toPredicate(l) || toPredicate(r)
    case Not(x) => !toPredicate(x)
    case IsNull(x, negated) =>
      val c = x match {
        // IS NULL on a node variable tests bind success (OPTIONAL MATCH)
        case VarRef(n) if env.get(n).contains(NodeVar) => col(s"${n}__gid")
        case _ => valueCol(x)
      }
      if (negated) c.isNotNull else c.isNull
    // `x IS [NOT] :: TYPE` — the typed property slots ARE the type
    // witness: a dynamic prop holds exactly one of (s, l, d, b).
    // Neo4j: null satisfies every nullable type predicate, both
    // polarities.
    case TypePred(x, tpe, negated) =>
      val static = colTypeOpt(valueCol(x))
      val res = (static, tpe) match {
        case (Some(_: org.apache.spark.sql.types.ArrayType), _) =>
          val c = valueCol(x)
          when(c.isNull, lit(true)).otherwise(lit(tpe == "LIST") =!= negated)
        case (Some(_: org.apache.spark.sql.types.MapType), _) =>
          val c = valueCol(x)
          when(c.isNull, lit(true)).otherwise(lit(tpe == "MAP") =!= negated)
        case _ =>
          if (tpe == "LIST" || tpe == "MAP") {
            // a PV-slot value is never a list/map
            val pv = pvCol(x)
            when(pv.isNull, lit(true)).otherwise(lit(negated))
          } else {
            val pv = pvCol(x)
            val slotC = tpe match {
              case "INTEGER" => pv.getField("l")
              case "FLOAT" => pv.getField("d")
              case "STRING" => pv.getField("s")
              case "BOOLEAN" => pv.getField("b")
            }
            val allNull = pv.isNull ||
              (pv.getField("s").isNull && pv.getField("l").isNull &&
                pv.getField("d").isNull && pv.getField("b").isNull &&
                pv.getField("a").isNull)
            when(allNull, lit(true))
              .otherwise(slotC.isNotNull =!= lit(negated))
          }
      }
      res
    case Cmp(op, l, r) =>
      def apply(lc: Column, rc: Column): Column = cmpOp(op, lc, rc)
      (numericSlot(l), numericSlot(r)) match {
        // property-to-property: numbers compare numerically when both
        // sides hold numeric slots, else canonical strings — a plain
        // string comparison would order "9" > "40". Numeric slots only
        // (no string-cast fallback — ANSI mode would throw on text).
        case (Some(ln), Some(rn)) =>
          when(ln.isNotNull && rn.isNotNull, apply(ln, rn))
            .otherwise(apply(valueCol(l), valueCol(r)))
        // property vs a statically-NUMERIC column (a WITH alias like
        // toFloat(n.x), arithmetic, count(*)): a numeric property
        // value compares through its numeric slot; a non-numeric one
        // is a cross-family comparison (false for =, true for <>,
        // null for ordering); null propagates as null
        case (Some(ln), None) if staticNumericCol(r).isDefined =>
          propVsNumeric(op, ln, valueCol(l), staticNumericCol(r).get,
            propLeft = true)
        case (None, Some(rn)) if staticNumericCol(l).isDefined =>
          propVsNumeric(op, rn, valueCol(r), staticNumericCol(l).get,
            propLeft = false)
        case _ =>
          val (lc, rc) = cmpSides(l, r)
          // cross-type-family comparison (`1 = '1'`): Cypher says
          // values of different families are never equal (Spark's
          // coercion would cast and say true); ordering across
          // families is null. Runtime nulls still propagate as null.
          import org.apache.spark.sql.types.{BooleanType, NumericType, StringType}
          def fam(c: Column): Option[Int] = colTypeOpt(c) match {
            case Some(_: NumericType) => Some(1)
            case Some(StringType) => Some(2)
            case Some(BooleanType) => Some(3)
            case _ => None
          }
          // map (struct-backed) equality is KEY-SET equality, not
          // field-order equality (probe 14: {a:1,b:'x'} = {b:'x',a:1}
          // is true in Neo4j). Both sides reorder their fields by
          // name — a pure, equality-preserving rewrite that also
          // passes durations/points through unchanged (fixed field
          // sets); different key sets mean the maps are simply
          // unequal.
          val structEq: Option[Column] =
            (colTypeOpt(lc), colTypeOpt(rc)) match {
              case (Some(ls: org.apache.spark.sql.types.StructType),
                    Some(rs: org.apache.spark.sql.types.StructType))
                  if op == "=" || op == "<>" =>
                def reorder(c: Column,
                    t: org.apache.spark.sql.types.StructType): Column =
                  struct(t.fieldNames.sorted.toSeq
                    .map(n => c.getField(n).as(n)): _*)
                val sameKeys =
                  ls.fieldNames.sorted.sameElements(rs.fieldNames.sorted)
                Some(if (!sameKeys)
                  when(lc.isNull || rc.isNull, lit(null).cast("boolean"))
                    .otherwise(lit(op == "<>"))
                else apply(reorder(lc, ls), reorder(rc, rs)))
              case _ => None
            }
          if (structEq.nonEmpty) structEq.get
          else (fam(lc), fam(rc)) match {
            case (Some(a), Some(b)) if a != b => op match {
              case "=" => when(lc.isNull || rc.isNull,
                lit(null).cast("boolean")).otherwise(lit(false))
              case "<>" => when(lc.isNull || rc.isNull,
                lit(null).cast("boolean")).otherwise(lit(true))
              case _ => lit(null).cast("boolean")
            }
            case _ => apply(lc, rc)
          }
      }
    case InList(x, listE) =>
      // literal / scalar-param lists compare through the typed slot of
      // the tested side (a numeric prop must match numeric items, not
      // its canonical-string rendering); anything else — collected
      // lists, item fields — goes through array_contains on values
      def inlineVals(le: Ast.Expr): Option[Seq[Any]] = le match {
        case ListLit(items) if items.nonEmpty &&
            items.forall(_.isInstanceOf[Lit]) =>
          Some(items.map { case Lit(v) => v })
        case Param(n) => params.get(n) match {
          case Some(seq: Seq[_]) if seq.nonEmpty &&
              !seq.exists(v => v.isInstanceOf[Map[_, _]] ||
                v.isInstanceOf[Seq[_]]) => Some(seq)
          case _ => None
        }
        case _ => None
      }
      inlineVals(listE) match {
        case Some(vs) =>
          val side = x match {
            case p: PropRef => typedSide(p, vs.head)
            case _ => valueCol(x)
          }
          side.isin(vs: _*)
        case None => x match {
          // node/rel membership in a collected list compares by
          // IDENTITY (the collected struct's gid), as Neo4j does
          case VarRef(n) if env.get(n).contains(NodeVar) =>
            array_contains(
              transform(listishCol(listE), _.getField("gid")),
              col(s"${n}__gid"))
          case _ => array_contains(listishCol(listE), valueCol(x))
        }
      }
    case StrPred(op, l, r) =>
      // a dynamic property tests through its strict `s` slot: Neo4j's
      // STARTS WITH / CONTAINS / ENDS WITH / =~ are null on
      // non-strings — a numeric property's "9000.0" rendering must
      // not match `STARTS WITH '9'` (and the strict slot is what lets
      // the sect=r prefix route prune to string-region buckets only)
      def strSide(e: Ast.Expr): Column = e match {
        case p: PropRef if aggProjection && !inAggArg =>
          typedProp(p, "s").getOrElse(valueCol(e))
        case p: PropRef => pvOf(p).map(_.getField("s"))
          .getOrElse(valueCol(e))
        case _ => valueCol(e)
      }
      val (lc, rc) = (strSide(l), strSide(r))
      op match {
        case "startswith" => lc.startsWith(rc)
        case "endswith" => lc.endsWith(rc)
        case "contains" => lc.contains(rc)
        // `=~` — whole-string regex match (Cypher anchors both ends)
        case "regex" => regexp_like(lc, concat(lit("^(?:"), rc, lit(")$")))
      }
    case other => valueCol(other).cast("boolean")
  }

  /** the lowered column when its STATIC type is numeric (a WITH alias,
    * arithmetic, an aggregate) — the bridge that lets a dynamic
    * property compare numerically against runtime numbers */
  private def staticNumericCol(e: Ast.Expr): Option[Column] = {
    val c = valueCol(e)
    colTypeOpt(c) match {
      case Some(_: org.apache.spark.sql.types.NumericType) =>
        Some(c.cast("double"))
      case _ => None
    }
  }

  /** dynamic-prop-vs-numeric-column comparison: numeric slot when the
    * property holds a number, cross-family semantics otherwise */
  private def propVsNumeric(op: String, slot: Column, propVal: Column,
      num: Column, propLeft: Boolean): Column = {
    val ordered = if (propLeft) cmpOp(op, slot, num) else cmpOp(op, num, slot)
    when(slot.isNotNull && num.isNotNull, ordered)
      .otherwise(op match {
        case "=" => when(propVal.isNull || num.isNull,
          lit(null).cast("boolean")).otherwise(lit(false))
        case "<>" => when(propVal.isNull || num.isNull,
          lit(null).cast("boolean")).otherwise(lit(true))
        case _ => lit(null).cast("boolean")
      })
  }

  private def cmpSides(l: Ast.Expr, r: Ast.Expr): (Column, Column) =
    (l, r) match {
      // node/rel identity vs a startNode()/endNode() identity string:
      // compare gids (Neo4j compares graph elements by identity)
      case (FuncCall("startnode" | "endnode", _, _), VarRef(n))
          if env.get(n).exists(k => k == NodeVar || k == RelVar) =>
        (valueCol(l), identOr(r))
      case (VarRef(n), FuncCall("startnode" | "endnode", _, _))
          if env.get(n).exists(k => k == NodeVar || k == RelVar) =>
        (identOr(l), valueCol(r))
      // node/rel vs node/rel (`a <> b`, `a = b`): identity comparison
      // — the bound struct carries an unorderable props map, and
      // Neo4j compares graph elements by identity anyway
      case (VarRef(a), VarRef(b))
          if env.get(a).exists(k => k == NodeVar || k == RelVar) &&
            env.get(b).exists(k => k == NodeVar || k == RelVar) =>
        (identOr(l), identOr(r))
      case (p: PropRef, Lit(v)) => (typedSide(p, v), lit(v))
      case (Lit(v), p: PropRef) => (lit(v), typedSide(p, v))
      case (p: PropRef, Param(n)) if scalarParam(n).isDefined =>
        val v = scalarParam(n).get
        (typedSide(p, v), lit(v))
      case (Param(n), p: PropRef) if scalarParam(n).isDefined =>
        val v = scalarParam(n).get
        (lit(v), typedSide(p, v))
      case _ => (valueCol(l), valueCol(r))
    }


  /** resolve a SKIP/LIMIT operand (integer literal or parameter) */
  private def boundVal(e: Ast.Expr, what: String): Long = e match {
    case Lit(v: Long) => v
    case Param(n) => scalarParam(n) match {
      case Some(v: Long) => v
      case Some(v: Int) => v.toLong
      case other => throw PlanError(s"$what parameter must be an integer, got $other")
    }
    // constant integer arithmetic folds (`LIMIT 1 + 1`, `SKIP $n * 2`)
    case Arith(op, l, r) =>
      val (a, b) = (boundVal(l, what), boundVal(r, what))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" =>
          if (b == 0) throw PlanError(s"$what divides by zero") else a / b
        case "%" =>
          if (b == 0) throw PlanError(s"$what divides by zero") else a % b
        case other => throw PlanError(s"$what: unsupported operator $other")
      }
    case other => throw PlanError(s"$what must be an integer: $other")
  }

  private def scalarParam(n: String): Option[Any] = params.get(n) match {
    case Some(_: Seq[_]) | Some(_: Map[_, _]) | None => None
    case Some(v) => Some(v)
  }

  /** the compared column of a dynamic property against a typed
    * literal/param. The STRING case reads the strict `s` slot (not the
    * canonical rendering): Cypher compares values of different
    * families as null (ordering) / false (equality), so a numeric
    * property must NOT match or order against a string bound via its
    * "9000.0" rendering — which also makes a string bound a true
    * s:-region pin for the sect=r index route (a routed and an
    * unrouted plan agree by construction), and matches the strict-slot
    * semantics the inline-prop path (propCmp) and the px equality
    * encoding already had. */
  /** true while lowering an AGGREGATED projection item: there, a
    * property reference must structurally contain the group key (the
    * canonical rendering) for Catalyst's grouping check — and group
    * keys ARE renderings, so the rendering form is the semantics of
    * that context anyway */
  private var aggProjection: Boolean = false

  private def typedSide(p: Ast.PropRef, litVal: Any): Column = litVal match {
    case _: String if aggProjection && !inAggArg =>
      typedProp(p, "s").getOrElse(valueCol(p))
    case _: String => pvOf(p).map(_.getField("s")).getOrElse(valueCol(p))
    case _: Long | _: Double =>
      typedProp(p, "d").getOrElse(valueCol(p).cast("double"))
    case _: Boolean => typedProp(p, "b").getOrElse(valueCol(p))
    case _ => valueCol(p)
  }
}

/** Facade: the D1 `Query(query string)` contract, made real. */
object CypherEngine {
  def query(store: GraphStore, cypher: String,
      params: Map[String, Any] = Map.empty): DataFrame = {
    // Neo4j EXPLAIN/PROFILE prefixes: EXPLAIN plans the query and
    // returns the physical plan WITHOUT running it (write effects are
    // not applied — parity with Neo4j, whose EXPLAIN never touches
    // data... read queries only here, writes are rejected); PROFILE
    // runs the query and appends the executed plan with per-node
    // stats (Spark's formatted explain after an AQE-final execution).
    // Cypher time()/localtime() lower to Spark 4's native TIME type,
    // which ships behind a flag — enable it for the engine's queries
    store.sparkSession.conf
      .set("spark.sql.timeType.enabled", "true")
    val trimmed0 = cypher.dropWhile(_.isWhitespace)
    // SHOW PROCEDURES / FUNCTIONS / DATABASES (the Neo4j 4.3+ command
    // surface) desugar to their registry procedures; a trailing
    // YIELD/WHERE/RETURN rides along, the bare command yields all
    // columns ordered by name
    val trimmed = {
      val u0 = trimmed0.toUpperCase
      def show(cmd: String, proc: String, cols: Seq[String]): Option[String] =
        if (!u0.startsWith(cmd)) None
        else {
          val rest = trimmed0.drop(cmd.length).trim
          Some(
            if (rest.isEmpty)
              s"CALL $proc() YIELD ${cols.mkString(", ")} " +
                s"RETURN ${cols.mkString(", ")} ORDER BY ${cols.head}"
            else s"CALL $proc() $rest")
        }
      // the kind-filtered index listings (Neo4j 5): SHOW VECTOR/
      // FULLTEXT INDEXES desugar to db.indexes + a type filter
      def showKind(cmd: String, kind: String): Option[String] =
        if (!u0.startsWith(cmd)) None
        else {
          val cols = Seq("name", "type", "entityType", "properties",
            "state", "labelsOrTypes", "indexProvider",
            "populationPercent")
          val rest = trimmed0.drop(cmd.length).trim
          Some(
            if (rest.isEmpty)
              s"CALL db.indexes() YIELD ${cols.mkString(", ")} " +
                s"WHERE type = '$kind' " +
                s"RETURN ${cols.mkString(", ")} ORDER BY name"
            else {
              // `SHOW RANGE INDEXES YIELD name WHERE … RETURN …`: the
              // user's YIELD projects after the kind filter — rewrite
              // it as a WITH stage so it chains onto the synthesized
              // filter pipeline
              val restAdj =
                if (rest.toUpperCase.startsWith("YIELD"))
                  "WITH" + rest.drop("YIELD".length)
                else rest
              s"CALL db.indexes() YIELD ${cols.mkString(", ")} " +
                s"WHERE type = '$kind' WITH ${cols.mkString(", ")} $restAdj"
            })
        }
      show("SHOW PROCEDURES", "dbms.procedures", Seq("name", "signature"))
        .orElse(show("SHOW FUNCTIONS", "dbms.functions",
          Seq("name", "category")))
        .orElse(show("SHOW DATABASES", "dbms.databases",
          Seq("name", "currentStatus")))
        .orElse(showKind("SHOW VECTOR INDEXES", "VECTOR"))
        .orElse(showKind("SHOW FULLTEXT INDEXES", "FULLTEXT"))
        .orElse(showKind("SHOW RANGE INDEXES", "RANGE"))
        .orElse(show("SHOW INDEXES", "db.indexes",
          Seq("name", "type", "entityType", "properties", "state",
            "labelsOrTypes", "indexProvider", "populationPercent")))
        .orElse(show("SHOW CONSTRAINTS", "db.constraints",
          Seq("name", "type", "entityType", "labelsOrTypes", "properties")))
        .getOrElse(trimmed0)
    }
    // CREATE/DROP INDEX and CONSTRAINT DDL: the store's indexes are
    // intrinsic to its layout (gid-hash buckets + sort, relType
    // directories, redges) and its uniqueness/existence constraints
    // intrinsic to its model (gid IS the node key on every label —
    // upserts can never create a duplicate or a null key) — accept
    // the statements idempotently, as the reference's index DDL is
    // (B10); nothing to build or tear down
    // CREATE VECTOR/FULLTEXT INDEX: REAL index DDL — registers the
    // def in the store sidecar and builds the index table from the
    // current snapshot (a vector index trains its IVF quantizer once,
    // here); every later commit maintains the table incrementally
    val VectorIdxRe =
      ("""(?is)^CREATE\s+VECTOR\s+INDEX\s+(\w+)(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)\s*ON\s*\(?\s*\w+\.(\w+)""" +
        """\s*\)?\s*(OPTIONS\s*\{.*\})?\s*$""").r
    val FulltextIdxRe =
      ("""(?is)^CREATE\s+FULLTEXT\s+INDEX\s+(\w+)(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)\s*ON\s+EACH\s*""" +
        """\[\s*(\w+\.\w+(?:\s*,\s*\w+\.\w+)*)\s*\]""" +
        """\s*(OPTIONS\s*\{.*\})?\s*$""").r
    // relationship fulltext index (`FOR ()-[r:T]-()`): the edge table
    // is the document source — identity src·relType·dst, indexable
    // property `source` (edges carry no other properties in this
    // model; any other property list gets a targeted error)
    val RelFulltextIdxRe =
      ("""(?is)^CREATE\s+FULLTEXT\s+INDEX\s+(\w+)(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\)\s*-\s*\[\s*\w+\s*:\s*(\w+)\s*\]\s*-\s*\(\s*\)""" +
        """\s*ON\s+EACH\s*\[\s*(\w+\.\w+(?:\s*,\s*\w+\.\w+)*)\s*\]""" +
        """\s*(OPTIONS\s*\{.*\})?\s*$""").r
    // CREATE [RANGE] INDEX … FOR (n:L) ON (n.prop): a REAL
    // property-value index — a commit-maintained (sect=p, H(val))
    // projection table the planner routes `MATCH (n:L {p: $v})`
    // through (the most common lookup in a ported Neo4j app after
    // gid; the reference's one index is this exact shape for gid,
    // /root/reference/neo4j.go:21). The name is optional (Neo4j
    // auto-names) — derived as index_<label>_<prop>.
    // composite form (`ON (n.a, n.b)`): one index keyed on the TUPLE
    // of all listed properties — routed only when every key has an
    // equality binding (Neo4j's composite-index seek semantics)
    val CompositeIdxRe =
      ("""(?is)^CREATE\s+(?:RANGE\s+)?INDEX""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)""" +
        """\s*ON\s*\(\s*(\w+\.\w+(?:\s*,\s*\w+\.\w+)+)\s*\)""" +
        """\s*(?:OPTIONS\s*\{.*\})?\s*$""").r
    val PropIdxRe =
      ("""(?is)^CREATE\s+(?:RANGE\s+)?INDEX""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)""" +
        """\s*ON\s*\(\s*\w+\.(\w+)\s*\)""" +
        // Neo4j dump/export DDL carries OPTIONS {indexProvider:
        // 'range-1.0'} — accepted and ignored (one physical layout
        // here); without this the statement would SILENTLY fall to
        // the generic intrinsic ack and build nothing
        """\s*(?:OPTIONS\s*\{.*\})?\s*$""").r
    // graft POINT index (Z-order): two coordinate properties —
    // Neo4j's CREATE POINT INDEX takes one point-typed property; this
    // model splits coordinates into two numeric props, so the DDL
    // names both (x first, y second)
    val PointIdxRe =
      ("""(?is)^CREATE\s+POINT\s+INDEX""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)""" +
        """\s*ON\s*\(\s*\w+\.(\w+)\s*,\s*\w+\.(\w+)\s*\)""" +
        """\s*(?:OPTIONS\s*\{.*\})?\s*$""").r
    // Neo4j 5 relationship property index:
    // CREATE INDEX n FOR ()-[r:T]-() ON (r.source)
    val RelPropIdxRe =
      ("""(?is)^CREATE\s+(?:RANGE\s+)?INDEX""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\)\s*[<]?-\s*\[\s*\w*\s*:\s*(\w+)\s*\]\s*-[>]?\s*\(\s*\)""" +
        """\s*ON\s*\(\s*\w+\.(\w+)\s*\)""" +
        """\s*(?:OPTIONS\s*\{.*\})?\s*$""").r
    def ddlAck(info: String): DataFrame = {
      val spark = store.sparkSession
      import spark.implicits._
      Seq((info, true)).toDF("info", "acknowledged")
    }
    def createSearchIndex(name: String, ifNotExists: Boolean,
        d: graft.store.IndexDef): DataFrame = {
      if (store.indexDef(name).isDefined) {
        if (ifNotExists) return ddlAck(s"index $name already exists")
        throw new IllegalArgumentException(
          s"an index named $name already exists (use IF NOT EXISTS)")
      }
      store.buildSearchIndex(d)
      ddlAck(s"created ${d.kind} index $name on :${d.label}(${d.property})")
    }
    trimmed match {
      case VectorIdxRe(name, ine, label, prop, opts) =>
        val optStr = Option(opts).getOrElse("")
        val dims = """(?i)[`"]?vector\.dimensions[`"]?\s*:\s*(\d+)""".r
          .findFirstMatchIn(optStr).map(_.group(1).toInt).getOrElse(0)
        val sim =
          """(?i)[`"]?vector\.similarity_function[`"]?\s*:\s*'(\w+)'""".r
            .findFirstMatchIn(optStr).map(_.group(1).toLowerCase)
            .getOrElse("cosine")
        if (sim != "cosine" && sim != "euclidean")
          throw new IllegalArgumentException(
            s"unsupported vector similarity function: $sim " +
              "(cosine | euclidean)")
        // IVF scale dials (graft extensions): cells pins the trained
        // coarse-quantizer size, nprobe the probe width; both default
        // to 0 = auto (cells ~N/1024 at build, nprobe ~√cells/2)
        val ivfCells = """(?i)[`"]?graft\.ivf\.cells[`"]?\s*:\s*(\d+)""".r
          .findFirstMatchIn(optStr).map(_.group(1).toInt).getOrElse(0)
        val ivfNProbe = """(?i)[`"]?graft\.ivf\.nprobe[`"]?\s*:\s*(\d+)""".r
          .findFirstMatchIn(optStr).map(_.group(1).toInt).getOrElse(0)
        if (ivfCells < 0 || ivfCells > graft.store.SearchIndexes.MaxCells)
          throw new IllegalArgumentException(
            s"graft.ivf.cells out of range: $ivfCells (1..4096)")
        // `graft.graph.degree`: >0 adds the persisted proximity-graph
        // tier (NSW adjacency + beam search) beside the IVF cells
        val graphDeg = """(?i)[`"]?graft\.graph\.degree[`"]?\s*:\s*(\d+)""".r
          .findFirstMatchIn(optStr).map(_.group(1).toInt).getOrElse(0)
        if (graphDeg < 0 || graphDeg > 64)
          throw new IllegalArgumentException(
            s"graft.graph.degree out of range: $graphDeg (1..64)")
        // `graft.quantization`: 'sq8' | 'bq' stores codes instead of
        // raw float64 rows; queries shortlist on codes and exact-
        // rescore from the node rows
        val quant =
          """(?i)[`"]?graft\.quantization[`"]?\s*:\s*'(\w+)'""".r
            .findFirstMatchIn(optStr).map(_.group(1).toLowerCase)
            .getOrElse("")
        if (quant.nonEmpty && quant != "sq8" && quant != "bq")
          throw new IllegalArgumentException(
            s"unsupported graft.quantization: $quant (sq8 | bq)")
        // sq8 + graph is the DiskANN shape: the adjacency rows store
        // CODES (8× less beam IO), the beam scores approximately, and
        // the final frontier exact-rescores from the node rows. bq's
        // 1-bit codes are too coarse to steer a beam — still rejected.
        if (quant == "bq" && graphDeg > 0)
          throw new IllegalArgumentException(
            "graft.quantization 'bq' cannot combine with " +
              "graft.graph.degree (1-bit codes cannot steer the beam); " +
              "use 'sq8' for the quantized graph tier")
        return createSearchIndex(name, ine != null, graft.store.IndexDef(
          name, "vector", label, prop, dims = dims, similarity = sim,
          cells = ivfCells, nprobe = ivfNProbe, graphDeg = graphDeg,
          quant = quant))
      case FulltextIdxRe(name, ine, label, propList, opts) =>
        // `ON EACH [n.title, n.body]`: store the property NAMES
        // comma-joined; the index concatenates the fields
        val props = propList.split(",")
          .map(_.trim.split("\\.", 2)(1)).mkString(",")
        // Neo4j's `fulltext.analyzer` indexConfig — defaults to the
        // standard analyzer (lowercase, non-alphanumeric split), like
        // Neo4j's standard-no-stop-words; 'whitespace' keeps the
        // case-sensitive \s+ tokenizer
        val an = """(?i)[`"]?fulltext\.analyzer[`"]?\s*:\s*'([\w-]+)'""".r
          .findFirstMatchIn(Option(opts).getOrElse(""))
          .map(_.group(1).toLowerCase)
          .getOrElse(graft.store.SearchIndexes.StandardAnalyzer)
        if (!graft.store.SearchIndexes.Analyzers.contains(an))
          throw new IllegalArgumentException(
            s"unknown fulltext analyzer: $an (" +
              graft.store.SearchIndexes.Analyzers.toSeq.sorted
                .mkString(" | ") + ")")
        return createSearchIndex(name, ine != null, graft.store.IndexDef(
          name, "fulltext", label, props, analyzer = an))
      case RelFulltextIdxRe(name, ine, relType, propList, opts) =>
        val props = propList.split(",")
          .map(_.trim.split("\\.", 2)(1)).toSeq
        props.find(_ != "source").foreach(p =>
          throw new IllegalArgumentException(
            s"relationship fulltext indexes can only index r.source " +
              s"(edges carry no other properties in this model), got r.$p"))
        val an = """(?i)[`"]?fulltext\.analyzer[`"]?\s*:\s*'([\w-]+)'""".r
          .findFirstMatchIn(Option(opts).getOrElse(""))
          .map(_.group(1).toLowerCase)
          .getOrElse(graft.store.SearchIndexes.StandardAnalyzer)
        if (!graft.store.SearchIndexes.Analyzers.contains(an))
          throw new IllegalArgumentException(
            s"unknown fulltext analyzer: $an (" +
              graft.store.SearchIndexes.Analyzers.toSeq.sorted
                .mkString(" | ") + ")")
        return createSearchIndex(name, ine != null, graft.store.IndexDef(
          name, "fulltext", relType, "source", analyzer = an,
          entity = "RELATIONSHIP"))
      case PropIdxRe(name0, ine, label, prop) =>
        // gid IS the physical layout (hash buckets + sort) — nothing
        // to build; likewise the model columns
        if (prop == "gid" || prop == "source" || prop == "label")
          return ddlAck(s"$prop indexes are intrinsic to the store layout")
        val name = Option(name0).getOrElse(s"index_${label}_$prop")
        return createSearchIndex(name, ine != null, graft.store.IndexDef(
          name, "property", label, prop))
      case CompositeIdxRe(name0, ine, label, propList) =>
        val props = propList.split(",")
          .map(_.trim.split("\\.", 2)(1)).toSeq
        props.find(p => p == "gid" || p == "source" || p == "label")
          .foreach(p => throw new IllegalArgumentException(
            s"composite indexes cannot include the model column $p " +
              "(gid/source/label are intrinsic to the store layout)"))
        if (props.distinct.size != props.size)
          throw new IllegalArgumentException(
            s"duplicate property in composite index: ${props.mkString(", ")}")
        val name = Option(name0)
          .getOrElse(s"index_${label}_${props.mkString("_")}")
        return createSearchIndex(name, ine != null, graft.store.IndexDef(
          name, "property", label, props.mkString(",")))
      case PointIdxRe(name0, ine, label, xp, yp) =>
        if (xp == yp) throw new IllegalArgumentException(
          "a point index needs two DISTINCT coordinate properties")
        val name = Option(name0).getOrElse(s"pointidx_${label}_${xp}_$yp")
        return createSearchIndex(name, ine != null, graft.store.IndexDef(
          name, "property", label, s"$xp,$yp", zorder = true))
      case RelPropIdxRe(name0, ine, relType, prop) =>
        // the edge model's property surface is source + type
        // (/root/reference/neo4j.go:120-123); `type` redirects to the
        // relType-major directory layout, which already IS that index
        if (prop == "type" || prop == "relType")
          return ddlAck(
            "relationship type lookups are intrinsic to the store " +
              "layout (relType-major directories)")
        if (prop != "source")
          throw new IllegalArgumentException(
            "relationship property indexes can only index r.source " +
              s"(edges carry no other properties in this model), got r.$prop")
        val name = Option(name0).getOrElse(s"index_rel_${relType}_$prop")
        return createSearchIndex(name, ine != null, graft.store.IndexDef(
          name, "property", relType, prop, entity = "RELATIONSHIP"))
      case _ =>
        // a vector/fulltext DDL that did NOT match the supported form
        // (multi-property list, relationship target, unnamed index)
        // gets a targeted error instead of a generic parse failure
        val u = trimmed.toUpperCase
        if (u.startsWith("CREATE VECTOR INDEX"))
          throw new IllegalArgumentException(
            "unsupported CREATE VECTOR INDEX form; supported: " +
              "CREATE VECTOR INDEX <name> [IF NOT EXISTS] " +
              "FOR (n:Label) ON (n.prop) [OPTIONS {indexConfig: " +
              "{`vector.dimensions`: d, `vector.similarity_function`: " +
              "'cosine'|'euclidean'}}] — node indexes, one property " +
              "(relationship vector indexes are unsupported: edges " +
              "carry no list-valued properties in this model)")
        if (u.startsWith("CREATE FULLTEXT INDEX"))
          throw new IllegalArgumentException(
            "unsupported CREATE FULLTEXT INDEX form; supported: " +
              "CREATE FULLTEXT INDEX <name> [IF NOT EXISTS] FOR " +
              "(n:Label) ON EACH [n.p1, …] or FOR ()-[r:T]-() ON " +
              "EACH [r.source]")
    }
    val DropIdxRe = """(?is)^DROP\s+INDEX\s+(\w+)(\s+IF\s+EXISTS)?\s*$""".r
    trimmed match {
      case DropIdxRe(name, _) if store.indexDef(name).isDefined =>
        // a constraint's backing index cannot be dropped out from
        // under its enforcement (Neo4j: "is owned by constraint") —
        // DROP CONSTRAINT removes both
        if (store.indexDef(name).exists(_.constraint.nonEmpty))
          throw new IllegalArgumentException(
            s"index $name is owned by constraint $name; " +
              s"use DROP CONSTRAINT $name")
        store.dropSearchIndex(name)
        return ddlAck(s"dropped index $name")
      case _ => ()
    }
    if (trimmed.toUpperCase.startsWith("CREATE INDEX") ||
        trimmed.toUpperCase.startsWith("DROP INDEX")) {
      return ddlAck("indexes are intrinsic to the store layout")
    }
    // CREATE CONSTRAINT … REQUIRE n.p IS UNIQUE / IS NOT NULL: REAL
    // declared constraints — a unique constraint builds (and is
    // enforced through) a px index probe at every commit; NOT NULL
    // checks each batch's changed rows. gid uniqueness/existence stay
    // intrinsic (the merge path upserts by gid).
    val UniqueConstraintRe =
      ("""(?is)^CREATE\s+CONSTRAINT""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)""" +
        """\s+REQUIRE\s+\(?\s*(\w+\.\w+(?:\s*,\s*\w+\.\w+)*)\s*\)?""" +
        """\s+IS\s+UNIQUE\s*$""").r
    val ExistsConstraintRe =
      ("""(?is)^CREATE\s+CONSTRAINT""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)""" +
        """\s+REQUIRE\s+\(?\s*\w+\.(\w+)\s*\)?""" +
        """\s+IS\s+NOT\s+NULL\s*$""").r
    // NODE KEY = composite UNIQUE + NOT NULL on every component
    // (Neo4j's definition) — one def enforcing both at commit, whose
    // px table doubles as a composite lookup/range route
    val NodeKeyRe =
      ("""(?is)^CREATE\s+CONSTRAINT""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)""" +
        """\s+REQUIRE\s+\(?\s*(\w+\.\w+(?:\s*,\s*\w+\.\w+)*)\s*\)?""" +
        """\s+IS\s+NODE\s+KEY\s*$""").r
    // relationship-property existence — `FOR ()-[r:T]-()`; the edge
    // model carries exactly `source` (the reference's bare refs), so
    // other properties get a targeted rejection at creation
    val RelExistsRe =
      ("""(?is)^CREATE\s+CONSTRAINT""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\)\s*[<]?-\s*\[\s*\w*\s*:\s*(\w+)\s*\]\s*-[>]?\s*\(\s*\)""" +
        """\s+REQUIRE\s+\(?\s*\w+\.(\w+)\s*\)?""" +
        """\s+IS\s+NOT\s+NULL\s*$""").r
    val RelUniqueRe =
      ("""(?is)^CREATE\s+CONSTRAINT.*""" +
        """FOR\s*\(\s*\)\s*[<]?-\s*\[.*\]\s*-[>]?\s*\(\s*\).*""" +
        """IS\s+(?:UNIQUE|RELATIONSHIP\s+KEY)\s*$""").r
    // property TYPE constraints (Neo4j 5.9, `REQUIRE n.p IS ::
    // STRING` / `IS TYPED STRING`): enforced via the PV slot witness
    val TypeConstraintRe =
      ("""(?is)^CREATE\s+CONSTRAINT""" +
        """(?:\s+(?!FOR\s)(?!IF\s)(\w+))?(\s+IF\s+NOT\s+EXISTS)?""" +
        """\s+FOR\s*\(\s*\w+\s*:\s*(\w+)\s*\)""" +
        """\s+REQUIRE\s+\(?\s*\w+\.(\w+)\s*\)?""" +
        """\s+IS\s+(?:::\s*|TYPED\s+)(.+?)\s*$""").r
    val DropConstraintRe =
      """(?is)^DROP\s+CONSTRAINT\s+(\w+)(\s+IF\s+EXISTS)?\s*$""".r
    def createConstraint(name: String, ifNotExists: Boolean,
        d: graft.store.IndexDef): DataFrame = {
      if (store.indexDef(name).isDefined) {
        if (ifNotExists) return ddlAck(s"constraint $name already exists")
        throw new IllegalArgumentException(
          s"a constraint or index named $name already exists " +
            "(use IF NOT EXISTS)")
      }
      store.buildConstraint(d)
      val what = d.constraint match {
        case "unique" => "uniqueness"
        case "nodekey" => "node key"
        case t if t.startsWith("type:") => s"property type ${t.drop(5)}"
        case _ if d.entity == "RELATIONSHIP" => "relationship existence"
        case _ => "existence"
      }
      ddlAck(s"created $what constraint $name on " +
        s"${if (d.entity == "RELATIONSHIP") "()-[:" + d.label + "]-()"
          else ":" + d.label}(${d.property})")
    }
    trimmed match {
      case NodeKeyRe(name0, ine, label, propList) =>
        val props = propList.split(",")
          .map(_.trim.split("\\.", 2)(1)).toSeq
        if (props.contains("gid"))
          return ddlAck("gid is the intrinsic node key of the store model")
        val name = Option(name0)
          .getOrElse(s"constraint_${label}_${props.mkString("_")}_key")
        return createConstraint(name, ine != null, graft.store.IndexDef(
          name, "property", label, props.mkString(","),
          constraint = "nodekey"))
      case RelExistsRe(name0, ine, relType, prop) =>
        if (prop == "type" || prop == "relType")
          return ddlAck(
            "relationship type existence is intrinsic to the edge model")
        if (prop != "source")
          throw new IllegalArgumentException(
            s"relationship constraints cover r.source — the edge model " +
              s"carries exactly (source, type) per the reference's " +
              s"templates; got r.$prop")
        val name = Option(name0)
          .getOrElse(s"constraint_rel_${relType}_$prop")
        return createConstraint(name, ine != null, graft.store.IndexDef(
          name, "constraint", relType, prop, constraint = "exists",
          entity = "RELATIONSHIP"))
      case RelUniqueRe() =>
        throw new IllegalArgumentException(
          "relationship uniqueness / key constraints are not supported: " +
            "the store dedups edges on (src, relType, dst) by " +
            "construction (the reference's MERGE template), and edges " +
            "carry no other identity-bearing properties")
      case UniqueConstraintRe(name0, ine, label, propList) =>
        val props = propList.split(",")
          .map(_.trim.split("\\.", 2)(1)).toSeq
        if (props.contains("gid"))
          return ddlAck("gid uniqueness is intrinsic to the store model")
        val name = Option(name0)
          .getOrElse(s"constraint_${label}_${props.mkString("_")}")
        return createConstraint(name, ine != null, graft.store.IndexDef(
          name, "property", label, props.mkString(","),
          constraint = "unique"))
      case TypeConstraintRe(name0, ine, label, prop, typeText) =>
        val t = typeText.trim.toUpperCase.replaceAll("\\s+", " ")
        val norm = t match {
          case "STRING" => "STRING"
          case "INTEGER" | "INT" => "INTEGER"
          case "FLOAT" => "FLOAT"
          case "BOOLEAN" | "BOOL" => "BOOLEAN"
          case l if l.startsWith("LIST<") && l.endsWith(">") => "LIST"
          case other => throw new IllegalArgumentException(
            s"unsupported property type '$other' for a type " +
              "constraint; the property model carries STRING | " +
              "INTEGER | FLOAT | BOOLEAN | LIST<...> (no " +
              "temporal/spatial scalar slots — see README divergences)")
        }
        if (prop == "gid")
          return ddlAck("gid is intrinsically a STRING in the store model")
        val name = Option(name0)
          .getOrElse(s"constraint_${label}_${prop}_type")
        return createConstraint(name, ine != null, graft.store.IndexDef(
          name, "constraint", label, prop, constraint = "type:" + norm))
      case ExistsConstraintRe(name0, ine, label, prop) =>
        if (prop == "gid")
          return ddlAck("gid existence is intrinsic to the store model")
        val name = Option(name0).getOrElse(s"constraint_${label}_$prop")
        return createConstraint(name, ine != null, graft.store.IndexDef(
          name, "constraint", label, prop, constraint = "exists"))
      case DropConstraintRe(name, ife) =>
        val had = store.indexDef(name).exists(_.constraint.nonEmpty)
        if (had) { store.dropSearchIndex(name)
          return ddlAck(s"dropped constraint $name") }
        if (ife != null) return ddlAck(s"no constraint named $name")
        throw new IllegalArgumentException(s"no such constraint: $name")
      case _ => ()
    }
    if (trimmed.toUpperCase.startsWith("CREATE CONSTRAINT")) {
      // unparsed forms must NOT silently ack — a ported app would
      // believe it created an enforced constraint
      throw new IllegalArgumentException(
        "unsupported CREATE CONSTRAINT form; supported: CREATE " +
          "CONSTRAINT <name> [IF NOT EXISTS] FOR (n:Label) REQUIRE " +
          "n.prop IS UNIQUE | (n.a, n.b) IS UNIQUE | n.prop IS :: " +
          "STRING|INTEGER|FLOAT|BOOLEAN|LIST<...> | n.prop IS NOT " +
          "NULL | (n.a, n.b) IS NODE KEY, and FOR ()-[r:T]-() " +
          "REQUIRE r.source IS NOT NULL")
    }
    val upper = trimmed.toUpperCase
    if (upper.startsWith("EXPLAIN") || upper.startsWith("PROFILE")) {
      val profile = upper.startsWith("PROFILE")
      val body = trimmed.drop("EXPLAIN".length)
      val q = Parser.parse(body)
      def hasWrites(qq: Ast.Query): Boolean =
        qq.clauses.exists {
          case _: Ast.WriteClauseT => true
          case c: Ast.CallSub => hasWrites(c.inner)
          case _ => false
        } || qq.unions.exists { case (_, part) => hasWrites(part) }
      if (!profile && hasWrites(q))
        throw new IllegalArgumentException(
          "EXPLAIN of write statements is not supported (EXPLAIN never " +
            "applies effects); use PROFILE to execute and plan")
      val df = new Planner(store, params).plan(q)
      val spark = df.sparkSession
      import spark.implicits._
      if (profile) {
        df.collect() // execute so AQE finalizes the plan
        Seq(df.queryExecution.executedPlan.toString).toDF("plan")
      } else
        Seq(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)).toDF("plan")
    } else new Planner(store, params).plan(Parser.parse(trimmed))
  }

  /** Open a multi-statement transaction on `store`: every
    * [[CypherSession.run]] sees the uncommitted writes of earlier
    * statements through the store's session overlay, and the store
    * writes its manifest + flips its `_current` pointer ONCE, at
    * [[CypherSession.commit]] — the analog of the reference executing
    * each sync's statement batch inside a single Bolt transaction
    * (/root/reference/neo4j.go:238-284). Write statements still run
    * their probe jobs eagerly; only the durable commit is deferred,
    * which is what makes an N-statement batch pay one manifest + flip
    * instead of N.
    */
  def session(store: GraphStore): CypherSession = {
    store.beginSession()
    new CypherSession(store)
  }
}

final class CypherSession private[cypher] (store: GraphStore) {
  def run(cypher: String, params: Map[String, Any] = Map.empty): DataFrame =
    CypherEngine.query(store, cypher, params)
  /** commit the batched statements: one manifest, one pointer flip */
  def commit(syncId: String = ""): Long = store.endSession(syncId)
  /** discard all uncommitted statements */
  def abort(): Unit = store.abortSession()
}

object Planner {
  /** Spread a correlation seed across the session's cores before the
    * subquery body multiplies it — gated on the seed's size estimate
    * (r16; r15 verdict #6). The forced round-robin exchange exists
    * for seeds AQE's byte-based coalescing would pack into fewer
    * tasks than the session has cores: parallelism would be lost
    * exactly where the bytes are smallest but the downstream CPU is
    * biggest (the body evaluates seed × matches per partition). The
    * estimate is only TRUSTED when the seed plan is join-free:
    * without CBO, join size estimates multiply (sf0.1's 67-row
    * correlation seed estimates in the GBs through its match-frame
    * joins), so a join-derived seed always spreads — the failure
    * modes are asymmetric (a skipped-but-needed spread serializes the
    * whole subquery body product on one core; a forced-but-unneeded
    * one costs one narrow pass of the key table). A join-free seed's
    * stats come straight from the scan, so a genuinely large seed
    * (past one advisory partition per core) skips the forced exchange
    * and lets AQE size it — forcing it to exactly defaultParallelism
    * partitions would add an exchange it doesn't need and cap its
    * parallelism at scale.
    */
  private[cypher] def spreadSeed(seed: DataFrame): DataFrame = {
    val s = seed.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val plan = seed.queryExecution.optimizedPlan
    val hasJoin = plan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty
    if (hasJoin) seed.repartition(cores)
    else {
      val advisory = s.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      if (plan.stats.sizeInBytes > BigInt(advisory) * cores) seed
      else seed.repartition(cores)
    }
  }
}
