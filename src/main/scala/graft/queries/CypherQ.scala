package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cypher.CypherEngine

/** End-to-end proof of the D1 Query() surface: openCypher TEXT runs
  * through Parser → Planner → the real snapshot store (built by
  * applyBatch from nation entities — see GraphOnTpch), and the result
  * hash-matches a relational DuckDB oracle over the source tables.
  */
object CypherQ {

  private def run(s: SparkSession, dir: String, cypher: String): DataFrame =
    CypherEngine.query(GraphOnTpch.nationStore(s, dir), cypher)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1/C2 via Cypher text: label scan + WHERE + projection + ORDER.
    "cypher_match_where" -> ((s, dir) =>
      run(s, dir,
        """MATCH (n:Nation) WHERE n.gid >= 'n:10'
           RETURN n.gid AS gid, n.name AS name ORDER BY gid""")),

    // C3 via Cypher text: typed hop to the region stubs.
    "cypher_expand" -> ((s, dir) =>
      run(s, dir,
        """MATCH (n:Nation)-[r:in_region]->(m)
           RETURN n.gid AS gid, type(r) AS rel, m.gid AS region
           ORDER BY gid""")),

    // C4 via Cypher text: implicit grouping + count aggregate over an
    // incoming expand from the stub side.
    "cypher_group_count" -> ((s, dir) =>
      run(s, dir,
        """MATCH (m)<-[:in_region]-(n:Nation)
           RETURN m.gid AS region, count(*) AS n ORDER BY region""")),

    // aggregates + DISTINCT via Cypher text.
    "cypher_agg" -> ((s, dir) =>
      run(s, dir,
        """MATCH (n:Nation)-[r]->(m)
           RETURN count(*) AS n_edges, count(DISTINCT m.gid) AS n_regions""")),

    // WITH pipeline (aggregate → HAVING filter) via Cypher text.
    "cypher_with_having" -> ((s, dir) =>
      run(s, dir,
        """MATCH (m)<-[:in_region]-(n:Nation)
           WITH m, count(*) AS n_nations WHERE n_nations >= 5
           RETURN m.gid AS region, n_nations ORDER BY region""")),

    // bounded variable-length expand via Cypher text (hop 2 is empty
    // in this star topology — exercises the iterative-join machinery).
    "cypher_var_length" -> ((s, dir) =>
      run(s, dir,
        """MATCH (n:Nation)-[*1..2]->(m)
           RETURN n.gid AS gid, m.gid AS target ORDER BY gid, target""")),

    // UNWIND via Cypher text.
    "cypher_unwind" -> ((s, dir) =>
      run(s, dir,
        """UNWIND [0, 1, 2] AS k
           MATCH (n:Nation) WHERE n.gid = 'n:1'
           RETURN n.gid AS gid, k ORDER BY k""")),

    // shortestPath + path variable + length(p) via Cypher text: in the
    // nation→region star every shortest distance is exactly 1 — the
    // oracle pins that the minimal-length reduction keeps one row per
    // pair and lengths bind correctly.
    "cypher_shortest" -> ((s, dir) =>
      run(s, dir,
        """MATCH p = shortestPath((n:Nation)-[*1..2]->(m))
           RETURN n.gid AS gid, m.gid AS target, length(p) AS d
           ORDER BY gid, target""")),

    // Introspection procedures over the customer graph: labels,
    // relationship types, and property keys the store actually holds
    // (region stubs are unlabeled, so 'Region' must NOT appear). The
    // oracle is the fixture's construction recipe spelled out.
    "cypher_db_meta" -> ((s, dir) => {
      val st = GraphOnTpch.customerGraphStore(s, dir)
      CypherEngine.query(st,
        """CALL db.labels() YIELD label
           RETURN 'label' AS kind, label AS name""")
        .unionByName(CypherEngine.query(st,
          """CALL db.propertyKeys() YIELD propertyKey
             RETURN 'propKey' AS kind, propertyKey AS name"""))
        .unionByName(CypherEngine.query(st,
          """CALL db.relationshipTypes() YIELD relationshipType
             RETURN 'relType' AS kind, relationshipType AS name"""))
        .orderBy("kind", "name")
    }),

    // Reachability procedure: Pregel BFS within a hop bound from a
    // source gid — in the nation star, 2 hops from n:0 reach exactly
    // n:0 itself and its region stub.
    "cypher_reachable" -> ((s, dir) =>
      run(s, dir,
        """CALL graft.reachable('n:0', 2) YIELD gid, hops
           RETURN gid, hops ORDER BY gid""")),

    // Store statistics procedure (the db.stats / apoc.meta.stats
    // shape): per-label node counts + per-relType edge counts off the
    // snapshot — the oracle is the fixture's construction recipe.
    "cypher_stats" -> ((s, dir) =>
      run(s, dir,
        """CALL graft.stats() YIELD kind, name, n
           RETURN kind, name, n ORDER BY kind, name""")),

    // Spatial points: cartesian and wgs-84 construction, distance
    // (straight-line / haversine) and bounding-box containment over a
    // generated coordinate ladder. The haversine rounds to 3 decimals
    // because JVM and libm trig differ in final ulps — the cartesian
    // legs are exact. All per-row expression work; no shuffle at all.
    "cypher_point" -> ((s, dir) =>
      run(s, dir,
        """UNWIND [0, 1, 2, 3, 4] AS i
           WITH i, point({x: i * 3.0, y: i * 4.0}) AS p,
                point({longitude: i * 1.0, latitude: 50.0 + i}) AS g
           RETURN i,
             round(point.distance(p, point({x: 0.0, y: 0.0})), 9) AS cart,
             round(point.distance(g,
               point({longitude: 0.0, latitude: 50.0})), 3) AS geo,
             point.withinBBox(p, point({x: 2.0, y: 2.0}),
               point({x: 7.0, y: 9.0})) AS inbox
           ORDER BY i""")),

    // `CALL { … } IN TRANSACTIONS OF n ROWS` — the Neo4j bulk-ingest
    // idiom — into a PRIVATE empty store: 25 driving rows ingest in 3
    // batch commits (computed-key CREATE inside the body), then a
    // read-back groups what landed. The oracle replays the generator.
    "cypher_intx_ingest" -> ((s, dir) => {
      val st = new graft.store.GraphStore(
        graft.Scratch.tempDir("graft-intx-q"),
        s, 4)
      CypherEngine.query(st,
        """UNWIND range(0, 24) AS k
           CALL { WITH k
             CREATE (:N {gid: 'n:' + toString(k), v: k % 5}) }
           IN TRANSACTIONS OF 10 ROWS""").collect()
      CypherEngine.query(st,
        """MATCH (n:N)
           RETURN n.v AS v, count(*) AS cnt, min(n.gid) AS first
           ORDER BY v""")
    }),

    // Graph-analytics procedures (the gds.* analog) over the nation
    // star: integer-micro PageRank, GraphX degrees, and connected
    // components — all deterministic integer results, so the oracle
    // replays them in closed form over the source tables (every
    // nation has out-degree 1 into its region; ranks converge by
    // iteration 3 of 5: nations at the 150000 floor, a region at
    // 150000 + |members|·floor(150000·85/100)).
    "cypher_proc_analytics" -> ((s, dir) => {
      val st = GraphOnTpch.nationStore(s, dir)
      CypherEngine.query(st,
        """CALL graft.pageRank(5) YIELD gid, rankMicro
           RETURN 'pr' AS kind, gid, rankMicro AS v ORDER BY gid""")
        .unionByName(CypherEngine.query(st,
          """CALL graft.degrees() YIELD gid, outDegree, inDegree
             RETURN 'deg' AS kind, gid, outDegree * 100 + inDegree AS v
             ORDER BY gid"""))
        .unionByName(CypherEngine.query(st,
          """CALL graft.connectedComponents() YIELD gid, component
             WHERE component = 'n:0'
             RETURN 'cc' AS kind, gid, 0 AS v ORDER BY gid"""))
        .orderBy("kind", "gid")
    }),

    // Cypher write surface (the reference templates' MERGE/SET forms,
    // /root/reference/neo4j.go:103-127) into a PRIVATE store: CREATE a
    // node, CREATE an edge between bound endpoints, SET a property —
    // then a read whose counts and min-names prove all three landed.
    "cypher_set_create" -> ((s, dir) => {
      val store = GraphOnTpch.freshNationStore(s, dir)
      val sess = CypherEngine.session(store)
      sess.run(
        "CREATE (x:Nation {gid: 'n:99', name: 'ATLANTIS'})").collect()
      sess.run(
        """MATCH (a:Nation), (b) WHERE a.gid = 'n:99' AND b.gid = 'r:0'
           CREATE (a)-[:in_region]->(b)""").collect()
      sess.run(
        "MATCH (n:Nation) WHERE n.gid = 'n:1' SET n.name = 'RENAMED'")
        .collect()
      sess.commit()
      CypherEngine.query(store,
        """MATCH (m)<-[:in_region]-(n:Nation)
           RETURN m.gid AS region, count(*) AS cnt,
                  min(n.name) AS first_name ORDER BY region""")
    }),

    // Multi-hop Cypher text over the sf-scale CUSTOMER graph (a real
    // applyBatch-built store, 10⁴-10⁵ nodes at sf0.1) — the hop
    // machinery gated on data whose second hop is non-empty, unlike
    // the 25-node nation star. Fixed 2-hop chain with a property
    // predicate…
    // Pattern comprehension (the collect-subquery idiom) over the
    // customer graph: each nation's rich customers as a list, reduced
    // to one string for the scalar gate compare. Value-sorted lists —
    // the engine's deterministic choice where Neo4j match order is
    // arbitrary — mirror DuckDB's list(... ORDER BY ...).
    "cypher_pattern_comp" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (n:Nation)
           RETURN n.name AS nation,
             reduce(s = '', x IN
               [(c:Customer)-[:located_in]->(n) WHERE c.acctbal > 9000
                 | c.name] | s + '|' + x) AS rich
           ORDER BY nation""")),

    // COLLECT { … RETURN … } subquery (Neo4j 5.6) — the list-valued
    // member of the COUNT{}/EXISTS{} family, same lowering as the
    // pattern comprehension above.
    "cypher_collect_sub" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (n:Nation)
           RETURN n.name AS nation,
             size(COLLECT { MATCH (c:Customer)-[:located_in]->(n)
               WHERE c.acctbal > 9000 RETURN c.name }) AS n_rich,
             reduce(s = '', x IN
               COLLECT { MATCH (c:Customer)-[:located_in]->(n)
                 WHERE c.acctbal > 9000 RETURN c.name }
               | s + '|' + x) AS rich
           ORDER BY nation""")),

    "cypher_customer_graph" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[:located_in]->(n:Nation)-[:in_region]->(r)
           WHERE c.acctbal > 5000
           RETURN r.gid AS region, count(*) AS n_cust ORDER BY region""")),

    // …and the bounded var-length variant: *1..2 reaches nations at
    // hop 1 and region stubs at hop 2 for every customer.
    "cypher_customer_varlen" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[*1..2]->(m)
           RETURN m.gid AS target, count(*) AS n ORDER BY target""")),

    // zero-length lower bound (probe 14 → Neo4j parity): *0..2 binds
    // every start to ITSELF at hop 0, then its nation and region
    "cypher_varlen_zero" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[*0..2]->(m)
           RETURN m.gid AS target, count(*) AS n ORDER BY target""")),

    // The reference's parameterized write templates VERBATIM
    // (/root/reference/neo4j.go:95-127): nation rows become $items
    // map arrays driven through UpdateNode / TargetNode / UpdateEdge /
    // DeleteNode template texts into an EMPTY store — UNWIND map
    // params, MERGE with expression gids, WITH, OPTIONAL MATCH,
    // DELETE r, SET n:Label, SET n = item, expression-prop MATCH
    // joins, edge MERGE, SET r.source/r.type — then a read over the
    // resulting graph, oracled against the source table.
    "cypher_ref_templates" -> ((s, dir) => {
      val store = new graft.store.GraphStore(
        graft.Scratch.tempDir("graft-tpl"),
        s, numBuckets = 2)
      val rows = Relational.t(s, dir, "nation").collect()
      val items: Seq[Map[String, Any]] = rows.toSeq.map(r => Map(
        "gid" -> s"n:${r.getAs[Int]("n_nationkey")}",
        "source" -> "nations",
        "name" -> r.getAs[String]("n_name")))
      val edgeItems: Seq[Map[String, Any]] = rows.toSeq.map(r => Map(
        "from" -> s"n:${r.getAs[Int]("n_nationkey")}",
        "to" -> s"r:${r.getAs[Int]("n_regionkey")}",
        "source" -> "nations", "type" -> "in_region"))
      val targetItems = edgeItems.map(m => Map("gid" -> m("to"))).distinct
      // the reference executes a sync's statements inside ONE Bolt
      // transaction (neo4j.go:238-284) — the session batches the four
      // statements into a single store commit
      val sess = CypherEngine.session(store)
      def run(q: String, ps: Map[String, Any]) =
        sess.run(q, ps).collect()
      run("""
UNWIND $items AS item
MERGE (n {gid: item.gid})
WITH n, item
OPTIONAL MATCH (n)-[r]->()
DELETE r
SET n:Nation
SET n = item
""", Map("items" -> items))
      run("""
UNWIND $items AS item
MERGE (n {gid: item.gid })
""", Map("items" -> targetItems))
      run("""
UNWIND $items AS item
MATCH (n1 {gid: item.from})
MATCH (n2 {gid: item.to})
MERGE (n1)-[r:in_region]->(n2)
SET r.source = item.source
SET r.type = item.type
""", Map("items" -> edgeItems))
      run("""
UNWIND $items AS item
MATCH (n {gid: item.gid})
DETACH DELETE n
""", Map("items" -> items.filter(
        _("gid").asInstanceOf[String] >= "n:20")))
      sess.commit()
      CypherEngine.query(store,
        """MATCH (n:Nation)-[r:in_region]->(m)
           RETURN n.gid AS gid, n.name AS name, n.source AS src,
                  m.gid AS region
           ORDER BY gid""")
    }),

    // Predicate surface beyond comparisons, over the sf-scale customer
    // graph: list membership (IN), substring predicate (CONTAINS), and
    // both the searched CASE banding and the grouped count on top.
    "cypher_case_in" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[:located_in]->(n:Nation)
           WHERE n.name IN ['NATION_3', 'NATION_7'] AND c.name CONTAINS '1'
           RETURN n.name AS nation,
                  CASE WHEN c.acctbal >= 5000 THEN 'high'
                       WHEN c.acctbal >= 0 THEN 'mid'
                       ELSE 'neg' END AS band,
                  count(*) AS n_cust
           ORDER BY nation, band""")),

    // Expression surface: binary arithmetic (incl. over aggregates),
    // `+` string concat, `=~` anchored regex, and subscript on a
    // collected list — one oracled entry per operator family, over the
    // sf-scale customer graph.
    "cypher_arith" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[:located_in]->(n:Nation)
           WHERE c.name =~ '.*[02468]'
           RETURN n.name AS nation, 'x:' + n.name AS tag,
                  count(*) AS n_cust, count(*) * 2 + 1 AS odd,
                  floor(sum(c.acctbal) / count(*)) AS avg_floor,
                  collect(c.name)[0] AS first_name
           ORDER BY nation""")),

    // COUNT { } correlated subquery over the sf-scale customer graph:
    // a per-nation incoming-degree count including zero-customer
    // nations (the left-join-with-0 semantics a grouping count can't
    // express in one clause).
    "cypher_count_sub" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (n:Nation)
           RETURN n.name AS nation,
                  COUNT { (n)<-[:located_in]-() } AS n_cust
           ORDER BY nation""")),

    // correlated CALL subquery with per-invocation ORDER BY/LIMIT:
    // top-1 customer per nation (the window-lowered per-key limit,
    // provably NOT a global limit since every nation yields a row).
    "cypher_call_topk" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (n:Nation)
           CALL { WITH n MATCH (n)<-[:located_in]-(c)
                  RETURN c.name AS top_cust ORDER BY top_cust LIMIT 1 }
           RETURN n.name AS nation, top_cust ORDER BY nation""")),

    // bare pattern predicate (no exists() wrapper) with an inline
    // node WHERE (Neo4j 5 style), over the sf-scale customer graph:
    // nations having at least one high-balance customer — plans as a
    // semi join, so no row multiplication to re-distinct away.
    "cypher_pattern_pred" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (n:Nation)
           WHERE (n)<-[:located_in]-(c:Customer WHERE c.acctbal > 9000)
           RETURN n.name AS nation ORDER BY nation""")),

    // correlated CALL with UNION parts, each re-importing n (Neo4j
    // syntax): per-invocation union of two expansions — a nation
    // yields its region stub and itself, distinct per invocation.
    "cypher_call_union" -> ((s, dir) =>
      run(s, dir,
        """MATCH (n:Nation)
           CALL { WITH n MATCH (n)-[:in_region]->(m) RETURN m.gid AS who
                  UNION WITH n MATCH (n) RETURN n.gid AS who }
           RETURN n.gid AS gid, who ORDER BY gid, who""")),

    // correlated CALL whose body is aggregate-only: openCypher yields
    // exactly one row per invocation, so the 5 region stubs (zero
    // outgoing edges) must appear with deg = 0 and a null min — the
    // left-outer + neutral-coalesce path, which an inner keyed join
    // (the r5 bug) would silently drop.
    "cypher_call_agg" -> ((s, dir) =>
      run(s, dir,
        """MATCH (n)
           CALL { WITH n MATCH (n)-[:in_region]->(m)
                  RETURN count(m) AS deg, min(m.gid) AS first_region }
           RETURN n.gid AS gid, deg, first_region ORDER BY gid""")),

    // C6 via Cypher text: DETACH DELETE (the reference's own cleanup
    // form, /root/reference/layer_test.go:275-281) into a PRIVATE
    // multi-label model: CREATE (n:Nation:Place) stores a primary +
    // secondary label; the conjunctive MATCH (n:Nation:Place), the
    // secondary-only MATCH (n:Place), and labels() (primary first,
    // secondaries sorted) all replay against the source table
    // round-12 string/logic surface over the sf-scale customer graph:
    // trim specification, XOR, extended CASE, explicit rounding modes
    // (on exactly-representable values — k+0.5 and quarters — so the
    // mode arithmetic, not fp drift, decides), normalize() codegen.
    "cypher_string_fns" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[:located_in]->(n:Nation)
           WHERE c.name ENDS WITH '7'
           RETURN n.name AS nation,
             lower(trim(BOTH 'N' FROM n.name)) AS trimmed,
             normalize(n.name, NFKC) AS norm,
             count(*) AS n_cust,
             round(count(*) + 0.5, 0, 'HALF_DOWN') AS cnt_hd,
             round(count(*) / 4.0, 0, 'UP') AS cnt_up,
             CASE count(*) WHEN > 5 THEN 'many' WHEN 1, 2 THEN 'few'
               ELSE 'some' END AS bucket,
             count(*) > 3 XOR n.name ENDS WITH '1' AS flag
           ORDER BY nation""")),

    // FULL regular-query COUNT{} body (round 8, Neo4j 5): multi-clause
    // body (MATCH -> WITH -> MATCH) auto-importing the outer n; the
    // WITH stage carries the correlation key, so the count scopes per
    // nation. Counts ordered (poorer, richer) customer pairs per
    // nation — the DuckDB oracle replays the self-join.
    "cypher_count_full" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (n:Nation)
           RETURN n.name AS nation,
             COUNT { MATCH (c:Customer)-[:located_in]->(n)
                     WITH c, n
                     MATCH (c2:Customer)-[:located_in]->(n)
                     WHERE c2.acctbal > c.acctbal } AS pairs
           ORDER BY nation""")),

    // FULL regular-query COLLECT{} body (round 8, Neo4j 5.6): the
    // WITH-filtered body collects rich customer names per nation
    // (value-sorted, empty when none), flattened via reduce() for the
    // scalar-only gate.
    "cypher_collect_full" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (n:Nation)
           WITH n, COLLECT { MATCH (c:Customer)-[:located_in]->(n)
                             WITH c WHERE c.acctbal > 9500
                             RETURN c.name } AS rich
           RETURN n.name AS nation,
             reduce(s = '', x IN rich | s + '|' + x) AS rich
           ORDER BY nation""")),

    // CALL subquery importing a VALUE variable (round 8): bal is a
    // WITH alias seeded into the body's frame; aggregate-only body
    // yields one row per invocation (zero matches => 0).
    "cypher_call_value" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[:located_in]->(n:Nation {name: 'NATION_5'})
           WITH c.gid AS gid, toFloat(c.acctbal) AS bal
           CALL { WITH bal
                  MATCH (o:Customer)-[:located_in]->(m:Nation {name: 'NATION_5'})
                  WHERE o.acctbal > bal
                  RETURN count(*) AS richer }
           RETURN gid, richer ORDER BY gid""")),

    // GQL quantified path pattern with inner GROUP variables (round
    // 8): ((x)-[r:..]->(y)){2,2} binds x/y as per-iteration gid lists
    // and r as the relationship list — flattened to '|'-joined strings
    // for the gate (scalar-only harness contract).
    "cypher_qpp_group" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer) ((x)-[r:located_in|in_region]->(y)){2,2} (z)
           WHERE c.name ENDS WITH '77'
           RETURN c.gid AS gid,
             reduce(s = '', g IN x | s + '|' + g) AS xs,
             reduce(s = '', g IN y | s + '|' + g) AS ys,
             size(r) AS nr
           ORDER BY gid""")),

    // outer-VALUE correlation into a COUNT{} body (round 8): bal is a
    // WITH alias, not a node — the subquery seeds its column into the
    // sub frame (the CALL-subquery seeding path), so `o.acctbal > bal`
    // counts per OUTER row. One nation keeps the seed × body product
    // bounded (distinct-bal × nation-customers, not corpus²).
    "cypher_count_corr" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[:located_in]->(n:Nation {name: 'NATION_3'})
           WITH c.gid AS gid, toFloat(c.acctbal) AS bal
           RETURN gid,
             COUNT { (o:Customer)-[:located_in]->(m:Nation {name: 'NATION_3'})
               WHERE o.acctbal > bal } AS richer
           ORDER BY gid""")),

    // MATCH-wide relationship uniqueness (Neo4j's relationship
    // isomorphism): the vee pattern shares the located_in edge set on
    // both hops, so a per-hop plan would also bind c2 = c1 through the
    // SAME edge — the correct per-nation ordered-pair count is
    // n*(n-1), not n*n. The oracle derives exactly that from parquet.
    "cypher_rel_uniq" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c1:Customer)-[:located_in]->(n:Nation)<-[:located_in]-(c2:Customer)
           RETURN n.name AS nation, count(*) AS n_pairs
           ORDER BY nation""")),

    // named var-length relationship list: every customer's two-hop
    // stretch to its region — size, per-element type projection. The
    // type list is flattened to one '|'-joined string so the gate
    // compares scalars (the driver's pandas sort chokes on arrays);
    // the list machinery ([r IN rs | type(r)]) stays on the engine path.
    "cypher_varlen_rels" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[rs*2]->(x)
           WHERE c.name ENDS WITH '42'
           RETURN c.gid AS gid, size(rs) AS n,
             reduce(s = '', t IN [r IN rs | type(r)] | s + '|' + t) AS types
           ORDER BY gid""")),

    // list-valued properties end-to-end: ingest nations with a tags
    // list (name + region ref), read size/subscript/membership and
    // UNWIND back out — the DuckDB oracle rebuilds the same lists
    // from the raw parquet
    "cypher_list_props" -> ((s, dir) => {
      val store = new graft.store.GraphStore(
        graft.Scratch.tempDir("graft-lprops"),
        s, numBuckets = 2)
      val rows = Relational.t(s, dir, "nation").collect()
      val items: Seq[Map[String, Any]] = rows.toSeq.map(r => Map(
        "gid" -> s"n:${r.getAs[Int]("n_nationkey")}",
        "name" -> r.getAs[String]("n_name"),
        "tags" -> Seq(r.getAs[String]("n_name"),
          s"r:${r.getAs[Int]("n_regionkey")}")))
      val sess = CypherEngine.session(store)
      sess.run(
        """UNWIND $items AS item
           CREATE (n:Nation {gid: item.gid, name: item.name})
           SET n.tags = item.tags""",
        Map("items" -> items)).collect()
      sess.commit()
      CypherEngine.query(store,
        """MATCH (n:Nation)
           UNWIND n.tags AS tag
           RETURN n.gid AS gid, size(n.tags) AS n_tags,
             n.tags[0] AS first, n.name IN n.tags AS has_name, tag
           ORDER BY gid, tag""")
    }),

    "cypher_multilabel" -> ((s, dir) => {
      val store = new graft.store.GraphStore(
        graft.Scratch.tempDir("graft-mlab"),
        s, numBuckets = 2)
      val rows = Relational.t(s, dir, "nation").collect()
      val items: Seq[Map[String, Any]] = rows.toSeq.map(r => Map(
        "gid" -> s"n:${r.getAs[Int]("n_nationkey")}",
        "name" -> r.getAs[String]("n_name")))
      val sess = CypherEngine.session(store)
      sess.run(
        """UNWIND $items AS item
           CREATE (n:Nation:Place {gid: item.gid, name: item.name})""",
        Map("items" -> items)).collect()
      sess.commit()
      val conj = CypherEngine.query(store,
        """MATCH (n:Nation:Place)
           RETURN n.gid AS gid, n.name AS name,
                  labels(n)[0] AS l0, labels(n)[1] AS l1
           ORDER BY gid""")
      // the secondary-only MATCH must reach the same rows — inner
      // join on gid keeps the entry honest about (n:Place) membership
      val viaSecondary = CypherEngine.query(store,
        "MATCH (n:Place) RETURN n.gid AS gid")
      conj.join(viaSecondary, Seq("gid"), "left_semi").orderBy("gid")
    }),

    // map projection: `c {.name, .acctbal, nation: n.gid}` built per
    // customer, then read back through the projected map — selectors,
    // alias entries, and field access all on the oracle path
    "cypher_map_proj" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH (c:Customer)-[:located_in]->(n:Nation)
           WHERE c.acctbal > 9000
           WITH c {.name, .acctbal, nation: n.gid} AS m
           RETURN m.name AS name, m.nation AS nation,
                  toFloat(m.acctbal) AS acctbal
           ORDER BY name""")),

    // temporal functions: date()/datetime()/duration() construction,
    // accessors, and ± arithmetic — replayed by DuckDB date functions.
    // plus45 is folded to yyyymmdd as an integer so the compare is
    // format-independent.
    "cypher_temporal" -> ((s, dir) =>
      run(s, dir,
        """UNWIND ['2024-01-15', '2024-02-29', '2024-12-31'] AS ds
           WITH ds, date(ds) AS d
           WITH ds, d, d + duration({days: 45}) AS p45,
                datetime(ds + 'T06:30:00Z') AS dt
           RETURN ds AS d_str, d.year AS y, d.quarter AS q,
                  d.dayOfWeek AS dow,
                  p45.year * 10000 + p45.month * 100 + p45.day AS plus45,
                  dt.epochMillis AS ms,
                  (dt + duration({hours: 20, minutes: 30})).epochMillis
                    AS ms2,
                  datetime.truncate('month', dt).epochMillis AS tr_mo,
                  duration.between(d, p45).months AS bt_mo,
                  duration.between(d, p45).days AS bt_d,
                  duration.inDays(d, p45).days AS in_d
           ORDER BY d_str""")),

    // collect() honoring a preceding WITH … ORDER BY (openCypher row
    // order): the order key (name DESC) is not the collected value's
    // natural sort, so a value-sorted lowering would hash-mismatch.
    // The list is flattened to one string via reduce() so the gate
    // compares scalars (list-typed outputs are untested driver-side).
    "cypher_collect_order" -> ((s, dir) =>
      run(s, dir,
        """MATCH (m)<-[:in_region]-(n:Nation)
           WITH m, n ORDER BY n.name DESC
           WITH m.gid AS region, collect(n.name) AS names
           RETURN region, reduce(s = '', x IN names | s + '|' + x) AS names
           ORDER BY region""")),

    // store, then a read whose per-region counts prove both the node
    // delete and the incident-edge cascade.
    "cypher_delete" -> ((s, dir) => {
      val store = GraphOnTpch.freshNationStore(s, dir)
      CypherEngine.query(store,
        "MATCH (n:Nation) WHERE n.gid >= 'n:10' DETACH DELETE n").collect()
      CypherEngine.query(store,
        """MATCH (m)<-[:in_region]-(n:Nation)
           RETURN m.gid AS region, count(*) AS n ORDER BY region""")
    }),

    // schema introspection: per (label, key) observed value types +
    // mandatory flag, straight off the typed property slots — the
    // oracle re-derives the same facts from the source parquet. The
    // YIELDed list columns are flattened to '|'-joined strings for the
    // gate (pandas can't sort array cells); YIELD still carries lists.
    "cypher_schema_procs" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """CALL db.schema.nodeTypeProperties()
           YIELD nodeType, nodeLabels, propertyName, propertyTypes, mandatory
           RETURN nodeType,
             reduce(s = '', x IN nodeLabels | s + '|' + x) AS nodeLabels,
             propertyName,
             reduce(s = '', x IN propertyTypes | s + '|' + x)
               AS propertyTypes,
             mandatory
           ORDER BY nodeType, propertyName""")),

    // property reads inside a comprehension over nodes(p): the path
    // carries identities, so x.name buys ONE explicit node-table join
    // (distinct gid arrays posexplode → keyed join → re-collect in
    // path order); the region stub's missing name stays null and is
    // rendered as the '<null>' sentinel when the list is flattened to
    // one string for the gate (arrays break the driver's pandas sort),
    // so the null-name assertion survives the flattening.
    "cypher_path_props" -> ((s, dir) =>
      CypherEngine.query(GraphOnTpch.customerGraphStore(s, dir),
        """MATCH p = (c:Customer)-[:located_in]->(n:Nation)-[:in_region]->(r)
           WHERE c.acctbal > 9800
           RETURN c.gid AS gid,
             reduce(s = '', x IN [y IN nodes(p) | y.name] |
               s + '|' + coalesce(x, '<null>')) AS names
           ORDER BY gid""")),

    // CREATE VECTOR INDEX + CALL db.index.vector.queryNodes — the
    // Neo4j 5.13 ANN-from-Cypher surface over the store-persisted IVF
    // index (quantizer trained once at DDL, assignments ride the
    // manifest; the probe reads ONLY the top-nprobe cells'
    // directories). Query vector = vec_id 0's own embedding, passed
    // as a parameter; the oracle replays the deterministic k-means
    // (gid-ordered seed, integer-micro means) and the 2-cell probe.
    "cypher_vector_index" -> ((s, dir) => {
      import s.implicits._
      val st = embeddingStore(s, dir)
      val q = Relational.t(s, dir, "embeddings")
        .filter($"vec_id" === 0)
        .select(transform($"embedding", x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      CypherEngine.query(st,
        """CALL db.index.vector.queryNodes('vidx', 10, $q)
           YIELD node, score
           RETURN node.gid AS gid, score""",
        Map("q" -> q))
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // FILTERED persisted-ANN (graft extension): a ~1%-selectivity
    // property-equality filter resolves its candidates through the
    // px index, and the query answers EXACTLY over the filtered
    // nodes' vectors (recall 1.0 — the pre-filter shape) instead of
    // post-filtering an unfiltered top-k
    "cypher_vector_filtered" -> ((s, dir) => {
      import s.implicits._
      val st = embeddingStore(s, dir)
      val q = Relational.t(s, dir, "embeddings")
        .filter($"vec_id" === 0)
        .select(transform($"embedding", x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      CypherEngine.query(st,
        """CALL db.index.vector.queryNodes('vidx', 10, $q,
             {filter: {flag: 0}})
           YIELD node, score
           RETURN node.gid AS gid, score""",
        Map("q" -> q))
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // the euclidean twin: same store, second index (vidx_l2), Neo4j's
    // 1/(1+d²) score; assignment/probe rank by 2·v·c − |c|²
    "cypher_vector_index_l2" -> ((s, dir) => {
      import s.implicits._
      val st = embeddingStore(s, dir)
      val q = Relational.t(s, dir, "embeddings")
        .filter($"vec_id" === 0)
        .select(transform($"embedding", x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      CypherEngine.query(st,
        """CALL db.index.vector.queryNodes('vidx_l2', 10, $q)
           YIELD node, score
           RETURN node.gid AS gid, score""",
        Map("q" -> q))
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // quantized (SQ8) persisted tier through the DDL: the probe scans
    // CODE rows of the top-nprobe cells, shortlists max(4k, 64) by
    // the dequantized approximate score, then exact-rescores only the
    // shortlist from the node rows — YIELDed scores are exact, the
    // quantization only shapes the shortlist; the oracle replays the
    // whole train/encode/decode/shortlist/rescore pipeline
    "cypher_vector_quant" -> ((s, dir) => {
      import s.implicits._
      val st = embeddingStore(s, dir)
      val q = Relational.t(s, dir, "embeddings")
        .filter($"vec_id" === 0)
        .select(transform($"embedding", x => x.cast("double")))
        .head().getSeq[Double](0).toSeq
      CypherEngine.query(st,
        """CALL db.index.vector.queryNodes('vidx_q8', 10, $q)
           YIELD node, score
           RETURN node.gid AS gid, score""",
        Map("q" -> q))
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // CREATE INDEX … ON (c.name) + routed point lookups — the
    // property-value index (Neo4j's default RANGE index shape): each
    // MATCH resolves its candidate gids from ONE sect=p/bucket=H(val)
    // directory of the px table and reads only those gids' node
    // buckets; the label partition is never scanned. Three lookups
    // (two literal, one parameter) exercise the route per statement.
    "cypher_prop_index" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer {name: 'Customer#000000042'})
           RETURN c.gid AS gid, c.name AS name, toFloat(c.acctbal) AS acctbal
           UNION ALL
           MATCH (c:Customer {name: 'Customer#000000007'})
           RETURN c.gid AS gid, c.name AS name, toFloat(c.acctbal) AS acctbal
           UNION ALL
           MATCH (c:Customer {name: $nm})
           RETURN c.gid AS gid, c.name AS name, toFloat(c.acctbal) AS acctbal""",
        Map("nm" -> "Customer#000000123"))
        .orderBy($"gid")
    }),

    // RANGE predicate through the property index (Neo4j's default
    // RANGE index serves exactly this): `WHERE c.acctbal > $lo`
    // resolves candidate gids from the CONTIGUOUS run of order-
    // preserving sect=r buckets the bound maps to (boundary span +
    // parquet min/max inside — never a label-partition scan), then
    // reads only those gids' node buckets; the inequality stays a
    // residual filter, so the route can never change the result.
    "cypher_prop_index_range" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) WHERE c.acctbal > $lo
           RETURN c.gid AS gid, c.name AS name,
                  toFloat(c.acctbal) AS acctbal""",
        Map("lo" -> 9000.0))
        .orderBy($"gid")
    }),

    // STARTS WITH through the same index family: the string prefix
    // maps to its exact sect=r bucket span (no successor-string
    // construction — the span is computed from the boundary list).
    "cypher_prop_index_prefix" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) WHERE c.name STARTS WITH 'Customer#00000003'
           RETURN c.gid AS gid, c.name AS name""")
        .orderBy($"gid")
    }),

    // COMPOSITE index ((tenant, key) shape): the lookup routes only
    // when every indexed property has an equality binding — candidate
    // gids resolve from ONE sect=p bucket of the tuple key, the two
    // equality predicates stay residual.
    "cypher_prop_index_composite" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer {nation: 5, segment: 'BUILDING'})
           RETURN c.gid AS gid, c.name AS name""")
        .orderBy($"gid")
    }),

    // Point predicates through the Z-ORDER point index (the Neo4j
    // POINT-index class): withinBBox / distance<=r decompose into
    // O(few) contiguous Morton-key ranges (quadtree cover) over the
    // sect=z section — true TWO-dimensional pruning (the
    // one-coordinate band stays the fallback without a point index);
    // the label partition is never scanned, and the exact spatial
    // predicate stays residual on the routed candidates.
    "cypher_point_index" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer)
           WHERE point.withinBBox(point({x: c.x, y: c.y}),
             point({x: 10.0, y: 20.0}), point({x: 25.0, y: 40.0}))
           RETURN c.gid AS gid, toFloat(c.x) AS x, toFloat(c.y) AS y
           UNION ALL
           MATCH (c:Customer)
           WHERE point.distance(point({x: c.x, y: c.y}),
             point({x: 50.0, y: 50.0})) <= 5.0
           RETURN c.gid AS gid, toFloat(c.x) AS x, toFloat(c.y) AS y""")
        .orderBy($"gid", $"x")
    }),

    // NODE KEY + relationship-existence constraints end-to-end: a
    // PRIVATE store declares both, violating writes are vetoed at
    // commit (duplicate tuple, missing component, source-less edge —
    // each leaves the store untouched), valid writes land, and the
    // read routes through the node key's backing composite index.
    // The oracle replays the surviving state from the parquet source.
    // Count-store fast path (Neo4j's O(1) count store): each UNION
    // branch is the pure count shape — label count, total node
    // count (stubs included), per-relType / total edge counts, and a
    // label-disjunction sum — answered from the per-partition row
    // counts the commit maintains beside the manifest, ZERO Spark
    // jobs per branch (spec-asserted in CountStoreSpec).
    "cypher_count_store" -> ((s, dir) => {
      import s.implicits._
      val st = GraphOnTpch.customerGraphStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) RETURN 'customers' AS kind, count(c) AS n
           UNION ALL
           MATCH (n:Nation) RETURN 'nations' AS kind, count(*) AS n
           UNION ALL
           MATCH (x) RETURN 'all_nodes' AS kind, count(x) AS n
           UNION ALL
           MATCH ()-[r:located_in]->()
           RETURN 'located_in' AS kind, count(r) AS n
           UNION ALL
           MATCH ()-[]->() RETURN 'all_edges' AS kind, count(*) AS n
           UNION ALL
           MATCH (x:Customer|Nation)
           RETURN 'two_labels' AS kind, count(x) AS n""")
        .orderBy($"kind")
    }),

    // ONE-SIDED labeled relationship counts (Neo4j's count-store
    // entries (:L)-[:T]->() and ()-[:T]->(:L), plus the any-type
    // wildcard): answered from the (label, relType) maps the commit
    // maintains by exact delta arithmetic — edge churn valued at new
    // labels + label churn over old edges — ZERO Spark jobs per
    // branch. The in_region→Region branch pins the null-label
    // semantics: r:* targets exist only as unlabeled stubs, so the
    // labeled in-count is 0, exactly what the scan answers.
    "cypher_count_store_rel" -> ((s, dir) => {
      import s.implicits._
      val st = GraphOnTpch.customerGraphStore(s, dir)
      CypherEngine.query(st,
        """MATCH (:Customer)-[r:located_in]->()
           RETURN 'cust_out' AS kind, count(r) AS n
           UNION ALL
           MATCH ()-[:located_in]->(n:Nation)
           RETURN 'to_nation' AS kind, count(*) AS n
           UNION ALL
           MATCH (:Nation)-[r]->()
           RETURN 'nation_any' AS kind, count(r) AS n
           UNION ALL
           MATCH ()<-[r:in_region]-(:Nation)
           RETURN 'rev_dir' AS kind, count(r) AS n
           UNION ALL
           MATCH ()-[r:in_region]->(:Region)
           WITH count(r) AS n
           RETURN 'to_region_label' AS kind, n
           UNION ALL
           RETURN 'count_sub' AS kind,
                  COUNT { (:Customer)-[:located_in]->() } AS n""")
        .orderBy($"kind")
    }),

    // RELATIONSHIP property index (Neo4j 5's
    // CREATE INDEX FOR ()-[r:T]-() ON (r.source)): matched src gids
    // resolve from the slim rel-px sect=p/bucket=H(val) directories
    // and the main edge read prunes to relType ∩ their hash buckets —
    // never an all-T edge scan; the equality predicate stays residual.
    // Both the inline-map and WHERE-equality forms route.
    "cypher_rel_prop_index" -> ((s, dir) => {
      import s.implicits._
      val st = relPropIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer)-[r:located_in {source: 'ds1'}]->(n)
           RETURN c.gid AS gid, n.gid AS nation
           UNION ALL
           MATCH (c:Customer)-[r:located_in]->(n) WHERE r.source = 'ds2'
           RETURN c.gid AS gid, n.gid AS nation""")
        .orderBy($"gid")
    }),

    "cypher_constraints" -> ((s, dir) => {
      import s.implicits._
      val store = constraintStore(s, dir)
      CypherEngine.query(store,
        """MATCH (c:Customer)
           WHERE c.nation = 5 AND c.name >= 'Customer#000000'
             AND c.name <= 'Customer#000001'
           RETURN c.gid AS gid, c.name AS name""")
        .orderBy($"gid")
    }),

    // Property TYPE constraints (Neo4j 5.9): the fixture declared
    // `c.name IS :: STRING`, vetoed a wrong-typed write (c:tbad,
    // name: 42) and landed a right-typed one (c:tok) — this read
    // proves exactly the surviving state, oracled literally.
    "cypher_constraints_type" -> ((s, dir) => {
      import s.implicits._
      val store = constraintStore(s, dir)
      CypherEngine.query(store,
        """MATCH (c:Customer) WHERE c.nation >= 700
           RETURN c.gid AS gid, c.name AS name""")
        .orderBy($"gid")
    }),

    // Dictionary-served DISTINCT: `RETURN DISTINCT c.name` answered
    // from the px value dictionary ALONE (vocabulary-sized, owner
    // counts > 0 ⇔ the value exists) — zero node-table reads, sound
    // because the `IS :: STRING` constraint proves every stored value
    // lives in the dictionary's string slot.
    "cypher_distinct_dict" -> ((s, dir) => {
      val store = constraintStore(s, dir)
      CypherEngine.query(store,
        """MATCH (c:Customer) WHERE c.name IS NOT NULL
           RETURN DISTINCT c.name AS name ORDER BY name LIMIT 40""")
    }),

    // COMPOSITE equality-prefix routing (Neo4j's composite range-index
    // shape): the escComp-framed sect=r tuple keys make an
    // equality-bound prefix a contiguous span — first branch adds a
    // range on the NEXT component (string bounds) and routes; the
    // second (equality prefix alone) deliberately KEEPS the scan:
    // the index holds only all-components-non-null nodes, so routing
    // it would drop prefix matches missing the trailing property
    // (Neo4j's completeness rule). Every predicate stays residual.
    "cypher_prop_index_comp_range" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer)
           WHERE c.nation = 5 AND c.segment >= 'B' AND c.segment <= 'F'
           RETURN c.gid AS gid, c.name AS name
           UNION ALL
           MATCH (c:Customer {nation: 7})
           RETURN c.gid AS gid, c.name AS name""")
        .orderBy($"gid")
    }),

    // CONTAINS through the property index (Neo4j's TEXT-index class):
    // the needle expands against the vocabulary-sized sect=w value
    // dictionary, then candidate gids resolve from EXACTLY the
    // matched values' sect=p equality buckets — never a label scan;
    // the predicate stays residual.
    "cypher_prop_index_contains" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) WHERE c.name CONTAINS '0000003'
           RETURN c.gid AS gid, c.name AS name""")
        .orderBy($"gid")
    }),

    // ENDS WITH through the same dictionary (suffix match over the
    // stored vocabulary — no reversed-key twin section needed)
    "cypher_prop_index_suffix" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) WHERE c.name ENDS WITH $sfx
           RETURN c.gid AS gid, c.name AS name""",
        Map("sfx" -> "042"))
        .orderBy($"gid")
    }),

    // COMPOSITE-key ordered walk: equality on the leading component
    // + ORDER BY the trailing one + LIMIT — the escape-framed
    // composite sect=r span serves the top-k in key order with an
    // early-stopping walk (keyset pagination over compound sort
    // keys); the gid tiebreak keeps LIMIT-boundary ties
    // deterministic for the oracle.
    "cypher_index_comp_order" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) WHERE c.nation = 5 AND c.acctbal > -500.0
           RETURN c.gid AS gid, toFloat(c.acctbal) AS acctbal
           ORDER BY c.nation, c.acctbal, c.gid LIMIT 10""")
        .orderBy($"gid")
    }),

    // Index-ORDERED top-k (the keyset-pagination read Neo4j serves
    // straight off its range index): ORDER BY c.acctbal LIMIT k walks
    // the value-sorted sect=r buckets in key order and stops once k
    // provable survivors are seen — candidate node rows resolve from
    // their gid buckets, the label partition is never scanned, and
    // the sort/limit stay in the plan on top (the route narrows the
    // files read, never the result).
    "cypher_index_order" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer)
           RETURN c.gid AS gid, c.name AS name,
                  toFloat(c.acctbal) AS acctbal
           ORDER BY c.acctbal, c.gid LIMIT 12""")
        .orderBy($"gid")
    }),

    // the DESC twin with a cursor bound (nodes missing the property
    // sort FIRST under DESC and are invisible to the index, so DESC
    // only routes when a bound pins non-null — here it also narrows
    // the walk to the bound's bucket span from the top end)
    "cypher_index_order_desc" -> ((s, dir) => {
      import s.implicits._
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) WHERE c.acctbal >= $lo
           RETURN c.gid AS gid, toFloat(c.acctbal) AS acctbal
           ORDER BY c.acctbal DESC, c.gid DESC LIMIT 12""",
        Map("lo" -> 0.0))
        .orderBy($"gid")
    }),

    // min/max straight off the index: each aggregate is a need-1 walk
    // from its end of the numeric region — a handful of index rows
    // and one node row per aggregate instead of a label scan
    "cypher_index_minmax" -> ((s, dir) => {
      val st = propIndexStore(s, dir)
      CypherEngine.query(st,
        """MATCH (c:Customer) WHERE c.acctbal >= -1000.0
           RETURN toFloat(min(c.acctbal)) AS lo,
                  toFloat(max(c.acctbal)) AS hi""")
    }),

    // CREATE FULLTEXT INDEX + CALL db.index.fulltext.queryNodes — the
    // BM25 procedure over the store-maintained posting table
    // (sect=t/bucket=H(term) directories; the probe prunes to the
    // query terms' buckets + the one stats row, never a corpus scan).
    "cypher_fulltext" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx', 'spark hash join')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // the standard analyzer + Lucene boolean syntax: a MIXED-CASE
    // query analyzes to the stored lowercase tokens (the silent-recall
    // trap a ported Neo4j app would hit with a case-sensitive
    // tokenizer), AND requires both terms, NOT excludes docs with
    // 'merge' — evaluated as a per-doc matched-atom bitmask over one
    // shared posting aggregation (no joins between atoms); negated
    // atoms never contribute score.
    "cypher_fulltext_analyzer" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx',
             'SPARK AND Hash NOT Merge')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // Lucene proximity query ("a b"~n): conjunctive candidates from
    // the posting buckets, then a pure POSITIONAL verification — the
    // adjusted position sets of the two terms must intersect a
    // width-2 window (a reversed bigram needs slop 2, as in Lucene);
    // the stored text is never read. The oracle replays the window
    // check with nested list lambdas over 1-based token positions.
    "cypher_fulltext_slop" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx', '"merge join"~2')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // Lucene `^boost`: a positive multiplier on the wrapped clause's
    // score — the hit set is unchanged; the oracle replays the
    // per-term BM25 contributions with the multiplier applied
    "cypher_fulltext_boost" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx', 'spark^2 OR hash')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // fuzzy edit-distance weighting: a matched term's contribution
    // scales by 1 − edits/|queryTerm| (exact term keeps weight 1) —
    // candidates expand against the sect=d term dictionary, the
    // weighting is arithmetic over postings already read
    "cypher_fulltext_fuzzy" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx', 'hashh~1')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // Lucene wildcard leaves (`ha?h`): `?` / interior `*` expand
    // against the sect=d term dictionary exactly like fuzzy — the
    // dictionary names the posting buckets, the anchored-regex
    // predicate rides the posting filter; every matched term
    // contributes its full BM25 weight (the prefix/multi-term model)
    "cypher_fulltext_wildcard" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx', 'ha?h')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // Lucene term-range leaves (`[hash TO hat]`): a dictionary-order
    // interval (inclusive brackets, `{ }` exclusive, `*` open end) —
    // the same dictionary expansion, contiguous in term order
    "cypher_fulltext_term_range" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx', '[hash TO hat]')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // per-field BM25F over a MULTI-FIELD index: `source:src3` scores
    // with the SOURCE field's own tf/dl/df and collection statistics
    // (docCount, avgdl — Lucene's per-field model), `body:spark` with
    // the body field's; both leaves are pure index reads off the
    // per-field postings (fld/off/dlt columns + per-field stats rows)
    // — no stored-text verification. The oracle replays both fields'
    // BM25 independently and sums matched leaves (OR semantics).
    "cypher_fulltext_bm25f" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore2(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx2',
             'source:src3 OR body:spark')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // field-scoped proximity (`body:"merge join"~2`): candidates and
    // window verification both come from the FIELD-LOCAL positional
    // postings — a cross-field "phrase" can never match, and the
    // score is the field's own BM25 × the 1/(1+wmin) proximity
    // weight. On this fixture the body field is the whole document,
    // so the oracle equals the unscoped slop oracle — pinning that
    // field scoping over the full field is scoring-neutral.
    "cypher_fulltext_field_slop" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore2(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx2',
             'body:"merge join"~2')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }),

    // Lucene phrase query: conjunctive candidates from the posting
    // buckets, contiguity verified on the POSITIONAL postings (a pure
    // index read — the oracle replays the equivalent sliding-window
    // check with a list lambda).
    "cypher_fulltext_phrase" -> ((s, dir) => {
      import s.implicits._
      val st = documentStore(s, dir)
      CypherEngine.query(st,
        """CALL db.index.fulltext.queryNodes('fidx', '"merge join"')
           YIELD node, score
           RETURN node.gid AS gid, score""")
        .select($"gid", round($"score", 9).as("score"))
        .orderBy($"gid")
    }))

  /** embeddings table as :Emb nodes (gid `v:<vec_id>`, list prop
    * `emb`) with a trained vector index — built once per (session,
    * dir); entities build DISTRIBUTED from the parquet rows. */
  private def embeddingStore(s: SparkSession,
      dir: String): graft.store.GraphStore =
    graft.Memo.fixture("CypherQ.embeddingStore", s, dir) {
      import s.implicits._
      val store = new graft.store.GraphStore(
        graft.Memo.tempDir("graft-vidx-q"),
        s, 8)
      val ents = Relational.t(s, dir, "embeddings")
        .select($"vec_id".cast("long"),
          transform($"embedding", x => x.cast("double")))
        .as[(Long, Seq[Double])]
        .map { case (id, v) =>
          graft.model.Entity(s"v:$id",
            props = Map(
              "http://g/prop#emb" -> graft.model.PV.of(v),
              // ~1%-selectivity partition flag for the FILTERED
              // search entry (px-indexed below)
              "http://g/prop#flag" -> graft.model.PV.of(id % 97)))
        }
      graft.ops.GraphMerge.applyBatch(store, "embs", "Emb", ents,
        truncateFirst = true)
      CypherEngine.query(store,
        "CREATE INDEX vflag FOR (m:Emb) ON (m.flag)").collect()
      CypherEngine.query(store,
        "CREATE VECTOR INDEX vidx FOR (m:Emb) ON (m.emb)").collect()
      // a SECOND index on the same property, euclidean — the two
      // tables maintain side by side in every commit
      CypherEngine.query(store,
        """CREATE VECTOR INDEX vidx_l2 FOR (m:Emb) ON (m.emb)
           OPTIONS {indexConfig:
             {`vector.similarity_function`: 'euclidean'}}""").collect()
      // …and a THIRD with quantized SQ8 storage (codes + codebook
      // instead of raw float64 rows; queries rescore exactly)
      CypherEngine.query(store,
        """CREATE VECTOR INDEX vidx_q8 FOR (m:Emb) ON (m.emb)
           OPTIONS {indexConfig: {`graft.quantization`: 'sq8'}}""")
        .collect()
      store
    }

  /** customer table as :Customer nodes (name + acctbal props) with a
    * declared property index on `name` — built once per (session,
    * dir), its own store so the shared customer-graph fixture's
    * version history stays untouched. */
  private def propIndexStore(s: SparkSession,
      dir: String): graft.store.GraphStore =
    graft.Memo.fixture("CypherQ.propIndexStore", s, dir) {
      import s.implicits._
      val store = new graft.store.GraphStore(
        graft.Memo.tempDir("graft-pidx-q"),
        s, 8)
      val ents = Relational.t(s, dir, "customer")
        .select($"c_custkey".cast("long"), $"c_name",
          $"c_acctbal".cast("double"), $"c_nationkey".cast("long"),
          $"c_mktsegment")
        .as[(Long, String, Double, Long, String)]
        .map { case (k, name, bal, nk, seg) =>
          graft.model.Entity(s"c:$k",
            props = Map(
              "http://g/prop#name" -> graft.model.PV.of(name),
              "http://g/prop#acctbal" -> graft.model.PV.of(bal),
              "http://g/prop#nation" -> graft.model.PV.of(nk),
              "http://g/prop#segment" -> graft.model.PV.of(seg),
              // deterministic synthetic coordinates (the spatial
              // fixture — DuckDB re-derives them from c_custkey)
              "http://g/prop#x" ->
                graft.model.PV.of((k * 37 % 1000) / 10.0),
              "http://g/prop#y" ->
                graft.model.PV.of((k * 73 % 1000) / 10.0)))
        }
      graft.ops.GraphMerge.applyBatch(store, "customers", "Customer", ents,
        truncateFirst = true)
      CypherEngine.query(store,
        "CREATE INDEX cnameidx FOR (c:Customer) ON (c.name)").collect()
      CypherEngine.query(store,
        "CREATE INDEX cbalidx FOR (c:Customer) ON (c.acctbal)").collect()
      CypherEngine.query(store,
        "CREATE INDEX cxidx FOR (c:Customer) ON (c.x)").collect()
      // composite (tenant, key)-shaped index: routed only when BOTH
      // keys have equality bindings
      CypherEngine.query(store,
        "CREATE INDEX cnsidx FOR (c:Customer) ON (c.nation, c.segment)")
        .collect()
      // composite with a NUMERIC trailing key — the composite
      // ordered-walk entry routes through it
      CypherEngine.query(store,
        "CREATE INDEX cnbidx FOR (c:Customer) ON (c.nation, c.acctbal)")
        .collect()
      // Z-order POINT index over the synthetic coordinates — the
      // cypher_point_index probes route through its sect=z quadtree
      // cover (true 2-D pruning) instead of the one-coordinate band
      CypherEngine.query(store,
        "CREATE POINT INDEX cxy FOR (c:Customer) ON (c.x, c.y)")
        .collect()
      store
    }

  /** Customers synced in THREE incremental batches from different
    * datasets (ds0/ds1/ds2 by custkey mod 3) so the located_in edges
    * carry three distinct `source` values, plus a declared
    * RELATIONSHIP property index on r.source — the Neo4j 5
    * `CREATE INDEX FOR ()-[r:T]-() ON (r.source)` surface. */
  private def relPropIndexStore(s: SparkSession,
      dir: String): graft.store.GraphStore =
    graft.Memo.fixture("CypherQ.relPropIndexStore", s, dir) {
      import s.implicits._
      val store = new graft.store.GraphStore(
        graft.Memo.tempDir("graft-relpx-q"),
        s, 8)
      (0 until 3).foreach { mod =>
        val ents = Relational.t(s, dir, "customer")
          .filter(pmod($"c_custkey", lit(3)) === mod)
          .select($"c_custkey".cast("long"), $"c_nationkey".cast("long"))
          .as[(Long, Long)]
          .map { case (k, nk) =>
            graft.model.Entity(s"c:$k",
              props = Map("http://g/prop#ck" -> graft.model.PV.of(k)),
              refs = Map("http://g/rel#located_in" -> Seq(s"n:$nk")))
          }
        graft.ops.GraphMerge.applyBatch(store, s"ds$mod", "Customer", ents)
      }
      CypherEngine.query(store,
        "CREATE INDEX rsrc FOR ()-[r:located_in]-() ON (r.source)")
        .collect()
      store
    }

  /** Customer nodes with a NODE KEY on (nation, name) and a
    * relationship-existence constraint — built once per (session,
    * dir); the veto batteries run at build so the registry entry's
    * read sees exactly the surviving state. */
  private def constraintStore(s: SparkSession,
      dir: String): graft.store.GraphStore =
    graft.Memo.fixture("CypherQ.constraintStore", s, dir) {
      import s.implicits._
      val store = new graft.store.GraphStore(
        graft.Memo.tempDir("graft-cstr-q"),
        s, 8)
      val ents = Relational.t(s, dir, "customer")
        .select($"c_custkey".cast("long"), $"c_name",
          $"c_nationkey".cast("long"))
        .as[(Long, String, Long)]
        .map { case (k, name, nk) =>
          graft.model.Entity(s"c:$k",
            props = Map(
              "http://g/prop#name" -> graft.model.PV.of(name),
              "http://g/prop#nation" -> graft.model.PV.of(nk)))
        }
      graft.ops.GraphMerge.applyBatch(store, "customers", "Customer", ents,
        truncateFirst = true)
      CypherEngine.query(store,
        """CREATE CONSTRAINT ckey FOR (c:Customer)
           REQUIRE (c.nation, c.name) IS NODE KEY""").collect()
      CypherEngine.query(store,
        """CREATE CONSTRAINT csrc FOR ()-[r:refers]-()
           REQUIRE r.source IS NOT NULL""").collect()
      // violating writes must veto and leave the store untouched —
      // surfaced as a hard error here so the gate sees any drift
      def mustVeto(q: String): Unit = {
        val v0 = store.currentVersion
        val ok = try { CypherEngine.query(store, q).collect(); false }
        catch { case _: graft.store.ConstraintViolation => true }
        require(ok && store.currentVersion == v0,
          s"constraint did not veto: $q")
      }
      // a fresh tuple lands; duplicating it under another gid vetoes
      CypherEngine.query(store,
        "CREATE (:Customer {gid: 'c:x1', nation: 777, name: 'zz'})")
        .collect()
      mustVeto("CREATE (:Customer {gid: 'c:x2', nation: 777, name: 'zz'})")
      mustVeto("CREATE (:Customer {gid: 'c:half', nation: 5})")
      mustVeto("""MATCH (a:Customer {gid: 'c:1'}), (b:Customer {gid: 'c:2'})
        CREATE (a)-[:refers]->(b)""")
      // valid writes land
      CypherEngine.query(store,
        """MATCH (a:Customer {gid: 'c:1'}), (b:Customer {gid: 'c:2'})
           CREATE (a)-[:refers {source: 'graph'}]->(b)""").collect()
      // property TYPE constraint (Neo4j 5.9 `IS :: STRING`): a
      // wrong-typed write vetoes store-untouched; a right-typed one
      // lands; an ABSENT value passes (no implied existence)
      CypherEngine.query(store,
        """CREATE CONSTRAINT ctype FOR (c:Customer)
           REQUIRE c.name IS :: STRING""").collect()
      mustVeto("CREATE (:Customer {gid: 'c:tbad', nation: 999, name: 42})")
      CypherEngine.query(store,
        "CREATE (:Customer {gid: 'c:tok', nation: 888, name: 'tt'})")
        .collect()
      // single-prop index on name: its sect=w value dictionary +
      // the STRING-type proof above serve dictionary-only DISTINCT
      CypherEngine.query(store,
        "CREATE INDEX cname FOR (c:Customer) ON (c.name)").collect()
      store
    }

  /** documents table as :Doc nodes (gid `d:<doc_id>`, string prop
    * `body`) with a fulltext index. */
  private def documentStore(s: SparkSession,
      dir: String): graft.store.GraphStore =
    graft.Memo.fixture("CypherQ.documentStore", s, dir) {
      import s.implicits._
      val store = new graft.store.GraphStore(
        graft.Memo.tempDir("graft-fidx-q"),
        s, 8)
      val ents = Relational.t(s, dir, "documents")
        .select($"doc_id".cast("string"), $"text")
        .as[(String, String)]
        .map { case (id, text) =>
          graft.model.Entity(s"d:$id",
            props = Map("http://g/prop#body" -> graft.model.PV.of(text)))
        }
      graft.ops.GraphMerge.applyBatch(store, "docs", "Doc", ents,
        truncateFirst = true)
      CypherEngine.query(store,
        "CREATE FULLTEXT INDEX fidx FOR (x:Doc) ON EACH [x.body]").collect()
      store
    }

  /** documents table as :Doc nodes with TWO text props (source,
    * body) and a MULTI-FIELD fulltext index — the per-field BM25F
    * fixture (field-scoped leaves score the named field's own
    * statistics, Lucene's model). */
  private def documentStore2(s: SparkSession,
      dir: String): graft.store.GraphStore =
    graft.Memo.fixture("CypherQ.documentStore2", s, dir) {
      import s.implicits._
      val store = new graft.store.GraphStore(
        graft.Memo.tempDir("graft-fidx2-q"),
        s, 8)
      val ents = Relational.t(s, dir, "documents")
        .select($"doc_id".cast("string"), $"source", $"text")
        .as[(String, String, String)]
        .map { case (id, src, text) =>
          graft.model.Entity(s"d:$id",
            props = Map(
              "http://g/prop#source" -> graft.model.PV.of(src),
              "http://g/prop#body" -> graft.model.PV.of(text)))
        }
      graft.ops.GraphMerge.applyBatch(store, "docs", "Doc", ents,
        truncateFirst = true)
      CypherEngine.query(store,
        "CREATE FULLTEXT INDEX fidx2 FOR (x:Doc) " +
          "ON EACH [x.source, x.body]").collect()
      store
    }

  val oracles: Map[String, String] = Map(
    "cypher_match_where" ->
      """SELECT 'n:'||n_nationkey AS gid, n_name AS name FROM nation
         WHERE 'n:'||n_nationkey >= 'n:10' ORDER BY gid""",
    "cypher_expand" ->
      """SELECT 'n:'||n_nationkey AS gid, 'in_region' AS rel,
         'r:'||n_regionkey AS region FROM nation ORDER BY gid""",
    "cypher_group_count" ->
      """SELECT 'r:'||n_regionkey AS region, COUNT(*) AS n
         FROM nation GROUP BY 1 ORDER BY region""",
    "cypher_agg" ->
      """SELECT COUNT(*) AS n_edges,
         COUNT(DISTINCT n_regionkey) AS n_regions FROM nation""",
    "cypher_with_having" ->
      """SELECT 'r:'||n_regionkey AS region, COUNT(*) AS n_nations
         FROM nation GROUP BY 1 HAVING COUNT(*) >= 5 ORDER BY region""",
    "cypher_var_length" ->
      """SELECT 'n:'||n_nationkey AS gid, 'r:'||n_regionkey AS target
         FROM nation ORDER BY gid, target""",
    "cypher_unwind" ->
      """SELECT 'n:1' AS gid, CAST(k AS BIGINT) AS k
         FROM (SELECT unnest([0, 1, 2]) AS k) ORDER BY k""",
    "cypher_shortest" ->
      """SELECT 'n:'||n_nationkey AS gid, 'r:'||n_regionkey AS target,
         CAST(1 AS BIGINT) AS d FROM nation ORDER BY gid, target""",
    "cypher_delete" ->
      """SELECT 'r:'||n_regionkey AS region, COUNT(*) AS n
         FROM nation WHERE 'n:'||n_nationkey < 'n:10'
         GROUP BY 1 ORDER BY region""",
    "cypher_list_props" ->
      """SELECT gid, CAST(2 AS BIGINT) AS n_tags, name AS first,
         true AS has_name, unnest(tags) AS tag
         FROM (SELECT 'n:'||n_nationkey AS gid, n_name AS name,
               [n_name, 'r:'||n_regionkey] AS tags FROM nation)
         ORDER BY gid, tag""",
    "cypher_string_fns" ->
      """SELECT n_name AS nation,
         lower(trim(n_name, 'N')) AS trimmed,
         n_name AS norm,
         COUNT(*) AS n_cust,
         CAST(COUNT(*) AS DOUBLE) AS cnt_hd,
         ceil(COUNT(*) / 4.0) AS cnt_up,
         CASE WHEN COUNT(*) > 5 THEN 'many'
           WHEN COUNT(*) IN (1, 2) THEN 'few' ELSE 'some' END AS bucket,
         (COUNT(*) > 3) <> (n_name LIKE '%1') AS flag
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c_name LIKE '%7'
         GROUP BY n_name ORDER BY nation""",
    "cypher_collect_full" ->
      """SELECT n.n_name AS nation,
         COALESCE('|' || array_to_string(
           list(c.c_name ORDER BY c.c_name)
             FILTER (WHERE c.c_name IS NOT NULL), '|'), '') AS rich
         FROM nation n LEFT JOIN customer c
           ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9500
         GROUP BY 1 ORDER BY nation""",
    "cypher_count_full" ->
      """SELECT n_name AS nation,
         (SELECT COUNT(*) FROM customer a JOIN customer b
            ON a.c_nationkey = n.n_nationkey
           AND b.c_nationkey = n.n_nationkey
           AND b.c_acctbal > a.c_acctbal) AS pairs
         FROM nation n ORDER BY nation""",
    "cypher_call_value" ->
      """SELECT 'c:'||c.c_custkey AS gid,
         (SELECT COUNT(*) FROM customer o JOIN nation m
            ON o.c_nationkey = m.n_nationkey
          WHERE m.n_name = 'NATION_5' AND o.c_acctbal > c.c_acctbal)
           AS richer
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE n.n_name = 'NATION_5' ORDER BY gid""",
    "cypher_qpp_group" ->
      """SELECT 'c:'||c_custkey AS gid,
         '|c:'||c_custkey||'|n:'||c_nationkey AS xs,
         '|n:'||c_nationkey||'|r:'||n_regionkey AS ys,
         CAST(2 AS BIGINT) AS nr
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_name LIKE '%77' ORDER BY gid""",
    "cypher_count_corr" ->
      """SELECT 'c:'||c.c_custkey AS gid,
         (SELECT COUNT(*) FROM customer o JOIN nation m
            ON o.c_nationkey = m.n_nationkey
          WHERE m.n_name = 'NATION_3' AND o.c_acctbal > c.c_acctbal)
           AS richer
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE n.n_name = 'NATION_3' ORDER BY gid""",
    "cypher_rel_uniq" ->
      """SELECT n_name AS nation, COUNT(*) * (COUNT(*) - 1) AS n_pairs
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY nation""",
    "cypher_varlen_rels" ->
      """SELECT 'c:' || c_custkey AS gid, CAST(2 AS BIGINT) AS n,
         '|located_in|in_region' AS types
         FROM customer WHERE c_name LIKE '%42'
         ORDER BY gid""",
    "cypher_multilabel" ->
      """SELECT 'n:'||n_nationkey AS gid, n_name AS name,
         'Nation' AS l0, 'Place' AS l1
         FROM nation ORDER BY gid""",
    "cypher_map_proj" ->
      """SELECT c_name AS name, 'n:'||c_nationkey AS nation,
         c_acctbal AS acctbal
         FROM customer WHERE c_acctbal > 9000 ORDER BY name""",
    "cypher_temporal" ->
      """SELECT ds AS d_str, year(d) AS y, quarter(d) AS q,
         isodow(d) AS dow,
         year(d + INTERVAL 45 DAY) * 10000
           + month(d + INTERVAL 45 DAY) * 100
           + day(d + INTERVAL 45 DAY) AS plus45,
         epoch_ms((ds || 'T06:30:00Z')::TIMESTAMP) AS ms,
         epoch_ms((ds || 'T06:30:00Z')::TIMESTAMP
           + INTERVAL 20 HOUR + INTERVAL 30 MINUTE) AS ms2,
         epoch_ms(date_trunc('month', (ds || 'T06:30:00Z')::TIMESTAMP))
           AS tr_mo,
         mo::BIGINT AS bt_mo,
         date_diff('day', d + to_months(mo::INT), d + INTERVAL 45 DAY)
           ::BIGINT AS bt_d,
         45::BIGINT AS in_d
         FROM (SELECT ds, d,
                 -- whole months, day-of-month aware (the engine's
                 -- months_between truncation; fixture avoids the
                 -- both-last-day special case)
                 date_diff('month', d, d + INTERVAL 45 DAY)
                   - CASE WHEN day(d + INTERVAL 45 DAY) < day(d)
                          THEN 1 ELSE 0 END AS mo
               FROM (SELECT
                 unnest(['2024-01-15', '2024-02-29', '2024-12-31'])
                   AS ds, unnest(['2024-01-15', '2024-02-29',
                 '2024-12-31'])::DATE AS d))
         ORDER BY d_str""",
    "cypher_collect_order" ->
      """SELECT 'r:'||n_regionkey AS region,
         '|' || array_to_string(list(n_name ORDER BY n_name DESC), '|')
           AS names
         FROM nation GROUP BY 1 ORDER BY region""",
    "cypher_ref_templates" ->
      """SELECT 'n:'||n_nationkey AS gid, n_name AS name,
         'nations' AS src, 'r:'||n_regionkey AS region
         FROM nation WHERE 'n:'||n_nationkey < 'n:20'
         ORDER BY gid""",
    "cypher_case_in" ->
      """SELECT n.n_name AS nation,
         CASE WHEN c.c_acctbal >= 5000 THEN 'high'
              WHEN c.c_acctbal >= 0 THEN 'mid'
              ELSE 'neg' END AS band,
         CAST(COUNT(*) AS BIGINT) AS n_cust
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE n.n_name IN ('NATION_3', 'NATION_7') AND c.c_name LIKE '%1%'
         GROUP BY 1, 2 ORDER BY nation, band""",
    "cypher_pattern_comp" ->
      """SELECT n.n_name AS nation,
         COALESCE('|' || array_to_string(
           list(c.c_name ORDER BY c.c_name)
             FILTER (WHERE c.c_name IS NOT NULL), '|'), '') AS rich
         FROM nation n LEFT JOIN customer c
           ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000
         GROUP BY 1 ORDER BY nation""",
    "cypher_collect_sub" ->
      """SELECT n.n_name AS nation,
         COUNT(c.c_name)::BIGINT AS n_rich,
         COALESCE('|' || array_to_string(
           list(c.c_name ORDER BY c.c_name)
             FILTER (WHERE c.c_name IS NOT NULL), '|'), '') AS rich
         FROM nation n LEFT JOIN customer c
           ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000
         GROUP BY 1 ORDER BY nation""",
    "cypher_customer_graph" ->
      """SELECT 'r:'||n.n_regionkey AS region, COUNT(*) AS n_cust
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal > 5000
         GROUP BY 1 ORDER BY region""",
    "cypher_customer_varlen" ->
      """WITH hops AS (
           SELECT 'n:'||c_nationkey AS target FROM customer
           UNION ALL
           SELECT 'r:'||n.n_regionkey
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
         SELECT target, COUNT(*) AS n FROM hops
         GROUP BY 1 ORDER BY target""",
    "cypher_varlen_zero" ->
      """WITH hops AS (
           SELECT 'c:'||c_custkey AS target FROM customer
           UNION ALL
           SELECT 'n:'||c_nationkey FROM customer
           UNION ALL
           SELECT 'r:'||n.n_regionkey
           FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
         SELECT target, COUNT(*) AS n FROM hops
         GROUP BY 1 ORDER BY target""",
    "cypher_call_topk" ->
      """SELECT n.n_name AS nation, MIN(c.c_name) AS top_cust
         FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
         GROUP BY 1 ORDER BY nation""",
    "cypher_pattern_pred" ->
      """SELECT n.n_name AS nation FROM nation n
         WHERE EXISTS (SELECT 1 FROM customer c
           WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000)
         ORDER BY nation""",
    "cypher_call_union" ->
      """WITH pairs AS (
           SELECT 'n:'||n_nationkey AS gid, 'r:'||n_regionkey AS who
           FROM nation
           UNION
           SELECT 'n:'||n_nationkey, 'n:'||n_nationkey FROM nation)
         SELECT gid, who FROM pairs ORDER BY gid, who""",
    "cypher_call_agg" ->
      """WITH nodes AS (
           SELECT 'n:'||n_nationkey AS gid, CAST(1 AS BIGINT) AS deg,
                  'r:'||n_regionkey AS first_region FROM nation
           UNION ALL
           SELECT DISTINCT 'r:'||n_regionkey, CAST(0 AS BIGINT),
                  CAST(NULL AS VARCHAR) FROM nation)
         SELECT gid, deg, first_region FROM nodes ORDER BY gid""",
    "cypher_count_sub" ->
      """SELECT n_name AS nation,
         (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey)
           AS n_cust
         FROM nation n ORDER BY nation""",
    "cypher_arith" ->
      """SELECT n.n_name AS nation, 'x:'||n.n_name AS tag,
         COUNT(*) AS n_cust, CAST(COUNT(*) * 2 + 1 AS BIGINT) AS odd,
         FLOOR(SUM(c.c_acctbal) / COUNT(*)) AS avg_floor,
         MIN(c.c_name) AS first_name
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE regexp_full_match(c.c_name, '.*[02468]')
         GROUP BY 1, 2 ORDER BY nation""",
    "cypher_db_meta" ->
      """SELECT kind, name FROM (VALUES
           ('label', 'Customer'), ('label', 'Nation'),
           ('propKey', 'acctbal'), ('propKey', 'name'),
           ('relType', 'in_region'), ('relType', 'located_in'))
           t(kind, name)
         ORDER BY kind, name""",
    "cypher_reachable" ->
      """SELECT gid, hops FROM (
           SELECT 'n:0' AS gid, 0 AS hops
           UNION ALL
           SELECT 'r:' || (SELECT n_regionkey FROM nation
             WHERE n_nationkey = 0), 1)
         ORDER BY gid""",
    "cypher_stats" ->
      """SELECT kind, name, n FROM (
           SELECT 'nodes' AS kind, 'Nation' AS name, count(*) AS n
           FROM nation
           UNION ALL
           SELECT 'nodes', '<unlabeled>', count(DISTINCT n_regionkey)
           FROM nation
           UNION ALL
           SELECT 'relationships', 'in_region', count(*) FROM nation)
         ORDER BY kind, name""",
    "cypher_point" ->
      """WITH i AS (SELECT unnest(range(0, 5)) AS i),
         c AS (SELECT i,
             CAST(i AS DOUBLE) * 3.0 AS x, CAST(i AS DOUBLE) * 4.0 AS y,
             CAST(i AS DOUBLE) * 1.0 AS lon,
             50.0 + CAST(i AS DOUBLE) AS lat
           FROM i)
         SELECT i,
           round(sqrt((x - 0.0) * (x - 0.0) + (y - 0.0) * (y - 0.0)), 9)
             AS cart,
           round(2.0 * 6371000.0 * asin(sqrt(
             pow(sin((50.0 - lat) * (pi() / 180.0) / 2), 2) +
             cos(lat * (pi() / 180.0)) * cos(50.0 * (pi() / 180.0)) *
               pow(sin((0.0 - lon) * (pi() / 180.0) / 2), 2))), 3) AS geo,
           (x >= 2.0 AND x <= 7.0 AND y >= 2.0 AND y <= 9.0) AS inbox
         FROM c ORDER BY i""",
    "cypher_intx_ingest" ->
      """WITH k AS (SELECT unnest(range(0, 25)) AS k)
         SELECT CAST(k % 5 AS VARCHAR) AS v, count(*) AS cnt,
           min('n:' || CAST(k AS VARCHAR)) AS first
         FROM k GROUP BY 1 ORDER BY v""",
    "cypher_proc_analytics" ->
      """WITH pr AS (
           SELECT 'pr' AS kind, 'n:'||n_nationkey AS gid,
             CAST(150000 AS BIGINT) AS v FROM nation
           UNION ALL
           SELECT 'pr', 'r:'||n_regionkey,
             150000 + COUNT(*) * 127500 FROM nation GROUP BY n_regionkey),
         deg AS (
           SELECT 'deg' AS kind, 'n:'||n_nationkey AS gid,
             CAST(100 AS BIGINT) AS v FROM nation
           UNION ALL
           SELECT 'deg', 'r:'||n_regionkey, COUNT(*)
           FROM nation GROUP BY n_regionkey),
         cc AS (
           SELECT 'cc' AS kind, 'n:'||n_nationkey AS gid,
             CAST(0 AS BIGINT) AS v
           FROM nation WHERE n_regionkey =
             (SELECT n_regionkey FROM nation WHERE n_nationkey = 0)
           UNION ALL
           SELECT 'cc', 'r:'||
             (SELECT n_regionkey FROM nation WHERE n_nationkey = 0), 0)
         SELECT kind, gid, v FROM
           (SELECT * FROM pr UNION ALL SELECT * FROM deg
            UNION ALL SELECT * FROM cc)
         ORDER BY kind, gid""",
    "cypher_set_create" ->
      """WITH nn AS (
           SELECT n_regionkey,
             CASE WHEN n_nationkey = 1 THEN 'RENAMED' ELSE n_name END AS name
           FROM nation
           UNION ALL SELECT 0, 'ATLANTIS')
         SELECT 'r:'||n_regionkey AS region, COUNT(*) AS cnt,
           MIN(name) AS first_name
         FROM nn GROUP BY 1 ORDER BY region""",
    "cypher_schema_procs" ->
      """SELECT * FROM (
           SELECT ':Customer' AS nodeType, '|Customer' AS nodeLabels,
             'acctbal' AS propertyName, '|Double' AS propertyTypes,
             (SELECT count(c_acctbal) = count(*) FROM customer) AS mandatory
           UNION ALL
           SELECT ':Customer', '|Customer', 'name', '|String',
             (SELECT count(c_name) = count(*) FROM customer)
           UNION ALL
           SELECT ':Nation', '|Nation', 'name', '|String',
             (SELECT count(n_name) = count(*) FROM nation))
         ORDER BY nodeType, propertyName""",
    "cypher_path_props" ->
      """SELECT 'c:' || c_custkey AS gid,
           '|' || c_name || '|' || n_name || '|<null>' AS names
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_acctbal > 9800 ORDER BY gid""",

    // unrolled twin of the store vector index: gid-ordered K=16 seed,
    // 2 integer-micro Lloyd steps, cosine assignment with lowest-cid
    // tie-break (= SearchIndexes.trainCentroids/assignCells), 2-cell
    // probe for vec_id 0's own embedding, exact cosine top-10
    "cypher_vector_filtered" ->
      """WITH e AS (SELECT 'v:' || CAST(vec_id AS VARCHAR) gid,
             CAST(embedding AS DOUBLE[]) v, vec_id FROM embeddings),
         q AS (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings
           WHERE vec_id = 0),
         n AS (SELECT gid, v, vec_id,
           sqrt(list_dot_product(v, v)) norm FROM e)
         SELECT gid, round(score, 9) AS score FROM (
           SELECT gid,
             (1.0 + list_dot_product(v, (SELECT qv FROM q)) /
               (norm * sqrt(list_dot_product((SELECT qv FROM q),
                 (SELECT qv FROM q))))) / 2.0 AS score
           FROM n WHERE vec_id % 97 = 0
           ORDER BY score DESC, gid LIMIT 10)
         ORDER BY gid""",

    "cypher_vector_index" ->
      """WITH e AS (SELECT 'v:' || CAST(vec_id AS VARCHAR) gid,
             CAST(embedding AS DOUBLE[]) v FROM embeddings),
         n AS (SELECT gid, v, sqrt(list_dot_product(v, v)) norm FROM e),
         c0 AS (SELECT row_number() OVER (ORDER BY gid) - 1 AS cid, v cv
           FROM (SELECT gid, v FROM n ORDER BY gid LIMIT 16)),
         c0n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c0),
         a1 AS (SELECT gid, v, cid FROM (
             SELECT a.gid, a.v, c.cid,
               row_number() OVER (PARTITION BY a.gid
                 ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn)
                   DESC, c.cid) r
             FROM n a CROSS JOIN c0n c) WHERE r = 1),
         m1 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a1)
           GROUP BY cid, pos),
         c1 AS (SELECT c0.cid, COALESCE(mm.cv2, c0.cv) cv FROM c0
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m1
             GROUP BY cid) mm USING (cid)),
         c1n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c1),
         a2 AS (SELECT gid, v, cid FROM (
             SELECT a.gid, a.v, c.cid,
               row_number() OVER (PARTITION BY a.gid
                 ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn)
                   DESC, c.cid) r
             FROM n a CROSS JOIN c1n c) WHERE r = 1),
         m2 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a2)
           GROUP BY cid, pos),
         c2 AS (SELECT c1.cid, COALESCE(mm.cv2, c1.cv) cv FROM c1
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m2
             GROUP BY cid) mm USING (cid)),
         c2n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c2),
         assigned AS (SELECT a.gid, a.v, a.norm, c.cid,
             row_number() OVER (PARTITION BY a.gid
               ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn)
                 DESC, c.cid) r
           FROM n a CROSS JOIN c2n c),
         q AS (SELECT CAST(embedding AS DOUBLE[]) qv,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
               CAST(embedding AS DOUBLE[]))) qn
           FROM embeddings WHERE vec_id = 0),
         probes AS (SELECT cid FROM (
             SELECT c.cid, row_number() OVER
               (ORDER BY list_dot_product(q.qv, c.cv) / (q.qn * c.cn)
                 DESC, c.cid) pr
             FROM c2n c CROSS JOIN q) WHERE pr <= 2),
         hits AS (SELECT a.gid,
             (1.0 + list_dot_product(q.qv, a.v) / (q.qn * a.norm))
               / 2.0 score
           FROM assigned a CROSS JOIN q
           WHERE a.r = 1 AND a.cid IN (SELECT cid FROM probes)
           ORDER BY score DESC, gid LIMIT 10)
         SELECT gid, round(score, 9) AS score FROM hits ORDER BY gid""",

    // euclidean twin: identical unrolled k-means except assignment /
    // probe rank by the affinity 2·v·c − |c|² (argmax = argmin d²;
    // the row-constant |v|² term drops), score = 1/(1+d²)
    "cypher_vector_index_l2" ->
      """WITH e AS (SELECT 'v:' || CAST(vec_id AS VARCHAR) gid,
             CAST(embedding AS DOUBLE[]) v FROM embeddings),
         n AS (SELECT gid, v, sqrt(list_dot_product(v, v)) norm FROM e),
         c0 AS (SELECT row_number() OVER (ORDER BY gid) - 1 AS cid, v cv
           FROM (SELECT gid, v FROM n ORDER BY gid LIMIT 16)),
         c0n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c0),
         a1 AS (SELECT gid, v, cid FROM (
             SELECT a.gid, a.v, c.cid,
               row_number() OVER (PARTITION BY a.gid
                 ORDER BY 2.0 * list_dot_product(a.v, c.cv) - c.cn * c.cn
                   DESC, c.cid) r
             FROM n a CROSS JOIN c0n c) WHERE r = 1),
         m1 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a1)
           GROUP BY cid, pos),
         c1 AS (SELECT c0.cid, COALESCE(mm.cv2, c0.cv) cv FROM c0
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m1
             GROUP BY cid) mm USING (cid)),
         c1n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c1),
         a2 AS (SELECT gid, v, cid FROM (
             SELECT a.gid, a.v, c.cid,
               row_number() OVER (PARTITION BY a.gid
                 ORDER BY 2.0 * list_dot_product(a.v, c.cv) - c.cn * c.cn
                   DESC, c.cid) r
             FROM n a CROSS JOIN c1n c) WHERE r = 1),
         m2 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a2)
           GROUP BY cid, pos),
         c2 AS (SELECT c1.cid, COALESCE(mm.cv2, c1.cv) cv FROM c1
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m2
             GROUP BY cid) mm USING (cid)),
         c2n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c2),
         assigned AS (SELECT a.gid, a.v, a.norm, c.cid,
             row_number() OVER (PARTITION BY a.gid
               ORDER BY 2.0 * list_dot_product(a.v, c.cv) - c.cn * c.cn
                 DESC, c.cid) r
           FROM n a CROSS JOIN c2n c),
         q AS (SELECT CAST(embedding AS DOUBLE[]) qv,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
               CAST(embedding AS DOUBLE[]))) qn
           FROM embeddings WHERE vec_id = 0),
         probes AS (SELECT cid FROM (
             SELECT c.cid, row_number() OVER
               (ORDER BY 2.0 * list_dot_product(q.qv, c.cv) - c.cn * c.cn
                 DESC, c.cid) pr
             FROM c2n c CROSS JOIN q) WHERE pr <= 2),
         hits AS (SELECT a.gid,
             1.0 / (1.0 + (q.qn * q.qn + a.norm * a.norm
               - 2.0 * list_dot_product(q.qv, a.v))) score
           FROM assigned a CROSS JOIN q
           WHERE a.r = 1 AND a.cid IN (SELECT cid FROM probes)
           ORDER BY score DESC, gid LIMIT 10)
         SELECT gid, round(score, 9) AS score FROM hits ORDER BY gid""",

    // the SQ8 tier's replay: identical unrolled k-means (seeds,
    // 2 Lloyd steps, assignment, 2-cell probe) + per-dimension
    // [min,max] codebook, elementwise dequantize, approximate-score
    // shortlist of 64, exact rescore of the shortlist — every
    // floating-point step in the same operation order as the engine
    "cypher_vector_quant" ->
      """WITH e AS (SELECT 'v:' || CAST(vec_id AS VARCHAR) gid,
             CAST(embedding AS DOUBLE[]) v FROM embeddings),
         n AS (SELECT gid, v, sqrt(list_dot_product(v, v)) norm FROM e),
         c0 AS (SELECT row_number() OVER (ORDER BY gid) - 1 AS cid, v cv
           FROM (SELECT gid, v FROM n ORDER BY gid LIMIT 16)),
         c0n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c0),
         a1 AS (SELECT gid, v, cid FROM (
             SELECT a.gid, a.v, c.cid,
               row_number() OVER (PARTITION BY a.gid
                 ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn)
                   DESC, c.cid) r
             FROM n a CROSS JOIN c0n c) WHERE r = 1),
         m1 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a1)
           GROUP BY cid, pos),
         c1 AS (SELECT c0.cid, COALESCE(mm.cv2, c0.cv) cv FROM c0
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m1
             GROUP BY cid) mm USING (cid)),
         c1n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c1),
         a2 AS (SELECT gid, v, cid FROM (
             SELECT a.gid, a.v, c.cid,
               row_number() OVER (PARTITION BY a.gid
                 ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn)
                   DESC, c.cid) r
             FROM n a CROSS JOIN c1n c) WHERE r = 1),
         m2 AS (SELECT cid, pos,
             floor(SUM(CAST(round(val*1e6) AS BIGINT)) * 1.0
               / COUNT(*)) / 1e6 AS m
           FROM (SELECT cid, unnest(range(len(v))) AS pos,
                   unnest(v) AS val FROM a2)
           GROUP BY cid, pos),
         c2 AS (SELECT c1.cid, COALESCE(mm.cv2, c1.cv) cv FROM c1
           LEFT JOIN (SELECT cid, list(m ORDER BY pos) cv2 FROM m2
             GROUP BY cid) mm USING (cid)),
         c2n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) cn FROM c2),
         assigned AS (SELECT a.gid, a.v, a.norm, c.cid,
             row_number() OVER (PARTITION BY a.gid
               ORDER BY list_dot_product(a.v, c.cv) / (a.norm * c.cn)
                 DESC, c.cid) r
           FROM n a CROSS JOIN c2n c),
         q AS (SELECT CAST(embedding AS DOUBLE[]) qv,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
               CAST(embedding AS DOUBLE[]))) qn
           FROM embeddings WHERE vec_id = 0),
         probes AS (SELECT cid FROM (
             SELECT c.cid, row_number() OVER
               (ORDER BY list_dot_product(q.qv, c.cv) / (q.qn * c.cn)
                 DESC, c.cid) pr
             FROM c2n c CROSS JOIN q) WHERE pr <= 2),
         cand AS (SELECT a.gid, a.v, a.norm FROM assigned a
           WHERE a.r = 1 AND a.cid IN (SELECT cid FROM probes)),
         cb AS (SELECT pos, min(val) mn, max(val) mx
           FROM (SELECT unnest(range(len(v))) pos, unnest(v) val FROM n)
           GROUP BY pos),
         dq AS (SELECT gid, norm,
             list(CASE WHEN mx <= mn THEN mn
                  ELSE mn + round((val - mn) * 255.0 / (mx - mn))
                    * (mx - mn) / 255.0 END ORDER BY pos) dqv
           FROM (SELECT gid, norm, unnest(range(len(v))) pos,
                   unnest(v) val FROM cand) x
           JOIN cb USING (pos) GROUP BY gid, norm),
         short AS (SELECT d.gid FROM dq d CROSS JOIN q
           ORDER BY list_dot_product(q.qv, d.dqv) / (d.norm * q.qn)
             DESC, d.gid LIMIT 64),
         hits AS (SELECT n.gid,
             (1.0 + list_dot_product(q.qv, n.v) / (q.qn * n.norm))
               / 2.0 score
           FROM n JOIN short USING (gid) CROSS JOIN q
           ORDER BY score DESC, n.gid LIMIT 10)
         SELECT gid, round(score, 9) AS score FROM hits ORDER BY gid""",

    "cypher_prop_index" ->
      """SELECT 'c:'||c_custkey AS gid, c_name AS name,
         CAST(c_acctbal AS DOUBLE) AS acctbal
         FROM customer
         WHERE c_name IN ('Customer#000000042', 'Customer#000000007',
           'Customer#000000123')
         ORDER BY gid""",

    "cypher_prop_index_range" ->
      """SELECT 'c:'||c_custkey AS gid, c_name AS name,
         CAST(c_acctbal AS DOUBLE) AS acctbal
         FROM customer WHERE CAST(c_acctbal AS DOUBLE) > 9000.0
         ORDER BY gid""",

    "cypher_prop_index_prefix" ->
      """SELECT 'c:'||c_custkey AS gid, c_name AS name
         FROM customer WHERE c_name LIKE 'Customer#00000003%'
         ORDER BY gid""",

    "cypher_prop_index_composite" ->
      """SELECT 'c:'||c_custkey AS gid, c_name AS name
         FROM customer
         WHERE c_nationkey = 5 AND c_mktsegment = 'BUILDING'
         ORDER BY gid""",

    // BM25 twin of the fulltext procedure (t_bm25's proven kernel,
    // query 'spark hash join', gid-keyed) under the index's default
    // standard analyzer: lowercase, tokens are [a-z0-9]+ runs
    "cypher_point_index" ->
      """WITH pts AS (SELECT 'c:'||c_custkey AS gid,
           (c_custkey * 37 % 1000) / 10.0 AS x,
           (c_custkey * 73 % 1000) / 10.0 AS y FROM customer)
         SELECT gid, x, y FROM (
           SELECT * FROM pts
           WHERE x >= 10.0 AND x <= 25.0 AND y >= 20.0 AND y <= 40.0
           UNION ALL
           SELECT * FROM pts
           WHERE sqrt((x-50.0)*(x-50.0) + (y-50.0)*(y-50.0)) <= 5.0)
         ORDER BY gid, x""",

    "cypher_rel_prop_index" ->
      """SELECT gid, nation FROM (
           SELECT 'c:'||c_custkey AS gid, 'n:'||c_nationkey AS nation
           FROM customer WHERE c_custkey % 3 = 1
           UNION ALL
           SELECT 'c:'||c_custkey, 'n:'||c_nationkey
           FROM customer WHERE c_custkey % 3 = 2)
         ORDER BY gid""",

    "cypher_count_store" ->
      """WITH c AS (SELECT count(*) AS n FROM customer),
            nn AS (SELECT count(*) AS n FROM nation),
            r AS (SELECT count(DISTINCT n_regionkey) AS n FROM nation)
         SELECT kind, CAST(n AS BIGINT) AS n FROM (
           SELECT 'customers' AS kind, (SELECT n FROM c) AS n
           UNION ALL
           SELECT 'nations', (SELECT n FROM nn)
           UNION ALL
           SELECT 'all_nodes',
             (SELECT n FROM c) + (SELECT n FROM nn) + (SELECT n FROM r)
           UNION ALL
           SELECT 'located_in', (SELECT n FROM c)
           UNION ALL
           SELECT 'all_edges', (SELECT n FROM c) + (SELECT n FROM nn)
           UNION ALL
           SELECT 'two_labels', (SELECT n FROM c) + (SELECT n FROM nn))
         ORDER BY kind""",

    // one-sided twin: every customer carries one located_in (to a
    // Nation, promoted from stub), every nation one in_region (to an
    // unlabeled r:* stub — so the Region-labeled in-count is 0)
    "cypher_count_store_rel" ->
      """WITH c AS (SELECT count(*) AS n FROM customer),
            nn AS (SELECT count(*) AS n FROM nation)
         SELECT kind, CAST(n AS BIGINT) AS n FROM (
           SELECT 'cust_out' AS kind, (SELECT n FROM c) AS n
           UNION ALL
           SELECT 'to_nation', (SELECT n FROM c)
           UNION ALL
           SELECT 'nation_any', (SELECT n FROM nn)
           UNION ALL
           SELECT 'rev_dir', (SELECT n FROM nn)
           UNION ALL
           SELECT 'to_region_label', 0
           UNION ALL
           SELECT 'count_sub', (SELECT n FROM c))
         ORDER BY kind""",

    "cypher_constraints" ->
      """SELECT 'c:'||c_custkey AS gid, c_name AS name
         FROM customer
         WHERE c_nationkey = 5 AND c_name >= 'Customer#000000'
           AND c_name <= 'Customer#000001'
         ORDER BY gid""",

    "cypher_distinct_dict" ->
      """SELECT DISTINCT name FROM (
           SELECT c_name AS name FROM customer
           UNION ALL SELECT 'tt' UNION ALL SELECT 'zz')
         ORDER BY name LIMIT 40""",

    "cypher_constraints_type" ->
      """SELECT gid, name FROM (
           SELECT 'c:'||c_custkey AS gid, c_name AS name
           FROM customer WHERE c_nationkey >= 700
           UNION ALL SELECT 'c:tok', 'tt'
           UNION ALL SELECT 'c:x1', 'zz')
         ORDER BY gid""",

    "cypher_prop_index_comp_range" ->
      """SELECT gid, name FROM (
           SELECT 'c:'||c_custkey AS gid, c_name AS name
           FROM customer
           WHERE c_nationkey = 5 AND c_mktsegment >= 'B'
             AND c_mktsegment <= 'F'
           UNION ALL
           SELECT 'c:'||c_custkey AS gid, c_name AS name
           FROM customer WHERE c_nationkey = 7)
         ORDER BY gid""",

    "cypher_prop_index_contains" ->
      """SELECT 'c:'||c_custkey AS gid, c_name AS name
         FROM customer WHERE c_name LIKE '%0000003%'
         ORDER BY gid""",

    "cypher_prop_index_suffix" ->
      """SELECT 'c:'||c_custkey AS gid, c_name AS name
         FROM customer WHERE c_name LIKE '%042'
         ORDER BY gid""",

    "cypher_index_comp_order" ->
      """SELECT gid, acctbal FROM (
           SELECT 'c:'||c_custkey AS gid,
             CAST(c_acctbal AS DOUBLE) AS acctbal
           FROM customer
           WHERE c_nationkey = 5 AND CAST(c_acctbal AS DOUBLE) > -500.0
           ORDER BY acctbal, gid LIMIT 10)
         ORDER BY gid""",

    "cypher_index_order" ->
      """SELECT gid, name, acctbal FROM (
           SELECT 'c:'||c_custkey AS gid, c_name AS name,
             CAST(c_acctbal AS DOUBLE) AS acctbal
           FROM customer
           ORDER BY CAST(c_acctbal AS DOUBLE), gid LIMIT 12)
         ORDER BY gid""",

    "cypher_index_order_desc" ->
      """SELECT gid, acctbal FROM (
           SELECT 'c:'||c_custkey AS gid,
             CAST(c_acctbal AS DOUBLE) AS acctbal
           FROM customer WHERE CAST(c_acctbal AS DOUBLE) >= 0.0
           ORDER BY CAST(c_acctbal AS DOUBLE) DESC, gid DESC LIMIT 12)
         ORDER BY gid""",

    "cypher_index_minmax" ->
      """SELECT MIN(CAST(c_acctbal AS DOUBLE)) AS lo,
             MAX(CAST(c_acctbal AS DOUBLE)) AS hi
         FROM customer WHERE CAST(c_acctbal AS DOUBLE) >= -1000.0""",

    "cypher_fulltext" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE term IN ('spark', 'hash', 'join')
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         scored AS (SELECT t.gid,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS contrib
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s)
         SELECT gid, round(sum(contrib), 9) AS score
         FROM scored GROUP BY gid ORDER BY gid""",

    // analyzer + boolean twin: lowercase standard tokens; docs must
    // carry BOTH spark and hash, must NOT carry merge; the two
    // positive terms' BM25 contributions sum (dfreq computed over the
    // same three-term posting set the engine reads)
    "cypher_fulltext_analyzer" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE term IN ('spark', 'hash', 'merge')
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s),
         pos AS (SELECT gid, sum(c) score
           FROM contrib WHERE term IN ('spark', 'hash')
           GROUP BY gid HAVING count(DISTINCT term) = 2)
         SELECT p.gid, round(p.score, 9) AS score FROM pos p
         WHERE NOT EXISTS (SELECT 1 FROM contrib m
           WHERE m.gid = p.gid AND m.term = 'merge')
         ORDER BY p.gid""",

    // phrase twin: both terms' BM25 contributions for docs where the
    // tokens are CONTIGUOUS in order (sliding-window list lambda)
    "cypher_fulltext_slop" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE term IN ('merge', 'join')
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s),
         cand AS (SELECT gid, sum(c) score FROM contrib
           GROUP BY gid HAVING count(DISTINCT term) = 2),
         pos AS (SELECT cand.gid, cand.score,
             list_filter(range(1, len(d.w)+1), i -> d.w[i] = 'merge') a1,
             [x - 1 FOR x IN list_filter(range(1, len(d.w)+1),
               i -> d.w[i] = 'join')] a2
           FROM cand JOIN d ON cand.gid = d.gid)
         SELECT gid, round(score * (1.0 / (1.0 + CASE
             WHEN len(list_filter(list_concat(a1, a2), a ->
               len(list_filter(a1, x -> x = a)) > 0 AND
               len(list_filter(a2, x -> x = a)) > 0)) > 0 THEN 0.0
             WHEN len(list_filter(list_concat(a1, a2), a ->
               len(list_filter(a1, x -> x >= a AND x <= a + 1)) > 0 AND
               len(list_filter(a2, x -> x >= a AND x <= a + 1)) > 0)) > 0
               THEN 1.0
             ELSE 2.0 END)), 9) AS score FROM pos
         WHERE len(list_filter(list_concat(a1, a2), a ->
           len(list_filter(a1, x -> x >= a AND x <= a + 2)) > 0 AND
           len(list_filter(a2, x -> x >= a AND x <= a + 2)) > 0)) > 0
         ORDER BY gid""",

    "cypher_fulltext_boost" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE term IN ('spark', 'hash')
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s)
         SELECT gid, round(sum(CASE WHEN term = 'spark'
             THEN 2.0 * c ELSE c END), 9) AS score
         FROM contrib GROUP BY gid ORDER BY gid""",

    "cypher_fulltext_wildcard" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE regexp_full_match(term, 'ha.h')
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s)
         SELECT gid, round(sum(c), 9) AS score
         FROM contrib GROUP BY gid ORDER BY gid""",

    "cypher_fulltext_term_range" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE term >= 'hash' AND term <= 'hat'
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s)
         SELECT gid, round(sum(c), 9) AS score
         FROM contrib GROUP BY gid ORDER BY gid""",

    "cypher_fulltext_fuzzy" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE abs(CAST(len(term) AS BIGINT) - 5) <= 1
             AND levenshtein(term, 'hashh') <= 1
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s)
         SELECT gid, round(sum(c * greatest(0.0,
             1.0 - levenshtein(term, 'hashh') / 5.0)), 9) AS score
         FROM contrib GROUP BY gid ORDER BY gid""",

    // per-field BM25F twin: each field's leaf scores against ITS OWN
    // tokenization, document frequency, and collection statistics
    // (docCount + avgdl of that field alone); matched leaves sum
    "cypher_fulltext_bm25f" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(source)),
               '[^a-z0-9]+'), x -> x <> '') ws,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') wb
           FROM documents
           WHERE len(trim(concat(trim(source), ' ', trim(text)))) > 0),
         ss AS (SELECT count(*) fn, sum(len(ws)) sdl FROM d0
           WHERE len(ws) > 0),
         bs AS (SELECT count(*) fn, sum(len(wb)) sdl FROM d0
           WHERE len(wb) > 0),
         stf AS (SELECT gid, CAST(len(ws) AS BIGINT) dl, count(*) tf
           FROM (SELECT gid, ws, unnest(ws) term FROM d0)
           WHERE term = 'src3' GROUP BY gid, len(ws)),
         sdfq AS (SELECT count(*) c FROM stf),
         sc AS (SELECT t.gid,
             ln(1.0 + (CAST(s.fn - f.c AS DOUBLE) + 0.5)
                 / (CAST(f.c AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sdl AS DOUBLE) / s.fn)))) AS c
           FROM stf t CROSS JOIN ss s CROSS JOIN sdfq f),
         btf AS (SELECT gid, CAST(len(wb) AS BIGINT) dl, count(*) tf
           FROM (SELECT gid, wb, unnest(wb) term FROM d0)
           WHERE term = 'spark' GROUP BY gid, len(wb)),
         bdfq AS (SELECT count(*) c FROM btf),
         bc AS (SELECT t.gid,
             ln(1.0 + (CAST(s.fn - f.c AS DOUBLE) + 0.5)
                 / (CAST(f.c AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sdl AS DOUBLE) / s.fn)))) AS c
           FROM btf t CROSS JOIN bs s CROSS JOIN bdfq f)
         SELECT gid, round(sum(c), 9) AS score
         FROM (SELECT * FROM sc UNION ALL SELECT * FROM bc)
         GROUP BY gid ORDER BY gid""",

    // field-scoped proximity twin: the body field IS the whole
    // document on this fixture, so the per-field formula reduces to
    // the unscoped slop oracle — pinning that a full-field scope is
    // scoring-neutral (the per-field stats equal the global ones)
    "cypher_fulltext_field_slop" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE term IN ('merge', 'join')
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s),
         cand AS (SELECT gid, sum(c) score FROM contrib
           GROUP BY gid HAVING count(DISTINCT term) = 2),
         pos AS (SELECT cand.gid, cand.score,
             list_filter(range(1, len(d.w)+1), i -> d.w[i] = 'merge') a1,
             [x - 1 FOR x IN list_filter(range(1, len(d.w)+1),
               i -> d.w[i] = 'join')] a2
           FROM cand JOIN d ON cand.gid = d.gid)
         SELECT gid, round(score * (1.0 / (1.0 + CASE
             WHEN len(list_filter(list_concat(a1, a2), a ->
               len(list_filter(a1, x -> x = a)) > 0 AND
               len(list_filter(a2, x -> x = a)) > 0)) > 0 THEN 0.0
             WHEN len(list_filter(list_concat(a1, a2), a ->
               len(list_filter(a1, x -> x >= a AND x <= a + 1)) > 0 AND
               len(list_filter(a2, x -> x >= a AND x <= a + 1)) > 0)) > 0
               THEN 1.0
             ELSE 2.0 END)), 9) AS score FROM pos
         WHERE len(list_filter(list_concat(a1, a2), a ->
           len(list_filter(a1, x -> x >= a AND x <= a + 2)) > 0 AND
           len(list_filter(a2, x -> x >= a AND x <= a + 2)) > 0)) > 0
         ORDER BY gid""",

    "cypher_fulltext_phrase" ->
      """WITH d0 AS (SELECT 'd:' || CAST(doc_id AS VARCHAR) gid,
             list_filter(string_split_regex(lower(trim(text)),
               '[^a-z0-9]+'), x -> x <> '') w
           FROM documents WHERE len(trim(text)) > 0),
         d AS (SELECT gid, CAST(len(w) AS BIGINT) dl, w FROM d0),
         stats AS (SELECT count(*) n_docs, sum(dl) sum_dl FROM d),
         tf AS (SELECT gid, dl, term, count(*) tf
           FROM (SELECT gid, dl, unnest(w) term FROM d)
           WHERE term IN ('merge', 'join')
           GROUP BY gid, dl, term),
         dfreq AS (SELECT term, count(DISTINCT gid) dfreq
           FROM tf GROUP BY term),
         contrib AS (SELECT t.gid, t.term,
             ln(1.0 + (CAST(s.n_docs - f.dfreq AS DOUBLE) + 0.5)
                 / (CAST(f.dfreq AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                   (CAST(t.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS c
           FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s),
         cand AS (SELECT gid, sum(c) score FROM contrib
           GROUP BY gid HAVING count(DISTINCT term) = 2)
         SELECT cand.gid, round(cand.score, 9) AS score
         FROM cand JOIN d ON cand.gid = d.gid
         WHERE len(list_filter(range(1, len(d.w)),
           i -> d.w[i] = 'merge' AND d.w[i+1] = 'join')) > 0
         ORDER BY cand.gid""")
}
