"""Workload plans and the checks that need DuckDB.

Each `plan_<workload>` draws its inputs from the TPC-H-shaped parquet
tables with a seeded RNG, writes the EGDM bodies it will send under the
run directory, and returns the plan the JVM executes: base datasets to
bulk-load during set-up, the operations of the measured phase in
rounds, and for every read the answer it must return, computed here by
DuckDB over the same parquet rows or by the workload's own model of the
store. `check_<workload>` runs the checks that need the whole run.
"""
import json
import os
import random

import duckdb

PROP = "http://g/prop#"
REL = "http://g/rel#"
SYNC = "universal-data-api-full-sync-"
PAGE = 100


def _con(sf_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _rows(con, sql, params=None):
    r = con.execute(sql, params or [])
    cols = [d[0] for d in r.description]
    return [dict(zip(cols, row)) for row in r.fetchall()]


# ---- EGDM entities of each table (the one mapping every workload uses)

def customer(r):
    return {"id": f"c:{r['c_custkey']}",
            "props": {PROP + "name": r["c_name"],
                      PROP + "acctbal": float(r["c_acctbal"]),
                      PROP + "segment": r["c_mktsegment"],
                      PROP + "nation": int(r["c_nationkey"])},
            "refs": {REL + "located_in": f"n:{r['c_nationkey']}"}}


def order(r):
    return {"id": f"o:{r['o_orderkey']}",
            "props": {PROP + "status": r["o_orderstatus"],
                      PROP + "totalprice": float(r["o_totalprice"]),
                      PROP + "priority": r["o_orderpriority"]},
            "refs": {REL + "ordered_by": f"c:{r['o_custkey']}"}}


def customer_linked(r):
    e = customer(r)
    e["refs"][REL + "in_segment"] = f"seg:{r['c_mktsegment']}"
    return e


def order_linked(r):
    e = order(r)
    e["refs"][REL + "has_status"] = f"st:{r['o_orderstatus']}"
    e["refs"][REL + "has_priority"] = f"pr:{r['o_orderpriority']}"
    e["refs"][REL + "in_month"] = f"m:{r['o_orderdate'].strftime('%Y-%m')}"
    return e


def tombstone(gid):
    return {"id": gid, "deleted": True}


class Bodies:
    """EGDM NDJSON bodies written under the run directory"""

    def __init__(self, work):
        self.work = work
        self.n = 0
        os.makedirs(os.path.join(work, "bodies"), exist_ok=True)

    def write(self, entities):
        name = f"bodies/{self.n:05d}.ndjson"
        self.n += 1
        with open(os.path.join(self.work, name), "w") as f:
            for e in entities:
                f.write(json.dumps(e, separators=(",", ":")) + "\n")
        return name


def write_op(bodies, cls, dataset, entities, headers=None):
    return {"op": "write", "cls": cls, "dataset": dataset,
            "file": bodies.write(entities), "n": len(entities),
            "headers": headers or {}}


GID_Q = ("MATCH (c:Customer) WHERE c.gid = $gid "
         "RETURN c.name AS name, c.acctbal AS acctbal")
NAME_Q = ("MATCH (c:Customer {name: $name}) "
          "RETURN c.gid AS gid, c.acctbal AS acctbal")


def prop(v):
    """a node property as RETURN n.prop renders it: the engine's
    canonical string of the stored value"""
    return repr(v) if isinstance(v, float) else str(v)


def query_op(cls, q, params, expect):
    return {"op": "query", "cls": cls, "query": q, "params": params,
            "expect": expect}


# ---- ingest: full sync of customers, then Order batches, updates and
# tombstones on a store that grows through the run

def plan_ingest(rng, data, work):
    con = _con(os.path.join(data, "sf0.01"))
    bodies = Bodies(work)
    custs = [customer(r) for r in _rows(con, "SELECT * FROM customer ORDER BY c_custkey")]
    orders = [order(r) for r in _rows(con, "SELECT * FROM orders ORDER BY o_orderkey")]
    rng.shuffle(custs)
    rng.shuffle(orders)
    # one request of 1000 customers opens and closes the sync session;
    # orders of the other customers reference stubs
    sync = f"sync-{rng.randrange(1 << 30)}"
    prologue = [write_op(bodies, "full_sync", "customers", custs[:1000],
                         {SYNC + "id": sync, SYNC + "start": "true",
                          SYNC + "end": "true"})]
    cust_gids = [c["id"] for c in custs]
    by_id = {o["id"]: o for o in orders}
    rounds, live = [], []
    for k in range(len(orders) // 1000):
        batch = orders[1000 * k:1000 * (k + 1)]
        live += [o["id"] for o in batch]
        # a change batch: 800 updates and 200 tombstones of live orders
        picked = rng.sample(live, 1000)
        change = []
        for gid in picked[:800]:
            o = json.loads(json.dumps(by_id[gid]))
            o["props"][PROP + "status"] = rng.choice("FOP")
            o["props"][PROP + "totalprice"] = round(rng.uniform(1000, 400000), 2)
            if rng.random() < 0.1:  # the order moves to another customer
                o["refs"][REL + "ordered_by"] = rng.choice(cust_gids)
            change.append(o)
            by_id[gid] = o
        change += [tombstone(g) for g in picked[800:]]
        gone = set(picked[800:])
        live = [g for g in live if g not in gone]
        rounds.append([write_op(bodies, "order_batch", "orders", batch),
                       write_op(bodies, "change_batch", "orders", change)])
    return {"workload": "ingest", "unit": "write", "cycle": False, "dump": True,
            "slope_cls": ["order_batch", "change_batch"],
            "datasets": [{"name": "customers", "label": "Customer"},
                         {"name": "orders", "label": "Order"}],
            "base": [], "ddl": [], "prologue": prologue, "rounds": rounds}


def check_ingest(plan, result, work, perturb):
    """The committed graph against DuckDB over the entities actually
    sent: last write per gid wins, tombstoned gids are gone, every ref
    target without a live node of its own is a label-less stub."""
    labels = {w["file"]: w["dataset"] for ops in [plan["prologue"]] + plan["rounds"]
              for w in ops}
    label_of = {"customers": "Customer", "orders": "Order"}
    rows = []
    for i, f in enumerate(result["sent"]):
        with open(os.path.join(work, f)) as fh:
            for j, line in enumerate(fh):
                e = json.loads(line)
                for rel, t in (e.get("refs") or {}).items():
                    rows.append((i, j, e["id"], label_of[labels[f]],
                                 bool(e.get("deleted")), rel.split("#")[-1], t))
                if not e.get("refs"):
                    rows.append((i, j, e["id"], label_of[labels[f]],
                                 bool(e.get("deleted")), None, None))
    import pandas as pd
    con = duckdb.connect()
    sent = pd.DataFrame(rows, columns=["b", "pos", "gid", "label", "deleted",
                                       "rel", "target"])
    con.register("sent_rows", sent)
    con.execute("CREATE TABLE sent AS SELECT * FROM sent_rows")
    con.execute("""CREATE VIEW live AS SELECT * FROM (
        SELECT * FROM sent QUALIFY row_number() OVER (
          PARTITION BY gid ORDER BY b DESC, pos DESC) = 1) WHERE NOT deleted""")
    want_labels = dict(con.sql(
        "SELECT label, count(DISTINCT gid) FROM live GROUP BY label").fetchall())
    want_labels[""] = con.sql(
        "SELECT count(DISTINCT target) FROM sent WHERE target IS NOT NULL "
        "AND target NOT IN (SELECT gid FROM live)").fetchone()[0]
    want_rels = dict(con.sql(
        "SELECT rel, count(*) FROM live WHERE rel IS NOT NULL GROUP BY rel").fetchall())
    want_targets = sorted(con.sql(
        "SELECT gid, target FROM live WHERE rel = 'ordered_by'").fetchall())
    if perturb:
        want_labels["Order"] += 1
    state = result["state"]
    errs = []
    if state["labels"] != want_labels:
        errs.append(f"node counts {state['labels']} != {want_labels}")
    if state["rel_types"] != want_rels:
        errs.append(f"edge counts {state['rel_types']} != {want_rels}")
    got_targets = sorted(tuple(p) for p in state["ordered_by"])
    if got_targets != want_targets:
        bad = sorted(set(got_targets) ^ set(want_targets))[:3]
        errs.append(f"ordered_by targets differ, e.g. {bad}")
    return errs


# ---- query: a read-only mix on a store bulk-built during set-up

def plan_query(rng, data, work):
    con = _con(os.path.join(data, "sf0.001"))
    # two bulk loads; the categorical columns become reference targets
    # (label-less stub nodes), so the store has seven node and edge
    # partitions of 8 buckets each and stays off the tiny-store arm
    base = []
    for ds, label, table, fn in [
            ("customers", "Customer", "customer", customer_linked),
            ("orders", "Order", "orders", order_linked)]:
        name = f"base_{ds}.ndjson"
        with open(os.path.join(work, name), "w") as f:
            for r in _rows(con, f"SELECT * FROM {table}"):
                f.write(json.dumps(fn(r), separators=(",", ":")) + "\n")
        base.append({"dataset": ds, "label": label, "file": name})
    # base loads commit one version each, customers first
    cust_version = 1
    custs = _rows(con, "SELECT c_custkey, c_name, c_acctbal FROM customer")
    nations = [r["n_nationkey"] for r in _rows(con, "SELECT n_nationkey FROM nation")]
    segments = [r["s"] for r in _rows(
        con, "SELECT DISTINCT c_mktsegment AS s FROM customer ORDER BY 1")]
    gids = [r["gid"] for r in _rows(
        con, "SELECT 'c:' || c_custkey AS gid FROM customer ORDER BY gid")]
    pages = [gids[i:i + PAGE] for i in range(0, len(gids), PAGE)]
    n_orders = _rows(con, "SELECT count(*) AS n FROM orders")[0]["n"]
    rounds = []
    for k in range(8):
        c = rng.choice(custs)
        gid = f"c:{c['c_custkey']}"
        nk = rng.choice(nations)
        seg = rng.choice(segments)
        p = k % len(pages)
        after = pages[p - 1][-1] if p else ""
        rounds.append([
            query_op("gid_lookup", GID_Q, {"gid": gid},
                     [{"name": c["c_name"], "acctbal": prop(c["c_acctbal"])}]),
            query_op("prop_lookup", NAME_Q, {"name": c["c_name"]},
                     [{"gid": gid, "acctbal": prop(c["c_acctbal"])}]),
            query_op("label_count", "MATCH (o:Order) RETURN count(o) AS n", {},
                     [{"n": n_orders}]),
            query_op("expand1",
                     "MATCH (o:Order)-[:ordered_by]->(c:Customer) WHERE c.gid = $gid "
                     "RETURN count(o) AS n", {"gid": gid},
                     _rows(con, "SELECT count(*) AS n FROM orders WHERE o_custkey = ?",
                           [c["c_custkey"]])),
            query_op("expand2_agg",
                     "MATCH (o:Order)-[:ordered_by]->(c:Customer)-[:located_in]->"
                     "(n) WHERE n.gid = $nation RETURN c.segment AS segment, "
                     "count(o) AS orders, sum(o.totalprice) AS total ORDER BY segment",
                     {"nation": f"n:{nk}"},
                     _rows(con, "SELECT c_mktsegment AS segment, count(*) AS orders, "
                           "sum(o_totalprice) AS total FROM orders JOIN customer "
                           "ON o_custkey = c_custkey WHERE c_nationkey = ? "
                           "GROUP BY 1 ORDER BY 1", [nk])),
            query_op("topk",
                     "MATCH (o:Order)-[:ordered_by]->(c:Customer) WHERE c.segment = $seg "
                     "RETURN c.gid AS gid, sum(o.totalprice) AS total "
                     "ORDER BY total DESC, gid LIMIT 10", {"seg": seg},
                     _rows(con, "SELECT 'c:' || c_custkey AS gid, sum(o_totalprice) "
                           "AS total FROM orders JOIN customer ON o_custkey = c_custkey "
                           "WHERE c_mktsegment = ? GROUP BY 1 "
                           "ORDER BY total DESC, gid LIMIT 10", [seg])),
            {"op": "get", "cls": "page",
             "path": f"/datasets/customers/entities?limit={PAGE}&from={_q(after)}",
             "direct": {"fn": "entities", "label": "Customer", "source": "customers",
                        "from": after, "limit": PAGE},
             "expect": [{"gid": g} for g in pages[p]]},
            {"op": "get", "cls": "changes",
             "path": (f"/datasets/customers/changes?limit={PAGE}"
                      f"&since={cust_version if p else 0}&afterGid={_q(after)}"),
             "direct": {"fn": "changes", "label": "Customer", "source": "customers",
                        "since": cust_version if p else 0, "afterGid": after,
                        "limit": PAGE},
             "expect": [{"gid": g, "recorded": cust_version} for g in pages[p]]},
        ])
    return {"workload": "query", "unit": "read", "cycle": True, "dump": False,
            "warmup": True, "registry": plan_registry(rng, data),
            "datasets": [{"name": b["dataset"], "label": b["label"]} for b in base],
            "base": base,
            "ddl": ["CREATE INDEX cname FOR (c:Customer) ON (c.name)"],
            "prologue": [], "rounds": rounds}


def _q(s):
    from urllib.parse import quote
    return quote(s, safe="")


# ---- the registry subset a traced query run also times: one entry of
# SparkEntry.queries from every family file under src/main/scala/graft/queries

REGISTRY = [
    "q6_forecast_revenue",  # Relational
    "g_two_hop",            # GraphOnTpch
    "t_chunk",              # TextOps
    "v_knn_brute",          # VectorOps
    "e_user_topk",          # EventOps
    "m_media_meta",         # MultimodalQ
    "cypher_expand",        # CypherQ
    "gx_reachable",         # GraphXQ
    "p_shuffle_shards",     # PackOps
]


def plan_registry(rng, data):
    entries = list(REGISTRY)
    rng.shuffle(entries)
    return {"sf": os.path.join(data, "sf0.01"), "entries": entries}


def check_query(plan, result, work, perturb):
    """the registry subset a traced query run also times"""
    if not os.path.exists(os.path.join(work, "oracle_sql.json")):
        return []
    return check_registry(plan["registry"], result, work, perturb)


def check_registry(reg, result, work, perturb):
    """Each entry's checked result against its DuckDB oracle, with the
    comparison rules of the repository's tools/check_oracles.py."""
    import importlib.util
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join("tools", "check_oracles.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = _con(reg["sf"])
    errs = []
    for i, name in enumerate(reg["entries"]):
        if name not in oracles:
            errs.append(f"{name}: no oracle")
            continue
        try:
            got = pd.read_parquet(os.path.join(work, "registry", name))
        except Exception as e:  # the warm-up run of the entry failed
            errs.append(f"{name}: no result ({e})")
            continue
        want = con.sql(oracles[name]).df()
        if perturb and i == 0:
            want.iloc[0, 0] = "perturbed" if want.dtypes.iloc[0] == object \
                else want.iloc[0, 0] + 1
        if sorted(got.columns) != sorted(want.columns):
            errs.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        elif co.canon(got) != co.canon(want):
            errs.append(f"{name}: result differs from the DuckDB oracle")
    return errs


PLANS = {"ingest": plan_ingest, "query": plan_query}
CHECKS = {"ingest": check_ingest, "query": check_query}


def perturb_plan(plan):
    """Negative control: change one expected answer of the plan."""
    for ops in plan.get("rounds", []):
        for op in ops:
            if op["op"] != "write" and op["expect"]:
                row = op["expect"][0]
                k = sorted(row)[0]
                row[k] = row[k] + 1 if isinstance(row[k], (int, float)) else f"{row[k]}~"
                return
