"""Seeded input generation for the benchmark.

Everything the program under test reads is made here from the workload
seed: the TPC-H-like parquet tables (the same schemas as the repo's
testdata), the snapshot tables of the replicated database, and the oplog
feed derived from `events`. The same seed always gives the same bytes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

DB = "app"
# first oplog ts of the feed; the history marker sits just below it
TS0 = 1_000_000
EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000


def _ts_us(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def query_tables(seed, n_cust=1500, n_supp=100, n_part=2000, n_orders=15000,
                 lines_per_order=4, n_events=10000, n_users=150, n_docs=500,
                 n_vecs=500):
    """The ten tables the registry queries read, sized like sf0.01."""
    r = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day0 = 9131  # 1995-01-01 in days since the epoch
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_orders)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array((day0 + r.integers(0, 2400, n_orders)) * 86_400_000,
                                pa.int64()).cast(pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_orders)]})
    n_lines = n_orders * lines_per_order
    qty = r.integers(1, 51, n_lines).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_orders, n_lines, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_lines, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_lines, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": np.round(r.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_lines)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n_lines)],
        "l_shipdate": pa.array((day0 + 1 + r.integers(0, 2500, n_lines)) * 86_400_000,
                               pa.int64()).cast(pa.timestamp("ms"))})
    t["events"] = events(r, n_events, n_users)
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), int(r.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vec = r.normal(size=(n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32())})
    return t


def events(r, n, n_users):
    """`events` rows in event_id order; ts ascends over thirty days."""
    ts = np.sort(EPOCH_2024_US + r.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts_us(ts),
        "user_id": r.integers(0, n_users, n, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---- replicated database: snapshot tables and the oplog feed ---------------

SYNC_CONFIG = """inp: mongodb://localhost:27017/app
out: {out}
tables:
{tables}"""

TABLE_COLUMNS = {
    "customer": [("c_name", "varchar(40)"), ("c_nationkey", "integer"),
                 ("c_acctbal", "double"), ("c_mktsegment", "varchar(20)")],
    "orders": [("o_custkey", "bigint"), ("o_orderstatus", "varchar(1)"),
               ("o_totalprice", "double"), ("o_orderpriority", "varchar(20)")],
    "part": [("p_name", "varchar(40)"), ("p_brand", "varchar(10)"),
             ("p_type", "varchar(20)"), ("p_size", "integer"),
             ("p_retailprice", "double")],
    "users": [("event_type", "varchar(20)"), ("value", "double"),
              ("last_event", "bigint"), ("props.k", "bigint")],
}


def config_text(table_names):
    body = "".join(f"  {t}:\n" + "".join(f"    {c}: {ty}\n" for c, ty in TABLE_COLUMNS[t])
                   for t in table_names)
    return SYNC_CONFIG.format(out="jdbc:perfbench:memory:sink", tables=body)


def snapshot_tables(seed, n_cust, n_orders, n_part, n_users):
    """Source collections as of the snapshot. `_id` is the document key;
    `users.props` is a nested document so `props.k` flattens to `props_k`."""
    base = query_tables(seed, n_cust=n_cust, n_orders=n_orders, n_part=n_part,
                        n_supp=10, lines_per_order=0, n_events=1, n_docs=1, n_vecs=1)
    out = {}
    for name, key in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey")):
        tbl = base[name]
        cols = [c for c, _ in TABLE_COLUMNS[name]]
        out[name] = pa.table({"_id": [f"{name[0]}{k}" for k in tbl[key].to_pylist()],
                              **{c: tbl[c] for c in cols}})
    r = np.random.default_rng([seed, 1])
    out["users"] = pa.table({
        "_id": [f"u{i}" for i in range(n_users)],
        "event_type": ["signup"] * n_users,
        "value": np.round(r.uniform(0.01, 490.0, n_users), 2),
        "last_event": np.full(n_users, -1, dtype=np.int64),
        "props": pa.array([{"k": int(k)} for k in r.integers(0, 100, n_users)],
                          pa.struct([("k", pa.int64())]))})
    return out


def history_marker():
    """The feed entry present at snapshot time: the offset pins on its ts."""
    return json.dumps({"op": "n", "ns": f"{DB}.users", "ts": TS0 - 1, "o": {}})


def oplog(seed, n, n_users, ts_start=TS0, unset_share=0.1, tx_share=0.05):
    """`n` oplog entries derived from seeded `events`: signup → insert with
    a full image and nested props, error → delete, other types → `$set`
    partial update; a share of updates are `$unset`, and a share of entries
    are `applyOps` transactions of two updates. Returns (lines, n_ops)."""
    r = np.random.default_rng([seed, 2])
    ev = events(r, n, n_users)
    uid = ev["user_id"].to_numpy()
    etype = ev["event_type"].to_pylist()
    val = ev["value"].to_numpy()
    k = r.integers(0, 100, n)
    coin = r.random(n)
    other = r.integers(0, n_users, n)
    ns = f"{DB}.users"
    lines = []
    n_ops = 0

    def update(i, u):
        if coin[i] < unset_share:
            o = {"$unset": {"props.k": 1}}
        else:
            o = {"$set": {"event_type": etype[i], "value": float(val[i]),
                          "last_event": i, "props.k": int(k[i])}}
        return {"op": "u", "ns": ns, "o": o, "o2": {"_id": f"u{u}"}}

    for i in range(n):
        ts = ts_start + i
        u = int(uid[i])
        if etype[i] == "signup":
            e = {"op": "i", "ns": ns, "o": {"_id": f"u{u}", "event_type": "signup",
                                            "value": float(val[i]), "last_event": i,
                                            "props": {"k": int(k[i])}}}
            n_ops += 1
        elif etype[i] == "error":
            e = {"op": "d", "ns": ns, "o": {"_id": f"u{u}"}}
            n_ops += 1
        elif coin[i] > 1.0 - tx_share:
            e = {"op": "c", "ns": "admin.$cmd",
                 "o": {"applyOps": [update(i, u), update(i, int(other[i]))]}}
            n_ops += 2
        else:
            e = update(i, u)
            n_ops += 1
        e["ts"] = ts
        lines.append(json.dumps(e, separators=(",", ":")))
    return lines, n_ops


def write_segment(path, lines):
    """Write a segment under a temporary name and rename it into place, so
    a micro-batch never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)
