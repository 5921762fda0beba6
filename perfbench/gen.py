"""Seeded inputs for the benchmark.

`write_fixtures` writes the ten fixture tables the engine's declared queries
read (same names, columns, types and value domains as the engine's test
fixtures, at roughly their 0.01 scale). `dml_stream` draws the statement
stream of the `lakehouse_dml` workload; `checks.DmlModel` replays it over
`orders_rows` to recompute every table state independently. The same seed
always gives the same files and statements.
"""
import datetime as dt
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
TS = pa.timestamp("us")
DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2400


def _days(rng, n, span):
    return [DAY0 + dt.timedelta(days=int(d)) for d in rng.integers(0, span, n)]


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def order_row(r):
    """One random orders row (without its key) from a `random.Random`."""
    return (r.randrange(SCALE["customer"]), r.choice(STATUSES),
            round(r.uniform(1000.0, 500000.0), 2),
            DAY0 + dt.timedelta(days=r.randrange(ORDER_DAYS)), r.choice(PRIORITIES))


def fixtures(seed):
    """The ten fixture tables as pyarrow tables."""
    rng = np.random.default_rng(seed)
    n = SCALE
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n["part"]),
                                              rng.choice(NOUNS, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n["part"]) / 10.0, 1)})
    t["orders"] = orders_table(seed)
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(_days(rng, nl, 2500), TS)})
    ne = n["events"]
    start = dt.datetime(2024, 1, 1)
    offsets = np.sort(rng.uniform(0, 30 * 86400, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array([start + dt.timedelta(seconds=float(s)) for s in offsets], TS),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(np.minimum(rng.exponential(50.0, ne), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    docs = []
    for _ in range(n["documents"]):
        words = rng.choice(VOCAB, int(rng.integers(10, 100))).tolist()
        if rng.random() < 0.05:
            words[int(rng.integers(len(words)))] = "dup"
        docs.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": docs,
        "lang": rng.choice(LANGS, n["documents"]).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    emb = rng.normal(0.0, 1.0, (n["embeddings"], 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(emb.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32())})
    return t


def orders_rows(seed):
    r = random.Random(f"orders:{seed}")
    return [(k,) + order_row(r) for k in range(SCALE["orders"])]


def orders_table(seed):
    rows = orders_rows(seed)
    cols = list(zip(*rows))
    return pa.table({
        "o_orderkey": pa.array(cols[0], pa.int64()),
        "o_custkey": pa.array(cols[1], pa.int64()),
        "o_orderstatus": list(cols[2]),
        "o_totalprice": pa.array(cols[3], pa.float64()),
        "o_orderdate": pa.array(cols[4], TS),
        "o_orderpriority": list(cols[5])})


def write_fixtures(seed, out_dir):
    for name, table in fixtures(seed).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


# ---- lakehouse_dml statement stream -------------------------------------

TABLES = ["lk_cow", "lk_mor", "lk_dv"]
NEW_KEY0 = 1_000_000
DML_SEED_ROWS = 3000  # the tables start as the orders with o_orderkey below this
# The stream is mostly small INSERTs, with key-based UPDATE, DELETE and
# MERGE. Every statement is single-row, the shape ROADMAP item 1 measured
# commit cost with (single-row INSERTs into a graft table).
# The mix is the smallest block in which INSERTs are a strict majority and
# every other kind appears once: per table 4 INSERTs, 1 UPDATE, 1 DELETE and
# 1 MERGE (one matched and one new source row, so both clauses run), 57 % /
# 14 % / 14 % / 14 %. A block holds that for all three tables in seeded
# order and ends with one `$changes` pull per table covering the block's
# commits. The first block, the warm-up, gives each table one statement of
# every kind.
KINDS = ["insert"] * 4 + ["update", "delete", "merge"]
WARM_KINDS = ["insert", "update", "delete", "merge"]
BLOCK = len(KINDS) * len(TABLES)
WARM = len(WARM_KINDS) * len(TABLES)


def _lit(row):
    k, c, s, p, d, pr = row
    return f"({k}, {c}, '{s}', {p!r}, TIMESTAMP_NTZ '{d:%Y-%m-%d %H:%M:%S}', '{pr}')"


def dml_stream(seed, n):
    """`n` statements: dicts with table, kind, keys (the keys it writes),
    sql, and the effect the model applies (see checks.DmlModel)."""
    r = random.Random(f"dml:{seed}")
    # Row-level statements only touch keys that no earlier statement
    # touched, so each key changes at most once and every change lands in a
    # large seed file (no statement empties a whole file).
    pristine = {}
    for t in TABLES:
        keys = list(range(DML_SEED_ROWS))
        r.shuffle(keys)
        pristine[t] = keys
    plan = []
    while len(plan) < n:
        block = [(t, k) for t in TABLES for k in (KINDS if plan else WARM_KINDS)]
        r.shuffle(block)
        plan += block
    next_key = NEW_KEY0
    out = []
    for t, kind in plan[:n]:
        fq = f"graft_cat.default.{t}"
        if kind == "insert":
            rows = [(next_key,) + order_row(r)]
            next_key += 1
            sql = f"INSERT INTO {fq} VALUES " + ", ".join(_lit(x) for x in rows)
            eff = {"upsert": rows}
            keys = [x[0] for x in rows]
        elif kind == "update":
            keys = [pristine[t].pop()]
            delta = r.randrange(1, 400) / 4
            sql = (f"UPDATE {fq} SET o_totalprice = o_totalprice + {delta}, "
                   f"o_orderstatus = 'U' WHERE o_orderkey IN ({', '.join(map(str, keys))})")
            eff = {"add": {"keys": keys, "delta": delta, "status": "U"}}
        elif kind == "delete":
            keys = [pristine[t].pop()]
            sql = f"DELETE FROM {fq} WHERE o_orderkey IN ({', '.join(map(str, keys))})"
            eff = {"delete": keys}
        else:
            matched = [pristine[t].pop()]
            new = (next_key,) + order_row(r)
            next_key += 1
            delta = r.randrange(1, 400) / 4
            src = [(k, 0, "M", 0.0, DAY0, "3-MEDIUM") for k in matched] + [new]
            values = ", ".join(_lit(x)[:-1] + f", {delta})" for x in src)
            sql = (f"MERGE INTO {fq} t USING (SELECT * FROM VALUES {values} AS "
                   "s(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                   "o_orderpriority, delta)) s ON t.o_orderkey = s.o_orderkey "
                   "WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.delta, "
                   "o_orderstatus = 'M' "
                   "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, "
                   "o_totalprice, o_orderdate, o_orderpriority) VALUES (s.o_orderkey, "
                   "s.o_custkey, s.o_orderstatus, s.o_totalprice, s.o_orderdate, "
                   "s.o_orderpriority)")
            eff = {"add": {"keys": matched, "delta": delta, "status": "M"}, "upsert": [new]}
            keys = matched + [new[0]]
        out.append({"table": t, "kind": kind, "keys": keys, "sql": sql, "effect": eff})
    return out


def write_stream(stmts, path):
    with open(path, "w") as f:
        for s in stmts:
            f.write(f"{s['table']}\t{s['kind']}\t{','.join(map(str, s['keys']))}\t{s['sql']}\n")
