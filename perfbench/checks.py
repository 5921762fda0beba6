"""Correctness checks: each returns the number of operations it found wrong
and a list of human-readable reasons."""
import glob
import json
import os
import urllib.parse

import duckdb

from gen import DML_SEED_ROWS, TABLES

# ---- analytics: the set-up pass's results against the DuckDB oracle -----

def oracle_failures(run_dir, data_dir):
    """Names of the queries whose result differs from their oracle SQL run
    in DuckDB on the same files (compared like the engine's tools/check.py:
    columns sorted by name, dtypes and values strict)."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{data_dir}/{f}'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{run_dir}/oracle/{name}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # a missing result or a failing oracle
            bad[name] = f"exec error: {e}"
            continue
        got = got[sorted(got.columns)].reset_index(drop=True)
        exp = exp[sorted(exp.columns)].reset_index(drop=True)
        if list(got.columns) != list(exp.columns):
            bad[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[name] = f"{len(got)} rows != {len(exp)}"
        else:
            for c in got.columns:
                g, e = got[c], exp[c]
                if str(g.dtype) != str(e.dtype):
                    bad[name] = f"dtype[{c}] {g.dtype} != {e.dtype}"
                    break
                same = (g.isna() & e.isna()) | (g == e)
                if not same.all():
                    i = same.idxmin()
                    bad[name] = f"value[{c}] row {i}: {g[i]!r} != {e[i]!r}"
                    break
    return bad


# ---- lakehouse_dml: an independent model of every table ------------------

def canon(row):
    k, c, s, p, d, pr = row
    if not isinstance(d, str):
        d = f"{d:%Y-%m-%d %H:%M:%S}"
    return (int(k), int(c), s, float(p), d, pr)


class DmlModel:
    """The three tables' contents as the statement stream defines them."""

    def __init__(self, seed_rows):
        self.state = {t: {r[0]: canon(r) for r in seed_rows if r[0] < DML_SEED_ROWS}
                      for t in TABLES}

    def apply(self, stmt):
        """Apply one statement; returns the user-row bytes it wrote."""
        st, eff = self.state[stmt["table"]], stmt["effect"]
        for k in eff.get("delete", []):
            del st[k]
        written = 0
        add = eff.get("add")
        if add:
            for k in add["keys"]:
                key, c, _, p, d, pr = st[k]
                st[k] = (key, c, add["status"], p + add["delta"], d, pr)
                written += row_bytes(st[k])
        for row in eff.get("upsert", []):
            st[row[0]] = canon(row)
            written += row_bytes(st[row[0]])
        return written

    def rows(self, table, keys=None):
        st = self.state[table]
        ks = sorted(st if keys is None else (k for k in keys if k in st))
        return [st[k] for k in ks]


def apply_feed(mirror, rows):
    """Fold one pull of a `$changes` feed into a keyed mirror. Rows are
    (op, version, key, *data); per key the newest version wins, and within
    it an insert (op != 2) beats a delete."""
    newest = {}
    for op, ver, key, *data in rows:
        cur = newest.get(key)
        if cur is None or ver > cur[0] or (ver == cur[0] and op != 2):
            newest[key] = (ver, op, data)
    for key, (_, op, data) in newest.items():
        if op == 2:
            mirror.pop(key, None)
        else:
            mirror[key] = canon(data)


def check_lakehouse(res, stmts, seed_rows):
    model = DmlModel(seed_rows)
    mirrors = {t: dict(model.state[t]) for t in TABLES}
    appended = {t: [] for t in TABLES}  # MOR feeds carry no appends
    reads = {r["i"]: r for r in res["reads"]}
    feeds = {}
    for f in res["feeds"]:
        feeds.setdefault(f["i"], []).append(f)
    failed, why, written = 0, [], 0
    for w in res["writes"]:
        i, s = w["i"], stmts[w["i"]]
        written += model.apply(s)
        appended[s["table"]] += s["effect"].get("upsert", [])
        if not w["ok"]:
            failed += 1
            why.append(f"statement {i} failed")
        r = reads[i]
        if not r["ok"] or [canon(x) for x in r["rows"]] != model.rows(s["table"], s["keys"]):
            failed += 1
            why.append(f"point read after statement {i} on {s['table']}")
        for f in feeds.get(i, []):
            m = mirrors[f["table"]]
            if f["table"] == "lk_mor":
                for row in appended[f["table"]]:
                    m[row[0]] = canon(row)
            appended[f["table"]] = []
            if not f["ok"]:
                failed += 1
                why.append(f"feed pull at statement {i} failed")
            else:
                apply_feed(m, f["rows"])
                if sorted(m.values()) != model.rows(f["table"]):
                    failed += 1
                    why.append(f"feed of {f['table']} ({f['from']}, {f['to']}] "
                               "does not rebuild the table")
                    mirrors[f["table"]] = dict(model.state[f["table"]])
    for t in TABLES:
        if [canon(x) for x in res["final"][t]] != model.rows(t):
            failed += 1
            why.append(f"final contents of {t}")
    return failed, why, model, written


def row_bytes(row):
    """Bytes of one user row: 8 per number or timestamp, UTF-8 per string."""
    return 8 * 4 + len(row[2].encode()) + len(row[5].encode())


# ---- stream_score: exactly once, and the batch model's predictions ------

def committed_outputs(sink):
    """batch id -> output files a file sink committed."""
    out = {}
    for f in glob.glob(os.path.join(sink, "_spark_metadata", "*")):
        base = os.path.basename(f)
        if not base.isdigit():
            continue
        with open(f) as fh:
            lines = fh.read().splitlines()[1:]
        out[int(base)] = [urllib.parse.unquote(urllib.parse.urlparse(json.loads(x)["path"]).path)
                          for x in lines if x.strip() and json.loads(x).get("action") == "add"]
    return out


def check_scores(files, wanted, expected, labels, test_ids):
    """Every wanted event (id -> test row index) is scored exactly once with
    the batch prediction of its row. Returns (failed, reasons, batch_of)
    where batch_of maps an event to the batch that emitted it."""
    seen, failed, why = {}, 0, []
    for batch, paths in files.items():
        for p in paths:
            with open(p) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    o = json.loads(line)
                    eid = o["vec_id"]
                    if eid in seen:
                        failed += 1
                        why.append(f"event {eid} scored twice")
                        continue
                    seen[eid] = batch
                    src = wanted.get(eid)
                    row = None if src is None else str(test_ids[src])
                    if row is None or o["predicted_label"] != expected[row] or \
                            o["actual_label"] != labels[row]:
                        failed += 1
                        why.append(f"event {eid} scored wrong")
    missing = len(set(wanted) - set(seen))
    if missing:
        failed += missing
        why.append(f"{missing} events never scored")
    return failed, why, seen
