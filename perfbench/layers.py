"""Per-layer metrics of a traced run (--trace 1).

The JVM dumps what the tracer recorded (ops, catalog loads, SQL executions
with their Catalyst phases, jobs, stages, micro-batches). This module links
them into spans, op -> SQL execution -> job -> stage (catalog loads hang
off their op), computes each layer's self time, and averages every counter
per traced operation of the workload's primary kind.
"""
import bisect
import json
import os

import stats

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    NAMES = [m["name"] for m in json.load(_f)["per_layer"]]
# the operation kind whose traced instances the per-operation means cover
PRIMARY = {"analytics": "query", "lakehouse_dml": "dml", "stream_score": "batch"}
SLACK_MS = 2.0  # listener event times are whole milliseconds


class Containing:
    """Finds the op whose [start, end] holds a time (ops do not overlap)."""

    def __init__(self, ops):
        self.ops = sorted(ops, key=lambda o: o["start"])
        self.starts = [o["start"] for o in self.ops]

    def __call__(self, t):
        i = bisect.bisect_right(self.starts, t + SLACK_MS) - 1
        if i >= 0 and t <= self.ops[i]["end"] + SLACK_MS:
            return self.ops[i]["id"]
        return None


def link(trace, ops):
    """Spans (id, parent, kind, start, end) plus, per op id, the records
    beneath it: {"sql": [...], "jobs": [...], "stages": [...], "loads": [...]}."""
    spans = [{"id": ("op", o["id"]), "parent": None, "kind": "op",
              "start": o["start"], "end": o["end"]} for o in ops]
    under = {o["id"]: {"sql": [], "jobs": [], "stages": [], "loads": []} for o in ops}
    find = Containing(ops)
    sql_op = {}
    for s in trace["sql"]:
        if s["start"] is None or s["end"] is None:
            continue
        op = find(s["start"])
        if op is None:
            continue
        sql_op[s["exec"]] = op
        under[op]["sql"].append(s)
        spans.append({"id": ("sql", s["exec"]), "parent": ("op", op), "kind": "sql",
                      "start": s["start"], "end": s["end"]})
    job_op = {}
    for j in trace["jobs"]:
        op = sql_op.get(j["exec"]) or find(j["start"])
        if op is None or j["end"] is None:
            continue
        job_op[j["job"]] = op
        under[op]["jobs"].append(j)
        parent = ("sql", j["exec"]) if j["exec"] in sql_op else ("op", op)
        spans.append({"id": ("job", j["job"]), "parent": parent, "kind": "job",
                      "start": j["start"], "end": j["end"]})
    for st in trace["stages"]:
        op = job_op.get(st["job"])
        if op is None:
            continue
        under[op]["stages"].append(st)
        spans.append({"id": ("stage", st["stage"], st["attempt"]), "parent": ("job", st["job"]),
                      "kind": "stage", "start": st["start"], "end": st["end"]})
    for n, ld in enumerate(trace["loads"]):
        if ld["op"] in under:
            under[ld["op"]]["loads"].append(ld)
            spans.append({"id": ("load", n), "parent": ("op", ld["op"]), "kind": "catalog",
                          "start": ld["start"], "end": ld["end"]})
    return spans, under


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_op(under, ids, fn):
    return mean(fn(under[i]) for i in ids)


def stage_sum(key):
    return lambda u: sum(s.get(key, 0) for s in u["stages"])


def overhead_pct(samples, key="name"):
    """Traced vs untraced latency of the same operations: the sum over
    operation names of the median traced latency over the sum of the median
    untraced one, minus 1, as a percentage."""
    tr, un = {}, {}
    for s in samples:
        (tr if s["traced"] else un).setdefault(s[key], []).append(s["ms"])
    common = [k for k in tr if k in un]
    if not common:
        return 0.0
    t = sum(stats.median(tr[k]) for k in common)
    u = sum(stats.median(un[k]) for k in common)
    return 100.0 * (t / u - 1.0)


def per_layer(workload, out, figures):
    res, trace = out["result"], out["trace"]
    m = dict.fromkeys(NAMES, 0.0)
    ops = list(trace["ops"])
    # the phase (a) micro-batches with input, as the StreamingQueryListener saw them
    batches = [b for b in trace["batches"] if b["query"] == res.get("query_id") and
               b["rows"] > 0 and b["batch"] >= res["first_batch"]]
    for n, b in enumerate(batches):
        ops.append({"id": -1 - n, "kind": "batch", "start": b["start"],
                    "end": b["start"] + b["duration"].get("triggerExecution", 0)})
    spans, under = link(trace, ops)
    primary = [o["id"] for o in ops if o["kind"] == PRIMARY[workload]]
    every = [o["id"] for o in ops]

    m["plan.analysis_ms"] = per_op(under, primary, lambda u: sum(s["phases"].get("analysis", 0) for s in u["sql"]))
    m["plan.optimizer_ms"] = per_op(under, primary, lambda u: sum(s["phases"].get("optimization", 0) for s in u["sql"]))
    m["plan.planning_ms"] = per_op(under, primary, lambda u: sum(s["phases"].get("planning", 0) for s in u["sql"]))
    m["exec.jobs"] = per_op(under, primary, lambda u: len(u["jobs"]))
    m["exec.stages"] = per_op(under, primary, lambda u: len(u["stages"]))
    m["exec.tasks"] = per_op(under, primary, stage_sum("tasks"))
    n_stages = sum(len(under[i]["stages"]) for i in primary)
    m["exec.partitions_per_stage"] = (sum(stage_sum("tasks")(under[i]) for i in primary) / n_stages
                                      if n_stages else 0.0)
    for name, key in [("exec.task_cpu_ms", "cpu_ms"), ("exec.task_wall_ms", "run_ms"),
                      ("exec.shuffle_write_bytes", "shuffle_write"),
                      ("exec.shuffle_read_bytes", "shuffle_read"), ("exec.spill_bytes", "spill"),
                      ("exec.gc_ms", "gc_ms")]:
        m[name] = per_op(under, primary, stage_sum(key))
    m["catalog.load_ms"] = per_op(under, every, lambda u: sum(x["end"] - x["start"] for x in u["loads"]))
    m["scan.input_bytes"] = per_op(under, every, stage_sum("in_bytes"))
    m["scan.input_rows"] = per_op(under, every, stage_sum("in_rows"))
    files = {o["id"]: o.get("files_opened", 0) for o in ops}
    m["scan.files_opened"] = mean(files[i] for i in every)

    self_t = stats.self_times(spans)
    kind_of = {s["id"]: s["kind"] for s in spans}
    root_of = {}
    parent = {s["id"]: s["parent"] for s in spans}
    for sid in parent:
        r = sid
        while parent.get(r) is not None:
            r = parent[r]
        root_of[sid] = r
    prim = {("op", i) for i in primary}
    for kind in ["op", "sql", "job", "stage", "catalog"]:
        total = sum(v for sid, v in self_t.items() if kind_of[sid] == kind and root_of[sid] in prim)
        m[f"self.{kind}_ms"] = total / len(prim) if prim else 0.0
    m["trace.spans"] = sum(1 for sid in root_of if root_of[sid] in prim) / len(prim) if prim else 0.0

    if workload == "analytics":
        m["trace.overhead_pct"] = overhead_pct(res["samples"])
        m["trace.op_ms"] = stats.geomean(
            stats.per_name_medians(s for s in res["samples"] if s["traced"]).values())
    elif workload == "lakehouse_dml":
        writes = [w for w in res["writes"] if w["i"] >= res["warm"]]
        m["trace.overhead_pct"] = overhead_pct(writes, key="kind")
        m["trace.op_ms"] = stats.median([w["ms"] for w in writes if w["traced"]])
        dml_ops = {i for i in primary}
        tails = []
        for i in dml_ops:
            ends = {}
            for j in under[i]["jobs"]:
                ends[j["exec"]] = max(ends.get(j["exec"], 0), j["end"])
            tails += [s["end"] - ends[s["exec"]] for s in under[i]["sql"] if s["exec"] in ends]
        m["catalog.commit_tail_ms"] = mean(tails)
        m["catalog.log_read_ms"] = stats.median([w["log_read_ms"] for w in writes if "log_read_ms" in w] or [0.0])
        m["catalog.log_bytes_per_commit"] = mean(w["log_bytes"] for w in writes)
        m["catalog.log_versions"] = mean(res["versions"].values())
        m["write.files"] = mean(w["files"] for w in writes)
        m["write.bytes"] = mean(w["bytes"] for w in writes)
        m["write.rows"] = figures["write.rows"][0]
        for k in ["read_ms.p50", "feed_ms.p50", "write_amp", "space_amp"]:
            m[f"lakehouse.{k}"] = figures[k][0]
    else:
        m["stream.batches"] = float(len(batches))
        if batches:
            m["stream.batch_ms.p50"] = stats.median([p["duration"].get("triggerExecution", 0) for p in batches])
            for ph in ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]:
                m[f"stream.{ph}_ms"] = stats.median([p["duration"].get(ph, 0) for p in batches])
        due = sorted(e[2] for e in res["events"])
        read, backlog = 0, []
        for p in sorted(batches, key=lambda p: p["batch"]):
            backlog.append(max(0, bisect.bisect_right(due, p["start"]) - read))
            read += p["rows"]
        m["stream.backlog_events"] = mean(backlog)
        m["stream.generator_late_ms"] = stats.percentile([e[3] - e[2] for e in res["events"]], 99)
        m["stream.drain_events_per_s"] = figures["drain_events_per_s"][0]
        m["stream.event_ms.p99"] = figures.get("event_ms.p99", (0.0,))[0]
        m["trace.op_ms"] = figures["event_ms.p50"][0]
        drains = [{"name": "drain", "traced": d["traced"], "ms": d["s"] * 1e3} for d in res["drains"] if d["ok"]]
        m["trace.overhead_pct"] = overhead_pct(drains)
        if res["score_s"]:
            m["ml.score_rows_per_s"] = res["test_rows"] / stats.median(res["score_s"])
        m["ml.train_s"] = res["train_s"]
    for k, v in res["host"].items():
        m[k] = v
    assert set(m) == set(NAMES), set(m) ^ set(NAMES)
    return m
