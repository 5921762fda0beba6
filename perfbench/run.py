#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload <analytics|lakehouse_dml|stream_score|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
engine together with the JVM harness in perfbench/jvm (sbt, offline) and
keeps the build under .bench_build/ and perfbench/jvm/target/; later runs
rebuild only when a source changed. Each run generates its inputs from the
seed into a fresh directory under .bench_build/, runs one workload in one
JVM on local[<cores>], checks every output, prints one line per figure, and
ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json names both; perfbench/metrics.json gives the
layer each per-layer metric belongs to and the end-to-end metric it should
move).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
OUT = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main")
WORKLOADS = ["analytics", "lakehouse_dml", "stream_score"]
STATEMENTS = 6000
JAVA_OPTS = [
    *[x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                  "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"] + _BENCH["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE, JVM):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness if a source changed; returns the classpath."""
    stamp, cp_file, stamp_file = source_stamp(), os.path.join(OUT, "classpath"), \
        os.path.join(OUT, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness (sbt)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=JVM, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---- one run -------------------------------------------------------------

def run_jvm(classpath, workload, seed, seconds, trace, run_dir, data_dir, extra):
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
           "perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--run-dir", run_dir, "--data", data_dir, *extra]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=seconds + 150)
        except subprocess.TimeoutExpired:
            rc = "a timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"{workload}: the JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def tail(figures, name, values):
    """Adds the highest percentile the samples support (p50 is reported
    separately), e.g. event_ms.p99."""
    p = stats.highest_supported(len(values))
    if p is not None and p > 50:
        figures[f"{name}.p{p}"] = (stats.percentile(values, p), len(values), "ms")


def analytics(out, run_dir, data_dir, figures):
    res = out["result"]
    bad = checks.oracle_failures(run_dir, data_dir)
    for q, why in bad.items():
        log(f"oracle mismatch {q}: {why}")
    for e in res["setup_errors"]:
        log(f"set-up: {e}")
    samples = res["samples"]
    failed = sum(1 for s in samples if not s["ok"] or s["name"] in bad) + len(res["setup_errors"])
    # a traced run times its untraced executions for these figures
    ms = [s["ms"] for s in samples if not s["traced"]]
    figures.update({
        "query_ms.p50": (stats.median(ms), len(ms), "ms"),
        "pass_s": (stats.median(res["pass_s"]), len(res["pass_s"]), "s")})
    tail(figures, "query_ms", ms)
    per_query = stats.per_name_medians(s for s in samples if not s["traced"])
    for q, v in sorted(per_query.items()):
        figures[f"query_ms.{q}"] = (v, len(ms) // len(per_query), "ms")
    figures["query_ms.geomean"] = (stats.geomean(per_query.values()), len(ms), "ms")
    # the first untimed pass: cold execution plus writing the result
    for q, v in sorted(res["untimed_ms"].items()):
        figures[f"untimed_ms.{q}"] = (v, 1, "ms")
    figures["setup.preflight_s"] = (res["preflight_s"], 1, "s")
    e2e = {"op_ms": figures["query_ms.geomean"][0], "cycle_s": figures["pass_s"][0]}
    return len(samples) + res["setup_ops"], failed, e2e


def lakehouse(out, stmts, seed_rows, figures):
    res = out["result"]
    failed, why, model, written = checks.check_lakehouse(res, stmts, seed_rows)
    for w in why[:20]:
        log(f"mismatch: {w}")
    attempted = len(res["writes"]) + len(res["reads"]) + len(res["feeds"]) + len(gen.TABLES)
    # the first statements end the set-up: checked above, not timed
    measured = {k: [x for x in res[k] if x["i"] >= res["warm"]] for k in ("writes", "reads", "feeds")}
    # one round: a block of write statements with their point reads and
    # feed pulls (every block has the same mix of statements)
    by_i = {}
    for x in measured["writes"] + measured["reads"] + measured["feeds"]:
        by_i[x["i"]] = by_i.get(x["i"], 0.0) + x["ms"]
    blocks = {}
    for w in measured["writes"]:
        blocks.setdefault((w["i"] - gen.WARM) // gen.BLOCK, []).append(by_i[w["i"]])
    rounds = [sum(v) / 1e3 for v in blocks.values() if len(v) == gen.BLOCK]
    # a traced run times its untraced statements for the latency figures
    writes, reads, feeds = [[x for x in measured[k] if not x["traced"]]
                            for k in ("writes", "reads", "feeds")]
    ms = [w["ms"] for w in writes]
    live = sum(checks.row_bytes(r) for t in gen.TABLES for r in model.rows(t))
    created = sum(w["bytes"] + w["log_bytes"] for w in res["writes"])
    figures.update({
        "dml_ms.p50": (stats.median(ms), len(ms), "ms"),
        "read_ms.p50": (stats.median([r["ms"] for r in reads]), len(reads), "ms"),
        "feed_ms.p50": (stats.median([f["ms"] for f in feeds]) if feeds else 0.0, len(feeds), "ms"),
        "write_amp": (created / max(1, written), len(writes), "ratio"),
        "space_amp": (sum(res["disk_bytes"].values()) / max(1, live), 1, "ratio"),
        "round_s": (stats.median(rounds) if rounds else 0.0, len(rounds), "s"),
        "write.rows": (sum(len(stmts[w["i"]]["keys"]) for w in writes if stmts[w["i"]]["kind"] != "delete")
                       / max(1, len(writes)), len(writes), "count/op")})
    tail(figures, "dml_ms", ms)
    e2e = {"op_ms": figures["dml_ms.p50"][0], "cycle_s": figures["round_s"][0]}
    return attempted, failed, e2e


def stream(out, figures):
    res = out["result"]
    expected, labels, test_ids = res["expected"], res["labels"], res["test_ids"]
    events = {int(e[0]): e for e in res["events"]}
    wanted = {k: int(e[1]) for k, e in events.items()}
    wanted.update({int(w[0]): int(w[1]) for w in res["warm_events"]})
    failed, why, batch_of = checks.check_scores(
        checks.committed_outputs(res["sink"]), wanted, expected, labels, test_ids)
    attempted = len(wanted)
    backlog = {int(b[0]): int(b[1]) for b in res["backlog"]}
    for d in res["drains"]:
        attempted += len(backlog)
        if not d["ok"]:
            failed += len(backlog)
            why.append(f"drain {d['dir']} failed")
            continue
        f, w, _ = checks.check_scores(checks.committed_outputs(d["dir"]), backlog,
                                      expected, labels, test_ids)
        failed += f
        why += w
    for w in why[:20]:
        log(f"mismatch: {w}")
    ends = {p["batch"]: p["start"] + p["duration"].get("triggerExecution", 0)
            for p in res["progress"]}
    lat = stats.open_loop_latencies({k: e[2] for k, e in events.items()}, batch_of, ends)
    late = [e[3] - e[2] for e in events.values()]
    drains = [d["s"] for d in res["drains"] if d["ok"]]
    figures.update({
        "event_ms.p50": (stats.median(lat), len(lat), "ms"),
        "drain_events_per_s": (len(backlog) / stats.median(drains), len(drains), "1/s"),
        "generator_late_ms.p50": (stats.median(late), len(late), "ms"),
        "generator_late_ms.max": (max(late), len(late), "ms"),
        "train_s": (res["train_s"], 1, "s")})
    tail(figures, "event_ms", lat)
    e2e = {"op_ms": figures["event_ms.p50"][0], "cycle_s": stats.median(drains)}
    return attempted, failed, e2e


def run_one(workload, seed, seconds, trace, classpath):
    os.makedirs(OUT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{workload}-", dir=OUT)
    try:
        data_dir = os.path.join(run_dir, "data")
        os.makedirs(data_dir)
        gen.write_fixtures(seed, data_dir)
        extra, stmts = [], None
        if workload == "lakehouse_dml":
            stmts = gen.dml_stream(seed, STATEMENTS)
            gen.write_stream(stmts, os.path.join(run_dir, "statements.tsv"))
            extra = ["--stmts", os.path.join(run_dir, "statements.tsv"),
                     "--seed-rows", str(gen.DML_SEED_ROWS), "--warm", str(gen.WARM),
                     "--block", str(gen.BLOCK)]
        out = run_jvm(classpath, workload, seed, seconds, trace, run_dir, data_dir, extra)
        figures = {}
        if workload == "analytics":
            attempted, failed, e2e = analytics(out, run_dir, data_dir, figures)
        elif workload == "lakehouse_dml":
            attempted, failed, e2e = lakehouse(out, stmts, gen.orders_rows(seed), figures)
        else:
            attempted, failed, e2e = stream(out, figures)
        if failed:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write("".join(x for x in f if x.startswith("[perfbench]")))
        res = out["result"]
        e2e["setup_s"] = out["session_s"] + res["setup_s"]
        figures["setup.session_s"] = (out["session_s"], 1, "s")
        figures["setup.workload_s"] = (res["setup_s"], 1, "s")
        host = res["host"]
        for name, (value, n, unit) in figures.items():
            print(f"{workload} {name} {value:.6g} {unit} (n={n})")
        print(f"{workload} host " + json.dumps({k: round(v, 3) for k, v in host.items()}))
        if trace:
            metrics = layers.per_layer(workload, out, figures)
        else:
            metrics = e2e
        return attempted, failed, metrics
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ENGINE, "scala", "graft", "SparkEntry.scala")):
        raise SystemExit(f"no engine sources under {ENGINE}: run from a checkout of the repository")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    attempted = failed = 0
    metrics = {}
    for w in (WORKLOADS if args.workload == "all" else [args.workload]):
        a, f, m = run_one(w, args.seed, args.seconds, bool(args.trace), classpath)
        attempted, failed = attempted + a, failed + f
        prefix = f"{w}." if args.workload == "all" else ""
        metrics.update({prefix + k: (v, UNITS[k]) for k, v in m.items()})
    print(stats.result_line(failed == 0, attempted, failed, metrics))


if __name__ == "__main__":
    main()
