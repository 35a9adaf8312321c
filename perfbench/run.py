#!/usr/bin/env python3
"""Benchmark of the engine's Glue-style pipeline: one workload per run.

    python3 perfbench/run.py --workload etl_analytics --seed 1 --seconds 10 --trace 0

Run from the repo root. The first run compiles the engine and the harness
(perfbench/build.py). Inputs are generated from --seed, the workload runs in
its own JVM (one client, serial ops, local[nproc]), every op result is
checked against a DuckDB-derived expectation, and the last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 1
attaches a SparkListener and reports the per-layer metrics instead of the
end-to-end ones. See perfbench/README.md.
"""
import sys
sys.dont_write_bytecode = True

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

import numpy as np  # noqa: E402

WORKLOADS = ("etl_analytics", "lakehouse_rw")
# seconds one timed pass takes on a 4-core host; the number of timed passes
# is --seconds / this, so every run of a workload does the same work
NOMINAL_PASS_S = {"etl_analytics": 11.0, "lakehouse_rw": 7.5}
REGISTRY_SF = 0.002
ETL_ROWS = 100_000
LAKE = dict(base_rows=60_000, rounds=2, load_rows=6_000, corr_rows=2_000, branch_rows=1_000)
JVM_TIMEOUT_S = 165
MODULES = ("etl", "ops", "sources", "streaming", "graph", "dedup", "sim")
LAYER = ("construct_s", "plan_s", "exec_s", "jobs", "tasks", "task_cpu_s",
         "shuffle_bytes", "spill_bytes", "driver_s")
LAYER_UNIT = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
              "spill_bytes": "bytes"}
COMMITS = ("insert", "merge", "delete", "update_mor", "branch", "optimize")
SCANS = ("agg", "point", "travel", "meta")
PHASES = ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
          "commitOffsets", "latestOffset")
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def generate(workload, seed, data):
    rng = np.random.default_rng(seed)
    info = {}
    if workload == "etl_analytics":
        gen.tables(os.path.join(data, "tables"), rng, REGISTRY_SF)
        gen.stream_source(os.path.join(data, "tables", "events.parquet"),
                          os.path.join(data, "stream_src"), files=4)
        gen.etl_inputs(os.path.join(data, "etl"), rng, ETL_ROWS)
    if workload == "lakehouse_rw":
        lake = os.path.join(data, "lakehouse")
        info["rounds"] = gen.lakehouse(lake, rng, **LAKE)
        with open(os.path.join(lake, "rounds.tsv"), "w") as f:
            for r in info["rounds"]:
                f.write(f"{r['erase_user']}\t{r['reprice_product']}\t{r['point_id']}\n")
    return info


CHILDREN = []


def _stop(signum, _frame):
    """Stop the JVM before exiting, so no process outlives the run."""
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()
    raise SystemExit(128 + signum)


def run_jvm(classes, args, work, deadline):
    run_dir = os.path.join(work, "run")
    tmp = os.path.join(work, "tmp")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}"] + JDK17_OPENS
           + ["-cp", build.classpath(os.path.abspath(classes)), "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # every run pays its own fixture builds: no cross-run fixture reuse
        env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SCRATCH_REUSE"}
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        CHILDREN.append(p)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")


def load_outputs(out):
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f if line.strip()]
    return run, ops


def verify(workload, data, ops, run, info):
    """Sets op["verdict"] to "ok", "failed: ..." or "wrong: ..." on every record."""
    if workload == "etl_analytics":
        tags = {o["op"]: check.tags_of(o["checksum"]) for o in ops if "checksum" in o}
        expected = check.registry_expected(os.path.join(data, "tables"), run["oracles"], tags)
        etl_exp, etl_rows = check.etl_expected(os.path.join(data, "etl"))
        info["etl_rows"] = etl_rows
    if workload == "lakehouse_rw":
        replay = check.LakeReplay(os.path.join(data, "lakehouse"), info["rounds"])
        pass_no, r = None, -1
    for o in ops:
        if workload == "lakehouse_rw" and o["pass"] != pass_no:
            replay.reset()
            pass_no, r = o["pass"], -1
        if not o["ok"]:
            o["verdict"] = "failed: " + o["error"]
            continue
        why = None
        if o["kind"] == "query":
            exp = expected.get(o["op"])
            if exp is None:
                why = "no oracle"
            elif isinstance(exp, str):
                why = exp
            else:
                why = check.compare(o["checksum"], exp)
        elif o["kind"] == "etl":
            why = check.etl_check(o["extra"]["out"], etl_exp)
        elif o["kind"] == "stream":
            why = check.stream_check(o["extra"]["out"], os.path.join(data, "stream_src"))
        elif workload == "lakehouse_rw":
            name = o["op"]
            if name == "insert":
                r += 1
            if o["kind"] == "commit" and name != "optimize":
                replay.apply(name, r)
            elif name == "scan_meta":
                v = int(o["extra"]["version"])
                got = o["checksum"]
                vers = [c for c in got["cols"] if c[0] == "version"]
                if got["rows"] != v or not vers or int(float(vers[0][3])) != v * (v + 1) // 2:
                    why = f"$history lists {got['rows']} versions, table is at v{v}"
            elif o["kind"] == "scan":
                exp = replay.read(name, r, check.tags_of(o["checksum"]))
                why = exp if isinstance(exp, str) else check.compare(o["checksum"], exp)
        o["verdict"] = "ok" if why is None else "wrong: " + why


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: the order statistics
    weighted by a Beta(p(n+1), (1-p)(n+1)) density. A single order statistic
    of a mix of fast and slow op kinds jumps between the two when the
    quantile falls in the gap between them; this estimate moves smoothly."""
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    if n < 3:
        return float(np.quantile(s, p)) if n else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf = np.append(cdf, cdf[-1]) / cdf[-1]
    grid = np.concatenate([[0.0], t, [1.0]])
    return float(np.dot(np.diff(np.interp(np.arange(n + 1) / n, grid, cdf)), s))


def tail_pct(n):
    """The highest percentile with at least 10 samples beyond it (the
    maximum when there are fewer than 20 samples)."""
    return (n - 10) / n if n >= 20 else 1.0


def end_to_end(run, ops, setup_s, info):
    timed = [o for o in ops if o["pass"] >= 1 and not o["traced"]]
    walls = [p["wall_s"] for p in run["passes"] if p["pass"] >= 1 and not p["traced"]]
    penalty = sum(walls)
    # a failed or wrong op counts as slow as the whole timed phase, which no
    # successful op can exceed: fixing a failure can only lower a percentile
    lat = [o["latency_s"] if o["verdict"] == "ok" else penalty for o in timed]
    q = tail_pct(len(lat))
    tail = hd_quantile(lat, q) if q < 1 else max(lat)
    bad = sum(o["verdict"] != "ok" for o in timed)
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(walls) / len(walls), "s"),
        "op_p50_s": (hd_quantile(lat, 0.5), "s"),
        "op_tail_s": (tail, "s"),
        "ok_rate": ((len(timed) - bad) / len(timed), "ratio"),
    }
    notes = {"op_tail_s": f"p{100 * q:.1f} of {len(lat)} samples",
             "error_rate": f"{bad / len(timed):.4f} ({bad} of {len(timed)} ops)"}
    return m, notes, workload_specific(timed, penalty, info)


def workload_specific(timed, penalty, info):
    def lat_of(pred):
        return [o["latency_s"] if o["verdict"] == "ok" else penalty for o in timed if pred(o)]
    etl = [o for o in timed if o["kind"] == "etl" and o["verdict"] == "ok"]
    return {
        "etl_rows_per_s": (info.get("etl_rows", 0) * len(etl)
                           / sum(o["latency_s"] for o in etl) if etl else 0.0, "rows/s"),
        "commit_p50_s": (median(lat_of(lambda o: o["kind"] == "commit")), "s"),
        "scan_p50_s": (median(lat_of(lambda o: o["kind"] == "scan")), "s"),
    }


def per_layer(run, ops, info):
    traced_passes = [p for p in run["passes"] if p["traced"] and p["pass"] >= 1]
    k = max(1, len(traced_passes))
    tr = [o for o in ops if o["traced"] and o["pass"] >= 1]
    m = {}
    for mod in MODULES:
        mo = [o for o in tr if o["module"] == mod]
        for f in LAYER:
            m[f"{mod}.{f}"] = (sum(o.get(f, 0) for o in mo) / k, LAYER_UNIT.get(f, "s"))
    etl = [o for o in tr if o["kind"] == "etl"]
    etl_cpu = sum(o.get("task_cpu_s", 0) for o in etl)
    m["etl.rows_per_cpu_s"] = (info.get("etl_rows", 0) * len(etl) / etl_cpu if etl_cpu else 0.0,
                               "rows/s")
    m["etl.output_bytes"] = (median([o["observed"].get("output_bytes", 0) for o in etl]), "bytes")

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0
    for c in COMMITS:
        m[f"sources.commit.{c}_s"] = (mean([o["latency_s"] for o in tr if o["op"] == c]), "s")
    for s in SCANS:
        m[f"sources.scan.{s}_s"] = (mean([o["latency_s"] for o in tr if o["op"] == f"scan_{s}"]), "s")
    commits = [o for o in tr if o["kind"] == "commit"]
    scans = [o for o in tr if o["kind"] == "scan"]
    m["sources.commit_jobs"] = (mean([o["jobs"] for o in commits]), "count")
    scan_cpu = sum(o["task_cpu_s"] for o in scans)
    m["sources.scan_rows_per_cpu_s"] = (sum(o["records_read"] for o in scans) / scan_cpu
                                        if scan_cpu else 0.0, "rows/s")
    pm = [p["metrics"] for p in traced_passes]
    written = sum(max(0.0, o["observed"].get("bytes_written", 0)) for o in commits)
    change = sum(p.get("change_bytes", 0) for p in pm)
    m["sources.write_amp"] = (written / change if change else 0.0, "ratio")
    m["sources.space_amp"] = (mean([p["disk_bytes"] / p["live_bytes"] for p in pm
                                    if p.get("live_bytes")]), "ratio")
    trig = sum(o.get("triggers", 0) for o in tr)
    m["streaming.triggers"] = (trig / k, "count")
    m["streaming.jobs_per_trigger"] = (sum(o["jobs"] for o in tr if o.get("triggers"))
                                       / trig if trig else 0.0, "count")
    for ph in PHASES:
        m[f"streaming.{ph}_ms"] = (sum(o.get("phases_ms", {}).get(ph, 0) for o in tr) / k, "ms")
    m["streaming.state_bytes"] = (max([o.get("state_bytes", 0) for o in tr] + [0]), "bytes")
    cpu = sum(o.get("task_cpu_s", 0) for o in tr)
    wall = sum(p["wall_s"] for p in traced_passes)
    m["spark.cpu_util"] = (cpu / (wall * run["cores"]) if wall else 0.0, "ratio")
    m["jvm.gc_s"] = (mean([p["gc_s"] for p in traced_passes]), "s")
    m["jvm.heap_after_gc_peak_mb"] = (max([p["heap_after_gc_peak_mb"] for p in traced_passes] + [0]),
                                      "MB")
    untraced = [p["wall_s"] for p in run["passes"] if p["pass"] >= 1 and not p["traced"]]
    m["trace.overhead"] = (mean([p["wall_s"] for p in traced_passes]) / mean(untraced)
                           if untraced else 0.0, "ratio")
    m["trace.deterministic"] = (1.0 if not determinism_diffs(tr) else 0.0, "bool")
    return m


def determinism_diffs(tr):
    """Ops whose jobs, shuffle bytes or files written differ between the
    first two traced passes."""
    passes = sorted({o["pass"] for o in tr})[:2]
    if len(passes) < 2:
        return ["fewer than two traced passes"]
    key = lambda o: (o["op"], o["seq"] if o["module"] == "sources" else 0)  # noqa: E731
    a = {key(o): o for o in tr if o["pass"] == passes[0]}
    b = {key(o): o for o in tr if o["pass"] == passes[1]}
    diffs = []
    for k2, x in a.items():
        y = b.get(k2)
        if y is None:
            continue
        for f in ("jobs", "shuffle_bytes"):
            if x.get(f) != y.get(f):
                diffs.append(f"{k2[0]}.{f} {x.get(f)} != {y.get(f)}")
        fx, fy = x["observed"].get("files_written"), y["observed"].get("files_written")
        if fx != fy:
            diffs.append(f"{k2[0]}.files_written {fx} != {fy}")
    return diffs


def report_ops(ops):
    by = {}
    for o in ops:
        by.setdefault(o["op"], []).append(o)
    for name, xs in by.items():
        timed = [o for o in xs if o["pass"] >= 1]
        bad = [o for o in xs if o["verdict"] != "ok"]
        lat = [o["latency_s"] for o in timed if o["verdict"] == "ok"]
        verdict = "PASS" if not bad else "FAIL"
        line = (f"op {name:<22} module={xs[0]['module']:<9} runs={len(xs)} "
                f"ok={len(xs) - len(bad)} median_ok_s={median(lat):.4f} {verdict}")
        if bad:
            line += f"  [{bad[0]['verdict'][:240]}]"
        print(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    classes = build.ensure()
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        data = os.path.join(work, "data")
        info = generate(a.workload, a.seed, data)
        passes = max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))
        out = os.path.join(work, "out")
        run_jvm(classes, ["--workload", a.workload, "--data", data, "--work",
                          os.path.join(work, "run"), "--out", out, "--seed", str(a.seed),
                          "--passes", str(passes), "--trace", str(a.trace)],
                work, t0 + JVM_TIMEOUT_S)
        run, ops = load_outputs(out)
        setup_s = run["timed_start_ms"] / 1000.0 - t0
        verify(a.workload, data, ops, run, info)
        report_ops(ops)
        timed = [o for o in ops if o["pass"] >= 1]
        failed = sum(o["verdict"] != "ok" for o in timed)
        correct = not any(o["verdict"].startswith("wrong") for o in ops)
        e2e, notes, specific = end_to_end(run, ops, setup_s, info)
        for k, (v, u) in list(e2e.items()) + list(specific.items()):
            print(f"metric {k} = {v:.6g} {u}" + (f"  ({notes[k]})" if k in notes else ""))
        print(f"metric error_rate = {notes['error_rate']}")
        if a.trace:
            layer = per_layer(run, ops, info)
            layer.update(specific)
            for k, (v, u) in layer.items():
                print(f"layer {k} = {v:.6g} {u}")
            diffs = determinism_diffs([o for o in ops if o["traced"] and o["pass"] >= 1])
            print("trace deterministic counters repeat: "
                  + ("yes" if not diffs else "no: " + "; ".join(diffs[:8])))
            os.makedirs(".bench_out", exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(".bench_out", f"spans-{a.workload}-s{a.seed}.json"))
            metrics = layer
        else:
            metrics = e2e
        print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
