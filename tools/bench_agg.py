#!/usr/bin/env python3
"""Aggregate clean bench runs into the canonical per-round artifact.

Per-query MIN across the given run files. FAILS LOUDLY (exit 1, nothing
written) when any run's query set differs from the union — a run taken
before a query landed must be re-run, never silently dropped from the
aggregate — or, with --registry pointing at a Verify dump's
oracle_sql.json, when the aggregate's query set differs from the
registry keys. (The round-12 gap this closes: q_bucket_cdf passed
CORRECTNESS and appeared in run22 but was missing from the 244-query
canonical aggregate because runs 13-21 predated it.)

When the runs carry per-query Spark job counts (`"jobs"`, written by
graft.Bench), the aggregate keeps each query's count from its fastest run.
When the --control runs carry them too, it prints every shared query's
jobs new vs control and flags each query whose count rose.

Usage:
  python3 tools/bench_agg.py bench_history/BENCH_clean_sf0.1_run*.json \
      --registry /tmp/verify_out/oracle_sql.json -o BENCH_clean_rN.json
"""
import argparse
import json
import statistics
import sys

ap = argparse.ArgumentParser()
ap.add_argument("runs", nargs="+", help="BENCH_clean_*_run*.json files")
ap.add_argument("--registry",
                help="oracle_sql.json from a Verify dump (query-name truth)")
ap.add_argument("--control", nargs="*", default=[],
                help="bench runs of the PREVIOUS round's code, taken "
                     "INTERLEAVED with this round's runs in the same "
                     "session — the same-host control that makes "
                     "round-over-round drift adjudication mechanical "
                     "(host speed swings 1.4x within a day)")
ap.add_argument("--control-digest", default=None,
                help="identity of the control code (git sha)")
ap.add_argument("-o", "--out", required=True)
a = ap.parse_args()

runs = [(p, json.load(open(p))) for p in a.runs]
union = set()
for _, r in runs:
    union |= set(r["queries"])
problems = []
for p, r in runs:
    missing = sorted(union - set(r["queries"]))
    if missing:
        problems.append(f"{p} lacks {len(missing)} queries present in other "
                        f"runs (stale code?): {missing[:10]}")
if a.registry:
    reg = set(json.load(open(a.registry)))
    if union != reg:
        problems.append(
            f"bench set != registry: bench-only={sorted(union - reg)[:10]} "
            f"registry-only={sorted(reg - union)[:10]}")
if problems:
    for msg in problems:
        print(f"FATAL: {msg}", file=sys.stderr)
    sys.exit(1)

def fastest_jobs(rs, qs):
    """Per query, the Spark job count of the fastest successful run
    (graft.Bench records jobs per query; older artifacts carry none)."""
    if not all("jobs" in r for r in rs):
        return None
    out = {}
    for q in qs:
        ok = [r for r in rs if r["queries"].get(q, -1) >= 0 and q in r["jobs"]]
        if ok:
            out[q] = min(ok, key=lambda r: r["queries"][q])["jobs"][q]
    return out


best = {}
for q in sorted(union):
    ok = [r["queries"][q] for _, r in runs if r["queries"][q] >= 0]
    best[q] = min(ok) if ok else -1
jobs = fastest_jobs([r for _, r in runs], sorted(union))
failed = sorted(q for q, v in best.items() if v < 0)
out = {
    "metric": "total",
    "value": sum(v for v in best.values() if v >= 0),
    "unit": "sec",
    "queries": best,
    "sf": runs[0][1].get("sf"),
    "runs": len(runs),
    "failed": failed,
}
if jobs is not None:
    out["jobs"] = jobs
if a.control:
    # per-query MIN over the interleaved old-code runs, restricted to the
    # queries both code states share; the headline control_total compares
    # like-for-like (shared set, min-of-runs on both sides)
    cruns = [json.load(open(p)) for p in a.control]
    cbest = {}
    for q in sorted(set.intersection(*(set(c["queries"]) for c in cruns))):
        ok = [c["queries"][q] for c in cruns if c["queries"][q] >= 0]
        if ok:
            cbest[q] = min(ok)
    shared = sorted(set(cbest) & {q for q, v in best.items() if v >= 0})
    new_shared = sum(best[q] for q in shared)
    ctl_shared = sum(cbest[q] for q in shared)
    ratios = [best[q] / cbest[q] for q in shared if cbest[q] > 0]
    # PAIRED-FAIR ratios: the raw ratio compares min-of-len(runs) new vs
    # min-of-len(cruns) control — unequal sampling biases toward whichever
    # side has more runs (r16: 0.872 raw vs 0.908 at equal N). The paired
    # statistic restricts the new side to the control runs' interleaved
    # neighbors (ab_bench.sh emits new_run_i right after ctl_run_i, and
    # the canonical's run list keeps that order first), so both sides are
    # a min over the SAME number of same-window samples.
    pruns = runs[: len(cruns)]
    pbest = {}
    for q in shared:
        ok = [r["queries"][q] for _, r in pruns if r["queries"][q] >= 0]
        if ok:
            pbest[q] = min(ok)
    pshared = sorted(set(pbest) & set(cbest))
    p_new = sum(pbest[q] for q in pshared)
    p_ctl = sum(cbest[q] for q in pshared)
    pratios = [pbest[q] / cbest[q] for q in pshared if cbest[q] > 0]
    out["control"] = {
        "digest": a.control_digest,
        "runs": len(cruns),
        "control_total": ctl_shared,
        "new_total_shared": new_shared,
        "shared_queries": len(shared),
        "total_ratio": (new_shared / ctl_shared) if ctl_shared else None,
        "median_query_ratio": statistics.median(ratios) if ratios else None,
        "paired_total_ratio": (p_new / p_ctl) if p_ctl else None,
        "paired_median_query_ratio":
            statistics.median(pratios) if pratios else None,
        "queries": cbest,
    }
    cjobs = fastest_jobs(cruns, shared)
    if jobs is not None and cjobs is not None:
        out["control"]["jobs"] = cjobs
json.dump(out, open(a.out, "w"), indent=1)
print(f"wrote {a.out}: {len(best)} queries, total {out['value']:.1f}s, "
      f"{len(failed)} failed, min over {len(runs)} runs")
if a.control:
    c = out["control"]
    print(f"control ({c['digest']}, {c['runs']} interleaved runs): "
          f"shared={c['shared_queries']} new/ctl total ratio="
          f"{c['total_ratio']:.3f} median per-query="
          f"{c['median_query_ratio']:.3f} paired-fair total="
          f"{c['paired_total_ratio']:.3f} paired-fair median="
          f"{c['paired_median_query_ratio']:.3f}")
    if "jobs" in c:
        # jobs are host-independent: a rise is a regression on any host
        both = sorted(q for q in c["jobs"] if q in jobs)
        rose = [q for q in both if jobs[q] > c["jobs"][q]]
        print(f"jobs per query (new vs control), {len(both)} shared, "
              f"total {sum(jobs[q] for q in both)} vs "
              f"{sum(c['jobs'][q] for q in both)}, {len(rose)} rose:")
        for q in both:
            flag = "  ROSE" if q in rose else ""
            print(f"  {q:32s} {jobs[q]:6d} {c['jobs'][q]:6d}{flag}")
