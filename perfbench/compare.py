#!/usr/bin/env python3
"""Compare two sets of run records (base, then change).

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are each a records directory (such as a copy of
`.bench_build/records`) or a glob of record files. For every workload and
end-to-end metric this prints each side's median and quartiles, the pairs
the change won (runs paired by seed), and a verdict under BENCHMARK.json's
bounds. It prints the same for the unbounded `wall_s` and `cpu_s` of the
records, the tracing overhead of each side, and, from the traced records, a
per-entry diff of the per-layer counters and phase times that moved.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")

# per-entry counters compared exactly, and times compared by median
COUNTS = ["jobs", "stages", "tasks", "build_jobs", "codegen_compiles",
          "codegen_fallbacks", "memo_builds", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes"]
TIME_MOVE = 0.25  # a per-entry phase time "moved" if its median shifts this much
# Same-seed runs repeat counts up to one codegen compile (two tasks can race
# to compile the same class) and a few percent of shuffle bytes.
COUNT_JITTER = 1
COUNT_MOVE = 0.02
# Record figures shown beside the bounded ones. Wall and process CPU time
# follow the shared host's load too closely to be bounded (README.md).
UNBOUNDED = [{"name": "wall_s", "unit": "s", "better": "lower", "bound": None},
             {"name": "cpu_s", "unit": "s", "better": "lower", "bound": None}]


def records(spec):
    files = (glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec)
             else glob.glob(spec))
    out = []
    for f in sorted(files):
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            out.append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base, change, bound, lower_better):
    """Worse by more than the bound is a regression; a gain needs nine
    tenths of the pairs and a shift wider than the base's own spread. A
    metric without a bound is never a regression."""
    bq1, bmed, bq3 = quartiles([v for _, v in base])
    cmed = statistics.median([v for _, v in change])
    sign = 1 if lower_better else -1
    worse = sign * (cmed - bmed) / bmed
    pairs = list(zip(sorted(base), sorted(change)))
    won = sum(1 for (_, b), (_, c) in pairs if sign * (c - b) < 0)
    if bound is not None and worse > bound:
        return won, len(pairs), "REGRESSION"
    if bound is None and worse > 0 and (bq3 - bq1) < worse * bmed:
        return won, len(pairs), "worse"
    if bound is not None and (bq3 - bq1) / bmed > bound:
        every = all(sign * (c - b) < 0 for _, b in base for _, c in change)
        return won, len(pairs), "better (every run)" if every else "unresolved"
    if pairs and won >= 0.9 * len(pairs) and -worse * bmed > bq3 - bq1:
        return won, len(pairs), "gain"
    return won, len(pairs), "no change"


def entry_layers(recs):
    """entry -> metric -> values across traced records."""
    out = {}
    for r in recs:
        spans = r.get("spans", [])
        kids = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in spans:
            if not s["name"].startswith("entry:"):
                continue
            m = out.setdefault(s["entry"], {})
            for k in COUNTS:
                m.setdefault(k, []).append(s.get("counts", {}).get(k, 0))
            for c in kids.get(s["id"], []):
                m.setdefault(c["name"] + "_s", []).append((c["end_ns"] - c["start_ns"]) / 1e9)
    return out


def main():
    args = sys.argv[1:]
    if len(args) != 2:
        sys.exit(__doc__)
    with open(SPEC) as f:
        spec = json.load(f)
    base, change = records(args[0]), records(args[1])
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in change})
    if not workloads:
        sys.exit("no workload has records on both sides")
    for w in workloads:
        b = [r for r in base if r["workload"] == w]
        c = [r for r in change if r["workload"] == w]
        bu = [r for r in b if r["trace"] == 0]
        cu = [r for r in c if r["trace"] == 0]
        print(f"== {w}: {len(bu)} base runs, {len(cu)} change runs (untraced)")
        print(f"{'metric':20s} {'base q1/med/q3':>28s} {'change q1/med/q3':>28s} {'won':>7s}  verdict")
        value = lambda r, name: (r["metrics"][name]["value"] if name in r["metrics"]
                                 else r.get(name))
        for m in spec["end_to_end"] + UNBOUNDED:
            name = m["name"]
            bv = [(r["seed"], value(r, name)) for r in bu if value(r, name) is not None]
            cv = [(r["seed"], value(r, name)) for r in cu if value(r, name) is not None]
            if not bv or not cv:
                continue
            won, n, v = verdict(bv, cv, m["bound"], m["better"] == "lower")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            bound = f"bound {m['bound']:.0%}" if m["bound"] is not None else "unbounded"
            print(f"{name:20s} {fmt(quartiles([x for _, x in bv])):>28s} "
                  f"{fmt(quartiles([x for _, x in cv])):>28s} {won:>3d}/{n:<3d}  {v}"
                  f"  ({bound}, {m['unit']})")
        for side, runs, traced in (("base", bu, b), ("change", cu, c)):
            t = [r["metrics"]["traced_wall_s"]["value"] for r in traced if r["trace"] == 1]
            u = [r["wall_s"] for r in runs]
            if t and u:
                print(f"tracing overhead ({side}): {statistics.median(t) - statistics.median(u):+.3f} s "
                      f"on wall_s {statistics.median(u):.3f} s")
        fails = [(r["seed"], p) for r in b + c for p in r.get("problems", [])]
        for seed, p in fails:
            print(f"problem (seed {seed}): {p}")
        # The seed fixes each pass's order, and the order decides what an
        # earlier entry of the pass already compiled, so per-entry counts
        # repeat exactly only between traced runs of the same seed: prefer those.
        bt = [r for r in b if r["trace"] == 1]
        ct = [r for r in c if r["trace"] == 1]
        same = {r["seed"] for r in bt} & {r["seed"] for r in ct}
        if same:
            bt = [r for r in bt if r["seed"] in same]
            ct = [r for r in ct if r["seed"] in same]
        bl, cl = entry_layers(bt), entry_layers(ct)
        rows = []
        for e in sorted(set(bl) | set(cl)):
            for k in sorted(set(bl.get(e, {})) | set(cl.get(e, {}))):
                x, y = bl.get(e, {}).get(k), cl.get(e, {}).get(k)
                if x is None or y is None:
                    rows.append((e, k, x and statistics.median(x), y and statistics.median(y)))
                    continue
                mx, my = statistics.median(x), statistics.median(y)
                moved = (abs(my - mx) > max(COUNT_JITTER, COUNT_MOVE * mx) if k in COUNTS
                         else abs(my - mx) > TIME_MOVE * max(mx, 1e-3) and abs(my - mx) > 0.01)
                if moved:
                    rows.append((e, k, mx, my))
        if rows:
            seeds = sorted({r["seed"] for r in bt + ct})
            print(f"-- {w}: per-entry layer diff (traced runs, seeds {seeds}, medians)")
            for e, k, x, y in rows:
                print(f"   {e:34s} {k:22s} {str(x):>14s} -> {str(y):<14s}")
        print()


if __name__ == "__main__":
    main()
