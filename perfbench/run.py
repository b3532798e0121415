#!/usr/bin/env python3
"""Catalog benchmark: one run of one workload, in a fresh JVM.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The program and the harness are compiled
into `.bench_build/` on first use (see build.py). Each run starts a fresh
JVM at local[N], N = nproc, with one client thread that submits the
workload's frozen entries one at a time. It makes WARMUP_PASSES untimed
passes over the entries to warm the JVM, which count as set-up, then timed
passes until the timed window reaches --seconds, at least MIN_PASSES.
Every pass runs the entries in its own order drawn from --seed,
materialises every output column, and checks each result against
`expected/<sf>.json`. An entry's figures are its medians over the timed
passes, and the workload's are their sums. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, from a run that also records spans. The full record of every run goes
to `.bench_build/records/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build

BENCH = build.BENCH
ROOT = build.ROOT
RECORDS = os.path.join(build.BUILD, "records")
JVM_TIMEOUT_S = 170
HEAP = "3g"
WARMUP_PASSES = 2
MIN_PASSES = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

MB = 1048576.0


def load(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


def nproc():
    return len(os.sched_getaffinity(0))


def harness(mode, **opts):
    """Arguments of one harness JVM: the mode, then `--key value` pairs."""
    out = ["perfbench.Harness", mode]
    for k, v in opts.items():
        out += ["--" + k.replace("_", "-"), str(v)]
    return out


def jvm(args, scratch, classpath, log, timeout):
    """Runs one JVM (`args` = main class and its arguments) with its temp,
    local and warehouse dirs inside `scratch`; exits if it fails."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(scratch, 'local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath] + args
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["TZ"] = "UTC"
    with open(log, "ab") as out:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: {args[:2]} exceeded {timeout:.0f} s; log in {log}")
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: {args[:2]} exited with {code}; log in {log}")


def memo_key(data, digest):
    """What `Tables.scratchRelation` keys a memo on (the data dir's path and
    each input file's length and mtime), plus the program version."""
    files = [f"{f} {st.st_size} {st.st_mtime_ns // 1000000}"
             for f in sorted(os.listdir(data))
             for st in [os.stat(os.path.join(data, f))]]
    return "\n".join([digest, os.path.abspath(data)] + files)


def prepare_memos(w, data, scratch, classpath, digest, log):
    """Builds the workload's scratch memos once per program version and
    data checkout, in an untimed JVM, so the timed run only reads them."""
    stamp = os.path.join(scratch, "prepared.stamp")
    key = memo_key(data, digest)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    entries = os.path.join(scratch, "prepare.txt")
    with open(entries, "w") as f:
        f.write("\n".join(w["entries"]) + "\n")
    jvm(harness("prepare", data=data, entries=entries, cores=nproc()),
        scratch, classpath, log, JVM_TIMEOUT_S)
    with open(stamp, "w") as f:
        f.write(key)


def cpu_times():
    """Aggregate (total, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, IndexError, ValueError):
        return None


def data_files(data):
    return {f: os.path.getsize(os.path.join(data, f))
            for f in sorted(os.listdir(data))}


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def entry_medians(timed, ok, key):
    """Each entry that succeeded in every pass -> the median of its `key`
    over the timed passes."""
    return {n: statistics.median(e[key] for p in timed for e in p["entries"]
                                 if e["name"] == n)
            for n in ok}


def end_to_end(rec, timed, cpu):
    return {
        "setup_s": (rec["setup_s"], "s"),
        "query_cpu_s": (sum(cpu.values()), "s"),
        "peak_live_heap_mb": (statistics.median(p["peak_live_heap_mb"] for p in timed), "MB"),
    }


def self_times(spans):
    """Self time per span name: its duration minus its children's."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        key = s["name"].split(":")[0]
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[key] = out.get(key, 0) + own / 1e9
    return out


def per_layer(rec, cores, medians):
    """The per-layer figures of each timed pass, then their medians."""
    spans = rec["spans"]
    passes = {s["id"] for s in spans if s["name"].startswith("pass:")}
    entry_pass = {s["id"]: s["parent"] for s in spans if s["parent"] in passes}
    rows = []
    for pid in sorted(passes):
        ents = [s for s in spans if entry_pass.get(s["id"]) == pid]
        phases = [s for s in spans if s["parent"] in {e["id"] for e in ents}]
        tot = lambda k: sum(e["counts"][k] for e in ents)
        dur = lambda n: sum(s["end_ns"] - s["start_ns"] for s in phases
                            if s["name"] == n) / 1e9
        execute_s = dur("execute")
        task_run_s = tot("task_run_ms") / 1e3
        rows.append({
            "scan_input_mb": (tot("input_bytes") / MB, "MB"),
            "memo_builds": (tot("memo_builds"), "count"),
            "build_s": (dur("build"), "s"),
            "build_jobs": (tot("build_jobs"), "count"),
            "analysis_s": (tot("analysis_s"), "s"),
            "optimize_s": (tot("optimize_s"), "s"),
            "planning_s": (tot("planning_s"), "s"),
            "codegen_compiles": (tot("codegen_compiles"), "count"),
            "codegen_fallbacks": (tot("codegen_fallbacks"), "count"),
            "jobs": (tot("jobs"), "count"),
            "stages": (tot("stages"), "count"),
            "tasks": (tot("tasks"), "count"),
            "execute_s": (execute_s, "s"),
            "task_run_s": (task_run_s, "s"),
            "task_cpu_s": (tot("task_cpu_ns") / 1e9, "s"),
            "gc_s": (tot("gc_ms") / 1e3, "s"),
            "core_busy_frac": (task_run_s / (cores * execute_s) if execute_s else 0.0, "frac"),
            "shuffle_write_mb": (tot("shuffle_write_bytes") / MB, "MB"),
            "shuffle_read_mb": (tot("shuffle_read_bytes") / MB, "MB"),
            "spill_mb": (tot("spill_bytes") / MB, "MB"),
            "written_mb": (tot("output_bytes") / MB, "MB"),
        })
    out = {"tables_load_ms": (statistics.median(rec["tables_load_ms"]), "ms")}
    for k, (_, unit) in rows[0].items():
        out[k] = (statistics.median(r[k][0] for r in rows), unit)
    out["traced_wall_s"] = (sum(medians.values()), "s")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = load("workloads.json")
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}; "
                 f"have {', '.join(workloads)}")
    w = workloads[a.workload]
    classpath, digest = build.build()
    t_start = time.monotonic()  # the time limit excludes a first build
    cores = nproc()
    data = os.path.join(BENCH, "data", w["sf"])
    scratch = os.path.join(build.BUILD, "scratch", a.workload)
    os.makedirs(RECORDS, exist_ok=True)
    stem = os.path.join(RECORDS, f"{a.workload}_seed{a.seed}_trace{a.trace}_{time.time_ns()}")
    log = stem + ".log"

    if w["scratch"] == "prepared":
        prepare_memos(w, data, scratch, classpath, digest, log)
    else:  # "empty": start every run from an empty scratch directory
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)

    entries = os.path.join(scratch, "entries.txt")
    with open(entries, "w") as f:
        f.write("\n".join(w["entries"]) + "\n")
    out = stem + ".jvm.json"
    cpu0 = cpu_times()
    remaining = JVM_TIMEOUT_S - (time.monotonic() - t_start)
    jvm(harness("run", data=data, entries=entries, cores=cores,
                trace=a.trace, out=out, seed=a.seed, seconds=a.seconds,
                min_passes=MIN_PASSES, scratch=w["scratch"],
                warmup_passes=WARMUP_PASSES, codegen=w["codegen"],
                expected=os.path.join(BENCH, "expected", w["sf"] + ".json"),
                launch_ms=time.time_ns() // 1000000),
        scratch, classpath, log, max(remaining, 30))
    cpu1 = cpu_times()
    with open(out) as f:
        rec = json.load(f)
    os.remove(out)

    names = w["entries"]
    timed = [p for p in rec["passes"] if p["pass"] > 0]
    errors = {}  # entry -> its first error, in any pass
    for p in rec["passes"]:
        for e in p["entries"]:
            if not e["ok"]:
                errors.setdefault(e["name"], f"pass {p['pass']}: {e['error']}")
    ok = [n for n in names if n not in errors]
    medians = entry_medians(timed, ok, "secs")
    cpu = entry_medians(timed, ok, "cpu_s")
    problems = [f"{n}: {err}" for n, err in errors.items()]
    if w["scratch"] == "prepared" and rec["memo_builds"]:
        problems.append(f"{rec['memo_builds']} memo builds on a prepared "
                        "scratch dir: unstable or stale memo key")
    if w["scratch"] == "empty" and not all(
            p["totals"]["memo_builds"] and p["totals"]["output_bytes"] for p in timed):
        problems.append("a pass built no memo or wrote nothing on an "
                        "empty scratch dir")
    if not medians:
        problems.append("no entry succeeded")
        medians = cpu = {"none": 0.0}
    metrics = (end_to_end(rec, timed, cpu) if a.trace == 0
               else per_layer(rec, cores, medians))
    rec.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "commit": commit(),
        "source_sha256": digest, "nproc": cores, "python": sys.version.split()[0],
        "data_dir": os.path.relpath(data, ROOT), "data_files": data_files(data),
        "entry_secs": medians,
        "entry_cpu_s": cpu,
        # unbounded: on a shared host these follow the host's load (README.md)
        "wall_s": sum(medians.values()),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        # per-entry statistics, unbounded: with one to eight entries a run
        # there are too few for a tail percentile (see README.md)
        "entry_p50_s": statistics.median(medians.values()),
        "entry_max_s": max(medians.values()),
        "written_mb": statistics.median(p["totals"]["output_bytes"] for p in timed) / MB,
        "failed_frac": len(errors) / len(names),
        "problems": problems,
        "run_s": time.monotonic() - t_start,
        # share of the machine's CPU time taken by other guests of the host
        "cpu_steal_frac": ((cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
                           if cpu0 and cpu1 else None),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
    if a.trace == 1:
        rec["self_s"] = self_times(rec["spans"])
    with open(stem + ".json", "w") as f:
        json.dump(rec, f)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": len(names),
        "failed": len(errors),
        "metrics": rec["metrics"],
    }))


if __name__ == "__main__":
    main()
