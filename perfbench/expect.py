#!/usr/bin/env python3
"""Re-derive the stored expectations in `expected/<sf>.json`.

    python3 perfbench/expect.py        # from the root of a checkout

For every scale factor the workloads use, this dumps the workloads'
entries with `graft.Verify`, replays the DuckDB oracle over the dump with
`tools/check.py`, and refuses to write anything unless every oracled entry
passes. It then reads the dump back with the harness and stores each
entry's row count and order-independent digest; entries without an oracle
keep their row count only. Run it only when a catalog entry's output is
meant to change, and review the diff.
"""
import json
import os
import shutil
import subprocess
import sys

import build
import run


def main():
    classpath, _ = build.build()
    workloads = run.load("workloads.json")
    work = os.path.join(build.BUILD, "expect")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "expect.log")
    for sf in sorted({w["sf"] for w in workloads.values()}):
        names = sorted({e for w in workloads.values() if w["sf"] == sf for e in w["entries"]})
        data = os.path.join(run.BENCH, "data", sf)
        scratch = os.path.join(work, sf)
        dump = os.path.join(scratch, "dump")
        run.jvm(["graft.Verify", data, dump, ",".join(names)],
                scratch, classpath, log, 1800)
        check = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                                data, dump], capture_output=True, text=True)
        print(check.stdout, end="")
        oracled = set(json.load(open(os.path.join(dump, "oracle_sql.json"))))
        if check.returncode != 0:
            sys.exit(f"perfbench: oracle check failed at {sf}; expectations unchanged")
        entries = os.path.join(scratch, "entries.txt")
        with open(entries, "w") as f:
            f.write("\n".join(names) + "\n")
        out = os.path.join(scratch, "expected.json")
        run.jvm(run.harness("expect", dump=dump, entries=entries, out=out, cores=run.nproc()),
                scratch, classpath, log, 1800)
        got = json.load(open(out))
        for name, e in got.items():
            if name not in oracled:
                e["digest"] = None
        target = os.path.join(run.BENCH, "expected", sf + ".json")
        with open(target, "w") as f:
            json.dump(dict(sorted(got.items())), f, indent=1)
            f.write("\n")
        print(f"perfbench: wrote {len(got)} expectations to {os.path.relpath(target, build.ROOT)}")


if __name__ == "__main__":
    main()
