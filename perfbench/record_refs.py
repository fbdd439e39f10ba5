#!/usr/bin/env python3
"""Record the reference result hashes of a hash-checked workload.

    python3 perfbench/record_refs.py --workload stream_audit_sf0.1

Runs each of the workload's rows once in a fresh JVM, hashes its
collected result exactly as a benchmark run does, writes the same
result as `graft.Verify` writes it, and checks those files with
`tools/check.py` against DuckDB. Only when every row passes are the
hashes written to `perfbench/refs/<workload>.json`. Run it when the
workload's rows change or an engine change is meant to change results.
"""
import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    a = ap.parse_args()
    with open(os.path.join(run.BENCH, "workloads.json")) as fh:
        wl = json.load(fh)[a.workload]
    if wl["check"] != "hash":
        run.fail(f"{a.workload} is checked by tools/check.py directly; it has no reference hashes")
    sfdir = os.path.join(run.BENCH, "data", wl["sf"])
    classpath = run.build()
    work = os.path.join(run.BENCH, ".work", f"refs-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "hashes.json")
        run.run_jvm(classpath, work, ["--mode", "refs", "--sf-dir", sfdir,
                                      "--rows", ",".join(wl["rows"]), "--out", out])
        with open(out) as fh:
            hashes = json.load(fh)
        wrong = run.oracle_check(os.path.join(work, "out"), sfdir, wl["rows"])
        if wrong:
            run.fail(f"rows failing tools/check.py, no references written: {sorted(wrong)}")
        dest = os.path.join(run.BENCH, "refs", wl["refs"])
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "w") as fh:
            json.dump(dict(sorted(hashes.items())), fh, indent=1)
            fh.write("\n")
        run.log(f"perfbench: {len(hashes)} reference hashes written to {dest}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
