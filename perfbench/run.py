#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine: full results, one client.

    python3 perfbench/run.py --workload verify_sf0.01 --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (offline) and caches the classpath;
later runs reuse it while the sources are unchanged. Each run starts a
fresh JVM (`perfbench/harness`), sets the engine up several times,
issues the workload's rows back to back in one pass (a fixed set of
rows sized to the benchmark's 30 s; `--seconds` is recorded), then
checks every result outside the timed region. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Everything else goes to stderr and to
`perfbench/.out/<workload>-seed<n>-trace<t>.json`. See NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
STAMP = os.path.join(HARNESS, "target", "perfbench-build.json")

# JVM module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs)
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "4g"
# whole-run limit for the JVM, build excluded
JVM_TIMEOUT_S = 160


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def source_files():
    """Every file whose change needs a rebuild."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*.scala",
            "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
            "perfbench/harness/src/**/*.scala"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)})
    return files


def build():
    """Compile engine + harness once per source state; return the classpath."""
    files = source_files()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        fail("no engine sources here; run from the root of a full checkout")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            st = json.load(fh)
        if st.get("digest") == digest:
            return st["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("perfbench: building engine + harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        log("\n".join(out[-40:]))
        fail(f"build failed (sbt exit {p.returncode})")
    classpath = out[-1].strip()
    if not all(os.path.exists(p) for p in classpath.split(os.pathsep)):
        log("\n".join(out[-40:]))
        fail("sbt did not print the harness classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath, "build_s": time.time() - t0}, fh)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return classpath


def cpu_probe():
    """Fixed CPU work (SHA-256 over 64 MiB), best of three, in seconds."""
    buf = bytes(range(256)) * 4096
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(buf)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def environment():
    mem = None
    try:
        with open("/proc/meminfo") as fh:
            mem = next(int(l.split()[1]) // 1024 for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        pass
    return {"nproc": os.cpu_count(), "mem_total_mb": mem, "loadavg": list(os.getloadavg()),
            "cpu_probe_s": cpu_probe()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def run_jvm(classpath, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "graft.perfbench.Harness", "--work", work] + args
    p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        fail(f"harness JVM exited {rc}")


def oracle_check(outdir, sfdir, names):
    """tools/check.py against DuckDB; returns the set of failing rows."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), outdir, sfdir]
                       + sorted(names), stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=300)
    lines = p.stdout.splitlines()
    ok = {l.split()[1] for l in lines if l.startswith("ok ")}
    for l in lines:
        if l.startswith("FAIL"):
            log("perfbench: check.py " + l)
    if p.returncode < 0 or (p.returncode and not any(l.startswith("FAIL") for l in lines)):
        log(p.stderr[-2000:])
    return set(names) - ok


def metrics(res, failed, attempted, trace):
    samples = res["samples"]
    pass_s = res["pass_s"]
    lat = [s["wall_s"] for s in samples]
    if not trace:
        return {
            "setup_s": (median([s["seconds"] for s in res["setups"]]), "s"),
            "pass_s": (pass_s, "s"),
            "row_p50_s": (median(lat), "s"),
        }
    spans = {s["id"]: s for s in res["spans"]}
    counts = res["span_counts"]

    def layer(kind):
        """Span seconds and listener counts of one layer, summed."""
        ids = [i for i, s in spans.items() if s["kind"] == kind]
        tot = {}
        for i in ids:
            for k, v in counts.get(i, {}).items():
                tot[k] = tot.get(k, 0) + v
        return sum(spans[i]["seconds"] for i in ids), tot

    build_s, build_c = layer("build")
    plan_s, _ = layer("plan")
    exec_s, exec_c = layer("exec")
    write_s, write_c = layer("write")
    act = {k: exec_c.get(k, 0) + write_c.get(k, 0) for k in set(exec_c) | set(write_c)}
    act_wall = exec_s + write_s
    cpus = res["cpus"]
    phases = {}
    for s in samples:
        for k, v in (s.get("phases_s") or {}).items():
            phases[k] = phases.get(k, 0.0) + v
    total = lambda key: sum(s.get(key, 0) for s in samples)
    streams = res.get("stream_counts", {})
    sq = sum(c["queries"] for c in streams.values())
    sb = sum(c["batches"] for c in streams.values())
    starts = [x for c in streams.values() for x in c["start_ms"]]
    fam = [s for s in samples if s.get("family_s")]
    fam_sum = [sum(s["family_s"].values()) for s in fam]
    par = [s["wall_s"] for s in samples if s["name"] == "stream_state_api_parity"]
    attributed = build_s + plan_s + exec_s + write_s
    # Verify-style writes plan inside the write call; their Catalyst
    # phases are read from the write's own QueryExecution
    write_plan = sum(phases.values()) if write_s else 0.0
    last_setup = res["setups"][-1]
    unattributed_jobs = counts.get("unattributed", {}).get("jobs", 0)
    m = {
        "setup.session_s": (median([s["session_s"] for s in res["setups"]]), "s"),
        "setup.views_s": (median([s["views_s"] for s in res["setups"]]), "s"),
        "setup.cold_s": (res["setups"][0]["seconds"], "s"),
        "views.built": (last_setup["views_built"], "count"),
        "views.mb_written": (last_setup["views_bytes"] / 1048576.0, "MB"),
        "build.s": (build_s, "s"),
        "build.jobs": (build_c.get("jobs", 0), "count"),
        "build.share": (build_s / pass_s if pass_s else 0.0, "ratio"),
        "tables.resolve_ms": (median(res["tables_resolve_ms"]), "ms"),
        "tables.scans": (build_c.get("table_reads", 0), "count"),
        "plan.s": (plan_s + write_plan, "s"),
        "plan.analysis_s": (phases.get("analysis", 0.0), "s"),
        "plan.optimization_s": (phases.get("optimization", 0.0), "s"),
        "plan.planning_s": (phases.get("planning", 0.0), "s"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (act.get("jobs", 0), "count"),
        "exec.stages": (act.get("stages", 0), "count"),
        "exec.tasks": (act.get("tasks", 0), "count"),
        "exec.tasks_per_job": (act.get("tasks", 0) / act["jobs"] if act.get("jobs") else 0.0, "ratio"),
        "exec.run_s": (act.get("run_ms", 0) / 1000.0, "s"),
        "exec.cpu_s": (act.get("cpu_ns", 0) / 1e9, "s"),
        "exec.slot_util": (act.get("run_ms", 0) / 1000.0 / (act_wall * cpus) if act_wall else 0.0, "ratio"),
        "exec.gc_s": (act.get("gc_ms", 0) / 1000.0, "s"),
        "exec.shuffle_write_mb": (act.get("shuffle_write", 0) / 1048576.0, "MB"),
        "exec.shuffle_read_mb": (act.get("shuffle_read", 0) / 1048576.0, "MB"),
        "exec.spill_mb": (act.get("spill", 0) / 1048576.0, "MB"),
        "exec.broadcast_mb": (total("broadcast_bytes") / 1048576.0, "MB"),
        "exec.codegen_compile_s": (total("codegen_s"), "s"),
        "exec.result_rows": (total("result_rows"), "count"),
        "write.s": (max(0.0, write_s - write_plan), "s"),
        "write.files": (total("write_files"), "count"),
        "write.mb": (total("write_bytes") / 1048576.0, "MB"),
        "stream.family_s_sum": (median(fam_sum), "s"),
        "stream.family_s_max": (median([max(s["family_s"].values()) for s in fam]), "s"),
        "stream.overlap": (median([f / s["wall_s"] for f, s in zip(fam_sum, fam)]), "ratio"),
        "stream.queries": (sq, "count"),
        "stream.batches": (sb, "count"),
        "stream.start_ms_p50": (median(starts), "ms"),
        "stream.parity_p50_s": (median(par), "s"),
        "jvm.gc_s": (res["gc_s"], "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "row.p95_s": (pct(lat, 0.95), "s"),
        "row.samples": (len(lat), "count"),
        "check.fail_frac": (failed / attempted, "ratio"),
        "trace.unattributed_s": (pass_s - attributed, "s"),
        "trace.unattributed_share": ((pass_s - attributed) / pass_s if pass_s else 0.0, "ratio"),
        "trace.unattributed_jobs": (unattributed_jobs, "count"),
    }
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    launch = time.time()

    with open(os.path.join(BENCH, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    wl = workloads[a.workload]
    sfdir = os.path.join(BENCH, "data", wl["sf"])
    env0 = environment()
    classpath = build()

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(launch)}"
    work = os.path.join(BENCH, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    try:
        # the seed permutes the row order
        jvm_launch = time.time()
        run_jvm(classpath, work, [
            "--sf-dir", sfdir, "--rows", ",".join(wl["rows"]), "--views", ",".join(wl["views"]),
            "--action", wl["action"], "--trace", str(a.trace),
            "--seed", str(a.seed), "--run-id", run_id, "--launch-ms", str(int(jvm_launch * 1000)),
            "--out", result_file])
        with open(result_file) as fh:
            res = json.load(fh)

        # -- result checks, all outside the timed region --
        samples = res["samples"]
        why = [[] for _ in samples]
        if wl["check"] == "hash":
            with open(os.path.join(BENCH, "refs", wl["refs"])) as fh:
                refs = json.load(fh)
        else:
            # the written results, against DuckDB
            wrong = oracle_check(os.path.join(work, "out"), sfdir, wl["rows"])
        for s, w in zip(samples, why):
            if s.get("error"):
                w.append("error: " + s["error"][:200])
                continue
            pc = s.get("plan_check")
            if not pc or not (pc["sort_kept"] and pc["columns_kept"]):
                w.append(f"full-result rule broken or unchecked: {pc}")
            if wl["check"] == "hash" and refs.get(s["name"]) != s.get("hash"):
                w.append(f"result hash {s.get('hash')} != reference {refs.get(s['name'])}")
            if wl["check"] == "oracle" and s["name"] in wrong:
                w.append("tools/check.py mismatch against DuckDB")
        attempted = len(samples)
        failed = sum(1 for w in why if w)
        for s, w in zip(samples, why):
            if w:
                log(f"perfbench: FAILED {s['name']}: {'; '.join(w)}")

        m = metrics(res, failed, attempted, a.trace == 1)
        env1 = {"loadavg_end": list(os.getloadavg())}
        record = {"run_id": run_id, "workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "seconds": a.seconds, "environment": {**env0, **env1}, "pass_s": res["pass_s"],
                  "setups": res["setups"],
                  "metrics": {k: v for k, (v, _) in m.items()}, "samples": res["samples"],
                  "spans": res.get("spans"), "span_counts": res.get("span_counts")}
        os.makedirs(os.path.join(BENCH, ".out"), exist_ok=True)
        with open(os.path.join(BENCH, ".out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
            json.dump(record, fh)
        log("perfbench: environment " + json.dumps(record["environment"]))
        log(f"perfbench: pass {res['pass_s']:.2f} s, "
            f"{attempted} rows issued (the row latency samples), {failed} failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }))


if __name__ == "__main__":
    main()
