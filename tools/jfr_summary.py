#!/usr/bin/env python3
"""Three tallies from a Java Flight Recorder file of one engine run.

Usage: jfr_summary.py <recording.jfr> [top]

Record a run without editing the benchmark, e.g.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/a.jfr,settings=profile" \\
        python3 perfbench/run.py --workload stream_audit_sf0.1 --seed 1 --seconds 30 --trace 0

then summarise it (needs the JDK's `jfr` tool on PATH):

- process starts (jdk.ProcessStart), by program: forks from Java, such
  as Hadoop's `readlink`/`chmod` shell-outs on a local file system;
- monitor waits over the profile threshold (jdk.JavaMonitorEnter), by
  monitor class and the frame that waited: count, total and longest;
- class loaders (jdk.ClassLoaderStatistics), by loader class: the
  distinct loaders seen over the run and the classes they defined.
  Per-session `ExecutorClassLoader`s show here, and Janino's
  `ByteArrayClassLoader`s, one per compile. A loader is told apart by
  its native address, which an unloaded loader's successor can reuse,
  so both counts are lower bounds.

`top` (default 10) caps the rows printed per tally.
"""
import collections
import json
import re
import subprocess
import sys

EVENTS = "jdk.ProcessStart,jdk.JavaMonitorEnter,jdk.ClassLoaderStatistics"


def seconds(iso):
    """An ISO-8601 duration as `jfr print --json` writes it (PT1.5S, PT2M3S)."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", iso or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def name_of(v):
    """The class name inside a JFR class or class-loader value."""
    if v is None:  # JFR writes the bootstrap loader as null
        return "bootstrap"
    if not isinstance(v, dict):
        return str(v)
    if "type" in v:  # a class loader: its class is the loader's type
        return name_of(v["type"]) if v["type"] else v.get("name") or "?"
    return v.get("name") or "?"


def top_frame(ev):
    frames = ((ev.get("stackTrace") or {}).get("frames")) or []
    if not frames:
        return "?"
    m = frames[0].get("method") or {}
    return f"{name_of(m.get('type'))}.{m.get('name', '?')}"


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    top = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", EVENTS, sys.argv[1]],
        check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]

    procs = collections.Counter()
    waits = collections.defaultdict(list)
    loaders = collections.defaultdict(dict)  # loader class -> {address: classes}
    for e in events:
        v = e["values"]
        if e["type"] == "jdk.ProcessStart":
            cmd = (v.get("command") or "?").split()
            procs[cmd[0].rsplit("/", 1)[-1] if cmd else "?"] += 1
        elif e["type"] == "jdk.JavaMonitorEnter":
            waits[(name_of(v.get("monitorClass")), top_frame(v))].append(
                seconds(v.get("duration")))
        elif e["type"] == "jdk.ClassLoaderStatistics":
            seen = loaders[name_of(v.get("classLoader"))]
            n = int(v.get("classCount") or 0) + int(v.get("hiddenClassCount") or 0)
            addr = v.get("classLoaderData")
            seen[addr] = max(seen.get(addr, 0), n)

    print(f"process starts: {sum(procs.values())}")
    for cmd, n in procs.most_common(top):
        print(f"  {n:7d}  {cmd}")

    print(f"monitor waits: {sum(len(d) for d in waits.values())}")
    rows = sorted(waits.items(), key=lambda kv: -sum(kv[1]))[:top]
    for (mon, frame), ds in rows:
        print(f"  {len(ds):5d} waits  {sum(ds):8.2f} s total  {max(ds):7.2f} s max  {mon} @ {frame}")

    print(f"class loaders: {sum(len(d) for d in loaders.values())}")
    for kind, seen in sorted(loaders.items(), key=lambda kv: -len(kv[1]))[:top]:
        print(f"  {len(seen):5d} loaders  {sum(seen.values()):7d} classes  {kind}")


if __name__ == "__main__":
    main()
