#!/usr/bin/env python3
"""Spark jobs per SQL-execution call site, from a Spark event log.

Usage (from the repository root):
  python3 tools/job_sites.py EVENTLOG
  python3 tools/job_sites.py EVENTLOG --base BASE_EVENTLOG

EVENTLOG is an event log file, plain or `.zstd` (read through the `zstd`
command), or a directory of them: Spark 4 rolls event logs by default, so
the capture below leaves an `eventlog_v2_*` directory. Capture one from a
benchmark run with
  JAVA_TOOL_OPTIONS='-Dspark.eventLog.enabled=true \
    -Dspark.eventLog.dir=file:///tmp/ev' python3 perfbench/run.py ...

Each job is charged to the call site of the SQL execution that ran it:
the first two frames of the execution's call stack outside
Spark, Scala and the JDK, as `Class.method < Caller.method` (no line
numbers, so the sites of two builds line up). Jobs outside any SQL
execution are charged to `(no SQL execution)`. Per site it prints the
jobs, their wall time (submission to completion) and the driver gap
before them (time since the previous job ended with no job running).
With --base every column shows base -> current.
"""
import argparse
import json
import os
import re
import subprocess
import sys

SKIP = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
NO_SQL = "(no SQL execution)"
DEPTH = 2


def lines(path):
    """Event log lines of a file or of every file in a directory."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.startswith("events_")]
             if os.path.isdir(path) else [path])
    for f in files:
        if f.endswith(".zstd"):
            out = subprocess.run(["zstd", "-dc", f], check=True,
                                 capture_output=True).stdout
            text = out.decode("utf-8")
        else:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
        yield from (ln for ln in text.splitlines() if ln.strip())


def site(details):
    """`Class.method` of the first DEPTH non-Spark frames of a call
    stack, innermost first; a method repeated by recursion or closures
    counts once."""
    out = []
    for frame in details.splitlines():
        frame = frame.strip()
        if not frame or frame.startswith(SKIP):
            continue
        name = frame.split("(", 1)[0]
        cls, _, meth = name.rpartition(".")
        meth = re.sub(r"\$anonfun\$|\$\d+|\$adapted", "", meth).strip("$")
        label = f"{cls.rsplit('.', 1)[-1].rstrip('$')}.{meth or 'apply'}"
        if not out or out[-1] != label:
            out.append(label)
        if len(out) == DEPTH:
            break
    return " < ".join(out) or NO_SQL


def sites(path):
    """{site: [jobs, job_ms, gap_ms]} over the whole log."""
    exec_site, starts, ends = {}, {}, {}
    for ln in lines(path):
        e = json.loads(ln)
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            exec_site[str(e["executionId"])] = site(e.get("details", ""))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            starts[e["Job ID"]] = (e["Submission Time"],
                                   props.get("spark.sql.execution.id"))
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
    table = {}
    busy_until = None
    for job in sorted(starts, key=lambda j: starts[j][0]):
        t0, ex = starts[job]
        t1 = ends.get(job, t0)
        gap = 0 if busy_until is None else max(0, t0 - busy_until)
        busy_until = t1 if busy_until is None else max(busy_until, t1)
        row = table.setdefault(exec_site.get(ex, NO_SQL) if ex else NO_SQL,
                               [0, 0, 0])
        row[0] += 1
        row[1] += t1 - t0
        row[2] += gap
    return table


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--base")
    args = ap.parse_args()
    cur = sites(args.eventlog)
    base = sites(args.base) if args.base else None
    keys = sorted(set(cur) | set(base or {}),
                  key=lambda k: -max(cur.get(k, [0, 0])[1],
                                     (base or {}).get(k, [0, 0])[1]))
    print("| call site | Spark jobs | job ms | driver gap ms |")
    print("|---|---|---|---|")
    zero = [0, 0, 0]
    total_c, total_b = [0, 0, 0], [0, 0, 0]
    for k in keys:
        c = cur.get(k, zero)
        total_c = [a + b for a, b in zip(total_c, c)]
        if base is None:
            print(f"| {k} | {c[0]} | {c[1]} | {c[2]} |")
        else:
            b = base.get(k, zero)
            total_b = [x + y for x, y in zip(total_b, b)]
            print(f"| {k} | " + " | ".join(
                f"{x} -> {y}" for x, y in zip(b, c)) + " |")
    if base is None:
        print(f"| total | {total_c[0]} | {total_c[1]} | {total_c[2]} |")
    else:
        print("| total | " + " | ".join(
            f"{x} -> {y}" for x, y in zip(total_b, total_c)) + " |")


if __name__ == "__main__":
    sys.exit(main())
