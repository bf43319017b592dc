#!/usr/bin/env python3
"""Benchmark runner for pg_lakespark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the JVM runner from source with sbt (offline; the
first run in a checkout builds, later runs reuse the build while the
sources are unchanged), runs the workload in one JVM at local[nproc]
over the fixture in perfbench/fixtures (the seed orders the queries
and drives the lake loop), checks every output (analytics results
against their DuckDB oracle SQL, the lake loop against its own model)
and prints one JSON line last:
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Workload definitions live in
perfbench/workloads.json. Everything is written under perfbench/.build
and perfbench/.work; the run's spans are left in
perfbench/.work/spans-<workload>.jsonl. The runner JVM is stopped
--seconds + 150 s after it starts (set-up, warm-up, the oracle check
and the final checks take about 40 s of that).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
FIXTURES = os.path.join(BENCH, "fixtures")
WORK = os.path.join(BENCH, ".work")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: library and runner sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build used the same sources;
    returns the runner's classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("library sources not found next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt ...")
    t0 = time.time()
    for attempt in (1, 2):  # a second try outlives a transient sbt failure
        with open(os.path.join(BUILD, "sbt.log"), "w") as out:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.supershell=false",
                 "export perfbench/Runtime/fullClasspathAsJars"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=420)
        with open(os.path.join(BUILD, "sbt.log")) as f:
            # the classpath is the last line that is a list of jar paths
            cps = [ln.strip() for ln in f if ln.startswith("/")
                   and "perfbench_" in ln and ln.strip().endswith(".jar")]
        if p.returncode == 0 and cps:
            break
        log(f"sbt build attempt {attempt} failed, see {BUILD}/sbt.log")
    else:
        raise BenchError(f"sbt build failed, see {BUILD}/sbt.log")
    cp = cps[-1]
    if os.path.exists(os.path.join(BUILD, "classes.jsa")):
        os.remove(os.path.join(BUILD, "classes.jsa"))  # archived old jars
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def fixture(sf):
    """Fixture directory of scale `sf`, after checking every file
    against fixtures/SHA256SUMS."""
    d = os.path.join(FIXTURES, f"sf{sf}")
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as f:
        sums = dict(ln.split()[::-1] for ln in f if ln.strip())
    for t in TABLES:
        name = f"sf{sf}/{t}.parquet"
        try:
            with open(os.path.join(FIXTURES, name), "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
        except OSError:
            digest = None
        if name not in sums or digest != sums[name]:
            raise BenchError(f"fixture {name} is missing or altered")
    return d


def norm(v):
    """Value as compared: floats by repr, lists element-wise."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(str(norm(x)) for x in v) + "]"
    return str(v)


def table_rows(rel):
    """A DuckDB relation as (sorted column names, rows with values in
    that column order, normalized)."""
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, [tuple(norm(r[j]) for j in idx) for r in rel.fetchall()]


def oracle_answers(data_dir, oracle, cores):
    """Runs each oracle query on DuckDB over the fixture."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={cores}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    answers = {}
    for name, sql in oracle.items():
        try:
            answers[name] = table_rows(con.sql(sql))
        except Exception as e:  # an oracle that fails checks nothing
            log(f"{name}: oracle error: {e}")
    return answers


def mismatches(outputs, answers):
    """Names of the queries whose output differs from the oracle: other
    column names, row count or values (rows compared in order)."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for name, out in outputs.items():
        try:
            same = table_rows(con.sql(f"SELECT * FROM '{out}/*.parquet'")) \
                == answers[name]
        except Exception as e:  # unreadable output or no oracle answer
            log(f"{name}: cannot check output: {e!r}")
            same = False
        if not same:
            log(f"{name}: output differs from the DuckDB oracle")
            bad.append(name)
    return bad


def wait_for(path, proc):
    """Waits until `path` exists; False if `proc` exits first."""
    while not os.path.exists(path):
        if proc.poll() is not None:
            return False
        time.sleep(0.05)
    return True


def run_workload(w, name, seed, seconds, trace, cp):
    """Runs workload definition `w` in a fresh JVM; returns (result
    dict, queries whose output the oracle check rejected)."""
    cores = len(os.sched_getaffinity(0))
    data_dir = fixture(w["sf"])
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        conf = {"workload": w, "seed": seed, "seconds": seconds,
                "trace": bool(trace), "data_dir": data_dir, "work_dir": work,
                "cores": cores}
        with open(os.path.join(work, "conf.json"), "w") as f:
            json.dump(conf, f)
        # class-data sharing: the first run in a build archives the
        # classes it loaded, later runs map them instead of loading them
        jsa = os.path.join(BUILD, "classes.jsa")
        cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}")
        cmd = (["java", f"-Xms{w['heap']}", f"-Xmx{w['heap']}", cds,
                f"-Djava.io.tmpdir={work}/tmp"]
               + [a for p in JDK_OPENS
                  for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", f"{work}/conf.json",
                  f"{work}/result.json"])
        t0 = time.time()
        answers = None
        with open(os.path.join(work, "jvm.log"), "w") as out:
            p = subprocess.Popen(cmd, cwd=work, stdout=out,
                                 stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                # analytics: answer the oracle queries while the runner
                # makes its untimed output pass, then let it start timing
                if w["kind"] == "analytics" and wait_for(f"{work}/oracle.json", p):
                    t1 = time.time()
                    with open(f"{work}/oracle.json") as f:
                        answers = oracle_answers(data_dir, json.load(f), cores)
                    log(f"oracle answers in {time.time() - t1:.1f} s")
                    open(f"{work}/oracle.done", "w").close()
                p.wait(timeout=max(1.0, seconds + 150 - (time.time() - t0)))
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        jvm_s = time.time() - t0
        if p.returncode != 0 or not os.path.exists(f"{work}/result.json"):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            if jvm_s >= seconds + 150:
                raise BenchError(f"runner stopped after {jvm_s:.0f} s, the "
                                 f"limit for --seconds {seconds:g}")
            raise BenchError(f"runner exited with {p.returncode}")
        with open(f"{work}/result.json") as f:
            res = json.load(f)
        res["notes"].append(f"runner JVM {jvm_s:.1f} s")
        bad = mismatches(res["outputs"], answers) if answers is not None else []
        if os.path.exists(f"{work}/spans.jsonl"):
            shutil.copy(f"{work}/spans.jsonl",
                        os.path.join(WORK, f"spans-{name}.jsonl"))
        return res, bad
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pick_metrics(bench, w, res, trace):
    """The BENCHMARK.json metrics of one kind (end-to-end, or per-layer
    when tracing) from a runner result. A per-layer metric of a layer
    the workload never calls reads 0; any other missing metric is an
    error."""
    skip = tuple(w.get("not_measured", []))
    got = res["layer"] if trace else res["e2e"]
    metrics = {}
    for m in bench["per_layer" if trace else "end_to_end"]:
        if m["name"] in got:
            metrics[m["name"]] = got[m["name"]]
        elif trace and m["name"].startswith(skip):
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            raise BenchError(f"metric {m['name']} was not measured")
    return metrics


def load_defs():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        defs = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return defs, json.load(f)


def main(argv=None):
    # on SIGTERM unwind normally, so the runner JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0],
                                 epilog="The runner JVM is stopped --seconds "
                                 "+ 150 s after it starts.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        defs, bench = load_defs()
        w = defs["workloads"].get(a.workload)
        if w is None:
            raise BenchError(f"unknown workload {a.workload}")
        cp = build()
        res, bad = run_workload(w, a.workload, a.seed, a.seconds, a.trace, cp)
        for n in res["notes"]:
            log(n)
        metrics = pick_metrics(bench, w, res, a.trace)
    except (BenchError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        log(f"error: {e}")
        return 2
    failed = res["failed"] + len(bad)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
