#!/usr/bin/env python3
"""Self-test of the benchmark runner on a tiny configuration.

Runs the "selftest" workloads of perfbench/workloads.json (sf0.001
fixture, three queries, a few lake rounds) once each with tracing on,
and asserts that
  - every output check passes,
  - every end-to-end and per-layer metric of BENCHMARK.json is emitted
    with a unit (per-query metrics: those of the self-test's queries),
  - over the traced operations the spans' self times add up to the
    operations' wall time, as measured around each call, within the
    measured trace overhead;
  - that check fails on a run with an untraced gap planted in every
    operation (one query, 200 ms of sleep outside the spans).

Usage (from the repository root): python3 perfbench/selftest.py
"""
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SECONDS = 3
PLANTED_GAP_MS = 200


def self_gap(res):
    """(gap, allowed gap) of a traced run's span self times."""
    layer = res["layer"]
    tol = max(abs(layer["trace.overhead_frac"]["value"]), 0.01)
    return layer["trace.self_gap_frac"]["value"], tol


def main():
    defs, bench = run.load_defs()
    cp = run.build()
    problems = []
    for name, w in defs["selftest"].items():
        res, bad = run.run_workload(w, name, 1, SECONDS, 1, cp)
        if res["failed"] or bad:
            problems.append(f"{name}: {res['failed']} failed, "
                            f"oracle mismatches {bad}: {res['notes']}")
        per_layer = [m for m in bench["per_layer"] if not m["name"].startswith("q.")]
        per_layer += [{"name": f"q.{q}_s", "unit": "s"} for q in w.get("queries", [])]
        for trace in (0, 1):
            try:
                metrics = run.pick_metrics(dict(bench, per_layer=per_layer),
                                           w, res, trace)
            except run.BenchError as e:
                problems.append(f"{name}: {e}")
                continue
            for k, m in metrics.items():
                if not m.get("unit") or not isinstance(m.get("value"), float):
                    problems.append(f"{name}: metric {k} has no value or unit")
        gap, tol = self_gap(res)
        if abs(gap) > tol:
            problems.append(f"{name}: span self times miss the operations' "
                            f"wall time by {gap:.4f} (allowed {tol:.4f})")
        print(f"{name}: {res['attempted']} operations, self-time gap "
              f"{gap:.5f}, trace overhead {tol:.3f}")
    w = dict(defs["selftest"]["analytics"], queries=["q1_agg"],
             untraced_gap_ms=PLANTED_GAP_MS)
    res, _ = run.run_workload(w, "planted_gap", 1, SECONDS, 1, cp)
    gap, tol = self_gap(res)
    print(f"planted gap: self-time gap {gap:.5f}, allowed {tol:.4f}")
    if abs(gap) <= tol:
        problems.append("a planted untraced gap passes the self-time check")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
