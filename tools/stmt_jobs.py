#!/usr/bin/env python3
"""Per-statement Spark job accounting from a benchmark spans file.

Usage (from the repository root):
  python3 tools/stmt_jobs.py perfbench/.work/spans-lake_mixed.jsonl
  python3 tools/stmt_jobs.py AFTER.jsonl --base BEFORE.jsonl

Reads the spans a `perfbench/run.py --trace 1` run leaves behind (one
JSON object per line: id, name, parent, op, start, end in ns). Every
span with parent 0 is a statement (`stmt:<kind>`); `spark.job.<n>`
spans belong to the statement whose `op` they carry. Per statement it
prints the Spark jobs, the job time (wall time covered by at least one
job) and the driver gap (statement wall time not covered by any job).

Rows are labelled by position in the round and kind (`01 insert`,
`04 dml`, ...). The round is the shortest prefix whose kind sequence
repeats through the whole file; a file holding several traced rounds is
averaged per position. With --base the table shows base -> current for
every column.
"""
import argparse
import json
import sys

def covered(start, end, ivs):
    """Length of [start, end) covered by the union of the intervals."""
    total, cur = 0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in ivs):
        if b > cur:
            total += b - max(a, cur)
            cur = b
    return total


def statements(path):
    """[(kind, jobs, job_ns, gap_ns)] in statement order."""
    spans = [json.loads(line) for line in open(path) if line.strip()]
    roots = sorted((s for s in spans if s["parent"] == 0),
                   key=lambda s: s["start"])
    jobs = {}
    for s in spans:
        if s["name"].startswith("spark.job."):
            jobs.setdefault(s["op"], []).append((s["start"], s["end"]))
    out = []
    for r in roots:
        ivs = jobs.get(r["op"], [])
        busy = covered(r["start"], r["end"], ivs)
        out.append((r["name"].removeprefix("stmt:"), len(ivs), busy,
                    r["end"] - r["start"] - busy))
    return out


def per_position(stmts):
    """{label: (jobs, job_ms, gap_ms)} averaged over rounds, in order."""
    kinds = [k for k, *_ in stmts]
    n = next((p for p in range(1, len(kinds) + 1)
              if len(kinds) % p == 0
              and kinds == kinds[:p] * (len(kinds) // p)), 0)
    table = {}
    for i, k in enumerate(kinds[:n]):
        rows = stmts[i::n]
        table[f"{i + 1:02d} {k}"] = tuple(
            sum(r[c] for r in rows) / len(rows) / d
            for c, d in ((1, 1), (2, 1e6), (3, 1e6)))
    return table


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans", help="spans file of the run to report")
    ap.add_argument("--base", help="spans file to compare against")
    a = ap.parse_args()
    cur = per_position(statements(a.spans))
    base = per_position(statements(a.base)) if a.base else None
    if base is not None and list(base) != list(cur):
        sys.exit("stmt_jobs: the two files hold different statement sequences")

    for t in (cur, base):
        if t is not None:
            t["total"] = tuple(sum(v[i] for v in t.values()) for i in range(3))

    def cell(i, fmt, row):
        if base is None:
            return fmt.format(cur[row][i])
        return (fmt + " -> " + fmt).format(base[row][i], cur[row][i])

    print("| statement | Spark jobs | job ms | driver gap ms |")
    print("|---|---|---|---|")
    for row in cur:
        print(f"| {row} | {cell(0, '{:g}', row)} | "
              f"{cell(1, '{:.0f}', row)} | {cell(2, '{:.0f}', row)} |")


if __name__ == "__main__":
    main()
