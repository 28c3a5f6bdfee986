#!/usr/bin/env python3
"""Compare the per-layer work counts of two traced perfbench runs.

Usage: tools/trace_compare.py <parent.json> <change.json>

Each argument is the saved stdout of one `perfbench/run.py --trace 1` run
(only its last non-empty line, the metrics JSON, is read). Prints every
work count of either run side by side -- `*.jobs`, `*.input_rows`
(`scan.lookup_input_rows` included) and `*.output_bytes`, and the pruning
verdicts `*.candidates`, `*.files_in`, `*.files_out` and `*.dv_attached` --
and marks the rows whose values differ with `DIFF`. Exits 1 when any
differs, 0 otherwise, 2 on bad input.
"""
import json
import sys

SUFFIXES = ("jobs", "input_rows", "output_bytes",
            "candidates", "files_in", "files_out", "dv_attached")


def metrics(path):
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if not lines:
        sys.exit(f"{path}: empty")
    try:
        doc = json.loads(lines[-1])
    except json.JSONDecodeError as e:
        sys.exit(f"{path}: last line is not JSON ({e})")
    return {k: v["value"] for k, v in doc.get("metrics", {}).items()}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = metrics(argv[1]), metrics(argv[2])
    names = sorted(n for n in set(a) | set(b) if n.endswith(SUFFIXES))
    if not names:
        print("no work-count metrics found", file=sys.stderr)
        return 2
    width = max(len(n) for n in names)
    print(f"{'metric':<{width}}  {'parent':>14}  {'change':>14}")
    differ = 0
    for n in names:
        x, y = a.get(n), b.get(n)
        flag = "" if x == y else "  DIFF"
        differ += bool(flag)
        fmt = lambda v: "-" if v is None else (f"{v:.0f}" if float(v).is_integer() else f"{v:.6g}")
        print(f"{n:<{width}}  {fmt(x):>14}  {fmt(y):>14}{flag}")
    print(f"{differ} of {len(names)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
