"""Compare two sets of benchmark run records.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the JSON records runs leave in
``.perfbench_work/records``. For every workload and metric, prints each
side's median and quartiles, and the change's median relative to the
base's. Refuses (exit 2) when the two sides ran the same workload and
seed on inputs with different digests: such results measured different
inputs and must not be compared.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        if path.endswith(".spans.json"):
            continue
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        sys.exit(__doc__)
    base, change = (load(d) for d in argv)
    digests = {}
    for rec in base:
        s = rec["stamp"]
        digests[(s["workload"], s["seed"])] = s["digest"]
    clash = [
        (s["workload"], s["seed"])
        for s in (rec["stamp"] for rec in change)
        if digests.get((s["workload"], s["seed"]), s["digest"]) != s["digest"]
    ]
    if clash:
        print(f"refused: input digests differ for {sorted(set(clash))}")
        return 2

    def table(records):
        out: dict[tuple, list[float]] = {}
        for rec in records:
            s = rec["stamp"]
            for name, m in rec["result"]["metrics"].items():
                out.setdefault((s["workload"], s["trace"], name), []).append(m["value"])
        return out

    a, b = table(base), table(change)
    print("workload trace metric | base median [q1, q3] n | change median [q1, q3] n | change/base")
    for key in sorted(set(a) & set(b)):
        cols = []
        for xs in (a[key], b[key]):
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
            cols.append(f"{statistics.median(xs):.4g} [{q[0]:.4g}, {q[2]:.4g}] {len(xs)}")
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        ratio = f"{mb / ma:.3f}" if ma else "-"
        print(f"{key[0]} {key[1]} {key[2]} | {cols[0]} | {cols[1]} | {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
