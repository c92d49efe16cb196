"""Self-test of the benchmark at toy scale.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced on tiny inputs, and
checks that each run is correct and reports exactly the metrics listed
in BENCHMARK.json, each with a unit. Then plants a wrong expected span
and a wrong oracle row and checks that each makes the run fail.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = 0.02


def main() -> int:
    sys.path[0] = ROOT
    from perfbench import run as R

    R._isolate()
    R.confine()
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []

    def once(workload, trace, plant=None):
        run = R.Run(workload, seed=3, seconds=1, trace=bool(trace), scale=SCALE)
        try:
            result, _ = R.execute(run, plant=plant)
        finally:
            if run.spark is not None:
                run.spark.stop()
            run.spark = None
        return result

    for workload in WORKLOADS:
        for trace in (0, 1):
            res = once(workload, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            tag = f"{workload} trace={trace}"
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: failed {res['failed']} of {res['attempted']}")
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want[trace]))}")
            if not all(isinstance(u, str) and u for u in got.values()):
                problems.append(f"{tag}: a metric has no unit")
            print(f"ok? {not problems} {tag}", flush=True)
    for workload, plant in (("extract_giant", "span"), ("extract_resume", "span"), ("analytics_sf0.01", "oracle")):
        res = once(workload, 0, plant=plant)
        ratio = res["failed"] / res["attempted"]
        print(f"planted {plant} in {workload}: fail_ratio {ratio:.3f}", flush=True)
        if ratio <= 0 or res["correct"]:
            problems.append(f"planted {plant} in {workload} was not caught")
    R._stop_jvm()
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
