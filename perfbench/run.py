"""Extraction-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine (``davar_lab_ocr_spark``
and ``__spark_entry__``) is imported from that checkout only, and the
Python workers get it on their path. Everything the run writes goes to
``.perfbench_work/`` in the checkout, Spark's shuffle and spill files
included: the session keeps every setting ``get_spark`` makes except
``spark.local.dir``, which would otherwise point outside the checkout.

One Spark driver process runs ``local[4]`` as a closed loop with one client:
each pass starts when the previous one has finished. A run

1. sets up: boots the session cold in a new JVM, generates the inputs
   from the seed, and warms up with a fixed number of untimed passes;
   ``setup_s`` is the time all three take;
2. with ``--trace 0`` runs passes until ``--seconds`` have elapsed and
   the workload's ``MIN_PASSES`` are done, and reports the median CPU
   seconds of the process tree per pass (``cpu_s``);
3. with ``--trace 1`` instead alternates an untimed pass with a traced
   round (spans plus Spark SQL metrics) and reports per-layer metrics,
   the untraced passes' median wall time (``pass_s``) and the CPU time
   the hypervisor stole from the machine during them (``host.steal_s``)
   among them;
4. checks the outputs against the oracle and prints one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}``.

A line before it carries the stamps (host, versions, code and input
digests). Results whose input digests differ must not be compared.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4

END_TO_END = {"cpu_s": "s", "setup_s": "s"}


def _per_layer_units() -> dict[str, str]:
    from perfbench.workloads import HEADLINE

    units = {
        "pass_s": "s",
        "host.steal_s": "s",
        "session.boot_s": "s",
        "corpus.gen_s": "s",
        "corpus.docs": "count",
        "corpus.regions": "count",
        "corpus.tables": "count",
        "ladder.scan_s": "s",
        "scan.time_s": "s",
        "scan.bytes_read": "bytes",
        "ladder.explode_s": "s",
        "explode.rows_out": "count",
        "ladder.decode_s": "s",
        "ladder.table_s": "s",
        "table.boundary_s": "s",
        "table.kernel_s": "s",
        "table.kernel_us_per_table": "us",
        "table.fast_path_share": "ratio",
        "table.useful_ratio": "ratio",
        "python.rows_sent": "count",
        "python.bytes_sent": "bytes",
        "python.bytes_returned": "bytes",
        "python.run_s": "s",
        "python.start_s": "s",
        "ladder.reassembly_s": "s",
        "shuffle.bytes_written": "bytes",
        "shuffle.records_written": "count",
        "shuffle.write_s": "s",
        "shuffle.fetch_wait_s": "s",
        "shuffle.skew": "ratio",
        "agg.build_s": "s",
        "agg.sort_fallback_tasks": "count",
        "spill.bytes": "bytes",
        "ladder.order_s": "s",
        "ladder.sink_s": "s",
        "sink.bytes_written": "bytes",
        "sink.files": "count",
        "sink.job_commit_s": "s",
        "resume.commit_s": "s",
        "resume.rerun_s": "s",
        "resume.commit_jobs": "count",
        "resume.rerun_jobs": "count",
        "resume.write_batch_s": "s",
        "resume.manifests": "count",
    }
    units.update({f"query.{n}_s": "s" for n in HEADLINE})
    units.update(
        {
            "ladder.residual_s": "s",
            "trace.overhead_s": "s",
            "host.spin_ratio": "ratio",
            "proc.peak_rss_mb": "MB",
            "fail_ratio": "ratio",
            "passes": "count",
        }
    )
    return units


def _isolate() -> None:
    """Make the checkout the only source of the engine, for this process
    and for the Python workers Spark starts."""
    missing = [
        p for p in ("davar_lab_ocr_spark/__init__.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        sys.exit(f"perfbench: {ROOT} is not an engine checkout (missing {', '.join(missing)})")
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import davar_lab_ocr_spark

    pkg = os.path.realpath(davar_lab_ocr_spark.__file__)
    if not pkg.startswith(os.path.realpath(ROOT) + os.sep):
        sys.exit(f"perfbench: engine imported from {pkg}, outside the checkout {ROOT}")


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.scale = scale
        self.work = os.path.join(ROOT, ".perfbench_work", workload)
        self.spark = None
        self.samples: dict[str, list[float]] = {}
        self.notes: dict = {}

    def add_samples(self, values: dict) -> None:
        for k, v in values.items():
            self.samples.setdefault(k, []).append(float(v))

    def boot(self):
        from davar_lab_ocr_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        spark = get_spark(
            "perfbench",
            parallelism=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file in the system temp directory
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark


def confine() -> None:
    """Keep Spark's and Python's temporary files inside the checkout, since
    a run may write nowhere else. ``SPARK_LOCAL_DIRS`` takes the place of
    ``get_spark``'s ``spark.local.dir`` default (a ramdisk where there is
    one), so shuffle and spill files land on the checkout's disk."""
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".perfbench_work", "local")


def shutdown(run: Run) -> None:
    """Stop the session and the JVM, wait for it, drop the run's data."""
    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    _stop_jvm()
    shutil.rmtree(run.work, ignore_errors=True)


def _stop_jvm() -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def execute(run: Run, plant: str | None = None) -> tuple[dict, dict]:
    """Run one workload; returns (result line, stamp line). ``plant``
    ('span' or 'oracle') corrupts the expectation, for the self-test."""
    from perfbench import host
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, median

    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.work)
    wl = WORKLOADS[run.workload](run)
    tracer = Tracer(f"{run.workload}-{run.seed}-{os.getpid()}", enabled=run.trace)

    # set-up: a cold session boot in a new JVM, the inputs, the warm-up
    _stop_jvm()
    steal0 = host.steal_s()
    with tracer.span("setup"):
        t0 = time.perf_counter()
        with tracer.span("session.boot"):
            run.spark = run.boot()
        boot_s = time.perf_counter() - t0
        tracer.rebind(run.spark)
        t0 = time.perf_counter()
        with tracer.span("corpus.gen"):
            wl.make_inputs()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("warmup"):
            attempted, failed = wl.warm()
        warm_s = time.perf_counter() - t0
    setup_steal = host.steal_s() - steal0
    run.samples.clear()
    digest = wl.digest()

    spins = [host.spin_s() for _ in range(3)]
    base = min(spins)
    ratios, pass_s, cpu_s, steal = [], [], [], []
    t_start = time.perf_counter()
    if run.trace:
        wl.trace_once()
    min_passes = 1 if run.trace else wl.MIN_PASSES
    while len(pass_s) < min_passes or time.perf_counter() - t_start < run.seconds:
        ratios.append(host.spin_s() / base)
        cpu0, steal0, t0 = host.tree_cpu_s(), host.steal_s(), time.perf_counter()
        try:
            a, f = wl.run_pass()
        except Exception as exc:  # a failed pass is counted and the run goes on
            run.notes.setdefault("errors", []).append(repr(exc)[:300])
            a, f = 1, 1
        pass_s.append(time.perf_counter() - t0)
        cpu_s.append(host.tree_cpu_s() - cpu0)
        steal.append(host.steal_s() - steal0)
        attempted, failed = attempted + a, failed + f
        if run.trace:
            wl.trace_round(tracer, pass_s[-1])
    failed += wl.check(plant)
    attempted = max(attempted, 1)

    if run.trace:
        layer = {k: median(v) for k, v in run.samples.items()}
        layer.update(wl.layer)
        layer.update(
            {
                "pass_s": median(pass_s),
                "host.steal_s": median(steal),
                "session.boot_s": boot_s,
                "corpus.gen_s": gen_s,
                "host.spin_ratio": median(ratios),
                "proc.peak_rss_mb": host.tree_peak_rss_mb(),
                "fail_ratio": failed / attempted,
                "passes": len(pass_s),
            }
        )
        metrics = {
            k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in _per_layer_units().items()
        }
    else:
        values = {
            "setup_s": boot_s + gen_s + warm_s,
            "cpu_s": median(cpu_s),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    stamp = host.stamps(ROOT, run.spark)
    stamp.update(
        {
            "workload": run.workload,
            "seed": run.seed,
            "trace": int(run.trace),
            "digest": digest,
            "boot_s": boot_s,
            "gen_s": gen_s,
            "warmup_s": warm_s,
            "pass_samples_s": pass_s,
            "cpu_samples_s": cpu_s,
            "spin_base_s": base,
            "spin_ratios": ratios,
            "loud_passes": sum(r > 1.5 for r in ratios),
            "setup_steal_s": setup_steal,
            "steal_samples_s": steal,
            "notes": run.notes,
        }
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    records = os.path.join(ROOT, ".perfbench_work", "records")
    os.makedirs(records, exist_ok=True)
    name = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}-{int(time.time())}"
    with open(os.path.join(records, name + ".json"), "w") as fh:
        json.dump({"stamp": stamp, "result": result}, fh, default=str)
    if run.trace:
        tracer.dump(os.path.join(records, name + ".spans.json"))
    return result, stamp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    confine()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result, stamp = execute(run)
    finally:
        shutdown(run)
    print(json.dumps({"stamp": stamp}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # the script's own directory would shadow stdlib modules; import the
    # benchmark as the ``perfbench`` package from the checkout root
    sys.path[0] = ROOT
    sys.exit(main())
