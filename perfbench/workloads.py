"""The benchmark's workloads.

Each workload makes its inputs from the seed, runs one *pass* per call
(the unit every end-to-end metric is taken over), checks its outputs
against an oracle, and in a traced run measures the engine's layers
from outside by timing the benchmark's own calls into them.

- extract_resume: ``plans.resume.run_resumable_extract`` over growing
  doc_id prefixes (append-only ingest: a mixed batch, then a batch of
  giant docs), then one rerun that must commit nothing.
- analytics_sf0.01: the 20 headline queries of ``__spark_entry__`` over
  generated tables of the sf0.01 shape, each collected to the Spark driver.
- extract_giant / extract_mixed: ``plans.extract.extract`` from a
  parquet scan to a parquet sink over a ``corpus.gen_doc`` corpus.
  Runnable by name; not declared in BENCHMARK.json (time budget), where
  extract_resume's giant batch stands for extract_giant.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import pandas as pd

from perfbench import inputs, oracle

# Headline analytics queries (the ROADMAP's second end-to-end number).
HEADLINE = [
    "pricing_summary", "region_revenue", "top_orders_per_customer",
    "tokenize_spans", "token_stats", "quality_score", "repetition_stats",
    "exact_dedup", "ngram_jaccard", "minhash_lsh", "simhash",
    "doc_fingerprint", "embedding_topk", "ann_lsh", "iou_match_join",
    "sessionize", "ap_sweep", "map_sweep", "recall_at_k", "char_voting",
]
ANALYTICS_TABLES = [
    "region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings",
]
LADDER = ["scan", "explode", "decode", "boundary", "table", "reassembly", "order", "sink"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared shape; subclasses fill in inputs, pass, check and trace."""

    # untimed passes before timing; extract pass times fall for several
    # passes while the JVM compiles hot code
    WARM_PASSES = 0
    # fewest timed passes of an untraced run, whatever ``--seconds`` says
    MIN_PASSES = 1

    def __init__(self, run):
        self.run = run
        self.data = os.path.join(run.work, "data")
        self.out = os.path.join(run.work, "out")
        self.layer: dict[str, float] = {}

    @property
    def spark(self):
        return self.run.spark

    def make_inputs(self) -> None:
        raise NotImplementedError

    def digest(self) -> dict:
        raise NotImplementedError

    def run_pass(self) -> tuple[int, int]:
        """One pass; returns (operations attempted, operations failed)."""
        raise NotImplementedError

    def warm(self) -> tuple[int, int]:
        """``WARM_PASSES`` untimed passes; their operations still count."""
        attempted = failed = 0
        times = self.run.notes.setdefault("warm_pass_s", [])
        for _ in range(self.WARM_PASSES):
            t0 = time.perf_counter()
            a, f = self.run_pass()
            times.append(time.perf_counter() - t0)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def check(self, plant: str | None) -> int:
        """Failed operations found by the oracle after the timed passes."""
        raise NotImplementedError

    def trace_round(self, tracer, untraced_s: float) -> None:
        """Record per-layer samples from one traced round. It starts with
        a traced pass; ``trace.overhead_s`` is its time minus
        ``untraced_s``, the untraced pass run just before."""
        raise NotImplementedError

    def trace_once(self) -> None:
        """Per-layer probes that run once per traced run."""


# ---------------------------------------------------------------------------
# extraction
# ---------------------------------------------------------------------------
def ladder_frames(raw):
    """Cumulative prefixes of ``extract()`` built from the public layer
    functions: name -> DataFrame. ``boundary`` sends the same masked cell
    columns as ``table`` into a pandas_udf that returns without work."""
    import pyspark.sql.functions as F

    from davar_lab_ocr_spark.operators.decode_sql import text_decode_col
    from davar_lab_ocr_spark.operators.ordering import sort_spans_expr
    from davar_lab_ocr_spark.operators.table import table_html_udf
    from davar_lab_ocr_spark.plans.extract import classify_kind

    @F.pandas_udf("string")
    def noop_udf(bb: pd.Series, tt: pd.Series) -> pd.Series:
        return pd.Series([""] * len(bb))

    scanned = raw.filter(
        (~F.col("doc_id").endswith(".gif")) & (F.least("width", "height") >= 32)
    ).select("doc_id", "regions")
    exploded = scanned.select("doc_id", F.explode("regions").alias("r"))
    is_table = F.col("r.mode") == "table"
    text = text_decode_col(F.col("r.mode"), F.col("r.pred_ids"))

    def decoded(table_col):
        return (
            exploded.select(
                "doc_id",
                F.col("r.bbox")[1].alias("y0"),
                F.col("r.bbox")[0].alias("x0"),
                classify_kind(F.col("r.kind_scores")).alias("kind"),
                F.col("r.media_ref").alias("media_ref"),
                F.col("r.care").alias("care"),
                F.when(is_table, table_col).otherwise(text).alias("text"),
            )
            .filter(F.col("care") == 1)
            .drop("care")
        )

    cells = (F.when(is_table, F.col("r.cell_bboxes")), F.when(is_table, F.col("r.cell_texts")))
    tabled = decoded(table_html_udf()(*cells))
    merged = tabled.groupBy("doc_id").agg(
        F.collect_list(F.struct("y0", "x0", "kind", "text", "media_ref")).alias("spans_unsorted")
    )
    ordered = merged.select("doc_id", sort_spans_expr(F.col("spans_unsorted")).alias("spans"))
    return {
        "scan": scanned,
        "explode": exploded,
        "decode": decoded(F.lit(None).cast("string")),
        "boundary": decoded(noop_udf(*cells)),
        "table": tabled,
        "reassembly": merged,
        "order": ordered,
        "sink": ordered,
    }


def table_kernel_probe(raw_dir: str) -> dict[str, float]:
    """Call ``recover_table_html`` on every table of the corpus in this
    process: kernel time alone, and the share on the aligned-grid path."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from davar_lab_ocr_spark.operators import table as T

    regions = pc.list_flatten(pq.read_table(raw_dir, columns=["regions"])["regions"])
    regions = regions.filter(pc.equal(pc.struct_field(regions, "mode"), "table"))
    boxes = pc.struct_field(regions, "cell_bboxes").to_pylist()
    texts = pc.struct_field(regions, "cell_texts").to_pylist()
    t0 = time.perf_counter()
    for b, t in zip(boxes, texts):
        T.recover_table_html(b, t)
    kernel = time.perf_counter() - t0
    fast = getattr(T, "_derive_cells_fast", None)
    n_fast = sum(
        fast(np.rint(np.asarray(b, dtype=np.float64)).astype(np.int64).tolist()) is not None
        for b in boxes
    ) if fast else 0
    n = len(boxes)
    return {
        "table.kernel_s": kernel,
        "table.kernel_us_per_table": kernel / n * 1e6 if n else 0.0,
        "table.fast_path_share": n_fast / n if n else 0.0,
    }


def plan_layer_metrics(plan: dict) -> dict[str, float]:
    """Map summed SQL metrics of one pass onto per-layer names."""

    def g(key):
        return plan.get(key, 0.0)

    med = g("Exchange/data size.med")
    return {
        "scan.time_s": g("Scan/scan time"),
        "scan.bytes_read": g("Scan/size of files read"),
        "explode.rows_out": g("Generate/number of output rows"),
        "python.rows_sent": g("ArrowEvalPython/number of output rows"),
        "python.bytes_sent": g("ArrowEvalPython/data sent to Python workers"),
        "python.bytes_returned": g("ArrowEvalPython/data returned from Python workers"),
        "python.run_s": g("ArrowEvalPython/time to run Python workers"),
        "python.start_s": g("ArrowEvalPython/time to start Python workers")
        + g("ArrowEvalPython/time to initialize Python workers"),
        "shuffle.bytes_written": g("Exchange/shuffle bytes written"),
        "shuffle.records_written": g("Exchange/shuffle records written"),
        "shuffle.write_s": g("Exchange/shuffle write time"),
        "shuffle.fetch_wait_s": g("Exchange/fetch wait time"),
        "shuffle.skew": g("Exchange/data size.max") / med if med else 0.0,
        "agg.build_s": g("ObjectHashAggregate/time in aggregation build"),
        "agg.sort_fallback_tasks": g("ObjectHashAggregate/number of sort fallback tasks"),
        "spill.bytes": sum(v for k, v in plan.items() if k.endswith("/spill size")),
        "sink.bytes_written": g("Execute/written output"),
        "sink.files": g("Execute/number of written files"),
        "sink.job_commit_s": g("Execute/job commit time"),
    }


class Extract(Workload):
    """``extract()`` from the raw parquet to a parquet sink."""

    def __init__(self, run, *segments: tuple[int, int, int]):
        """``segments``: (docs, giant_every, giant_size) per contiguous
        doc_id range of the corpus."""
        super().__init__(run)
        self.segments = [(max(int(n * run.scale), 8), every, size) for n, every, size in segments]

    FILES = 8  # raw files per segment: two scan tasks per core
    WARM_PASSES = 16

    def dirs(self, kind: str) -> list[str]:
        return [os.path.join(self.data, kind, f"seg={k}") for k in range(len(self.segments))]

    def make_inputs(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        self.counts = inputs.write_corpus(self.data, self.run.seed, self.segments, files=self.FILES)

    def digest(self) -> dict:
        c = self.counts
        self.layer.update(
            {"corpus.docs": c["docs"], "corpus.regions": c["regions"], "corpus.tables": c["tables"]}
        )
        self.cared_tables = c["cared_tables"]
        return {**c, "content": inputs.files_digest(self.dirs("raw"))}

    def raw(self):
        return self.spark.read.parquet(*self.dirs("raw"))

    def run_pass(self) -> tuple[int, int]:
        from davar_lab_ocr_spark.plans.extract import extract

        extract(self.raw()).write.mode("overwrite").parquet(self.out)
        return 1, 0

    def output_dirs(self) -> list[str]:
        return [self.out]

    def check(self, plant: str | None) -> int:
        want = inputs.read_expected(self.dirs("expected"))
        if plant == "span":
            d = next(iter(want))
            kind, text, ref, off = want[d][0]
            want[d][0] = (kind, text + "#", ref, off)
        got, dupes = oracle.read_spans(self.output_dirs())
        bad = oracle.span_mismatches(got, want)
        self.run.notes["span_mismatches"] = bad[:5]
        return int(bool(bad) or dupes > 0)

    def ladder(self, tracer) -> tuple[dict, dict, float]:
        """Time ``extract()`` itself as the top rung with its SQL metrics,
        then every composed rung. Returns (per-layer samples, top-rung SQL
        metrics, top-rung wall time including the harvest)."""
        from davar_lab_ocr_spark.plans.extract import extract

        frames = ladder_frames(self.raw())
        rung: dict[str, float] = {}
        with tracer.span("ladder"):
            t0 = time.perf_counter()
            with tracer.span("ladder.extract", plan=True) as top:
                extract(self.raw()).write.mode("overwrite").parquet(self.out + "_ladder")
            traced = time.perf_counter() - t0
            for name in LADDER:
                with tracer.span(f"ladder.{name}") as rec:
                    if name == "sink":
                        frames[name].write.mode("overwrite").parquet(self.out + "_ladder")
                    else:
                        _noop(frames[name])
                rung[name] = rec["dur_s"]
        prev = 0.0
        sample = {"table.boundary_s": rung["boundary"] - rung["decode"]}
        for name in LADDER:
            if name != "boundary":
                sample[f"ladder.{name}_s"] = rung[name] - prev
                prev = rung[name]
        sample["ladder.residual_s"] = top["dur_s"] - rung["sink"]
        return sample, top["plan"], traced

    def plan_samples(self, plan: dict) -> dict:
        sample = plan_layer_metrics(plan)
        rows = sample["python.rows_sent"]
        sample["table.useful_ratio"] = self.cared_tables / rows if rows else 0.0
        return sample

    def trace_round(self, tracer, untraced_s: float) -> None:
        sample, plan, traced = self.ladder(tracer)
        sample["trace.overhead_s"] = traced - untraced_s
        self.run.add_samples({**sample, **self.plan_samples(plan)})

    def trace_once(self) -> None:
        self.layer.update(table_kernel_probe(os.path.join(self.data, "raw")))


class Giant(Extract):
    """Every doc giant (600-800 regions), so no doc has a table. One raw
    file per core: each scan task sends its cared regions to the table
    UDF as one Arrow batch of more than 10k rows whose masked cell
    columns are all null, the regime where the UDF boundary cost grows
    with the length of the null run."""

    FILES = 4
    WARM_PASSES = 3


class Resume(Extract):
    """Append-only ingest: K growing prefixes, each committed through the
    snapshot sink, then a rerun over everything that must commit 0 docs.
    One raw file per core and segment, so an ingested segment of giant
    docs reaches the table UDF as batches of more than 10k masked rows."""

    FILES = 4
    # pass times still fall by a fifth from the second pass to the fourth
    WARM_PASSES = 2
    MIN_PASSES = 3

    def increments(self):
        """(label, input DataFrame) per commit, then the rerun."""
        for k in range(len(self.segments)):
            yield f"commit{k}", self.spark.read.parquet(*self.dirs("raw")[: k + 1])
        yield "rerun", self.raw()

    def run_pass(self) -> tuple[int, int]:
        from davar_lab_ocr_spark.plans.resume import run_resumable_extract

        shutil.rmtree(self.out, ignore_errors=True)
        failed = 0
        for label, df in self.increments():
            t0 = time.perf_counter()
            manifest = run_resumable_extract(self.spark, df, self.out, batch_id=label)
            dt = time.perf_counter() - t0
            if label == "rerun":
                self.run.add_samples({"resume.rerun_s": dt})
                failed += manifest["n_docs"] != 0
            else:
                self.run.add_samples({"resume.commit_s": dt})
        return len(self.segments) + 1, failed

    def output_dirs(self) -> list[str]:
        """The committed snapshots; the rerun's empty batch has no files."""
        from davar_lab_ocr_spark.plans.resume import SnapshotSink

        return [p for p in SnapshotSink(self.out).committed_paths() if os.path.isdir(p)]

    def trace_round(self, tracer, untraced_s: float) -> None:
        """A traced resume pass (job counts per increment, write_batch
        spans, SQL metrics), then the extract ladder."""
        from davar_lab_ocr_spark.plans import resume as R

        sc = self.spark.sparkContext
        write_batch = R.SnapshotSink.write_batch

        def traced_write(sink, docs, batch_id=None):
            with tracer.span("resume.write_batch") as rec:
                out = write_batch(sink, docs, batch_id)
            self.run.add_samples({"resume.write_batch_s": rec["dur_s"]})
            return out

        shutil.rmtree(self.out, ignore_errors=True)
        plan: dict[str, float] = {}
        t0 = time.perf_counter()
        R.SnapshotSink.write_batch = traced_write
        try:
            with tracer.span("resume.pass"):
                for label, df in self.increments():
                    group = f"perfbench-{label}-{time.time_ns()}"
                    sc.setJobGroup(group, label)
                    with tracer.span(f"resume.{label}", plan=True) as rec:
                        R.run_resumable_extract(self.spark, df, self.out, batch_id=label)
                    sc.setJobGroup(None, None)
                    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                    # the first commit has no snapshot to anti-join against
                    if label == "rerun":
                        self.run.add_samples({"resume.rerun_jobs": jobs})
                    elif label != "commit0":
                        self.run.add_samples({"resume.commit_jobs": jobs})
                    for k, v in rec["plan"].items():
                        plan[k] = plan.get(k, 0.0) + v
        finally:
            R.SnapshotSink.write_batch = write_batch
        traced = time.perf_counter() - t0
        self.layer["resume.manifests"] = len(R.SnapshotSink(self.out).committed_batches())
        # the extract ladder over the whole (mixed) corpus; the SQL
        # metrics reported are the resume pass's own
        sample, _, _ = self.ladder(tracer)
        sample["trace.overhead_s"] = traced - untraced_s
        self.run.add_samples({**sample, **self.plan_samples(plan)})


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------
class Analytics(Workload):
    """The 20 headline queries, each collected to the Spark driver. One untimed
    pass absorbs the fresh session's code generation and worker start;
    timing it instead spread the pass time by a third across seeds."""

    WARM_PASSES = 1

    def make_inputs(self) -> None:
        self.counts = inputs.write_analytics(self.data, self.run.seed, self.run.scale)

    def digest(self) -> dict:
        self.layer["corpus.docs"] = self.counts["docs"]
        return {**self.counts, "content": inputs.files_digest([self.data])}

    def each_query(self, around) -> tuple[int, int]:
        """Build and collect every headline query inside ``around(name)``,
        a context manager, keeping its result for the oracle; a query
        that raises is counted as failed and the pass goes on."""
        import __spark_entry__ as E

        qs = E.queries()
        self.results = {}
        failed = 0
        for name in HEADLINE:
            try:
                with around(name):
                    self.results[name] = qs[name](self.spark, self.data).toPandas()
            except Exception as exc:  # noqa: BLE001 - reported in the stamp
                self.run.notes.setdefault("errors", []).append(f"{name}: {exc!r}"[:300])
                failed += 1
        return len(HEADLINE), failed

    def run_pass(self) -> tuple[int, int]:
        return self.each_query(lambda name: contextlib.nullcontext())

    def check(self, plant: str | None) -> int:
        want = oracle.duckdb_results(self.data, list(self.results), ANALYTICS_TABLES)
        if plant == "oracle":
            name = next(iter(want))
            want[name] = want[name].iloc[1:]
        bad = [n for n in self.results if not oracle.same_result(self.results[n], want[n])]
        self.run.notes["oracle_mismatches"] = bad
        return len(bad)

    def trace_round(self, tracer, untraced_s: float) -> None:
        @contextlib.contextmanager
        def traced(name):
            with tracer.span(f"query.{name}") as rec:
                yield
            self.run.add_samples({f"query.{name}_s": rec["dur_s"]})

        with tracer.span("analytics.pass") as rec:
            self.each_query(traced)
        self.run.add_samples({"trace.overhead_s": rec["dur_s"] - untraced_s})


WORKLOADS = {
    # corpus.py defaults: a giant doc every 97, tables in every normal doc
    "extract_mixed": lambda run: Extract(run, (3000, 97, 600)),
    # every doc giant: no tables, long masked null runs
    "extract_giant": lambda run: Giant(run, (72, 1, 600)),
    # a mixed batch, then a batch of giant docs appended to it
    "extract_resume": lambda run: Resume(run, (300, 97, 600), (72, 1, 600)),
    "analytics_sf0.01": Analytics,
}
