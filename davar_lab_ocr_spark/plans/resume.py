"""Snapshot-committed, resumable sink with per-partition lineage.

The reference has no job-level resume (only model-weight checkpoints,
inference.py:66-75); this is net-new per the north rule: the job must
be resumable from a committed snapshot after executor/driver loss, and
every commit carries per-partition lineage + counters.

Without an Iceberg runtime in the sandbox we implement the same
commit protocol on plain parquet:

  out_path/
    batch=<id>/            data files + _SUCCESS   (task-level commit)
    _lineage/batch=<id>/   per-partition counters  (parquet)
    _manifests/<id>.json   <- THE commit point (atomic file create,
                              written only after data+lineage land)

A batch is visible iff its manifest exists — a crash mid-write leaves
orphan files that readers never see (snapshot isolation, the
df.write.format('iceberg') analog). A batch of no documents is a
manifest only: counters 0, ``data_path`` and ``lineage_path`` null, and
readers skip it.

Pending = the documents extract() keeps (``keep_documents``) left-anti
joined against all committed batches' doc_ids. A document extract()
drops never lands in a snapshot, so it must not count as pending. That
test reads only the keys and ``regions.care``; when nothing is pending
the increment commits the manifest alone: extract() is not even built,
and no Spark job runs after the pending check.

Spark jobs per increment: the pending check, the extract stages, the
data write (manifest totals are observed on it) and the lineage, which
is counted from the data files just written, per write task. Committed
keys are read with an explicit schema, so no schema-merge job runs.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .extract import extract, keep_documents


class SnapshotSink:
    def __init__(self, path: str):
        self.path = path
        self.manifest_dir = os.path.join(path, "_manifests")

    # -- snapshot visibility -------------------------------------------------
    def committed_batches(self) -> list[dict]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as fh:
                    out.append(json.load(fh))
        return out

    def committed_paths(self, as_of: str | None = None) -> list[str]:
        manifests = self.history()
        if as_of is not None:
            ids = [m["batch_id"] for m in manifests]
            if as_of not in ids:
                raise KeyError(f"no committed batch {as_of!r}")
            # cut by commit-log POSITION, not raw committed_at: two
            # commits inside one clock quantum (or a wall-clock step
            # backwards) would otherwise leak later batches into the
            # historical read
            manifests = manifests[: ids.index(as_of) + 1]
        # a zero-doc batch holds no rows (and has no data directory when
        # written by write_empty), so no reader lists it
        return [
            os.path.join(self.path, f"batch={m['batch_id']}") for m in manifests if m["n_docs"]
        ]

    def history(self) -> list[dict]:
        """The commit log, oldest first (the Iceberg snapshots-table
        analog): one manifest per committed batch with counters.
        Ordered by the monotonic ``seq`` stamped at commit time — NOT by
        ``committed_at``: a wall-clock step backwards between commits
        would reorder a timestamp-sorted log and make an ``as_of`` cut
        include a later batch. Legacy manifests without ``seq`` sort
        first by (committed_at, batch_id)."""
        return sorted(
            self.committed_batches(),
            key=lambda m: (m.get("seq", -1), m["committed_at"], m["batch_id"]),
        )

    def read(self, spark: SparkSession, as_of: str | None = None) -> DataFrame | None:
        """Union of committed snapshots (uncommitted dirs invisible).
        ``as_of`` time-travels: only batches committed up to and
        including that batch_id are visible — reproduces any historical
        read of the table. Reads with mergeSchema: a later batch may
        ADD columns (the Iceberg schema-evolution analog) and earlier
        snapshots surface them as nulls."""
        paths = self.committed_paths(as_of)
        if not paths:
            return None
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def processed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        """doc_id of every committed batch, read with an explicit schema:
        the key column is in every batch, so no schema-merge job runs."""
        paths = self.committed_paths()
        if not paths:
            return None
        return spark.read.schema("doc_id string").parquet(*paths)

    # -- commit --------------------------------------------------------------
    def write_batch(self, docs: DataFrame, batch_id: str | None = None) -> dict:
        """Write one snapshot: data, per-partition lineage, then the
        manifest (the commit point). Returns the manifest."""
        batch_id = batch_id or uuid.uuid4().hex[:12]
        data_path = os.path.join(self.path, f"batch={batch_id}")
        lineage_path = os.path.join(self.path, "_lineage", f"batch={batch_id}")

        # content-free span counter (SCALE.md known limit, now counted):
        # a span with empty text AND no media ref carries no content —
        # short-payload docs produce these silently in the full chain;
        # the lineage row makes them visible per partition
        n_empty = F.sum(
            F.size(
                F.filter(
                    F.col("spans"),
                    lambda s: (F.coalesce(s["text"], F.lit("")) == "")
                    & (F.coalesce(s["media_ref"], F.lit("")) == ""),
                )
            )
        ).alias("n_empty_spans")
        # the manifest totals are observed on the data write itself, so
        # no separate totals job runs
        observed = Observation()
        docs.observe(
            observed,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            n_empty,
        ).write.mode("overwrite").parquet(data_path)
        totals = observed.get
        # lineage is counted from the committed files, not from the rows
        # on their way there, so nothing is persisted. A data file's part
        # number is the partition id of the task that wrote it.
        written = docs.sparkSession.read.schema(docs.schema).parquet(data_path)
        part = F.regexp_extract("_metadata.file_name", r"^part-(\d+)", 1).cast("int")
        lineage = written.groupBy(part.alias("_part")).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            n_empty,
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        lineage.write.mode("overwrite").parquet(lineage_path)
        return self._commit(
            batch_id,
            n_docs=totals["n_docs"],
            n_spans=int(totals["n_spans"] or 0),
            n_empty_spans=int(totals["n_empty_spans"] or 0),
            data_path=data_path,
            lineage_path=lineage_path,
        )

    def write_empty(self, batch_id: str | None = None) -> dict:
        """Commit a batch of no documents: the manifest alone, with
        counters 0 and no data or lineage directory. No Spark job runs."""
        return self._commit(
            batch_id or uuid.uuid4().hex[:12],
            n_docs=0,
            n_spans=0,
            n_empty_spans=0,
            data_path=None,
            lineage_path=None,
        )

    def _commit(self, batch_id: str, **fields) -> dict:
        """Write the manifest, the commit point. Returns it."""
        # monotonic commit sequence (single-writer protocol, like
        # Iceberg's snapshot sequence-number): next = max committed + 1
        prior = self.committed_batches()
        seq = max((m.get("seq", -1) for m in prior), default=-1) + 1
        manifest = {"batch_id": batch_id, "seq": seq, "committed_at": time.time(), **fields}
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".{batch_id}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(self.manifest_dir, f"{batch_id}.json"))
        return manifest


def pending_documents(spark: SparkSession, raw: DataFrame, sink: SnapshotSink) -> DataFrame:
    """The rows of ``raw`` an increment must commit: documents extract()
    keeps whose doc_id no committed batch holds. A document extract()
    drops never lands in a snapshot, so it is filtered out here rather
    than counted as pending on every increment."""
    todo = raw.filter(keep_documents())
    processed = sink.processed_doc_ids(spark)
    # no broadcast hint: at 10^12 docs the processed set is huge — let
    # Catalyst/AQE choose (it broadcasts small sides automatically)
    return todo if processed is None else todo.join(processed, "doc_id", "left_anti")


def run_resumable_extract(
    spark: SparkSession,
    raw: DataFrame,
    out_path: str,
    batch_id: str | None = None,
) -> dict:
    """One resumable increment: skip already-committed doc_ids, extract
    the remainder, snapshot-commit. Safe to re-run after any crash —
    uncommitted partial output is invisible and re-done."""
    sink = SnapshotSink(out_path)
    todo = pending_documents(spark, raw, sink)
    # nothing pending: commit a manifest only, without building extract()
    if todo.select("doc_id").isEmpty():
        return sink.write_empty(batch_id)
    return sink.write_batch(extract(todo), batch_id)
