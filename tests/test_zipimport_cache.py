"""The stat-checked zipimporter cache (davar_lab_ocr_spark/_zipimport.py).

In plain Python, an archive is re-read on ``importlib.invalidate_caches()``
only when it changed on disk, and a deleted archive invalidates exactly as
the stdlib does. In a Spark worker, a task that has imported the package
re-reads no zip directory when it invalidates.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import davar_lab_ocr_spark  # noqa: F401  (installs the cache)
from davar_lab_ocr_spark.corpus import expected_df, make_raw_corpus, raw_df
from davar_lab_ocr_spark.plans.extract import extract


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, f"NAME = {name!r}\n")


@pytest.fixture
def count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(sys.version_info < (3, 12), reason="checks the 3.12+ no-op")
def test_stdlib_method_untouched_on_312():
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="stdlib is lazy from 3.12")
def test_invalidate_rereads_only_changed_archives(tmp_path, count_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["mod_a.py"])
    sys.path.insert(0, archive)
    try:
        import mod_a

        assert mod_a.NAME == "mod_a.py"
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        # First invalidation records the archive's signature; every later
        # one is a stat only, here and for pyspark's own archives.
        importlib.invalidate_caches()
        del count_reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        assert count_reads == []

        # A rewritten archive is re-read and its new module imports.
        before = os.stat(archive).st_mtime_ns
        _write_zip(archive, ["mod_a.py", "mod_b.py"])
        os.utime(archive, ns=(before + 10**9, before + 10**9))
        importlib.invalidate_caches()
        assert count_reads == [archive]
        import mod_b

        assert mod_b.NAME == "mod_b.py"

        # A deleted archive: no exception, the importer holds no files.
        os.remove(archive)
        importlib.invalidate_caches()
        assert importer._files == {}
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.path.remove(archive)
        for name in ("mod_a", "mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _worker_rereads(spark):
    """Zip-directory reads one ``importlib.invalidate_caches()`` makes in
    each task, after the task has imported the package."""

    def probe(batches):
        import importlib
        import zipimport

        import davar_lab_ocr_spark  # noqa: F401

        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for batch in batches:
            yield pa.RecordBatch.from_pydict({"reads": [len(calls)] * batch.num_rows})

    rows = spark.range(0, 4, 1, 2).mapInArrow(probe, "reads long").collect()
    return [r["reads"] for r in rows]


def _spans(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="stdlib is lazy from 3.12")
def test_worker_tasks_skip_zip_rereads(spark):
    assert _worker_rereads(spark) == [0, 0, 0, 0]
    raw_rows, expected_rows = make_raw_corpus(120, seed=7, giant_every=40, giant_size=300)
    assert _spans(extract(raw_df(spark, raw_rows))) == _spans(expected_df(spark, expected_rows))
    assert _worker_rereads(spark) == [0, 0, 0, 0]
